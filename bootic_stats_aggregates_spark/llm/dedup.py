"""Deduplication operators (SURVEY.md §2.9): exact, MinHash-LSH, SimHash,
n-gram jaccard.

The 100 TB dedup cascade, cheapest first:

1. ``llm_exact_dedup``  — hash-groupBy on the content hash: one shuffle.
2. ``llm_fingerprint``  — order/multiplicity-insensitive md5 (text.py).
3. ``llm_near_dedup``   — MinHash signatures + LSH banding: candidate pairs
   come from a band-hash shuffle join (near-linear), NEVER an O(n²) cross
   join; only candidates pay the exact-jaccard verification.
4. ``llm_ngram_jaccard`` — the brute-force verify step on its own, kept
   oracle-checked (DuckDB list fns) and used to validate the LSH recall in
   tests at small SF.
5. ``llm_simhash``      — 64-bit SimHash per doc as a single aggregate
   expression (no explode, no extra shuffle).

MinHash uses xxhash64 (not available in DuckDB) for band routing, but its
RESULT (pair, exact jaccard) is oracle-checked; SimHash uses a cross-engine
polynomial hash family so both the signatures AND the banded pairs are
exact-oracle-checked (see _HASH_P note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import lcount
from ..io import table
from ..registry import query
from .text import SHINGLE_SELECT_SQL, quality_keep_sql

#: MinHash config: 32 hashes = 16 bands x 2 rows. P(candidate | jaccard j)
#: = 1-(1-j^2)^16: j=0.5 -> 0.99, j=0.2 -> 0.48, j=0.05 -> 0.04 — high
#: recall at the 0.5 decision threshold, cheap rejection below it.
N_HASHES = 32
BAND_ROWS = 2
N_BANDS = N_HASHES // BAND_ROWS
JACCARD_THRESHOLD = 0.5


def _shingles_from(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a TOKEN-ARRAY column.

    Docs with fewer than ``n`` tokens get an EMPTY shingle set on both
    engines (ADVICE r1: without the guard, Spark's concat_ws skipped the
    out-of-range NULL tokens — a partial shingle — while the DuckDB
    oracle's ``||`` propagated NULL — an empty set; the engines disagreed
    for short docs).

    r14 (guide §1.2 per-task work): pass a MATERIALIZED token-array
    column (``F.split(text, " ")`` aliased in its own projection), not
    the split expression inline. Higher-order functions are evaluated
    interpreted, so an inline ``split`` inside the lambda body is
    re-evaluated on EVERY element_at of every gram — O(L²) token-array
    rebuilds per document; as an attribute reference it is one row-field
    read. CollapseProject keeps the boundary (the non-cheap split is
    referenced n+2 times — SPARK-36718)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(grams))


def _shingles(text_col: str = "text", n: int = 3) -> Column:
    """:func:`_shingles_from` over an INLINE ``split`` — fixture-scale
    convenience only (tests, one-shot probes): the inline split is
    re-evaluated per element in the interpreted lambda (see
    _shingles_from), so query paths use the two-projection form."""
    return _shingles_from(F.split(text_col, " "), n)


def _minhash_sig(shingle_ids: Column) -> Column:
    """Array of N_HASHES min-hashes over PRE-HASHED 64-bit shingle ids:
    sig[i] = min over ids of xxhash64(i, id).

    r14 shingle-id dictionary (VERDICT r13 task 3, guide §8 "decide with
    small rows"): the r13 form re-hashed every shingle STRING per seed —
    32 string concats + 32 full string hashes per (doc, shingle)
    occurrence, the measured compute constant of llm_near_dedup (4.1 s
    noop, the fleet's biggest honest remainder). The caller now hashes
    each shingle string ONCE into a long (``xxhash64(s)``) in its own
    projection — a materialized column, so Catalyst's CollapseProject
    keeps the single evaluation instead of inlining the non-cheap
    subtree 32x (SPARK-36718; the r12 attempt to derive the family
    inside ONE expression hit exactly that inlining and was reverted) —
    and the per-seed fold is ``xxhash64(int, long)``: two fixed-width
    values, no string walk, no allocation.

    The seed closure factory (not ``lambda h, i=i``) is the r13
    determinism lesson: PySpark binds a 2-arg lambda as a BINARY
    (element, index) lambda, which would silently stringify the index
    Column into the seed. The family here is pinned to seeds 0..31 by
    construction.

    Family note: seeding over ids is a DIFFERENT (equally uniform) hash
    family than the r13 string-prefix one, so the LSH candidate set can
    differ on borderline pairs; re-verified exact against the
    brute-jaccard oracle at sf0.001/0.01/0.1, on the planted-pair
    property corpus, and on the hostile corpus (OPTIMIZATION_r14.md).
    """

    def seeded(i: int):
        seed = F.lit(i)
        return lambda h: F.xxhash64(seed, h)

    return F.array(
        *[
            F.array_min(F.transform(shingle_ids, seeded(i)))
            for i in range(N_HASHES)
        ]
    )


@query(
    "llm_exact_dedup",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-lowest-doc_id.

    Partitioning by sha2(text) rather than the raw text keeps shuffle keys
    small and uniform (a 100 TB corpus shuffles 32-byte keys, not documents).
    The oracle partitions by raw text — same equivalence classes.

    r13 (guide §2.2): keep-lowest is a ``min_by`` AGGREGATE, not a
    row_number window. Physically it is a partial-aggregated
    SORT-AGGREGATE pair (min_by's struct buffer is not hash-agg
    mutable), but the map-side sort is by the GROUP key (the 32-byte
    sha2) and the partial combine means the exchange carries ~one row
    per distinct text per task — where the window shape shuffled EVERY
    input row and then sorted each partition. doc_id is unique, so
    min_by over it is the same deterministic keep-lowest row.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("__h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "source", "n_chars"), "doc_id"
            ).alias("m")
        )
        .select("m.doc_id", "m.lang", "m.source", "m.n_chars")
    )


#: Brute-force jaccard-pairs SQL — ground truth for BOTH the exhaustive
#: operator (llm_ngram_jaccard) and the LSH path: the LSH output is
#: xxhash64-routed but its RESULT is (pair, exact jaccard) — band recall at
#: the b/r-vs-threshold operating point makes it equal the exhaustive scan
#: (pinned independently by tests/test_properties.py::test_lsh_matches_bruteforce).
_JACCARD_PAIRS_SQL = f"""
    WITH sh AS (
      -- <3-token docs get an empty shingle set (mirrors the Spark guard)
{SHINGLE_SELECT_SQL}
    )
    SELECT
      a.doc_id AS doc_id_a,
      b.doc_id AS doc_id_b,
      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= {JACCARD_THRESHOLD}
"""


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, jaccard-verified.

    Dataflow: shingle -> 32 minhashes -> 16 band keys -> explode (16 rows
    per doc) -> shuffle-join on (band_id, band_hash) for candidates ->
    exact jaccard on the candidates only -> threshold.

    Scale: the band join groups only colliding docs; with b*r tuned to the
    threshold the candidate set is near-linear in true-duplicate count.
    The final jaccard check joins shingle sets for candidate pairs only.
    Shared builder: the registered query below AND the edge set for
    ``llm_dedup_clusters``.
    """
    return near_dup_pairs_for(table(spark, sf_dir, "documents"))


def near_dup_pairs_for(docs: DataFrame) -> DataFrame:
    """The LSH pair pipeline over ANY ``(doc_id, text)`` frame — the
    fixture-independent core of :func:`near_dup_pairs`, also driven at
    replicated-corpus scale by ``tools/neardup_scale.py``.

    Empty shingle sets (<3-token docs) are dropped BEFORE banding: they
    can never reach jaccard >= threshold (the oracle's 0/0 divides to
    NULL and is WHERE-dropped), their all-NULL minhash signatures would
    otherwise funnel every empty doc corpus-wide into ONE band bucket (a
    quadratic skew bomb at web scale), and the 0/0 verify division is a
    hard DIVIDE_BY_ZERO error under ANSI mode — found by
    tests/test_properties.py::test_near_dup_pairs_for_planted_and_guards."""
    d = (
        docs.select("doc_id", F.split("text", " ").alias("__tk"))
        .select("doc_id", _shingles_from(F.col("__tk")).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # r14 shingle-id dictionary (see _minhash_sig): hash each shingle
    # string ONCE into a 64-bit id in its own projection; the 32-seed
    # min-fold then runs over fixed-width longs.
    ids = d.select(
        "doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("shid")
    )
    sig = ids.select("doc_id", _minhash_sig(F.col("shid")).alias("sig"))
    # Band key: xxhash64 of the band's BAND_ROWS raw signature longs (r14 —
    # the string concat+cast formulation re-walked 32 stringified longs
    # per doc). Equal band rows hash equal either way, so no true
    # candidate is ever lost by this change; only hash-collision false
    # positives differ, and those are removed by the exact verify.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        *(
                            F.element_at(F.col("sig"), b * BAND_ROWS + (r + 1))
                            for r in range(BAND_ROWS)
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")

    # r13 (guide §3): SHUFFLE_MERGE hint on the self-join. Left to AQE,
    # local stats broadcast one side — which EVALUATES the whole
    # shingle->minhash->banding subtree TWICE (once into the broadcast,
    # once streamed; measured 2x the minhash cost in the before plan,
    # plans/r13/llm_near_dedup_before.txt). As a sort-merge join both
    # sides hash-partition on identical keys from an identical subplan,
    # so ReuseExchange computes the signatures ONCE. At 100 TB a
    # corpus-wide bands broadcast is impossible regardless — the
    # shuffle join is the only honest shape.
    left = bands.hint("merge").alias("a")
    right = bands.hint("merge").alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )

    sh = d
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")), "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified


@query("llm_near_dedup", oracle=_JACCARD_PAIRS_SQL)
def llm_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface for :func:`near_dup_pairs` (see its docstring)."""
    return near_dup_pairs(spark, sf_dir)


MAX_CC_ITERS = 20

#: Shared oracle for BOTH connected-components implementations (min-label
#: propagation and large-star/small-star): a doc's cluster id is the min
#: doc_id reachable from it over the near-dup pair graph (edges both
#: directions); docs with no near-dups are their own singleton cluster.
_CC_ORACLE_SQL = f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL
      SELECT doc_id_b AS a, doc_id_a AS b FROM pairs
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT
      doc_id,
      CAST(cluster_id AS BIGINT) AS cluster_id,
      doc_id = cluster_id AS is_representative
    FROM cc
    """


def _pinned_ckpt_rdd(df: DataFrame):
    """The JVM RDD pinned behind a ``localCheckpoint``-ed DataFrame (None if
    the frame is not a LogicalRDD). ``DataFrame.unpersist`` is a CacheManager
    no-op for checkpoint frames, so iterative algorithms unpersist this
    handle explicitly when a round's frame is superseded — waiting on the
    ContextCleaner would leave one |corpus|-row frame resident per round."""
    lp = df._jdf.queryExecution().logical()
    return lp.rdd() if lp.getClass().getSimpleName() == "LogicalRDD" else None


@query("llm_dedup_clusters", oracle=_CC_ORACLE_SQL)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER assignment — the actual dedup deliverable
    (keep ``is_representative``, drop the rest).

    Connected components over the verified pair graph by iterative min-label
    propagation: each round every node takes the min label among itself and
    its neighbors; converges in <= graph-diameter rounds (near-dup clusters
    are shallow — pairs share a common ancestor text — so this terminates in
    2-3 rounds here; a 100 TB corpus with adversarial chains would use the
    large-star/small-star contraction of Kiveris et al., same join shape,
    O(log n) rounds). Each round is one shuffle join + one min-aggregate;
    the driver sees only a changed-count scalar per round.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = near_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = pairs.union(
        pairs.select(F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b"))
    ).withColumnsRenamed({"doc_id_a": "src", "doc_id_b": "dst"})
    # Tiny at fixture scale and reused every iteration -> pin both sides.
    edges = edges.cache()
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).cache()
    changed = -1
    prev_ckpt = None  # JVM RDD behind the superseded localCheckpoint frame
    for it in range(MAX_CC_ITERS):
        neighbor_min = (
            labels.join(edges, labels.doc_id == edges.src)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # localCheckpoint truncates the lineage (it otherwise grows one join
        # per round — reanalysis cost and scheduler DAG size both balloon on
        # deep graphs) AND materializes the frame, superseding .cache().
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        # Superseded — don't pin one frame per iteration. `unpersist()` frees
        # the round-0 `.cache()`; for checkpointed rounds it is a CacheManager
        # no-op, so the pinned RDD behind the LogicalRDD must be dropped
        # explicitly (waiting on the ContextCleaner leaves up to
        # graph-diameter label frames resident — real memory pressure when a
        # frame is |corpus| rows). Safe: lineage truncation means the blocks
        # can't be recomputed, but nothing downstream reads a superseded round.
        labels.unpersist()
        if prev_ckpt is not None:
            prev_ckpt.unpersist(False)
        prev_ckpt = _pinned_ckpt_rdd(new_labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # silent partial propagation would hand out WRONG cluster ids
        raise RuntimeError(
            f"connected components did not converge in {MAX_CC_ITERS} rounds "
            "(graph diameter too large — switch to large-star/small-star)"
        )
    return labels.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


#: Alternating large-star/small-star converges in O(log^2 n) rounds; each
#: round is one LS + one SS pass. 16 is ample for any graph the LSH stage
#: can emit at fixture scale (and generous headroom for adversarial chains).
MAX_STAR_ROUNDS = 16


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star pass over a SYMMETRIC adjacency list (src, dst):
    every node u connects its strictly-larger neighbors to
    ``m(u) = min(N(u) + {u})``. Emits canonical (a > b) edges."""
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select("src", F.least("src", F.col("nbr_min")).alias("m"))
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """One small-star pass: every node u connects itself and its
    strictly-smaller neighbors to the smallest of them. Canonical out."""
    smaller = sym.filter(F.col("dst") < F.col("src"))
    m = smaller.groupBy("src").agg(F.min("dst").alias("m"))
    linked = (
        smaller.join(m, "src")
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        .union(m.select(F.col("src").alias("a"), F.col("m").alias("b")))
    )
    return linked.filter(F.col("a") != F.col("b")).distinct()


def cc_star_labels(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    ``docs`` is (doc_id); ``pairs`` is undirected edges (doc_id_a, doc_id_b)
    in any orientation. Returns (doc_id, cluster_id) where cluster_id is the
    component minimum — identical semantics to min-label propagation, but
    O(log^2 n) rounds instead of O(diameter): on a 100 TB corpus an
    adversarial near-dup CHAIN (template pages, boilerplate gradients) makes
    diameter — and therefore min-label round count — linear, while star
    contraction stays logarithmic. Per round: two groupBy-min + two
    equi-joins + distinct, all key-partitioned shuffles, no driver data
    motion beyond the two convergence scalars.
    """
    canon = (
        pairs.select(
            F.greatest("doc_id_a", "doc_id_b").alias("a"),
            F.least("doc_id_a", "doc_id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_ckpt = _pinned_ckpt_rdd(canon)
    converged = canon.isEmpty()
    for _ in range(MAX_STAR_ROUNDS):
        if converged:
            break
        sym = canon.union(canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
        sym = sym.withColumnsRenamed({"a": "src", "b": "dst"})
        ls = _large_star(sym)
        ls_sym = ls.union(ls.select(F.col("b").alias("a"), F.col("a").alias("b")))
        nxt = _small_star(
            ls_sym.withColumnsRenamed({"a": "src", "b": "dst"})
        ).localCheckpoint(eager=True)
        # Fixpoint test on canonical DISTINCT edge sets: equal cardinality
        # plus empty one-way difference <=> equal sets (two scalar actions).
        converged = (
            nxt.count() == canon.count()
            and nxt.exceptAll(canon).isEmpty()
        )
        if prev_ckpt is not None:
            prev_ckpt.unpersist(False)
        prev_ckpt = _pinned_ckpt_rdd(nxt)
        canon = nxt
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {MAX_STAR_ROUNDS} rounds"
        )
    # At the fixpoint the graph is a union of disjoint stars centered at
    # component minima: every non-center appears as `a` pointing at its
    # center `b`. The min-agg is belt-and-braces for the final read.
    centers = canon.groupBy(F.col("a").alias("doc_id")).agg(
        F.min("b").alias("ctr")
    )
    labels = docs.join(centers, "doc_id", "left").select(
        "doc_id", F.coalesce("ctr", F.col("doc_id")).alias("cluster_id")
    )
    # Result frames derive from the final checkpoint; it stays pinned until
    # the consumer drops the DataFrame (ContextCleaner reclaims it).
    return labels


@query("llm_cc_star", oracle=_CC_ORACLE_SQL)
def llm_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment via large-star/small-star contraction —
    the production-scale twin of :func:`llm_dedup_clusters` (same verified
    pair graph, same output contract, same oracle). Registered separately so
    both the O(diameter) and the O(log^2 n) paths stay driver-verified."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = near_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    labels = cc_star_labels(docs, pairs)
    return labels.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


@query("llm_ngram_jaccard", oracle=_JACCARD_PAIRS_SQL)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-shingle jaccard pairs via a shingle-posting equi-join
    (the LSH verify step alone, exhaustively — ground truth for
    llm_near_dedup, same oracle as r12's all-pairs form).

    r13 (guide §3.4): the all-pairs BroadcastNestedLoopJoin (n² pairs,
    each paying a full array_intersect/array_union) is replaced by the
    inverted-index identity — STILL EXACT, not approximate:
    |A∩B| = count of shingles the pair shares (one explode + equi-join
    on the shingle + per-pair count), and for the per-doc DISTINCT
    shingle sets _shingles emits, |A∪B| = |A| + |B| - |A∩B|, integer
    equality. A pair sharing ZERO shingles never leaves the join — and
    has jaccard 0 < 0.5 (JACCARD_THRESHOLD), so the oracle drops it too.
    Measured on the sf0.1 corpus: 12.5M brute pairs with array ops →
    1.3M counted candidate rows (Σ C(df,2)), noop 118 s → see
    OPTIMIZATION_r13.md; and the equi-join is the only shape that
    shuffles instead of broadcasting the corpus at 100 TB. The SAME
    division over the SAME integers feeds round(…, 6), so results are
    bit-identical to the brute form. Empty shingle sets are filtered
    before posting for the same reasons as :func:`near_dup_pairs_for`
    (0/0 is an ANSI-mode error; the oracle's NULL quietly drops the
    pair)."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select("doc_id", _shingles_from(F.col("__tk")).alias("s"))
        .filter(F.size("s") > 0)
    )
    posts = d.select(
        "doc_id", F.size("s").alias("n"), F.explode("s").alias("g")
    )
    a = posts.hint("merge").select(
        F.col("doc_id").alias("doc_id_a"), F.col("n").alias("n_a"), "g"
    )
    b = posts.hint("merge").select(
        F.col("doc_id").alias("doc_id_b"), F.col("n").alias("n_b"), "g"
    )
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("i")
    )
    return (
        inter.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
    )


#: Cross-engine token hash family for SimHash. xxhash64 exists only in Spark,
#: so the r1 simhash ops could not be oracle-checked; this seeded polynomial
#: rolling hash mod 1e9+7 computes IDENTICALLY in Spark SQL and DuckDB (both
#: stay far below 64-bit overflow, so ANSI mode never trips), and bit b of a
#: token is derived from two independent hashes via the Kirsch-Mitzenmacher
#: double-hash construction: bit_b = ((h1 + (b+1)*h2) mod p) mod 2.
#: Cost note: ~L multiply-adds per unique token (L = token length) vs one
#: xxhash64 call — still pure codegen, no shuffle; at 100 TB a production
#: deploy would swap xxhash64 back in (one-line change), trading the exact
#: oracle for speed. The banding math is hash-agnostic either way.
_HASH_P = 1_000_000_007


#: Per-token 64 KM bits packed into ONE BIGINT: bit b = ((h1 + (b+1)*h2)
#: mod p) mod 2 of the seeded polynomial rolling hashes — the SAME math as
#: before r13, just materialized as a long instead of being re-derived
#: inside the per-document vote fold. The char-code array is built once and
#: shared by the h1/h2 folds. Runs on the DISTINCT-TOKEN dictionary only
#: (see simhash_bands), so its cost is O(vocabulary), not O(corpus tokens).
_TOKEN_BITS_EXPR = f"""
    aggregate(sequence(0, 63), 0L,
      (a, b) -> a + IF(((__th.h1 + (CAST(b AS BIGINT) + 1) * __th.h2)
                        % {_HASH_P}) % 2 = 1, shiftleft(1L, b), 0L))
"""

_TOKEN_H1H2_EXPR = f"""
    named_struct(
      'h1', aggregate(__cs, 7L, (a, c) -> (a * 131 + c) % {_HASH_P}),
      'h2', aggregate(__cs, 13L, (a, c) -> (a * 137 + c) % {_HASH_P})
    )
"""


def simhash_bands(
    spark: SparkSession, sf_dir: str, family: str = "poly"
) -> DataFrame:
    """(doc_id, band_0..band_3, n_uniq) — shared by query + pair join.

    ``family="poly"`` (default, registered) is the cross-engine exact-oracle
    hash; ``family="xxhash64"`` is the production family (one xxhash64 call
    per token) with identical banding semantics.

    r13 (guide §8: decide with small rows): the signature is computed off a
    DISTINCT-TOKEN DICTIONARY instead of per (doc, token) occurrence. The
    r12 form folded every document's token array through interpreted
    higher-order lambdas — the polynomial hash, the 64-bit KM derivation and
    three 64-element array allocations ran per doc-token (22.7 s noop at
    sf0.1, the fleet's worst compute) even though the corpus vocabulary is
    tiny relative to token occurrences (31 distinct vs 116 k doc-token pairs
    at sf0.1; Zipf guarantees vocab ≪ occurrences on any real corpus). Now:

    1. explode the distinct per-doc tokens (``explode_outer`` keeps
       token-less docs → all-zero signature, matching the oracle's LEFT
       JOIN);
    2. hash each DISTINCT corpus token once into a packed 64-bit KM long
       (`_TOKEN_BITS_EXPR` — same math, same bits);
    3. join the packed bits back (vocab side is small → Spark broadcasts at
       fixture scale; at 100 TB this is the standard Zipf-skewed token
       equi-join every token op in this repo already documents, AQE
       skew-split applies);
    4. votes are 64 plain ``sum(±1)`` columns in ONE codegen hash aggregate
       with map-side partial aggregation — the exchange carries ~one 65-long
       row per doc per task, and NO interpreted lambda runs per doc-token.

    Bit-identical to the r12 fold on sf0.01 (both families) and a hostile
    multibyte/astral-plane/empty-doc corpus; measured 22.7 s → 1.2 s noop at
    sf0.1. The vote>0 band packing math is unchanged, applied to the sum
    columns."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.array_distinct(F.split("text", " ")), lambda t: F.length(t) > 0
    )
    posts = d.select("doc_id", F.explode_outer(toks).alias("t"))
    vocab = posts.select("t").where(F.col("t").isNotNull()).distinct()
    if family == "poly":
        vh = (
            vocab.select(
                "t",
                F.expr(
                    "transform(sequence(1, length(t)),"
                    " i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))"
                ).alias("__cs"),
            )
            .select("t", F.expr(_TOKEN_H1H2_EXPR).alias("__th"))
            .select("t", F.expr(_TOKEN_BITS_EXPR).alias("__bits"))
        )
    else:
        vh = vocab.select("t", F.expr("xxhash64(t)").alias("__bits"))
    joined = posts.join(vh, "t", "left")
    votes = [
        F.expr(
            f"sum(CASE WHEN t IS NULL THEN 0L"
            f" WHEN (shiftright(__bits, {b}) & 1) = 1 THEN 1L"
            f" ELSE -1L END)"
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    agg = joined.groupBy("doc_id").agg(
        *votes, F.count("t").cast("long").alias("n_uniq")
    )
    bands = [
        F.expr(
            " + ".join(
                f"IF(__v{j * 16 + k} > 0, {1 << k}L, 0L)" for k in range(16)
            )
        ).alias(f"band_{j}")
        for j in range(4)
    ]
    return agg.select("doc_id", *bands, "n_uniq")


#: DuckDB twin of the simhash signature: same rolling hash, same KM bit
#: derivation, same vote>0 packing. Shared CTE for both simhash oracles.
_SIMHASH_BANDS_SQL = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(list_distinct(string_split(text, ' ')),
                                t -> length(t) > 0)) AS t
      FROM documents
    ),
    th AS (
      SELECT doc_id,
        list_reduce([CAST(7 AS BIGINT)] ||
          [CAST(ascii(substring(t, CAST(i AS INT), 1)) AS BIGINT)
           FOR i IN range(1, length(t) + 1)],
          (a, c) -> (a * 131 + c) % {_HASH_P}) AS h1,
        list_reduce([CAST(13 AS BIGINT)] ||
          [CAST(ascii(substring(t, CAST(i AS INT), 1)) AS BIGINT)
           FOR i IN range(1, length(t) + 1)],
          (a, c) -> (a * 137 + c) % {_HASH_P}) AS h2
      FROM tok
    ),
    bits AS (
      SELECT doc_id, bb.b AS b,
        sum(CASE WHEN ((h1 + (bb.b + 1) * h2) % {_HASH_P}) % 2 = 1
                 THEN 1 ELSE -1 END) AS vote
      FROM th, (SELECT unnest(range(0, 64)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    packed AS (
      SELECT doc_id,
        COALESCE(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << CAST(b % 16 AS INT)
                          ELSE 0 END) FILTER (WHERE b // 16 = 0), 0) AS band_0,
        COALESCE(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << CAST(b % 16 AS INT)
                          ELSE 0 END) FILTER (WHERE b // 16 = 1), 0) AS band_1,
        COALESCE(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << CAST(b % 16 AS INT)
                          ELSE 0 END) FILTER (WHERE b // 16 = 2), 0) AS band_2,
        COALESCE(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << CAST(b % 16 AS INT)
                          ELSE 0 END) FILTER (WHERE b // 16 = 3), 0) AS band_3
      FROM bits GROUP BY doc_id
    ),
    sim AS (
      -- LEFT JOIN keeps token-less docs (all-zero signature), matching the
      -- Spark aggregate over an empty token array.
      SELECT d.doc_id,
             CAST(COALESCE(p.band_0, 0) AS BIGINT) AS band_0,
             CAST(COALESCE(p.band_1, 0) AS BIGINT) AS band_1,
             CAST(COALESCE(p.band_2, 0) AS BIGINT) AS band_2,
             CAST(COALESCE(p.band_3, 0) AS BIGINT) AS band_3,
             CAST(len(list_filter(list_distinct(string_split(d.text, ' ')),
                                  t -> length(t) > 0)) AS BIGINT) AS n_uniq
      FROM documents d LEFT JOIN packed p USING (doc_id)
    )
"""


@query("llm_simhash", oracle=_SIMHASH_BANDS_SQL + "SELECT * FROM sim")
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document as 4 x 16-bit band columns.

    r13 shape (see :func:`simhash_bands`): token-dictionary hashing + one
    codegen hash aggregate of 64 ``sum(±1)`` vote columns — the expensive
    cross-engine polynomial hash runs once per DISTINCT corpus token, and
    the per-doc-token work is plain aggregation with map-side partial
    combine (22.7 s → 1.2 s noop at sf0.1, bit-identical). The band framing
    (vs one 64-bit long) is what the banding join keys on anyway, avoids
    1<<63 sign traps across engines, and is exact-oracle-checked.
    """
    return simhash_bands(spark, sf_dir)


@query(
    "llm_dedup_stats",
    oracle="""
    SELECT
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
      CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dups
    FROM documents
    """,
)
def llm_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup summary (drives cascade planning)."""
    d = table(spark, sf_dir, "documents")
    return d.agg(
        lcount("n_docs"),
        F.countDistinct("text").cast("long").alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).cast("long").alias("n_exact_dups"),
    )


HAMMING_K = 3  # 4 x 16-bit bands guarantee recall for hamming <= 3


@query(
    "llm_simhash_pairs",
    oracle=_SIMHASH_BANDS_SQL
    + f"""
    -- Brute-force O(n²) hamming scan over the shared signature CTE: the
    -- oracle twin of the banded join (pigeonhole makes them equal for
    -- hamming <= {HAMMING_K}; tests/test_properties.py proves it in-engine).
    SELECT
      a.doc_id AS doc_id_a,
      b.doc_id AS doc_id_b,
      CAST(bit_count(xor(a.band_0, b.band_0)) + bit_count(xor(a.band_1, b.band_1))
         + bit_count(xor(a.band_2, b.band_2)) + bit_count(xor(a.band_3, b.band_3))
         AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.band_0, b.band_0)) + bit_count(xor(a.band_1, b.band_1))
        + bit_count(xor(a.band_2, b.band_2)) + bit_count(xor(a.band_3, b.band_3))
        <= {HAMMING_K}
    """,
)
def llm_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: banded candidates + hamming verify.

    The classic web-dedup config (Manku/Google): 64-bit simhash split into
    4 x 16-bit bands; any pair within hamming distance 3 MUST agree exactly
    on >= 1 band (pigeonhole), so a 4-way band shuffle join finds ALL such
    pairs without O(n²) — tests/test_properties.py proves equality with the
    brute-force h<=3 scan, and the DuckDB oracle recomputes the brute scan
    from raw text. Coarser than MinHash-LSH (which catches the higher-churn
    near-dups jaccard>=0.5 implies here); the cascade runs this cheap filter
    first, MinHash on the survivors.

    Scale: |bands| = 4 rows/doc; candidates per band bucket are true
    hash-collisions of 16 bits of structure — near-linear on real corpora.
    """
    sh = simhash_bands(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "band_0",
        "band_1",
        "band_2",
        "band_3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band_{b}").alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id", "band_0", "band_1", "band_2", "band_3",
        "band.band_id", "band.band_val",
    )
    # r13 (guide §3): SHUFFLE_MERGE hint — same reasoning as the
    # near_dup_pairs_for band join: a broadcast self-join evaluates the
    # expensive simhash-signature subtree twice; as a sort-merge join
    # both sides reuse ONE exchange (signatures computed once), and a
    # corpus-wide broadcast is impossible at 100 TB anyway.
    a, b = bands.hint("merge").alias("a"), bands.hint("merge").alias("b")
    hamming = sum(
        F.bit_count(
            F.col(f"a.band_{j}").bitwiseXOR(F.col(f"b.band_{j}"))
        )
        for j in range(4)
    )
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= HAMMING_K)


# -- round 2: the end-to-end training-corpus cascade -------------------------


@query(
    "llm_dedup_cascade",
    oracle=f"""
    -- The full curation pipeline in one frame: near-dup cluster
    -- representative (connected components over the verified pair graph)
    -- AND quality keep AND not benchmark-contaminated. Exactly the manifest
    -- a training run consumes.
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL
      SELECT doc_id_b AS a, doc_id_a AS b FROM pairs
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    quality AS (
      SELECT doc_id, {quality_keep_sql()} AS keep
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 7 + 1),
               i -> array_to_string(string_split(text, ' ')[i:i + 7], ' ')
             ))) AS gram
      FROM documents
      WHERE len(string_split(text, ' ')) >= 8
    ),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g
      JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0) b
        ON g.gram = b.gram
      WHERE g.doc_id % 7 <> 0
    )
    SELECT
      d.doc_id,
      cc.doc_id = cc.cluster_id AS is_representative,
      q.keep AS quality_ok,
      c.doc_id IS NULL AS decontaminated,
      (cc.doc_id = cc.cluster_id) AND q.keep AND c.doc_id IS NULL AS in_corpus
    FROM documents d
    JOIN cc USING (doc_id)
    JOIN quality q USING (doc_id)
    LEFT JOIN contaminated c USING (doc_id)
    """,
)
def llm_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation cascade — the deliverable a 100 TB training-data
    pipeline actually ships: per doc, (near-dup representative?, passes the
    quality gate?, benchmark-clean?) and the final in_corpus decision.

    Pure composition of already-verified stages (clusters, quality filter,
    contamination), joined on doc_id — each stage keeps its own scale shape
    (LSH band joins / map-only gate / broadcast gram join), and the cascade
    adds only doc_id-keyed joins on |corpus|-sized frames.
    """
    from .text import llm_contamination, llm_quality_filter

    clusters = llm_dedup_clusters(spark, sf_dir).select(
        "doc_id", "is_representative"
    )
    quality = llm_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("quality_ok")
    )
    contam = llm_contamination(spark, sf_dir).select("doc_id")
    return (
        clusters.join(quality, "doc_id")
        .join(
            contam.withColumn("dirty", F.lit(True)), "doc_id", "left"
        )
        .select(
            "doc_id",
            "is_representative",
            "quality_ok",
            F.col("dirty").isNull().alias("decontaminated"),
            (
                F.col("is_representative")
                & F.col("quality_ok")
                & F.col("dirty").isNull()
            ).alias("in_corpus"),
        )
    )


CONTAINMENT_THRESHOLD = 0.5


@query(
    "llm_ngram_containment",
    oracle=f"""
    -- ASYMMETRIC containment |A∩B|/|A|: catches doc A embedded inside a
    -- larger doc B, which symmetric jaccard dilutes below threshold.
    -- Ordered pairs (a contained-in b), brute oracle at fixture scale.
    WITH sh AS (
{SHINGLE_SELECT_SQL}
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(a.s), 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(a.s) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def llm_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT |A∩B|/|A| — the asymmetric near-dup measure
    jaccard cannot provide: a 50-token doc pasted verbatim inside a
    5000-token doc has jaccard ≈ 0.01 (invisible to llm_near_dedup's 0.5
    threshold) but containment 1.0 from the small side. Real curation
    pipelines run BOTH: jaccard for peers, containment for
    quote/excerpt/aggregation-page detection. Ordered pairs because the
    measure is directional.

    r13 (guide §3.4): same EXACT posting-equi-join rewrite as
    llm_ngram_jaccard — |A∩B| is the per-ordered-pair count of shared
    shingles (explode + equi-join on the shingle), |A| rides the posts
    as a small int, and a pair sharing zero shingles has containment
    0 < 0.5 (CONTAINMENT_THRESHOLD) so its absence from the join output
    matches the oracle's WHERE. The left side keeps the |A| > 0 guard
    (0/0 is an ANSI-mode error; the oracle's NULL quietly drops the
    pair); a right-side doc with an empty shingle set posts no rows,
    which is exactly the zero-intersection case. Same integers, same
    division, same round(…, 6) — bit-identical to the r12 all-pairs
    form, without the n² BroadcastNestedLoopJoin that cannot exist at
    100 TB."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("__tk"))
        .select("doc_id", _shingles_from(F.col("__tk")).alias("s"))
    )
    posts = d.filter(F.size("s") > 0).select(
        "doc_id", F.size("s").alias("n"), F.explode("s").alias("g")
    )
    a = posts.hint("merge").select(
        F.col("doc_id").alias("doc_id_a"), F.col("n").alias("n_a"), "g"
    )
    b = posts.hint("merge").select(F.col("doc_id").alias("doc_id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_id_a") != F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b", "n_a")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    cont = F.col("i").cast("double") / F.col("n_a")
    return (
        inter.filter(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_id_a", "doc_id_b", F.round(cont, 6).alias("containment"))
    )


#: Fuzzy-join (entity resolution) config: the normalized join key is the
#: doc's first 24 characters (whitespace squashed); pairs must share a
#: blocking key and sit within this edit distance to match.
FUZZY_KEY_LEN = 24
FUZZY_MAX_DIST = 6
FUZZY_BAND_CHARS = 64  # length-band width for the second blocking key


@query(
    "llm_fuzzy_join",
    oracle=f"""
    -- BLOCKED FUZZY SELF-JOIN (entity resolution): pairs of documents
    -- whose normalized 24-char prefix keys are within edit distance
    -- {FUZZY_MAX_DIST}, discovered ONLY inside (lang, length-band)
    -- blocks — the record-linkage pattern that replaces the O(n^2)
    -- all-pairs distance matrix. levenshtein() has identical unit-cost
    -- semantics in both engines.
    WITH k AS (
      SELECT doc_id, lang,
             -- floor() explicitly: DuckDB CAST(DOUBLE AS BIGINT) ROUNDS
             -- while Spark's cast truncates — a half-band silent skew
             CAST(floor(n_chars / {FUZZY_BAND_CHARS}) AS BIGINT) AS band,
             substr(regexp_replace(trim(text), ' +', ' ', 'g'),
                    1, {FUZZY_KEY_LEN}) AS key
      FROM documents
      WHERE length(trim(text)) > 0
    )
    SELECT a.lang,
           a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
    FROM k a JOIN k b
      ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE levenshtein(a.key, b.key) <= {FUZZY_MAX_DIST}
    """,
)
def llm_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked FUZZY JOIN — entity resolution / record linkage over noisy
    text keys, the data-cleaning shape (near-identical titles, typo'd
    URLs, OCR'd names) that exact dedup misses and MinHash over-kills.

    The scale architecture is standard ER **blocking**: candidates are
    generated ONLY within (lang, length-band) blocks via an equi-join —
    never an all-pairs cross join — and the quadratic edit-distance
    verification is paid per block, bounded by the largest block, not by
    |docs|². At 100 TB the same plan holds with sharper blocks (more key
    prefix chars, sorted-neighborhood bands, or a MinHash band on the key
    exactly like llm_near_dedup); the equi-join shuffles on the block key
    and Spark's levenshtein is a codegen'd JVM expression, so the verify
    stage never leaves the executor. The normalized key (trimmed,
    whitespace-squashed prefix) and the unit-cost levenshtein are
    bit-identical across engines, so the full pair list is exact-oracle-
    checked. Empty/whitespace-only docs (hostile fixture) are excluded
    up front: an empty key would fuzzy-match every short key in its
    block at distance ≤ its length — the ER equivalent of the NULL-band
    skew bomb. Known recall boundary (inherent to single-pass blocking):
    a pair straddling a length-band edge is not generated; production
    runs a second pass with bands offset by half a width (same plan,
    one more shuffle) or swaps the band for a MinHash band.
    """
    d = table(spark, sf_dir, "documents")
    k = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / FUZZY_BAND_CHARS).cast("long").alias("band"),
        F.substring(
            F.regexp_replace(F.trim("text"), " +", " "), 1, FUZZY_KEY_LEN
        ).alias("key"),
    )
    a = k.select(
        F.col("lang"), F.col("band"),
        F.col("doc_id").alias("doc_id_a"), F.col("key").alias("key_a"),
    )
    b = k.select(
        F.col("lang"), F.col("band"),
        F.col("doc_id").alias("doc_id_b"), F.col("key").alias("key_b"),
    )
    dist = F.levenshtein("key_a", "key_b")
    return (
        a.join(b, ["lang", "band"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(dist <= FUZZY_MAX_DIST)
        .select(
            "lang", "doc_id_a", "doc_id_b",
            dist.cast("long").alias("dist"),
        )
    )
