"""Registered queries over the MiniLog ACID table format (acid.py).

Each op stages a small MiniLog table under /tmp from the deterministic
events fixture (idempotent via a recipe-fingerprint marker), exercises
one ACID mechanic end-to-end — time travel, file-pruned MERGE,
exactly-once replay — and returns the *materialized table state read
back through the log*, so the driver's oracle compare is checking what
an independent reader of the table would actually see, not an in-plan
DataFrame. Concurrency (optimistic commit races, conflict detection,
vacuum, checkpoints) is covered by tests/test_acid.py — thread
interleavings aren't SQL-expressible.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..acid import MiniLogTable, NoSuchVersion
from ..helpers import lcount
from ..io import table
from ..layout import _interleave_sql
from ..registry import query
from ..session import tune
from ..streaming.runner import run_foreach_batch, stream_table

#: bump to invalidate previously-staged tables when a recipe changes.
_RECIPE = "minilog-ops-v4"  # v4: row-wise merge semantics (ADVICE r6)


def _day_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared base relation: exact per-(event_type, day-of-month)
    counters from the events fixture — deterministic, integer-keyed (day
    is the data-skipping stats column)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("d")
    ).agg(lcount("n"))


_COUNTERS_SQL = """
  SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
"""


def _fingerprint(sf_dir: str) -> str:
    """Recipe + source-content fingerprint: staging must invalidate when
    the EVENTS FIXTURE changes too, not only when the recipe does — a
    regenerated fixture under the same path (hostile-corpus iteration)
    otherwise serves stale staged tables against a fresh oracle (found
    by the r6 NULL-ts sweep)."""
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        sig = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        sig = "missing"
    return f"{_RECIPE}|{sig}"


def _staged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    stats_cols: tuple[str, ...] = ("d",),
    bloom_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
) -> tuple[MiniLogTable, bool]:
    """A MiniLog handle under /tmp keyed by (sf tag, op name). Returns
    (table, already_built): a marker file carrying the recipe + fixture
    fingerprint makes staging idempotent across processes and rounds, and
    any partial, stale-recipe, or stale-fixture build is torn down and
    redone."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), "bootic_minilog", tag, name)
    marker = os.path.join(root, "_READY")
    ready = False
    if os.path.exists(marker):
        with open(marker) as fh:
            ready = fh.read().strip() == _fingerprint(sf_dir)
    if not ready and os.path.exists(root):
        shutil.rmtree(root)
    return (
        MiniLogTable(
            spark, root, stats_cols=stats_cols, bloom_cols=bloom_cols,
            partition_by=partition_by,
        ),
        ready,
    )


def _mark_ready(tbl: MiniLogTable, sf_dir: str) -> None:
    with open(os.path.join(tbl.path, "_READY"), "w") as fh:
        fh.write(_fingerprint(sf_dir))


@query(
    "tx_time_travel",
    oracle=f"""
    -- snapshot isolation replayed in SQL: version 1 of the MiniLog table
    -- holds days 1-20; version 3 additionally deleted days 1-5 and
    -- appended days 21+. Immutable data files + the commit log make BOTH
    -- states readable from the same table directory.
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'v1' AS as_of, event_type, d, n FROM c WHERE d <= 20
    UNION ALL
    SELECT 'v3' AS as_of, event_type, d, n FROM c
    WHERE d BETWEEN 6 AND 20 OR d >= 21
    """,
)
def tx_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the MiniLog format: four commits (append days 1-10,
    append 11-20, delete 1-5, append 21+), then one result that reads the
    table AS OF version 1 and AS OF latest — from the same directory,
    through the same log. Data files are immutable; a snapshot is just a
    different fold of the commit log, so historical reads cost nothing
    extra (Delta Lake VLDB'20 design, re-expressed dependency-free in
    acid.py)."""
    tbl, ready = _staged(spark, sf_dir, "time_travel")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter(F.col("d") <= 10))            # v0
        tbl.append(c.filter(F.col("d").between(11, 20)))  # v1
        tbl.delete_where("d", 1, 5)                       # v2
        tbl.append(c.filter(F.col("d") >= 21))            # v3
        assert tbl.version == 3, tbl.history()
        _mark_ready(tbl, sf_dir)
    v1 = tbl.read(version=1).select(
        F.lit("v1").alias("as_of"), "event_type", "d", "n"
    )
    latest = tbl.read().select(
        F.lit("v3").alias("as_of"), "event_type", "d", "n"
    )
    return v1.unionAll(latest)


@query(
    "tx_merge_filepruned",
    oracle=f"""
    -- MERGE (last-writer-wins upsert) against the MiniLog table: matched
    -- keys take the WHOLE update row (row-wise via the u_m marker, so an
    -- update writing NULL into a non-key column wins too — ADVICE r6),
    -- unmatched base rows survive. pruned_ok asserts the WRITE-side data
    -- skipping: the table holds two files (day stats [1,15] and [16,31])
    -- and the update set (days >= 20) provably cannot match the first,
    -- so exactly one file is rewritten.
    WITH c AS ({_COUNTERS_SQL}),
    u AS (SELECT event_type, d, n + 1000 AS n, true AS u_m
          FROM c WHERE d >= 20)
    SELECT
      CASE WHEN u.u_m THEN u.event_type ELSE c.event_type END AS event_type,
      CASE WHEN u.u_m THEN u.d ELSE c.d END AS d,
      CASE WHEN u.u_m THEN u.n ELSE c.n END AS n,
      true AS pruned_ok
    FROM c FULL OUTER JOIN u
      ON c.event_type IS NOT DISTINCT FROM u.event_type
     AND c.d IS NOT DISTINCT FROM u.d
    """,
)
def tx_merge_filepruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-PRUNED MERGE: the upsert rewrites only the files whose
    min/max key stats overlap the update set's key range — the log-level
    data skipping that turns a 100 TB MERGE into a 3-file rewrite. Base =
    two single-file appends (days 1-15, 16-31); updates = days >= 20 with
    n+1000; the [1,15] file must survive untouched, and ``pruned_ok``
    carries that assertion into the oracle-checked result."""
    tbl, ready = _staged(spark, sf_dir, "merge_filepruned")
    tag = os.path.join(tbl.path, "_MERGE_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        # NULL-day groups (hostile corpora: NULL ts) ride file 1 — a bare
        # d <= 15 filter would silently drop them from the table while the
        # oracle's FULL OUTER keeps them (file stats ignore NULLs, so the
        # prune still proves file 1 untouchable and NULL rows survive)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))   # file 2: stats d=[16,31]
        updates = c.filter(F.col("d") >= 20).withColumn(
            "n", (F.col("n") + F.lit(1000)).cast("long")
        )
        info = tbl.merge(updates, keys=("event_type", "d"), prune_col="d")
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    pruned_ok = info["rewritten"] == 1 and info["kept"] == 1
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(pruned_ok)).alias("pruned_ok")
    )


@query(
    "tx_idempotent_replay",
    oracle=f"""
    -- exactly-once writes under at-least-once delivery: batch 1 is
    -- appended, REPLAYED (skipped via its txn marker), then batch 2
    -- lands and batch 1 replays again (skipped again). The final state
    -- is each batch applied exactly once — the plain counters — and
    -- exactly_once asserts the log recorded exactly two commits.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS exactly_once FROM c
    """,
)
def tx_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE sink semantics on the MiniLog format: appends carry a
    ``txn {app, version}`` marker; the log folds a high-water mark per
    app and a replayed transaction commits nothing. This is precisely the
    contract a Structured Streaming ``foreachBatch(batch_id)`` writer
    needs to be idempotent under replay — the driver-checked twin of the
    redis sinks' staged/commit protocol, on the storage side."""
    tbl, ready = _staged(spark, sf_dir, "idempotent_replay")
    if not ready:
        c = _day_counters(spark, sf_dir)
        # batch split is NULL-complete: the union of the two batches must
        # equal the oracle's unfiltered counters even when hostile NULL-ts
        # events produce a NULL-day group
        b1 = c.filter((F.col("d") <= 15) | F.col("d").isNull())
        b2 = c.filter(F.col("d") >= 16)
        tbl.append(b1, txn={"app": "loader", "version": 1})  # applied: v0
        tbl.append(b1, txn={"app": "loader", "version": 1})  # replay: skip
        tbl.append(b2, txn={"app": "loader", "version": 2})  # applied: v1
        tbl.append(b1, txn={"app": "loader", "version": 1})  # replay: skip
        _mark_ready(tbl, sf_dir)
    exactly_once = tbl.version == 1 and all(
        h["operation"] == "append" for h in tbl.history()
    )
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(exactly_once)).alias("exactly_once")
    )


@query(
    "stream_minilog_sink",
    oracle=f"""
    -- Structured Streaming -> MiniLog end to end: every micro-batch's
    -- counter deltas are appended under txn {{app: 'stream', version:
    -- batch_id}}, and each append is immediately re-issued (the
    -- crash-replay stand-in) — the replay must commit nothing. The final
    -- summed state therefore equals the batch counters exactly;
    -- exactly_once asserts the log holds one commit per distinct batch.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS exactly_once FROM c
    """,
)
def stream_minilog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB streaming-lakehouse leg: a real Structured Streaming job
    (AvailableNow over the fixture replay) lands per-batch counter deltas
    in a MiniLog table via ``foreachBatch``, with ``txn = batch_id``
    making the sink idempotent under Structured Streaming's
    at-least-once replay contract — the storage-format twin of the redis
    sinks' two-phase commit, here END TO END through a live streaming
    query instead of a simulated replay. Deltas are additive, so the
    read-back is a per-key SUM over however many micro-batches the
    source chose; correctness is micro-batch-split independent."""
    tbl, ready = _staged(spark, sf_dir, "stream_sink")
    if not ready:
        ev = stream_table(spark, sf_dir, "events")

        def land(batch_df: DataFrame, batch_id: int) -> None:
            deltas = batch_df.groupBy(
                "event_type", F.dayofmonth("ts").cast("long").alias("d")
            ).agg(lcount("n"))
            txn = {"app": "stream", "version": int(batch_id)}
            tbl.append(deltas, txn=txn)
            tbl.append(deltas, txn=txn)  # simulated replay: must no-op

        run_foreach_batch(ev, land, mode="append")
        _mark_ready(tbl, sf_dir)
    versions = [h["txn"]["version"] for h in tbl.history() if h["txn"]]
    exactly_once = (
        len(versions) == len(set(versions)) == tbl.version + 1
    )
    return (
        tbl.read()
        .groupBy("event_type", "d")
        .agg(F.sum("n").cast("long").alias("n"))
        .select(
            "event_type", "d", "n",
            F.lit(bool(exactly_once)).alias("exactly_once"),
        )
    )


@query(
    "tx_vacuum_boundary",
    oracle=f"""
    -- VACUUM with a time-travel retention boundary: the table's history
    -- is append(d<=10), append(11-20), overwrite(6-25 + NULL-d),
    -- append(d>=26); vacuum(retain_last=2) keeps versions 2-3 readable,
    -- deletes the two data files only version 0/1 referenced, and drops
    -- their log entries. The surviving latest state is the overwrite
    -- plus the last append; vacuum_ok carries the boundary assertions
    -- (retained version still reads, vacuumed version raises cleanly,
    -- exactly the 2 unreachable files deleted) into the checked result.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS vacuum_ok FROM c
    WHERE d BETWEEN 6 AND 25 OR d >= 26 OR d IS NULL
    """,
)
def tx_vacuum_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the MiniLog format (VERDICT r6 task 2): data files are
    immutable, so every historical version stays readable for free —
    until storage must be reclaimed. vacuum(retain_last=N) deletes data
    files unreachable from the last N snapshots and truncates the log
    below the retention base, shortening time travel with a CLEAN error
    (NoSuchVersion) rather than a dangling read. The in-flight-writer
    race is guarded by the mtime retention window (acid.py
    VACUUM_MIN_AGE_SECONDS, tests/test_acid.py); this op passes 0
    because it owns the table exclusively. At 100 TB vacuum is the only
    O(dead files) operation in the format — everything else folds
    metadata."""
    tbl, ready = _staged(spark, sf_dir, "vacuum_boundary")
    tag = os.path.join(tbl.path, "_VACUUM_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 10) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d").between(11, 20)))
        tbl.overwrite(
            c.filter(F.col("d").between(6, 25) | F.col("d").isNull())
        )
        tbl.append(c.filter(F.col("d") >= 26))
        removed = tbl.vacuum(retain_last=2, min_age_seconds=0)
        # boundary property: retained versions read, vacuumed raise
        retained_reads = tbl.read(version=2).count() > 0
        try:
            tbl.read(version=0)
            vacuumed_raises = False
        except NoSuchVersion:
            vacuumed_raises = True
        info = {
            "removed": len(removed),
            "retained_reads": bool(retained_reads),
            "vacuumed_raises": vacuumed_raises,
        }
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    vacuum_ok = (
        info["removed"] == 2
        and info["retained_reads"]
        and info["vacuumed_raises"]
    )
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(vacuum_ok)).alias("vacuum_ok")
    )


@query(
    "tx_optimize_compact",
    oracle=f"""
    -- OPTIMIZE (compaction): six single-file appends (a streaming
    -- sink's small-file pattern) bin-packed into ONE file by a single
    -- remove+add commit. Data is unchanged — the result is the plain
    -- counters — and compact_ok asserts the file-count drop (6 -> 1),
    -- that the pre-compaction version still time-travels (its files are
    -- not vacuumed), and that data skipping works on the fresh stats.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS compact_ok FROM c
    """,
)
def tx_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the MiniLog format (VERDICT r6 task 3) — the format-
    level answer to the small-file problem snk_compact solves for plain
    parquet: a foreachBatch sink appending one file per micro-batch
    accumulates O(batches) files, and at 100 TB the per-file listing +
    open cost dominates scans. optimize() bin-packs (first-fit
    decreasing over the log's row counts — pure metadata until the
    rewrite) and commits remove+add atomically; a reader either sees all
    small files or the compacted one, never a mix. Concurrency rides the
    existing conflict matrix: compaction racing a delete/merge that
    rewrote an input file aborts with ConcurrentModification
    (tests/test_acid.py::test_optimize_conflicts_with_concurrent_rewrite)
    — compaction never wins over a data-changing commit."""
    tbl, ready = _staged(spark, sf_dir, "optimize_compact")
    tag = os.path.join(tbl.path, "_OPT_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        slices = [
            (F.col("d") <= 5) | F.col("d").isNull(),
            F.col("d").between(6, 10),
            F.col("d").between(11, 15),
            F.col("d").between(16, 20),
            F.col("d").between(21, 25),
            F.col("d") >= 26,
        ]
        for pred in slices:
            tbl.append(c.filter(pred))
        info = tbl.optimize(target_rows=10_000_000)
        info["pre_version_rows"] = tbl.read(
            version=info["version"] - 1
        ).count()
        info["latest_rows"] = tbl.read().count()
        info["skip_works"] = len(tbl.select_files(prune=("d", 1, 5))) <= 1
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    compact_ok = (
        info["files_before"] == 6
        and info["files_after"] == 1
        and info["compacted"] == 6
        and info["pre_version_rows"] == info["latest_rows"]
        and info["skip_works"]
    )
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(compact_ok)).alias("compact_ok")
    )


@query(
    "tx_generated_columns",
    oracle=f"""
    -- GENERATED COLUMNS (the public Delta design): wk is declared
    -- GENERATED ALWAYS AS ((d - 1) div 7) before the first write; the
    -- first append OMITS it (materialized, schema self-evolves), the
    -- second PROVIDES matching values (validated), and an append with
    -- disagreeing wk values was REJECTED atomically (no version
    -- consumed — gen_ok carries that plus the live metadata and a
    -- whole-table re-validation). Visible state: both generations with
    -- the trustworthy derived week bucket.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n,
           CAST((d - 1) // 7 AS BIGINT) AS wk,
           true AS gen_ok
    FROM c
    """,
)
def tx_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS on MiniLog — derived columns the FORMAT keeps
    trustworthy (the public Delta generated-column design): ``wk =
    (d - 1) div 7`` is table metadata (a dedicated latest-wins
    ``generated`` action, same race rules as constraints); a write that
    omits wk gets it MATERIALIZED from the expression (the first such
    write self-evolves the schema — the declaration sanctioned it), a
    write that provides wk must agree on every row (null-safe, one
    aggregate job) or rejects atomically, and merge update sides follow
    the same contract. Because the stored values provably equal the
    expression, per-file min/max stats on wk give DERIVED-column file
    skipping — the reason generated columns exist at 100 TB: partition
    buckets (day -> week, ts -> date) the planner can prune on without
    trusting writers. Declaration on existing disagreeing data rejects;
    restore/clone carry the metadata (tests/test_acid.py).

    gen_ok pins: the disagreeing append raised and consumed no version,
    the live metadata is exactly the declared expression, and a
    whole-table re-validation of wk against its expression passes."""
    from ..acid import ConstraintViolation

    expr = "(d - 1) div 7"
    tbl, ready = _staged(
        spark, sf_dir, "generated_columns", stats_cols=("d", "wk")
    )
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.set_generated_column("wk", expr)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(  # generation 2 PROVIDES wk (validated on write)
            c.filter(F.col("d") >= 16).withColumn("wk", F.expr(expr))
        )
        _mark_ready(tbl, sf_dir)
    v = tbl.version
    bad = spark.createDataFrame(
        [("hack", 99, 5, 0)],
        "event_type string, d bigint, n bigint, wk bigint",
    )
    try:
        tbl.append(bad)
        rejected = False
    except ConstraintViolation:
        rejected = True
    live = tbl.read()
    try:
        tbl._apply_generated(live, tbl.snapshot().generated)
        all_valid = True
    except ConstraintViolation:
        all_valid = False
    gen_ok = (
        rejected
        and all_valid
        and tbl.version == v
        and tbl.snapshot().generated == {"wk": expr}
    )
    return live.select(
        "event_type", "d", "n", "wk", F.lit(bool(gen_ok)).alias("gen_ok")
    )


@query(
    "src_bloom_skip",
    oracle=f"""
    -- FILE-LEVEL BLOOM-INDEX POINT LOOKUP: the staged table holds three
    -- day-band files (every user appears in every band, so min/max
    -- stats on user_id could never prune) plus a sentinel band whose
    -- user ids are offset by 10,000,000 (built from the days 1-3
    -- events). The probe — sentinel id of the minimum user — lives
    -- ONLY in the sentinel file; the bloom index proves the other
    -- bands cannot contain it and the read scans a strict subset of
    -- the files (bloom_ok also pins point-read == full-scan-and-filter
    -- equality). Visible result: the probe user's per-day counts.
    WITH probe AS (SELECT min(user_id) AS u FROM events)
    SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n,
           true AS bloom_ok
    FROM events, probe
    WHERE user_id = probe.u AND date_part('day', ts) <= 3
    GROUP BY 1
    """,
)
def src_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEX FILE SKIPPING — point lookups on columns min/max
    stats can't prune: each write stamps a {BLOOM_BITS}-bit, {BLOOM_K}-hash
    bloom bitmap per (file, indexed column) into the file's stats (so it
    rides checkpoints, CDF, restore, clone and column-mapping renames
    for free), and ``read(point=(col, value))`` skips every file whose
    index PROVES the value absent — no false negatives by construction,
    ~2% false-positive scans at 1k distinct values per file. The probe
    hash is computed BY SPARK (one 1-row job), so writer and reader can
    never diverge. Files written without the index simply never skip.

    At 100 TB this is the needle-in-haystack path: a point lookup on a
    high-cardinality, non-clustered column (user id, URL hash, doc id)
    touches the ~0.1% of files that actually contain the key instead of
    scanning the table — the same role Parquet column bloom filters and
    Delta's bloom index play, here at the table-format layer where the
    planner can skip before Spark schedules anything.

    bloom_ok pins: the point read scanned a STRICT subset of the live
    files, the sentinel file survived the probe, and the point-read
    result equals the full-scan equality filter bit-for-bit."""
    tbl, ready = _staged(
        spark, sf_dir, "bloom_skip", bloom_cols=("user_id",)
    )
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.dayofmonth("ts").cast("long").alias("d")
    )
    if not ready:
        tbl.append(ev.filter(F.col("d") <= 10))
        tbl.append(ev.filter(F.col("d").between(11, 20)))
        tbl.append(ev.filter((F.col("d") >= 21) | F.col("d").isNull()))
        tbl.append(  # the sentinel band: offset ids, days 1-3 only
            ev.filter(F.col("d") <= 3).withColumn(
                "user_id", F.col("user_id") + F.lit(10_000_000)
            )
        )
        _mark_ready(tbl, sf_dir)
    probe = 10_000_000 + ev.agg(F.min("user_id")).collect()[0][0]
    pointed = tbl.read(point=("user_id", probe))
    result = pointed.groupBy("d").agg(lcount("n"))
    full = (
        tbl.read()
        .filter(F.col("user_id") == F.lit(probe))
        .groupBy("d")
        .agg(lcount("n"))
    )
    scanned = tbl.select_files(point=("user_id", probe))
    bloom_ok = (
        len(scanned) < len(tbl.select_files())
        and result.exceptAll(full).isEmpty()
        and full.exceptAll(result).isEmpty()
    )
    return result.select(
        "d", "n", F.lit(bool(bloom_ok)).alias("bloom_ok")
    )


@query(
    "tx_check_constraint",
    oracle=f"""
    -- CHECK CONSTRAINTS (the Delta invariant contract): the table
    -- carries CHECK (n >= 1 AND event_type IS NOT NULL); both appends
    -- satisfied it, a violating append (n = -5) and a non-factual
    -- ADD CONSTRAINT (n > 1e9) were both REJECTED ATOMICALLY (no
    -- version consumed, nothing staged, the constraint set unchanged —
    -- check_ok carries those assertions). The visible state is
    -- therefore exactly the two valid generations.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS check_ok
    FROM c
    """,
)
def tx_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS on MiniLog — the write-time data-quality gate
    every governed 100 TB table runs (the public Delta CHECK-constraint
    design): ``add_check_constraint`` validates ALL existing rows (a
    constraint is a table-wide invariant, not forward-only), the
    predicate rides the log as a dedicated ``constraints`` action
    (latest-wins, independent of schema metaData so a racing
    evolve-append can never drop it), and EVERY staged write path —
    append, merge, overwrite, rewrite — validates against it in one
    aggregate job before any file is staged, so a violating write
    consumes no version and leaves no orphan. A row violates when the
    predicate is not TRUE (false OR null — the strict Delta contract).
    Constraints fold from checkpoints, RESTORE rolls the set back with
    the target version, and CLONE carries it (tests/test_acid.py).

    check_ok pins: the violating append raised and landed nothing, the
    non-factual ADD CONSTRAINT raised and recorded nothing, the version
    counter did not move, and the live constraint set is exactly the
    one added during staging."""
    from ..acid import ConstraintViolation

    expr = "n >= 1 AND event_type IS NOT NULL"
    tbl, ready = _staged(spark, sf_dir, "check_constraint")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.add_check_constraint("n_pos", expr)
        tbl.append(c.filter(F.col("d") >= 16))  # gated, passes
        _mark_ready(tbl, sf_dir)
    v = tbl.version
    bad = spark.createDataFrame(
        [("hack", 99, -5)], "event_type string, d bigint, n bigint"
    )
    try:
        tbl.append(bad)
        write_rejected = False
    except ConstraintViolation:
        write_rejected = True
    try:
        tbl.add_check_constraint("impossible", "n > 1000000000")
        add_rejected = False
    except ConstraintViolation:
        add_rejected = True
    check_ok = (
        write_rejected
        and add_rejected
        and tbl.version == v
        and tbl.snapshot().constraints == {"n_pos": expr}
    )
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(check_ok)).alias("check_ok")
    )


@query(
    "tx_schema_evolve",
    oracle=f"""
    -- SCHEMA EVOLUTION in the commit log: generation 1 (days <= 15 and
    -- NULL-day) wrote (event_type, d, n); generation 2 (days >= 16)
    -- added n2 = n*2 via a metaData action. Reading the two-generation
    -- table null-fills n2 for gen-1 files; evolve_ok asserts the log
    -- schema is the widened one AND that time travel to v0 still
    -- presents the ORIGINAL narrow schema.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n,
           CASE WHEN d >= 16 THEN CAST(n * 2 AS BIGINT) END AS n2,
           true AS evolve_ok
    FROM c
    """,
)
def tx_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution on the MiniLog format (VERDICT r6
    task 4): the table schema lives in the log as a metaData action (the
    src_schema_evolution read semantics, moved INTO the format), so an
    evolving streaming sink can widen the table without rewriting old
    files — readers union the physical parquet schemas (mergeSchema) and
    project through the LOG schema, null-filling columns a
    pre-evolution file lacks. Versioned like everything else: time
    travel to a pre-evolution version folds the OLD metaData and
    presents the narrow schema. Type changes are rejected
    (SchemaMismatch), new columns require an explicit
    evolve_schema=True — Delta's public mergeSchema contract."""
    tbl, ready = _staged(spark, sf_dir, "schema_evolve")
    tag = os.path.join(tbl.path, "_EVOLVE_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        gen2 = c.filter(F.col("d") >= 16).withColumn(
            "n2", (F.col("n") * 2).cast("long")
        )
        gen2_rejected = False
        try:
            tbl.append(gen2)  # without evolve_schema: must refuse
        except Exception:
            gen2_rejected = True
        tbl.append(gen2, evolve_schema=True)
        info = {
            "gen2_rejected": gen2_rejected,
            "log_schema": [col["name"] for col in tbl.snapshot().schema],
            "v0_schema": tbl.read(version=0).columns,
        }
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    evolve_ok = (
        info["gen2_rejected"]
        and info["log_schema"] == ["event_type", "d", "n", "n2"]
        and info["v0_schema"] == ["event_type", "d", "n"]
    )
    return tbl.read().select(
        "event_type", "d", "n", "n2",
        F.lit(bool(evolve_ok)).alias("evolve_ok"),
    )


@query(
    "tx_zorder_pruned",
    oracle=f"""
    -- Z-ORDERED MiniLog table: per-(user bucket, hour bucket) counters
    -- written in Morton-curve order across 32 range files, so the log's
    -- per-file min/max stats are tight on BOTH dimensions and the 2-D
    -- box predicate (xb, yb both in [0, 31]) prunes most files before
    -- Spark opens them. pruned_ok asserts files_scanned <= half of
    -- files_total via select_files() — the layout_zorder geometry
    -- carried into the table format's skipping index.
    WITH coords AS (
      SELECT user_id % 256 AS xb,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 256 AS yb
      FROM events
    )
    SELECT CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb,
           CAST(count(*) AS BIGINT) AS n, true AS pruned_ok
    FROM coords
    WHERE xb BETWEEN 0 AND 31 AND yb BETWEEN 0 AND 31
    GROUP BY 1, 2
    """,
)
def tx_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER composed with the format (VERDICT r6 task 6):
    layout_zorder proves the Morton-tile geometry on plain parquet and
    MiniLog proves stats-based skipping — this op composes them. The
    write path interleaves (user bucket, hour bucket) bits into one z
    key, repartitionByRange(32, z) + sortWithinPartitions(z) so each of
    the 32 files covers a narrow z range (= a small rectangle in BOTH
    dimensions), and appends with stats_cols=(xb, yb) so the log carries
    a tight 2-D bounding box per file. The read side then evaluates the
    2-D box predicate against the log stats (read(prune=[(xb…),(yb…)]))
    and scans the surviving files only — select_files() asserts scanned
    <= total/2 deterministically (every file whose z range lies wholly
    above 2^11 has x >= 64 or y >= 32 in ALL rows, so most of z space is
    provably outside the box). At 100 TB this is OPTIMIZE ZORDER BY
    (user, hour): point-in-box dashboards touch O(box) files instead of
    O(table)."""
    tune(spark)
    tbl, ready = _staged(
        spark, sf_dir, "zorder_pruned", stats_cols=("xb", "yb")
    )
    tag = os.path.join(tbl.path, "_ZORDER_INFO")
    if not ready:
        ev = table(spark, sf_dir, "events")
        g = (
            ev.select(
                (F.col("user_id") % 256).cast("long").alias("xb"),
                (
                    F.floor(F.col("ts").cast("double") / 3600).cast("long")
                    % 256
                ).alias("yb"),
            )
            .groupBy("xb", "yb")
            .agg(lcount("n"))
        )
        z = g.withColumn(
            "z", F.expr(_interleave_sql("xb", "yb", 8))
        )
        zordered = (
            z.repartitionByRange(32, "z")
            .sortWithinPartitions("z")
            .select("xb", "yb", "n")
        )
        tbl.append(zordered, target_files=None)
        box = [("xb", 0, 31), ("yb", 0, 31)]
        info = {
            "files_total": len(tbl.select_files()),
            "files_scanned": len(tbl.select_files(prune=box)),
        }
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    pruned_ok = (
        info["files_total"] >= 8
        and info["files_scanned"] * 2 <= info["files_total"]
    )
    return tbl.read(prune=[("xb", 0, 31), ("yb", 0, 31)]).select(
        "xb", "yb", "n", F.lit(bool(pruned_ok)).alias("pruned_ok")
    )


@query(
    "tx_change_feed",
    oracle=f"""
    -- CHANGE DATA FEED between v1 and latest, replayed in SQL: after
    -- two appends (days <= 15 + NULL-day, days >= 16), a MERGE bumped
    -- n by 500 for days >= 25 (delete old row + insert new row in the
    -- feed) and a DELETE removed days 1-3 (delete rows). Rows the
    -- rewrites copied unchanged (days 4-24, NULL-day) cancel in the
    -- file-diff bag difference and never appear.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, CAST(n + 500 AS BIGINT) AS n,
           'insert' AS change FROM c WHERE d >= 25
    UNION ALL
    SELECT event_type, d, n, 'delete' AS change FROM c WHERE d >= 25
    UNION ALL
    SELECT event_type, d, n, 'delete' AS change FROM c
    WHERE d BETWEEN 1 AND 3
    """,
)
def tx_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED on the MiniLog format (the Delta CDF read
    surface, derived by file-diffing — acid.py changes()): an
    incremental consumer asks "what changed between version A and B"
    and gets row-level inserts/deletes, paying O(churned files), never
    O(table). Updates surface as delete(old)+insert(new) of the same
    key; rows a rewrite copied unchanged cancel in the EXCEPT ALL bag
    difference. This is the op that turns the table format into a
    pipeline SOURCE: downstream jobs (index refresh, cache invalidation,
    the reference daemon's own counter deltas) consume the feed instead
    of re-scanning the table."""
    tbl, ready = _staged(spark, sf_dir, "change_feed")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))               # v1
        updates = c.filter(F.col("d") >= 25).withColumn(
            "n", (F.col("n") + F.lit(500)).cast("long")
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")  # v2
        tbl.delete_where("d", 1, 3)                          # v3
        _mark_ready(tbl, sf_dir)
    return tbl.changes(1, 3).select(
        "event_type", "d", "n", F.col("_change_type").alias("change")
    )


@query(
    "tx_row_tracking",
    oracle=f"""
    -- ROW TRACKING (the public Delta row-tracking design): the feed
    -- across the MERGE commit, keyed by STABLE row ids. Updates (days
    -- 10-15, n += 1000) arrive as LINKED update_preimage/postimage
    -- pairs sharing one row id — not anonymous delete+insert — the
    -- new key arrives as an insert, and rows the merge rewrite copied
    -- unchanged cancel (same id, same values). link_ok pins the
    -- pre<->post id bijection; stable_ok pins that every postimage/
    -- insert id is STILL that row's id after a later OPTIMIZE
    -- compacted the table (rewrites materialize ids, never mint).
    WITH c AS ({_COUNTERS_SQL}),
    upd AS (SELECT event_type, d, n FROM c WHERE d BETWEEN 10 AND 15)
    SELECT event_type, d, n, 'update_preimage' AS change,
           true AS link_ok, true AS stable_ok FROM upd
    UNION ALL
    SELECT event_type, d, CAST(n + 1000 AS BIGINT) AS n,
           'update_postimage' AS change, true, true FROM upd
    UNION ALL
    SELECT 'synthetic', CAST(101 AS BIGINT), CAST(4242 AS BIGINT),
           'insert', true, true
    """,
)
def tx_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING on MiniLog (VERDICT r8 task 1; the public Delta
    row-tracking design): every add action reserves an id range
    [base_row_id, base+rows) assigned race-safely at COMMIT time, a
    row's default id is base + its parquet position, and REWRITES
    (optimize / zorder / merge / delete) materialize surviving ids
    into a hidden ``__row_id`` column — so an id follows its row for
    the table's whole life. ``changes_with_ids`` turns that identity
    into an UPDATE-LINKED change feed: a keyed (non-additive)
    incremental consumer — SCD maintenance, a downstream join state —
    distinguishes "row 17 changed" from "a row died and another was
    born" without guessing by business key.

    Staged history: two appends (days <=7; 8-15 + NULL-day), one MERGE
    (days 10-15 bumped by 1000 + one brand-new key), one OPTIMIZE
    (compacts both files — and must NOT mint ids). The returned rows
    are the id-keyed feed across the merge commit; link_ok asserts the
    pre/post pairing is a bijection on (key, row id), stable_ok
    asserts the post-merge ids survived the compaction bit-for-bit.

    100 TB story: id assignment is O(1) metadata per file at commit;
    the id read is the normal vectorized scan plus one broadcast of an
    O(#files) (file, base) frame; the feed reads only the two
    snapshots' differing files and joins O(churn) rows on a unique
    key. Nothing row-scaled ever touches the driver."""
    tbl, ready = _staged(spark, sf_dir, "row_tracking")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter(F.col("d") <= 7))                      # v0
        tbl.append(
            c.filter(F.col("d").between(8, 15) | F.col("d").isNull())
        )                                                          # v1
        updates = (
            c.filter(F.col("d").between(10, 15))
            .withColumn("n", (F.col("n") + F.lit(1000)).cast("long"))
            .unionByName(
                spark.createDataFrame(
                    [("synthetic", 101, 4242)],
                    "event_type string, d bigint, n bigint",
                )
            )
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")  # v2
        tbl.optimize(target_rows=10_000_000)                         # v3
        _mark_ready(tbl, sf_dir)
    feed = tbl.changes_with_ids(1, 2)
    key = ["event_type", "d", "_row_id"]
    pre = feed.filter(F.col("_change_type") == "update_preimage").select(*key)
    post = feed.filter(F.col("_change_type") == "update_postimage").select(*key)
    n_pre, n_post = pre.count(), post.count()
    link_ok = (
        n_pre > 0
        and n_pre == n_post
        and pre.join(post, key).count() == n_pre
    )
    # ids of the feed's surviving images must still be live after the
    # OPTIMIZE — the rewrite-stability contract
    survivors = feed.filter(
        F.col("_change_type").isin("update_postimage", "insert")
    ).select(*key)
    cur = tbl.read_with_row_ids().select(*key)
    stable_ok = survivors.join(cur, key).count() == survivors.count()
    return feed.select(
        "event_type",
        "d",
        "n",
        F.col("_change_type").alias("change"),
        F.lit(bool(link_ok)).alias("link_ok"),
        F.lit(bool(stable_ok)).alias("stable_ok"),
    )


@query(
    "tx_partitioned_table",
    oracle=f"""
    -- HIVE-PARTITIONED MiniLog table (the Delta partition-column
    -- design): counters partitioned by event_type, two files per
    -- partition (d<=15 / d>15 appends). The Spark side reads ONE
    -- partition's 5..10 day slice and proves, on the selected-file
    -- list, that directory-level pruning kept exactly the predicate's
    -- partition (2 of 10 files) and the min/max stats pruned the
    -- non-overlapping half within it (1 of 2) — the composed
    -- partition+stats skip a 100 TB scan lives on.
    WITH c AS ({_COUNTERS_SQL}),
    e AS (SELECT min(event_type) AS et FROM events)
    SELECT c.event_type, c.d, c.n,
           true AS part_pruned_ok, true AS stats_pruned_ok
    FROM c, e WHERE c.event_type = e.et AND c.d BETWEEN 5 AND 10
    """,
)
def tx_partitioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED LAYOUT in the table format (VERDICT r8 task 2):
    partition columns are fixed at table creation via a latest-wins
    ``partitions`` log action; every data file lives under hive-style
    ``col=value/`` directories, carries its exact partition values in
    its add action (authoritative pruning metadata, checked AHEAD of
    min/max stats), and does not store the column's bytes — reads
    re-attach it from the log. OPTIMIZE bins never mix partitions and
    a ``where`` predicate scopes maintenance to matching partitions.

    This query stages event_type-partitioned day counters (two appends
    split at d=15, one file per partition each) and returns one
    partition's d 5..10 slice with two proven-on-the-file-list flags:
    ``part_pruned_ok`` (the event_type predicate selected exactly that
    partition's 2 files out of 10) and ``stats_pruned_ok`` (the d
    range then dropped the d>15 file, leaving 1).

    100 TB story: partition pruning is O(#files) driver-side metadata
    — no data IO at all for non-matching partitions — and composes
    with stats/bloom skipping for the residual; per-partition OPTIMIZE
    scope means maintenance parallelizes and never contends with
    writes to other partitions."""
    tbl, ready = _staged(
        spark, sf_dir, "partitioned_table",
        partition_by=("event_type",),
    )
    if not ready:
        c = _day_counters(spark, sf_dir).coalesce(1)
        tbl.append(c.filter(F.col("d") <= 15))                       # v0
        tbl.append(c.filter((F.col("d") > 15) | F.col("d").isNull()))  # v1
        _mark_ready(tbl, sf_dir)
    et = _day_counters(spark, sf_dir).agg(
        F.min("event_type")
    ).collect()[0][0]
    snap = tbl.snapshot()
    part = tbl._select_entries(snap, [("event_type", et, et)])
    part_ok = (
        len(part) == 2
        and len(snap.files) == 2 * 5  # 5 event types, 2 files each
        and all(e.partition.get("event_type") == et for e in part)
    )
    resid = tbl._select_entries(
        snap, [("event_type", et, et), ("d", 5, 10)]
    )
    stats_ok = len(resid) == 1 and resid[0] in part
    return tbl.read(
        prune=[("event_type", et, et), ("d", 5, 10)]
    ).select(
        "event_type",
        "d",
        "n",
        F.lit(bool(part_ok)).alias("part_pruned_ok"),
        F.lit(bool(stats_ok)).alias("stats_pruned_ok"),
    )


@query(
    "tx_optimize_zorder",
    oracle=f"""
    -- OPTIMIZE ZORDER on an EXISTING badly-laid-out table: the
    -- (user-bucket, hour-bucket) counters were appended in four
    -- event-type slices, so every file spans the full (xb, yb) grid
    -- and a 2-D box predicate must scan ALL files. optimize_zorder
    -- rewrites the whole table Morton-clustered in one atomic commit;
    -- afterwards the same box touches <= half the files. Data is
    -- unchanged — the result is the box's rows — and zorder_ok carries
    -- the before==all / after<=half scan-count assertions.
    WITH coords AS (
      SELECT event_type, user_id % 256 AS xb,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 256 AS yb
      FROM events
    )
    SELECT CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb,
           CAST(count(*) AS BIGINT) AS n, true AS zorder_ok
    FROM coords
    WHERE xb BETWEEN 0 AND 31 AND yb BETWEEN 0 AND 31
    GROUP BY 1, 2
    """,
)
def tx_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY as a TABLE MAINTENANCE op (acid.py
    optimize_zorder): tx_zorder_pruned proves the clustered-write read
    path, but a real 100 TB table was usually written in arrival order
    — every file spans the whole key grid and box predicates scan
    O(table). This op stages exactly that pathology (four appends
    sliced by event_type, each covering the full (xb, yb) range, so the
    box predicate prunes NOTHING), then runs the in-place re-cluster:
    full-table Morton rewrite, one atomic remove+add commit, bucket
    bounds taken from the log's own file stats (the planning step is
    pure metadata). The zorder_ok flag pins the before/after
    select_files() counts — before == every file scanned, after <= half
    — which is the entire point of the operation."""
    tune(spark)
    tbl, ready = _staged(
        spark, sf_dir, "optimize_zorder", stats_cols=("xb", "yb")
    )
    tag = os.path.join(tbl.path, "_OZ_INFO")
    if not ready:
        ev = table(spark, sf_dir, "events")
        g = (
            ev.select(
                "event_type",
                (F.col("user_id") % 256).cast("long").alias("xb"),
                (
                    F.floor(F.col("ts").cast("double") / 3600).cast("long")
                    % 256
                ).alias("yb"),
            )
            .groupBy("event_type", "xb", "yb")
            .agg(lcount("n"))
        )
        # arrival-order pathology: each slice covers the FULL grid
        etypes = [r["event_type"] for r in g.select("event_type").distinct().collect()]
        for et in sorted(etypes):
            tbl.append(
                g.filter(F.col("event_type") == et).select("xb", "yb", "n"),
                target_files=1,
            )
        box = [("xb", 0, 31), ("yb", 0, 31)]
        before_total = len(tbl.select_files())
        before_scanned = len(tbl.select_files(prune=box))
        info = tbl.optimize_zorder(("xb", "yb"), target_files=32)
        after_total = len(tbl.select_files())
        after_scanned = len(tbl.select_files(prune=box))
        info.update(
            before_total=before_total,
            before_scanned=before_scanned,
            after_total=after_total,
            after_scanned=after_scanned,
        )
        with open(tag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        info = json.load(fh)
    zorder_ok = (
        info["before_scanned"] == info["before_total"] >= 3
        and info["after_scanned"] * 2 <= info["after_total"]
    )
    return (
        tbl.read(prune=[("xb", 0, 31), ("yb", 0, 31)])
        .groupBy("xb", "yb")
        .agg(F.sum("n").cast("long").alias("n"))
        .select(
            "xb", "yb", "n", F.lit(bool(zorder_ok)).alias("zorder_ok")
        )
    )


@query(
    "tx_cdf_replay",
    oracle=f"""
    -- the CHANGE-FEED COMPLETENESS invariant: folding changes(v-1, v)
    -- over the table's whole history (insert rows added, delete rows
    -- bag-removed, per version in order) must reconstruct the live
    -- table exactly. The history here is append / append / merge
    -- (days >= 25: n+500) / delete (days 1-3), so the reconstructed —
    -- and therefore the directly-read — state is the merged view minus
    -- the deleted days; replay_ok carries the reconstruction==read
    -- equality into the checked result.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CASE WHEN d >= 25 THEN CAST(n + 500 AS BIGINT) ELSE n END AS n,
           true AS replay_ok
    FROM c
    WHERE (d NOT BETWEEN 1 AND 3) OR d IS NULL
    """,
)
def tx_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF REPLAY = TABLE: the invariant that makes a change feed
    trustworthy as a pipeline source — no change is ever lost or
    duplicated, so a consumer that folds every version's feed
    (state := state EXCEPT ALL deletes(v) UNION ALL inserts(v))
    reconstructs the table it never scanned. Exercised over the full
    commit history including the v=-1 bootstrap feed (everything is an
    insert) and verified two ways: the reconstruction is what this op
    RETURNS (checked against the SQL replay of the same history by the
    driver), and replay_ok pins reconstruction == direct snapshot read
    inside Spark. An incremental consumer of a 100 TB table runs
    exactly this fold, one O(churn) feed at a time."""
    tbl, ready = _staged(spark, sf_dir, "cdf_replay")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        updates = c.filter(F.col("d") >= 25).withColumn(
            "n", (F.col("n") + F.lit(500)).cast("long")
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")
        tbl.delete_where("d", 1, 3)
        _mark_ready(tbl, sf_dir)
    state = None
    for v in range(tbl.version + 1):
        feed = tbl.changes(v - 1, v)
        ins = feed.filter(F.col("_change_type") == "insert").drop(
            "_change_type"
        )
        dels = feed.filter(F.col("_change_type") == "delete").drop(
            "_change_type"
        )
        state = ins if state is None else state.exceptAll(dels).unionAll(ins)
    direct = tbl.read()
    replay_ok = (
        state.exceptAll(direct).isEmpty()
        and direct.exceptAll(state).isEmpty()
    )
    return state.select(
        "event_type", "d", "n", F.lit(bool(replay_ok)).alias("replay_ok")
    )


@query(
    "tx_mview_incremental",
    oracle=f"""
    -- INCREMENTAL VIEW MAINTENANCE from the change feed: the
    -- materialized per-event_type SUM(n) is maintained purely from
    -- changes(v-1, v) deltas (+insert, -delete) across the history
    -- append / append / merge (days >= 25: n+500) / delete (days 1-3)
    -- — the view never scans the table. The maintained view must equal
    -- the direct recompute of the final state, which is what this SQL
    -- expresses; mview_ok carries the Spark-side equality assertion.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type,
           CAST(SUM(CASE WHEN d >= 25 THEN n + 500 ELSE n END)
                AS BIGINT) AS total,
           true AS mview_ok
    FROM c
    WHERE (d NOT BETWEEN 1 AND 3) OR d IS NULL
    GROUP BY 1
    """,
)
def tx_mview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the reference
    daemon's entire reason to exist (constant-time incremental updates
    of aggregate counters as events arrive), re-expressed on the
    lakehouse leg: a per-event_type SUM(n) view is maintained from the
    MiniLog CHANGE FEED alone. Every commit's changes(v-1, v) rows are
    tagged +1 (insert) / -1 (delete) and the view is the single hash
    aggregate SUM(sign * n) over the union of all feeds — updates
    (delete old + insert new) contribute their net delta, deletes
    subtract, and the view NEVER rescans the table. At 100 TB this is
    the O(churn-per-commit) refresh loop every downstream dashboard
    aggregate runs instead of an O(table) recompute; the whole fold is
    one declarative plan (no driver-side accumulation). mview_ok pins
    maintained == direct-recompute inside Spark, and the driver checks
    the maintained view against the SQL replay of the same history."""
    tbl, ready = _staged(spark, sf_dir, "mview_incremental")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        updates = c.filter(F.col("d") >= 25).withColumn(
            "n", (F.col("n") + F.lit(500)).cast("long")
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")
        tbl.delete_where("d", 1, 3)
        _mark_ready(tbl, sf_dir)
    signed = None
    for v in range(tbl.version + 1):
        feed = tbl.changes(v - 1, v).withColumn(
            "sign",
            F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        signed = feed if signed is None else signed.unionAll(feed)
    mview = signed.groupBy("event_type").agg(
        F.sum(F.col("sign") * F.col("n")).cast("long").alias("total")
    )
    direct = (
        tbl.read()
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("total"))
    )
    mview_ok = (
        mview.exceptAll(direct).isEmpty()
        and direct.exceptAll(mview).isEmpty()
    )
    return mview.select(
        "event_type", "total", F.lit(bool(mview_ok)).alias("mview_ok")
    )


@query(
    "stream_mview_cdf",
    oracle=f"""
    -- ALWAYS-ON INCREMENTAL VIEW MAINTENANCE: the per-event_type
    -- SUM(n) view is kept current by a STREAMING job tailing the
    -- source table's change feed (readChangeFeed) through foreachBatch
    -- — each micro-batch folds its net per-key delta into the MiniLog
    -- view table, exactly-once via txn=(app, batchId). The
    -- maintained view must equal the direct recompute over the source
    -- history append / append / merge (days >= 25: n+500) / DV-delete
    -- (days 1-3); stream_ok carries maintained == recompute and the
    -- O(churn) evidence.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type,
           CAST(SUM(CASE WHEN d >= 25 THEN n + 500 ELSE n END)
                AS BIGINT) AS total,
           true AS stream_ok
    FROM c
    WHERE (d NOT BETWEEN 1 AND 3) OR d IS NULL
    GROUP BY 1
    """,
)
def stream_mview_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE DAEMON AS AN ALWAYS-ON LAKEHOUSE JOB — the round's
    streaming capstone for the counter surface: tx_mview_incremental's
    per-event_type SUM(n) materialized view, maintained not by a batch
    fold but by a STRUCTURED STREAMING job tailing the source table's
    change-data feed (the stream_cdf_feed source) through foreachBatch.
    Each micro-batch reduces its feed rows to a net per-key delta
    (+insert / -delete — an update contributes its net), folds it into
    the one-row-per-key view state, and overwrites the MiniLog view
    table with txn=(app, batchId) so a replayed micro-batch commits
    nothing twice. The source history spans an append, an append,
    a MERGE (days >= 25: n+500) and a DELETION-VECTOR delete (days
    1-3) — the commit kinds a naive tail cannot survive; the CDF feed
    delivers each as row-level deltas and the view follows at O(churn)
    per trigger, never O(table). stream_ok pins maintained ==
    direct-recompute of the final source state (both exceptAll
    directions) plus the view table's own exactly-once txn marker."""
    tbl, ready = _staged(spark, sf_dir, "mview_cdf_src")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        updates = c.filter(F.col("d") >= 25).withColumn(
            "n", (F.col("n") + F.lit(500)).cast("long")
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")
        tbl.delete_where_dv("d", 1, 3)
        _mark_ready(tbl, sf_dir)
    from ..sources.minilog_source import register
    from ..streaming.runner import run_foreach_batch

    register(spark)
    root = os.path.dirname(tbl.path)
    vroot = os.path.join(root, "mview_cdf_view")
    marker = os.path.join(root, "_READY_MVIEW")
    ready_v = False
    if os.path.exists(marker):
        with open(marker) as fh:
            ready_v = fh.read().strip() == _fingerprint(sf_dir)
    view = MiniLogTable(spark, vroot, stats_cols=("event_type",))
    # the marker lives OUTSIDE the view dir, so a partial teardown can
    # leave marker-without-table: trust it only if the table exists
    # (r12: a root-level cleanup that removed directories but not files
    # produced exactly that state — NoSuchVersion on read)
    if ready_v and view.version < 0:
        ready_v = False
    if not ready_v:
        if os.path.exists(vroot):
            shutil.rmtree(vroot)
            view = MiniLogTable(spark, vroot, stats_cols=("event_type",))
        view.append(  # empty v0 so merge has a base schema
            spark.createDataFrame([], "event_type string, total bigint")
        )

        def fold(bdf: DataFrame, bid: int) -> None:
            sign = F.when(
                F.col("_change_type") == "insert", F.lit(1)
            ).otherwise(F.lit(-1))
            delta = (
                bdf.groupBy("event_type")
                .agg(F.sum(sign * F.col("n")).alias("delta"))
                .filter(F.col("delta") != 0)
            )
            if delta.isEmpty():
                return
            merged = (
                view.read()
                .join(delta, "event_type", "full")
                .select(
                    "event_type",
                    (
                        F.coalesce(F.col("total"), F.lit(0))
                        + F.coalesce(F.col("delta"), F.lit(0))
                    ).cast("long").alias("total"),
                )
            )
            # overwrite keyed state: the view IS the aggregate — tiny
            # (one row per event_type), rewritten per trigger like the
            # reference daemon's Redis hash; txn=(app, batchId) makes a
            # replayed micro-batch's overwrite a no-op (exactly-once)
            view.overwrite(
                merged, txn={"app": "mview_cdf", "version": int(bid)}
            )

        run_foreach_batch(
            spark.readStream.format("minilog")
            .option("readChangeFeed", "true")
            .load(tbl.path),
            fold,
            mode="append",
        )
        with open(marker, "w") as fh:
            fh.write(_fingerprint(sf_dir))
    maintained = view.read().filter(F.col("total") != 0)
    direct = (
        tbl.read()
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("total"))
    )
    stream_ok = (
        maintained.exceptAll(direct).isEmpty()
        and direct.exceptAll(maintained).isEmpty()
        and view.snapshot().txns.get("mview_cdf", -1) >= 0
    )
    return maintained.select(
        "event_type", "total", F.lit(bool(stream_ok)).alias("stream_ok")
    )


@query(
    "stream_mview_windowed",
    oracle="""
    -- EVENT-TIME WINDOWED streaming mview (VERDICT r12 task 7): the
    -- per-(hour-window, event_type) counter view over a MiniLog
    -- table, maintained from its CDF stream at O(churn) per trigger.
    -- The source history replays as four commit-granular micro-
    -- batches: on-time days 11-20, days >= 21, then the day <= 10
    -- STRAGGLERS (by then the mirrored event-time watermark stands
    -- ~10 days past them, so they dead-letter instead of mutating
    -- long-finalized windows), then a DV delete of days 15-16 whose
    -- retraction rows decrement their windows to zero. Batch truth:
    -- hour counters over days >= 11 excluding 15-16; mview_ok pins
    -- maintained == direct-minus-deadletter, deadletter == exactly
    -- the day <= 10 rows, and the exactly-once txn markers.
    SELECT event_type,
           date_trunc('hour', ts) AS h,
           CAST(count(*) AS BIGINT) AS n,
           true AS mview_ok
    FROM events
    WHERE CAST(date_part('day', ts) AS BIGINT) >= 11
      AND CAST(date_part('day', ts) AS BIGINT) NOT IN (15, 16)
    GROUP BY 1, 2
    """,
)
def stream_mview_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME WINDOWED streaming materialized view with LATE-DATA
    DEAD-LETTERING (VERDICT r12 task 7) — stream_mview_cdf's keyed
    counter view upgraded to event-time windows, composed with
    stream_late_deadletter's late-row machinery:

    - the view is per (hour window, event_type) COUNT over a MiniLog
      source, maintained by a foreachBatch fold of the table's CDF
      stream (``readChangeFeed`` + ``withWatermark(ts, 1 hour)``,
      commit-granular admission via maxFilesPerTrigger=1, sequential
      AvailableNow runs on ONE checkpoint — the deterministic Python-
      source drain from stream_minilog_ratelimit);
    - LATE insert rows — event time below the mirrored two-watermark
      boundary (max event time through batch k-2, minus the delay:
      the same previous-batch-watermark mechanics measured and
      documented in stream_late_deadletter; the driver mirror exists
      because the stateful operator has no side output for its drops)
      — are DEAD-LETTERED into a MiniLog quarantine table instead of
      mutating long-finalized windows;
    - DELETE rows (the DV-delete commit's retractions) apply
      UNCONDITIONALLY: they are corrections from the table's own
      history, not new observations — event-time admission governs
      the insert stream only, and the watermark mirror advances on
      observed insert times alone;
    - both sinks are exactly-once: the dead-letter append and the
      view overwrite each carry txn=(app, batchId), so a replayed
      micro-batch commits nothing twice.

    At 100 TB this is the always-on rollup job shape: O(commit churn)
    per trigger (never O(table)), one tiny keyed view rewritten per
    trigger, late stragglers queryable in the quarantine table rather
    than silently lost or silently corrupting closed windows.
    mview_ok re-derives the equivalence LIVE on every call:
    maintained == direct-recompute-minus-deadletter (both exceptAll
    directions), deadletter == exactly the day <= 10 straggler rows,
    all four commits replayed, txn markers present."""
    from ..sources.minilog_source import register

    register(spark)
    tune(spark)
    tbl, ready = _staged(spark, sf_dir, "mview_win_src")
    root = os.path.dirname(tbl.path)
    vroot = os.path.join(root, "mview_win_view")
    dlroot = os.path.join(root, "mview_win_dl")
    marker = os.path.join(root, "_READY_MVIEW_WIN")
    ready_v = False
    if os.path.exists(marker):
        with open(marker) as fh:
            ready_v = fh.read().strip() == _fingerprint(sf_dir)
    if not ready:
        ev = table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "ts",
            F.dayofmonth("ts").cast("long").alias("d"),
        )
        # three time-ordered appends + one DV-delete correction; the
        # NULL-ts (clock-less) rows match no split — an event-time view
        # cannot place them, so they never enter the source table
        tbl.append(ev.filter(F.col("d").between(11, 20)))
        tbl.append(ev.filter(F.col("d") >= 21))
        tbl.append(ev.filter(F.col("d") <= 10))
        tbl.delete_where_dv("d", 15, 16)
        _mark_ready(tbl, sf_dir)
        ready_v = False  # a rebuilt source invalidates the view
    view = MiniLogTable(spark, vroot, stats_cols=("event_type",))
    dl = MiniLogTable(spark, dlroot, stats_cols=("d",))
    # marker-without-table hardening (r12): trust the marker only if
    # BOTH downstream tables actually exist
    if ready_v and (view.version < 0 or dl.version < 0):
        ready_v = False
    if not ready_v:
        for p in (vroot, dlroot):
            if os.path.exists(p):
                shutil.rmtree(p)
        view = MiniLogTable(spark, vroot, stats_cols=("event_type",))
        dl = MiniLogTable(spark, dlroot, stats_cols=("d",))
        view.append(
            spark.createDataFrame(
                [], "event_type string, h timestamp, n bigint"
            )
        )
        dl.append(
            spark.createDataFrame(
                [],
                "event_id bigint, event_type string, ts timestamp, "
                "d bigint",
            )
        )
        delay_s = 3600  # withWatermark("ts", "1 hour")
        batch_max: dict[int, int] = {}  # bid -> max insert epoch-sec
        seen: list[int] = []

        def fold(bdf: DataFrame, bid: int) -> None:
            seen.append(int(bid))
            rows = bdf.select(
                "event_id", "event_type", "ts", "d", "_change_type"
            ).localCheckpoint(eager=True)  # one scan feeds 3 consumers
            ins = rows.filter(F.col("_change_type") == "insert")
            mx = ins.agg(
                F.max(F.col("ts").cast("long")).alias("m")
            ).collect()[0]["m"]
            if mx is not None:
                batch_max[int(bid)] = int(mx)
            # two-watermark mirror: the late boundary for batch k is
            # the watermark AFTER batch k-2 (previous-batch semantics,
            # stream_late_deadletter's measured mechanics)
            prior = [m for b, m in batch_max.items() if b <= bid - 2]
            wm = (max(prior) - delay_s) if prior else None
            if wm is not None:
                late = ins.filter(F.col("ts").cast("long") < wm)
                ontime = ins.filter(F.col("ts").cast("long") >= wm)
            else:
                late, ontime = ins.limit(0), ins
            dl.append(
                late.select("event_id", "event_type", "ts", "d"),
                txn={"app": "mview_win_dl", "version": int(bid)},
            )
            sign = F.when(
                F.col("_change_type") == "insert", F.lit(1)
            ).otherwise(F.lit(-1))
            delta = (
                ontime.unionByName(
                    rows.filter(F.col("_change_type") == "delete")
                )
                .groupBy(
                    F.date_trunc("hour", "ts").alias("h"), "event_type"
                )
                .agg(F.sum(sign).alias("delta"))
                .filter(F.col("delta") != 0)
            )
            if delta.isEmpty():
                return
            merged = (
                view.read()
                .join(delta, ["event_type", "h"], "full")
                .select(
                    "event_type",
                    "h",
                    (
                        F.coalesce(F.col("n"), F.lit(0))
                        + F.coalesce(F.col("delta"), F.lit(0))
                    ).cast("long").alias("n"),
                )
            )
            view.overwrite(
                merged, txn={"app": "mview_win", "version": int(bid)}
            )

        ck = os.path.join(root, "mview_win_ck")
        shutil.rmtree(ck, ignore_errors=True)
        runs = 0
        while True:
            n_before = len(seen)
            q = (
                spark.readStream.format("minilog")
                .option("readChangeFeed", "true")
                .option("maxFilesPerTrigger", "1")
                .load(tbl.path)
                .withWatermark("ts", "1 hour")
                .writeStream.foreachBatch(fold)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)
            runs += 1
            if len(seen) == n_before:  # drained: a run with no batch
                break
            assert runs <= 12, "windowed-mview drain did not converge"
        assert len(seen) >= 4, (seen, "commit-granular replay expected")
        with open(marker, "w") as fh:
            fh.write(_fingerprint(sf_dir))
    maintained = view.read().filter(F.col("n") != 0)
    dl_ids = dl.read().select("event_id")
    direct = (
        tbl.read()
        .join(dl_ids, "event_id", "left_anti")
        .groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # the dead-letter set is EXACTLY the straggler commit's rows
    stragglers = tbl.read().filter(F.col("d") <= 10).select("event_id")
    dl_exact = (
        dl_ids.exceptAll(stragglers).isEmpty()
        and stragglers.exceptAll(dl_ids).isEmpty()
    )
    ok = (
        dl_exact
        and maintained.select("event_type", "h", "n")
        .exceptAll(direct.select("event_type", "h", "n"))
        .isEmpty()
        and direct.select("event_type", "h", "n")
        .exceptAll(maintained.select("event_type", "h", "n"))
        .isEmpty()
        and view.snapshot().txns.get("mview_win", -1) >= 0
        and dl.snapshot().txns.get("mview_win_dl", -1) >= 0
    )
    return maintained.select(
        "event_type", "h", "n", F.lit(bool(ok)).alias("mview_ok")
    )


@query(
    "src_minilog_dsv2",
    oracle=f"""
    -- MiniLog read through the SPARK-NATIVE DataSource surface
    -- (spark.read.format("minilog")): the table holds days <= 20 at v1
    -- and additionally days >= 21 at latest (after a delete of days
    -- 1-5); both reads go through the registered Python DataSource —
    -- snapshot resolution on the driver, per-file Arrow scans on
    -- executors — and must equal the log-fold truth.
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'v1' AS as_of, event_type, d, n FROM c
    WHERE d <= 20 OR d IS NULL
    UNION ALL
    -- NULL-day groups ride the v0 file and SURVIVE the delete of days
    -- 1-5 (a NULL key is never "in [lo, hi]" — the NULL contract), so
    -- they appear in BOTH snapshots
    SELECT 'latest' AS as_of, event_type, d, n FROM c
    WHERE (d BETWEEN 6 AND 20) OR d >= 21 OR d IS NULL
    """,
)
def src_minilog_dsv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MiniLog as a REGISTERED SPARK DATA SOURCE (Spark 4 Python
    DataSource API, sources/minilog_source.py): the boundary that makes
    the format consumable by anything that speaks Spark — SQL, other
    teams' jobs — without importing this repo's API. Batch reads
    resolve a snapshot (latest or option("version", N) time travel) to
    a file list on the driver and scan the immutable parquet files as
    one InputPartition each via Arrow on executors; the log schema
    projects every file (null-fill across schema evolution). This op
    reads the SAME staged table at two versions through
    spark.read.format("minilog") and the driver checks both against the
    SQL history replay."""
    from ..sources.minilog_source import register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_dsv2")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 10) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d").between(11, 20)))   # v1
        tbl.delete_where("d", 1, 5)                        # v2
        tbl.append(c.filter(F.col("d") >= 21))             # v3
        _mark_ready(tbl, sf_dir)
    v1 = (
        spark.read.format("minilog")
        .option("version", 1)
        .load(tbl.path)
        .select(F.lit("v1").alias("as_of"), "event_type", "d", "n")
    )
    latest = (
        spark.read.format("minilog")
        .load(tbl.path)
        .select(F.lit("latest").alias("as_of"), "event_type", "d", "n")
    )
    return v1.unionAll(latest)


@query(
    "stream_minilog_tail",
    oracle=f"""
    -- STREAMING source over the MiniLog commit log: log versions are
    -- the offsets (Delta's streaming-source design), each micro-batch
    -- reads the files ADDED by the commits in its offset range, and an
    -- AvailableNow run over the three-append history must deliver
    -- exactly the table's rows — the counters — exactly once.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n FROM c
    """,
)
def stream_minilog_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAILING the MiniLog commit log as a Structured Streaming SOURCE
    (the read-side complement of stream_minilog_sink): offsets are log
    versions, latestOffset is the current table version, and a
    micro-batch (start, end] emits the files its commits added — so a
    downstream pipeline consumes the table incrementally, exactly once
    per commit, without ever rescanning it. Non-append commits FAIL the
    stream by default (replaying a rewrite as appends would duplicate
    rows — Delta's contract; ignoreChanges=true opts into re-emitted
    files, covered in tests/test_acid.py). Driver-checked end to end: a
    real AvailableNow query through the registered source lands in a
    memory sink and must equal the batch counters."""
    from ..sources.minilog_source import register
    from ..streaming.runner import run_to_memory

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_tail")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 10) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d").between(11, 20)))
        tbl.append(c.filter(F.col("d") >= 21))
        _mark_ready(tbl, sf_dir)
    stream = spark.readStream.format("minilog").load(tbl.path)
    out = run_to_memory(stream, mode="append")
    return out.select("event_type", "d", "n")


@query(
    "src_minilog_pushdown",
    oracle=f"""
    -- FILTER PUSHDOWN through the native DataSource: the table holds
    -- two day-ranged files ([1,15]+NULL-day, [16,31]) and the query
    -- df.filter(d >= 16) goes through the 4.1 pushFilters hook, which
    -- turns the predicate into log-stats file skipping BEFORE Spark
    -- schedules the scan. Rows = the filtered counters; pruned_ok
    -- carries the reader-level assertion that the [1,15] file was
    -- never partitioned into the scan.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS pruned_ok FROM c WHERE d >= 16
    """,
)
def src_minilog_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-STATS SKIPPING THROUGH THE NATIVE SURFACE: Spark 4.1's
    Python-source ``pushFilters`` hook hands the scan's predicates to
    the reader at plan time; the reader folds single-column ranges and
    prunes the snapshot's file list against the log's min/max stats —
    so a plain ``spark.read.format("minilog").load(p).filter(...)``
    gets the same O(box) file scan as MiniLogTable.read(prune=...),
    with every filter handed back for row-level evaluation (the skip is
    an optimization, never the filter). ``pruned_ok`` asserts it at the
    reader level: partitions() under the pushed filter excludes the
    non-overlapping file. Sessions with the pushdown conf disabled fall
    back to the plain reader instead of failing the scan."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from ..sources.minilog_source import _MiniLogBatchReader, register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_pushdown")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        _mark_ready(tbl, sf_dir)
    rdr = _MiniLogBatchReader(tbl.path, {})
    rdr.pushFilters([GreaterThanOrEqual(("d",), 16)])
    scanned = len([p for p in rdr.partitions() if p.path])
    total = len(tbl.select_files())
    pruned_ok = total == 2 and scanned == 1
    return (
        spark.read.format("minilog")
        .load(tbl.path)
        .filter(F.col("d") >= 16)
        .select(
            "event_type", "d", "n",
            F.lit(bool(pruned_ok)).alias("pruned_ok"),
        )
    )


@query(
    "src_minilog_partitioned",
    oracle=f"""
    -- the r9 NATIVE partitioned surface end-to-end: counters written
    -- through df.write.format('minilog').option('partitionBy',
    -- 'event_type') (task-side hive split, values in add actions),
    -- read back through the native reader with an event_type filter
    -- (directory-level pruning via pushFilters — pruned_ok asserts 2
    -- of 10 files at the reader) and withRowIds (ids_ok pins one
    -- distinct non-NULL stable id per row through the native scan).
    WITH c AS ({_COUNTERS_SQL}),
    e AS (SELECT min(event_type) AS et FROM events)
    SELECT c.event_type, c.d, c.n, true AS pruned_ok, true AS ids_ok
    FROM c, e WHERE c.event_type = e.et
    """,
)
def src_minilog_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE-PARTITIONED NATIVE SURFACE (r9): the whole round-trip a
    Spark-only consumer gets — ``df.write.format("minilog")`` with the
    ``partitionBy`` option (write tasks split their Arrow batches per
    value, land files under ``col=value/``, record the values in add
    actions), then ``spark.read.format("minilog")`` where an
    ``event_type`` predicate reaches the reader through Spark 4.1's
    pushFilters hook and prunes DIRECTORIES before any file is
    scheduled, composed with ``withRowIds`` (the reader re-derives each
    row's stable id executor-side: base_row_id + parquet position,
    materialized ``__row_id`` override).

    pruned_ok is asserted at the READER level (partitions() under the
    pushed equality keeps exactly the predicate's partition: 2 of 10
    files); ids_ok pins that the native scan hands every row a
    distinct non-NULL id. 100 TB story: both the write split and the
    id computation are per-task Arrow work; the pruning is O(#files)
    driver metadata with zero data IO for non-matching partitions."""
    from pyspark.sql.datasource import EqualTo

    from ..sources.minilog_source import _MiniLogBatchReader, register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_partitioned")
    if not ready:
        c = _day_counters(spark, sf_dir).coalesce(1)
        for half in (
            c.filter(F.col("d") <= 15),
            c.filter((F.col("d") > 15) | F.col("d").isNull()),
        ):
            (
                half.write.format("minilog")
                .mode("append")
                .option("partitionBy", "event_type")
                .option("statsCols", "d")
                .save(tbl.path)
            )
        _mark_ready(tbl, sf_dir)
    et = _day_counters(spark, sf_dir).agg(
        F.min("event_type")
    ).collect()[0][0]
    rdr = _MiniLogBatchReader(tbl.path, {})
    rdr.pushFilters([EqualTo(("event_type",), et)])
    scanned = len([p for p in rdr.partitions() if p.path])
    total = len(tbl.select_files())
    pruned_ok = total == 10 and scanned == 2
    back = (
        spark.read.format("minilog")
        .option("withRowIds", "true")
        .load(tbl.path)
        .filter(F.col("event_type") == et)
    )
    n_rows = back.count()
    ids_ok = (
        back.filter(F.col("_row_id").isNotNull())
        .select("_row_id")
        .distinct()
        .count()
        == n_rows
    )
    return back.select(
        "event_type",
        "d",
        "n",
        F.lit(bool(pruned_ok)).alias("pruned_ok"),
        F.lit(bool(ids_ok)).alias("ids_ok"),
    )


@query(
    "snk_minilog_dsv2_write",
    oracle=f"""
    -- the NATIVE WRITE path (df.write.format("minilog")): two appends
    -- land the counters through Spark's two-phase writer protocol —
    -- tasks write immutable files with Arrow-computed stats, the
    -- driver commit folds them into one atomic log entry. Reading the
    -- table back (through the log) must equal the counters, and
    -- write_ok asserts the commits landed as two append entries WITH
    -- working stats (the day <= 15 file prunes for a d >= 20 read).
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS write_ok FROM c
    """,
)
def snk_minilog_dsv2_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MiniLog as a NATIVE SPARK SINK: ``df.write.format("minilog")``
    maps Spark's two-phase commit protocol 1:1 onto the format — every
    task lands its partition as an immutable UUID parquet file and
    returns an add action with per-file min/max/null stats computed
    from the Arrow table (no extra Spark job: the stats ride the write
    itself, unlike the Python path's one distributed stats job), and
    the DRIVER commit folds all task actions + the schema action into
    ONE atomic log entry. A failed job's abort deletes its files; the
    log never references them. option("statsCols", "d") selects the
    skipping index; mode("overwrite") swaps the whole snapshot
    atomically. Driver-checked: the written table read back through the
    log must equal the counters."""
    from ..sources.minilog_source import register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_dsv2_write")
    if not ready:
        c = _day_counters(spark, sf_dir)
        for pred in [
            (F.col("d") <= 15) | F.col("d").isNull(),
            F.col("d") >= 16,
        ]:
            (
                c.filter(pred)
                .coalesce(1)
                .write.format("minilog")
                .mode("append")
                .option("statsCols", "d")
                .save(tbl.path)
            )
        _mark_ready(tbl, sf_dir)
    write_ok = (
        tbl.version == 1
        and all(h["operation"] == "append" for h in tbl.history())
        and len(tbl.select_files(prune=("d", 20, 31))) == 1
    )
    return tbl.read().select(
        "event_type", "d", "n", F.lit(bool(write_ok)).alias("write_ok")
    )


@query(
    "src_bloom_native",
    oracle=f"""
    -- NATIVE-WRITE BLOOM INDEXES (r10): the table is written ONLY via
    -- df.write.format("minilog").option("bloomCols", "user_id") — four
    -- day-band appends (every user in every band, so min/max stats on
    -- user_id can never prune; the sentinel band offsets ids by
    -- 10,000,000). The bloom stats are computed TASK-SIDE on the Arrow
    -- batches by a pinned xxhash64 port (bit-equal to F.xxhash64 —
    -- tests/test_acid.py), so the point probe skips every non-sentinel
    -- band WITHOUT any build_bloom_index() backfill. Visible result:
    -- the probe user's per-day counts; bloom_ok pins strict-subset
    -- scanning + point==full equality + a backfill-free history.
    WITH probe AS (SELECT min(user_id) AS u FROM events)
    SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n,
           true AS bloom_ok
    FROM events, probe
    WHERE user_id = probe.u AND date_part('day', ts) <= 3
    GROUP BY 1
    """,
)
def src_bloom_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src_bloom_skip's point-lookup story for tables written ONLY
    through the NATIVE DSv2 writer: ``option("bloomCols", "user_id")``
    computes the bloom bitmaps task-side on the Arrow batches — via a
    pinned pure-Python/numpy port of Spark's XxHash64 (the DSv2 write
    workers have no SparkSession to ask Spark for hashes) asserted
    BIT-EQUAL against ``F.xxhash64`` across all seeds and hostile
    values in tests/test_acid.py — so the table point-skips from its
    very first commit, closing the r9 gap where native writes gained
    blooms only via the ``build_bloom_index()`` backfill. Same adaptive
    in-log-≤2k-NDV / sidecar-past-that shape as the Python write path;
    columns outside the pinned hash surface get NO bloom (missing
    index = no skip, never a wrong skip).

    At 100 TB the write path IS the index maintenance: a Spark-only
    ingest pipeline (readStream → native sink) keeps point lookups
    O(matching files) with zero out-of-band maintenance jobs."""
    from ..sources.minilog_source import register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "bloom_native")
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.dayofmonth("ts").cast("long").alias("d")
    )
    if not ready:
        for pred in [
            F.col("d") <= 10,
            F.col("d").between(11, 20),
            (F.col("d") >= 21) | F.col("d").isNull(),
        ]:
            (
                ev.filter(pred)
                .coalesce(1)
                .write.format("minilog")
                .mode("append")
                .option("statsCols", "d")
                .option("bloomCols", "user_id")
                .save(tbl.path)
            )
        (  # the sentinel band: offset ids, days 1-3 only
            ev.filter(F.col("d") <= 3)
            .withColumn("user_id", F.col("user_id") + F.lit(10_000_000))
            .coalesce(1)
            .write.format("minilog")
            .mode("append")
            .option("statsCols", "d")
            .option("bloomCols", "user_id")
            .save(tbl.path)
        )
        _mark_ready(tbl, sf_dir)
    probe = 10_000_000 + ev.agg(F.min("user_id")).collect()[0][0]
    pointed = tbl.read(point=("user_id", probe))
    result = pointed.groupBy("d").agg(lcount("n"))
    full = (
        tbl.read()
        .filter(F.col("user_id") == F.lit(probe))
        .groupBy("d")
        .agg(lcount("n"))
    )
    scanned = tbl.select_files(point=("user_id", probe))
    bloom_ok = (
        len(scanned) < len(tbl.select_files())
        and all(h["operation"] == "append" for h in tbl.history())
        and result.exceptAll(full).isEmpty()
        and full.exceptAll(result).isEmpty()
    )
    return result.select(
        "d", "n", F.lit(bool(bloom_ok)).alias("bloom_ok")
    )


@query(
    "stream_minilog_dsv2_sink",
    oracle=f"""
    -- the NATIVE STREAMING SINK (df.writeStream.format("minilog")):
    -- a live AvailableNow query lands per-micro-batch counter deltas
    -- through the stream writer, whose commit carries txn = (txnApp,
    -- batchId) — exactly-once under Structured Streaming's
    -- at-least-once replay, without foreachBatch. The summed read-back
    -- equals the batch counters; exactly_once asserts one commit per
    -- distinct batch id.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS exactly_once FROM c
    """,
)
def stream_minilog_dsv2_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_minilog_sink's foreachBatch recipe PROMOTED INTO THE
    NATIVE WRITER PROTOCOL: ``df.writeStream.format("minilog")`` is a
    first-class Structured Streaming sink whose commit(messages,
    batchId) writes the micro-batch's files under txn = (txnApp,
    batchId). A replayed batch commits nothing, and the replay's
    already-landed task files are deleted by the txn-replay path (the
    orphan-cleanup contract) — exactly-once with zero user code in the
    loop. The pipeline is the bronze-layer ingest shape: the RAW event
    stream appends map-only projections per micro-batch (a cumulative
    complete/update-mode aggregate would double-count across appends —
    additive DELTAS need the foreachBatch twin, stream_minilog_sink);
    the counters materialize on read-back, micro-batch-split
    independent."""
    from ..sources.minilog_source import register
    from ..streaming.runner import _ckpt_dir, stream_table

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "minilog_dsv2_sink")
    if not ready:
        ev = stream_table(spark, sf_dir, "events")
        rows = ev.select(
            "event_type", F.dayofmonth("ts").cast("long").alias("d")
        )
        q = (
            rows.writeStream.format("minilog")
            .option("path", tbl.path)
            .option("statsCols", "d")
            .option("txnApp", "dsv2-sink")
            .outputMode("append")
            .option("checkpointLocation", _ckpt_dir())
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("minilog dsv2 sink stream exceeded 300s")
        _mark_ready(tbl, sf_dir)
    versions = [h["txn"]["version"] for h in tbl.history() if h["txn"]]
    exactly_once = len(versions) == len(set(versions)) == tbl.version + 1
    return (
        tbl.read()
        .groupBy("event_type", "d")
        .agg(lcount("n"))
        .select(
            "event_type", "d", "n",
            F.lit(bool(exactly_once)).alias("exactly_once"),
        )
    )


@query(
    "stream_cdf_feed",
    oracle=f"""
    -- STREAMING CHANGE DATA FEED (readChangeFeed=true on the native
    -- MiniLog source): micro-batches of ROW-LEVEL inserts/deletes per
    -- commit, including across a DELETION-VECTOR delete (v2: days 1-3
    -- surface as deletes) and an OPTIMIZE compaction (v3: rows cancel,
    -- empty feed), where the plain tail correctly fails. Folding the
    -- whole feed (net = inserts - deletes per row) must reconstruct
    -- the table: counters with n+500 for days >= 25 (the v4 merge),
    -- minus days 1-3, NULL-day surviving. feed_ok carries the
    -- stream-side assertions (reconstruction == direct read, the
    -- optimize commit fed zero rows, the DV commit fed only deletes).
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CASE WHEN d >= 25 THEN CAST(n + 500 AS BIGINT) ELSE n END AS n,
           true AS feed_ok
    FROM c
    WHERE (d NOT BETWEEN 1 AND 3) OR d IS NULL
    """,
)
def stream_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING CHANGE-FEED SOURCE (VERDICT r7 task 1):
    ``spark.readStream.format("minilog").option("readChangeFeed",
    "true")`` composes acid.changes()'s file-diff CDF with the stream
    reader's version offsets — each micro-batch delivers the row-level
    inserts/deletes of its commits, INCLUDING the commit kinds the
    plain tail must reject (DV deletes, OPTIMIZE rewrites, MERGE).
    This is the mode an incremental 100 TB consumer actually wants: a
    GDPR DV-delete arrives as a handful of delete rows, a compaction
    arrives as nothing (rows cancel in the bag difference), and every
    trigger costs O(commit churn), never O(table).

    History staged: append(days<=15+NULL) / append(days>=16) /
    delete_where_dv(days 1-3) / optimize() / merge(days>=25: n+500).
    The tx_cdf_replay invariant is held AS A STREAM: the AvailableNow
    feed folded by net sign reconstructs the direct snapshot read
    (feed_ok), and the driver checks the reconstruction against the
    SQL replay of the same history."""
    from ..sources.minilog_source import register
    from ..streaming.runner import run_to_memory

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "cdf_feed_stream")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))            # v1
        tbl.delete_where_dv("d", 1, 3)                    # v2: DV delete
        tbl.optimize(target_rows=10_000_000)              # v3: compaction
        updates = c.filter(F.col("d") >= 25).withColumn(
            "n", (F.col("n") + F.lit(500)).cast("long")
        )
        tbl.merge(updates, keys=("event_type", "d"), prune_col="d")  # v4
        _mark_ready(tbl, sf_dir)
    feed = run_to_memory(
        spark.readStream.format("minilog")
        .option("readChangeFeed", "true")
        .load(tbl.path),
        mode="append",
    )
    # fold the feed: net multiplicity per row (inserts - deletes); for
    # this keyed counter table net is 0 or 1, and the net-1 rows ARE the
    # table — ONE hash aggregate over the whole feed, no per-version loop
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    state = (
        feed.groupBy("event_type", "d", "n")
        .agg(F.sum(sign).alias("__net"))
        .filter(F.col("__net") == 1)
        .drop("__net")
    )
    direct = tbl.read()
    by_version = {
        r["_commit_version"]: r["cnt"]
        for r in feed.groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    dv_deletes = feed.filter(F.col("_commit_version") == 2)
    feed_ok = (
        state.exceptAll(direct).isEmpty()
        and direct.exceptAll(state).isEmpty()
        # the OPTIMIZE commit (v3) contributed NOTHING to the feed
        and 3 not in by_version
        # the DV commit (v2) contributed ONLY deletes, all in days 1-3
        and dv_deletes.filter(
            (F.col("_change_type") != "delete")
            | ~F.col("d").between(1, 3)
        ).isEmpty()
        and by_version.get(2, 0) > 0
    )
    return state.select(
        "event_type", "d", "n", F.lit(bool(feed_ok)).alias("feed_ok")
    )


@query(
    "tx_column_mapping",
    oracle=f"""
    -- COLUMN MAPPING (rename/drop without rewrite): the counters table
    -- renamed n -> hits (pure metaData; files keep the physical column
    -- 'n'), then evolve-appended a 'src' column (days+100, src='late'),
    -- DROPPED it (physical retired), and re-added 'src' under a FRESH
    -- physical (days+200, src='readd'). The dropped generation's bytes
    -- must NOT resurrect into the re-added column: days+100 rows read
    -- src = NULL, days+200 rows read src = 'readd', original rows read
    -- both evolution columns as NULL. mapping_ok carries the
    -- metadata-only assertions (zero files rewritten by rename/drop,
    -- historical name via time travel, fresh physical after re-add).
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n AS hits, CAST(NULL AS VARCHAR) AS src,
           true AS mapping_ok
    FROM c
    UNION ALL
    SELECT event_type, d + 100, n, NULL, true FROM c WHERE d >= 28
    UNION ALL
    SELECT event_type, d + 200, n, 'readd', true FROM c WHERE d >= 28
    """,
)
def tx_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING on the MiniLog format (VERDICT r7 task 3 — the
    public Delta column-mapping design): logical -> physical name
    indirection in the log's metaData action makes RENAME COLUMN and
    DROP COLUMN O(metadata) DDL at any table size. A rename changes
    only the logical name (files keep their physical parquet column;
    every reader — Python API and native DSv2 — resolves through the
    mapping; time travel presents historical names); a drop removes the
    schema entry and RETIRES the physical name, so a later re-add of
    the same logical name binds to a fresh ``col-<uuid>`` physical and
    the dropped bytes can never resurrect. At 100 TB this is the
    difference between an instant schema change and rewriting the
    table. Rewrite paths (delete/merge/optimize) stage through the
    mapping, so routine compaction lazily sheds dropped bytes —
    tests/test_acid.py pins that plus the concurrent-edit conflict
    matrix (expect_schema lost-update guard)."""
    tbl, ready = _staged(spark, sf_dir, "column_mapping")
    flag = os.path.join(tbl.path, "_MAPPING_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))                   # v1
        files_before = sorted(tbl.select_files())
        v_rename = tbl.rename_column("n", "hits")                # v2
        rename_no_rewrite = sorted(tbl.select_files()) == files_before
        late = c.filter(F.col("d") >= 28).select(
            "event_type",
            (F.col("d") + 100).cast("long").alias("d"),
            F.col("n").alias("hits"),
            F.lit("late").alias("src"),
        )
        tbl.append(late, evolve_schema=True)                     # v3
        files_pre_drop = sorted(tbl.select_files())
        tbl.drop_column("src")                                   # v4
        drop_no_rewrite = sorted(tbl.select_files()) == files_pre_drop
        readd = c.filter(F.col("d") >= 28).select(
            "event_type",
            (F.col("d") + 200).cast("long").alias("d"),
            F.col("n").alias("hits"),
            F.lit("readd").alias("src"),
        )
        tbl.append(readd, evolve_schema=True)                    # v5
        sch = {cc["name"]: cc for cc in tbl.snapshot().schema}
        old_name_ok = "n" in [
            cc["name"] for cc in tbl.snapshot(v_rename - 1).schema
        ]
        info = {
            "rename_no_rewrite": rename_no_rewrite,
            "drop_no_rewrite": drop_no_rewrite,
            "old_name_via_time_travel": old_name_ok,
            "fresh_physical_on_readd": sch["src"].get("physical", "src")
            != "src",
            "retired": tbl.snapshot().retired == ["src"],
        }
        with open(flag, "w") as fh:
            json.dump(info, fh)
        _mark_ready(tbl, sf_dir)
    with open(flag) as fh:
        info = json.load(fh)
    mapping_ok = all(info.values())
    return tbl.read().select(
        "event_type", "d", "hits", "src",
        F.lit(bool(mapping_ok)).alias("mapping_ok"),
    )


@query(
    "tx_restore",
    oracle=f"""
    -- RESTORE as a commit: v0 appended days 1-10, v1 appended 11-20,
    -- v2 deleted days 1-5, v3 = restore(v1). The latest state is the
    -- FULL v1 content (the delete undone, O(metadata) — no rewrite),
    -- and history is preserved: the pre-restore v2 state still time-
    -- travels. Both reads come back from one table directory.
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'restored' AS as_of, event_type, d, n FROM c WHERE d <= 20
    UNION ALL
    SELECT 'pre_restore' AS as_of, event_type, d, n FROM c
    WHERE d BETWEEN 6 AND 20
    """,
)
def tx_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE on the MiniLog format (Delta RESTORE semantics): roll the
    table back to an earlier version as ONE new commit of add/remove
    actions over the immutable data files — O(metadata) regardless of
    table size, because nothing is rewritten. Unlike resetting the log,
    a restore PRESERVES history: the mistaken state stays
    time-travelable for audit, and the restore itself can be restored
    away. The op builds append/append/delete, restores across the
    delete, and returns latest (== v1's full content) next to the
    pre-restore v2 state — both read through the same log. The vacuumed-
    file failure contract (restore raises FileNotFoundError when the
    target's files were reclaimed) is pinned in tests/test_acid.py."""
    tbl, ready = _staged(spark, sf_dir, "restore")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter(F.col("d") <= 10))            # v0
        tbl.append(c.filter(F.col("d").between(11, 20)))  # v1
        tbl.delete_where("d", 1, 5)                       # v2
        v = tbl.restore(1)                                # v3
        assert v == 3, tbl.history()
        assert tbl.history()[-1]["operation"] == "restore(v1)"
        _mark_ready(tbl, sf_dir)
    restored = tbl.read().select(
        F.lit("restored").alias("as_of"), "event_type", "d", "n"
    )
    pre = tbl.read(version=2).select(
        F.lit("pre_restore").alias("as_of"), "event_type", "d", "n"
    )
    return restored.unionByName(pre)


@query(
    "tx_clone_zero_copy",
    oracle=f"""
    -- ZERO-COPY CLONE: the source table (days 1-20 + the NULL-day
    -- bucket from clock-less events) is cloned by hardlinking its
    -- immutable files into a new root (no bytes copied), then the
    -- SOURCE alone appends days 21+. The clone still reads exactly the
    -- snapshot it was taken from; the source shows the divergence.
    -- zero_copy_ok carries the hardlink proof (every clone file shares
    -- an inode with a source file, st_nlink >= 2).
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'clone' AS side, event_type, d, n, true AS zero_copy_ok
    FROM c WHERE d <= 20 OR d IS NULL
    UNION ALL
    SELECT 'source' AS side, event_type, d, n, true AS zero_copy_ok
    FROM c
    """,
)
def tx_clone_zero_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLONE on the MiniLog format: a snapshot becomes an independent
    table by HARDLINKING its immutable data files into a fresh root and
    committing them as v0 of a new log — O(1) per file, zero bytes
    copied (the dev/test-against-prod-data pattern at 100 TB, where a
    physical copy is days of IO). Because the clone owns its own
    directory entries, vacuum/overwrite on the source cannot invalidate
    it — stronger isolation than Delta's path-referencing shallow
    clone (tests/test_acid.py pins read-after-source-vacuum). After the
    clone, the source appends more days; the result returns both sides
    from their own logs, plus an inode-level zero-copy assertion."""
    tbl, ready = _staged(spark, sf_dir, "clone_src")
    clone_root = tbl.path + "_clone"
    if not ready:
        shutil.rmtree(clone_root, ignore_errors=True)
        c = _day_counters(spark, sf_dir)
        # NULL-day bucket (clock-less events, hostile fixture) rides v0:
        # every day filter must place it somewhere or the source table
        # silently diverges from the oracle's full-table side
        tbl.append(c.filter((F.col("d") <= 10) | F.col("d").isNull()))  # v0
        tbl.append(c.filter(F.col("d").between(11, 20)))  # v1
        tbl.clone(clone_root)
        tbl.append(c.filter(F.col("d") >= 21))            # source diverges
        _mark_ready(tbl, sf_dir)
    clone = MiniLogTable(spark, clone_root, stats_cols=("d",))
    linked = all(
        os.stat(os.path.join(clone_root, fe.file)).st_nlink >= 2
        for fe in clone.snapshot().files
    )
    c_side = clone.read().select(
        F.lit("clone").alias("side"), "event_type", "d", "n",
        F.lit(bool(linked)).alias("zero_copy_ok"),
    )
    s_side = tbl.read().select(
        F.lit("source").alias("side"), "event_type", "d", "n",
        F.lit(bool(linked)).alias("zero_copy_ok"),
    )
    return c_side.unionByName(s_side)


@query(
    "tx_deletion_vectors",
    oracle="""
    -- DELETION VECTORS (merge-on-read): days 3-5 are deleted from the
    -- counters table WITHOUT rewriting any data file — the commit
    -- re-points the one stats-touched file at a tiny (file, row
    -- position) sidecar. 'post' is the masked read; 'pre' time-travels
    -- to the unmasked version from the same directory. The clockless
    -- flag is aggregated from ts IS NULL (DuckDB v1.0.0 wrongly folds
    -- date-derived IS NULL predicates — tools/duckdb_oracle_notes.md);
    -- clock-less rows never match a day range and must survive.
    WITH c AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n,
             max(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) = 1 AS clockless
      FROM events GROUP BY 1, 2
    )
    SELECT 'post' AS as_of, event_type, d, n, true AS dv_ok FROM c
    WHERE clockless OR d < 3 OR d > 5
    UNION ALL
    SELECT 'pre' AS as_of, event_type, d, n, true AS dv_ok FROM c
    """,
)
def tx_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION VECTORS on the MiniLog format (the public Delta DV
    design, merge-on-read): a delete marks row POSITIONS in a sidecar
    and re-commits the same immutable data files pointing at it —
    O(deleted rows) written instead of O(touched file bytes) rewritten.
    At 100 TB this is a GDPR erasure writing kilobytes instead of
    rewriting terabytes; OPTIMIZE later purges masked rows during
    routine compaction (acid.py delete_where_dv / _tagged_read; the
    base_dv entry-version pin extends the conflict matrix so racing
    same-file writers serialize instead of erasing each other's
    vectors — raced in tests/test_acid.py).

    The staged table holds day counters in two stats-keyed files (days
    ≤15 + the clock-less bucket, days ≥16); deleting days 3-5 swaps
    exactly ONE entry (write-side data skipping) and rewrites nothing.
    ``dv_ok`` carries the protocol assertions into the checked result:
    zero files rewritten, the data-file set byte-identical before and
    after, exactly one entry carrying a vector, and the vector's
    cardinality equal to the day-3-5 row count. 'pre' time-travels to
    the unmasked version through the same log.
    """
    tbl, ready = _staged(spark, sf_dir, "deletion_vectors")
    tag = os.path.join(tbl.path, "_DV_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        files_before = sorted(f.file for f in tbl.snapshot().files)
        info = tbl.delete_where_dv("d", 3, 5)
        snap = tbl.snapshot()
        dv_entries = [f for f in snap.files if f.dv]
        payload = {
            "rewritten": info["rewritten"],
            "dv_files": info["dv_files"],
            "dv_rows": info["dv_rows"],
            "same_files": sorted(f.file for f in snap.files)
            == files_before,
            "n_dv_entries": len(dv_entries),
            "version": info["version"],
        }
        with open(tag, "w") as fh:
            json.dump(payload, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        payload = json.load(fh)
    expected_dv_rows = (
        _day_counters(spark, sf_dir)
        .filter(F.col("d").between(3, 5))
        .count()
    )
    dv_ok = (
        payload["rewritten"] == 0
        and payload["dv_files"] == 1
        and payload["n_dv_entries"] == 1
        and payload["same_files"]
        and payload["dv_rows"] == expected_dv_rows
    )
    post = tbl.read().select(
        F.lit("post").alias("as_of"), "event_type", "d", "n",
        F.lit(bool(dv_ok)).alias("dv_ok"),
    )
    pre = tbl.read(version=payload["version"] - 1).select(
        F.lit("pre").alias("as_of"), "event_type", "d", "n",
        F.lit(bool(dv_ok)).alias("dv_ok"),
    )
    return post.unionByName(pre)


@query(
    "tx_history_audit",
    oracle="""
    -- DESCRIBE HISTORY: the commit log itself as a queryable relation —
    -- the audit surface an operator reads before a restore ("what
    -- happened to this table and when"). The staged table's history is
    -- fully deterministic: append, append, delete_dv (deletion-vector
    -- mask, no files rewritten), restore(v1), so the expected rows are
    -- literal. n_add/n_remove are the action counts each commit
    -- carries; the delete_dv commit swaps ONE entry (1 remove + 1
    -- re-add of the same file pointing at the vector) and the restore
    -- swaps it back.
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'append',       CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(1 AS BIGINT), 'append',       CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), 'delete_dv',    CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      (CAST(3 AS BIGINT), 'restore(v1)',  CAST(1 AS BIGINT), CAST(1 AS BIGINT))
    ) AS h(version, operation, n_add, n_remove)
    """,
)
def tx_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY — the lakehouse audit surface: every commit's
    version, operation, and action counts read straight from the log
    fold (MiniLogTable.history()), surfaced as a DataFrame so the same
    relation joins against incident timelines or feeds a retention
    dashboard. O(log entries), zero data files opened — at 100 TB the
    history of a million-file table is still a few kilobytes of JSON.
    The staged history exercises the round's lifecycle ops end to end
    (deletion-vector delete, then a restore across it), so the audit
    row for each is pinned literally in the oracle."""
    tbl, ready = _staged(spark, sf_dir, "history_audit")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        tbl.delete_where_dv("d", 3, 5)
        tbl.restore(1)
        _mark_ready(tbl, sf_dir)
    rows = [
        (h["version"], h["operation"], h["n_add"], h["n_remove"])
        for h in tbl.history()
    ]
    return spark.createDataFrame(
        rows,
        "version long, operation string, n_add long, n_remove long",
    )


# ----------------------------------------------------------- round 10


@query(
    "tx_merge_clauses",
    oracle=f"""
    -- FULL MERGE CLAUSE SURFACE (the Delta clause model) replayed in
    -- SQL: one CDC apply-changes batch carries upserts (d 6-10 get
    -- n+1000), tombstones (d 1-2 deleted via WHEN MATCHED AND op='D'
    -- THEN DELETE), brand-new keys (d 111-112 inserted), while WHEN
    -- NOT MATCHED BY SOURCE zeroes d 25-27 and deletes d >= 28 — all
    -- in ONE atomic commit. NULL-day rows (clock-less events) match
    -- no clause and survive unchanged.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d BETWEEN 6 AND 10 THEN n + 1000
                     WHEN d BETWEEN 25 AND 27 THEN 0
                     ELSE n END AS BIGINT) AS n,
           true AS clauses_ok
    FROM c
    WHERE d IS NULL OR (NOT (d BETWEEN 1 AND 2) AND d < 28)
    UNION ALL
    SELECT event_type, CAST(d + 100 AS BIGINT) AS d, n,
           true AS clauses_ok
    FROM c WHERE d BETWEEN 11 AND 12
    """,
)
def tx_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with the full public clause model (acid.merge_clauses,
    VERDICT r9 task 1): WHEN MATCHED [AND cond] THEN UPDATE subset /
    DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT, WHEN NOT MATCHED
    BY SOURCE THEN UPDATE / DELETE — evaluated first-match-wins in
    clause order, committed atomically. This is the CDC apply-changes
    shape: one batch mixing upserts and tombstones (op marker column —
    source-side payload, never written) lands in one commit instead of
    a delete pass plus an upsert pass with a visible in-between state.

    ``clauses_ok`` carries the protocol assertions into the checked
    result: the row-tracked change feed across the merge commit emits
    UPDATE-LINKED pre/post images (equal _row_id sets) for exactly the
    rows the update clauses touched, deletes for the tombstoned /
    not-matched-by-source rows, inserts for the new keys."""
    tbl, ready = _staged(spark, sf_dir, "merge_clauses")
    tag = os.path.join(tbl.path, "_MC_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        upd = c.filter(F.col("d").between(6, 10)).withColumn(
            "n", (F.col("n") + F.lit(1000)).cast("long")
        ).withColumn("op", F.lit("U"))
        dele = c.filter(F.col("d").between(1, 2)).withColumn(
            "op", F.lit("D")
        )
        new = c.filter(F.col("d").between(11, 12)).withColumn(
            "d", (F.col("d") + F.lit(100)).cast("long")
        ).withColumn("op", F.lit("U"))
        src = upd.unionByName(dele).unionByName(new)
        pre_v = tbl.version
        info = tbl.merge_clauses(
            src,
            keys=("event_type", "d"),
            prune_col="d",
            matched=(
                {"action": "delete", "condition": "source.op = 'D'"},
                {"action": "update", "set": {"n": "source.n"}},
            ),
            not_matched=(
                {"action": "insert", "condition": "source.op = 'U'"},
            ),
            not_matched_by_source=(
                {"action": "delete", "condition": "target.d >= 28"},
                {
                    "action": "update",
                    "set": {"n": "CAST(0 AS BIGINT)"},
                    "condition": "target.d BETWEEN 25 AND 27",
                },
            ),
        )
        # row-id-linked CDF across the clause merge: updates surface
        # as pre/post pairs sharing one id; tombstones + NMBS deletes
        # as deletes; new keys as inserts
        feed = tbl.changes_with_ids(pre_v, info["version"])
        by_type = {
            r["_change_type"]: r["cnt"]
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        pre_ids = feed.filter(
            F.col("_change_type") == "update_preimage"
        ).select("_row_id")
        post_ids = feed.filter(
            F.col("_change_type") == "update_postimage"
        ).select("_row_id")
        linked = (
            pre_ids.exceptAll(post_ids).count() == 0
            and post_ids.exceptAll(pre_ids).count() == 0
        )
        n_upd = c.filter(
            F.col("d").between(6, 10) | F.col("d").between(25, 27)
        ).count()
        n_del = c.filter(
            F.col("d").between(1, 2) | (F.col("d") >= 28)
        ).count()
        n_ins = c.filter(F.col("d").between(11, 12)).count()
        payload = {
            "ok": bool(
                linked
                and by_type.get("update_preimage", 0) == n_upd
                and by_type.get("update_postimage", 0) == n_upd
                and by_type.get("delete", 0) == n_del
                and by_type.get("insert", 0) == n_ins
            ),
            "info": info,
        }
        with open(tag, "w") as fh:
            json.dump(payload, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        payload = json.load(fh)
    return tbl.read().select(
        "event_type",
        "d",
        "n",
        F.lit(bool(payload["ok"])).alias("clauses_ok"),
    )


@query(
    "tx_merge_evolve",
    oracle=f"""
    -- MERGE SCHEMA EVOLUTION (Delta autoMerge-on-MERGE): the update
    -- side carries a column the table lacks ('src'); the merge commit
    -- widens the schema, writes it for matched/inserted rows, and
    -- every untouched base row reads back NULL for it.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d BETWEEN 6 AND 10 THEN n + 1000
                     ELSE n END AS BIGINT) AS n,
           CASE WHEN d BETWEEN 6 AND 10 THEN 'upd' END AS src,
           true AS evolve_ok
    FROM c
    UNION ALL
    SELECT event_type, CAST(d + 200 AS BIGINT) AS d, n,
           'new' AS src, true AS evolve_ok
    FROM c WHERE d BETWEEN 1 AND 2
    """,
)
def tx_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (acid.merge_clauses
    evolve_schema=True, VERDICT r9 task 2): the source's new column
    widens the table IN the merge commit — reusing append's
    schema_merge_actions machinery, so type conflicts on existing
    columns raise exactly like an evolve-append and the metaData
    action is re-derived race-safely inside the commit loop.
    ``evolve_ok`` asserts the contract: the pre-merge version still
    reads WITHOUT the column (time travel is schema-accurate), the
    post-merge schema has it, and unmatched base rows carry NULL."""
    tbl, ready = _staged(spark, sf_dir, "merge_evolve")
    tag = os.path.join(tbl.path, "_ME_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c)  # v0: one file, all counters
        upd = c.filter(F.col("d").between(6, 10)).withColumn(
            "n", (F.col("n") + F.lit(1000)).cast("long")
        ).withColumn("src", F.lit("upd"))
        new = c.filter(F.col("d").between(1, 2)).withColumn(
            "d", (F.col("d") + F.lit(200)).cast("long")
        ).withColumn("src", F.lit("new"))
        pre_v = tbl.version
        info = tbl.merge_clauses(
            upd.unionByName(new),
            keys=("event_type", "d"),
            prune_col="d",
            matched=(
                {
                    "action": "update",
                    "set": {"n": "source.n", "src": "source.src"},
                },
            ),
            not_matched=({"action": "insert"},),
            evolve_schema=True,
        )
        pre_cols = tbl.read(version=pre_v).columns
        post = tbl.snapshot()
        payload = {
            "ok": bool(
                info["evolved"] == ["src"]
                and "src" not in pre_cols
                and [s["name"] for s in post.schema]
                == ["event_type", "d", "n", "src"]
            ),
        }
        with open(tag, "w") as fh:
            json.dump(payload, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        payload = json.load(fh)
    return tbl.read().select(
        "event_type",
        "d",
        "n",
        "src",
        F.lit(bool(payload["ok"])).alias("evolve_ok"),
    )


@query(
    "tx_time_travel_ts",
    oracle=f"""
    -- TIMESTAMP-based time travel: the same three-commit table read
    -- AS OF the in-commit timestamp of v1 (days 1-20) and of v2
    -- (all days) — "as of yesterday 09:00" instead of a version
    -- ordinal. The timestamps themselves are runtime values, so the
    -- checked columns are the resolved DATA plus the monotonicity /
    -- resolution assertions folded into ts_ok.
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'at_v1' AS as_of, event_type, d, n, true AS ts_ok
    FROM c WHERE d <= 20
    UNION ALL
    SELECT 'latest' AS as_of, event_type, d, n, true AS ts_ok
    FROM c WHERE d IS NOT NULL
    """,
)
def tx_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-COMMIT TIMESTAMPS + timestampAsOf (VERDICT r9 task 3, the
    public Delta in-commit-timestamp design): every commit entry is
    stamped max(prev_ts + 1µs, now) INSIDE the commit loop, so the
    log's timestamps are strictly monotone across OCC races and clock
    skew; history() surfaces them; version_at(ts) binary-searches the
    log (O(log n) entry reads); read(timestamp=...) and the native
    reader option timestampAsOf resolve through it. ``ts_ok`` carries
    the contract assertions: strict monotonicity over the whole
    history, exact resolution at each commit's own timestamp, floor
    resolution between commits, and a pre-table timestamp raising."""
    tbl, ready = _staged(spark, sf_dir, "time_travel_ts")
    if not ready:
        c = _day_counters(spark, sf_dir)
        # NULL-day rows (clock-less events) stay out on BOTH sides:
        # every append filters them and the oracle's arms exclude them
        tbl.append(c.filter(F.col("d") <= 10))            # v0
        tbl.append(c.filter(F.col("d").between(11, 20)))  # v1
        tbl.append(c.filter(F.col("d") >= 21))            # v2
        _mark_ready(tbl, sf_dir)
    hist = tbl.history()
    ts = [h["timestamp"] for h in hist]
    try:
        tbl.version_at(ts[0] - 1)
        pre_table_raises = False
    except NoSuchVersion:
        pre_table_raises = True
    ts_ok = (
        all(isinstance(x, int) for x in ts)
        and all(a < b for a, b in zip(ts, ts[1:]))
        and [tbl.version_at(x) for x in ts] == [0, 1, 2]
        and tbl.version_at((ts[1] + ts[2]) // 2) == 1  # floor
        and tbl.version_at(ts[2] + 10_000_000) == 2    # beyond latest
        and pre_table_raises
    )
    at_v1 = tbl.read(timestamp=ts[1]).select(
        F.lit("at_v1").alias("as_of"), "event_type", "d", "n",
        F.lit(bool(ts_ok)).alias("ts_ok"),
    )
    latest = tbl.read(timestamp=ts[2]).select(
        F.lit("latest").alias("as_of"),
        "event_type",
        "d",
        "n",
        F.lit(bool(ts_ok)).alias("ts_ok"),
    )
    return at_v1.unionByName(latest)


@query(
    "tx_cluster_incremental",
    oracle=f"""
    -- INCREMENTAL (liquid-style) CLUSTERING: the data is unchanged by
    -- clustering passes — the checked result is the table content
    -- (original counters + the second-batch appends) with the
    -- incremental contract folded into cluster_ok: pass 1 clusters
    -- every pre-existing file, pass 2 touches ONLY the file appended
    -- in between (pass-1 output files survive untouched).
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS cluster_ok FROM c
    UNION ALL
    SELECT event_type, d, CAST(n + 5000 AS BIGINT) AS n,
           true AS cluster_ok
    FROM c WHERE d <= 5
    """,
)
def tx_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CLUSTERING (acid.set_cluster_keys /
    optimize_cluster, VERDICT r9 task 4 — the Delta liquid-clustering
    public contract): clustering keys are latest-wins METADATA with a
    monotone epoch; each OPTIMIZE pass rewrites ONLY files not yet
    clustered under the current epoch (fresh appends, pre-key-change
    files) ordered by the keys, stamping the epoch into their add
    actions. Keeping a 100 TB table clustered therefore costs O(new
    data) per pass — vs tx_optimize_zorder's full-scope rewrite —
    while a key CHANGE is one epoch bump that re-qualifies everything
    for the same incremental loop. ``cluster_ok`` pins: pass 1
    reclusters exactly the pre-existing files, pass 2 exactly the one
    file appended since, pass-1 outputs untouched by pass 2, zero
    reclustered on an already-converged table, and key-range pruning
    tightened by the clustered layout."""
    tbl, ready = _staged(spark, sf_dir, "cluster_incr")
    tag = os.path.join(tbl.path, "_CL_INFO")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c, target_files=3)      # v0: ~3 unclustered files
        n_before = len(tbl.snapshot().files)
        tbl.set_cluster_keys(("d",))       # v1: metadata only
        i1 = tbl.optimize_cluster(target_files=2)
        files_1 = sorted(f.file for f in tbl.snapshot().files)
        tbl.append(
            c.filter(F.col("d") <= 5).withColumn(
                "n", (F.col("n") + F.lit(5000)).cast("long")
            ),
            target_files=1,
        )
        i2 = tbl.optimize_cluster(target_files=1)
        snap = tbl.snapshot()
        files_2 = sorted(f.file for f in snap.files)
        i3 = tbl.optimize_cluster()        # converged: no-op
        sel = len(tbl.select_files(prune=("d", 1, 5)))
        payload = {
            "ok": bool(
                i1["reclustered"] == n_before
                and i2["reclustered"] == 1
                and set(files_1) <= set(files_2)
                and i3["reclustered"] == 0
                and i3["version"] == snap.version  # truly no commit
                and all(
                    f.cluster_epoch == 1 for f in snap.files
                )
                and sel < len(files_2)  # clustered layout prunes
            ),
            "i1": i1,
            "i2": i2,
        }
        with open(tag, "w") as fh:
            json.dump(payload, fh)
        _mark_ready(tbl, sf_dir)
    with open(tag) as fh:
        payload = json.load(fh)
    return tbl.read().select(
        "event_type",
        "d",
        "n",
        F.lit(bool(payload["ok"])).alias("cluster_ok"),
    )


@query(
    "tx_apply_changes_keyed",
    oracle=f"""
    -- KEYED INCREMENTAL VIEW from the row-tracked change feed: a
    -- downstream copy maintained purely by folding
    -- changes_with_ids() update-linked deltas (delete/preimage ids
    -- leave, insert/postimage rows enter) across a MERGE (updates d
    -- 6-8, inserts d 301-302, NMBS-deletes d >= 30), a DV delete
    -- (d 3-4) and an OPTIMIZE (feeds nothing). The checked rows are
    -- the maintained state; sync_ok asserts it equals the direct
    -- recompute bag-exactly, row ids included.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d BETWEEN 6 AND 8 THEN n + 1000
                     ELSE n END AS BIGINT) AS n,
           true AS sync_ok
    FROM c
    WHERE d IS NULL OR (d < 30 AND NOT (d BETWEEN 3 AND 4))
    UNION ALL
    SELECT event_type, CAST(d + 300 AS BIGINT) AS d, n, true AS sync_ok
    FROM c WHERE d BETWEEN 1 AND 2
    """,
)
def tx_apply_changes_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED INCREMENTAL VIEW (acid.apply_changes, VERDICT r9 task 6)
    — what row tracking was built for: a non-additive downstream table
    (per-entity latest state) maintained from changes_with_ids()
    feeds alone. Each fold is two id-keyed set operations over
    O(commit churn) rows — delete/update_preimage ids leave,
    insert/update_postimage rows enter — so an update REPLACES its row
    under the stable id instead of the guess-which-delete-pairs-with-
    which-insert reconstruction an unlinked feed forces. The fold is
    verified against the direct recompute (read_with_row_ids) over a
    history of a MERGE clause mix, a deletion-vector delete, and an
    OPTIMIZE whose feed must net nothing. At 100 TB the consumer pays
    O(churn) per sync, never O(table)."""
    tbl, ready = _staged(spark, sf_dir, "apply_keyed")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        upd = c.filter(F.col("d").between(6, 8)).withColumn(
            "n", (F.col("n") + F.lit(1000)).cast("long")
        )
        new = c.filter(F.col("d").between(1, 2)).withColumn(
            "d", (F.col("d") + F.lit(300)).cast("long")
        )
        tbl.merge_clauses(
            upd.unionByName(new),
            keys=("event_type", "d"),
            prune_col="d",
            matched=({"action": "update", "set": {"n": "source.n"}},),
            not_matched=({"action": "insert"},),
            not_matched_by_source=(
                {"action": "delete", "condition": "target.d >= 30"},
            ),
        )
        tbl.delete_where_dv("d", 3, 4)
        tbl.optimize(target_rows=1_000_000)
        _mark_ready(tbl, sf_dir)
    from ..acid import apply_changes

    # bootstrap at the first append, then apply every later commit's
    # update-linked feed at once: changes_with_ids_by_commit reads the
    # whole range's touched files in one scan, and apply_changes nets
    # identical (row, id) pairs across commits before its one anti-join
    # (equal to the per-commit fold; stream_apply_changes pins that).
    # The maintained state never rereads the table.
    state = apply_changes(
        tbl.read_with_row_ids(version=0), tbl.changes_with_ids_by_commit(0)
    )
    direct = tbl.read_with_row_ids()
    # Bag-equality in ONE job (r14): the two directed exceptAll counts
    # each re-executed BOTH frames — two full passes over the direct
    # read and the fold. Bags are equal iff every distinct row has the
    # same multiplicity on both sides: group each side by all columns,
    # null-safe full-outer join the count tables, and look for any
    # mismatch. Same boolean, half the executions.
    from functools import reduce

    cols = state.columns
    a = state.groupBy(*cols).agg(F.count(F.lit(1)).alias("__a"))
    b = direct.groupBy(*cols).agg(F.count(F.lit(1)).alias("__b"))
    cond = reduce(
        lambda x, y: x & y, [a[c].eqNullSafe(b[c]) for c in cols]
    )
    mismatches = (
        a.join(b, cond, "full_outer")
        .where(
            F.col("__a").isNull()
            | F.col("__b").isNull()
            | (F.col("__a") != F.col("__b"))
        )
        .limit(1)
    )
    sync_ok = mismatches.count() == 0
    return state.select(
        "event_type",
        "d",
        "n",
        F.lit(bool(sync_ok)).alias("sync_ok"),
    )


@query(
    "stream_apply_changes",
    oracle=f"""
    -- STREAMING KEYED INCREMENTAL VIEW: the same MERGE + DV-delete +
    -- OPTIMIZE history as tx_apply_changes_keyed, but the downstream
    -- state is maintained by a LIVE readChangeFeed + withRowIds stream
    -- (AvailableNow): each micro-batch folds via acid.apply_changes —
    -- net-cancel by change sign, then two id-keyed set ops — into a
    -- parquet state swapped per batch. The checked rows are the final
    -- streamed state; sync_ok asserts it equals the direct recompute
    -- bag-exactly (row ids included) with zero table rereads.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d BETWEEN 6 AND 8 THEN n + 1000
                     ELSE n END AS BIGINT) AS n,
           true AS sync_ok
    FROM c
    WHERE d IS NULL OR (d < 30 AND NOT (d BETWEEN 3 AND 4))
    UNION ALL
    SELECT event_type, CAST(d + 300 AS BIGINT) AS d, n, true AS sync_ok
    FROM c WHERE d BETWEEN 1 AND 2
    """,
)
def stream_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx_apply_changes_keyed AS A STREAM (r10): ``readStream.format(
    "minilog").option("readChangeFeed", "true").option("withRowIds",
    "true")`` — the CDF source now carries each row's STABLE id, so a
    keyed downstream table follows the source with no business-key
    reconstruction: every micro-batch folds through
    ``acid.apply_changes`` (identical (row, id) pairs net-cancel by
    change sign first, so a batch spanning several commits equals the
    per-commit fold), landing the state as an atomically swapped
    parquet generation per batch. The stream bootstraps the state FROM
    EMPTY via the CDF source's snapshot-bootstrap batch — the consumer
    never reads the source table directly.

    At 100 TB this is the SCD/current-state consumer loop: each
    trigger costs O(commit churn) — the CDF partitions read only the
    churned files, the fold is two id-keyed set operations — while the
    maintained table stays exactly consistent through MERGE rewrites,
    DV deletes, and compactions (which feed nothing)."""
    from ..acid import apply_changes
    from ..sources.minilog_source import register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "apply_stream")
    if not ready:
        c = _day_counters(spark, sf_dir)
        tbl.append(c.filter((F.col("d") <= 15) | F.col("d").isNull()))
        tbl.append(c.filter(F.col("d") >= 16))
        upd = c.filter(F.col("d").between(6, 8)).withColumn(
            "n", (F.col("n") + F.lit(1000)).cast("long")
        )
        new = c.filter(F.col("d").between(1, 2)).withColumn(
            "d", (F.col("d") + F.lit(300)).cast("long")
        )
        tbl.merge_clauses(
            upd.unionByName(new),
            keys=("event_type", "d"),
            prune_col="d",
            matched=({"action": "update", "set": {"n": "source.n"}},),
            not_matched=({"action": "insert"},),
            not_matched_by_source=(
                {"action": "delete", "condition": "target.d >= 30"},
            ),
        )
        tbl.delete_where_dv("d", 3, 4)
        tbl.optimize(target_rows=1_000_000)
        _mark_ready(tbl, sf_dir)
    ws = tempfile.mkdtemp(prefix="apply_stream_state_")
    boot = os.path.join(ws, "state_boot")
    spark.createDataFrame(
        [], "event_type string, d bigint, n bigint, _row_id bigint"
    ).write.parquet(boot)
    cur = {"path": boot, "batches": 0}

    def fold(batch: DataFrame, bid: int) -> None:
        state = spark.read.parquet(cur["path"])
        nxt = apply_changes(state, batch.drop("_commit_version"))
        out = os.path.join(ws, f"state_{bid}")
        nxt.write.parquet(out)
        cur["path"] = out
        cur["batches"] += 1

    feed = (
        spark.readStream.format("minilog")
        .option("readChangeFeed", "true")
        .option("withRowIds", "true")
        .load(tbl.path)
    )
    run_foreach_batch(feed, fold, mode="append")
    state = spark.read.parquet(cur["path"])
    direct = tbl.read_with_row_ids()
    sync_ok = (
        cur["batches"] >= 1
        and state.exceptAll(direct).count() == 0
        and direct.exceptAll(state).count() == 0
    )
    return state.select(
        "event_type",
        "d",
        "n",
        F.lit(bool(sync_ok)).alias("sync_ok"),
    )


# ---------------------------------------------------------------------------
# Round 11: the SQL surface (VERDICT r10 task 1) — temp-view SELECT with
# version/timestamp time travel, and parsed SQL DML (INSERT / UPDATE /
# DELETE / MERGE) lowered onto the ACID verbs via sql.run_sql. The catalog
# route (CREATE TABLE ... USING minilog) is API-blocked in Spark 4.1 —
# PythonDataSourceV2.getTable drops the properties map, so catalog readers
# get empty options; sql.py's module docstring pins the bytecode evidence.
# ---------------------------------------------------------------------------


def _tag(sf_dir: str) -> str:
    import re

    return re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))


@query(
    "src_minilog_sql",
    oracle=f"""
    -- the SQL surface: one spark.sql statement reads the SAME MiniLog
    -- table three ways — latest snapshot, VERSION AS OF 1, and
    -- TIMESTAMP AS OF the first commit's in-commit timestamp — through
    -- registered temp views. Latest reflects two SQL DML statements
    -- (UPDATE doubling n for d<=5, DELETE of d in 11..13) that ran via
    -- run_sql; the historical reads see through both.
    WITH c AS ({_COUNTERS_SQL})
    SELECT 'latest' AS as_of, event_type, d,
           CAST(CASE WHEN d <= 5 THEN n * 2 ELSE n END AS BIGINT) AS n
    FROM c WHERE d <= 25 AND d NOT BETWEEN 11 AND 13
    UNION ALL
    SELECT 'v1' AS as_of, event_type, d, n FROM c WHERE d <= 25
    UNION ALL
    SELECT 'ts0' AS as_of, event_type, d, n FROM c WHERE d <= 15
    """,
)
def src_minilog_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT surface over MiniLog through plain ``spark.sql``: the
    table is staged with ACID commits (two appends via SQL INSERT, a
    SQL UPDATE, a SQL DELETE), then ONE SQL statement unions the
    latest view with a ``version=1`` view and a ``timestamp=`` view
    (sql.minilog_view — the Delta VERSION/TIMESTAMP AS OF equivalents,
    reachable as temp views because 4.1's Python DataSource has no
    catalog/time-travel hook; see sql.py)."""
    from ..sql import create_table, minilog_view, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_sql_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_surface")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        c = _day_counters(spark, sf_dir)
        c.createOrReplaceTempView(f"counters_src_{tag}")
        run_sql(
            spark,
            f"INSERT INTO {name} SELECT event_type, d, n "
            f"FROM counters_src_{tag} WHERE d <= 15",
        )
        run_sql(
            spark,
            f"INSERT INTO {name} SELECT event_type, d, n "
            f"FROM counters_src_{tag} WHERE d BETWEEN 16 AND 25",
        )
        run_sql(
            spark,
            f"UPDATE {name} SET n = n * 2 WHERE d <= 5",
        )
        run_sql(
            spark, f"DELETE FROM {name} WHERE d BETWEEN 11 AND 13"
        )
        assert tbl.version == 3, tbl.history()
        _mark_ready(tbl, sf_dir)
    v1 = minilog_view(spark, tbl.path, name=f"{name}_v1", version=1)
    ts0 = next(
        h["timestamp"] for h in tbl.history() if h["version"] == 0
    )
    tsv = minilog_view(
        spark, tbl.path, name=f"{name}_ts0", timestamp=ts0
    )
    return run_sql(
        spark,
        f"""
        SELECT 'latest' AS as_of, event_type, d, CAST(n AS BIGINT) AS n
        FROM {name}
        UNION ALL
        SELECT 'v1' AS as_of, event_type, d, n FROM {v1}
        UNION ALL
        SELECT 'ts0' AS as_of, event_type, d, n FROM {tsv}
        """,
    )


@query(
    "tx_sql_update_delete",
    oracle=f"""
    -- SQL UPDATE (find-touched-files scan + id-preserving rewrite of
    -- only those files) then SQL DELETE (general-predicate form): the
    -- final table equals the declarative rewrite of the base counters.
    -- NULL-d rows (NULL-ts events in a hostile corpus) SURVIVE the
    -- delete: SQL DELETE removes only predicate-TRUE rows, and
    -- "d > 28" is NULL there — the oracle must keep them too (caught
    -- by the r11 hostile sweep: a bare "WHERE d <= 28" drops them)
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d % 2 = 0 AND d <= 10 THEN n + 7 ELSE n END
                AS BIGINT) AS n
    FROM c WHERE d IS NULL OR d <= 28
    """,
)
def tx_sql_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string UPDATE and DELETE against a MiniLog table
    (sql.run_sql → acid.update_where / acid.delete_predicate): every
    SET expression evaluates against the pre-update row, rows keep
    their stable ids through the rewrite, NULL-predicate rows survive
    a DELETE (SQL semantics), and only files holding a matching row
    are rewritten (the find-touched-files job — Delta's UPDATE/DELETE
    execution shape)."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_dml_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_dml")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        tbl.append(_day_counters(spark, sf_dir))
        run_sql(
            spark,
            f"UPDATE {name} SET n = n + 7 "
            "WHERE d % 2 = 0 AND d <= 10",
        )
        run_sql(spark, f"DELETE FROM {name} WHERE d > 28")
        assert tbl.version == 2, tbl.history()
        _mark_ready(tbl, sf_dir)
    return tbl.read().select(
        "event_type", "d", F.col("n").cast("long").alias("n")
    )


@query(
    "tx_sql_merge",
    oracle=f"""
    -- SQL MERGE INTO parsed onto merge_clauses: conditional DELETE
    -- tombstones (d<=3), UPDATE upserts (16..20 -> n+1000), and
    -- guarded INSERTs (21..25 as new rows), one atomic commit.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d BETWEEN 16 AND 20 THEN n + 1000 ELSE n END
                AS BIGINT) AS n
    FROM c WHERE d BETWEEN 4 AND 20
    UNION ALL
    SELECT event_type, d, CAST(n + 1000 AS BIGINT) AS n
    FROM c WHERE d BETWEEN 21 AND 25
    """,
)
def tx_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE statement — the full clause grammar (WHEN MATCHED AND
    cond THEN DELETE / WHEN MATCHED THEN UPDATE SET / WHEN NOT MATCHED
    AND cond THEN INSERT (cols) VALUES (exprs)) with a subquery source
    and both-sided aliases, parsed by sql.py and executed as ONE
    merge_clauses commit. Expressions pass through to Spark's own
    parser; only statement structure is parsed in Python."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_merge_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_merge")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        c = _day_counters(spark, sf_dir)
        c.createOrReplaceTempView(f"merge_src_{tag}")
        tbl.append(c.filter(F.col("d") <= 20))
        run_sql(
            spark,
            f"""
            MERGE INTO {name} AS t
            USING (SELECT event_type, d,
                          CAST(n + 1000 AS BIGINT) AS n,
                          CASE WHEN d <= 3 THEN 'd' ELSE 'u' END AS op
                   FROM merge_src_{tag}
                   WHERE d <= 3 OR d BETWEEN 16 AND 25) AS s
            ON t.d = s.d AND t.event_type = s.event_type
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET n = s.n
            WHEN NOT MATCHED AND s.op = 'u'
              THEN INSERT (event_type, d, n)
                   VALUES (s.event_type, s.d, s.n)
            """,
        )
        assert tbl.version == 1, tbl.history()
        _mark_ready(tbl, sf_dir)
    return tbl.read().select(
        "event_type", "d", F.col("n").cast("long").alias("n")
    )


@query(
    "stream_minilog_ratelimit",
    oracle=f"""
    -- admission control on the NATIVE source: a 10-file multi-commit
    -- backlog drained under maxFilesPerTrigger=3 must yield >= 4
    -- capped micro-batches whose union equals batch truth exactly —
    -- batch-split independence, the stream_backpressure contract,
    -- now on the commit-log source via (version, file-index) offsets.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, TRUE AS multi_batch FROM c
    """,
)
def stream_minilog_ratelimit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maxFilesPerTrigger on the MiniLog STREAMING source (VERDICT r10
    task 2): five staged commits (2 files each) are drained by
    SEQUENTIAL single-batch runs over ONE checkpoint — the Python
    DataSource API executes AvailableNow as single-batch, so each run
    consumes exactly one capped batch; a 3-file cap over 2-file
    commits forces batches that SPAN commit boundaries mid-commit,
    which is precisely what the composite (version, file-index) offset
    exists for. The drain needs >= ceil(10/3) = 4 runs (a capless
    source would take 1), every restart resumes exactly-once from the
    checkpointed composite offset, and the final sink equals the
    direct table read. Caps also protect the snapshot-bootstrap batch
    (vacuum-truncated tables) — pinned in tests/test_ratelimit.py."""
    from ..sources.minilog_source import register

    register(spark)
    tbl, ready = _staged(spark, sf_dir, "ratelimit")
    sink = tbl.path + "_sink"
    ck = tbl.path + "_ck"
    stats = os.path.join(tbl.path, "_RATELIMIT")
    if not ready:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        c = _day_counters(spark, sf_dir)
        slices = [
            (F.col("d") <= 5) | F.col("d").isNull(),
            F.col("d").between(6, 10),
            F.col("d").between(11, 15),
            F.col("d").between(16, 20),
            F.col("d") >= 21,
        ]
        for cond in slices:
            tbl.append(c.filter(cond).repartition(2), target_files=2)
        assert sum(len(tbl.snapshot().files) for _ in (1,)) == 10
        total = tbl.read().count()
        runs = 0
        while True:
            q = (
                spark.readStream.format("minilog")
                .option("maxFilesPerTrigger", "3")
                .load(tbl.path)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .outputMode("append")
                .start()
            )
            assert q.awaitTermination(300)
            runs += 1
            try:
                done = spark.read.parquet(sink).count() >= total
            except Exception:
                done = False
            if done:
                break
            assert runs <= 20, "rate-limited drain did not converge"
        with open(stats, "w") as fh:
            json.dump({"runs": runs, "total": int(total)}, fh)
        _mark_ready(tbl, sf_dir)
    with open(stats) as fh:
        st = json.load(fh)
    drained = spark.read.parquet(sink)
    # exactly-once across the capped runs: sink == direct table read
    multi = bool(
        st["runs"] >= 4 and drained.count() == st["total"]
    )
    return drained.select(
        "event_type", "d", "n", F.lit(multi).alias("multi_batch")
    )


@query(
    "tx_sql_delete_dv",
    oracle=f"""
    -- SQL DELETE executed MERGE-ON-READ (deletion vectors): the
    -- general predicate's matches are masked via one sidecar (zero
    -- data bytes rewritten), NULL-predicate rows survive, a SQL
    -- OPTIMIZE then physically reclaims the masked rows (DVs purged),
    -- and DESCRIBE HISTORY names the exact commit sequence.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n,
           'append,delete_dv,optimize' AS ops
    FROM c WHERE d IS NULL OR d % 3 <> 0
    """,
)
def tx_sql_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-strategy SQL DELETE (sql.run_sql(delete_strategy="dv") →
    acid.delete_predicate_dv): the find-touched-files scan is shared
    with the rewrite path, but matching rows land as (file, position)
    pairs in ONE sidecar and the same data files re-commit masked —
    O(deleted rows) written, the GDPR-delete shape at 100 TB. The op
    then runs SQL OPTIMIZE (compaction purges the vectors — masked
    rows physically gone, none resurrected) and projects DESCRIBE
    HISTORY's operation column as proof of the commit sequence."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_dvdel_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_delete_dv")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        tbl.append(_day_counters(spark, sf_dir))
        res = run_sql(
            spark,
            f"DELETE FROM {name} WHERE d % 3 = 0",
            delete_strategy="dv",
        )
        assert res["dv_files"] > 0 and res.get("rewritten", 0) == 0, res
        # masked rows invisible, vectors still present pre-compaction
        assert any(f.dv for f in tbl.snapshot().files)
        run_sql(spark, f"OPTIMIZE {name}")
        assert not any(f.dv for f in tbl.snapshot().files)
        _mark_ready(tbl, sf_dir)
    hist = run_sql(spark, f"DESCRIBE HISTORY {name}")
    ops = ",".join(
        r["operation"]
        for r in hist.orderBy("version").collect()
    )
    return tbl.read().select(
        "event_type",
        "d",
        F.col("n").cast("long").alias("n"),
        F.lit(ops).alias("ops"),
    )


@query(
    "tx_sql_update_dv",
    oracle=f"""
    -- SQL UPDATE executed MERGE-ON-READ (deletion vectors, VERDICT
    -- r12 task 2): the matched rows' (file, position) pairs land in
    -- one sidecar and the replacement rows APPEND in the SAME commit
    -- — O(changed rows) written, zero unmatched bytes rewritten
    -- (the copy-on-write path rewrote 64/64 files for a point update
    -- at the r12 100x probe). Row ids ride into the replacements, so
    -- the change feed links each mask+append as ONE update pre/post
    -- pair; SQL OPTIMIZE then physically reclaims the masked rows.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d,
           CAST(CASE WHEN d % 5 = 0 THEN n * 10 ELSE n END
                AS BIGINT) AS n,
           'append,update_dv,optimize' AS ops
    FROM c
    """,
)
def tx_sql_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-strategy SQL UPDATE (sql.run_sql(update_strategy="dv") →
    acid.update_predicate_dv): merge-on-read UPDATE, the public Delta
    DV-update shape. One commit holds (a) the touched files re-added
    with their matched positions masked in a fresh sidecar and (b) the
    replacement rows — SET expressions evaluated against the
    PRE-update values — appended as new files carrying the masked
    rows' stable ids in the materialized ``__row_id`` column. Write
    volume is O(changed rows): the r13 100x probe
    (tools/scale100_r13.log) measures the same point update that
    rewrote 64/64 files (149 s) under copy-on-write landing as a
    page-sized sidecar + one replacement file.

    The op pins the THREE contracts that make DV-update usable:
    dv_files > 0 with rewritten == 0 (no data-file rewrite);
    changes_with_ids(0, 1) yields EXCLUSIVELY linked update_preimage/
    update_postimage pairs — count == the verb's updated count, every
    post-image n == 10x its same-id pre-image (row-id preservation
    across the mask+append); and SQL OPTIMIZE purges the vectors
    without resurrecting a masked row (final read == oracle). NULL-d
    rows never match (NULL % 5 is NULL, not 0) — the fleet NULL rule.
    """
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_dvupd_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_update_dv")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        tbl.append(_day_counters(spark, sf_dir))
        res = run_sql(
            spark,
            f"UPDATE {name} SET n = n * 10 WHERE d % 5 = 0",
            update_strategy="dv",
        )
        assert res["dv_files"] > 0 and res.get("rewritten", 0) == 0, res
        # masked rows invisible, vectors present pre-compaction
        assert any(f.dv for f in tbl.snapshot().files)
        # CDF linkage: the DV commit feeds ONLY linked update pairs —
        # the masked pre-image and the appended post-image share ids
        ch = tbl.changes_with_ids(0, 1)
        pre = ch.filter(F.col("_change_type") == "update_preimage")
        post = ch.filter(F.col("_change_type") == "update_postimage")
        n_pre, n_post = pre.count(), post.count()
        assert n_pre == n_post == res["updated"], (n_pre, n_post, res)
        assert (
            ch.filter(
                F.col("_change_type").isin("insert", "delete")
            ).count()
            == 0
        )
        linked = pre.select(
            "_row_id", F.col("n").alias("n_pre")
        ).join(
            post.select("_row_id", F.col("n").alias("n_post")),
            "_row_id",
        )
        assert linked.count() == n_pre  # ids pair 1:1
        assert (
            linked.filter(
                F.col("n_post") != F.col("n_pre") * 10
            ).count()
            == 0
        )
        run_sql(spark, f"OPTIMIZE {name}")
        assert not any(f.dv for f in tbl.snapshot().files)
        _mark_ready(tbl, sf_dir)
    hist = run_sql(spark, f"DESCRIBE HISTORY {name}")
    ops = ",".join(
        r["operation"] for r in hist.orderBy("version").collect()
    )
    return tbl.read().select(
        "event_type",
        "d",
        F.col("n").cast("long").alias("n"),
        F.lit(ops).alias("ops"),
    )


@query(
    "tx_sql_catalog",
    oracle=f"""
    -- SQL catalog utility statements (VERDICT r12 task 6): SHOW
    -- TABLES lists the shim's registrations (glob filter), DESCRIBE
    -- TABLE presents the live log schema + constraint metadata, DROP
    -- TABLE unregisters (external semantics — data stays; IF EXISTS
    -- of an unknown name is a registered no-op, plain DROP raises).
    -- live_rows ties the probe to the data: the surviving table's
    -- count equals the counters aggregate's cardinality.
    WITH c AS ({_COUNTERS_SQL})
    SELECT item, value FROM (
      VALUES
        ('col:event_type', 'string'),
        ('col:d', 'bigint'),
        ('col:n', 'bigint'),
        ('constraint:n_nonneg', 'n >= 0'),
        ('tables_before', 'a,b'),
        ('tables_after', 'a'),
        ('drop_unknown', 'noop'),
        ('live_rows', (SELECT CAST(count(*) AS VARCHAR) FROM c))
    ) AS v(item, value)
    """,
)
def tx_sql_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL catalog statements — DROP TABLE [IF EXISTS] [PURGE], SHOW
    TABLES [LIKE], DESCRIBE TABLE — closing the SQL surface under its
    own DDL (VERDICT r12 task 6): a table created by CTAS/create_table
    can now be listed, inspected, and retired without leaving SQL.

    Semantics pinned here and in tests/test_sql_surface.py: DROP is
    EXTERNAL-table shaped (the shim registration and temp view go; the
    commit log and data stay on disk — a later create_table on the
    same path resurrects the table at its current version; PURGE is
    the explicit destructive opt-in); DROP of an unknown name raises
    loudly while IF EXISTS returns a registered no-op; SHOW TABLES is
    a pure shim+log-metadata fold (one O(#commits) version fold per
    name, no data IO); DESCRIBE TABLE rows come from the LIVE snapshot
    (a post-RENAME describe presents the renamed column — the
    across-a-rename probe the r12 brief asked for is pinned in
    tests/test_sql_surface.py::test_describe_table_across_rename).

    The returned frame re-derives every probe from the verbs' actual
    outputs: the col:/constraint: items are DESCRIBE TABLE rows, the
    tables_before/after items are SHOW TABLES listings around the
    DROP, drop_unknown carries the IF-EXISTS no-op, and live_rows is
    the surviving table's count (data-dependent, so a staging bug
    can't hide behind literals)."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name_a = f"minilog_cat_a_{tag}"
    name_b = f"minilog_cat_b_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_catalog")
    tbl_b, ready_b = _staged(spark, sf_dir, "sql_catalog_b")
    create_table(spark, name_a, tbl.path, stats_cols=("d",))
    create_table(spark, name_b, tbl_b.path)
    if not ready:
        tbl.append(_day_counters(spark, sf_dir))
        run_sql(
            spark,
            f"ALTER TABLE {name_a} ADD CONSTRAINT n_nonneg "
            "CHECK (n >= 0)",
        )
        _mark_ready(tbl, sf_dir)
    if not ready_b:
        run_sql(spark, f"INSERT INTO {name_b} (k) VALUES (1)")
        _mark_ready(tbl_b, sf_dir)

    def _listing() -> str:
        rows = run_sql(
            spark, f"SHOW TABLES LIKE 'minilog_cat_*_{tag}'"
        ).collect()
        # normalize to short labels so the oracle is corpus-agnostic
        return ",".join(
            sorted(
                r["table_name"].split("_")[2] for r in rows
            )
        )

    items = []
    before = _listing()
    desc = run_sql(spark, f"DESCRIBE TABLE {name_a}").collect()
    for r in desc:
        if not r["col_name"].startswith("#"):
            items.append((f"col:{r['col_name']}", r["data_type"]))
        elif r["col_name"].startswith("# constraint:"):
            items.append(
                (
                    r["col_name"].replace("# ", "", 1),
                    r["data_type"],
                )
            )
    res = run_sql(spark, f"DROP TABLE {name_b}")
    assert res["dropped"] is True and res["purged"] is False, res
    after = _listing()
    # the dropped table's DATA survived (external semantics): its
    # version is unchanged on disk even though the name is gone
    assert tbl_b.version >= 0
    noop = run_sql(spark, "DROP TABLE IF EXISTS minilog_cat_nope")
    assert noop == {"operation": "drop_table", "dropped": False}, noop
    try:
        run_sql(spark, "DROP TABLE minilog_cat_nope")
        raise AssertionError("DROP of an unknown table must raise")
    except ValueError as e:
        assert "unknown table" in str(e)
    items += [
        ("tables_before", before),
        ("tables_after", after),
        ("drop_unknown", "noop"),
        ("live_rows", str(tbl.read().count())),
    ]
    return spark.createDataFrame(items, "item STRING, value STRING")


@query(
    "tx_sql_delete_subquery",
    oracle=f"""
    -- SQL DML with SUBQUERY predicates (VERDICT r11 task 3): an
    -- IN-subquery DELETE and a correlated-EXISTS DELETE, both
    -- self-referencing the target through its view (standard SQL:
    -- each subquery sees the PRE-delete state), then a scalar-
    -- subquery UPDATE. NULL-d rows survive every step (IN/EXISTS
    -- over a NULL key is never TRUE; a NULL WHERE is no UPDATE).
    WITH c AS ({_COUNTERS_SQL}),
    s1 AS (SELECT * FROM c WHERE d IS NULL OR d % 4 <> 0),
    s2 AS (SELECT * FROM s1 x WHERE NOT EXISTS (
             SELECT 1 FROM s1 t WHERE t.d = x.d AND t.n < x.n)),
    m AS (SELECT max(d) AS md FROM s2)
    SELECT event_type, d,
           CAST(CASE WHEN d <= 10 THEN n + (SELECT md FROM m)
                     ELSE n END AS BIGINT) AS n
    FROM s2
    """,
)
def tx_sql_delete_subquery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Subquery predicates through the SQL DML surface (VERDICT r11
    task 3). Three statements against one MiniLog table:

    1. ``DELETE ... WHERE d IN (SELECT d FROM t WHERE d % 4 = 0)`` —
       an uncorrelated IN-subquery that SELF-REFERENCES the target:
       the catalog shim refreshes the view before the verb runs, so
       the subquery reads the pre-delete snapshot (read-your-writes +
       standard SQL DELETE semantics).
    2. ``DELETE FROM t AS x WHERE EXISTS (SELECT 1 FROM t WHERE
       t.d = x.d AND t.n < x.n)`` — a CORRELATED EXISTS: sql.py
       rewrites the outer references to the statement alias and
       acid.delete_predicate evaluates the predicate over the
       ``.alias()``-ed frame (probed 4.1 behavior: DataFrame-API
       outer-alias correlation resolves in Filter and Project), so
       only each day's minimum-n rows survive.
    3. ``UPDATE ... SET n = n + (SELECT max(d) FROM t) WHERE
       d <= 10`` — a scalar subquery in a SET expression.

    Execution shape is unchanged from the plain-predicate verbs: ONE
    find-touched-files scan per statement (subquery included — it
    rides inside the same Catalyst plan as a SubqueryExec over the
    view), only matching files rewritten. NULL-d rows survive all
    three statements. The unsupported shapes stay loud:
    tests/test_sql_surface.py pins an undeclared alias inside a
    subquery (Spark AnalysisException) and a subquery in a MERGE ON
    (ValueError from the key grammar)."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_subq_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_delete_subquery")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    if not ready:
        tbl.append(_day_counters(spark, sf_dir))
        run_sql(
            spark,
            f"DELETE FROM {name} WHERE d IN "
            f"(SELECT d FROM {name} WHERE d % 4 = 0)",
        )
        run_sql(
            spark,
            f"DELETE FROM {name} AS x WHERE EXISTS "
            f"(SELECT 1 FROM {name} WHERE {name}.d = x.d "
            f"AND {name}.n < x.n)",
        )
        run_sql(
            spark,
            f"UPDATE {name} SET n = n + (SELECT max(d) FROM {name}) "
            "WHERE d <= 10",
        )
        assert tbl.version == 3, tbl.history()
        _mark_ready(tbl, sf_dir)
    return tbl.read().select(
        "event_type", "d", F.col("n").cast("long").alias("n")
    )


@query(
    "tx_sql_ctas",
    oracle=f"""
    -- CTAS + REPLACE TABLE through the SQL surface: CREATE TABLE AS
    -- wrote the full day-counter aggregate (v0), CREATE OR REPLACE
    -- atomically swapped in the d <= 15 / NULL-d slice (v1, one
    -- overwrite commit). ctas_ok pins (live, every call): the dup
    -- CREATE raised, IF NOT EXISTS was a no-op, version == 1, and
    -- time travel to v0 still reads the FULL pre-replace aggregate.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d, n, true AS ctas_ok
    FROM c WHERE d <= 15 OR d IS NULL
    """,
)
def tx_sql_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE [OR REPLACE] TABLE ... AS <query>`` — the DDL leg of
    the SQL surface (sql.py:_run_create). Staged history:

    1. ``CREATE TABLE t LOCATION '<path>' AS SELECT <day counters>``
       — v0 append, schema defined by the query;
    2. a second plain CREATE on the same name → ValueError (loud dup);
    3. ``CREATE TABLE IF NOT EXISTS ... AS SELECT 1`` → registered
       no-op, no commit;
    4. ``CREATE OR REPLACE TABLE ... AS <d <= 15 or NULL slice>`` —
       ONE atomic overwrite commit (data AND schema may change;
       Delta's REPLACE TABLE semantics), so readers never see a
       half-replaced table and v0 time travel still serves the full
       pre-replace aggregate.

    At 100 TB the REPLACE is the safe full-refresh primitive: the new
    data stages completely before one metadata swap, and the old
    snapshot stays addressable until VACUUM's retention boundary."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_ctas_{tag}"
    src = f"ev_ctas_src_{tag}"
    table(spark, sf_dir, "events").createOrReplaceTempView(src)
    tbl, ready = _staged(spark, sf_dir, "sql_ctas")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    info_tag = os.path.join(tbl.path, "_CTAS_INFO")
    counters = (
        "SELECT event_type, CAST(day(ts) AS BIGINT) AS d, "
        f"CAST(count(*) AS BIGINT) AS n FROM {src} GROUP BY 1, 2"
    )
    if not ready:
        run_sql(
            spark,
            f"CREATE TABLE {name} LOCATION '{tbl.path}' AS {counters}",
        )
        try:
            run_sql(
                spark,
                f"CREATE TABLE {name} LOCATION '{tbl.path}' "
                "AS SELECT 1 AS one",
            )
            dup_raised = False
        except ValueError:
            dup_raised = True
        noop = run_sql(
            spark,
            f"CREATE TABLE IF NOT EXISTS {name} LOCATION '{tbl.path}' "
            "AS SELECT 1 AS one",
        )
        run_sql(
            spark,
            f"CREATE OR REPLACE TABLE {name} LOCATION '{tbl.path}' AS "
            f"SELECT * FROM ({counters}) WHERE d <= 15 OR d IS NULL",
        )
        with open(info_tag, "w") as fh:
            json.dump(
                {"dup_raised": dup_raised, "noop": noop["operation"]}, fh
            )
        _mark_ready(tbl, sf_dir)
    with open(info_tag) as fh:
        info = json.load(fh)
    full_n = _day_counters(spark, sf_dir).count()
    ctas_ok = (
        info["dup_raised"]
        and info["noop"] == "noop"
        and tbl.version == 1
        and tbl.read(version=0).count() == full_n
    )
    return tbl.read().select(
        "event_type",
        "d",
        F.col("n").cast("long").alias("n"),
        F.lit(bool(ctas_ok)).alias("ctas_ok"),
    )


@query(
    "tx_sql_alter",
    oracle=f"""
    -- ALTER TABLE through the SQL surface, all O(metadata): ADD
    -- COLUMN note (existing rows read back NULL), one INSERT carrying
    -- the new column, RENAME COLUMN d -> day (files keep the physical
    -- name), ADD COLUMNS (w, z) then DROP COLUMN both (schema
    -- round-trip, physicals retired), ADD CONSTRAINT n >= 0 (then a
    -- violating INSERT rejected), DROP CONSTRAINT. alter_ok pins the
    -- final schema, the v0 narrow schema via time travel, and the
    -- staged rejection flags.
    WITH c AS ({_COUNTERS_SQL})
    SELECT event_type, d AS day, n, CAST(NULL AS VARCHAR) AS note,
           true AS alter_ok
    FROM c
    UNION ALL
    SELECT 'synthetic', CAST(99 AS BIGINT), CAST(1 AS BIGINT),
           'added', true
    """,
)
def tx_sql_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE`` via SQL (sql.py:_run_alter), every verb lowered
    onto a single metaData commit — ZERO data files rewritten at any
    step (the public Delta ALTER contract; at 100 TB these are instant
    DDLs, not table rewrites):

    - ADD COLUMN note string — pre-alter rows null-fill on read;
    - INSERT INTO (cols...) VALUES carrying the new column;
    - RENAME COLUMN d TO day — column mapping: every parquet file
      keeps the physical name, readers resolve logical -> physical;
    - ADD COLUMNS (w decimal(10,2), z bigint) then DROP COLUMN w / z —
      the drop RETIRES the physical names so a later re-add can never
      resurrect dropped bytes;
    - ADD CONSTRAINT n_nonneg CHECK (n >= 0) — validates existing
      rows first; a violating INSERT then aborts consuming no
      version; DROP CONSTRAINT re-admits it (staged last so the final
      state stays constraint-clean for the replay-read).

    alter_ok recomputes live: final log schema exactly
    (event_type, day, n, note), v0 time travel presents the original
    (event_type, d, n), and the staged violation flag."""
    from ..sql import create_table, run_sql

    tag = _tag(sf_dir)
    name = f"minilog_alter_{tag}"
    tbl, ready = _staged(spark, sf_dir, "sql_alter")
    create_table(spark, name, tbl.path, stats_cols=("d",))
    info_tag = os.path.join(tbl.path, "_ALTER_INFO")
    if not ready:
        from ..acid import ConstraintViolation

        tbl.append(_day_counters(spark, sf_dir))
        run_sql(spark, f"ALTER TABLE {name} ADD COLUMN note string")
        run_sql(
            spark,
            f"INSERT INTO {name} (event_type, d, n, note) "
            "VALUES ('synthetic', 99, 1, 'added')",
        )
        run_sql(spark, f"ALTER TABLE {name} RENAME COLUMN d TO day")
        run_sql(
            spark,
            f"ALTER TABLE {name} ADD COLUMNS (w decimal(10,2), z bigint)",
        )
        run_sql(spark, f"ALTER TABLE {name} DROP COLUMN w")
        run_sql(spark, f"ALTER TABLE {name} DROP COLUMN z")
        run_sql(
            spark,
            f"ALTER TABLE {name} ADD CONSTRAINT n_nonneg CHECK (n >= 0)",
        )
        try:
            run_sql(
                spark,
                f"INSERT INTO {name} (event_type, day, n) "
                "VALUES ('hack', 1, -5)",
            )
            rejected = False
        except ConstraintViolation:
            rejected = True
        run_sql(spark, f"ALTER TABLE {name} DROP CONSTRAINT n_nonneg")
        with open(info_tag, "w") as fh:
            json.dump({"rejected": rejected}, fh)
        _mark_ready(tbl, sf_dir)
    with open(info_tag) as fh:
        info = json.load(fh)
    snap = tbl.snapshot()
    alter_ok = (
        info["rejected"]
        and [c["name"] for c in snap.schema]
        == ["event_type", "day", "n", "note"]
        and tbl.read(version=0).columns == ["event_type", "d", "n"]
        and snap.constraints == {}
    )
    return tbl.read().select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        "note",
        F.lit(bool(alter_ok)).alias("alter_ok"),
    )
