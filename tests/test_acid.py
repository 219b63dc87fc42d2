"""MiniLog ACID table format: the mechanics no SQL oracle can express.

The three registered tx_ ops (operators/acid_ops.py) pin the *results* of
time travel / file-pruned merge / exactly-once replay against DuckDB;
this file covers the protocol itself — commit atomicity under racing
writers, conflict detection, data skipping proven on the selected-file
list (never on timing), vacuum retention, and log checkpoints.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from bootic_stats_aggregates_spark.acid import (
    CHECKPOINT_EVERY,
    ConcurrentModification,
    ConstraintViolation,
    MiniLogTable,
    NoSuchVersion,
    SchemaMismatch,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING")


@pytest.fixture
def tbl(spark, tmp_path):
    return MiniLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))


def test_append_read_roundtrip(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.append(_df(spark, [(3, "c")]))
    assert tbl.version == 1
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_time_travel_and_overwrite(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    tbl.overwrite(_df(spark, [(9, "z")]))
    assert [tuple(r) for r in tbl.read(version=0).collect()] == [(1, "a")]
    assert [tuple(r) for r in tbl.read().collect()] == [(9, "z")]
    with pytest.raises(NoSuchVersion):
        tbl.snapshot(7)


def test_data_skipping_on_file_list(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (5, "b")]))    # stats k=[1,5]
    tbl.append(_df(spark, [(10, "c"), (20, "d")]))  # stats k=[10,20]
    assert len(tbl.select_files()) == 2
    assert len(tbl.select_files(prune=("k", 1, 4))) == 1
    assert len(tbl.select_files(prune=("k", 6, 9))) == 0
    assert len(tbl.select_files(prune=("k", 5, 10))) == 2
    # the prune is an optimization on top of the row filter, not the filter
    got = [tuple(r) for r in tbl.read(prune=("k", 5, 10)).collect()]
    assert sorted(got) == [(5, "b"), (10, "c")]


def test_delete_where_rewrites_only_overlap(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (5, "b")]))
    tbl.append(_df(spark, [(10, "c"), (20, "d")]))
    before = set(tbl.select_files())
    info = tbl.delete_where("k", 15, 25)
    assert info["rewritten"] == 1 and info["kept"] == 1
    after = set(tbl.select_files())
    assert before & after, "the non-overlapping file must survive untouched"
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a"), (5, "b"), (10, "c")]


def test_merge_upsert_and_insert(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    info = tbl.merge(
        _df(spark, [(2, "B"), (3, "C")]), keys=("k",), prune_col="k"
    )
    assert info["rewritten"] == 1
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a"), (2, "B"), (3, "C")]


def test_merge_empty_updates_is_noop(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    v = tbl.version
    info = tbl.merge(_df(spark, []), keys=("k",))
    assert info["rewritten"] == 0 and tbl.version == v


_UPSERT = dict(
    matched=({"action": "update", "set": None},),
    not_matched=({"action": "insert"},),
)


def test_merge_clauses_into_emptied_table_inserts_everything(spark, tbl):
    """A target with a schema but no live files (every row deleted) is a
    valid MERGE target: each source row is not-matched and inserts."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.delete_where("k", 1, 2)
    assert tbl.snapshot().files == [] and tbl.snapshot().schema
    info = tbl.merge_clauses(
        _df(spark, [(2, "B"), (7, "g")]), keys=("k",), **_UPSERT
    )
    assert (info["rewritten"], info["kept"]) == (0, 0)
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (2, "B"), (7, "g"),
    ]


def test_merge_is_the_whole_row_merge_clauses(spark, tmp_path):
    """merge() and merge_clauses() with the whole-row clauses leave equal
    rows, row ids and row-tracked change feeds."""
    def run(name, verb):
        t = MiniLogTable(spark, str(tmp_path / name), stats_cols=("k",))
        t.append(_df(spark, [(1, "a"), (2, "b"), (None, "n")]))
        t.append(_df(spark, [(10, "j"), (11, "k")]))
        v0 = t.version
        info = verb(t, _df(spark, [(2, "B"), (None, None), (5, "e")]))
        rows = sorted(
            (tuple(r) for r in t.read_with_row_ids().collect()), key=repr
        )
        feed = sorted(
            (tuple(r) for r in t.changes_with_ids(v0, t.version).collect()),
            key=repr,
        )
        return (info["rewritten"], info["kept"]), rows, feed

    via_merge = run("m", lambda t, src: t.merge(src, keys=("k",)))
    via_clauses = run(
        "c", lambda t, src: t.merge_clauses(src, keys=("k",), **_UPSERT)
    )
    assert via_merge == via_clauses
    assert via_merge[0] == (1, 1)
    assert (2, "B") in {r[:2] for r in via_merge[1]}


def test_concurrent_appends_all_land(spark, tmp_path):
    """N racing appenders: every commit must land (appends auto-rebase
    through version races), versions must be a gapless serial order, and
    no rows may be lost."""
    path = str(tmp_path / "race")
    MiniLogTable(spark, path, stats_cols=("k",)).append(
        _df(spark, [(0, "seed")])
    )
    n_writers, errors = 6, []

    def write(i: int) -> None:
        try:
            t = MiniLogTable(spark, path, stats_cols=("k",))
            t.append(_df(spark, [(i, f"w{i}")]))
        except Exception as exc:  # pragma: no cover - the assert reports it
            errors.append(exc)

    threads = [
        threading.Thread(target=write, args=(i,)) for i in range(1, n_writers + 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    assert not errors
    assert tbl.version == n_writers  # gapless: seed + one per writer
    assert tbl.read().count() == n_writers + 1


def test_cross_process_commit_race(spark, tmp_path):
    """VERDICT r7 task 7: the ``os.link`` version-claim must hold where
    the GIL is NOT accidentally serializing — the thread race above runs
    all writers in one interpreter, so here N separate PROCESSES race
    commits on the same table root (fold_only handles + hand-staged
    parquet, the exact commit layer, no Spark in the workers). A ready
    file per worker + a barrier file maximize overlap. Every commit must
    land: gapless serial versions, no lost rows, across TWO checkpoint
    boundaries (20 commits, CHECKPOINT_EVERY=10). Worker count × commits
    keeps max possible consecutive losses (15) under _try_commit's
    20-race abort."""
    import subprocess
    import sys
    import time

    import bootic_stats_aggregates_spark as pkg

    repo = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    path = str(tmp_path / "xproc")
    MiniLogTable(spark, path, stats_cols=("k",)).append(
        _df(spark, [(0, "seed")])
    )
    barrier = str(tmp_path / "go")
    n_procs, k = 4, 5
    worker = f"""
import os, sys, time, uuid
sys.path.insert(0, {repo!r})
import pyarrow as pa, pyarrow.parquet as pq
from bootic_stats_aggregates_spark.acid import MiniLogTable
path, wid = sys.argv[1], int(sys.argv[2])
tbl = MiniLogTable.fold_only(path, create=True)
open(path + ".ready." + sys.argv[2], "w").close()
deadline = time.time() + 60
while not os.path.exists({barrier!r}):
    time.sleep(0.002)
    assert time.time() < deadline, "barrier never appeared"
for i in range({k}):
    key = 1000 * wid + i
    name = uuid.uuid4().hex + ".parquet"
    pq.write_table(
        pa.table({{"k": pa.array([key], type=pa.int32()),
                   "v": pa.array([f"p{{wid}}.{{i}}"])}}),
        os.path.join(path, name))
    tbl._try_commit("append", [{{"type": "add", "file": name, "rows": 1,
        "stats": {{"k": {{"min": key, "max": key, "nulls": 0}}}}}}])
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, path, str(w)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for w in range(n_procs)
    ]
    deadline = time.time() + 60
    while not all(
        os.path.exists(f"{path}.ready.{w}") for w in range(n_procs)
    ):
        time.sleep(0.01)
        assert time.time() < deadline, "workers never became ready"
    open(barrier, "w").close()
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-2000:]
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    assert tbl.version == n_procs * k  # gapless: seed=v0 + one per commit
    assert tbl.read().count() == 1 + n_procs * k
    # the checkpoint boundary was crossed twice by racing writers
    assert os.path.exists(tbl._ckpt_path(10))
    assert os.path.exists(tbl._ckpt_path(20))


def test_conflicting_rewrites_detected(spark, tbl):
    """Two transactions planning to rewrite the SAME file: the one that
    commits second must fail conflict validation, not silently resurrect
    deleted rows (write skew)."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    victim = tbl.snapshot().files[0].file
    # transaction A deletes k=1 (removes + re-adds the file)
    tbl.delete_where("k", 1, 1)
    # transaction B staged against the OLD snapshot and now tries to
    # commit a removal of the same (no longer live) file
    with pytest.raises(ConcurrentModification):
        tbl._try_commit("merge", [{"type": "remove", "file": victim}])


def test_txn_replay_skips_without_staging(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]), txn={"app": "s", "version": 1})
    tbl.append(_df(spark, [(1, "dup")]), txn={"app": "s", "version": 1})
    tbl.append(_df(spark, [(2, "b")]), txn={"app": "s", "version": 2})
    assert tbl.version == 1
    assert tbl.read().count() == 2
    # data dir holds exactly the two live files: the replay staged nothing
    parquet = [n for n in os.listdir(tbl.path) if n.endswith(".parquet")]
    assert len(parquet) == 2


def test_checkpoint_written_and_equivalent(spark, tbl):
    for i in range(CHECKPOINT_EVERY + 2):
        tbl.append(_df(spark, [(i, f"r{i}")]))
    ckpt = os.path.join(
        tbl.path, "_minilog", f"{CHECKPOINT_EVERY:08d}.checkpoint.json"
    )
    assert os.path.exists(ckpt)
    # fold-from-checkpoint must equal fold-from-scratch: compare against
    # the raw log replayed by hand
    snap = tbl.snapshot()
    live = {}
    for v in range(tbl.version + 1):
        with open(os.path.join(tbl.path, "_minilog", f"{v:08d}.json")) as fh:
            e = json.load(fh)
        for a in e["actions"]:
            if a["type"] == "add":
                live[a["file"]] = a["rows"]
            elif a["type"] == "remove":
                live.pop(a["file"], None)
    assert {f.file: f.rows for f in snap.files} == live


def test_vacuum_drops_unreachable_and_shortens_history(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    tbl.overwrite(_df(spark, [(2, "b")]))
    tbl.overwrite(_df(spark, [(3, "c")]))
    n_parquet = len([n for n in os.listdir(tbl.path) if n.endswith(".parquet")])
    assert n_parquet == 3
    removed = tbl.vacuum(retain_last=1, min_age_seconds=0)
    assert len(removed) == 2
    assert [tuple(r) for r in tbl.read().collect()] == [(3, "c")]
    with pytest.raises(NoSuchVersion):
        tbl.read(version=0)


def test_empty_append_commits_nothing_heavy(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, []))  # empty batch: a commit with zero adds
    assert tbl.read().count() == 1
    snap = tbl.snapshot()
    assert len(snap.files) == 1


def test_delete_where_null_keys_survive(spark, tbl):
    """A NULL key is never 'in [lo, hi]': delete_where must rewrite the
    file WITHOUT dropping its NULL-keyed rows (hostile-corpus NULL
    contract, round-5 bug class)."""
    tbl.append(_df(spark, [(1, "a"), (None, "nul"), (5, "b")]))
    tbl.delete_where("k", 4, 9)
    got = sorted(
        (tuple(r) for r in tbl.read().collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [(1, "a"), (None, "nul")]


def test_merge_null_safe_keys(spark, tbl):
    """MERGE key equality is null-safe: a NULL-keyed update row UPDATES
    the NULL-keyed base row (no duplicate insert) — oracles mirror it
    with IS NOT DISTINCT FROM."""
    tbl.append(_df(spark, [(1, "a"), (None, "old")]))
    tbl.merge(_df(spark, [(None, "new")]), keys=("k",))
    got = sorted(
        (tuple(r) for r in tbl.read().collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [(1, "a"), (None, "new")]


def test_merge_update_can_write_null(spark, tbl):
    """The matched update row wins ROW-WISE: an update that intentionally
    sets a non-key column to NULL writes that NULL instead of silently
    keeping the stale base value (the per-column-coalesce bug, ADVICE
    r6)."""
    tbl.append(_df(spark, [(1, "keep"), (2, "stale")]))
    tbl.merge(_df(spark, [(2, None)]), keys=("k",))
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "keep"), (2, None)]


def test_merge_duplicate_update_keys_fail_fast(spark, tbl):
    """Duplicate keys in the updates side would fan out the full-outer
    join (nondeterministic last-writer, duplicated base rows): merge
    raises instead, mirroring Delta's multiple-match error (ADVICE r6)."""
    tbl.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="duplicate keys"):
        tbl.merge(_df(spark, [(1, "x"), (1, "y")]), keys=("k",))


def test_vacuum_age_guard_protects_inflight_staging(spark, tbl):
    """A fresh unreferenced parquet in the table root may belong to a
    transaction between _stage and commit: vacuum must skip it under the
    default retention window and reclaim it only at min_age_seconds=0
    (ADVICE r6 staging-race guard)."""
    tbl.append(_df(spark, [(1, "a")]))
    staged = os.path.join(tbl.path, "deadbeef00000000.parquet")
    with open(staged, "wb") as fh:
        fh.write(b"not-yet-committed")
    assert tbl.vacuum(retain_last=1) == []  # young file survives
    assert os.path.exists(staged)
    removed = tbl.vacuum(retain_last=1, min_age_seconds=0)
    assert removed == ["deadbeef00000000.parquet"]
    assert not os.path.exists(staged)


def test_optimize_binpacks_and_preserves_data(spark, tbl):
    """OPTIMIZE rewrites many small files into few, as one remove+add
    commit; rows, values, and data skipping all survive."""
    for i in range(5):
        tbl.append(_df(spark, [(10 * i, f"r{i}"), (10 * i + 5, f"s{i}")]))
    assert len(tbl.snapshot().files) == 5
    before = sorted(tuple(r) for r in tbl.read().collect())
    info = tbl.optimize(target_rows=1000)
    assert info["compacted"] == 5 and info["files_after"] == 1
    assert len(tbl.snapshot().files) == 1
    assert sorted(tuple(r) for r in tbl.read().collect()) == before
    # fresh stats on the compacted file keep skipping alive
    assert tbl.select_files(prune=("k", 100, 200)) == []
    assert len(tbl.select_files(prune=("k", 0, 5))) == 1
    # the pre-optimize version still time-travels (files not vacuumed)
    assert tbl.read(version=info["version"] - 1).count() == 10


def test_optimize_noop_cases(spark, tbl):
    """Nothing to pack (single file, or every file at target size) —
    optimize must commit nothing."""
    tbl.append(_df(spark, [(1, "a")]))
    v = tbl.version
    info = tbl.optimize(target_rows=1000)
    assert info["compacted"] == 0 and tbl.version == v
    # two files that can't share a bin (each >= target) also no-op
    tbl.append(_df(spark, [(2, "b"), (3, "c")]))
    info = tbl.optimize(target_rows=2)
    assert info["compacted"] == 0


def test_optimize_conflicts_with_concurrent_rewrite(spark, tbl):
    """A compaction whose input file was rewritten by a concurrent
    delete must abort (ConcurrentModification), never resurrect the
    deleted rows — the Delta conflict matrix's rewrite/rewrite cell."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    victims = [f.file for f in tbl.snapshot().files]
    # compaction staged against this snapshot; a delete lands first
    tbl.delete_where("k", 1, 1)
    with pytest.raises(ConcurrentModification):
        tbl._try_commit(
            "optimize", [{"type": "remove", "file": v} for v in victims]
        )


def test_schema_evolution_add_column(spark, tbl):
    """Add-column via the log's metaData action: gen-2 files carry the
    new column, gen-1 files null-fill on read; both generations stay
    readable through every path (read, time travel, delete rewrite)."""
    tbl.append(_df(spark, [(1, "a")]))
    with pytest.raises(SchemaMismatch, match="adds columns"):
        tbl.append(
            spark.createDataFrame([(2, "b", 99)], "k INT, v STRING, w INT")
        )
    tbl.append(
        spark.createDataFrame([(2, "b", 99)], "k INT, v STRING, w INT"),
        evolve_schema=True,
    )
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a", None), (2, "b", 99)]
    assert [c["name"] for c in tbl.snapshot().schema] == ["k", "v", "w"]
    # time travel to gen-1 keeps the OLD schema (metaData folds by version)
    assert tbl.read(version=0).columns == ["k", "v"]
    # a rewrite path (delete) must preserve the evolved column
    tbl.delete_where("k", 1, 1)
    assert [tuple(r) for r in tbl.read().collect()] == [(2, "b", 99)]


def test_schema_evolution_rejects_type_change(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    with pytest.raises(SchemaMismatch, match="type changes"):
        tbl.append(
            spark.createDataFrame([(2, 3)], "k INT, v INT"),
            evolve_schema=True,
        )


def test_schema_evolution_missing_column_write(spark, tbl):
    """A write missing a table column is legal: readers null-fill from
    the log schema (the Delta nullable-column contract)."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(spark.createDataFrame([(7,)], "k INT"))
    got = sorted(
        (tuple(r) for r in tbl.read().collect()),
        key=lambda t: t[0],
    )
    assert got == [(1, "a"), (7, None)]


def test_multidim_prune_list(spark, tbl2d):
    """prune accepts a LIST of (col, lo, hi) triples, ANDed at both the
    file level (stats skipping) and the row level."""
    tbl2d.append(
        spark.createDataFrame([(1, 1, "a"), (2, 9, "b")], "x INT, y INT, v STRING")
    )
    tbl2d.append(
        spark.createDataFrame([(8, 1, "c"), (9, 9, "d")], "x INT, y INT, v STRING")
    )
    assert len(tbl2d.select_files(prune=[("x", 0, 5), ("y", 0, 5)])) == 1
    got = [
        tuple(r)
        for r in tbl2d.read(prune=[("x", 0, 5), ("y", 0, 5)]).collect()
    ]
    assert got == [(1, 1, "a")]


@pytest.fixture
def tbl2d(spark, tmp_path):
    return MiniLogTable(spark, str(tmp_path / "t2"), stats_cols=("x", "y"))


def test_change_feed_insert_update_delete(spark, tbl):
    """changes(a, b) yields row-level inserts/deletes from the file
    diff: updates surface as delete(old)+insert(new), rows a rewrite
    copied unchanged cancel, and the feed pays only for churned files."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    tbl.append(_df(spark, [(3, "c")]))                    # v1
    tbl.merge(_df(spark, [(2, "B")]), keys=("k",))        # v2: update
    tbl.delete_where("k", 3, 3)                           # v3: delete
    feed = {
        (r["k"], r["v"], r["_change_type"])
        for r in tbl.changes(1, 3).collect()
    }
    assert feed == {
        (2, "B", "insert"),  # update: new row in
        (2, "b", "delete"),  # update: old row out
        (3, "c", "delete"),  # delete
    }
    # (1, "a") was copied unchanged through the merge rewrite: no change
    assert tbl.changes(0, 1).collect()[0]["_change_type"] == "insert"


def test_change_feed_spans_schema_evolution(spark, tbl):
    """A feed across an add-column evolution presents old rows
    null-filled in the NEW shape (both sides project through the TO
    snapshot's log schema)."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(
        spark.createDataFrame([(2, "b", 9)], "k INT, v STRING, w INT"),
        evolve_schema=True,
    )
    feed = {
        (r["k"], r["v"], r["w"], r["_change_type"])
        for r in tbl.changes(0, 1).collect()
    }
    assert feed == {(2, "b", 9, "insert")}


def test_txn_replay_after_staging_cleans_orphans(spark, tbl):
    """If the SAME txn was applied by a concurrent writer between our
    _stage and _try_commit, the replay-skip return must delete the
    already-renamed staged files instead of orphaning them until a
    vacuum (ADVICE r6)."""
    tbl.append(_df(spark, [(1, "a")]), txn={"app": "s", "version": 7})
    # simulate the race: stage a second copy by hand, then try to commit
    # it under the SAME txn marker — _try_commit must skip AND clean up
    actions = tbl._stage(_df(spark, [(1, "dup")]), target_files=1)
    staged_names = {a["file"] for a in actions}
    assert all(
        os.path.exists(os.path.join(tbl.path, n)) for n in staged_names
    )
    v = tbl._try_commit("append", actions, txn={"app": "s", "version": 7})
    assert v == tbl.version  # no new commit
    assert not any(
        os.path.exists(os.path.join(tbl.path, n)) for n in staged_names
    )
    parquet = [n for n in os.listdir(tbl.path) if n.endswith(".parquet")]
    assert len(parquet) == 1  # only the originally-committed file


def test_minilog_datasource_batch_and_stream(spark, tmp_path):
    """The Spark-native DataSource surface (sources/minilog_source.py):
    batch read, option('version') time travel, schema evolution
    null-fill through the source, streaming tail delivering each commit
    exactly once, rewrite commits failing the default stream, and
    ignoreChanges re-emitting rewritten files (Delta's documented
    caveat)."""
    import tempfile

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "ds")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.append(_df(spark, [(3, "c")]))
    got = sorted(
        tuple(r) for r in spark.read.format("minilog").load(path).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    v0 = sorted(
        tuple(r)
        for r in spark.read.format("minilog")
        .option("version", 0)
        .load(path)
        .collect()
    )
    assert v0 == [(1, "a"), (2, "b")]
    # evolution: old files null-fill THROUGH the source
    tbl.append(
        spark.createDataFrame([(4, "d", 9)], "k INT, v STRING, w INT"),
        evolve_schema=True,
    )
    evolved = sorted(
        (r["k"], r["v"], r["w"])
        for r in spark.read.format("minilog").load(path).collect()
    )
    assert evolved == [(1, "a", None), (2, "b", None), (3, "c", None), (4, "d", 9)]

    def tail(name, **opts):
        s = spark.readStream.format("minilog")
        for k, v in opts.items():
            s = s.option(k, v)
        q = (
            s.load(path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["k"] for r in spark.table(name).collect())

    assert tail("ds_tail1") == [1, 2, 3, 4]  # each commit exactly once
    # a rewrite commit must FAIL the default stream...
    tbl.delete_where("k", 1, 1)
    with pytest.raises(Exception, match="rewrites data files"):
        tail("ds_tail2")
    # ...and ignoreChanges re-emits the rewritten file (k=2 twice)
    assert tail("ds_tail3", ignoreChanges="true") == [1, 2, 2, 3, 4]


def test_minilog_datasource_writer(spark, tmp_path):
    """The native write path (sources/minilog_source.py writers):
    append commits carry task-computed stats (skipping works on the
    written table), overwrite swaps the snapshot atomically, schema
    evolution needs mergeSchema, and a plain-session read of the
    written table round-trips."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "w")
    spark.createDataFrame([(1, "a"), (5, "b")], "k INT, v STRING").coalesce(
        1
    ).write.format("minilog").mode("append").option("statsCols", "k").save(
        path
    )
    spark.createDataFrame([(10, "c")], "k INT, v STRING").coalesce(
        1
    ).write.format("minilog").mode("append").option("statsCols", "k").save(
        path
    )
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    assert tbl.version == 1
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "a"), (5, "b"), (10, "c"),
    ]
    # stats computed by the WRITE TASKS drive skipping
    assert len(tbl.select_files(prune=("k", 1, 4))) == 1
    # adding a column without mergeSchema must refuse; with it, evolve
    df3 = spark.createDataFrame([(20, "d", 9)], "k INT, v STRING, w INT")
    with pytest.raises(Exception, match="adds columns"):
        df3.write.format("minilog").mode("append").save(path)
    df3.coalesce(1).write.format("minilog").mode("append").option(
        "mergeSchema", "true"
    ).save(path)
    assert [c["name"] for c in tbl.snapshot().schema] == ["k", "v", "w"]
    got = sorted(
        (r["k"], r["w"]) for r in tbl.read().collect()
    )
    assert got == [(1, None), (5, None), (10, None), (20, 9)]
    # overwrite replaces data AND schema in one commit
    spark.createDataFrame([(99,)], "z INT").coalesce(1).write.format(
        "minilog"
    ).mode("overwrite").save(path)
    assert [tuple(r) for r in tbl.read().collect()] == [(99,)]
    assert [c["name"] for c in tbl.snapshot().schema] == ["z"]


def test_restore_rolls_back_as_new_commit(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))   # v0
    tbl.append(_df(spark, [(3, "c")]))             # v1
    tbl.delete_where("k", 1, 1)                    # v2
    v = tbl.restore(1)                             # v3: undo the delete
    assert v == 3
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # history preserved: the pre-restore state still time-travels
    assert sorted(tuple(r) for r in tbl.read(version=2).collect()) == [
        (2, "b"), (3, "c"),
    ]
    # and the restore itself is undoable
    tbl.restore(2)
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (2, "b"), (3, "c"),
    ]


def test_restore_after_vacuum_raises_cleanly(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))             # v0
    tbl.overwrite(_df(spark, [(2, "b")]))          # v1 (v0's file now dead)
    tbl.overwrite(_df(spark, [(3, "c")]))          # v2
    tbl.vacuum(retain_last=1, min_age_seconds=0)
    # the retention window dropped v0/v1 entirely: NoSuchVersion
    with pytest.raises(NoSuchVersion):
        tbl.restore(1)


def test_restore_missing_file_raises_filenotfound(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))             # v0
    tbl.overwrite(_df(spark, [(2, "b")]))          # v1
    # v0 is still in the log, but its data file is manually reclaimed
    dead = [f.file for f in tbl.snapshot(0).files]
    for name in dead:
        os.unlink(os.path.join(tbl.path, name))
    with pytest.raises(FileNotFoundError):
        tbl.restore(0)
    # the failed restore committed nothing
    assert tbl.version == 1


def test_clone_is_zero_copy_and_isolated(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))   # v0
    clone = tbl.clone(str(tmp_path / "c"))
    # zero-copy: every clone file is a hardlink (shared inode)
    for fe in clone.snapshot().files:
        st = os.stat(os.path.join(clone.path, fe.file))
        assert st.st_nlink >= 2
    # divergence: each side evolves independently
    tbl.append(_df(spark, [(3, "src")]))
    clone.append(_df(spark, [(4, "cl")]))
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "a"), (2, "b"), (3, "src"),
    ]
    assert sorted(tuple(r) for r in clone.read().collect()) == [
        (1, "a"), (2, "b"), (4, "cl"),
    ]
    # isolation: vacuuming/overwriting the SOURCE cannot break the clone
    tbl.overwrite(_df(spark, [(9, "z")]))
    tbl.vacuum(retain_last=1, min_age_seconds=0)
    assert sorted(tuple(r) for r in clone.read().collect()) == [
        (1, "a"), (2, "b"), (4, "cl"),
    ]


def test_clone_refuses_nonempty_target(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a")]))
    other = MiniLogTable(spark, str(tmp_path / "o"), stats_cols=("k",))
    other.append(_df(spark, [(2, "b")]))
    with pytest.raises(ValueError, match="already has a log"):
        tbl.clone(other.path)


def test_clone_at_version(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a")]))             # v0
    tbl.append(_df(spark, [(2, "b")]))             # v1
    clone = tbl.clone(str(tmp_path / "cv"), version=0)
    assert [tuple(r) for r in clone.read().collect()] == [(1, "a")]


def test_restore_fails_tail_stream_and_vacuum_keeps_restored(spark, tmp_path):
    """Cross-feature contracts for RESTORE:

    1. A streaming consumer tailing the log must FAIL on a restore
       commit by default — a restore carries remove actions (it swaps
       the live file set), and replaying its re-added files as appends
       would duplicate rows downstream (same contract as any rewrite;
       ignoreChanges opts into the re-emission).
    2. VACUUM after a restore keeps the restored files: they are live
       again in the retained snapshot, so only the files the restore
       displaced are reclaimable.
    """
    import tempfile

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "rs")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))   # v0
    tbl.delete_where("k", 1, 1)                    # v1: rewrite
    restored_files = {f.file for f in tbl.snapshot(0).files}
    tbl.restore(0)                                 # v2: re-add v0's file,
    #                                                remove the rewrite

    def tail(name, **opts):
        s = spark.readStream.format("minilog")
        for k, v in opts.items():
            s = s.option(k, v)
        q = (
            s.load(path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["k"] for r in spark.table(name).collect())

    with pytest.raises(Exception, match="rewrites data files"):
        tail("rs_tail1")
    # ignoreChanges: v0 emits [1,2], the delete's rewrite re-emits [2],
    # the restore re-emits the re-added original [1,2]
    assert tail("rs_tail2", ignoreChanges="true") == [1, 1, 2, 2, 2]

    removed = tbl.vacuum(retain_last=1, min_age_seconds=0)
    live = {f.file for f in tbl.snapshot().files}
    assert live == restored_files                  # restored files kept
    assert all(n not in restored_files for n in removed)
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_deletion_vector_basic_and_time_travel(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))   # v0, one file
    files_before = {f.file for f in tbl.snapshot().files}
    info = tbl.delete_where_dv("k", 2, 2)                    # v1
    assert info["rewritten"] == 0 and info["dv_rows"] == 1
    # same data file, now carrying a vector — zero bytes rewritten
    snap = tbl.snapshot()
    assert {f.file for f in snap.files} == files_before
    assert all(f.dv for f in snap.files)
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "a"), (3, "c"),
    ]
    # time travel to v0 reads the file unmasked
    assert sorted(tuple(r) for r in tbl.read(version=0).collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_deletion_vectors_compose_and_rewrites_drop_them(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    tbl.delete_where_dv("k", 1, 1)
    tbl.delete_where_dv("k", 3, 3)   # second vector carries the first
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (2, "b"), (4, "d"),
    ]
    assert tbl.snapshot().files[0].dv_rows == 2
    # a rewrite path reads THROUGH the vector (no resurrection) and the
    # rewritten file carries no dv
    tbl.optimize(target_rows=10)
    snap = tbl.snapshot()
    assert all(f.dv is None for f in snap.files)
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (2, "b"), (4, "d"),
    ]


def test_deletion_vector_conflict_detection(spark, tmp_path):
    t1 = MiniLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t1.append(_df(spark, [(1, "a"), (2, "b")]))
    t2 = MiniLogTable(spark, t1.path, stats_cols=("k",))
    # t2 snapshots, then t1 lands a DV delete; t2's delete (staged
    # against the old entry version) must abort, not erase t1's vector
    snap = t2.snapshot()
    touched = [f for f in snap.files]
    t1.delete_where_dv("k", 1, 1)
    import pytest as _pytest

    with _pytest.raises(ConcurrentModification, match="deletion vector"):
        t2._try_commit(
            "delete_dv",
            [{"type": "remove", "file": touched[0].file,
              "base_dv": touched[0].dv},
             {"type": "add", "file": touched[0].file,
              "rows": touched[0].rows, "stats": touched[0].stats,
              "dv": "dv-bogus.parquet", "dv_rows": 1}],
        )


def test_deletion_vector_cdf_and_vacuum(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))   # v0
    info = tbl.delete_where_dv("k", 2, 2)                    # v1
    # CDF across the DV delete: exactly one row-level delete
    feed = tbl.changes(0, 1).collect()
    assert [(r.k, r.v, r._change_type) for r in feed] == [(2, "b", "delete")]
    # vacuum keeps the sidecar while v1 is retained...
    tbl.append(_df(spark, [(9, "z")]))                       # v2
    removed = tbl.vacuum(retain_last=2, min_age_seconds=0)
    assert not [n for n in removed if n.startswith("dv-")]
    assert sorted(r.k for r in tbl.read().collect()) == [1, 3, 9]
    # ...and reclaims it once a rewrite drops the vector everywhere
    tbl.optimize(target_rows=100)
    removed = tbl.vacuum(retain_last=1, min_age_seconds=0)
    assert [n for n in removed if n.startswith("dv-")]
    assert sorted(r.k for r in tbl.read().collect()) == [1, 3, 9]


def test_deletion_vector_restore_swaps_vector_state(spark, tbl):
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))             # v0
    tbl.delete_where_dv("k", 1, 1)                           # v1
    tbl.restore(0)                                           # v2: unmask
    assert sorted(r.k for r in tbl.read().collect()) == [1, 2]
    tbl.restore(1)                                           # v3: remask
    assert sorted(r.k for r in tbl.read().collect()) == [2]


def test_deletion_vector_through_native_source(spark, tmp_path):
    """spark.read.format('minilog') must apply deletion vectors — the
    native surface and the repo API agree on masked rows; the stream
    tail fails on the DV commit by default and re-emits the masked file
    with ignoreChanges."""
    import tempfile

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "dvds")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.delete_where_dv("k", 2, 2)
    got = sorted(
        r.k for r in spark.read.format("minilog").load(path).collect()
    )
    assert got == [1, 3]
    v0 = sorted(
        r.k
        for r in spark.read.format("minilog")
        .option("version", 0)
        .load(path)
        .collect()
    )
    assert v0 == [1, 2, 3]

    def tail(name, **opts):
        s = spark.readStream.format("minilog")
        for k, v in opts.items():
            s = s.option(k, v)
        q = (
            s.load(path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r.k for r in spark.table(name).collect())

    with pytest.raises(Exception, match="rewrites data files"):
        tail("dv_tail1")
    # ignoreChanges re-emits the file WITH its vector applied
    assert tail("dv_tail2", ignoreChanges="true") == [1, 1, 2, 3, 3]


def test_clone_carries_deletion_vectors(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.delete_where_dv("k", 2, 2)
    clone = tbl.clone(str(tmp_path / "dvc"))
    assert sorted(r.k for r in clone.read().collect()) == [1, 3]
    # the clone owns its own sidecar link: source vacuum can't break it
    tbl.optimize(target_rows=100)            # drops the source's vector
    tbl.vacuum(retain_last=1, min_age_seconds=0)
    assert sorted(r.k for r in clone.read().collect()) == [1, 3]


# --------------------------------------------------------------- r8 fixes
def test_concurrent_evolve_appends_keep_both_columns(spark, tbl):
    """ADVICE r7 (medium): two evolve-appends staged against the SAME
    pre-commit snapshot — the loser's metaData must re-merge against the
    live schema inside the commit loop, not land its stale schema and
    silently drop the winner's new column."""
    tbl.append(_df(spark, [(1, "a")]))
    dfx = spark.createDataFrame([(2, "b", 7)], "k INT, v STRING, x INT")
    dfy = spark.createDataFrame(
        [(3, "c", 8.5)], "k INT, v STRING, y DOUBLE"
    )
    # both stage before either commits (the race, made deterministic)
    ax = tbl._stage(dfx, 1)
    ay = tbl._stage(dfy, 1)
    tbl._try_commit("append", ax, schema_ctx=(tbl._df_schema(dfx), True))
    tbl._try_commit("append", ay, schema_ctx=(tbl._df_schema(dfy), True))
    names = [c["name"] for c in tbl.snapshot().schema]
    assert names == ["k", "v", "x", "y"], "loser dropped the winner's column"
    got = sorted(
        (r["k"], r["x"], r["y"]) for r in tbl.read().collect()
    )
    assert got == [(1, None, None), (2, 7, None), (3, None, 8.5)]


def test_concurrent_evolve_type_conflict_raises(spark, tbl):
    """Same race but the columns CONFLICT (both add 'x', different
    types): no well-defined merge exists, so the loser must raise
    SchemaMismatch (Delta's MetadataChangedException analog), never
    commit a schema that mistypes the winner's data."""
    tbl.append(_df(spark, [(1, "a")]))
    dfx1 = spark.createDataFrame([(2, "b", 7)], "k INT, v STRING, x INT")
    dfx2 = spark.createDataFrame(
        [(3, "c", "oops")], "k INT, v STRING, x STRING"
    )
    a1 = tbl._stage(dfx1, 1)
    a2 = tbl._stage(dfx2, 1)
    tbl._try_commit("append", a1, schema_ctx=(tbl._df_schema(dfx1), True))
    with pytest.raises(SchemaMismatch):
        tbl._try_commit(
            "append", a2, schema_ctx=(tbl._df_schema(dfx2), True)
        )


def test_fold_only_read_missing_table_raises(spark, tmp_path):
    """ADVICE r7: reading a typo'd path must say 'not a MiniLog table',
    not silently create directories and report an empty table."""
    bad = str(tmp_path / "no_such_table")
    with pytest.raises(FileNotFoundError, match="not a MiniLog table"):
        MiniLogTable.fold_only(bad)
    assert not os.path.exists(bad), "a read must not create directories"
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    with pytest.raises(Exception, match="not a MiniLog table"):
        spark.read.format("minilog").load(bad).collect()
    assert not os.path.exists(bad)


def test_overwrite_removes_concurrently_appended_file(spark, tbl):
    """ADVICE r7: an overwrite that loses a commit race rebuilds its
    remove set from the LIVE snapshot — a concurrently appended file
    cannot survive an 'overwrite' (previously the entry-time remove
    list let the append's rows leak through)."""
    tbl.append(_df(spark, [(1, "a")]))
    # overwrite stages against v0, then an append lands before commit
    actions = [
        {"type": "metaData", "schema": tbl._df_schema(_df(spark, []))}
    ] + tbl._stage(_df(spark, [(9, "z")]), 1)
    tbl.append(_df(spark, [(2, "race")]))  # the concurrent append
    tbl._try_commit("overwrite", actions, remove_all_live=True)
    assert [tuple(r) for r in tbl.read().collect()] == [(9, "z")]


def test_stream_tail_bootstraps_after_vacuum(spark, tmp_path):
    """ADVICE r7: a NEW stream on a vacuum-truncated table must
    bootstrap from the earliest retained snapshot instead of crashing
    on a deleted early log entry."""
    import tempfile

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "vt")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    for i in range(4):
        tbl.append(_df(spark, [(i, f"r{i}")]))
    tbl.vacuum(retain_last=2, min_age_seconds=0)
    assert tbl._versions()[0] > 0  # the log really is truncated
    q = (
        spark.readStream.format("minilog")
        .load(path)
        .writeStream.format("memory")
        .queryName("vac_tail")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in spark.table("vac_tail").collect())
    assert got == [0, 1, 2, 3]  # snapshot bootstrap + retained tail


def _cdf_stream(spark, path, name):
    import tempfile

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    q = (
        spark.readStream.format("minilog")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


def test_stream_change_feed_spans_dv_delete_and_compaction(spark, tbl):
    """VERDICT r7 task 1 'done' case: the readChangeFeed stream delivers
    row-level deltas across a DELETION-VECTOR delete and an OPTIMIZE
    compaction — the two commit kinds the plain tail rejects. The DV
    delete surfaces exactly the masked rows as deletes; the compaction
    (byte-identical rewrite) cancels to an empty feed; a merge surfaces
    delete(old)+insert(new)."""
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))  # v0
    tbl.append(_df(spark, [(4, "d")]))                      # v1
    tbl.delete_where_dv("k", 2, 2)                          # v2 DV delete
    tbl.optimize(target_rows=100)                           # v3 compaction
    tbl.merge(_df(spark, [(3, "C"), (5, "e")]), keys=("k",))  # v4
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in _cdf_stream(spark, tbl.path, "cdf_dv_opt").collect()
    )
    assert got == [
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (0, "insert", 3, "c"),
        (1, "insert", 4, "d"),
        (2, "delete", 2, "b"),       # the DV delete, row-level
        # v3 (optimize) contributes NOTHING: rows cancel
        (4, "delete", 3, "c"),       # merge = delete(old) + insert(new)
        (4, "insert", 3, "C"),
        (4, "insert", 5, "e"),
    ]


def test_stream_change_feed_bootstraps_after_vacuum(spark, tbl):
    """A fresh CDF stream on a vacuum-truncated table bootstraps with
    changes(-1, oldest): every live row of the earliest retained
    snapshot as an insert, then per-commit deltas."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.delete_where("k", 2, 2)
    tbl.append(_df(spark, [(3, "c")]))
    tbl.vacuum(retain_last=2, min_age_seconds=0)
    assert tbl._versions()[0] == 1
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in _cdf_stream(spark, tbl.path, "cdf_vac").collect()
    )
    assert got == [(1, "insert", 1), (2, "insert", 3)]


def test_stream_change_feed_batch_read_refused(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    with pytest.raises(Exception, match="STREAMING option"):
        spark.read.format("minilog").option(
            "readChangeFeed", "true"
        ).load(tbl.path).collect()


# ------------------------------------------------------- column mapping
def test_rename_column_is_metadata_only(spark, tbl):
    """RENAME COLUMN: one metaData commit, zero files rewritten, reads
    resolve the new logical name through the original physical parquet
    column, time travel presents the historical name, and data skipping
    keeps working (stats are keyed by physical name)."""
    tbl.append(_df(spark, [(1, "a"), (5, "b")]))
    tbl.append(_df(spark, [(10, "c")]))
    files_before = set(tbl.select_files())
    v = tbl.rename_column("k", "key")
    assert set(tbl.select_files()) == files_before  # NO rewrite
    assert [c["name"] for c in tbl.snapshot().schema] == ["key", "v"]
    got = sorted((r["key"], r["v"]) for r in tbl.read().collect())
    assert got == [(1, "a"), (5, "b"), (10, "c")]
    # time travel: the pre-rename version still presents the old name
    assert sorted(r["k"] for r in tbl.read(version=v - 1).collect()) == [1, 5, 10]
    # skipping on the RENAMED logical name still prunes
    assert len(tbl.select_files(prune=("key", 1, 4))) == 1
    # rewrite paths keep working through the mapping
    tbl.delete_where("key", 5, 5)
    assert sorted(r["key"] for r in tbl.read().collect()) == [1, 10]


def test_drop_column_retires_physical_no_resurrection(spark, tbl):
    """DROP COLUMN retires the physical name; a later re-add of the same
    logical name binds to a FRESH physical, so the dropped bytes (still
    in old files) can never resurrect. Time travel pre-drop still
    presents the dropped values."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    v_drop = tbl.drop_column("v")
    assert [c["name"] for c in tbl.snapshot().schema] == ["k"]
    assert tbl.snapshot().retired == ["v"]
    assert [tuple(r) for r in sorted(tbl.read().collect())] == [(1,), (2,)]
    # pre-drop version still reads the column
    old = sorted(tuple(r) for r in tbl.read(version=v_drop - 1).collect())
    assert old == [(1, "a"), (2, "b")]
    # re-add the same logical name: old values must NOT come back
    tbl.append(
        _df(spark, [(3, "fresh")]), evolve_schema=True
    )
    sch = {c["name"]: c for c in tbl.snapshot().schema}
    assert sch["v"].get("physical", "v") != "v"  # fresh physical
    got = sorted((r["k"], r["v"]) for r in tbl.read().collect())
    assert got == [(1, None), (2, None), (3, "fresh")]


def test_column_mapping_through_native_source(spark, tbl):
    """The DSv2 reader resolves logical -> physical per partition and
    the native writer stages through the mapping, so a renamed table
    round-trips through spark.read/write.format('minilog')."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    tbl.append(_df(spark, [(1, "a"), (5, "b")]))
    tbl.rename_column("k", "key")
    got = sorted(
        (r["key"], r["v"])
        for r in spark.read.format("minilog").load(tbl.path).collect()
    )
    assert got == [(1, "a"), (5, "b")]
    # native append AFTER the rename: the task must write the parquet
    # column under the PHYSICAL name so old and new files agree
    spark.createDataFrame([(9, "z")], "key INT, v STRING").coalesce(
        1
    ).write.format("minilog").mode("append").option(
        "statsCols", "key"
    ).save(tbl.path)
    got = sorted(
        (r["key"], r["v"])
        for r in spark.read.format("minilog").load(tbl.path).collect()
    )
    assert got == [(1, "a"), (5, "b"), (9, "z")]
    # pushdown translates the logical filter to the physical stats key
    assert len(tbl.select_files(prune=("key", 9, 9))) == 1


def test_concurrent_schema_edits_conflict(spark, tbl):
    """Two schema edits planned against the same snapshot: the second
    must raise ConcurrentModification (lost-update guard), not silently
    undo the first."""
    tbl.append(_df(spark, [(1, "a")]))
    snap = tbl.snapshot()
    tbl.rename_column("k", "key")
    with pytest.raises(ConcurrentModification):
        tbl._try_commit(
            "rename_column(k->key2)",
            [{"type": "metaData", "schema": snap.schema}],
            expect_schema=snap.schema,
        )


def test_optimize_after_drop_sheds_column(spark, tbl):
    """A routine OPTIMIZE after DROP COLUMN stages through the post-drop
    schema, physically shedding the dropped bytes — the lazy space
    reclaim story."""
    import pyarrow.parquet as pq

    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    tbl.drop_column("v")
    info = tbl.optimize(target_rows=1000)
    assert info["compacted"] == 2
    for f in tbl.select_files():
        names = pq.read_schema(f).names
        assert "v" not in names  # 'v' bytes gone
        # only the data column + the materialized row-id column remain
        assert set(names) == {"k", "__row_id"}
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2]


def test_check_constraint_gates_every_write_path(spark, tbl):
    """CHECK constraints: add validates existing data, then every staged
    write path (append, merge) rejects violating rows atomically — the
    failed write commits nothing and stages nothing."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.add_check_constraint("k_pos", "k > 0")
    v = tbl.version
    tbl.append(_df(spark, [(3, "c")]))  # valid write passes
    with pytest.raises(ConstraintViolation, match="k_pos"):
        tbl.append(_df(spark, [(4, "d"), (-1, "bad")]))
    with pytest.raises(ConstraintViolation, match="k_pos"):
        tbl.merge(_df(spark, [(-9, "bad")]), keys=("k",))
    assert tbl.version == v + 1  # only the valid append landed
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2, 3]
    # NULL is a violation (predicate not TRUE), the strict Delta contract
    with pytest.raises(ConstraintViolation, match="k_pos"):
        tbl.append(_df(spark, [(None, "nullk")]))


def test_add_check_constraint_rejects_invalid_table(spark, tbl):
    """ADD CONSTRAINT is a table-wide invariant: existing violating rows
    reject the ADD itself, and the constraint is NOT recorded."""
    tbl.append(_df(spark, [(1, "a"), (-5, "neg")]))
    v = tbl.version
    with pytest.raises(ConstraintViolation, match="k_pos"):
        tbl.add_check_constraint("k_pos", "k > 0")
    assert tbl.version == v
    assert tbl.snapshot().constraints == {}
    tbl.append(_df(spark, [(-6, "still fine")]))  # nothing gates


def test_drop_check_constraint_reopens_writes(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    tbl.add_check_constraint("k_pos", "k > 0")
    tbl.drop_check_constraint("k_pos")
    tbl.append(_df(spark, [(-1, "ok now")]))
    assert sorted(r["k"] for r in tbl.read().collect()) == [-1, 1]
    with pytest.raises(ValueError, match="no such constraint"):
        tbl.drop_check_constraint("k_pos")
    tbl.add_check_constraint("k_low", "k > -10")  # valid for current data
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_check_constraint("k_low", "k > -100")


def test_concurrent_constraint_edit_detected(spark, tbl):
    """Two racing constraint edits: the loser aborts instead of silently
    dropping the winner's edit (the schema-edit lost-update rule)."""
    tbl.append(_df(spark, [(1, "a")]))
    stale = dict(tbl.snapshot().constraints)  # {} — before either edit
    tbl.add_check_constraint("a_pos", "k > 0")  # the winner lands
    with pytest.raises(ConcurrentModification):
        tbl._try_commit(
            "add constraint",
            [{"type": "constraints", "set": {**stale, "b": "k < 100"}}],
            expect_constraints=stale,
        )


def test_constraints_survive_checkpoint_and_restore(spark, tbl):
    """Constraints fold from checkpoints (a fresh handle past
    CHECKPOINT_EVERY commits still sees them) and RESTORE restores the
    TARGET version's constraint set — rolling back past an ADD must not
    leave the constraint gating rows it never validated."""
    tbl.append(_df(spark, [(-1, "pre")]))
    v_unconstrained = tbl.version
    tbl.delete_where("k", -1, -1)
    tbl.add_check_constraint("k_pos", "k > 0")
    for i in range(CHECKPOINT_EVERY + 1):  # cross a checkpoint boundary
        tbl.append(_df(spark, [(10 + i, "x")]))
    fresh = MiniLogTable(spark, tbl.path, stats_cols=("k",))
    assert fresh.snapshot().constraints == {"k_pos": "k > 0"}
    with pytest.raises(ConstraintViolation):
        fresh.append(_df(spark, [(-2, "bad")]))
    # restore to the pre-constraint version: the -1 row comes back AND
    # the constraint set rolls back with it
    tbl.restore(v_unconstrained)
    snap = tbl.snapshot()
    assert snap.constraints == {}
    assert sorted(r["k"] for r in tbl.read().collect()) == [-1]


def test_clone_carries_constraints(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a")]))
    tbl.add_check_constraint("k_pos", "k > 0")
    dst = tbl.clone(str(tmp_path / "clone_dst"))
    assert dst.snapshot().constraints == {"k_pos": "k > 0"}
    with pytest.raises(ConstraintViolation):
        dst.append(_df(spark, [(-1, "bad")]))


def test_bloom_point_skip_and_no_false_negatives(spark, tmp_path):
    """File-level BLOOM index: point lookups skip files min/max stats
    can't (values interleave across every file, so range stats are
    useless), with the no-false-negative guarantee checked for EVERY
    value, an absent-value probe scanning nothing, and the index
    surviving a column-mapping RENAME (stats are keyed by physical
    name)."""
    tbl = MiniLogTable(
        spark, str(tmp_path / "b"), stats_cols=("d",), bloom_cols=("u",)
    )
    # 4 files; u values {f, 100+f, 200+f, ...}: every file's u-range
    # spans the whole domain
    values = {}
    for f in range(4):
        rows = [(f, 100 * j + f) for j in range(5)]
        values[f] = [u for _, u in rows]
        tbl.append(spark.createDataFrame(rows, "d INT, u INT"))
    total = len(tbl.select_files())
    assert total == 4
    # point probe: exactly the owning file survives (false positives
    # are ~1e-10 at 5 values / 8192 bits)
    got = tbl.select_files(point=("u", 203))
    assert len(got) == 1
    assert [tuple(r) for r in tbl.read(point=("u", 203)).collect()] == [
        (3, 203)
    ]
    # no false negatives: every present value selects its file's rows
    for f, us in values.items():
        for u in us:
            assert tbl.read(point=("u", u)).count() == 1, (f, u)
    # absent value: nothing scanned, empty result
    assert tbl.select_files(point=("u", 999_999)) == []
    assert tbl.read(point=("u", 999_999)).count() == 0
    with pytest.raises(ValueError, match="non-NULL"):
        tbl.read(point=("u", None))
    # rename survival: the bloom is keyed by the physical name
    tbl.rename_column("u", "uid")
    assert len(tbl.select_files(point=("uid", 203))) == 1
    assert tbl.read(point=("uid", 203)).count() == 1


def test_bloom_absent_on_unindexed_writes_means_no_skip(spark, tmp_path):
    """A writer WITHOUT bloom_cols produces files with no index: point
    probes must scan them (missing index = no skip, never a wrong
    skip), while indexed files still skip."""
    path = str(tmp_path / "mix")
    plain = MiniLogTable(spark, path, stats_cols=("d",))
    plain.append(spark.createDataFrame([(1, 10)], "d INT, u INT"))
    indexed = MiniLogTable(
        spark, path, stats_cols=("d",), bloom_cols=("u",)
    )
    indexed.append(spark.createDataFrame([(2, 20)], "d INT, u INT"))
    # probe for a value in NEITHER file: the unindexed file cannot be
    # skipped, the indexed one can
    assert len(indexed.select_files(point=("u", 999))) == 1
    assert indexed.read(point=("u", 20)).count() == 1
    assert indexed.read(point=("u", 10)).count() == 1


def test_generated_columns_materialize_validate_evolve(spark, tbl):
    """GENERATED columns: declared before first write, a write that
    omits the column gets it materialized (self-evolving the schema —
    the declaration sanctioned it), a write that provides matching
    values passes, a disagreeing write rejects atomically, and the
    merge update side follows the same contract."""
    tbl.set_generated_column("k2", "k * 2")
    tbl.append(_df(spark, [(1, "a")]))  # omitted -> materialized
    assert [tuple(r) for r in tbl.read().collect()] == [(1, "a", 2)]
    ok = spark.createDataFrame([(2, "b", 4)], "k INT, v STRING, k2 INT")
    tbl.append(ok)  # provided and correct
    v = tbl.version
    bad = spark.createDataFrame([(3, "c", 7)], "k INT, v STRING, k2 INT")
    with pytest.raises(ConstraintViolation, match="k2"):
        tbl.append(bad)
    assert tbl.version == v
    # merge updates omit k2 -> materialized on the update side
    tbl.merge(_df(spark, [(2, "B"), (5, "E")]), keys=("k",))
    got = sorted(tuple(r) for r in tbl.read().collect())
    assert got == [(1, "a", 2), (2, "B", 4), (5, "E", 10)]
    with pytest.raises(ValueError, match="already declared"):
        tbl.set_generated_column("k2", "k * 3")


def test_generated_column_declaration_validates_existing(spark, tbl):
    """Declaring GENERATED on a table whose EXISTING column disagrees
    with the expression rejects the declaration; clones carry the
    metadata."""
    tbl.append(
        spark.createDataFrame([(1, "a", 99)], "k INT, v STRING, k2 INT")
    )
    with pytest.raises(ConstraintViolation, match="k2"):
        tbl.set_generated_column("k2", "k * 2")
    assert tbl.snapshot().generated == {}


def test_generated_columns_survive_clone(spark, tbl, tmp_path):
    tbl.set_generated_column("k2", "k * 2")
    tbl.append(_df(spark, [(1, "a")]))
    dst = tbl.clone(str(tmp_path / "gen_clone"))
    assert dst.snapshot().generated == {"k2": "k * 2"}
    dst.append(_df(spark, [(4, "d")]))
    assert sorted(tuple(r) for r in dst.read().collect()) == [
        (1, "a", 2),
        (4, "d", 8),
    ]


def test_overwrite_txn_exactly_once(spark, tbl):
    """overwrite(txn=...) is exactly-once like append(txn=...): a
    replayed (app, version) commits nothing — the streaming
    foreachBatch keyed-state pattern — and a newer version lands."""
    tbl.append(_df(spark, [(1, "a")]))
    v = tbl.overwrite(_df(spark, [(2, "b")]), txn={"app": "w", "version": 7})
    v2 = tbl.overwrite(
        _df(spark, [(9, "replayed")]), txn={"app": "w", "version": 7}
    )
    assert v2 == v
    assert [tuple(r) for r in tbl.read().collect()] == [(2, "b")]
    tbl.overwrite(_df(spark, [(3, "c")]), txn={"app": "w", "version": 8})
    assert [tuple(r) for r in tbl.read().collect()] == [(3, "c")]


# --------------------------------------------------------------- ADVICE r8


def test_native_writer_enforces_check_constraints(spark, tbl):
    """ADVICE r8 high: the NATIVE DSv2 write path (df.write.format
    ('minilog')) enforces CHECK constraints like the Python path — a
    violating batch append fails the job, commits nothing, and leaves
    no orphan rows; a valid native append still lands."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    tbl.append(_df(spark, [(1, "a")]))
    tbl.add_check_constraint("k_pos", "k > 0")
    v = tbl.version
    with pytest.raises(Exception, match="k_pos"):
        _df(spark, [(2, "ok"), (-7, "bad")]).write.format(
            "minilog"
        ).mode("append").save(tbl.path)
    assert tbl.version == v  # nothing committed
    assert sorted(r["k"] for r in tbl.read().collect()) == [1]
    # NULL predicate result is a violation (matches the Python path)
    with pytest.raises(Exception, match="k_pos"):
        _df(spark, [(None, "nullk")]).write.format("minilog").mode(
            "append"
        ).save(tbl.path)
    # the valid write passes through the same gate
    _df(spark, [(5, "good")]).write.format("minilog").mode(
        "append"
    ).save(tbl.path)
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 5]
    # overwrite validates too: constraints SURVIVE an overwrite
    with pytest.raises(Exception, match="k_pos"):
        _df(spark, [(-1, "bad")]).write.format("minilog").mode(
            "overwrite"
        ).save(tbl.path)
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 5]


def test_native_writer_enforces_generated_columns(spark, tbl):
    """ADVICE r8 high, generated-column leg: a native write that OMITS
    a generated column is refused up front (the writer cannot
    materialize mid-plan); one that PROVIDES it is validated per task
    against the expression — wrong values fail the job, agreeing
    values land and stay trustworthy for stats skipping."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    tbl.append(_df(spark, [(1, "a")]))
    tbl.set_generated_column("k2", "k * 2")
    v = tbl.version
    # omitted -> refused with a pointer to the Python path
    with pytest.raises(Exception, match="generated"):
        _df(spark, [(2, "b")]).write.format("minilog").mode(
            "append"
        ).save(tbl.path)
    # provided-but-wrong -> rejected, nothing committed
    with pytest.raises(Exception, match="k2"):
        spark.createDataFrame(
            [(3, "c", 99)], "k INT, v STRING, k2 INT"
        ).write.format("minilog").mode("append").save(tbl.path)
    assert tbl.version == v
    # provided-and-agreeing -> lands (pre-declaration rows null-fill:
    # the declaration rewrites nothing, matching the Python path)
    spark.createDataFrame(
        [(4, "d", 8)], "k INT, v STRING, k2 INT"
    ).write.format("minilog").mode("append").save(tbl.path)
    assert sorted(
        tuple(r) for r in tbl.read().select("k", "k2").collect()
    ) == [(1, None), (4, 8)]


def test_stream_tail_resumed_offset_in_vacuumed_window_fails(
    spark, tbl
):
    """ADVICE r8 medium: a RESUMED tail offset that fell inside a
    vacuumed window is DATA LOSS — the default is the CDF reader's
    loud failure; failOnDataLoss=false opts into the at-least-once
    snapshot re-emission. (The fresh-stream bootstrap-marker path is
    untouched — covered by test_stream_tail_bootstraps_after_vacuum.)"""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        _MiniLogStreamReader,
    )

    for i in range(5):
        tbl.append(_df(spark, [(i, f"r{i}")]))
    tbl.vacuum(retain_last=2, min_age_seconds=0)
    oldest = tbl._versions()[0]
    assert oldest > 0
    end = {"version": tbl.version}
    # a checkpointed offset pointing BEFORE the oldest retained version
    resumed = {"version": oldest - 2}
    with pytest.raises(RuntimeError, match="vacuumed away"):
        _MiniLogStreamReader(tbl.path, {}).partitions(resumed, end)
    # explicit opt-in: earliest retained snapshot + tail, no crash
    parts = _MiniLogStreamReader(
        tbl.path, {"failondataloss": "false"}
    ).partitions(resumed, end)
    assert parts  # snapshot bootstrap files are served


def test_bloom_unresolvable_column_type_never_skips(spark, tbl):
    """ADVICE r8 low: when the probe column's type cannot be resolved
    from the log schema, bloom pruning must disengage entirely (every
    file may-contain) — probing with an uncast literal could hash to
    different positions than the writer stamped and wrongly SKIP a
    file that holds the value."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    snap = tbl.snapshot()
    assert tbl._bloom_hashes(snap, "no_such_col", 1) is None
    # resolvable column still probes (the normal path is unaffected)
    assert tbl._bloom_hashes(snap, "k", 1) is not None


def test_append_revalidates_staged_rows_on_constraint_race(spark, tbl):
    """ADVICE r8 medium (TOCTOU): an append whose staged rows were
    validated against a stale constraint set re-validates them against
    the set live at COMMIT time. Valid rows commit; violating rows
    abort with their staged files reclaimed — no version can exist
    where the live constraint is violated."""
    tbl.append(_df(spark, [(1, "a")]))
    # stage against the CURRENT (empty) constraint set, pin it
    ok_actions = tbl._stage(_df(spark, [(5, "ok")]), 1, constraints={})
    bad_actions = tbl._stage(
        _df(spark, [(-3, "bad")]), 1, constraints={}
    )
    # a constraint lands AFTER staging, BEFORE commit (the race)
    tbl.add_check_constraint("k_pos", "k > 0")
    # valid staged rows: re-validated against the new set, committed
    tbl._commit_validated("append", ok_actions, {}, {})
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 5]
    # violating staged rows: rejected, files reclaimed
    v = tbl.version
    with pytest.raises(ConstraintViolation, match="k_pos"):
        tbl._commit_validated("append", bad_actions, {}, {})
    assert tbl.version == v
    staged = [a["file"] for a in bad_actions if a["type"] == "add"]
    assert not any(
        os.path.exists(os.path.join(tbl.path, f)) for f in staged
    )


def test_add_constraint_detects_concurrent_append(spark, tbl):
    """ADVICE r8 medium, symmetric side: ADD CONSTRAINT pins the file
    set it validated — a commit attempt over a table that grew since
    raises instead of minting a version whose live constraint never
    saw the appended rows."""
    tbl.append(_df(spark, [(1, "a")]))
    stale_files = frozenset()  # validated an older (empty) table
    with pytest.raises(ConcurrentModification, match="data changed"):
        tbl._try_commit(
            "add constraint",
            [{"type": "constraints", "set": {"k_pos": "k > 0"}}],
            expect_constraints={},
            expect_files=stale_files,
        )
    assert tbl.snapshot().constraints == {}
    # the public API retries internally: validate -> pin -> commit
    tbl.add_check_constraint("k_pos", "k > 0")
    assert tbl.snapshot().constraints == {"k_pos": "k > 0"}


def test_seed_centroids_undersized_training_set_raises(spark):
    """ADVICE r8 low: k-means seeding with fewer than k distinct
    vectors fails loudly instead of silently training fewer cells.
    The contract is enforced IN THE PLAN (assert_true riding the cid
    column) so building the seeding stays lazy — it raises when the
    undersized seeding is actually executed."""
    from bootic_stats_aggregates_spark.llm.similarity import (
        _seed_centroids,
    )

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id BIGINT, emb ARRAY<DOUBLE>",
    )
    undersized = _seed_centroids(e, 3)  # builds lazily, no job
    with pytest.raises(Exception, match="distinct training"):
        undersized.count()  # only 2 distinct vectors: execution raises
    assert _seed_centroids(e, 2).count() == 2  # the contract holds


# ------------------------------------------------------- row tracking (r9)


def test_row_ids_assigned_and_stable_across_rewrites(spark, tbl):
    """VERDICT r8 task 1: row ids are assigned at commit, and NO
    rewrite may mint new ids — OPTIMIZE, Z-ORDER, delete_where and DV
    deletes all preserve every surviving row's id."""
    tbl.append(_df(spark, [(i, f"r{i}") for i in range(6)]))
    tbl.append(_df(spark, [(i, f"r{i}") for i in range(6, 10)]))
    ids0 = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    assert sorted(ids0.values()) == list(range(10))  # dense ranges
    tbl.optimize(target_rows=1000)  # compacts both files
    assert {
        r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    } == ids0
    tbl.delete_where("k", 8, 9)  # rewrite path
    ids1 = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    assert ids1 == {k: v for k, v in ids0.items() if k < 8}
    tbl.delete_where_dv("k", 7, 7)  # merge-on-read path: no rewrite
    ids2 = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    assert ids2 == {k: v for k, v in ids1.items() if k != 7}
    tbl.optimize_zorder(("k", "k"), target_files=2)
    assert {
        r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    } == ids2
    # normal reads never see the hidden machinery
    assert "_row_id" not in tbl.read().columns
    assert "__row_id" not in tbl.read().columns


def test_merge_updates_keep_row_ids_and_feed_links(spark, tbl):
    """A MERGE update KEEPS the matched base row's id (the identity
    that links its CDF pre/post images); inserts draw fresh ids; the
    id-keyed feed pairs pre/post on one _row_id and cancels copied
    rows."""
    tbl.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    ids0 = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    v = tbl.version
    tbl.merge(_df(spark, [(2, "B"), (9, "new")]), keys=("k",))
    ids1 = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    assert ids1[2] == ids0[2] and ids1[1] == ids0[1]
    assert ids1[9] not in ids0.values()
    feed = tbl.changes_with_ids(v, tbl.version).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert {t: len(rs) for t, rs in by_type.items()} == {
        "insert": 1,
        "update_preimage": 1,
        "update_postimage": 1,
    }  # copied rows (1, 3) cancelled
    assert (
        by_type["update_preimage"][0]["_row_id"]
        == by_type["update_postimage"][0]["_row_id"]
        == ids0[2]
    )
    assert by_type["update_preimage"][0]["v"] == "b"
    assert by_type["update_postimage"][0]["v"] == "B"
    # an OPTIMIZE-only span feeds NOTHING in the id-keyed feed
    v2 = tbl.version
    tbl.optimize(target_rows=1000)
    assert tbl.changes_with_ids(v2, tbl.version).count() == 0


def test_row_id_watermark_survives_restore_clone_checkpoint(
    spark, tbl, tmp_path
):
    """The id watermark is monotone through RESTORE (re-added old
    ranges never reset it), persists through checkpoints, and a CLONE
    inherits it — so no path can ever hand out a colliding range."""
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))   # ids 0, 1
    v0 = tbl.version
    tbl.append(_df(spark, [(3, "c")]))             # id 2
    tbl.restore(v0)
    tbl.append(_df(spark, [(4, "d")]))             # must NOT reuse id 2
    ids = {r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()}
    assert ids[4] >= 3, ids
    assert len(set(ids.values())) == len(ids)
    dst = tbl.clone(str(tmp_path / "rt_clone"))
    dst.append(_df(spark, [(9, "z")]))
    cids = {r["k"]: r["_row_id"] for r in dst.read_with_row_ids().collect()}
    assert len(set(cids.values())) == len(cids), cids
    # checkpoint fold keeps the watermark: force one, then keep going
    for i in range(CHECKPOINT_EVERY + 1):
        tbl.append(_df(spark, [(100 + i, "x")]))
    fresh = MiniLogTable(spark, tbl.path, stats_cols=("k",))
    allids = [r["_row_id"] for r in fresh.read_with_row_ids().collect()]
    assert len(set(allids)) == len(allids)


# -------------------------------------------- hive-partitioned layout (r9)


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k INT, day INT, v STRING")


@pytest.fixture
def ptbl(spark, tmp_path):
    return MiniLogTable(
        spark,
        str(tmp_path / "pt"),
        stats_cols=("k",),
        partition_by=("day",),
    )


def test_partitioned_layout_dirs_pruning_and_read(spark, ptbl):
    """VERDICT r8 task 2: partitioned writes land under col=value/
    directories, add actions carry the values, directory-level pruning
    is EXACT (proven on the selected-file list), and reads re-attach
    the column — bytes the files themselves never store."""
    ptbl.append(_pdf(spark, [(i, i % 3, f"v{i}") for i in range(9)]))
    ptbl.append(_pdf(spark, [(100, None, "nullday")]))
    snap = ptbl.snapshot()
    assert snap.partition_cols == ["day"]
    assert all(f.partition for f in snap.files)
    dirs = {os.path.dirname(f.file) for f in snap.files}
    assert dirs == {
        "day=0", "day=1", "day=2", "day=__HIVE_DEFAULT_PARTITION__"
    }
    # partition bytes stay OUT of the parquet files
    import pyarrow.parquet as pq

    for f in ptbl.select_files():
        assert "day" not in pq.read_schema(f).names
    # directory-level pruning: exact, one file per matching partition
    assert len(ptbl.select_files(prune=("day", 1, 1))) == 1
    assert len(ptbl.select_files(prune=("day", 1, 2))) == 2
    assert len(ptbl.select_files(prune=("day", 5, 9))) == 0
    # the NULL partition never satisfies a range predicate
    assert len(ptbl.select_files(prune=("day", 0, 99))) == 3
    # read re-attaches the column with the LOG's declared type
    got = sorted(
        (r["k"], r["day"], r["v"]) for r in ptbl.read().collect()
    )
    assert got == sorted(
        [(i, i % 3, f"v{i}") for i in range(9)] + [(100, None, "nullday")]
    )
    assert [f.name for f in ptbl.read().schema.fields] == ["k", "day", "v"]
    # pruned read composes the partition skip with the row filter
    assert sorted(r["k"] for r in ptbl.read(prune=("day", 1, 1)).collect()) \
        == [1, 4, 7]


def test_partitioned_optimize_never_mixes_partitions(spark, ptbl):
    ptbl.append(_pdf(spark, [(i, i % 2, "a") for i in range(6)]))
    ptbl.append(_pdf(spark, [(10 + i, i % 2, "b") for i in range(6)]))
    info = ptbl.optimize(target_rows=1000)
    assert info["compacted"] == 4 and info["files_after"] == 2
    snap = ptbl.snapshot()
    assert {os.path.dirname(f.file) for f in snap.files} == {
        "day=0", "day=1"
    }
    assert all(f.partition for f in snap.files)
    assert ptbl.read().count() == 12
    # scoped OPTIMIZE: a where-predicate limits the pass to matching
    # partitions (pure metadata selection)
    ptbl.append(_pdf(spark, [(50, 0, "c")]))
    ptbl.append(_pdf(spark, [(51, 0, "d"), (52, 1, "e")]))
    before = {f.file for f in ptbl.snapshot().files if f.partition["day"] == 1}
    ptbl.optimize(target_rows=1000, where=("day", 0, 0))
    after = {f.file for f in ptbl.snapshot().files if f.partition["day"] == 1}
    assert before == after  # day=1 untouched by the scoped pass


def test_partition_declaration_rules(spark, tmp_path, ptbl):
    # declaring over existing FLAT data refuses
    flat = MiniLogTable(spark, str(tmp_path / "flat"), stats_cols=("k",))
    flat.append(_pdf(spark, [(1, 1, "a")]))
    redeclared = MiniLogTable(
        spark, flat.path, stats_cols=("k",), partition_by=("day",)
    )
    with pytest.raises(ValueError, match="unpartitioned"):
        redeclared.append(_pdf(spark, [(2, 2, "b")]))
    # a handle WITHOUT the declaration inherits the log's partitioning
    ptbl.append(_pdf(spark, [(1, 1, "a")]))
    plain = MiniLogTable(spark, ptbl.path, stats_cols=("k",))
    plain.append(_pdf(spark, [(2, 2, "b")]))
    assert all(f.partition for f in plain.snapshot().files)
    # a handle with a DIFFERENT declaration refuses
    wrong = MiniLogTable(
        spark, ptbl.path, stats_cols=("k",), partition_by=("k",)
    )
    with pytest.raises(ValueError, match="partition"):
        wrong.append(_pdf(spark, [(3, 3, "c")]))


def test_partitioned_merge_delete_dv_cdf_and_row_ids(spark, ptbl):
    """The whole mutation surface composes with partitioning: MERGE,
    delete rewrites, DV deletes, the change feed and row-id stability
    all operate on hive-partitioned files."""
    ptbl.append(_pdf(spark, [(i, i % 2, f"v{i}") for i in range(6)]))
    ids0 = {
        r["k"]: r["_row_id"] for r in ptbl.read_with_row_ids().collect()
    }
    v0 = ptbl.version
    ptbl.merge(
        _pdf(spark, [(1, 1, "UPD"), (9, 0, "new")]), keys=("k",)
    )
    got = {(r["k"], r["day"], r["v"]) for r in ptbl.read().collect()}
    assert (1, 1, "UPD") in got and (9, 0, "new") in got
    ids1 = {
        r["k"]: r["_row_id"] for r in ptbl.read_with_row_ids().collect()
    }
    assert ids1[1] == ids0[1]  # merge kept the matched row's id
    feed = ptbl.changes(v0, ptbl.version)
    types = {r["_change_type"] for r in feed.collect()}
    assert "insert" in types and "delete" in types
    ptbl.delete_where("k", 9, 9)
    ptbl.delete_where_dv("k", 0, 0)
    left = sorted(r["k"] for r in ptbl.read().collect())
    assert left == [1, 2, 3, 4, 5]
    snap = ptbl.snapshot()
    assert all(f.partition for f in snap.files)
    # restore + clone keep the partition spec
    dst = ptbl.clone(str(ptbl.path) + "_clone")
    assert dst.snapshot().partition_cols == ["day"]
    dst.append(_pdf(spark, [(77, 7, "z")]))
    assert len(dst.select_files(prune=("day", 7, 7))) == 1
    vr = ptbl.version
    ptbl.restore(v0)
    assert ptbl.snapshot().partition_cols == ["day"]
    assert ptbl.read().count() == 6


def test_partition_values_hive_escaped_strings(spark, tmp_path):
    """String partition values round-trip through hive escaping
    (slashes, spaces, equals — the characters that would corrupt the
    directory layout)."""
    t = MiniLogTable(
        spark,
        str(tmp_path / "esc"),
        stats_cols=("k",),
        partition_by=("tag",),
    )
    rows = [(1, "a/b"), (2, "c d"), (3, "e=f"), (4, "plain")]
    t.append(spark.createDataFrame(rows, "k INT, tag STRING"))
    got = sorted((r["k"], r["tag"]) for r in t.read().collect())
    assert got == sorted(rows)
    assert len(t.select_files(prune=("tag", "a/b", "a/b"))) == 1


def test_minilog_datasource_partitioned_write_read(spark, tmp_path):
    """Native DSv2 partitionBy (r9): the write tasks split their Arrow
    batches per partition value, land files under col=value/, record
    the values in add actions; the native reader prunes on them and
    re-attaches the column; mismatched declarations refuse and plain
    appends inherit the log's spec."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "npt")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(12)], "k INT, day INT, v STRING"
    )
    df.coalesce(1).write.format("minilog").mode("append").option(
        "statsCols", "k"
    ).option("partitionBy", "day").save(path)
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    snap = tbl.snapshot()
    assert snap.partition_cols == ["day"]
    assert {os.path.dirname(f.file) for f in snap.files} == {
        "day=0", "day=1", "day=2"
    }
    # native read re-attaches the partition column
    back = spark.read.format("minilog").load(path)
    assert sorted(back.columns) == ["day", "k", "v"]
    got = sorted((r["k"], r["day"], r["v"]) for r in back.collect())
    assert got == [(i, i % 3, f"v{i}") for i in range(12)]
    # pushed filter on the partition column prunes directories (the
    # reader plans one input partition per surviving file)
    assert back.filter("day = 1").count() == 4
    assert sorted(r["k"] for r in back.filter("day = 1").collect()) \
        == [1, 4, 7, 10]
    # python-path pruning sees the same exact partition metadata
    assert len(tbl.select_files(prune=("day", 1, 1))) == 1
    # a mismatched declaration refuses
    with pytest.raises(Exception, match="fixed at table creation"):
        df.write.format("minilog").mode("append").option(
            "partitionBy", "k"
        ).save(path)
    # a plain append (no option) inherits the log's partitioning
    df.coalesce(1).write.format("minilog").mode("append").save(path)
    snap2 = tbl.snapshot()
    assert all(f.partition for f in snap2.files)
    assert spark.read.format("minilog").load(path).count() == 24
    # declaring partitionBy over existing FLAT data refuses
    flat = str(tmp_path / "nflat")
    df.coalesce(1).write.format("minilog").mode("append").save(flat)
    with pytest.raises(Exception, match="unpartitioned"):
        df.write.format("minilog").mode("append").option(
            "partitionBy", "day"
        ).save(flat)


def test_native_partition_values_non_ascii_roundtrip(spark, tmp_path):
    """ADVICE r9 medium: _hive_dir must escape exactly Spark's
    escapePathName set — percent-encoding non-ASCII as UTF-8 byte
    pairs ('é' -> '%C3%A9') reads back corrupted ('Ã©') through
    Spark's per-char unescape. Pin: native DSv2 partitioned writes of
    non-ASCII/special-char partition values land byte-identically to
    Spark's own partitionBy layout, round-trip through BOTH read
    paths, and agree with the add-action partition metadata."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        _hive_dir,
        register,
    )

    register(spark)
    vals = ["é", "naïve café", "日本語", "a/b", "e=f", "q'r", "pct%20"]
    # byte-parity with Spark's own partitionBy directory names
    ref = str(tmp_path / "ref")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k INT, tag STRING"
    )
    df.coalesce(1).write.partitionBy("tag").parquet(ref)
    spark_dirs = sorted(n for n in os.listdir(ref) if n.startswith("tag="))
    assert spark_dirs == sorted(_hive_dir("tag", v) for v in vals)
    # native write -> both read paths -> original values
    path = str(tmp_path / "npue")
    df.coalesce(1).write.format("minilog").mode("append").option(
        "partitionBy", "tag"
    ).save(path)
    native = sorted(
        (r["k"], r["tag"])
        for r in spark.read.format("minilog").load(path).collect()
    )
    assert native == sorted((i, v) for i, v in enumerate(vals))
    tbl = MiniLogTable(spark, path)
    python = sorted((r["k"], r["tag"]) for r in tbl.read().collect())
    assert python == native
    # directory-derived values == add-action partition metadata
    snap = tbl.snapshot()
    assert sorted(f.partition["tag"] for f in snap.files) == sorted(vals)
    for v in vals:
        assert len(tbl.select_files(prune=("tag", v, v))) == 1


def test_native_validation_expression_subset_agrees_with_spark(
    spark, tmp_path
):
    """ADVICE r9 low: the native writer validates CHECK/generated
    expressions with DuckDB while the Python path validates with
    Spark — sound only where the engines agree. Probe the documented
    subset (and the divergence-prone shapes: int division, implicit
    string->int comparison, overflow-adjacent arithmetic) on a batch
    engineered to disagree if either engine strays: both sides must
    accept/reject identically."""
    import duckdb
    import pyarrow as pa

    from pyspark.sql import functions as F

    rows = [
        (1, 7, "7", 2.5, None),
        (2, -3, "-3", -0.5, "x"),
        (3, 0, "0", 0.0, ""),
        # NOT 2**31-1: at the int boundary ANSI Spark RAISES on
        # abs(i)+1 (as does DuckDB) — overflow-raising inputs are part
        # of why boundary arithmetic sits OUTSIDE the documented subset
        (4, 123456789, "123456789", 1e15, "yy"),
        (5, None, None, None, None),
    ]
    sdf = spark.createDataFrame(
        rows, "id INT, i INT, s STRING, d DOUBLE, t STRING"
    )
    batch = pa.table(
        {
            "id": [r[0] for r in rows],
            "i": pa.array([r[1] for r in rows], type=pa.int32()),
            "s": [r[2] for r in rows],
            "d": [r[3] for r in rows],
            "t": [r[4] for r in rows],
        }
    )
    exprs = [
        "i > 0",
        "i BETWEEN -5 AND 100",
        "i IN (0, 7, -3)",
        "s IS NOT NULL AND length(s) >= 1",
        "coalesce(t, '') <> 'x'",
        "abs(i) + 1 > 0",
        "CASE WHEN i > 0 THEN d >= 0 ELSE d <= 0 END",
        "i / 2 > 1",          # float division in BOTH engines
        "upper(coalesce(t, 'z')) <> 'Q'",
        "i * 2 < 9999999999",
    ]
    con = duckdb.connect()
    con.register("__w", batch)
    for expr in exprs:
        spark_bad = sdf.filter(
            ~F.expr(expr).eqNullSafe(F.lit(True))
        ).count()
        duck_bad = con.execute(
            f"SELECT count(*) FROM __w WHERE ({expr}) IS DISTINCT FROM TRUE"
        ).fetchone()[0]
        assert spark_bad == duck_bad, (
            f"engine divergence on {expr!r}: spark rejects {spark_bad}, "
            f"duckdb rejects {duck_bad} — expression must leave the "
            "documented native-validation subset"
        )
    con.close()


def test_bloom_backfill_converges_on_partition_and_missing_columns(
    spark, tmp_path
):
    """ADVICE r9 low: build_bloom_index over a partition column (bytes
    live in directory names) or a column absent from a file's parquet
    schema must converge — not commit a no-op stats refresh per call
    forever. Pin: second call is a zero-commit no-op."""
    t = MiniLogTable(
        spark,
        str(tmp_path / "bbc"),
        stats_cols=("k",),
        partition_by=("day",),
    )
    t.append(
        spark.createDataFrame(
            [(i, i % 2, f"v{i}") for i in range(6)],
            "k INT, day INT, v STRING",
        )
    )
    # "day" is a partition column; "ghost" exists in no file
    r1 = t.build_bloom_index(cols=("day", "ghost", "k"))
    v1 = t.version
    assert r1["indexed"] > 0  # k gained blooms
    r2 = t.build_bloom_index(cols=("day", "ghost", "k"))
    assert r2["indexed"] == 0
    assert t.version == v1  # NO new commit — converged
    # and pure partition/missing requests commit nothing at all
    r3 = t.build_bloom_index(cols=("day",))
    assert r3["indexed"] == 0 and t.version == v1


def test_minilog_stream_writer_partitioned(spark, tmp_path):
    """The streaming native writer honors partitionBy: every
    micro-batch lands hive-split files, the spec is declared once, and
    exactly-once txn replay still holds."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(8)], "k INT, day INT, v STRING"
    ).write.parquet(src)
    out = str(tmp_path / "spt")
    q = (
        spark.readStream.schema("k INT, day INT, v STRING")
        .parquet(src)
        .writeStream.format("minilog")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("partitionBy", "day")
        .option("statsCols", "k")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    tbl = MiniLogTable(spark, out)
    snap = tbl.snapshot()
    assert snap.partition_cols == ["day"]
    assert all(f.partition for f in snap.files)
    assert tbl.read().count() == 8
    assert len(tbl.select_files(prune=("day", 0, 0))) >= 1
    assert all(
        os.path.dirname(f.file) in ("day=0", "day=1") for f in snap.files
    )


# ------------------------------------------------- sidecar blooms (r9)


def test_sidecar_bloom_high_ndv_skips_and_survives_lifecycle(
    spark, tmp_path
):
    """VERDICT r8 task 3: past BLOOM_SIDECAR_NDV distinct keys/file the
    bloom moves to a _blooms/ sidecar parquet sized ~10 bits/key (the
    in-log 1 KiB bitmap saturates there); point lookups keep skipping,
    and the sidecar survives clone and vacuum while referenced, is
    reaped when orphaned, and OPTIMIZE regenerates fresh blooms."""
    from bootic_stats_aggregates_spark.acid import (
        BLOOM_BITS,
        BLOOM_SIDECAR_NDV,
    )

    t = MiniLogTable(
        spark, str(tmp_path / "sb"), stats_cols=(), bloom_cols=("u",)
    )
    import pyspark.sql.functions as F

    n = BLOOM_SIDECAR_NDV * 4  # 8192 distinct odd values per file
    df = spark.range(2 * n).select((F.col("id") * 2 + 1).alias("u"))
    t.append(df.repartition(2, "u"), target_files=2)
    snap = t.snapshot()
    assert len(snap.files) == 2
    for f in snap.files:
        b = f.stats["u"]["bloom"]
        assert "sidecar" in b and "hex" not in b
        assert b["m"] > BLOOM_BITS and b["m"] % 8 == 0
    assert os.path.isdir(os.path.join(t.path, "_blooms"))
    # present value: found; absent (even) value: bloom proves absence
    assert t.read(point=("u", 2 * n - 1)).count() == 1
    assert len(t.select_files(point=("u", 2 * n - 2))) == 0
    # a FRESH handle (cold cache) probes through the sidecar read
    t2 = MiniLogTable(spark, t.path)
    assert len(t2.select_files(point=("u", 2 * n - 2))) == 0
    assert t2.read(point=("u", 1)).count() == 1
    # clone links the sidecar: lookups keep skipping on the clone
    c = t.clone(str(tmp_path / "sb_clone"))
    assert len(c.select_files(point=("u", 2 * n - 2))) == 0
    assert c.read(point=("u", 1)).count() == 1
    # OPTIMIZE rewrites with fresh blooms; vacuum reaps the orphaned
    # old sidecar and keeps the referenced new one
    t.optimize(target_rows=10_000_000)
    t.vacuum(retain_last=1, min_age_seconds=0)
    sides = os.listdir(os.path.join(t.path, "_blooms"))
    assert len(sides) == 1
    assert len(t.select_files(point=("u", 2 * n - 2))) == 0
    assert t.read(point=("u", 1)).count() == 1
    # the clone's linked sidecar is untouched by the source vacuum
    assert c.read(point=("u", 1)).count() == 1
    # small-NDV files still use the in-log hex bitmap (no sidecar)
    t3 = MiniLogTable(
        spark, str(tmp_path / "small"), stats_cols=(), bloom_cols=("u",)
    )
    t3.append(
        spark.range(100).select((F.col("id") * 2 + 1).alias("u"))
    )
    b3 = t3.snapshot().files[0].stats["u"]["bloom"]
    assert "hex" in b3 and b3["m"] == BLOOM_BITS
    assert not os.path.isdir(os.path.join(t3.path, "_blooms"))


def test_minilog_datasource_with_row_ids(spark, tmp_path):
    """ROW TRACKING through the native surface (r9): the batch reader's
    withRowIds option appends _row_id = coalesce(materialized __row_id,
    base_row_id + parquet position), computed BEFORE the DV mask — so
    native ids equal the Python path's read_with_row_ids() across
    appends, OPTIMIZE (materialized override) and DV deletes; a plain
    native read never shows any id machinery."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "rid")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    tbl.append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    tbl.append(_df(spark, [(i, f"v{i}") for i in range(6, 10)]))
    tbl.optimize(target_rows=1000)   # materializes ids
    tbl.delete_where_dv("k", 3, 4)   # survivors keep positions
    want = {
        r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    }
    back = spark.read.format("minilog").option("withRowIds", "true").load(
        path
    )
    assert back.columns == ["k", "v", "_row_id"]
    got = {r["k"]: r["_row_id"] for r in back.collect()}
    assert got == want and len(got) == 8
    # ids keep working under filter pushdown
    got2 = {
        r["k"]: r["_row_id"]
        for r in back.filter("k >= 6").collect()
    }
    assert got2 == {k: v for k, v in want.items() if k >= 6}
    # plain native read: no id columns
    plain = spark.read.format("minilog").load(path)
    assert plain.columns == ["k", "v"] and plain.count() == 8
    # withRowIds composes with readChangeFeed (r10): the streamed feed
    # declares the id column ahead of the CDF markers
    feed = (
        spark.readStream.format("minilog")
        .option("readChangeFeed", "true")
        .option("withRowIds", "true")
        .load(path)
    )
    assert feed.columns == [
        "k", "v", "_row_id", "_change_type", "_commit_version",
    ]


def test_generated_partition_column_composition(spark, tmp_path):
    """The Delta generated-partition pattern: a GENERATED column as the
    table's partition column. Writers omit it, the writer materializes
    it, files land under its hive directories, and directory pruning
    works — derived partitioning the planner can trust."""
    t = MiniLogTable(
        spark,
        str(tmp_path / "gp"),
        stats_cols=("k",),
        partition_by=("day",),
    )
    t.set_generated_column("day", "k % 7")
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    snap = t.snapshot()
    assert snap.partition_cols == ["day"]
    assert "day" in snap.generated
    assert {os.path.dirname(f.file) for f in snap.files} == {
        f"day={i}" for i in range(7)
    }
    assert len(t.select_files(prune=("day", 3, 3))) == 1
    got = sorted(r["k"] for r in t.read(prune=("day", 3, 3)).collect())
    assert got == [3, 10, 17]
    # a provided-but-wrong generated value still rejects atomically
    bad = spark.createDataFrame([(1, "x", 5)], "k INT, v STRING, day INT")
    with pytest.raises(ConstraintViolation):
        t.append(bad)


def test_native_partitioned_write_enforces_constraints(spark, tmp_path):
    """Composition of the r9 pieces: a CHECK-constrained, hive-
    partitioned table written through the NATIVE writer — valid rows
    land split under their partition dirs, a violating native append
    refuses atomically (no version consumed, no orphan rows)."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "cpn")
    t = MiniLogTable(
        spark, path, stats_cols=("k",), partition_by=("day",)
    )
    t.append(
        spark.createDataFrame([(1, 0, 5.0)], "k INT, day INT, v DOUBLE")
    )
    t.add_check_constraint("v_pos", "v > 0")
    ok = spark.createDataFrame(
        [(2, 1, 1.5), (3, 0, 2.0)], "k INT, day INT, v DOUBLE"
    )
    ok.coalesce(1).write.format("minilog").mode("append").save(path)
    snap = t.snapshot()
    assert {os.path.dirname(f.file) for f in snap.files} == {
        "day=0", "day=1"
    }
    v_before = t.version
    bad = spark.createDataFrame([(4, 1, -9.0)], "k INT, day INT, v DOUBLE")
    with pytest.raises(Exception, match="v_pos|constraint"):
        bad.coalesce(1).write.format("minilog").mode("append").save(path)
    assert t.version == v_before
    assert t.read().count() == 3


def test_build_bloom_index_backfills_native_written_tables(
    spark, tmp_path
):
    """r9: the DSv2 writers cannot run the Spark hash job the bloom
    contract requires (session-less commit worker), so natively-written
    tables get their point-lookup index from the build_bloom_index
    maintenance call: only files LACKING a bloom are scanned, the
    stats-refresh commit is CDF-invisible (same files, same DVs), row
    ids never move, and the call is idempotent."""
    from bootic_stats_aggregates_spark.acid import BLOOM_BITS
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "bb")
    import pyspark.sql.functions as F

    small = spark.range(100).select(
        (F.col("id") * 2 + 1).alias("u"), F.lit("x").alias("v")
    )
    small.coalesce(1).write.format("minilog").mode("append").save(path)
    big = spark.range(20_000).select(
        (F.col("id") * 2 + 201).alias("u"), F.lit("y").alias("v")
    )
    big.coalesce(1).write.format("minilog").mode("append").save(path)
    tbl = MiniLogTable(spark, path, bloom_cols=("u",))
    tbl.delete_where_dv("u", 1, 1)  # a DV must survive the backfill
    assert all(
        "bloom" not in f.stats.get("u", {})
        for f in tbl.snapshot().files
    )
    ids0 = {
        r["u"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    }
    v0 = tbl.version
    info = tbl.build_bloom_index()
    assert info["indexed"] == 2
    snap = tbl.snapshot()
    kinds = {
        ("sidecar" if "sidecar" in f.stats["u"]["bloom"] else "hex")
        for f in snap.files
    }
    assert kinds == {"hex", "sidecar"}  # adaptive sizing per file
    assert any(
        f.stats["u"]["bloom"].get("m", 0) > BLOOM_BITS
        for f in snap.files
    )
    # skipping works; DV still masks u=1
    assert len(tbl.select_files(point=("u", 2))) == 0
    assert tbl.read(point=("u", 3)).count() == 1
    assert tbl.read(point=("u", 1)).count() == 0
    # stats refresh is CDF-invisible and id-stable
    assert tbl.changes(v0, tbl.version).count() == 0
    ids1 = {
        r["u"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    }
    assert ids1 == ids0
    # idempotent: nothing left to index
    assert tbl.build_bloom_index() == {
        "indexed": 0, "version": tbl.version,
    }


def test_zorder_scoped_to_partition(spark, ptbl):
    """optimize_zorder(where=...) re-clusters ONLY the matching
    partition: other partitions' files are bit-identical afterwards,
    the scoped rewrite stays inside its hive directory, row ids
    survive, and pruning on the scoped partition's stats works."""
    rows = [  # k unique across partitions (the {k: id} maps below)
        (i + 10 * d, d, f"v{i}-{d}") for d in (0, 1) for i in range(8)
    ]
    ptbl.append(_pdf(spark, rows), target_files=4)
    ptbl.append(
        _pdf(spark, [(100 + i, 0, "w") for i in range(8)]),
        target_files=4,
    )
    snap0 = ptbl.snapshot()
    day1_before = {
        f.file for f in snap0.files if f.partition["day"] == 1
    }
    ids0 = {
        r["k"]: r["_row_id"] for r in ptbl.read_with_row_ids().collect()
    }
    info = ptbl.optimize_zorder(("k", "k"), target_files=2,
                                where=("day", 0, 0))
    assert info["rewritten"] > 0
    snap1 = ptbl.snapshot()
    day1_after = {
        f.file for f in snap1.files if f.partition["day"] == 1
    }
    assert day1_before == day1_after  # untouched
    assert all(
        os.path.dirname(f.file) == "day=0"
        for f in snap1.files
        if f.partition["day"] == 0
    )
    assert {
        r["k"]: r["_row_id"] for r in ptbl.read_with_row_ids().collect()
    } == ids0
    got = sorted(r["k"] for r in ptbl.read(prune=("day", 0, 0)).collect())
    assert got == sorted([i for i in range(8)] + [100 + i for i in range(8)])


def test_minilog_stream_with_row_ids(spark, tmp_path):
    """The tail STREAM can emit stable row ids too: readStream with
    withRowIds appends _row_id per emitted row, matching the batch
    path — the keyed incremental consumer's tail."""
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "strid")
    tbl = MiniLogTable(spark, path, stats_cols=("k",))
    tbl.append(_df(spark, [(1, "a"), (2, "b")]))
    tbl.append(_df(spark, [(3, "c")]))
    q = (
        spark.readStream.format("minilog")
        .option("withRowIds", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("t_rid_tail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["k"]: r["_row_id"] for r in spark.table("t_rid_tail").collect()
    }
    want = {
        r["k"]: r["_row_id"] for r in tbl.read_with_row_ids().collect()
    }
    assert got == want and len(got) == 3


def test_detail_and_show_partitions(spark, ptbl, tbl):
    """DESCRIBE DETAIL / SHOW PARTITIONS: the operational metadata
    surface — pure log folds, one row per partition, DV-masked rows
    excluded from counts, zero data files opened."""
    ptbl.append(_pdf(spark, [(i, i % 2, "a") for i in range(10)]))
    ptbl.delete_where_dv("k", 0, 0)  # masks one day=0 row
    d = ptbl.detail()
    assert d["partition_columns"] == ["day"]
    assert d["num_rows"] == 9 and d["num_files_with_dv"] == 1
    assert d["schema"] == ["k", "day", "v"]
    assert d["row_watermark"] == 10
    parts = {
        r["day"]: (r["num_files"], r["num_rows"])
        for r in ptbl.show_partitions().collect()
    }
    assert parts == {"0": (1, 4), "1": (1, 5)}
    # unpartitioned: detail works, show_partitions refuses
    tbl.append(_df(spark, [(1, "a")]))
    assert tbl.detail()["partition_columns"] == []
    with pytest.raises(ValueError, match="not partitioned"):
        tbl.show_partitions()


# --------------------------------------------- native-write blooms (r10)


def test_xxhash64_port_bit_equality(spark):
    """The native writer's xxhash64 port must be BITWISE Spark's
    F.xxhash64 for every type leg the writer blooms, across ALL
    BLOOM_K seeds and hostile values — block boundaries of the XXH64
    algorithm (31/32/33-byte strings cross the 32-byte stripe loop),
    non-ASCII, embedded NULs, signed extremes. Any engine-upgrade
    divergence must fail HERE, never as a wrong skip in production."""
    import datetime

    import pyspark.sql.functions as F

    from bootic_stats_aggregates_spark.acid import BLOOM_K
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        spark_xxhash64_compat,
    )

    cases = [
        ("int", "int", [0, 1, -1, 2**31 - 1, -(2**31), 42]),
        ("int", "smallint", [0, -1, 32767, -32768]),
        ("long", "bigint", [0, 1, -1, 2**63 - 1, -(2**63), 7_000_000_001]),
        (
            "bytes",
            "string",
            [
                "",
                "a",
                "abc",
                "é-ünïcode-日本語",
                "x" * 31,
                "x" * 32,
                "x" * 33,
                "y" * 100,
                "nul\x00byte",
            ],
        ),
        ("bytes", "binary", [b"", b"\x00", b"\xff" * 40, b"raw\x01\x02"]),
    ]
    for kind, stype, vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], f"v {stype}")
        for seed in range(BLOOM_K):
            got = [
                r[0]
                for r in df.select(
                    F.xxhash64(F.col("v"), F.lit(seed))
                ).collect()
            ]
            for v, g in zip(vals, got):
                pv = v.encode("utf-8") if isinstance(v, str) else v
                assert spark_xxhash64_compat(pv, kind, seed) == g, (
                    kind,
                    stype,
                    seed,
                    v,
                )
    # date hashes its epoch-day int; timestamp its UTC-epoch micros —
    # compare against Spark's OWN internal values (unix_micros), which
    # are exactly what the Arrow batches hand the writer
    d = datetime.date(2021, 5, 17)
    df = spark.createDataFrame([(d,)], "v date")
    for seed in range(BLOOM_K):
        g = df.select(F.xxhash64("v", F.lit(seed))).collect()[0][0]
        days = (d - datetime.date(1970, 1, 1)).days
        assert spark_xxhash64_compat(days, "int", seed) == g
    ts = datetime.datetime(2021, 5, 17, 12, 34, 56, 789123)
    df = spark.createDataFrame([(ts,)], "v timestamp")
    row = df.select(
        F.unix_micros("v").alias("us"),
        *[
            F.xxhash64("v", F.lit(seed)).alias(f"h{seed}")
            for seed in range(BLOOM_K)
        ],
    ).collect()[0]
    for seed in range(BLOOM_K):
        assert (
            spark_xxhash64_compat(row["us"], "long", seed)
            == row[f"h{seed}"]
        )


def test_native_write_bloom_cols_point_skip(spark, tmp_path):
    """src_bloom_native's contract at test granularity: a table written
    ONLY via df.write.format('minilog').option('bloomCols', ...) point-
    skips immediately — adaptive in-log/sidecar sizing per file, no
    false negatives over every probed present value, absent-value
    probes scanning nothing, and nothing left for the backfill."""
    import pyspark.sql.functions as F

    from bootic_stats_aggregates_spark.acid import BLOOM_BITS
    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "nb")
    # file 0: small NDV (in-log bloom); file 1: 20k NDV (sidecar)
    small = spark.range(100).select(
        (F.col("id") * 2 + 1).alias("u"), F.lit("s").alias("v")
    )
    big = spark.range(20_000).select(
        (F.col("id") * 2 + 201).alias("u"), F.lit("b").alias("v")
    )
    for df in (small, big):
        (
            df.coalesce(1)
            .write.format("minilog")
            .mode("append")
            .option("bloomCols", "u")
            .save(path)
        )
    tbl = MiniLogTable(spark, path, bloom_cols=("u",))
    snap = tbl.snapshot()
    kinds = {
        ("sidecar" if "sidecar" in f.stats["u"]["bloom"] else "hex")
        for f in snap.files
    }
    assert kinds == {"hex", "sidecar"}  # adaptive sizing, per file
    assert any(
        f.stats["u"]["bloom"]["m"] > BLOOM_BITS for f in snap.files
    )
    # point skip: u=1 lives only in the small file, u=40001 only in big
    assert len(tbl.select_files(point=("u", 1))) == 1
    assert len(tbl.select_files(point=("u", 40_001))) == 1
    # absent (even parity, in neither file): nothing scanned
    assert tbl.select_files(point=("u", 2)) == []
    # no false negatives across a present-value sweep of both files
    for u in (1, 199, 201, 4001, 40_199):
        assert tbl.read(point=("u", u)).count() == 1, u
    # write-time blooms leave the backfill nothing to do
    assert tbl.build_bloom_index()["indexed"] == 0


def test_native_write_bloom_unsupported_and_partition_cols(
    spark, tmp_path
):
    """bloomCols naming a float column (outside the pinned hash
    surface) or a partition column (bytes live in directory names)
    yields NO bloom — missing index = no skip, never a wrong skip —
    while the supported column on the same write still indexes."""
    import pyspark.sql.functions as F

    from bootic_stats_aggregates_spark.sources.minilog_source import (
        register,
    )

    register(spark)
    path = str(tmp_path / "np")
    df = spark.range(50).select(
        (F.col("id") % 2).cast("string").alias("part"),
        F.col("id").alias("u"),
        (F.col("id") * 1.5).alias("score"),
    )
    (
        df.coalesce(1)
        .write.format("minilog")
        .mode("append")
        .option("partitionBy", "part")
        .option("bloomCols", "part,u,score")
        .save(path)
    )
    tbl = MiniLogTable(spark, path, bloom_cols=("u",))
    for f in tbl.snapshot().files:
        assert "bloom" in f.stats.get("u", {})
        assert "bloom" not in f.stats.get("score", {})
        assert "bloom" not in f.stats.get("part", {})
    # probes on the unbloomed columns scan everything (no wrong skip)
    assert len(tbl.select_files()) == 2
    assert len(tbl.select_files(point=("u", 7))) == 1
    assert tbl.read(point=("u", 7)).count() == 1
