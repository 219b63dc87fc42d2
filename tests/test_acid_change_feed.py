"""MiniLog row-tracked change feed read as one plan per commit range.

``changes_with_ids_by_commit`` returns every commit's update-linked feed
tagged with ``_commit_version`` from one scan of the touched files;
``changes_with_ids`` is its one-pair case. These tests pin the kernel
against the per-commit feeds and the job count it buys
``tx_apply_changes_keyed``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bootic_stats_aggregates_spark.acid import MiniLogTable, apply_changes
from bootic_stats_aggregates_spark.registry import all_queries
from conftest import SF_DIR


def _bag(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def _per_commit(tbl, lo, hi):
    """The union of changes_with_ids(v - 1, v) tagged with v."""
    out = None
    for v in range(lo + 1, hi + 1):
        f = tbl.changes_with_ids(v - 1, v).withColumn(
            "_commit_version", F.lit(v).cast("bigint")
        )
        out = f if out is None else out.unionByName(
            f, allowMissingColumns=True
        )
    return out


@pytest.fixture
def history(spark, tmp_path):
    """append, MERGE (update + delete + insert), DV delete, OPTIMIZE,
    ADD COLUMN, append in the new shape."""
    t = MiniLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k INT, v STRING, n INT",
        )
    )
    t.append(
        spark.createDataFrame(
            [(5, "e", 50), (6, "f", 60)], "k INT, v STRING, n INT"
        )
    )
    t.merge_clauses(
        spark.createDataFrame(
            [(2, "B", 200, "u"), (3, "c", 0, "d"), (9, "i", 90, "u")],
            "k INT, v STRING, n INT, op STRING",
        ),
        keys=("k",),
        matched=(
            {"action": "delete", "condition": "source.op = 'd'"},
            {"action": "update", "set": None},
        ),
        not_matched=({"action": "insert", "values": None},),
    )
    t.delete_where_dv("k", 5, 5)
    t.optimize()
    t.add_column("x", "bigint")
    t.append(
        spark.createDataFrame(
            [(7, "g", 70, 700)], "k INT, v STRING, n INT, x BIGINT"
        )
    )
    return t


def test_by_commit_equals_per_commit_feeds(spark, history):
    t = history
    vn = t.version
    feed = t.changes_with_ids_by_commit(0)
    # projected through the range's TO schema, in the streamed CDF shape
    assert feed.columns == [
        "k", "v", "n", "x", "_row_id", "_change_type", "_commit_version",
    ]
    assert _bag(feed) == _bag(_per_commit(t, 0, vn).select(*feed.columns))
    # from -1 the first commit's rows arrive as inserts
    full = t.changes_with_ids_by_commit(-1)
    assert _bag(full) == _bag(_per_commit(t, -1, vn).select(*full.columns))
    kinds = {
        (r["_commit_version"], r["_change_type"]): r["count"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .count()
        .collect()
    }
    assert kinds == {
        (1, "insert"): 2,
        (2, "update_preimage"): 1,
        (2, "update_postimage"): 1,
        (2, "delete"): 1,
        (2, "insert"): 1,
        (3, "delete"): 1,
        (6, "insert"): 1,
    }  # OPTIMIZE (4) and ADD COLUMN (5) feed nothing
    # a bounded range (its TO schema predates x) and the one-pair case
    # agree with the kernel
    mid = t.changes_with_ids_by_commit(1, 3)
    assert "x" not in mid.columns
    assert _bag(mid) == _bag(
        feed.filter(F.col("_commit_version").between(2, 3)).drop("x")
    )
    assert _bag(t.changes_with_ids(2, 3)) == _bag(
        mid.filter(F.col("_commit_version") == 3).drop("_commit_version")
    )


def test_by_commit_folds_to_direct_read(spark, history):
    t = history
    state = t.read_with_row_ids(version=0).withColumn(
        "x", F.lit(None).cast("bigint")
    ).select("k", "v", "n", "x", "_row_id")
    folded = apply_changes(state, t.changes_with_ids_by_commit(0))
    assert _bag(folded) == _bag(t.read_with_row_ids())


def test_untracked_files_raise_in_both_forms(spark, tmp_path):
    t = MiniLogTable(spark, str(tmp_path / "t"), stats_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    # rewrite the commit as a writer before row tracking would have
    log = os.path.join(t.path, "_minilog", "00000000.json")
    with open(log) as fh:
        entry = json.load(fh)
    for act in entry["actions"]:
        act.pop("base_row_id", None)
    with open(log, "w") as fh:
        json.dump(entry, fh)
    for feed in (
        lambda: t.changes_with_ids(-1, 0),
        lambda: t.changes_with_ids_by_commit(-1),
    ):
        with pytest.raises(ValueError, match="predate row tracking"):
            feed()


def test_apply_changes_keyed_build_jobs(spark, monkeypatch):
    """Building tx_apply_changes_keyed on a staged table schedules a
    fixed handful of jobs under the benchmark's settings (AQE off):
    schema inference for its three reads, then the sync proof's count
    and its broadcasts. Reading each commit's feed separately scheduled
    22."""
    build = all_queries()["tx_apply_changes_keyed"].__wrapped__
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    monkeypatch.setenv("SPARK_GRAFT_AQE", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        build(spark, SF_DIR)  # stages the table on first use
        group = "apply-keyed-build"
        sc.setJobGroup(group, "tx_apply_changes_keyed build")
        try:
            df = build(spark, SF_DIR)
        finally:
            sc.setJobGroup("apply-keyed-idle", "idle")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 8, f"build scheduled {len(jobs)} jobs"
        assert {r["sync_ok"] for r in df.select("sync_ok").collect()} == {
            True
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
