"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # the package, which workloads imports
import datagen  # noqa: E402
from harness import (  # noqa: E402
    ProcTree,
    TooFewSamples,
    Tracer,
    batch_files,
    cpu_ticks,
    percentile,
    redis_oracle,
    redis_state_diff,
    steal_share,
)

# -- percentile ------------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 1.0) == 100
    assert percentile([7.0], 0.9) == 7.0
    assert percentile([3, 1, 2], 0.5) == 2


def test_percentile_ten_beyond_rule():
    assert percentile(range(100), 0.9, min_beyond=10) == 89
    with pytest.raises(TooFewSamples):
        percentile(range(99), 0.9, min_beyond=10)
    assert percentile(range(20), 0.5, min_beyond=10) == 9
    with pytest.raises(TooFewSamples):
        percentile(range(19), 0.5, min_beyond=10)
    with pytest.raises(TooFewSamples):
        percentile([], 0.5)


# -- process tree ------------------------------------------------------------

_CHILD = """
import sys, time
buf = bytearray(64 * 2**20)  # touched below, so it is resident
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
print("ready", flush=True)
sys.stdin.readline()
"""


def _spawn_child():
    p = subprocess.Popen([sys.executable, "-c", _CHILD], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
    assert p.stdout.readline().strip() == "ready"
    return p


def test_proc_tree_counts_children_cpu_and_rss():
    tree = ProcTree(os.getpid())
    cpu0, rss0 = tree.cpu_s(), tree.rss_bytes()
    p = _spawn_child()
    try:
        assert p.pid in tree.pids()
        assert tree.cpu_s() - cpu0 >= 0.5
        assert tree.rss_bytes() - rss0 >= 60 * 2**20
    finally:
        p.communicate("\n")
    # a reaped child's CPU stays counted through its parent's cutime
    assert tree.cpu_s() - cpu0 >= 0.5


def test_proc_tree_excludes_subtrees_and_samples_peak():
    p = _spawn_child()
    try:
        tree = ProcTree(os.getpid(), exclude=[p.pid])
        assert p.pid not in tree.pids()
        whole = ProcTree(os.getpid())
        whole.start_sampling(period=0.01)
        # the sampler is a process of its own, outside the measured tree
        assert whole._sampler.pid not in whole.pids()
        time.sleep(0.05)
        assert whole.stop_sampling() >= tree.rss_bytes() + 60 * 2**20
    finally:
        p.communicate("\n")


def test_steal_share_from_proc_stat():
    before = cpu_ticks()
    steal, total = before
    assert 0 <= steal <= total
    assert steal_share(before, before) == 0.0
    assert steal_share((10, 1000), (30, 1100)) == 0.2
    assert 0.0 <= steal_share(before, cpu_ticks()) <= 1.0


# -- checkpoint source log ------------------------------------------------


def test_batch_files_reads_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(path, batch):
        return json.dumps({"path": f"file://{path}", "timestamp": 1, "batchId": batch})

    (log / "0").write_text("v1\n" + entry("/d/a.parquet", 0) + "\n")
    (log / "1").write_text("v1\n" + entry("/d/b.parquet", 1) + "\n" + entry("/d/c.parquet", 1))
    (log / ".2.5f1c.tmp").write_text("v1\n" + entry("/d/x.parquet", 2))
    assert batch_files(str(tmp_path)) == {0: ["/d/a.parquet"], 1: ["/d/b.parquet", "/d/c.parquet"]}
    # a compacted log repeats earlier entries; they map once
    (log / "1.compact").write_text("v1\n" + entry("/d/a.parquet", 0) + "\n" + entry("/d/b.parquet", 1))
    assert batch_files(str(tmp_path))[0] == ["/d/a.parquet"]
    assert batch_files(str(tmp_path / "missing")) == {}


# -- Redis-state oracle ----------------------------------------------------

_H = 3_600_000_000  # one hour in us


def _tiny_events(path):
    base = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    cols = {
        "event_id": np.arange(4, dtype=np.int64),
        "ts": np.array([base, base + 10, base + _H, base + 24 * _H], dtype=np.int64),
        "user_id": np.array([7, 7, 8, 7], dtype=np.int64),
        "event_type": np.array(["view", "view", "view", "click"]),
        "value": np.array([1.25, 2.5, 0.1, 3.0]),
        "props": np.array(['{"k": 1}', '{"k": 1}', '{"k": 2}', '{"k": 1}']),
    }
    pq.write_table(datagen.events_table(cols), path)


def test_redis_oracle_on_tiny_input(tmp_path):
    f = str(tmp_path / "e.parquet")
    _tiny_events(f)
    got = redis_oracle(duckdb.connect(), [f])
    assert got["hashes"] == {
        "stats:view:2024:01:01:00": {"n": 2, "cents": 375},
        "stats:view:2024:01:01:01": {"n": 1, "cents": 10},
        "stats:click:2024:01:02:00": {"n": 1, "cents": 300},
    }
    assert got["zsets"] == {
        "top_users:view": {"7": 2.0, "8": 1.0},
        "top_users:click": {"7": 1.0},
        "top_paths:view:2024:01:01": {"/p/1": 2.0, "/p/2": 1.0},
        "top_paths:click:2024:01:02": {"/p/1": 1.0},
    }
    assert got["sets"] == {"uniq:view:2024:01:01": {"7", "8"}, "uniq:click:2024:01:02": {"7"}}


def test_redis_state_diff_checks_counters_markers_and_staging(tmp_path):
    f = str(tmp_path / "e.parquet")
    _tiny_events(f)
    expected = redis_oracle(duckdb.connect(), [f])
    dump = {
        "hashes": {k: {f: str(v) for f, v in h.items()} for k, h in expected["hashes"].items()},
        "zsets": expected["zsets"],
        "sets": {k: sorted(v) for k, v in expected["sets"].items()},
        "kv": {"bootic:batch:0": "1", "bootic:batch:1": "1"},
    }
    markers = {"bootic:batch:0", "bootic:batch:1"}
    assert redis_state_diff(expected, dump, markers) == []
    assert redis_state_diff(expected, dump, {"bootic:batch:0"})
    dump["hashes"]["bootic:stage:2"] = {"HINCRBY|k|n": "1"}
    assert any("staging" in p for p in redis_state_diff(expected, dump, markers))
    del dump["hashes"]["bootic:stage:2"]
    dump["hashes"]["stats:view:2024:01:01:00"]["n"] = "3"
    assert redis_state_diff(expected, dump, markers) == [
        "stats hashes differ (0 keys on one side only)"]


# -- tracer ------------------------------------------------------------------


def test_tracer_self_times_and_disabled():
    tr = Tracer(True)
    with tr.span("run", "workload"):
        with tr.span("op", "op"):
            time.sleep(0.02)
            with tr.span("call", "redis_sink.call"):
                time.sleep(0.03)
    assert [s["parent"] for s in tr.spans] == [None, 0, 1]
    own = tr.self_times()
    assert own["redis_sink.call"] >= 0.03
    assert 0.02 <= own["op"] < 0.03 + 0.02
    assert own["workload"] < 0.01
    off = Tracer(False)
    with off.span("x", "op"):
        pass
    assert off.spans == [] and off.self_times() == {}


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as fh:
        bench = json.load(fh)
    import workloads

    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == {"stream_redis", "batch_queries"}
