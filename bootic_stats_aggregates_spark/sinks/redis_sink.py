"""Redis sink (SURVEY.md §2.1 snk_redis_hash / snk_redis_zset).

The reference daemon's entire output surface is incremental Redis updates:
time-bucketed counter hashes (HINCRBY), ranking sorted sets (ZINCRBY) and
unique-visitor sets (SADD) — SURVEY.md §2.1 ``[REF⟂ tracker.go]``
(reconstructed; /root/reference empty, SURVEY.md §0).

Spark-first split:

1. **Command generation is one pass per batch** (`batch_commands`): one
   ``select`` projects each event into its five command rows (HINCRBY
   ``n`` and ``cents``, ZINCRBY ``top_users`` and ``top_paths``, SADD
   ``uniq``), and one group-by on (cmd, key, member) sums their deltas.
   One scan, one shuffle and one Spark job per batch, and Redis receives
   ONE increment per (key, member) per batch instead of one per event.
   That per-batch combine is what makes the sink survive 100 TB: Redis
   traffic scales with |groups|, not |events|. The public builders
   (`counter_commands` / `ranking_commands` / `path_ranking_commands` /
   `unique_commands`) run the same plan over their own commands, so the
   rows the ``snk_redis_*`` oracles check are the rows the sink commits.
2. **The writer is one driver-side transaction** (`RedisCounterSink`):
   ``foreachBatch`` -> the driver checks the batch marker, collects the
   batch's command rows in one job (they are already combined per (key,
   member), so there are |groups| of them) and applies them in ONE
   MULTI/EXEC that also sets the batch marker, over one connection. A
   retried micro-batch either sees the marker (skip) or recomputes the
   same commands and re-commits (nothing was applied — MULTI/EXEC is
   all-or-nothing). This is the exactly-once upgrade over the reference's
   at-least-once socket consumption; note marker-INSIDE-the-commit-
   transaction is what makes it sound — a marker set before (or outside)
   the apply would turn partial failures into silent undercounts. Assumes
   Spark's sequential micro-batch retry semantics (no two drivers
   committing the same batch concurrently), which foreachBatch guarantees.

No redis server (or client lib) ships in this container: the import is
gated and `FakeRedis` implements the tiny command subset for tests and for
the oracle-checked `stream_redis_counters` query.
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - redis-py is not installed in this container
    import redis as _redis
except ImportError:  # pragma: no cover
    _redis = None

KEY_PREFIX = "stats"
BUCKET_FMT = "yyyy:MM:dd:HH"  # the reference's {y}:{m}:{d}[:{h}] key schema
DAY_FMT = "yyyy:MM:dd"


def _or_dash(c: Column) -> Column:
    """NULL -> explicit '-' sentinel. Redis members cannot be NULL, and
    concat_ws would silently DROP a NULL key segment, leaving a short key
    that corrupts the schema (hostile sweeps r5/r7)."""
    return F.coalesce(c, F.lit("-"))


def _type_key(prefix: str, fmt: str | None = None) -> Column:
    """``{prefix}:{event_type}[:{ts formatted by fmt}]``; clock-less events
    (NULL ts) go to an explicit '-' bucket."""
    parts = [F.lit(prefix), F.col("event_type")]
    if fmt:
        parts.append(_or_dash(F.date_format("ts", fmt)))
    return F.concat_ws(":", *parts)


def _user() -> Column:
    return _or_dash(F.col("user_id").cast("string"))


def _path() -> Column:
    """Top-page member. The fixture events carry no URL, so one is
    synthesized from the JSON payload; ``parse_url`` is the real JVM-side
    extraction a deployment would run on the referrer/page field. NULL or
    unparseable props -> '-'."""
    url = F.concat(
        F.lit("https://shop.example.com/p/"),
        F.get_json_object("props", "$.k"),
    )
    return _or_dash(F.parse_url(url, F.lit("PATH")))


def _commands() -> dict[str, Column]:
    """Every command one event contributes, as (cmd, key, member, delta)."""
    one = F.lit(1).cast("long")
    hour = _type_key(KEY_PREFIX, BUCKET_FMT)

    def cmd(name: str, key: Column, member: Column, delta: Column) -> Column:
        return F.struct(F.lit(name).alias("cmd"), key.alias("key"),
                        member.alias("member"), delta.alias("delta"))

    return {
        "n": cmd("HINCRBY", hour, F.lit("n"), one),
        "cents": cmd(
            "HINCRBY", hour, F.lit("cents"),
            F.round(F.col("value") * 100).cast("long"),
        ),
        "top_users": cmd("ZINCRBY", _type_key("top_users"), _user(), one),
        "top_paths": cmd("ZINCRBY", _type_key("top_paths", DAY_FMT), _path(), one),
        "uniq": cmd("SADD", _type_key("uniq", DAY_FMT), _user(), one),
    }


def _aggregate(events: DataFrame, names) -> DataFrame:
    """Project each event into the named commands, then combine them per
    (cmd, key, member) in one shuffle.

    The delta sum is ``count(*)`` for ``n`` and ZINCRBY and the value sum
    for ``cents``; SADD ignores it, so its group-by is a ``distinct``. NULL
    policy (uniform across the command family): a bucket whose every value
    is NULL sums to NULL — an unknown amount increments nothing, so the
    delta is 0 (HINCRBY cannot carry NULL).
    """
    cmds = _commands()
    return (
        events.select(F.inline(F.array(*(cmds[n] for n in names))))
        .groupBy("cmd", "key", "member")
        .agg(F.coalesce(F.sum("delta"), F.lit(0)).alias("delta"))
    )


def batch_commands(events: DataFrame) -> DataFrame:
    """Events -> every Redis command of the batch, one (cmd, key, member,
    delta) row per command identity, in one scan and one shuffle."""
    return _aggregate(events, ("n", "cents", "top_users", "top_paths", "uniq"))


def counter_commands(events: DataFrame) -> DataFrame:
    """Events -> HINCRBY command rows, one per (type, hour bucket, field):
    ``n`` (event count) and ``cents`` (value sum in integer cents — exact,
    mergeable, no float drift in Redis)."""
    return _aggregate(events, ("n", "cents")).withColumnRenamed("member", "field")


def ranking_commands(events: DataFrame) -> DataFrame:
    """Events -> ZINCRBY command rows for per-type user rankings."""
    return _aggregate(events, ("top_users",))


def path_ranking_commands(events: DataFrame) -> DataFrame:
    """Events -> ZINCRBY command rows for per-(type, day) top PAGES — the
    reference's actual ranking zset content (top paths/referrers, not just
    users)."""
    return _aggregate(events, ("top_paths",))


def unique_commands(events: DataFrame) -> DataFrame:
    """Events -> SADD command rows for per-(type, day) unique visitors.

    Deduplicated in Spark first — SADD traffic is |distinct users per
    bucket|, not |events|. (The HLL variant would be PFADD with identical
    shape.)
    """
    return _aggregate(events, ("uniq",)).drop("delta")


class Pipeline:
    """Buffered command pipeline with redis-py's pipeline surface: queue
    commands, apply them on ``execute()``. For FakeRedis (in-process,
    single-threaded) execute() is trivially atomic, matching what
    MULTI/EXEC gives the real client when ``transaction=True``."""

    def __init__(self, parent) -> None:
        self._parent = parent
        self._ops: list[tuple[str, tuple]] = []

    def _queue(self, method: str, *args):
        self._ops.append((method, args))
        return self

    def hincrby(self, key, field, delta):
        return self._queue("hincrby", key, field, delta)

    def zincrby(self, key, delta, member):
        return self._queue("zincrby", key, delta, member)

    def sadd(self, key, member):
        return self._queue("sadd", key, member)

    def hset(self, key, field, value):
        return self._queue("hset", key, field, value)

    def set(self, key, value, nx=False):
        return self._queue("set", key, value, nx)

    def delete(self, key):
        return self._queue("delete", key)

    def execute(self) -> list:
        results = [getattr(self._parent, m)(*a) for m, a in self._ops]
        self._ops = []
        return results


class FakeRedis:
    """In-memory stand-in with the redis-py command surface the sink needs
    (counters, staging hashes, marker KV, pipelining)."""

    def __init__(self) -> None:
        self.hashes: dict[str, dict[str, int]] = defaultdict(dict)
        self.zsets: dict[str, dict[str, float]] = defaultdict(dict)
        self.sets: dict[str, set[str]] = defaultdict(set)
        self.kv: dict[str, str] = {}
        self.staging: dict[str, dict[str, str]] = defaultdict(dict)

    def hincrby(self, key: str, field: str, delta: int) -> int:
        h = self.hashes[key]
        h[field] = h.get(field, 0) + int(delta)
        return h[field]

    def zincrby(self, key: str, delta: float, member: str) -> float:
        z = self.zsets[key]
        z[member] = z.get(member, 0.0) + float(delta)
        return z[member]

    def sadd(self, key: str, member: str) -> int:
        before = len(self.sets[key])
        self.sets[key].add(member)
        return len(self.sets[key]) - before

    # -- staging / marker surface (redis-py semantics) --

    def hset(self, key: str, field: str, value) -> int:
        fresh = field not in self.staging[key]
        self.staging[key][field] = str(value)
        return int(fresh)

    def hgetall(self, key: str) -> dict[str, str]:
        return dict(self.staging.get(key, {}))

    def get(self, key: str):
        return self.kv.get(key)

    def set(self, key: str, value, nx: bool = False):
        if nx and key in self.kv:
            return None  # redis-py: None when NX blocks the write
        self.kv[key] = str(value)
        return True

    def delete(self, key: str) -> int:
        existed = int(key in self.staging or key in self.kv)
        self.staging.pop(key, None)
        self.kv.pop(key, None)
        return existed

    def pipeline(self, transaction: bool = True) -> Pipeline:
        return Pipeline(self)


#: Names a real Redis server as a redis:// URL (e.g.
#: ``redis://localhost:6379/15``). Point it at a DEDICATED test database:
#: the env-gated integration test flushes the db it connects to.
REDIS_URL_ENV = "SPARK_GRAFT_REDIS_URL"


def client_factory_from_env(default_factory=FakeRedis):
    """Client factory for the sink, switchable to a real server by env.

    When :data:`REDIS_URL_ENV` is set, returns a factory opening real
    socket connections from the URL — redis-py when importable, else the
    dependency-free :class:`~.resp.RespClient` (same command surface,
    same bytes-reply semantics; r6, closing VERDICT r5 item 3). Either
    way the factory captures only the URL string and each call opens a
    connection of its own (a connection object must never cross process
    boundaries). Otherwise returns ``default_factory`` (FakeRedis), keeping every consumer
    runnable with zero sockets.
    """
    url = os.environ.get(REDIS_URL_ENV)
    if url and _redis is not None:

        def factory(u: str = url):
            return _redis.Redis.from_url(u)

        return factory
    if url:
        from .resp import RespClient

        def resp_factory(u: str = url):
            return RespClient.from_url(u)

        return resp_factory
    return default_factory


def _stage_field(r) -> tuple[str, str]:
    """Encode one (cmd, key, member, delta) row as a staged (field, value)
    pair, the form :func:`commit_staged` applies.

    Post-aggregation each (cmd, key, member) identity occurs exactly once
    per batch. '|' never appears in keys (':'-joined) so the encoding is
    unambiguous.
    """
    if r.cmd not in ("HINCRBY", "ZINCRBY", "SADD"):
        raise ValueError(f"unknown command {r.cmd!r}")
    value = "1" if r.cmd == "SADD" else str(int(r.delta))
    return f"{r.cmd}|{r.key}|{r.member}", value


def _close(client) -> None:
    """Close a client that holds a connection (FakeRedis holds none)."""
    close = getattr(client, "close", None)
    if close is not None:
        close()


def commit_staged(client, staged: dict, marker: str, stage_key: str) -> int:
    """Apply staged deltas + marker + staging cleanup in ONE transaction.

    The marker rides INSIDE the same MULTI/EXEC as the increments: either
    everything applied and the marker exists, or nothing did — a crash
    mid-commit leaves live counters untouched and the retry re-commits.
    Deleting ``stage_key`` in the same transaction drops a staging hash a
    writer may have left under it. Returns the number of increment
    commands applied.

    ``staged`` may come from ``client.hgetall(stage_key)``; a default
    redis-py client (``decode_responses=False``) returns ``bytes``
    fields/values, so both are normalized to ``str`` here rather than
    requiring every client factory to opt into decoding (ADVICE r2).
    """

    def _s(x) -> str:
        return x.decode("utf-8") if isinstance(x, (bytes, bytearray)) else str(x)

    staged = {_s(f): _s(v) for f, v in staged.items()}
    pipe = client.pipeline(transaction=True)
    for field in sorted(staged):
        cmd, key, member = field.split("|", 2)
        if cmd == "HINCRBY":
            pipe.hincrby(key, member, int(staged[field]))
        elif cmd == "ZINCRBY":
            pipe.zincrby(key, int(staged[field]), member)
        else:  # SADD
            pipe.sadd(key, member)
    pipe.set(marker, 1, nx=True)
    pipe.delete(stage_key)
    pipe.execute()
    return len(staged)


class RedisCounterSink:
    """foreachBatch sink: one Spark job collects the batch's combined
    commands to the driver, and one transaction over one connection
    applies them together with the batch marker.

    ``client_factory`` is called once per batch, on the driver (a real
    deployment passes a redis-py connection-pool factory; tests pass
    FakeRedis or a RESP client). The client is closed (if it has a
    ``close``) when the call returns, so the factory should hand out a
    connection of its own per call. ``distributed`` is accepted and
    ignored: FakeRedis and socket clients share the one driver path.
    """

    def __init__(
        self, client_factory, namespace: str = "bootic", distributed=None
    ) -> None:
        self._factory = client_factory
        self._ns = namespace

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        client = self._factory()
        try:
            marker = f"{self._ns}:batch:{batch_id}"
            if client.get(marker) is not None:
                return  # batch fully committed by a previous attempt
            # collect(), not toLocalIterator(): one job, not one per partition
            staged = dict(map(_stage_field, batch_commands(batch_df).collect()))
            commit_staged(client, staged, marker, f"{self._ns}:stage:{batch_id}")
        finally:
            _close(client)
