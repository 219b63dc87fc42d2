"""Model-based tests for the Redis sink's building blocks (no Spark).

The streaming pipeline's end state is only as trustworthy as FakeRedis and
the idempotence guard, so both are checked against a plain-dict model under
hypothesis-generated command streams — including replays, which model the
micro-batch retries the marker guard must absorb.
"""

from __future__ import annotations

from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

from bootic_stats_aggregates_spark.sinks.redis_sink import FakeRedis

_keys = st.sampled_from(["stats:view:2024:01:01", "stats:buy:2024:01:02", "k"])
_fields = st.sampled_from(["n", "cents", "f"])
_members = st.sampled_from(["1", "2", "42"])

_commands = st.lists(
    st.one_of(
        st.tuples(st.just("HINCRBY"), _keys, _fields, st.integers(-1000, 1000)),
        st.tuples(
            st.just("ZINCRBY"),
            _keys,
            _members,
            st.floats(-100, 100, allow_nan=False),
        ),
        st.tuples(st.just("SADD"), _keys, _members, st.none()),
    ),
    max_size=60,
)


@given(_commands)
@settings(max_examples=200, deadline=None)
def test_fakeredis_matches_dict_model(cmds):
    r = FakeRedis()
    hashes: dict = defaultdict(lambda: defaultdict(int))
    zsets: dict = defaultdict(lambda: defaultdict(float))
    sets: dict = defaultdict(set)
    for cmd, key, a, b in cmds:
        if cmd == "HINCRBY":
            r.hincrby(key, a, b)
            hashes[key][a.encode()] += b
        elif cmd == "ZINCRBY":
            r.zincrby(key, b, a)
            zsets[key][a.encode()] += b
        else:
            r.sadd(key, a)
            sets[key].add(a.encode())
    assert {k: dict(v) for k, v in r.hashes.items() if v} == {
        k: dict(v) for k, v in hashes.items() if v
    }
    for k, z in zsets.items():
        for m, score in z.items():
            assert abs(r.zsets[k][m] - score) < 1e-9
    assert {k: v for k, v in r.sets.items() if v} == {
        k: v for k, v in sets.items() if v
    }


def _sink_call(r, batch_id, rows, crash_before_commit=False):
    """The sink's protocol without Spark: marker check -> one atomic
    commit of the batch's rows, its marker and its stage-key DEL."""
    from bootic_stats_aggregates_spark.sinks.redis_sink import commit_staged

    marker = f"m:{batch_id}"
    if r.get(marker) is not None:
        return
    if crash_before_commit:
        return  # simulated failure BEFORE the commit txn: nothing applied
    commit_staged(r, rows, marker, f"stage:{batch_id}")


@given(
    st.lists(st.tuples(_keys, st.integers(1, 50)), min_size=1, max_size=20),
    st.sets(st.integers(0, 19)),
)
@settings(max_examples=100, deadline=None)
def test_two_phase_commit_exactly_once(batches, crash_ids):
    """Replaying any batch — including batches whose first attempt crashed
    before its commit — must yield exactly-once counter totals. (The r1
    marker-BEFORE-apply ordering failed this: a crash mid-apply left the
    marker set and the retry skipped the batch entirely.)"""
    r = FakeRedis()
    rows_of = lambda key, delta: [("HINCRBY", key, "n", delta)]
    for batch_id, (key, delta) in enumerate(batches):
        _sink_call(
            r, batch_id, rows_of(key, delta), crash_before_commit=batch_id in crash_ids
        )
    # every batch retried (out of order, twice) — crashed ones now succeed
    for batch_id, (key, delta) in list(enumerate(batches))[::-1] * 2:
        _sink_call(r, batch_id, rows_of(key, delta))
    expected: dict = defaultdict(int)
    for key, delta in batches:
        expected[key] += delta
    assert {k: v[b"n"] for k, v in r.hashes.items() if v} == dict(expected)
    # one marker per batch, and nothing else in the string keyspace
    assert set(r.kv) == {f"m:{b}" for b in range(len(batches))}
