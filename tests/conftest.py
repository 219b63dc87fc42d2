"""Shared fixtures: one warm SparkSession + a DuckDB oracle connection.

The oracle-compare here mirrors the driver's t2 gate (SURVEY.md §5.2): run
the registered Spark query and its DuckDB SQL twin on the same parquet at
sf0.01, then compare row count + column names + values order-insensitively
and exactly (no tolerance — the determinism rules in FIXTURES.md are supposed
to make exact equality hold).
"""

from __future__ import annotations

import os
import re
import runpy

import duckdb
import numpy as np
import pandas as pd
import pytest

from bootic_stats_aggregates_spark.io import TABLES
from bootic_stats_aggregates_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


def _slow_key(nodeid: str) -> str:
    """A nodeid as tests/slow_tests.py lists it: a parameter id that is an
    absolute path keeps only its last component, so the list does not
    depend on where the fixtures live."""
    return re.sub(r"\[/(?:[^/\]]*/)*", "[", nodeid)


def pytest_collection_modifyitems(config, items):
    """Tier the suite (VERDICT r13 task 1): tag the measured-slow nodeids
    (tests/slow_tests.py, data-driven from the r14 timed full run) with
    ``slow`` so the default ``-m "not slow"`` (pyproject addopts) run
    finishes inside the driver's verify window. Full tier:
    ``-m "slow or not slow"``. The list is read from this file's own
    directory, not through pytest's ``sys.path`` insertion."""
    slow = runpy.run_path(os.path.join(os.path.dirname(__file__), "slow_tests.py"))
    for item in items:
        if _slow_key(item.nodeid) in slow["SLOW_TESTS"]:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("bootic-stats-aggregates-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Bring both engines' output to a common comparable form."""
    out = df.copy()
    out = out.reindex(sorted(out.columns), axis=1)
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif s.dtype == object:
            # datetime.date / Decimal / str — stringify for stable compare
            out[c] = s.map(lambda v: None if v is None else str(v))
    out = out.sort_values(by=list(out.columns), na_position="last", kind="mergesort")
    return out.reset_index(drop=True)


def assert_oracle_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, qid: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{qid}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{qid}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        diff_cols = []
        for c in a.columns:
            if not a[c].equals(b[c]):
                neq = (a[c] != b[c]) & ~(a[c].isna() & b[c].isna())
                n = int(neq.sum())
                if n:
                    i = int(np.argmax(neq.values))
                    diff_cols.append(f"{c}: {n} diffs, first spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}")
        raise AssertionError(f"{qid}: value mismatch — " + "; ".join(diff_cols)) from e
