"""Record the expected result digests of the digest-checked queries.

    python3 perfbench/verify_digests.py

Generates the ``batch_queries`` inputs, runs each query of
``workloads.DIGEST_CHECKED`` in Spark and its full DuckDB oracle, and
writes the digest to ``expected_digests.json`` only if the two results are
equal. The record keeps how and when it was verified and how long the
oracle took, which is why the benchmark does not run it on every run.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    work = tempfile.mkdtemp(prefix=".verify-", dir=ROOT)
    os.environ["PYTHONPATH"] = ROOT
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import duckdb

        import datagen
        import workloads
        from bootic_stats_aggregates_spark import registry
        from bootic_stats_aggregates_spark.io import TABLES
        from bootic_stats_aggregates_spark.session import get_spark

        data = os.path.join(work, "sf0.1")
        d = workloads.DATA
        datagen.write_tables(data, d["sf"], d["docs_sf"], d["content_seed"], order_seed=0)
        spark = get_spark("perfbench-verify")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}.parquet')")
        out = {}
        for qid in sorted(workloads.DIGEST_CHECKED):
            got = registry.all_queries()[qid].__wrapped__(spark, data).toPandas()
            t = time.time()
            want = con.execute(registry.all_oracles()[qid]).fetch_df()
            oracle_s = time.time() - t
            a, b = workloads._normalize(got), workloads._normalize(want)
            if not (a.shape == b.shape and a.equals(b)):
                print(f"{qid}: Spark result differs from the DuckDB oracle", file=sys.stderr)
                return 1
            out[qid] = {
                "sha256": workloads.result_digest(got),
                "rows": len(got),
                "verified": "Spark result equal to the full DuckDB oracle_sql() on the "
                            "generated batch_queries inputs, by perfbench/verify_digests.py",
                "verified_at": datetime.datetime.now(datetime.timezone.utc).isoformat(
                    timespec="seconds"),
                "oracle_s": round(oracle_s, 2),
                "data": d,
            }
            print(qid, out[qid])
        with open(os.path.join(HERE, "expected_digests.json"), "w") as fh:
            json.dump(out, fh, indent=2, sort_keys=True)
            fh.write("\n")
        spark.stop()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
