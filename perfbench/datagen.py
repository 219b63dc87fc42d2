"""Seeded, schema-faithful stand-ins for the engine's fixture tables.

The benchmark may read nothing outside its checkout, so it synthesizes the
tables it needs with the fixture's schemas, physical parquet types
(timestamps as TIMESTAMP(MICROS), isAdjustedToUTC=false, which Spark reads
as TIMESTAMP_NTZ and ``io.normalize_ts`` maps to UTC) and value
distributions. Row counts follow the fixture's scale factor: ``sf=0.1``
gives 100k events, 600k lineitem rows, 150k orders.

``content_seed`` fixes the values; ``order_seed`` permutes row order only,
so a query's result does not depend on it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
TS = pa.timestamp("us")  # no tz: parquet isAdjustedToUTC=false, as in the fixture

_DAY_US = 86_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch us


def _days_us(rng, n, first: str, last: str):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def events(rng, n: int, n_users: int) -> dict:
    """Event columns: ids in order, ``ts`` ascending over ~30 days of 2024."""
    gaps = rng.exponential(30 * _DAY_US / max(n, 1), n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EPOCH_2024 + np.cumsum(gaps).astype(np.int64),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
        ),
    }


def events_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.int64()).cast(TS),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # ~5% near-duplicates of an earlier document (one word swapped for
    # "dup") and a few exact duplicates, as in the fixture.
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = "dup"
            texts[i] = " ".join(words)
        elif u < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)], pa.string()),
            "source": pa.array(np.char.add("src", (ids % 20).astype(str)), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.5, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(sf: float, docs_sf: float, content_seed: int) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``; documents/embeddings at ``docs_sf``."""
    rng = np.random.default_rng(content_seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * docs_sf))
    n_emb = max(500, int(20_000 * docs_sf))
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "small", "red", "green"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                noun[rng.integers(0, 5, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
            "o_orderdate": pa.array(
                _days_us(rng, n_ord, "1995-01-01", "2001-08-01"), pa.int64()
            ).cast(TS),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days_us(rng, n_li, "1995-01-02", "2001-11-04"), pa.int64()
            ).cast(TS),
        }
    )
    out["events"] = events_table(events(rng, int(1_000_000 * sf), int(15_000 * sf)))
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(
    out_dir: str, sf: float, docs_sf: float, content_seed: int, order_seed: int
) -> dict[str, int]:
    """Write every table as one parquet file, rows permuted by ``order_seed``.

    Returns the row count of each table.
    """
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(order_seed)
    counts = {}
    for name, t in tables(sf, docs_sf, content_seed).items():
        t = t.take(perm_rng.permutation(t.num_rows))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
