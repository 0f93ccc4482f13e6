"""Seeded input generators for the benchmark.

``write_tables`` writes the engine's ten tables (TPC-H-ish star schema plus
``events``/``documents``/``embeddings``) as one parquet file per table, with
the schemas, key ranges and value distributions of the repo's fixed test
corpus (FIXTURES.md section 3) scaled by ``sf``: lineitem ~6M x sf rows,
documents 50k x sf with 5% planted near-duplicates, 64-d unit embeddings,
events spread over 30 days. ``write_trips_csv`` writes a gzip NYC-taxi-shaped
trips CSV (FIXTURES.md section 1). The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_VOCAB = (
    "a the data query table column row key value join group agg sort order "
    "filter scan hash merge window batch stream spark vector part line "
    "customer big small fast slow"
).split()
_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)


def _days_us(start: str, days: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + days.astype(np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vec = max(20, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["small", "large", "red", "blue", "hot", "cold", "old", "new",
                  "green", "shiny", "dull", "heavy", "light"]
    nouns = ["ring", "widget", "bolt", "plate", "gear"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    per_order = rng.poisson(4.0, n_ord)
    n_li = int(per_order.sum())
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days_us("1995-01-02", rng.integers(0, 2498, n_li))),
    })
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(base + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_docs)]
    # Near-duplicates: 5% of documents copy another document and append a
    # marker word, so dedup/similarity operators have real pairs to find.
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })
    return out


def write_tables(dest: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``dest/<name>.parquet``; return row counts."""
    os.makedirs(dest, exist_ok=True)
    rows = {}
    for name, table in _tables(np.random.default_rng(seed), sf).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows


def write_trips_csv(path: str, seed: int, n: int) -> int:
    """Write ``n`` NYC-taxi-shaped trips as a gzip CSV with a header."""
    rng = np.random.default_rng(seed + 1)
    pickup = np.datetime64("2021-01-01", "us").astype(np.int64) + rng.integers(0, 31 * _DAY_US, n)
    dropoff = pickup + rng.integers(60, 3600, n) * 1_000_000

    def nullable(values: np.ndarray, share: float = 0.02) -> pa.Array:
        return pa.array(values, mask=rng.random(n) < share)

    fare = _money(rng, -5.0, 80.0, n)
    extra = rng.choice([0.0, 0.5, 1.0, 2.5], n)
    tip = _money(rng, 0.0, 15.0, n)
    tolls = rng.choice([0.0, 0.0, 0.0, 6.12], n)
    congestion = rng.choice([0.0, 2.5], n)
    table = pa.table({
        "VendorID": rng.integers(1, 3, n, dtype=np.int64),
        "tpep_pickup_datetime": _ts(pickup),
        "tpep_dropoff_datetime": _ts(dropoff),
        "passenger_count": nullable(rng.integers(0, 7, n).astype(np.float64)),
        "trip_distance": np.round(rng.lognormal(0.8, 0.9, n), 2),
        "RatecodeID": nullable(rng.integers(1, 7, n).astype(np.float64)),
        "store_and_fwd_flag": nullable(rng.choice(np.array(["N", "Y"], dtype=object), n, p=[0.98, 0.02])),
        "PULocationID": rng.integers(1, 266, n, dtype=np.int64),
        "DOLocationID": rng.integers(1, 266, n, dtype=np.int64),
        "payment_type": rng.integers(1, 6, n, dtype=np.int64),
        "fare_amount": fare,
        "extra": extra,
        "mta_tax": np.full(n, 0.5),
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": np.full(n, 0.3),
        "total_amount": np.round(fare + extra + 0.5 + tip + tolls + 0.3 + congestion, 2),
        "congestion_surcharge": congestion,
        "airport_fee": nullable(np.zeros(n), share=0.5),
    })
    opts = pacsv.WriteOptions(include_header=True)
    with gzip.open(path, "wb", compresslevel=1) as fh:
        pacsv.write_csv(table, fh, write_options=opts)
    return n
