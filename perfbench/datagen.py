"""Seeded generator for the benchmark's input tables.

Writes the ten canonical tables (``schemas.TABLES``) as one parquet file
each, with the column types, value domains and row counts per scale
factor of the star schema the package is tested on (FIXTURES.md §A):
TPC-H-ish dimensions and facts, an ``events`` stream table, a
``documents`` corpus over a small word vocabulary (with a share of
near-duplicate documents, so dedup probes find pairs) and unit-norm
64-dimensional ``embeddings``. The same ``(sf, seed)`` always gives the
same bytes of data; nothing is read from outside the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
NEAR_DUP_SOURCES = 250
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (dimensions near-fixed)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng, vocab, n, p=None):
    return pa.array(np.asarray(vocab, dtype=object)[rng.choice(len(vocab), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _days(rng, start_us: int, n_days: int, n: int) -> pa.Array:
    return _ts(start_us + rng.integers(0, n_days, n) * _DAY_US)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        # every 25th document is a light edit (one word in 50) of one of
        # the first NEAR_DUP_SOURCES documents: the near-duplicate pairs
        # MinHash/dedup queries exist to find, with sources that every
        # index over a prefix of the corpus holds
        if i >= 25 and i % 25 == 0:
            words = texts[int(rng.integers(0, min(i, NEAR_DUP_SOURCES)))].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 50), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _generators(n: dict[str, int]) -> dict:
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    nc, ns, npart, no, nl, ne = (
        n[k] for k in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    part_names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]

    def region(r):
        return pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})

    def nation(r):
        return pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        )

    def customer(r):
        return pa.table(
            {
                "c_custkey": i64(np.arange(nc)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": i32(r.integers(0, 25, nc)),
                "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
                "c_mktsegment": _pick(r, SEGMENTS, nc),
            }
        )

    def supplier(r):
        return pa.table(
            {
                "s_suppkey": i64(np.arange(ns)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": i32(r.integers(0, 25, ns)),
                "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
            }
        )

    def part(r):
        return pa.table(
            {
                "p_partkey": i64(np.arange(npart)),
                "p_name": _pick(r, part_names, npart),
                "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, npart)]),
                "p_type": _pick(r, P_TYPES, npart),
                "p_size": i32(r.integers(1, 51, npart)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)),
            }
        )

    def orders(r):
        return pa.table(
            {
                "o_orderkey": i64(np.arange(no)),
                "o_custkey": i64(r.integers(0, nc, no)),
                "o_orderstatus": _pick(r, STATUSES, no),
                "o_totalprice": pa.array(_money(r, 1000, 500_000, no)),
                "o_orderdate": _days(r, _EPOCH_1995, 2404, no),
                "o_orderpriority": _pick(r, PRIORITIES, no),
            }
        )

    def lineitem(r):
        return pa.table(
            {
                "l_orderkey": i64(r.integers(0, no, nl)),
                "l_partkey": i64(r.integers(0, npart, nl)),
                "l_suppkey": i64(r.integers(0, ns, nl)),
                "l_linenumber": i32(r.integers(1, 8, nl)),
                "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(r, 900, 105_000, nl)),
                "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
                "l_returnflag": _pick(r, ["A", "N", "R"], nl),
                "l_linestatus": _pick(r, ["F", "O"], nl),
                "l_shipdate": _days(r, _EPOCH_1995 + _DAY_US, 2499, nl),
            }
        )

    def events(r):
        gaps = r.exponential(1.0, ne)
        ts = _EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 1)).astype(np.int64)
        return pa.table(
            {
                "event_id": i64(np.arange(ne)),
                "ts": _ts(ts),
                "user_id": i64(r.integers(0, max(1, nc // 10), ne)),
                "event_type": _pick(r, EVENT_TYPES, ne),
                "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, ne), 2))),
                "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
            }
        )

    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": lambda r: _documents(r, n["documents"]),
        "embeddings": lambda r: _embeddings(r, n["embeddings"]),
    }


def make_tables(sf: float, seed: int, names=None) -> dict[str, pa.Table]:
    """Build the named tables (default: all) in memory. Each table draws
    from its own stream, so a table's rows do not depend on ``names``."""
    n = row_counts(sf)
    generators = _generators(n)
    order = sorted(generators)
    return {
        name: generators[name](np.random.default_rng([seed, order.index(name)]))
        for name in generators
        if names is None or name in names
    }


def write_tables(out_dir: str, sf: float, seed: int, names=None) -> dict[str, int]:
    """Write the named tables (default: all) to ``{out_dir}/{name}.parquet``;
    returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(sf, seed, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


VENDORS = ["alitran", "easy_destiny", "to_my_place_ai"]
#: trips span exactly two calendar quarters (2016-01-01 .. 2016-06-30)
_TRIPS_T0 = 1_451_606_400
_TRIPS_SPAN_S = 182 * 86_400


def trips_batch(spark, first_id: int, n: int, seed: int):
    """``n`` seeded trips with ids ``first_id..first_id+n-1``, generated in
    the JVM from ``spark.range`` and ``xxhash64(id, seed, salt)``, cast to
    exactly ``schemas.TRIPS_RAW``. Vendor weights, zone vocabularies with
    about 1 % NULL zones, passenger counts 1..7 and right-skewed durations
    follow FIXTURES.md §B1."""
    from pyspark.sql import functions as F

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import schemas

    def h(salt: int):
        return F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))

    def unit(salt: int):  # uniform in (0, 1]
        return (F.pmod(h(salt), F.lit(1 << 30)) + 1) / float(1 << 30)

    def zone(salt: int, vocab: int):
        return F.when(F.pmod(h(salt), F.lit(100)) == 0, F.lit(None)).otherwise(
            F.concat(F.lit("zone_"), F.pmod(h(salt + 1), F.lit(vocab)).cast("string"))
        )

    v = F.pmod(h(1), F.lit(100))
    cols = {
        "trip_id": F.col("id"),
        "vendor": F.when(v < 33, VENDORS[0]).when(v < 74, VENDORS[1]).otherwise(VENDORS[2]),
        "pickup_ts": F.timestamp_seconds(F.lit(_TRIPS_T0) + F.pmod(h(2), F.lit(_TRIPS_SPAN_S))),
        "pickup_zone": zone(3, 384),
        "dropoff_zone": zone(5, 324),
        "pickup_lat": 40.55 + unit(7) * 0.35,
        "pickup_lon": -74.05 + unit(8) * 0.35,
        "dropoff_lat": 40.55 + unit(9) * 0.35,
        "dropoff_lon": -74.05 + unit(10) * 0.35,
        "passenger_count": F.pmod(h(11), F.lit(7)) + 1,
        "trip_duration": F.least(F.lit(25_000.0), 1.0 - F.log(unit(12)) * 800.0),
    }
    df = spark.range(first_id, first_id + n).select(
        *[
            cols[f.name].cast(f.dataType).alias(f.name)
            for f in schemas.TRIPS_RAW.fields
        ]
    )
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in schemas.TRIPS_RAW.fields]
    if got != want:
        raise ValueError(f"trips schema {got} != TRIPS_RAW {want}")
    return df
