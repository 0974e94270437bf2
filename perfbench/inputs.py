"""Seeded benchmark inputs, made without Spark.

Every table a workload reads is generated here from the workload seed,
with the schemas of the engine's testdata tables (TESTDATA.md); the
program under test sees nothing else. The seed changes values and keys,
never sizes: row counts per table, per month and per dirt pattern, the
drop size and the number of re-registrations are the same for every
seed. The same seed gives byte-identical files (numpy's PCG64 stream,
pyarrow's deterministic parquet writer, a hand-rolled CSV writer);
``selftest.py`` checks both properties.

``etl_job``'s bronze CSV comes from DuckDB running the bronze CTE of the
engine's own ``rta_pipeline_star`` oracle over seeded ``orders`` and
``part`` tables, so its dirt patterns are exactly the ones the oracle
and the engine's ``sources.bronze`` agree on.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
#: 1,984 document words: the testdata's words with a numeric suffix.
VOCABULARY = [f"{w}{i}" for i in range(64) for w in WORDS]

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the testdata
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EMBED_DIM = 64
EMBED_LABELS = 10

#: Row counts of the analytics tables: the engine's sf0.01 testdata.
QUERY_SCALE = {
    "orders": 15000, "customers": 1500, "parts": 2000, "suppliers": 100,
    "events": 10000, "event_users": 150, "documents": 500,
}

#: etl_job: 15,000 orders over 80 months (1995-01 .. 2001-08) give
#: 16,500 bronze rows (every 10th registration also has an older
#: duplicate row). The last month arrives as a late drop, with one
#: vehicle of each of these months (March and September of 1995-2000)
#: registered again in it.
ETL_ORDERS = 15000
ETL_MONTHS = 80
RE_REGISTRATION_MONTHS = [y * 100 + m for y in range(1995, 2001) for m in (3, 9)]
#: Every modulus the bronze CTE applies to the order key (53, 200, 4,
#: 11, 5, 8, 6, 30, 7, 9, 25, 3, 10) divides this, so shifting every key
#: by a multiple of it changes the keys and keeps each row's dirt
#: pattern. Keys stay below 10**9 (the CTE pads them to nine digits).
KEY_PERIOD = 7_345_800
KEY_SHIFTS = 135


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _timestamps(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _parts(rng: np.random.Generator, n_p: int) -> pa.Table:
    adj = rng.integers(0, len(PART_ADJ), n_p)
    noun = rng.integers(0, len(PART_NOUN), n_p)
    return pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten testdata-shaped parquet tables into ``out_dir``.

    Sizes depend on QUERY_SCALE only: lineitem has 1-7 lines per order in a
    fixed cycle, a document's word count is a fixed function of its id,
    and the near duplicates sit at fixed ids."""
    rng = np.random.default_rng(seed)
    scale = QUERY_SCALE
    os.makedirs(out_dir, exist_ok=True)

    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out_dir}/nation.parquet",
    )

    n_c = scale["customers"]
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_c)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
        }),
        f"{out_dir}/customer.parquet",
    )

    n_s = scale["suppliers"]
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_s)),
        }),
        f"{out_dir}/supplier.parquet",
    )

    n_p = scale["parts"]
    _write(_parts(rng, n_p), f"{out_dir}/part.parquet")

    n_o = scale["orders"]
    order_day = rng.integers(0, ORDER_DAYS, n_o)
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_o)),
            "o_orderdate": _timestamps(ORDER_EPOCH, order_day * 86_400_000_000),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
        }),
        f"{out_dir}/orders.parquet",
    )

    lines = 1 + (np.arange(n_o) * 3) % 7
    l_order = np.repeat(np.arange(n_o), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(l_order)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_l)
    _write(
        pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 3000.0, n_l)),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
            "l_shipdate": _timestamps(ORDER_EPOCH, ship_day * 86_400_000_000),
        }),
        f"{out_dir}/lineitem.parquet",
    )

    n_e = scale["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    _write(
        pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": _timestamps(EVENT_EPOCH, ts),
            "user_id": pa.array(rng.integers(0, scale["event_users"], n_e), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
            "value": _money(rng.uniform(0.01, 490.02, n_e)),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_e)],
        }),
        f"{out_dir}/events.parquet",
    )

    n_d = scale["documents"]
    ids = np.arange(n_d)
    n_words = 10 + (ids * 37) % 80
    texts = [" ".join(VOCABULARY[i] for i in rng.integers(0, len(VOCABULARY), k))
             for k in n_words]
    # Duplicates are planted, never left to chance. With a vocabulary
    # this large, two independent documents are not near duplicates, and
    # planted duplicates are exact: identical texts have identical MinHash
    # signatures, so each group (with the token-dropped copies
    # near_dup_clusters adds) is linked all or nothing, and connected
    # components needs the same rounds for every seed. From every 17th
    # document on, two identical documents, every third time three.
    for n, i in enumerate(range(0, n_d - 2, 17)):
        for j in range(i, i + (2 if n % 3 == 0 else 1)):
            texts[j] = texts[i + (2 if n % 3 == 0 else 1)]
    _write(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in (ids * 7) % 9 // 2],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{out_dir}/documents.parquet",
    )

    labels = (ids * 3) % EMBED_LABELS
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_d, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        f"{out_dir}/embeddings.parquet",
    )


def month_starts() -> list[dt.date]:
    """First day of each of the ETL_MONTHS months, oldest first."""
    return [dt.date(1995 + m // 12, m % 12 + 1, 1) for m in range(ETL_MONTHS)]


def write_bronze_sources(out_dir: str, seed: int) -> None:
    """The ``orders`` and ``part`` tables the bronze CTE reads.

    Order i lies in month ``i * ETL_MONTHS // ETL_ORDERS`` (a contiguous
    block of keys, so every month holds every dirt pattern in the same
    numbers); the seed picks its day within the month, the part names
    and brands, and one key shift for all orders."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i = np.arange(ETL_ORDERS)
    starts = month_starts()
    month = i * ETL_MONTHS // ETL_ORDERS
    first = np.array([np.datetime64(d, "D") for d in starts])
    # Month lengths; the last month ends at the same length as any other.
    lengths = np.array([
        ((d.replace(day=28) + dt.timedelta(days=4)).replace(day=1) - d).days for d in starts
    ])
    day = first[month] + rng.integers(0, lengths[month]).astype("timedelta64[D]")
    shift = int(rng.integers(0, KEY_SHIFTS)) * KEY_PERIOD
    epoch = np.datetime64("1970-01-01", "D")
    _write(
        pa.table({
            "o_orderkey": pa.array(i + shift, pa.int64()),
            "o_orderdate": _timestamps(
                dt.datetime(1970, 1, 1), (day - epoch).astype(np.int64) * 86_400_000_000
            ),
        }),
        f"{out_dir}/orders.parquet",
    )
    _write(_parts(rng, 201), f"{out_dir}/part.parquet")


def _csv_field(v: str | None) -> str:
    if v is None:
        return ""
    return '"' + v.replace('"', '""') + '"'


def write_csv(path: str, columns: list[str], rows: list[tuple]) -> None:
    """Header + rows in Spark's own CSV convention: NULL is an empty
    unquoted field and every string is quoted, so an empty string stays
    an empty string when the bronze reader reads it back."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as fh:
        fh.write(",".join(columns) + "\n")
        for row in rows:
            fh.write(",".join(_csv_field(v) for v in row) + "\n")
