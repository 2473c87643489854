"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed gives byte-identical inputs. The program
under test never sees the seed: it only reads the parquet files written
here.

Shapes follow the TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables that ``__spark_entry__.queries()``
reads (see TESTDATA.md for the layout). Scale is expressed as a TPC-H
scale factor: ``sf=0.01`` gives 60k ``lineitem`` rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the ~30-word vocabulary of the reference documents corpus
VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("cold", "small", "large", "blue", "red", "green", "tiny", "hot")
PART_NOUN = ("widget", "bolt", "rod", "gear", "nut", "valve", "pipe", "cog")
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE")

_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng.uniform(1_000, 500_000, n)),
        "o_orderdate": _days(rng, n, 7 * 365).astype("datetime64[us]"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem(rng: np.random.Generator, n_orders: int, n_part: int,
             n_supp: int, lines_per_order: float = 4.0) -> pa.Table:
    """About ``n_orders * lines_per_order`` rows; ``(l_orderkey,
    l_linenumber)`` is unique, which the merge workload relies on."""
    per = rng.integers(1, 2 * int(lines_per_order), n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    line = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = _days(rng, n, 7 * 365).astype("datetime64[us]")
    status = np.where(ship < np.datetime64("1998-06-01"), "F", "O")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": line,
        "l_quantity": qty,
        # Whole hundreds, so price * (1 - discount) * (1 + tax) has at
        # most two decimals and every revenue sum the queries round to
        # cents is exact. With cent prices a sum can end in a half cent,
        # and the program and its DuckDB oracle round such a tie apart.
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_100, n), -2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(status),
        "l_shipdate": ship,
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5% are exact copies of an earlier
    document with a trailing ``dup`` token (the near-dup signal the
    dedup queries look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten weak cluster centres (``label``)."""
    centres = rng.normal(0, 0.02, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(0, 1.0 / np.sqrt(dim), (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": label,
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": _money(rng.exponential(50.0, n)) + 0.01,
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n)],
    })


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """All ten tables ``__spark_entry__.queries()`` reads, at scale
    factor ``sf``."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    nation_region = rng.integers(0, 5, 25).astype(np.int32)
    nation_region[:5] = np.arange(5)  # every region has a nation
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": nation_region,
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999, 9_999, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999, 9_999, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
        "orders": orders(rng, n_orders, n_cust),
        "lineitem": lineitem(rng, n_orders, n_part, n_supp),
        "events": _events(rng, max(1_000, int(1_000_000 * sf)),
                          max(15, int(15_000 * sf))),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<out_dir>/<name>.parquet`` per table; returns the bytes
    written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="zstd")
        total += os.path.getsize(path)
    return total


def with_slices(tbl: pa.Table, rng: np.random.Generator,
                n_slices: int, by: str | None = None) -> pa.Table:
    """Add a row id ``rid`` and a seeded slice assignment ``slice``
    (every slice gets ``len/n_slices`` rows). Without ``by`` rows are
    dealt to slices at random; with ``by`` the rows are ordered by that
    column first and cut into runs, so a slice holds one or two of its
    values, as time- or source-ordered ingest does."""
    n = tbl.num_rows
    if by is None:
        sl = rng.permutation(np.arange(n) % n_slices)
    else:
        order = np.argsort(tbl.column(by).to_numpy(zero_copy_only=False),
                           kind="stable")
        sl = np.empty(n, dtype=np.int64)
        sl[order] = np.arange(n) * n_slices // n
    return tbl.append_column("rid", pa.array(np.arange(n, dtype=np.int64))) \
              .append_column("slice", pa.array(sl.astype(np.int32)))
