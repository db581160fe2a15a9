"""Seeded input generators for the benchmark.

Two kinds of input:

- fixture tables with the schemas and value shapes of the engine's ten
  catalog tables (``catalog.TABLES``), written one parquet file per table,
  the layout ``catalog.load_table`` and ``read_events_stream`` read;
- raw ingest waves shaped like the reference's ``items_raw`` rows
  (item_name, ingestion_ts, JSON ``data``), landed one parquet file per
  wave for ``pipeline.run_incremental_pipeline``.

Everything is a pure function of its seed and size arguments and written
with pyarrow, so one seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from hybrid_nutrition_data_pipeline_batch_streaming_spark.pipeline import (
    NUTRITION_FIELDS,
)

#: Row counts at sf 0.01; other scale factors multiply the large tables.
SF001_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = ["small", "red", "blue", "hot", "large", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (0.01 ≈ 60 k lineitems)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf / 0.01))) for k, v in SF001_ROWS.items()}
    n_docs = n_vecs = 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    day0 = _epoch_us(1995, 1, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(day0 + rng.integers(0, 2400, no) * _DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(day0 + (1 + rng.integers(0, 2500, nl)) * _DAY_US),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(259e6, ne).astype("int64") + 1
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.clip(np.round(rng.lognormal(2.8, 1.0, ne), 2), 0.01, 490.02),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        for k in rng.integers(10, 100, n_docs)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.017, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every fixture table to ``out_dir/<name>.parquet``; row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------------
# ingest waves (FIXTURES.md B2/B3 shape)

FOODS = ["toast", "rice", "salad", "soup", "curry", "taco", "bowl", "wrap"]
RAW_SCHEMA = pa.schema(
    [
        ("item_name", pa.string()),
        ("ingestion_ts", pa.timestamp("us")),
        ("data", pa.string()),
    ]
)
#: The same schema in Spark DDL (timestamp without time zone, as written).
RAW_SCHEMA_DDL = "item_name string, ingestion_ts timestamp_ntz, data string"

UPDATE_SHARE = 0.30
MALFORMED_SHARE = 0.02
EMPTY_SHARE = 0.01
MISSING_SHARE = 0.10
MULTI_SHARE = 0.05


_FULL = (
    '[{"name": "%s", '
    + ", ".join(f'"{f}": %s' for f in NUTRITION_FIELDS)
    + "}%s]"
)


def _payloads(rng: np.random.Generator, names: list[str]) -> list[str]:
    """Nutrition-API style JSON arrays, one per name, with malformed,
    empty, missing-field and multi-element payloads at the shares above."""
    n = len(names)
    kind = rng.random(n).tolist()
    vals = np.round(rng.uniform(0.0, 500.0, (n, len(NUTRITION_FIELDS))), 1)
    vals = vals.astype(str).tolist()
    missing = (rng.random(n) < MISSING_SHARE).tolist()
    dropped = rng.integers(0, len(NUTRITION_FIELDS), (n, 3)).tolist()
    multi = (rng.random(n) < MULTI_SHARE).tolist()
    out = []
    for i, name in enumerate(names):
        if kind[i] < MALFORMED_SHARE:
            out.append('[{"name": "' + name + '", "calories": ')  # truncated
            continue
        if kind[i] < MALFORMED_SHARE + EMPTY_SHARE:
            out.append("[]")  # processed marker
            continue
        alt = f', {{"name": "{name} (alt)", "calories": 1.0}}' if multi[i] else ""
        if not missing[i]:
            out.append(_FULL % (name, *vals[i], alt))
            continue
        fields = ", ".join(
            f'"{f}": {v}'
            for j, (f, v) in enumerate(zip(NUTRITION_FIELDS, vals[i]))
            if j not in dropped[i]
        )
        out.append(f'[{{"name": "{name}", {fields}}}{alt}]')
    return out


class WaveGenerator:
    """Seeded raw-item waves: ~30 % of each wave's rows are last-write-wins
    updates to earlier keys (recent keys favoured), the rest are new keys.
    Wave ``i`` depends only on the seed and the waves before it."""

    def __init__(self, seed: int, rows_per_wave: int):
        self.rng = np.random.default_rng([seed, 7])
        self.rows = rows_per_wave
        self.keys: list[str] = []
        self.wave = 0

    def next_wave(self) -> pa.Table:
        rng, w, n, keys = self.rng, self.wave, self.rows, self.keys
        update = ((rng.random(n) < UPDATE_SHARE) & bool(keys)).tolist()
        back = rng.exponential(max(len(keys), 1) / 8.0, n).astype("int64").tolist()
        names = [
            keys[max(0, len(keys) - 1 - back[i])]
            if update[i]
            else f"{FOODS[i % len(FOODS)]} w{w}-{i}"
            for i in range(n)
        ]
        keys.extend(name for i, name in enumerate(names) if not update[i])
        base = _epoch_us(2024, 1, 1) + w * 3_600_000_000
        table = pa.Table.from_arrays(
            [
                pa.array(names, pa.string()),
                _ts(base + np.arange(n, dtype="int64") * 1000),
                pa.array(_payloads(rng, names), pa.string()),
            ],
            schema=RAW_SCHEMA,
        )
        self.wave += 1
        return table


def land(table: pa.Table, raw_dir: str, staging_dir: str, wave: int) -> tuple[str, int]:
    """Write one wave to ``staging_dir`` and rename it into ``raw_dir``, so
    the file-stream source never sees a partial file. Returns (path, bytes)."""
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(staging_dir, exist_ok=True)
    name = f"wave-{wave:05d}.parquet"
    tmp = os.path.join(staging_dir, name)
    pq.write_table(table, tmp)
    dst = os.path.join(raw_dir, name)
    os.rename(tmp, dst)
    return dst, os.path.getsize(dst)
