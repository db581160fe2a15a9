"""Catalog: load the driver's parquet tables and register them as views.

The reference keeps its data in four systems (Kafka topic, Cassandra raw
table, ClickHouse fact table, Superset-visible SQL views — SURVEY.md §1.1);
this engine's analog is one Spark catalog of columnar tables, registered as
temp views so both the DataFrame API and ``spark.sql`` reach the same data
(SURVEY.md §3.3, reference `superset/superset_config.py:1-3`).

Scale note: at 100 TB these would be external tables partitioned on their
natural keys (date for facts, none for dims) — the loader keeps the access
path identical (``spark.read.parquet``) so only the path changes.
"""

from __future__ import annotations

import os
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_runtime_conf

#: All driver tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast-join these (SURVEY.md §2.3 J2).
#: At any scale factor these stay tiny relative to the facts.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Inferred parquet schemas per SparkContext: path → (fingerprint, schema).
#: Weak on the context, so a stopped context's entries go with it; one entry
#: per path, replaced when the files under it change.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkContext, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def _fingerprint(path: str) -> tuple:
    """``(name, size, mtime_ns, inode)`` of a file, or of each entry of a
    directory: any rewrite at ``path`` changes it."""
    if os.path.isdir(path):
        entries = sorted(os.scandir(path), key=lambda e: e.name)
        stats = [(e.name, e.stat()) for e in entries]
    else:
        stats = [(os.path.basename(path), os.stat(path))]
    return tuple((n, st.st_size, st.st_mtime_ns, st.st_ino) for n, st in stats)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized.

    Schema inference launches a Spark job on every read, even for one file
    (measured on a 4-core host, sf0.01 tables: about 110 ms per call, against
    15-20 ms with the schema given). The first read of a path runs Spark's own inference; later
    reads of the same unchanged files pass that schema in and launch no job.
    Every call still builds a fresh relation, so self-joins keep distinct
    attribute ids. Remote paths (``scheme://``) are not memoized: their
    files cannot be fingerprinted with ``os.stat``. Nor is a path that
    ``os.stat`` cannot see (missing, a glob): Spark reads it, and raises.
    """
    if "://" in path:
        return spark.read.parquet(path)
    try:
        fp = _fingerprint(path)
    except OSError:
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark.sparkContext, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (fp, df.schema)
    return df


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet, normalizing the ns-precision ``ts``.

    The file stores INT64 TIMESTAMP(NANOS), which Spark's parquet reader
    rejects; with ``nanosAsLong`` it surfaces as a long which we floor-divide
    to microseconds (integer DIV — a double division would lose precision on
    epoch-nanos magnitudes) and cast to TIMESTAMP_NTZ for DuckDB-identical
    naive-timestamp semantics.
    """
    df = _read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with normalized types.

    Contract: the first load of a table in a SparkContext infers its schema
    (one Spark job); every later load of the unchanged file submits no job
    and returns a fresh relation. A table rewritten at the same path is
    re-inferred on the next load. See ``_read_parquet`` for the measurement.
    """
    ensure_runtime_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return _read_parquet(spark, path)


class Catalog:
    """Lazy per-(session, sf_dir) table catalog with view registration."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for ``spark.sql`` access."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)
