"""Streaming ingest: the reference's Kafka producer/consumer loop, on
Structured Streaming (SURVEY.md §2.9, §3.1).

Reference → Spark mapping:
- Kafka consumer w/ earliest offsets + manual commit
  (`consume_items.py:21-35,107`)      → ``readStream`` + checkpointLocation
  (offset tracking becomes exactly-once bookkeeping, T3);
- rate limiting (`produce_items.py:66`, `consume_items.py:108`)
                                       → ``maxFilesPerTrigger`` /
                                         ``maxOffsetsPerTrigger`` (T1/T2);
- in-memory dedup set (`produce_items.py:48-64`)
                                       → ``dropDuplicates`` with watermarked
                                         state (T4);
- 10-min batch cadence (`pipeline.py:161-163`)
                                       → ``trigger(processingTime=...)`` or
                                         ``Trigger.AvailableNow`` per run (T5).

Tests drive these with file sources + AvailableNow (deterministic, no
broker); a production deployment swaps ``format("kafka")`` in without
touching the transformation graph — that separation is the point.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ensure_runtime_conf


def _events_table_path(sf_dir: str) -> str:
    """Resolve the events table path for streaming reads, preferring the
    event-time-ordered layout when one exists.

    Watermark semantics over a file source are only honored when files
    arrive roughly in event-time order (Kafka's per-partition contract;
    Spark's file source orders by MODIFICATION TIME). The scale generator's
    ``gen_events_ordered`` (tools/make_scale_data.py) writes such a layout
    to ``events_ordered.parquet`` — time-bucketed part files with strictly
    increasing mtimes. When present it is the layout every streaming read
    should use; the plain ``events.parquet`` directory's part-file mtimes
    land in task-completion (random) order, under which any finite
    watermark may drop late rows on a multi-micro-batch drain. The driver
    fixtures ship events as a SINGLE file (one micro-batch under
    AvailableNow — ordering is moot), so this preference only engages on
    generated scale datasets. Rows are identical in both layouts.
    """
    ordered = os.path.join(sf_dir, "events_ordered.parquet")
    if os.path.isdir(ordered):
        return ordered
    return os.path.join(sf_dir, "events.parquet")


def _events_file_schema(sf_dir: str) -> tuple[StructType, bool]:
    """(stream schema, ts_is_raw_nanos) for the events file at ``sf_dir``.

    Streams need a declared schema up front, but the fixture generator has
    shipped ``ts`` both as INT64 nanos (needs ``nanosAsLong`` + integer
    µs conversion) and as TIMESTAMP(MICROS). One driver-side footer peek of
    a single file (bounded metadata read, independent of table size) picks
    the right declaration — the streaming twin of the batch catalog's
    dtype check.
    """
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    if "://" in sf_dir:
        # os.path.isdir/exists resolve LOCAL paths only: a directory-layout
        # events table at hdfs:// or s3a:// would fall into the single-file
        # glob branch and reproduce the silent rows=0 empty-stream bug this
        # probe exists to prevent. Fail loudly; remote deployments should
        # resolve layout via the Hadoop FS API before calling in here.
        raise ValueError(
            f"read_events_stream probes the filesystem with local os.path"
            f" calls and cannot inspect {sf_dir!r}; non-local URIs need a"
            " Hadoop-FS-based layout probe"
        )
    path = _events_table_path(sf_dir)
    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(
                f"no parquet part files under {path!r} to probe the events "
                "ts encoding from — is the fixture directory empty?"
            )
        probe = parts[0]
    elif not os.path.exists(path):
        raise FileNotFoundError(
            f"events fixture not found at {path!r} — expected a parquet file "
            "or directory"
        )
    raw_nanos = str(pq.read_schema(probe).field("ts").type) == "int64"
    ts_type = LongType() if raw_nanos else TimestampNTZType()
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, raw_nanos


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table (the Kafka stand-in S1/T1).

    Rate limiting via maxFilesPerTrigger mirrors the reference's paced
    consumption (T2) without a sleeping loop.
    """
    ensure_runtime_conf(spark)
    schema, raw_nanos = _events_file_schema(sf_dir)
    # The file stream source requires a directory. The driver fixtures ship
    # events as a single FILE named events.parquet (stream the table dir with
    # a glob selecting it); the scale generator writes a DIRECTORY of part
    # files under events.parquet/ (stream that directory — a leaf-file glob
    # of "events.parquet" would match nothing there and silently yield an
    # empty stream, the M=100 stream_topk_live rows=0 failure). When the
    # generator also wrote the mtime-ordered layout (events_ordered.parquet,
    # see _events_table_path) stream THAT — watermarked multi-batch drains
    # need event-time-ordered file arrival.
    events_dir = _events_table_path(sf_dir)
    # ADVICE r10: a bounded trigger over an UNORDERED multi-file layout
    # advances the watermark in file-arrival (mtime) order, which SILENTLY
    # drops late rows — the one silent-corruption mode of the r10 append
    # rework. The precondition is now enforced, not just documented: a
    # bounded trigger requires either the event-time-ordered layout
    # (events_ordered.parquet) or a single-file layout (one micro-batch —
    # ordering moot). Refusing loudly beats both a wrong answer and the
    # heap OOM a forced single-batch drain would hit at the scales where
    # multi-file layouts appear.
    if (
        max_files_per_trigger is not None
        and os.path.basename(events_dir) == "events.parquet"
        and os.path.isdir(events_dir)
        and sum(f.endswith(".parquet") for f in os.listdir(events_dir)) > 1
    ):
        raise ValueError(
            "read_events_stream: maxFilesPerTrigger over the unordered "
            "multi-file events.parquet layout would advance the watermark "
            "in file-mtime order and silently drop late rows; write an "
            "event-time-ordered layout (events_ordered.parquet — "
            "tools/make_scale_data.py gen_events_ordered) or drain in one "
            "batch (max_files_per_trigger=None)"
        )
    reader = spark.readStream.schema(schema)
    if not os.path.isdir(events_dir):
        glob_name = os.path.basename(events_dir)
        events_dir = sf_dir
        reader = reader.option("pathGlobFilter", glob_name)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(events_dir)
    if raw_nanos:
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def kafka_source(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """The production Kafka source (S1 — `consume_items.py:21-35`): string
    values, earliest offsets; group/commit management is replaced by the
    query's checkpoint. Requires the spark-sql-kafka package at runtime."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(value AS STRING) AS item_name", "timestamp AS ingestion_ts")
    )


def kafka_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """The production Kafka sink (S2 — `produce_items.py:30-41`)."""
    return (
        df.selectExpr("CAST(item_name AS STRING) AS value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def dedup_stream(df: DataFrame, keys: list[str], watermark: tuple[str, str] | None = None) -> DataFrame:
    """Streaming dedup with bounded state (T4): the producer's in-memory
    `produced_items` set (`produce_items.py:48-64`), distributed. A watermark
    bounds the dedup state — at 100 TB/day unbounded dedup state is the
    thing that kills the job, so bound it by event time."""
    if watermark is not None:
        col, delay = watermark
        df = df.withWatermark(col, delay)
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def run_to_memory(
    df: DataFrame,
    table: str | None = None,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming frame to completion with Trigger.AvailableNow and
    return the materialized result (memory sink) as a batch DataFrame.

    AvailableNow processes everything currently available then stops — the
    engine's replacement for the reference's cron'd 10-minute batch job (T5):
    same code path as continuous streaming, bounded per run, exactly-once
    via the checkpoint.

    Stateful-shuffle sizing (r13, guide §2.2/§5): stateful streaming ops
    allocate ONE state store per shuffle partition at query start, AQE
    never resizes them, and every micro-batch pays per-partition state
    machinery (store init/commit, task launch) regardless of data volume.
    For the bounded AvailableNow runs this helper exists for, the state
    keyspace is micro-batch-scale, so the query runs with
    ``spark.hybridnutrition.streamShufflePartitions`` partitions (default
    ``min(cores, 8)``) captured at query start and restored after —
    measured at sf0.1/local[32]: stream_tumbling_live 1.54 → 0.94 s,
    stream_static_enrich 1.61 → 1.06 s, results identical (exact
    aggregations; partitioning only moves rows). A production deployment
    with large state sets the conf to its state-volume target (~one store
    per core, or keyspace/128 MB); this is the same parameterised lever as
    ``session._size_shuffle_partitions``, not a local[32] constant.

    With ``table=None`` the memory sink's auto-named temp view is dropped
    before returning: the returned frame stays readable, and a long session
    does not accumulate one view per call. A named ``table`` stays
    registered for the caller.
    """
    spark = df.sparkSession
    name = table or f"mem_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    from ..session import default_parallelism

    key = "spark.sql.shuffle.partitions"
    n = spark.conf.get(
        "spark.hybridnutrition.streamShufflePartitions",
        str(min(default_parallelism(), 8)),
    )
    prev = spark.conf.get(key)
    spark.conf.set(key, n)
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    out = spark.table(name)
    if table is None:
        # The analysed frame holds the sink's plan directly; the auto-named
        # view would otherwise outlive it, one per call.
        spark.catalog.dropTempView(name)
    return out
