"""Per-session fixed costs: the parquet schema memo in ``catalog``, the
generated-class cache sized in ``get_spark``, loud conf failures in
``ensure_runtime_conf``, and the memory-sink views ``run_to_memory`` leaves
behind."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException, IllegalArgumentException

from hybrid_nutrition_data_pipeline_batch_streaming_spark import catalog, plans, session
from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import TABLES, load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_during(spark, fn):
    """``(fn(), number of Spark jobs it submitted)``, counted with the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_submits_no_jobs(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), d)
    cold, cold_jobs = _jobs_during(spark, lambda: load_table(spark, d, "orders"))
    warm, warm_jobs = _jobs_during(spark, lambda: load_table(spark, d, "orders"))
    assert cold_jobs >= 1  # inference does run a job: the counter sees it
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()
    # A fresh relation per call: column references of two loads resolve
    # apart, so the self-join condition is not trivially true.
    again = load_table(spark, d, "orders")
    joined = warm.join(again, warm["o_orderkey"] == again["o_orderkey"])
    assert joined.count() == cold.count()


@pytest.mark.parametrize("name", TABLES)
def test_memo_schema_equals_fresh_inference(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    catalog._SCHEMAS.pop(spark.sparkContext, None)
    cold = load_table(spark, sf_dir, name)
    warm, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert warm.schema == cold.schema
    if name != "events":
        assert warm.schema == spark.read.parquet(path).schema


def test_memo_keeps_events_ns_normalisation(spark, sf_dir, tmp_path):
    """An events file with INT64 TIMESTAMP(NANOS) ``ts`` reads as
    microsecond ``timestamp_ntz`` on the memoized path too."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"), version="2.6")
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    cold = load_table(spark, str(tmp_path), "events")
    warm, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert dict(warm.dtypes)["ts"] == "timestamp_ntz"
    assert warm.schema == cold.schema
    ref = load_table(spark, sf_dir, "events").select("ts").collect()
    assert sorted(r.ts for r in warm.select("ts").collect()) == sorted(r.ts for r in ref)


def test_rewrite_at_same_path_is_picked_up(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "c": [1.5], "d": [True]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]


def test_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")


def test_directory_fingerprint_tracks_added_files(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    assert load_table(spark, str(tmp_path), "t").count() == 1
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    assert load_table(spark, str(tmp_path), "t").count() == 2


#: Batch dashboard tiles: 194 generated classes at sf0.001, well over Spark's
#: default cache of 100 (with it, every repeat pass recompiles ~190).
#: ``funnel_conversion`` is left out: its consumers race its lazy persists,
#: so its physical plan, and with it the generated code, varies per call.
CODEGEN_TILES = (
    "agg_macros", "topk_sodium", "wordcloud_tokens", "flagship_revenue",
    "join_star_5way", "join_broadcast", "window_running_sum", "json_flatten",
    "dq_checks", "rfm_segments", "bm25_search", "similarity_topk",
)


def test_codegen_cache_holds_working_set(sf_dir):
    """On a fresh ``get_spark`` session, a second pass over a mix of more
    than 100 generated classes compiles nothing. Runs in its own process:
    the shared test session has compiled these classes already."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans
        from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        counts = []
        for _ in range(2):
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            for name in {list(CODEGEN_TILES)!r}:
                plans.QUERIES[name](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
            counts.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
        print(json.dumps(counts))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    )
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100
    assert second == 0


def test_static_conf_warns_once_and_is_kept(spark, monkeypatch):
    key = "spark.sql.codegen.cache.maxEntries"
    monkeypatch.setattr(session, "RUNTIME_CONF", {key: "5"})
    monkeypatch.setattr(session, "_STATIC_WARNED", set())
    with pytest.warns(RuntimeWarning, match=key):
        session.ensure_runtime_conf(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.ensure_runtime_conf(spark)
    assert spark.conf.get(key) == str(session.CODEGEN_CACHE_ENTRIES)


def test_other_conf_errors_raise(spark, monkeypatch):
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    monkeypatch.setattr(session, "RUNTIME_CONF", {key: "not-a-boolean"})
    with pytest.raises(IllegalArgumentException):
        session.ensure_runtime_conf(spark)
    assert spark.conf.get(key) == before


def _temp_views(spark) -> int:
    return sum(t.isTemporary for t in spark.catalog.listTables())


@pytest.mark.parametrize(
    "name", ["stream_tumbling_live", "stream_static_enrich", "stream_dedup_state"]
)
def test_stream_tiles_leave_no_memory_views(spark, sf_dir, name):
    views0 = _temp_views(spark)
    rows = []
    for _ in range(3):
        df = plans.QUERIES[name](spark, sf_dir)
        n = df.count()
        got = sorted(map(tuple, df.collect()), key=repr)
        assert len(got) == n > 0
        rows.append(got)
    assert _temp_views(spark) == views0
    if name != "stream_dedup_state":  # first-seen depends on arrival order
        assert rows[0] == rows[1] == rows[2]


def test_named_memory_table_stays_registered(spark, sf_dir):
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        read_events_stream,
        run_to_memory,
    )

    name = f"mem_named_{uuid.uuid4().hex[:8]}"
    out = run_to_memory(read_events_stream(spark, sf_dir).select("user_id"), table=name)
    try:
        assert spark.table(name).count() == out.count() > 0
    finally:
        spark.catalog.dropTempView(name)
