"""The benchmark's workloads, driven through the engine's public functions.

Each workload is one client thread in a closed loop: the next operation
starts when the previous one has completed. A workload returns a ``Run``:
the latency of every measured operation, the operations attempted and
failed, and (traced runs only) the per-layer numbers.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass, field

from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans
from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import (
    TABLES,
    load_table,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.pipeline import (
    ENRICHED_COLUMNS,
    run_batch_pipeline,
    run_incremental_pipeline,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
    ParquetUpsertStore,
)

import gen
import probes

#: Dashboard tiles: the reference's Superset charts, relational tiles,
#: search, and three live stream tiles. All but ``stream_dedup_state``
#: have a DuckDB oracle.
BI_QUERIES = (
    "agg_macros",
    "topk_sodium",
    "wordcloud_tokens",
    "flagship_revenue",
    "join_star_5way",
    "join_broadcast",
    "window_running_sum",
    "json_flatten",
    "dq_checks",
    "funnel_conversion",
    "rfm_segments",
    "bm25_search",
    "similarity_topk",
    "stream_tumbling_live",
    "stream_static_enrich",
    "stream_dedup_state",
)


@dataclass
class Run:
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    rows: int = 0  # rows the measured operations delivered
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class OpTrace:
    """Spans and counts for the traced operations of one run.

    Each traced operation records its build and execution windows (wall
    clock, so they can be matched to job submission times in the status
    store), the storage blocks registered after its action, and how many
    blocks registered before it survived its own release."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self._held: dict[int, tuple[int, int]] = {}

    def leaked_since_last(self) -> int:
        """Blocks registered at the last snapshot that are still registered."""
        now = probes.storage_blocks(self.spark)
        return sum(b for rid, (b, _) in self._held.items() if rid in now)

    def snapshot(self) -> int:
        """Snapshot the registered blocks; their total bytes."""
        self._held = probes.storage_blocks(self.spark)
        return sum(nbytes for _, nbytes in self._held.values())

    def engine_layers(self) -> dict[str, float]:
        """Attribute every job in the status store to the traced operation
        whose build or execution window holds its submission time."""
        jobs, stages = probes.status_store(self.spark)
        n = len(self.ops)
        sums = {
            k: 0.0
            for k in (
                "build_jobs", "jobs", "stages", "tasks", "run_ms", "cpu_ns",
                "shuffle_read", "shuffle_write", "spill", "input",
            )
        }
        for job in jobs:
            t = job["submitted_ms"]
            if t is None:
                continue
            for op in self.ops:
                if op["b0"] <= t <= op["b1"]:
                    sums["build_jobs"] += 1
                elif op["x0"] <= t <= op["x1"]:
                    sums["jobs"] += 1
                else:
                    continue
                for sid in job["stages"]:
                    st = stages.get(sid)
                    if st is None:
                        continue
                    sums["stages"] += 1
                    for k in ("run_ms", "cpu_ns", "shuffle_read", "shuffle_write", "spill", "input"):
                        sums[k] += st[k]
                    sums["tasks"] += st["tasks"]
                break
        per = {k: v / n for k, v in sums.items()} if n else sums
        return {
            "plans.build_s": _mean(op["build_s"] for op in self.ops),
            "plans.build_jobs": per["build_jobs"],
            "engine.exec_s": _mean(op["exec_s"] for op in self.ops),
            "engine.jobs": per["jobs"],
            "engine.stages": per["stages"],
            "engine.tasks": per["tasks"],
            "engine.executor_run_s": per["run_ms"] / 1e3,
            "engine.executor_cpu_s": per["cpu_ns"] / 1e9,
            "engine.shuffle_read_bytes": per["shuffle_read"],
            "engine.shuffle_write_bytes": per["shuffle_write"],
            "engine.spill_bytes": per["spill"],
            "engine.input_bytes": per["input"],
            "session.held_bytes": max((op["held_bytes"] for op in self.ops), default=0),
            "session.leaked_blocks": sum(op["leaked_blocks"] for op in self.ops),
        }


def streaming_layers(progress: list[dict]) -> dict[str, float]:
    """Per micro-batch phase times and per stateful query state size, from
    the listener's progress reports."""
    runs: dict[str, list[dict]] = {}
    for p in progress:
        runs.setdefault(p["run_id"], []).append(p)

    def phase(*keys: str) -> float:
        return _mean(sum(p["duration_ms"].get(k, 0) for k in keys) for p in progress)

    last_state = [
        max(ps, key=lambda p: p["batch"])["state"] for ps in runs.values()
    ]
    stateful = [s for s in last_state if s]
    return {
        "streaming.batches": len(progress) / len(runs) if runs else 0.0,
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.planning_ms": phase("queryPlanning"),
        "streaming.offsets_ms": phase("latestOffset", "getBatch"),
        "streaming.wal_commit_ms": phase("walCommit", "commitOffsets"),
        "streaming.state_rows": _mean(sum(o[0] for o in s) for s in stateful),
        "streaming.state_bytes": _mean(sum(o[1] for o in s) for s in stateful),
        "streaming.state_partitions": _mean(sum(o[2] for o in s) for s in stateful),
    }


def _overhead_pct(pairs) -> float:
    """Median over (untraced, traced) latency pairs of the traced op's
    excess, in percent."""
    ratios = [t / u for u, t in pairs if u and t]
    return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0


# --------------------------------------------------------------------------
# bi_dashboard


def _oracle_failures(outputs: dict, fx_dir: str) -> list[str]:
    """Compare each collected tile with its DuckDB oracle on the same
    fixtures; a tile without an oracle must return rows."""
    import sys

    import duckdb

    # driver_sim reads its own command line at import; hide ours from it.
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        from tools.driver_sim import _canon, _values
    finally:
        sys.argv = argv

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(fx_dir, t)}.parquet'"
        )
    bad = []
    for name, got in outputs.items():
        sql = plans.ORACLE.get(name)
        if sql is None:
            if len(got) == 0:
                bad.append(f"{name}: no rows")
            continue
        try:
            a, b = _canon(got), _canon(con.sql(sql).df())
            if len(a) != len(b):
                bad.append(f"{name}: {len(a)} rows, oracle {len(b)}")
            elif list(a.columns) != list(b.columns):
                bad.append(f"{name}: columns {list(a.columns)} vs {list(b.columns)}")
            elif _values(a) != _values(b):
                bad.append(f"{name}: values differ from the oracle")
        except Exception as exc:  # a check that cannot run is a failed check
            bad.append(f"{name}: check raised {type(exc).__name__}: {exc}")
    con.close()
    return bad


def bi_dashboard(spark, ctx, seconds: float, trace: bool) -> Run:
    fx = ctx.fixtures_dir
    run = Run()
    rng = random.Random(ctx.seed)
    run.info["ops"] = []

    def order() -> list[str]:
        names = list(BI_QUERIES)
        rng.shuffle(names)
        return names

    if trace:
        cold = []
        for t in TABLES:
            t0 = time.perf_counter()
            load_table(spark, fx, t)
            cold.append(time.perf_counter() - t0)
        warm = []
        for _ in range(3):
            for t in TABLES:
                t0 = time.perf_counter()
                load_table(spark, fx, t)
                warm.append(time.perf_counter() - t0)
        run.layers["catalog.load_table_cold_s"] = statistics.median(cold)
        run.layers["catalog.load_table_s"] = statistics.median(warm)

    # Warm-up pass: every tile once, collected, so it can be checked. It runs
    # in the listed order, not a seeded one, so every run enters the measured
    # pass with the same JIT state whatever its seed.
    t0 = time.perf_counter()
    outputs, rows = {}, {}
    for name in BI_QUERIES:
        run.attempted += 1
        try:
            outputs[name] = plans.QUERIES[name](spark, fx).toPandas()
            rows[name] = len(outputs[name])
        except Exception:
            run.fail(f"{name}: {traceback.format_exc(limit=1).strip()}")
    run.setup_s = time.perf_counter() - t0
    run.info["tile_rows"] = rows

    def untraced_op(name: str) -> float | None:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            plans.QUERIES[name](spark, fx).write.format("noop").mode("overwrite").save()
        except Exception:
            run.fail(f"{name}: {traceback.format_exc(limit=1).strip()}")
            return None
        return time.perf_counter() - t0

    tracer = OpTrace(spark) if trace else None

    def traced_op(name: str) -> float | None:
        run.attempted += 1
        tracer.snapshot()
        try:
            b0 = time.time()
            df = plans.QUERIES[name](spark, fx)
            b1 = time.time()
            leaked = tracer.leaked_since_last()
            x0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            x1 = time.time()
        except Exception:
            run.fail(f"{name}: {traceback.format_exc(limit=1).strip()}")
            return None
        tracer.ops.append(
            {
                "b0": b0 * 1e3, "b1": b1 * 1e3, "x0": x0 * 1e3, "x1": x1 * 1e3,
                "build_s": b1 - b0, "exec_s": x1 - x0,
                "leaked_blocks": leaked, "held_bytes": tracer.snapshot(),
            }
        )
        return (b1 - b0) + (x1 - x0)

    listener = None
    if trace:
        listener = probes.ProgressListener()
        spark.streams.addListener(listener)
    views0 = probes.temp_views(spark)
    untraced, pairs = [], {}
    passes = 0
    # Whole rounds until the measured time reaches ``seconds``. A round is
    # one pass; in a traced run it is two, tracing the even-indexed tiles in
    # one and the odd-indexed in the other, so each tile has an untraced and
    # a traced latency to compare. A traced run counts the traced time.
    while True:
        for _ in range(2 if trace else 1):
            for name in order():
                if trace and BI_QUERIES.index(name) % 2 == passes % 2:
                    lat = traced_op(name)
                    if lat is not None:
                        pairs.setdefault(name, [None, None])[1] = lat
                    continue
                lat = untraced_op(name)
                if lat is not None:
                    untraced.append(lat)
                    run.rows += rows.get(name, 0)
                    run.info["ops"].append((name, round(lat, 4)))
                    if trace:
                        pairs.setdefault(name, [None, None])[0] = lat
            passes += 1
        if trace:
            measured = sum(op["build_s"] + op["exec_s"] for op in tracer.ops)
        else:
            measured = sum(untraced)
        if measured >= seconds:
            break
    views1 = probes.temp_views(spark)
    run.info["peak_rss_parts_mb"] = parts = probes.tree_peak_rss_mb(os.getpid())
    run.layers["process.peak_rss_mb"] = sum(parts.values())
    run.latencies = untraced
    run.info["passes"] = passes
    c0 = time.perf_counter()
    for why in _oracle_failures(outputs, fx):
        run.fail(why)
    run.info["check_s"] = time.perf_counter() - c0
    if trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress reports
        spark.streams.removeListener(listener)
        run.layers.update(tracer.engine_layers())
        run.layers.update(streaming_layers(listener.drain()))
        run.layers["streaming.memory_views"] = (views1 - views0) / passes
        run.layers["trace.overhead_pct"] = _overhead_pct(pairs.values())
        run.info["traced_ops"] = len(tracer.ops)
    return run


# --------------------------------------------------------------------------
# ingest_waves


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


WARM_UP_WAVES = 2
WAVES_PER_ROUND = 3


def ingest_waves(spark, ctx, seconds: float, trace: bool) -> Run:
    run = Run()
    work = ctx.work_dir
    raw, out = os.path.join(work, "raw"), os.path.join(work, "enriched")
    ckpt, staging = os.path.join(work, "ckpt"), os.path.join(work, "staging")
    waves = gen.WaveGenerator(ctx.seed, ctx.wave_rows)
    landed_rows = 0

    def land() -> int:
        nonlocal landed_rows
        table = waves.next_wave()
        _, nbytes = gen.land(table, raw, staging, waves.wave - 1)
        landed_rows += table.num_rows
        return nbytes

    def wave_op() -> tuple[float, float] | None:
        """One wave from landed to merged and readable: (latency, time in
        run_incremental_pipeline)."""
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            store = run_incremental_pipeline(
                spark, raw, out, ckpt, raw_schema=gen.RAW_SCHEMA_DDL
            )
            t1 = time.perf_counter()
            store.count()
            t2 = time.perf_counter()
        except Exception:
            run.fail(f"wave {waves.wave - 1}: {traceback.format_exc(limit=1).strip()}")
            return None
        return t2 - t0, t1 - t0

    # Warm-up: the first wave creates the store, the second is the first
    # merge into it; only then has every code path of a wave run once.
    for _ in range(WARM_UP_WAVES):
        land()
        t0 = time.perf_counter()
        wave_op()
        run.setup_s += time.perf_counter() - t0

    tracer = OpTrace(spark) if trace else None
    incremental, reads, amps = [], [], []

    def traced_wave(nbytes: int) -> float | None:
        before = _tree_files(out)
        tracer.snapshot()
        t0 = time.time()
        res = wave_op()
        if res is None:
            return None
        lat, inc = res
        t1 = time.time()
        incremental.append(inc)
        after = _tree_files(out)
        amps.append(sum(s for p, s in after.items() if p not in before) / nbytes)
        tracer.ops.append(
            {
                "b0": t0 * 1e3, "b1": t0 * 1e3, "x0": t0 * 1e3, "x1": t1 * 1e3,
                "build_s": 0.0, "exec_s": lat,
                "leaked_blocks": tracer.leaked_since_last(),
                "held_bytes": tracer.snapshot(),
            }
        )
        r0 = time.perf_counter()
        ParquetUpsertStore(spark, out, key="item_name", ts_col="ingestion_ts").read().count()
        reads.append(time.perf_counter() - r0)
        return lat

    listener = None
    if trace:
        listener = probes.ProgressListener()
        spark.streams.addListener(listener)
    views0 = probes.temp_views(spark)
    untraced, traced = [], []
    seq: list[tuple[bool, float]] = []  # (traced?, latency) in wave order
    measured_rows = 0
    n_waves = 0
    # Whole rounds of WAVES_PER_ROUND waves until the measured time reaches
    # ``seconds``; a traced run traces every other wave and counts the
    # traced time.
    while True:
        for _ in range(WAVES_PER_ROUND):
            nbytes = land()
            is_traced = trace and n_waves % 2 == 1
            n_waves += 1
            if is_traced:
                lat = traced_wave(nbytes)
            else:
                res = wave_op()
                lat = None if res is None else res[0]
            if lat is None:
                continue
            seq.append((is_traced, lat))
            if is_traced:
                traced.append(lat)
            else:
                untraced.append(lat)
                measured_rows += ctx.wave_rows
        if sum(traced if trace else untraced) >= seconds:
            break
    views1 = probes.temp_views(spark)
    run.info["peak_rss_parts_mb"] = parts = probes.tree_peak_rss_mb(os.getpid())
    run.layers["process.peak_rss_mb"] = sum(parts.values())
    run.latencies = untraced
    run.rows = measured_rows
    run.info["waves"] = {
        "warm_up": WARM_UP_WAVES, "measured": n_waves, "rows_each": ctx.wave_rows
    }

    # Output check: the store equals the one-shot batch pipeline over every
    # landed wave.
    run.attempted += 1
    c0 = time.perf_counter()
    try:
        expected = run_batch_pipeline(
            spark.read.schema(gen.RAW_SCHEMA_DDL).parquet(raw)
        )
        store = ParquetUpsertStore(spark, out, key="item_name", ts_col="ingestion_ts")
        got, exp = (
            df.toPandas().sort_values("item_name", kind="mergesort").reset_index(drop=True)
            for df in (store.read().select(*ENRICHED_COLUMNS), expected)
        )
        if len(got) != len(exp):
            run.fail(f"store has {len(got)} rows, run_batch_pipeline {len(exp)}")
        elif not got.equals(exp):
            run.fail(f"store differs from run_batch_pipeline in {len(got.compare(exp))} rows")
        run.info["store_rows"] = len(got)
    except Exception:
        run.fail(f"store check: {traceback.format_exc(limit=1).strip()}")
    run.info["check_s"] = time.perf_counter() - c0

    if trace:
        time.sleep(1.0)
        spark.streams.removeListener(listener)
        run.layers.update(tracer.engine_layers())
        run.layers.update(streaming_layers(listener.drain()))
        run.layers["streaming.memory_views"] = (views1 - views0) / n_waves
        files = {p: s for p, s in _tree_files(out).items() if p.endswith(".parquet")}
        run.layers["pipeline.incremental_s"] = _mean(incremental)
        run.layers["upsert_sink.read_s"] = _mean(reads)
        run.layers["upsert_sink.write_amp"] = _mean(amps)
        run.layers["upsert_sink.store_bytes"] = float(sum(files.values()))
        run.layers["upsert_sink.files"] = float(len(files))
        # Each traced wave against the untraced waves beside it: the store
        # grows and the JIT warms from wave to wave.
        pairs = []
        for i, (is_traced, lat) in enumerate(seq):
            near = [
                seq[j][1] for j in (i - 1, i + 1)
                if is_traced and 0 <= j < len(seq) and not seq[j][0]
            ]
            if near:
                pairs.append((_mean(near), lat))
        run.layers["trace.overhead_pct"] = _overhead_pct(pairs)
        run.info["traced_ops"] = len(traced)
    return run


WORKLOADS = {"bi_dashboard": bi_dashboard, "ingest_waves": ingest_waves}
