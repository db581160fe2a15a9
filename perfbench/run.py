#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
under ``perfbench/.work/`` and removed at exit. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``). The line before it, starting with
``# detail``, records the host, the configuration and the raw samples; the
same record is written to ``perfbench/results/``.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: perf_counter value at process start; set-up time is measured from here.
T_PROCESS = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "hybrid_nutrition_data_pipeline_batch_streaming_spark"

FIXTURE_SEED = 42
FIXTURE_SF = 0.01
WAVE_ROWS = 20_000
SMOKE_FIXTURE_SF = 0.001
SMOKE_WAVE_ROWS = 500
TAIL_PCT = 75


class Context:
    def __init__(self, seed: int, work_dir: str, smoke: bool):
        self.seed = seed
        self.work_dir = work_dir
        self.fixtures_dir = os.path.join(work_dir, "fixtures")
        self.fixture_sf = SMOKE_FIXTURE_SF if smoke else FIXTURE_SF
        self.wave_rows = SMOKE_WAVE_ROWS if smoke else WAVE_ROWS


def _git_commit() -> str:
    """The checkout's commit, read from ``.git`` without leaving the
    checkout; ``unknown`` when it is not a git repository."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(ROOT, ".git", name)
        if os.path.exists(loose):
            with open(loose) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _setup_env(work_dir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}"
        f" -Dderby.system.home={work_dir}' pyspark-shell"
    )
    os.chdir(work_dir)  # spark-warehouse/ and derby.log land here


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    import probes

    tree = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metric_names() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def tail(latencies: list[float], pct: int = TAIL_PCT) -> tuple[float, int]:
    """Nearest-rank percentile and how many samples lie beyond it."""
    ordered = sorted(latencies)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs (sf 0.001 fixtures, 500-row waves) for self-tests",
    )
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        end_to_end, per_layer = _metric_names()
        __import__(PACKAGE)
    except (OSError, ImportError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    ctx = Context(args.seed, work_dir, args.smoke)
    cwd = os.getcwd()
    _setup_env(work_dir, cpus)
    spark = None
    try:
        g0 = time.perf_counter()
        if args.workload == "bi_dashboard":
            gen.write_fixtures(ctx.fixtures_dir, FIXTURE_SEED, ctx.fixture_sf)
        gen_s = time.perf_counter() - g0

        from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import (
            get_spark,
        )

        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS - gen_s
        run = workloads.WORKLOADS[args.workload](
            spark, ctx, args.seconds, bool(args.trace)
        )
        config = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "python": platform.python_version(),
            "fixtures": {
                "dir": os.path.relpath(ctx.fixtures_dir, ROOT),
                "seed": FIXTURE_SEED,
                "sf": ctx.fixture_sf,
            },
            "wave_rows": ctx.wave_rows,
            "commit": _git_commit(),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work_dir, ignore_errors=True)

    lat = run.latencies
    if not lat:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    tail_s, beyond = tail(lat)
    values = {
        "setup_s": session_s + run.setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "rows_per_s": run.rows / sum(lat),
    }
    layers = dict(run.layers)
    layers["error_rate"] = run.failed / run.attempted
    wanted = per_layer if args.trace else end_to_end
    source = layers if args.trace else values
    # A layer the workload never calls reads 0.
    metrics = {
        name: {"value": float(source.get(name, 0.0)), "unit": unit}
        for name, unit in wanted.items()
    }
    detail = {
        "config": config,
        "end_to_end": values,
        "op_samples": len(lat),
        "op_tail_pct": TAIL_PCT,
        "op_tail_beyond": beyond,
        "latencies_s": lat,
        "session_s": session_s,
        "warm_up_s": run.setup_s,
        "failures": run.failures,
        "info": run.info,
        "layers": layers if args.trace else None,
    }
    results = os.path.join(BENCH_DIR, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(
        os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w"
    ) as fh:
        json.dump(detail, fh, indent=1)
    print("# detail " + json.dumps(detail, separators=(",", ":")))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
