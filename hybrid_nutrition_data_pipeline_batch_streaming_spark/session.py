"""SparkSession construction tuned for this engine.

Design point: correctness is tested on ``local[N]`` but every setting here is
chosen for a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion).
- UTC session timezone so timestamp semantics are deployment-independent.
- Arrow enabled so the few pandas-UDF paths (enrichment, multimodal decode)
  move data in columnar batches rather than pickled rows.
- ``nanosAsLong`` so nanosecond parquet timestamps (events.ts) are readable;
  the catalog converts them to microsecond TIMESTAMP_NTZ.

Checkpoint primitive choice (measured policy, SCALE.md round-8 — pick by
FRAME CLASS, not globally):

- **Big, once-read scratch frames** (a loop round's output consumed only by
  the next round — kcore survivor edges): ``scratch_checkpoint`` →
  SERIALIZED ``MEMORY_AND_DISK`` localCheckpoint. Deserialized blocks from
  60 M-row rounds squeeze execution memory until hash aggregation OOMs
  (reproduced twice at M=100 on an 8 g heap); serialized compresses ~2×
  and completed kcore in 112.6 s vs 207 s.
- **Small, multi-read loop state** (CC label frames re-read by several
  later joins): ``checkpoint_truncate`` → DESERIALIZED localCheckpoint.
  Measured FASTER for this class (61.2 s vs 80.6 s, dedup_keep_best M=100)
  — repeated reads pay per-read deserialization under the serialized level.

New iterative operators should pick the primitive by which class their loop
state falls into; NOTES.md (round 9) carries the per-site audit table.
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: SQL (runtime-settable) configs every session should carry. Applied both at
#: build time and defensively at catalog time (the driver may hand us a
#: session we did not build).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Permissive expression semantics (Spark 4 defaults to ANSI): the engine
    # mirrors the reference's defensive null-on-error behavior
    # (`pipeline.py:27-30,115-129`) — out-of-range element_at → NULL,
    # bad casts → NULL — rather than failing the job.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # NOT set: adaptive.coalescePartitions.initialPartitionNum. Tested at
    # 512 during the round-5 M=100 study on the theory that over-provisioned
    # shuffles + AQE coalescing would cut hash-agg spill on the ~1e9-row
    # wedge aggregations — measured 1.5× SLOWER (317 s → 473 s on
    # graph_jaccard_sim at M=100): on a single-JVM local[32] the extra
    # map-side spill files and GC churn cost more than the reduce-side
    # memory relief. On a real multi-executor cluster this is the standard
    # knob — size it there, don't bake it here.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep pushdown on (it is the default, but make it explicit
    # because the 100 TB design depends on it).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


#: Size of the JVM-wide generated-class cache (the static
#: ``spark.sql.codegen.cache.maxEntries``, default 100). The working sets it
#: must hold, counted as ``CodegenMetrics`` compiles of one pass on a fresh
#: JVM: the 16 dashboard tiles of ``perfbench``'s ``bi_dashboard`` need 271
#: classes; one pass of ``bench.py``'s 93 headline queries at sf0.1 needs
#: 1665, and a second pass adds 44 (queries whose plan varies per call).
#: 4000 leaves more than 2x headroom over the larger. A cached class costs
#: about 8 KB of metaspace (measured: 1700 classes, +13 MB).
CODEGEN_CACHE_ENTRIES = 4000


def _size_shuffle_partitions(spark: SparkSession) -> None:
    """Size shuffle partitions to the core count on untuned sessions.

    AQE coalesces batch shuffles anyway, but STATEFUL STREAMING ops allocate
    one state store per shuffle partition at query start (AQE never resizes
    them), and a foreign session's untouched default of 200 makes tiny
    stateful queries pay ~4× wall time (measured: stream_stateful_totals
    34 s at 200 vs 8.7 s at 32 on local[32] at sf0.01). A session that set
    any NON-default value tuned it deliberately — leave that alone. On a
    real cluster this is sized to ~128 MB per partition of the largest
    stage instead."""
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        _set_conf(spark, "spark.sql.shuffle.partitions", str(default_parallelism()))


#: Conf keys already warned about as static on this process's sessions.
_STATIC_WARNED: set[str] = set()


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set`` that tolerates exactly one failure: a conf that is
    static on this session (the caller's session was built without it). That
    is warned about once per key; every other error raises."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as exc:
        if exc.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
            raise
        if key not in _STATIC_WARNED:
            _STATIC_WARNED.add(key)
            warnings.warn(
                f"{key} is static on this session; keeping its value",
                RuntimeWarning,
                stacklevel=3,
            )


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "hybrid-nutrition-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    ``shuffle_partitions`` defaults to the core count: on a real cluster this
    would be sized to ~128 MB per shuffle partition of the largest stage
    (i.e. thousands of partitions at 100 TB); AQE coalesces the excess.

    Contract: a query mix that repeats compiles each whole-stage-codegen
    class once per JVM. The generated-class cache is sized
    (``CODEGEN_CACHE_ENTRIES``) above the largest measured working set;
    Spark's default of 100 entries is below it, so a cyclic mix missed the
    LRU on every query and recompiled every class on every pass (measured on
    a 4-core host at sf0.01: the 16 dashboard tiles recompiled 270 classes
    per warm pass, which took 12.6-14.0 s; with this cache, 0 classes and
    9.6-11.4 s). The conf is static: it only takes effect when this builder
    creates the session, so a session built elsewhere keeps Spark's default.
    """
    par = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{par}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Belt-and-braces for the lineage-cut lifecycle (ADVICE r12):
        # release_caches() frees cut blocks deterministically per query, but
        # any frame that escapes the registry wrapper (a harness calling
        # checkpoint_truncate directly) is reclaimed by the ContextCleaner
        # once its RDD is GC'd — and with a RELIABLE checkpoint dir this conf
        # also deletes the checkpoint FILES on GC, which otherwise accumulate
        # per invocation forever.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _apply_checkpoint_dir(spark)
    return spark


def _apply_checkpoint_dir(spark: SparkSession) -> None:
    """Honor SPARK_GRAFT_CHECKPOINT_DIR: when set, iterative lineage cuts
    (checkpoint_truncate) become RELIABLE checkpoints to this directory.

    Measured motivation (M=100 scale study, NOTES.md): localCheckpoint
    stores its blocks in the executor storage pool, and at 120 M edge rows
    on an 8 g heap that pool squeezes execution until hash aggregation
    can't acquire pages (AGGREGATE_OUT_OF_MEMORY); the same plan with a
    reliable on-disk checkpoint dir completes. On a cluster, point this at
    HDFS/object storage."""
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)


def checkpoint_truncate(df, eager: bool = True):
    """Truncate a DataFrame's lineage for iterative loops — the one conf
    switch between dev-grade and cluster-grade checkpointing.

    Iterative operators (connected components, multi-round k-means,
    corpus-build fan-out) MUST cut their lineage per round: Catalyst
    re-analyzes the full plan on every action, and caching dodges
    re-execution but not re-analysis (measured 2-4.5 s/round uncut at
    sf0.1 — see plans/graph.py). Two ways to cut it:

    - ``sc.setCheckpointDir(...)`` configured → reliable ``checkpoint()``:
      blocks are written to the fault-tolerant dir (HDFS/object store on a
      cluster), so a lost executor replays from the checkpoint instead of
      from the start of the loop — the production setting;
    - no checkpoint dir → ``localCheckpoint()``: blocks stay in executor
      storage (fast, but lost-executor = recompute-from-scratch) — the
      right default for local/test runs.

    One call site, flipped by session configuration, never by code edits.

    Cost note for the reliable-dir mode (ADVICE r12): ``checkpoint(eager)``
    runs the frame's plan for the eager count job AND re-runs it for the
    checkpoint write job (Spark recomputes an uncached RDD when saving it),
    so every eager cut is computed twice per invocation under
    ``SPARK_GRAFT_CHECKPOINT_DIR``. That mode exists as the documented
    M=100 OOM remedy — the double compute is the price of keeping the
    blocks out of executor storage; the checkpoint FILES are reclaimed by
    the ContextCleaner (``cleanCheckpoints=true`` in ``get_spark``) and the
    deterministic per-query release below.

    Every cut frame is TRACKED so ``release_caches`` can free its blocks at
    the next top-level query (localCheckpoint blocks live in executor
    storage but never register in the CacheManager, so ``clearCache`` alone
    leaks them across a long session — ADVICE r12).

    ``eager=False`` (r13) truncates the LOGICAL plan immediately (the
    Catalyst re-analysis relief is unchanged — the frame becomes a leaf at
    construction) but defers block materialization to the frame's FIRST
    action instead of running a dedicated count job. Use it when the very
    next statement is an action over the cut frame anyway (the CC loop's
    per-round convergence collect): the action computes AND caches the
    blocks in one job, halving the loop's job count. NOT safe for frames
    whose first consumers materialize concurrently (band-join legs under
    AQE) — they would race to fill the blocks, the r12 lazy-persist
    pathology.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return _track_cut(df.checkpoint(eager=eager))
    return _track_cut(df.localCheckpoint(eager=eager))


#: Lineage-cut frames issued since the last release — localCheckpoint /
#: checkpoint blocks live OUTSIDE the CacheManager, so clearCache() never
#: frees them (ADVICE r12); release_caches unpersists them explicitly. The
#: strong references are intentional: lifecycle is bounded by the registry's
#: per-query release, not by GC timing.
_CUT_FRAMES: list = []


def _track_cut(df):
    _CUT_FRAMES.append(df)
    return df


def release_caches(spark: SparkSession) -> None:
    """Drop every cached plan fragment in this context's CacheManager, and
    free the storage blocks of every lineage cut issued since the last
    release.

    Plan functions ``.persist()`` intermediates that are read by multiple
    legs of the SAME query (the cache-boundary discipline, NOTES r7), but
    they return an UNMATERIALIZED frame — the caller collects later — so
    they cannot unpersist before returning without forfeiting the very
    single-scan property the persist buys (an unpersisted fragment is
    recomputed per consumer). In a long-lived session running many queries
    (the driver's 50-query window, the parity sweep, bench) those
    MEMORY_AND_DISK entries would otherwise accumulate without bound —
    disk-backed blocks are not LRU-evicted (ADVICE r7). The query registry
    calls this at each top-level query invocation, bounding live cache to
    one query's working set; harnesses may also call it directly between
    repeats. Correctness is unaffected for persisted fragments (a cleared
    fragment recomputes from lineage).

    Lineage cuts (``checkpoint_truncate`` / ``scratch_checkpoint``) need
    the second step (ADVICE r12): their blocks never register in the
    CacheManager, so without explicit unpersist they accumulate in executor
    storage until the ContextCleaner happens to GC the RDD — the documented
    "bounds live cache to one query's working set" contract held only for
    persists. NOTE the sequencing contract this sharpens: a cut frame is
    UNRECOVERABLE once its blocks are freed (lineage is truncated by
    design), so a caller must materialize each query's result before
    invoking the next top-level query — the same harness shape the
    registry wrapper already requires.
    """
    spark.catalog.clearCache()
    for df in _CUT_FRAMES:
        try:
            # The cut frame's analyzed plan is a LogicalRDD over the
            # checkpointed RDD; unpersist its blocks (blocking=False).
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # foreign plan shape / already-stopped context: best effort
    _CUT_FRAMES.clear()


def scratch_checkpoint(df):
    """Lineage cut for INTRA-QUERY scratch frames (per-round loop state
    consumed only by the next round — e.g. graph_kcore's survivor edges).

    The fast option is ``localCheckpoint`` (executor-local blocks, no
    filesystem round-trip: kcore 253 s → 207 s at M=100), but its blocks
    are unrecoverable — on a multi-node cluster losing one executor
    mid-loop FAILS the query instead of recomputing (ADVICE r7). So the
    choice is gated on deployment rather than hard-coded:

    - local master (``local[*]`` — one JVM, executor loss == driver loss,
      nothing to survive): always ``localCheckpoint``;
    - distributed master with a reliable checkpoint dir configured:
      ``checkpoint`` — the availability the dir exists to provide;
    - distributed master, no dir: ``localCheckpoint`` (nothing reliable
      to write to), accepting the recompute-on-loss trade.

    Override either way with the engine conf
    ``spark.hybridnutrition.scratchCheckpoint=local|reliable``.

    The local blocks are stored SERIALIZED (StorageLevel.MEMORY_AND_DISK,
    not the deserialized default) — measured at M=100 (VERDICT r7 item 6,
    SCALE.md round-8): the deserialized default's storage footprint
    squeezes the 8 g heap until hash aggregation OOMs (reproduced twice),
    while serialized blocks complete the kcore peel in 112-135 s — faster
    than the r7 deserialized reading (207 s) because the rounds' 60 M-row
    edge sets compress ~2× serialized and stop evicting execution memory.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    sc = spark.sparkContext
    level = StorageLevel.MEMORY_AND_DISK
    mode = spark.conf.get("spark.hybridnutrition.scratchCheckpoint", "auto")
    if mode == "local":
        return _track_cut(df.localCheckpoint(eager=True, storageLevel=level))
    if mode == "reliable":
        # ADVICE r8: an explicit 'reliable' override with NO checkpoint dir
        # configured would silently degrade (via checkpoint_truncate) to a
        # plain DESERIALIZED localCheckpoint — neither reliable nor the
        # serialized level this helper's OOM analysis requires. The operator
        # asked for durability the session cannot provide: fail loudly.
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "scratchCheckpoint=reliable requires a checkpoint dir "
                "(set SPARK_GRAFT_CHECKPOINT_DIR or sc.setCheckpointDir)"
            )
        return _track_cut(df.checkpoint(eager=True))
    if not sc.master.startswith("local") and sc.getCheckpointDir() is not None:
        return _track_cut(df.checkpoint(eager=True))
    return _track_cut(df.localCheckpoint(eager=True, storageLevel=level))


#: Application ids that already had the package zip shipped via addPyFile.
_PKG_SHIPPED: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python worker processes via ``addPyFile``.

    Python data-source workers (``format("wire_topic")`` /
    ``format("nutrition_items")``) re-import the module that defines the
    DataSource class in a separate process; they do NOT inherit the
    driver's ``sys.path`` inserts. When the driver process was started
    outside the repo root (a packaged deployment, or a tool run from a
    scratch cwd), that re-import fails with PYTHON_DATA_SOURCE_ERROR even
    though the driver itself imported fine. Two mechanisms, because
    workers come in two flavors:

    - ``SparkContext.addPyFile`` of a package zip — reaches EXECUTOR-side
      python workers (batch read tasks) via the standard pyFiles include
      mechanism, exactly like ``spark-submit --py-files`` on a cluster;
    - ``sc.environment["PYTHONPATH"]`` pointing at the zip — reaches the
      DRIVER-side planner/streaming-runner processes
      (``python_streaming_source_runner`` et al.), which unpickle the
      DataSource instance before any include setup and so need the module
      importable from their process environment (measured: addPyFile
      alone leaves the streaming runner with ModuleNotFoundError while
      batch reads succeed). The zip lives on the driver machine — the
      only place these runners execute; on executors the stale path is
      simply ignored.

    Must run BEFORE ``spark.dataSource.register`` (the per-function env
    is captured at registration). Idempotent per application. The zip is
    named by a CONTENT DIGEST of the shipped sources (ADVICE r7: a
    pid-keyed name is both a /tmp leak — every driver process writes a
    new zip nothing cleans up — and a staleness hazard: /tmp outlives
    processes, so pid reuse could ship an outdated zip while the driver
    runs current code). Same sources → same path, reused across
    processes; any source edit → new digest → fresh zip.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PKG_SHIPPED:
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    members: list[tuple[str, str]] = []
    digest = hashlib.sha256()
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            # Ship .py plus any package data a future revision adds;
            # exclude caches/compiled artifacts.
            if f.endswith((".pyc", ".pyo")) or "__pycache__" in root:
                continue
            full = os.path.join(root, f)
            arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
            members.append((full, arc))
            digest.update(arc.encode())
            with open(full, "rb") as fh:
                digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"{pkg_name}-{digest.hexdigest()[:16]}-pyfiles.zip",
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, arc in members:
                zf.write(full, arc)
        os.replace(tmp, zip_path)
    # addPyFile blindly appends to the context's python-includes list; a
    # re-ship of the same content-addressed zip (e.g. a fresh memo after
    # session reuse) must not duplicate the include entry. The includes
    # list is a private PySpark attribute (VERDICT r8 item 6), so read it
    # via getattr: if a future PySpark renames it, we fall back to calling
    # addPyFile unconditionally — a duplicate sys.path entry on workers is
    # harmless, an AttributeError here is not.
    includes = getattr(sc, "_python_includes", None)
    if includes is None or os.path.basename(zip_path) not in includes:
        sc.addPyFile(zip_path)
    prev = sc.environment.get("PYTHONPATH")
    if not prev or zip_path not in prev.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (
            zip_path + (os.pathsep + prev if prev else "")
        )
    _PKG_SHIPPED.add(app_id)


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Apply runtime-settable engine configs to a foreign session.

    The correctness driver passes in its own SparkSession; these SQL confs
    are all runtime-settable so the engine behaves identically there. A conf
    that is static on the given session is kept with a one-time warning;
    any other failure to set one raises. Re-applying on every call is cheap
    (0.8 ms per call, measured), so it is not memoized.
    """
    for k, v in RUNTIME_CONF.items():
        _set_conf(spark, k, v)
    _size_shuffle_partitions(spark)
    _apply_checkpoint_dir(spark)
