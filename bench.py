#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric": ..., "unit": "sec", "queries": {name:
sec, ...}, "cpus": ..., "master": ..., "codegen_compiles": ..., "value":
total_sec, "sf": ...}.

Queries execute to a noop sink so timings measure full plan execution
(scan → shuffle → agg) without driver-collect transfer noise.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans  # noqa: E402
from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Representative spread: joins/aggs (TPC-H-ish core), windows, JSON, text,
#: dedup (exact + MinHash LSH), similarity (exact + LSH), the e2e pipeline
#: with pandas-UDF enrichment, and a real Structured Streaming window query.
HEADLINE = [
    "flagship_revenue",
    "join_star_5way",
    "agg_macros",
    "join_inner",
    "join_broadcast",
    "topk_sodium",
    "join_asof",
    "window_running_sum",
    "dedup_last_write",
    "json_flatten",
    "wordcloud_tokens",
    "text_stats",
    "dq_checks",
    "dedup_exact_text",
    "dedup_minhash",
    "dedup_minhash_banded",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "pipeline_text_curation",
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "similarity_topk_int8",
    "similarity_topk_pq",
    "dedup_embedding",
    "dedup_semantic",
    "kmeans_refine",
    "corpus_mix_sample",
    "dedup_connected_components",
    "pack_sequences",
    "pipeline_corpus_build",
    "pipeline_nutrition_e2e",
    "scd2_history",
    "stream_tumbling_live",
    "stream_static_enrich",
    "funnel_conversion",
    "rolling_7d_features",
    "profile_columns",
    "ngram_bigram_lm",
    "graph_pagerank",
    "dedup_keep_best",
    "span_dedup",
    "dedup_incremental",
    "dsir_resample",
    "collocation_pmi",
    "graph_triangles",
    "phrase_search",
    "text_search_rank",
    "pipeline_user_features",
    # session-3 additions: the sketch family, the map-only cleanup pass, and
    # the Arrow-native Python boundary
    "sketch_countmin",
    "clean_repeated_tokens",
    "arrow_batch_digest",
    "dedup_lines",
    "shard_balanced",
    "ts_motif_match",
    # session-5 additions: BM25 retrieval, the both-sides-large binned range
    # join, the cumulative-distinct growth curve, and the shuffle-free audio
    # VAD over the multimodal payload
    "bm25_search",
    # session-7 additions: the other two map-side-tf retrieval queries —
    # the r7 plan reworks, kept visible per-round (pack_sequences already
    # listed above)
    "search_prf_expand",
    "tfidf_terms",
    "join_range_binned",
    "running_distinct",
    "mm_audio_energy",
    "similarity_maxsim",
    "kth_order_statistics",
    # session-6 additions: journey CEP, linear attribution, RFM quintiles,
    # the bounded k-hop BFS, and the four-term delta-join IVM identity
    "cep_pattern_match",
    "attribution_linear",
    "rfm_segments",
    "graph_bfs_khop",
    "join_delta_maintain",
    "twap_irregular",
    # session-7 additions: prefix-sum FIFO lot matching, min-plus weighted
    # shortest path, and the rank-AUC histogram decomposition
    "fifo_match_lots",
    "graph_shortest_path",
    "eval_auc_rank",
    # round-5 additions (VERDICT r4 item 5): the real-codec decode queries
    # (Arrow-boundary cost worth tracking), the survival life table, the
    # exact two-sample KS statistic, and Vickrey settlement
    "mm_decode_bmp",
    "mm_decode_wav",
    "survival_table",
    "ks_two_sample",
    "auction_second_price",
    # round-6 additions (VERDICT r5 item 7): the live TCP wire round trip
    # (S1/S2 socket path), the checkpointed k-core peel, the packed-pair
    # wedge jaccard, and entity-resolution golden records
    "wire_topic_roundtrip",
    "graph_kcore",
    "graph_jaccard_sim",
    "er_golden_records",
    # round-8 additions: the approx-agg error-bound companions, the
    # promoted MLlib text pipeline, the LSH recall contract, and the
    # seeded-sampler bound — the queries that closed the rows-only tail
    "agg_approx_distinct_bound",
    "agg_approx_percentile_bound",
    "text_ml_pipeline",
    "similarity_ann_mllib_recall",
    "sample_bernoulli_bound",
    # round-10 addition: the PPM leg of the real-codec decode family —
    # completes the per-codec Arrow-boundary cost tracking (BMP/WAV above)
    "mm_decode_ppm",
    # round-10 risk-sweep reworks, kept visible per-round: the fused
    # complete-recall simhash join (old plan dead at M=100) and the
    # census form of recursive path counting
    "dedup_simhash_multiprobe",
    "path_counts_census",
    # round-11 additions: the production-contract variants of the two
    # exactness-proof heavies (VERDICT r10 item 3) — the occupancy-collapse
    # knobs a 100 TB user actually runs, timed next to their exact siblings
    "dedup_simhash_multiprobe_wide",
    "dedup_ngram_jaccard_dfcut",
    # round-12 additions: the seeded-hyperplane production ANN tier
    # (VERDICT r11 item 7) and the corpus provenance audit — timed next to
    # pipeline_corpus_build (both build the gated near-dup pair table
    # inside their own plan; see plans/corpus.py::_corpus_pair_edges)
    "similarity_ann_hyperplane",
    "pipeline_drop_reasons",
]


def main() -> None:
    spark = get_spark(app_name="hybrid-nutrition-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Warm one-time machinery so timings reflect steady state: JVM/codegen,
    # a shuffle, parquet footers for every table, and the Python UDF workers.
    from pyspark.sql import functions as F
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import (
        TABLES,
        load_table,
    )

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    # Exercise the join/AQE/broadcast machinery once.
    a = spark.range(100_000).withColumn("k", F.col("id") % 100)
    b = spark.range(100).withColumnRenamed("id", "k")
    a.join(F.broadcast(b), "k").agg(F.countDistinct("id")).collect()
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    spark.range(10_000).select(
        F.pandas_udf(lambda s: s + 1, "long")(F.col("id"))
    ).collect()

    # Host-speed calibration (VERDICT r7 item 3): two rounds of BENCH
    # confusion were pure host drift (r6 bm25 scare, r7's +11% board-wide).
    # Time a fixed, data-independent workload so any BENCH_rN can be
    # drift-normalized against another: ratio_normalized =
    # (total_N / total_M) / (calibration_N / calibration_M).
    # Sizing (measured r8): pure hash-agg over range() is overhead-bound —
    # 30 M and 300 M rows timed identically (~0.5 s) — so it cannot sense
    # throughput drift. This 60 M-row wide exchange + sort + aggregate
    # (~2 s) is the smallest probe whose time scales with data volume on
    # this host class; it tracks the 1.5×-class host drift the field
    # exists to catch, not single-digit noise.
    cal = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(60_000_000)
            .select(F.col("id"), F.xxhash64("id").alias("k"))
            .repartition(64, "k")
            .sortWithinPartitions("k")
            .groupBy((F.col("k") % 997).alias("g"))
            .agg(F.sum("id"), F.count("*"))
            .agg(F.count("*"))
            .collect()
        )
        cal = min(cal, time.perf_counter() - t0)
    calibration_s = round(cal, 3)

    # Whole-stage-codegen compiles over the timed passes. "Cold" below means
    # data caches only: the JVM-wide generated-class cache stays warm, and
    # this counts the classes it missed.
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    # Best-of-3 per query, COLD-cache convention (VERDICT r7 item 2): every
    # repeat starts from an empty CacheManager — the registry wrapper
    # releases all cached fragments at each top-level query invocation, and
    # the explicit clearCache below keeps that true even if the wrapper
    # convention changes. Queries that persist() intermediates therefore
    # rebuild them each repeat: timings measure the full cold plan, never a
    # warm re-read of a previous run's cache.
    #
    # The three repeats run as three INTERLEAVED full passes over the list,
    # not back-to-back per query (VERDICT r11 what's-wrong #1): the r11
    # artifact shipped bm25_search at 3.98 s where two flanking same-code
    # runs read 0.69-0.77 s — a host disturbance lasting a few seconds
    # poisons all three CONSECUTIVE repeats of whichever query it lands on,
    # but under pass-interleaving the same disturbance hits a DIFFERENT
    # query on each pass, so the per-query minimum stays clean. Same total
    # work, decorrelated noise. `repeat_dispersion_med` (median over
    # queries of max/min across passes) is emitted so a disturbed run
    # indicts itself.
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            fn = plans.QUERIES[name]
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(time.perf_counter() - t0)
    spark.catalog.clearCache()
    codegen_compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
    # 2-decimal seconds (VERDICT r12 item 2): the driver's PERF comparison
    # reads this line from a bounded stdout tail, and BENCH_r05-r11 all
    # failed to parse because the line outgrew the captured window. Two
    # decimals (10 ms — far below the host's run-to-run noise) plus compact
    # separators keep the full line ~2.4 KB, inside a 4 KB tail with room;
    # BENCHLOG.jsonl keeps the same line verbatim for full history.
    timings = {name: round(min(ts), 2) for name, ts in runs.items()}
    dispersion = sorted(max(ts) / min(ts) for ts in runs.values())
    dispersion_med = round(dispersion[len(dispersion) // 2], 3)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 2)
    # Field order is load-bearing (VERDICT r8 item 2): the driver's
    # BENCH_rN.json artifact keeps only the LAST ~2000 characters of stdout,
    # and the 86-entry `queries` dict is longer than that — so the summary
    # scalars (`value`, `calibration_s`, ...) must come AFTER `queries` or
    # the committed artifact loses its own headline number (it did, r5-r8).
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "unit": "sec",
            "queries": timings,
            "cpus": default_parallelism(),
            "master": spark.sparkContext.master,
            "codegen_compiles": codegen_compiles,
            "value": total,
            "sf": sf,
            "cache_convention": "cold",
            "calibration_s": calibration_s,
            "repeat_dispersion_med": dispersion_med,
        },
        separators=(",", ":"),
    )
    assert len(line) < 4096, f"bench summary line too long: {len(line)}"
    print(line)
    # Full-fidelity history independent of driver truncation: append each
    # run's complete line to a committed log (VERDICT r8 item 2).
    try:
        log_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCHLOG.jsonl"
        )
        with open(log_path, "a") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # read-only checkout: stdout line is still the artifact
    spark.stop()


if __name__ == "__main__":
    main()
