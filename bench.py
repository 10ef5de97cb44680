"""Benchmark harness: headline queries + CDC replay throughput.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "cdc_events_per_sec": <float>, "cpus": N}

Env knobs:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default all cores)
  BENCH_EVENTS        (CDC replay size, default 200_000)
  BENCH_QUERIES_ONLY / BENCH_CDC_ONLY  (subset switches for scaling runs)

Queries are executed to a `noop` sink so the FULL plan runs (a bare
count() would let Catalyst prune the expensive columns).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from opengin_ingestion_spark.session import get_spark

HEADLINE = [
    "lww_latest_state",
    "cdc_final_state",
    "running_total",
    "pricing_summary",
    "top_customers",
    "nation_order_stats",
    "doc_quality",
    "doc_fingerprint",
    "docs_exact_dedup",
    "minhash_neardup",
    "simhash_neardup",
    "ann_topk",
    "lsh_ann_topk",
    "ngram_jaccard",
    "curate_decisions",
    "media_features",
    "ordered_event_log",
    "fragment_aggregation",
    "parse_responses",
]


def _run_to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark, sf_dir: str) -> None:
    """Spin up JVM stages + the Python UDF worker pool once so per-query
    numbers measure the queries, not session cold-start."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _noop_udf = F.pandas_udf(lambda s: s, T.LongType())

    df = spark.range(100_000)
    df.select(F.sum(_noop_udf("id"))).collect()
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(1000).count()

    # the md5 minhash signature is a 32-aggregate expression whose FIRST
    # whole-stage-codegen compile costs ~10s per JVM; compile it here on
    # 50 rows so the measured runs time the operator, not javac (the
    # generated class depends on expression structure, not data size)
    from opengin_ingestion_spark.operators.dedup import minhash_lsh_pairs

    tiny = df.limit(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("warm doc text number "), F.col("id")).alias("text"),
    )
    minhash_lsh_pairs(tiny, threshold=0.9).count()


def bench_queries(spark, sf_dir: str, runs: int) -> dict[str, float]:
    """Per-query steady-state latency: best of ``runs`` executions (run 1
    includes whole-stage-codegen compilation of the query's plan — a fixed
    per-JVM cost that amortizes entirely in a long-lived service; min over
    runs measures the query). BENCH_RUNS=1 reproduces single-shot."""
    qs = entry_mod.queries()
    times: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            _run_to_noop(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
    return times


def bench_cdc_replay(spark, n_events: int, n_urls: int) -> dict[str, float]:
    """End-to-end replay throughput: change log → transform → MERGE →
    committed GinTable (the BASELINE.json primary metric)."""
    from opengin_ingestion_spark.plans.replay import replay_changelog
    from opengin_ingestion_spark.sources.changelog import (
        ChangeLogSpec,
        generate_changelog,
    )

    base = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        # warm the merge path itself (codegen, Arrow transfer, commit I/O)
        # with a tiny replay so the measured run times the pipeline, not
        # first-run JIT
        wlog = os.path.join(base, "warm_log")
        generate_changelog(wlog, ChangeLogSpec(n_events=20_000, n_urls=2_000,
                                               n_batches=2, seed=7))
        replay_changelog(spark, wlog, os.path.join(base, "warm_pages"),
                         n_buckets=16)

        log = os.path.join(base, "log")
        spec = ChangeLogSpec(
            n_events=n_events, n_urls=n_urls, n_batches=8, seed=42
        )
        generate_changelog(log, spec)  # generation excluded from timing

        # best-of-N for the PRIMARY metric: this VM's hypervisor waves vary
        # identical runs 1.5-3x (NOTES.md), so a best-of-2 replay generated
        # false round-over-round regression signals; N=4 (BENCH_CDC_RUNS)
        # makes the reported number a credible steady-state floor. Each run
        # replays into a fresh table dir — the merge path is measured cold
        # w.r.t. the table, warm w.r.t. the JVM, like production.
        cdc_runs = int(os.environ.get("BENCH_CDC_RUNS", 4))
        elapsed = float("inf")
        table = results = None
        for i in range(cdc_runs):
            t0 = time.perf_counter()
            table, results = replay_changelog(
                spark, log, os.path.join(base, f"pages_{i}"), n_buckets=64
            )
            elapsed = min(elapsed, time.perf_counter() - t0)
        applied = sum(r.metrics.get("events_in", 0) for r in results)

        # downstream read paths over the replayed table:
        # full read projecting the heavy family (html+text recovered via the
        # _seq join — no dedup aggregate under the heavy_seq_unique
        # invariant) and the CDC-out incremental read (manifest-diff +
        # key anti-join)
        from opengin_ingestion_spark.sources.gintable import table_changes

        t0 = time.perf_counter()
        _run_to_noop(table.read())
        heavy_read = time.perf_counter() - t0
        t0 = time.perf_counter()
        _run_to_noop(table_changes(table, 0))
        changes = time.perf_counter() - t0

        # streaming tail over the SAME log: supervised AvailableNow drain
        # into a fresh table — the production entry point, including
        # checkpoint commits and the per-micro-batch drift footer peeks.
        # No maxFilesPerTrigger cap = one micro-batch, matching the batch
        # replay's one-merge shape for an apples-to-apples events/s.
        from opengin_ingestion_spark.streaming.tail import supervised_tail

        tail_elapsed = float("inf")
        for i in range(cdc_runs):
            t0 = time.perf_counter()
            supervised_tail(
                spark, log, os.path.join(base, f"pages_tail_{i}"),
                os.path.join(base, f"ckpt_{i}"), n_buckets=64,
            )
            tail_elapsed = min(tail_elapsed, time.perf_counter() - t0)

        # fold-heavy compaction: the read-optimized layout — measure the
        # one-off fold, then the join-free read against heavy_read (split)
        from opengin_ingestion_spark.operators.compact import fold_heavy_compact

        t0 = time.perf_counter()
        fold_heavy_compact(table)
        fold = time.perf_counter() - t0
        t0 = time.perf_counter()
        _run_to_noop(table.read())
        folded_read = time.perf_counter() - t0

        # the fold's OTHER side of the trade: the next merge on a folded
        # bucket reads its light columns only and moves the folded file
        # into the heavy family unchanged — the same work as the split
        # layout's merge. Same delta merged onto a split replica (an
        # earlier replay run's table) and onto the folded table gives the
        # cadence guidance in docs/PLANS.md its numbers.
        from opengin_ingestion_spark.operators.merge import merge_batch
        from opengin_ingestion_spark.plans.replay import (
            TRANSFORM_FIELDS,
            pages_pandas_transform,
        )
        from opengin_ingestion_spark.sources.gintable import GinTable
        from opengin_ingestion_spark.sources.reader import read_changelog

        dlog = os.path.join(base, "delta_log")
        generate_changelog(
            dlog,
            ChangeLogSpec(
                n_events=max(10_000, n_events // 20),
                n_urls=max(1_000, n_urls // 20), n_batches=1, seed=99,
            ),
        )
        delta_df = read_changelog(spark, dlog)
        merge_split = None
        if cdc_runs > 1:  # pages_0 is a distinct split-layout replica
            split_table = GinTable(spark, os.path.join(base, "pages_0"))
            t0 = time.perf_counter()
            merge_batch(
                split_table, delta_df, batch_id=10_000,
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS,
            )
            merge_split = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_batch(
            table, delta_df, batch_id=10_001,
            pandas_transform=pages_pandas_transform,
            transform_fields=TRANSFORM_FIELDS,
        )
        fold_then_merge = time.perf_counter() - t0
        # what the move leaves until a compaction: the moved files still
        # hold the payloads of rows that merge superseded, and a read
        # scans them for the _seq join. Same state read from the split
        # replica (its merge appended only the batch's payloads).
        read_after_split_merge = None
        if merge_split is not None:
            t0 = time.perf_counter()
            _run_to_noop(split_table.read())
            read_after_split_merge = time.perf_counter() - t0
        t0 = time.perf_counter()
        _run_to_noop(table.read())
        read_after_fold_merge = time.perf_counter() - t0
        return {
            "cdc_replay_sec": round(elapsed, 3),
            "cdc_runs": cdc_runs,
            "cdc_events_applied": applied,
            "cdc_events_per_sec": round(applied / elapsed, 1),
            "heavy_read_sec": round(heavy_read, 3),
            "table_changes_sec": round(changes, 3),
            "tail_drain_sec": round(tail_elapsed, 3),
            "tail_events_per_sec": round(applied / tail_elapsed, 1),
            "fold_heavy_sec": round(fold, 3),
            "heavy_read_folded_sec": round(folded_read, 3),
            "merge_split_sec": (
                round(merge_split, 3) if merge_split is not None else None
            ),
            "fold_then_merge_sec": round(fold_then_merge, 3),
            "read_after_split_merge_sec": (
                round(read_after_split_merge, 3)
                if read_after_split_merge is not None else None
            ),
            "read_after_fold_merge_sec": round(read_after_fold_merge, 3),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def bench_ivf_index(spark, sf_dir: str) -> dict[str, float]:
    """IVF index amortization: one-off build (train + assignment write),
    then a QUERY-BATCH search through the persisted index (the serving
    path the index exists for — corpus-side work already paid) vs the
    exact brute-force search of the same batch. Self-search stays its own
    suite entry (the index cannot amortize the query-side probe pass
    there)."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_search,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    batch = emb.filter(F.col("vec_id") % 20 == 0)  # ~5% as the query batch
    base = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        idx = os.path.join(base, "ivf")
        t0 = time.perf_counter()
        build_ivf_index(emb, idx, n_centroids=16, seed=42)
        build = time.perf_counter() - t0

        def best_of(fn, runs=2):
            b = float("inf")
            for _ in range(runs):
                t = time.perf_counter()
                fn()
                b = min(b, time.perf_counter() - t)
            return b

        indexed = best_of(lambda: _run_to_noop(ivf_search(batch, idx, k=5)))
        exact = best_of(
            lambda: _run_to_noop(brute_force_topk(emb, queries=batch, k=5))
        )
        return {
            "ivf_build_sec": round(build, 3),
            "ivf_search_batch_sec": round(indexed, 3),
            "exact_search_batch_sec": round(exact, 3),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def bench_ivf_incremental(spark) -> dict[str, float]:
    """Incremental index maintenance vs full rebuild — the CDC-consumer
    path (update_ivf_index pairing table_changes). The sf embeddings table
    is too small to show the asymmetry (a rebuild of 2k vectors is
    trivially cheap and 16 cells are all touched by any delta), so this
    entry uses a deterministic 500k-vector clustered corpus with a
    LOCALIZED ~1.5% delta: the update rewrites only the delta's few home
    cells while the rebuild re-assigns and rewrites everything — the
    actual production trade at index sizes where it matters."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        update_ivf_index,
    )

    n, dim, n_clusters = 500_000, 64, 64

    def synth(shift: float):
        # pure function of vec_id: cluster center (sin basis per cluster)
        # + small per-id deterministic noise — same id ⇒ same vector on
        # every executor/partitioning, no RNG state
        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def synth_vec(ids: pd.Series) -> pd.Series:
            iv = ids.to_numpy()
            c = iv % n_clusters
            centers = np.sin(np.outer(c + 1, np.arange(1, dim + 1) * 0.7))
            noise = 0.05 * np.sin(np.outer(iv + 1, np.arange(1, dim + 1) * 1.3) + shift)
            m = (centers + noise).astype(np.float32)
            return pd.Series(list(m))

        return synth_vec

    base = tempfile.mkdtemp(prefix="bench_ivf_inc_")
    try:
        corpus = (
            spark.range(n)
            .select(F.col("id").alias("vec_id"), synth(0.0)("id").alias("embedding"))
            .localCheckpoint(eager=True)  # generation excluded from timing
        )
        idx = os.path.join(base, "ivf")
        t0 = time.perf_counter()
        build_ivf_index(corpus, idx, n_centroids=n_clusters, seed=42)
        rebuild = time.perf_counter() - t0
        # localized delta: every vector of ONE cluster moves (new noise
        # phase) + some deletes — the hot-shard update pattern
        delta = (
            spark.range(0, n, n_clusters)  # ids of cluster 0
            .select(
                F.col("id").alias("vec_id"),
                synth(1.0)("id").alias("embedding"),
                F.when(F.col("id") % (n_clusters * 20) == 0, F.lit("delete"))
                .otherwise(F.lit("upsert"))
                .alias("_change_type"),
            )
            .localCheckpoint(eager=True)
        )
        t0 = time.perf_counter()
        stats = update_ivf_index(delta, idx)
        update = time.perf_counter() - t0
        return {
            "ivf_rebuild_500k_sec": round(rebuild, 3),
            "ivf_update_sec": round(update, 3),
            "ivf_update_touched_cells": stats["touched_cells"],
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_events = int(os.environ.get("BENCH_EVENTS", 500_000))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    runs = int(os.environ.get("BENCH_RUNS", 2))
    _warmup(spark, sf_dir)
    queries: dict[str, float] = {}
    cdc: dict[str, float] = {}
    ivf: dict[str, float] = {}
    if not os.environ.get("BENCH_CDC_ONLY"):
        queries = bench_queries(spark, sf_dir, runs)
        ivf = bench_ivf_index(spark, sf_dir)
        queries["ivf_search_batch"] = ivf["ivf_search_batch_sec"]
        queries["exact_search_batch"] = ivf["exact_search_batch_sec"]
        inc = bench_ivf_incremental(spark)
        ivf.update(inc)
        queries["ivf_update"] = inc["ivf_update_sec"]
    if not os.environ.get("BENCH_QUERIES_ONLY"):
        cdc = bench_cdc_replay(spark, n_events, max(1000, n_events // 10))
        queries["cdc_replay"] = cdc["cdc_replay_sec"]
        queries["heavy_read"] = cdc["heavy_read_sec"]
        queries["table_changes"] = cdc["table_changes_sec"]
        queries["tail_drain"] = cdc["tail_drain_sec"]
        queries["fold_heavy"] = cdc["fold_heavy_sec"]
        queries["heavy_read_folded"] = cdc["heavy_read_folded_sec"]
        queries["fold_then_merge"] = cdc["fold_then_merge_sec"]
        if cdc.get("merge_split_sec") is not None:
            queries["merge_split"] = cdc["merge_split_sec"]

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "runs_per_query": runs,
        "agg": "min",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        **cdc,
        **ivf,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
