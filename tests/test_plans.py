"""Physical-plan quality regression tests — the scale guarantees are only
real if Catalyst produces the intended plans, so assert on them:
pushdown reaches the Parquet scan, pruning drops the wide payload column,
joins broadcast, Python stages are Arrow-vectorized (never row-at-a-time).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:120]


def test_column_pruning_drops_payload(spark):
    """A key-only aggregate over the change-log-shaped events table must
    not read the wide columns (merge action 1 depends on this)."""
    df = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.pmod(F.xxhash64("user_id"), F.lit(16)))
        .count()
    )
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_merge_stats_action_prunes_html(spark, tiny_log):
    from opengin_ingestion_spark.sources.reader import read_changelog

    df = read_changelog(spark, tiny_log["dir"])
    stats = df.groupBy(F.pmod(F.xxhash64("url"), F.lit(16)).alias("b")).agg(
        F.count(F.lit(1)).alias("e"),
        F.sum(F.coalesce(F.col("content_len").cast("long"), F.lit(0))).alias("by"),
        F.max("warc_ts").alias("m"),
        F.sum((F.col("op") == "D").cast("long")).alias("d"),
    )
    plan = _formatted(stats)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, "stats action must not read the payload"


def test_topk_join_is_broadcast(spark):
    df = entry_mod.queries()["top_customers"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_no_rowwise_python_anywhere(spark):
    """Every query's plan must use ArrowEvalPython / MapInPandas (Arrow
    batches), never BatchEvalPython (pickled row-at-a-time)."""
    for name, q in entry_mod.queries().items():
        if name == "cdc_replay_pages":
            # materializes a table; the merge's plan is checked by
            # test_functions.py::test_merge_runs_vectorized
            continue
        plan = _plan(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python"


def test_anti_join_used_for_not_exists(spark):
    plan = _plan(entry_mod.queries()["customers_without_orders"](spark, SF_DIR))
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_whole_stage_codegen_on_text_stats(spark):
    """Text-analysis expressions must stay JVM-side (no Python in the hot
    path). Since the r6 parallelism guard the plan is wrapped in an
    AdaptiveSparkPlan whose pre-execution toString does not render the
    "*(n)" codegen markers, so the invariant is asserted directly: the
    quality expressions appear as native expressions and no
    Batch/ArrowEvalPython node exists."""
    plan = _plan(entry_mod.queries()["doc_quality"](spark, SF_DIR))
    assert "EvalPython" not in plan
    # the scoring runs as JVM expressions (plan toString truncates long
    # projection lists, so match the leading expression)
    assert "size(split(text" in plan
    # codegen markers when the plan is not AQE-wrapped (no exchange)
    if "AdaptiveSparkPlan" not in plan:
        assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_ngram_size_join_not_forced_broadcast(spark):
    """The per-document size frame joins in ngram_jaccard_pairs must NOT be
    hint-forced broadcasts: the frame is O(n_docs) rows — at corpus scale a
    forced broadcast OOMs the driver. With the shingle cap disabled (the
    only intentional broadcast hint in the operator), the analyzed plan
    must carry no broadcast hint at all; AQE remains free to choose a
    broadcast at runtime when the frame is actually small."""
    from opengin_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=None)
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "size-frame join is hint-forced — remove the F.broadcast()"
    )


def test_table_changes_plan_key_only_anti_join(spark, tiny_log, tmp_path):
    """CDC-out: the carried-row elimination is a LeftAnti whose from-side
    scan reads ONLY the key columns (url, _seq, _deleted) — never the
    payload; heavy columns are joined onto the delta once."""
    from opengin_ingestion_spark.plans.replay import replay_changelog
    from opengin_ingestion_spark.sources.gintable import table_changes

    table, results = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=2,
    )
    delta = table_changes(table, results[0].version)
    plan = _plan(delta)
    assert "LeftAnti" in plan
    fmt = _formatted(delta)
    key_only = [
        ln for ln in fmt.splitlines()
        if "ReadSchema" in ln and "_deleted" in ln and "html" not in ln
    ]
    assert key_only, "from-side scan must be key-pruned (no payload columns)"


def test_folded_read_plan_is_join_free_scan(spark, tiny_log, tmp_path):
    """compact(fold_heavy=True) on the whole table: the subsequent full
    read is a bare parquet scan — no Join, no Aggregate, no Exchange; and
    include_heavy=False still prunes the inline payload columns at the
    scan (ReadSchema carries no html)."""
    from opengin_ingestion_spark.operators.compact import compact
    from opengin_ingestion_spark.plans.replay import replay_changelog

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=2,
    )
    compact(table, fold_heavy=True)
    plan = _plan(table.read())
    assert "Join" not in plan and "Aggregate" not in plan
    assert "Exchange" not in plan, "folded read must not shuffle"
    fmt = _formatted(table.read(include_heavy=False))
    reads = [ln for ln in fmt.splitlines() if "ReadSchema" in ln]
    assert reads and all("html" not in ln for ln in reads), (
        "include_heavy=False over folded files must prune payload columns "
        "at the parquet scan"
    )


def test_ivf_update_lookup_prunes_vectors(spark, tmp_path):
    """update_ivf_index's old-home lookup (changed ids → cells) must be a
    column-pruned scan: the semi join needs only (id, cell), so ReadSchema
    on the index layout must not include the embedding column — at corpus
    scale the lookup reads two slim columns, never the vectors."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_cells_path,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=8, seed=42)
    changed = emb.select("vec_id").limit(10)
    existing = spark.read.parquet(ivf_cells_path(idx))
    lookup = existing.join(changed, "vec_id", "leftsemi").select("cell").distinct()
    fmt = _formatted(lookup)
    # `cell` is the layout's partition column (not in ReadSchema); the
    # cells-scan line is the one reading vec_id
    cell_reads = [
        ln for ln in fmt.splitlines()
        if "ReadSchema" in ln and "vec_id" in ln
    ]
    assert cell_reads and all("embedding" not in ln for ln in cell_reads), (
        f"old-home lookup must not read the vector column: {cell_reads}"
    )


def test_gap_sessions_single_shuffle(spark):
    """Sessionization: ONE hash exchange on the session key feeds both
    window passes (lag, running sum) and the final aggregate — the windows
    and the groupBy share the partitioning."""
    fmt = _formatted(entry_mod.queries()["event_sessions"](spark, SF_DIR))
    assert fmt.count("hashpartitioning") == 1, fmt[:2000]
    assert "Window" in fmt and "HashAggregate" in fmt


def test_fetch_urls_is_data_parallel_arrow_stage(spark, tmp_path):
    """The URL fetch source must be a DISTRIBUTED Arrow-batched Python
    stage, never a driver loop: the plan is mapInPandas over a
    round-robin-repartitioned url frame (fetch parallelism = executor
    parallelism), with zero row-wise Python and no collect before the
    stage. No network is touched here — the plan is built, not run."""
    from opengin_ingestion_spark.sources.download import fetch_urls

    urls = [f"http://127.0.0.1:1/never-fetched-{i}" for i in range(20)]
    df = fetch_urls(spark, urls, str(tmp_path / "dl"))
    plan = _plan(df)
    assert "MapInPandas" in plan, plan[:1500]
    assert "BatchEvalPython" not in plan  # row-wise Python would be 100x
    fmt = _formatted(df)
    assert "RoundRobinPartitioning" in fmt or "Exchange" in fmt, (
        "the url list must be spread across partitions before the fetch"
    )
    # dead-letter contract is part of the stage's schema
    assert set(df.columns) == {"url", "path", "nbytes", "error"}
