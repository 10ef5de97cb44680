"""Batch replay: change log → MERGE (with transform) → `pages` GinTable.

The end-to-end slice of SURVEY.md §7 Phase 2. One logical plan per batch:

    read(log) → MERGE: bucket shuffle → partition-local LWW
                       → extract_text / detect_lang on final winners only
                         (``pages_pandas_transform`` in the merge's
                         ``mapInArrow`` write step)
                       → bucket-pruned copy-on-write, exactly-once commit

Reference analog: scan (scanner.py:55-102) + aggregate (aggregator.py:24-104)
+ export (exporter.py:28-103), collapsed into one declarative pipeline —
the intermediate JSON materializations of the reference are replaced by
Catalyst pipelining; only the commit materializes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from opengin_ingestion_spark.operators.merge import MergeResult, merge_batch
from opengin_ingestion_spark.sources.gintable import GinTable
from opengin_ingestion_spark.sources.reader import read_changelog

# Target `pages` table user schema (BASELINE.json input_hint) + the evolved
# content_len column; `lang` arrives via evolution in the evolving fixture.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


# Columns the transform stage derives (declared for schema evolution).
TRANSFORM_FIELDS = [
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
]


def pages_pandas_transform(pdf):
    """Bucket-local vectorized derive stage, run by merge_batch on FINAL
    winner rows only: extract text for rows that arrived from the batch
    (text still null), detect lang where absent. Unchanged target rows and
    tombstones are left untouched — extraction work is proportional to
    changed live rows, not bucket size."""
    from opengin_ingestion_spark.functions.extract import (
        detect_lang_series,
        extract_text_series,
    )

    live = ~pdf["_deleted"].astype(bool)
    need_text = live & pdf["text"].isna() & pdf["html"].notna()
    if need_text.any():
        pdf.loc[need_text, "text"] = extract_text_series(pdf.loc[need_text, "html"])
    need_lang = live & pdf["lang"].isna() & pdf["text"].notna()
    if need_lang.any():
        pdf.loc[need_lang, "lang"] = detect_lang_series(pdf.loc[need_lang, "text"])
    return pdf


def estimate_dir_bytes(log_dir: str) -> int:
    """On-disk bytes of a change-log directory (the auto-bucket-sizing
    input; file sizes only, no data read)."""
    total = 0
    for f in os.listdir(log_dir):
        if f.endswith(".parquet"):
            total += os.path.getsize(os.path.join(log_dir, f))
    return total


def load_or_create_pages_table(
    spark: SparkSession, table_path: str, log_dir: str, n_buckets: int | None
) -> GinTable:
    """Load the pages table, or create it with the standard layout:
    auto-sized buckets when ``n_buckets`` is None (from the log's on-disk
    bytes; an empty/missing dir estimates 0 → the 16-bucket floor) and the
    payload column family (html + extracted text) — a merge then rewrites a
    touched bucket's light columns and APPENDS only the batch winners'
    payloads; reads projecting html/text pay a _seq join (GinTable.read).
    Safe under concurrent drivers (create-race falls back to load)."""
    if GinTable.exists(table_path):
        return GinTable.load(spark, table_path)
    if n_buckets is None:
        from opengin_ingestion_spark.sources.gintable import choose_n_buckets

        est = estimate_dir_bytes(log_dir) if os.path.isdir(log_dir) else 0
        n_buckets = choose_n_buckets(est)
    try:
        return GinTable.create(
            spark, table_path, PAGES_SCHEMA, n_buckets=n_buckets,
            heavy_columns=("html", "text"),
        )
    except FileExistsError:  # concurrent driver won the create race
        return GinTable.load(spark, table_path)


def replay_changelog(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    n_buckets: int | None = 64,
    batch_id: int = 0,
    group_files: int | None = None,
) -> tuple[GinTable, list[MergeResult]]:
    """Replay a change log into a `pages` GinTable.

    ``group_files=None`` → whole log as ONE batch (fastest replay: one LWW
    pass, each bucket written once). ``group_files=k`` → k files per merge
    batch in filename order (exercises the incremental path; batch ids are
    ``batch_id + i``). Both converge to the same final state (LWW).

    ``n_buckets=None`` → size automatically from the log's on-disk bytes
    (``choose_n_buckets``): no manual tuning, bucket working sets stay
    within executor memory. Outgrown tables are fixed later with
    ``operators.compact.rebucket``.
    """
    table = load_or_create_pages_table(spark, table_path, log_dir, n_buckets)

    results: list[MergeResult] = []
    if group_files is None:
        df = read_changelog(spark, log_dir)
        results.append(
            merge_batch(
                table, df, batch_id=batch_id,
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS,
            )
        )
    else:
        files = sorted(
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if f.endswith(".parquet")
        )
        from opengin_ingestion_spark.sources.reader import infer_log_schema

        schema = infer_log_schema(log_dir)
        for i in range(0, len(files), group_files):
            chunk = files[i : i + group_files]
            df = spark.read.schema(schema).parquet(*chunk)
            results.append(
                merge_batch(
                    table,
                    df,
                    batch_id=batch_id + i // group_files,
                    pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS,
                )
            )
    return table, results
