"""Keyed fragment aggregation with schema-variant forking (reference A1-A3).

The reference's aggregator merges per-page table fragments into whole
tables: group key = normalized name, fragments merge only when column
headers match exactly, a mismatch forks a new variant ``{name}_{n}``, and
rows concatenate in page order
(/root/reference/python/src/opengin/tracer/agents/aggregator.py:42-96).

Spark-native formulation over the `extracted_tables` shape
(FIXTURES.md F3: run_id, page_num, table_name, columns, rows):

* A1 hash-agg by normalized name  → groupBy(lower(trim(name)))
* A2 schema-variant grouping      → group ALSO by the exact column list;
  variant index = dense_rank of the column-list's first appearance within
  the name group (so variants number deterministically in page order,
  matching the reference's first-come forking)
* A3 ordered row concat           → sort_array(collect_list(struct(page,
  rows))) then flatten — Catalyst-native ordered concatenation

One job, two shuffles (the agg + the variant-order window), no driver
loops; output one row per (name, variant) with rows in page order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def aggregate_table_fragments(
    fragments: DataFrame,
    name_col: str = "table_name",
    page_col: str = "page_num",
    columns_col: str = "columns",
    rows_col: str = "rows",
) -> DataFrame:
    """fragments(page_num, table_name, columns, rows) → one row per
    (normalized name, schema variant): (table_name, variant, name_variant,
    columns, rows ordered by page, n_fragments, n_rows)."""
    norm = F.lower(F.trim(F.col(name_col)))
    df = fragments.withColumn("_name", norm)

    # A2: a variant = exact column list; number variants by first page seen
    first_seen = df.groupBy("_name", columns_col).agg(
        F.min(page_col).alias("_first_page")
    )
    # deterministic tiebreak: two variants first appearing on the same page
    # order by their serialized column list (stable across runs/partitions)
    w = Window.partitionBy("_name").orderBy(
        "_first_page", F.concat_ws("\u001f", F.col(columns_col))
    )
    variants = first_seen.withColumn("variant", F.row_number().over(w) - 1).drop(
        "_first_page"
    )

    # A1 + A3: merge fragments per (name, columns); rows in page order
    merged = (
        df.groupBy("_name", columns_col)
        .agg(
            F.flatten(
                F.sort_array(
                    F.collect_list(F.struct(F.col(page_col), F.col(rows_col)))
                ).getField(rows_col)
            ).alias(rows_col),
            F.count(F.lit(1)).alias("n_fragments"),
        )
        .join(variants, ["_name", columns_col])
    )
    return merged.select(
        F.col("_name").alias(name_col),
        "variant",
        F.when(F.col("variant") == 0, F.col("_name"))
        .otherwise(F.concat_ws("_", "_name", "variant"))
        .alias("name_variant"),
        F.col(columns_col),
        F.col(rows_col),
        "n_fragments",
        F.size(rows_col).alias("n_rows"),
    )


def gap_sessions(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "_seq",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch gap-sessionization: consecutive events of a key closer than
    ``gap_seconds`` form one session. The classic two-window formulation —
    lag() flags session starts, a running sum numbers them, one aggregate
    collapses each — both shuffles on the (uniform) key. The
    ``event_sessions`` contract query runs it."""
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    prev_ts = F.lag(ts_col).over(w)
    # integer microseconds on both engines (unix_micros / epoch_us) — a
    # fractional-seconds epoch() would truncate differently at boundaries
    # cast: unix_micros needs TIMESTAMP; TIMESTAMP_NTZ inputs (the events
    # fixture) convert via the UTC session tz — exact, engine-agnostic
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    is_new = F.when(
        prev_ts.isNull()
        | (us(F.col(ts_col)) - us(prev_ts) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    numbered = df.withColumn(
        "_sess",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy(key_col, "_sess").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(key_col, "session_start", "session_end", "n_events")
