"""MERGE INTO: bucket-pruned copy-on-write upsert with LWW + exactly-once.

Reference analog: the hash-probe merge of page fragments into the
aggregated map (/root/reference/python/src/opengin/tracer/agents/
aggregator.py:61-84) — generalized to a transactional upsert of a change
batch into a GinTable.

Physical strategy (the scale story — each step sized for 10^10 events):

1. **Touched buckets** from a key-only scan of the raw batch (Catalyst
   prunes every other column off the Parquet read).
2. **ONE payload shuffle**: target bucket contents ∪ raw batch rows are
   hash-repartitioned by url bucket — the same partitioning the bucketed
   write needs anyway, so it is the merge's only exchange. LWW,
   tombstoning and the vectorized transform all run partition-locally in
   one ``mapInPandas`` pass with zero further exchanges, no broadcast
   build, no driver involvement. The transform runs after the
   partition-local LWW, on final winners only.
3. **Memory invariant** (the cost of having no pre-winnow): ALL of a
   batch's revisions of a url cross the shuffle and land in one pandas
   partition alongside that bucket's target rows, so
   ``bucket_parquet_bytes × ~4 (in-memory factor) + batch_slice_bytes``
   must fit one executor's pandas heap. The bucket side is bounded by
   ``choose_n_buckets`` (sources/gintable.py:67 — 64 MB on-disk default ≈
   256 MB in memory); the batch side is bounded by micro-batch sizing
   (maxFilesPerTrigger in the tail) PLUS the zipf-hot-url worst case: one
   url dominating a batch concentrates that batch's slice in one
   partition. Bounded in practice because a micro-batch ≪ table, and
   stress-tested (tests/test_replay.py::test_merge_hot_url_batch — one
   url = 20% of the batch); a deployment that must absorb pathological
   hot batches passes ``merge_batch(..., hot_key_prereduce=True)`` — a
   map-side partial LWW reduce that collapses each input split's
   revisions of a key to one row before the shuffle (equivalence-tested;
   off by default because it costs an extra Arrow round-trip).
4. **Bucket pruning**: only the touched buckets' data files are read
   (manifest-level pruning — untouched files are never even listed) and
   rewritten. At B=4096 buckets a 1%-of-urls micro-batch rewrites ~B
   files, not the table.
5. Union (aligned via the schema-evolution lattice) of current bucket
   contents + transformed winners → one LWW hash-aggregate → final bucket
   contents. Deletes become tombstones (payload nulled, ordering key kept,
   hidden from reads) so an out-of-order event in a later batch can NOT
   resurrect a deleted url; tombstones are expired by watermark
   (expire_tombstones).
6. Write one file per touched bucket (explicit repartition — measured 3×
   faster than letting every task open a writer per bucket), then ONE
   atomic manifest commit recording the batch id → duplicate delivery of
   the same batch id is a no-op (exactly-once under foreachBatch retry:
   the check happens *inside* the merge, the commit is atomic).

Spark actions per merge: a per-bucket input-stats aggregation (key/ts/len
columns only — it yields touched buckets, events/bytes/lag metrics AND
per-input-bucket lineage in one pass) and the data-file write. On a
column-family-split table the write is two actions over ONE persisted
evaluation of the merge plan: base (light columns, bucket-replace) and
heavy (batch winners' payloads, append). NOT ``df.observe``:
Observation.get never resolves inside foreachBatch (the micro-batch
DataFrame belongs to a cloned SparkSession whose listener events don't
reach the observation), which zombies the streaming query.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.operators.evolution import align_to_schema, evolve_schema
from opengin_ingestion_spark.sources.gintable import (
    BUCKET_COL,
    DELETED_COL,
    SEQ_COL,
    CommitConflict,
    GinTable,
)

OP_COL = "op"
FROM_TARGET_COL = "_from_target"  # transient LWW tie-break marker


@dataclass
class MergeResult:
    skipped: bool
    version: int | None = None
    metrics: dict[str, Any] = field(default_factory=dict)


def lww_last(pdf, key: str, ts: str):
    """Last-writer-wins over a pandas frame: the whole row with the largest
    (ts, _seq, _from_target) per key.

    Duplicate delivery → the redelivered copy ties the target row on
    (ts, _seq); the target sorts LAST (False < True) so keep='last' picks
    the already-applied copy. That keeps derived light columns (lang)
    without recomputation AND — because target rows carry null heavy
    payloads — nothing is re-appended to the heavy family: the
    at-most-one-heavy-row-per-_seq manifest invariant
    (gintable.heavy_seq_unique) that lets reads skip the whole-family
    dropDuplicates."""
    return pdf.sort_values(
        [ts, SEQ_COL, FROM_TARGET_COL], kind="mergesort"
    ).drop_duplicates(subset=[key], keep="last")


def merge_batch(
    table: GinTable,
    batch_df: DataFrame,
    batch_id: int,
    key: str | None = None,
    ts: str | None = None,
    seq: str = "seq",
    pandas_transform: Callable | None = None,
    transform_fields: list[T.StructField] | None = None,
    max_retries: int = 3,
    schema_mapping=None,
    hot_key_prereduce: bool = False,
) -> MergeResult:
    """Apply one RAW change batch (columns: op 'I'|'U'|'D'; seq; key; ts;
    payload...) to the table. Idempotent per ``batch_id``.

    ``key``/``ts`` default to the table's manifest-declared merge identity
    (GinTable.create(key_col=..., ts_col=...)); pass them only when the
    BATCH names the columns differently from the table (rare — prefer a
    schema_mapping rename).

    ``hot_key_prereduce=True`` adds a MAP-SIDE partial LWW reduce before
    the bucket shuffle: each input partition keeps only its per-key
    (ts, seq)-max row, so a url that dominates the batch crosses the
    exchange as ≤ one row PER INPUT SPLIT instead of its whole revision
    stream — the escape hatch for the module-doc step-3 memory invariant
    when a batch is pathologically hot. Exactly the same final state
    (max is associative; the partition-local winner feeds the same
    global partition-local LWW), tested equal on a zipf-hot log. OFF by
    default: it pays one extra Arrow round-trip of the batch payload,
    which is a net loss on ordinary zipfian batches.

    ``pandas_transform(pdf) -> pdf`` is the vectorized derive stage (e.g.
    HTML→text extraction); it runs bucket-locally on final winner rows only
    — never on superseded revisions, never on unchanged target rows.
    ``transform_fields`` declares the columns it adds (for schema
    evolution), e.g. ``[StructField("text", StringType())]``.

    ``schema_mapping`` (SchemaMapping or its dict form) applies declarative
    rename/drop/cast rules to the batch BEFORE evolution — a renamed
    upstream column lands in its existing table column instead of forking
    an additive old-null/new pair (operators/schema_map.py).
    """
    if schema_mapping is not None:
        from opengin_ingestion_spark.operators.schema_map import apply_schema_mapping

        batch_df = apply_schema_mapping(batch_df, schema_mapping)
    if key is None or ts is None:
        # ONE manifest read resolves both identity columns (key_col()/
        # ts_col() each re-parse the snapshot when called bare — measurable
        # at high merge rates on version-N manifests)
        _snap = table.current_snapshot()
        key = key if key is not None else table.key_col(_snap)
        ts = ts if ts is not None else table.ts_col(_snap)
    last_err: Exception | None = None
    for _attempt in range(max_retries):
        try:
            return _merge_once(
                table, batch_df, batch_id, key, ts, seq,
                pandas_transform, transform_fields, hot_key_prereduce,
            )
        except CommitConflict as e:  # concurrent writer won — recompute on top
            last_err = e
    raise last_err  # type: ignore[misc]


def _merge_once(
    table: GinTable,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    ts: str,
    seq: str,
    pandas_transform: Callable | None,
    transform_fields: list[T.StructField] | None,
    hot_key_prereduce: bool = False,
) -> MergeResult:
    snap = table.current_snapshot()
    if table.is_batch_applied(batch_id, snap):
        return MergeResult(skipped=True, version=snap["version"])

    t_start = time.time()

    # --- schema evolution decision FIRST, before any Spark action: a batch
    # with an incompatible column type must fail-fast with
    # SchemaEvolutionError and leave no side effects — not die mid-stats
    # with a raw cast exception (found by an end-to-end poison probe).
    # Driver-side schema arithmetic only, costs nothing.
    _seen: set[str] = set()
    _fields: list[T.StructField] = []
    for f in list(batch_df.schema.fields) + list(transform_fields or []):
        if f.name not in (OP_COL, seq) and f.name not in _seen:
            _fields.append(f)
            _seen.add(f.name)
    batch_user = T.StructType(_fields)
    evolved_user = evolve_schema(table.schema(snap), batch_user)
    stored_schema = GinTable._with_internal(evolved_user)
    schema_changed = stored_schema != table.schema(snap, include_internal=True)
    schema_version = snap["schema_version"] + (1 if schema_changed else 0)

    # --- action 1: per-bucket input stats (ONE key-pruned aggregation gives
    # touched buckets + events/bytes/lag metrics + per-input-bucket lineage;
    # deliberately NOT df.observe — Observation.get never resolves inside
    # foreachBatch because the micro-batch df belongs to a cloned session)
    # try_cast: the bytes metric must never crash a merge (ANSI mode)
    if "content_len" in batch_df.columns:  # avoids reading the html payload
        bytes_expr = F.sum(F.coalesce(F.col("content_len").try_cast("long"), F.lit(0)))
    elif "html" in batch_df.columns:
        bytes_expr = F.sum(F.coalesce(F.length(F.col("html")).cast("long"), F.lit(0)))
    else:
        bytes_expr = F.lit(0).cast("long")
    in_stats = (
        batch_df.groupBy(table.bucket_expr(key, snap).alias(BUCKET_COL))
        .agg(
            F.count(F.lit(1)).alias("events"),
            bytes_expr.alias("bytes"),
            F.max(F.col(ts)).alias("max_ts"),
            F.sum((F.col(OP_COL) == "D").cast("long")).alias("delete_events"),
        )
        .collect()
    )
    stats_s = round(time.time() - t_start, 3)
    touched = {r[BUCKET_COL] for r in in_stats}
    events_in = sum(r["events"] for r in in_stats)
    bytes_in = sum(r["bytes"] or 0 for r in in_stats)
    delete_events = sum(r["delete_events"] or 0 for r in in_stats)
    max_ts = max((r["max_ts"] for r in in_stats), default=None)
    input_lineage = [
        {"bucket": r[BUCKET_COL], "events": r["events"], "bytes": r["bytes"]}
        for r in sorted(in_stats, key=lambda r: r[BUCKET_COL])
    ]
    if not touched:  # empty batch: still record the batch id (exactly-once)
        new_snap = table.commit(
            [], set(), [batch_id],
            metrics={"events_in": 0, "rows_written": 0, "batch_id": batch_id},
        )
        return MergeResult(skipped=False, version=new_snap["version"])

    aligned_schema = T.StructType(
        [T.StructField(OP_COL, T.StringType(), True)] + list(stored_schema.fields)
    )
    updates = align_to_schema(batch_df.withColumnRenamed(seq, SEQ_COL), aligned_schema)

    # --- read ONLY touched buckets of the current snapshot ------------------
    # (include_internal keeps tombstones: they must participate in LWW so a
    # late out-of-order event cannot resurrect a deleted url)
    # include_heavy=False: LWW needs no old payloads — on a column-family-
    # split table the heavy family is neither read nor rewritten here; a
    # target winner keeps its referenced heavy row, a batch winner appends
    # a new one (write amplification ∝ changed rows, not bucket size).
    # EXCEPTION — FOLDED buckets (compact(fold_heavy=True)): their folded
    # base file is the ONLY copy of their payloads and this merge replaces
    # it, so those buckets' target rows must carry heavy columns through
    # the merge; the split write then re-appends every surviving payload
    # exactly once (their _seqs have no heavy rows elsewhere — fold dropped
    # them — so heavy_seq_unique is preserved) and the bucket reverts to
    # the split layout. Non-folded touched buckets keep the cheap path.
    folded_buckets = {
        f["bucket"] for f in snap["files"] if f.get("folded", False)
    }
    touched_folded = touched & folded_buckets
    if touched_folded:
        target = table.read(
            snap, buckets=touched - touched_folded,
            include_internal=True, include_heavy=False,
        ).unionByName(
            table.read(
                snap, buckets=touched_folded,
                include_internal=True, include_heavy=True,
            )
        )
    else:
        target = table.read(
            snap, buckets=touched, include_internal=True, include_heavy=False
        )
    target = align_to_schema(target, stored_schema).withColumn(
        OP_COL,
        F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("D")).otherwise(
            F.lit("I")
        ),
    )
    # origin marker, used by the LWW tie-break below (transient — never
    # part of the stored schema)
    target = target.withColumn(FROM_TARGET_COL, F.lit(True))
    updates = updates.withColumn(FROM_TARGET_COL, F.lit(False))

    # --- THE shuffle: everything co-located by url-hash bucket ---------------
    # One payload shuffle total (it is required for the bucketed write
    # anyway); LWW, tombstoning and the vectorized transform then all run
    # partition-locally with zero further exchanges, no broadcast build, no
    # driver involvement.
    combined = target.select(*updates.columns).unionByName(updates)
    combined = combined.withColumn(BUCKET_COL, table.bucket_expr(key, snap))
    if hot_key_prereduce:
        # map-side partial LWW (see merge_batch doc): per input split keep
        # only the per-key (ts, seq, from_target)-max row. Partial max
        # feeds the identical global reduce below — same winner, but a
        # hot key's superseded revisions never cross the exchange.
        pre_schema = combined.schema

        def partial_lww(batches):
            for pdf in batches:
                if not pdf.empty:
                    yield lww_last(pdf, key, ts)

        combined = combined.mapInPandas(partial_lww, schema=pre_schema)
    bucketed = combined.repartition(len(touched), F.col(BUCKET_COL))

    payload_cols = [
        f.name
        for f in stored_schema.fields
        if f.name not in (key, ts) and not f.name.startswith("_")
    ]
    out_fields = [T.StructField(BUCKET_COL, T.IntegerType(), False)] + list(
        stored_schema.fields
    )
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def merge_partition(batches):
        import pandas as pd  # executor-side

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if pdf.empty:
            return
        pdf = lww_last(pdf, key, ts)
        deleted = pdf[OP_COL].to_numpy() == "D"
        pdf = pdf.copy()
        pdf[DELETED_COL] = deleted
        if deleted.any():
            for c in payload_cols:
                # object dtype first: numeric pandas columns would upcast
                # None→NaN→float64 and break the Arrow cast back to long
                pdf[c] = pdf[c].astype(object)
                pdf.loc[deleted, c] = None
        if pandas_transform is not None:
            pdf = pandas_transform(pdf)
        yield pdf[out_cols]

    merged = bucketed.mapInPandas(merge_partition, schema=out_schema)

    # --- action 2: copy-on-write rewrite of touched buckets (already
    # bucket-partitioned — the write does not shuffle again). On a split
    # table this writes base (all winners, light cols) + heavy (batch
    # winners' payloads only: target winners read back with null heavy, so
    # the isNotNull family filter selects exactly the new payloads) --------
    t_w = time.time()
    new_files = table.write_split_data_files(
        merged, snap["version"] + 1, schema_version, n_partitions=None
    )
    write_s = round(time.time() - t_w, 3)

    lineage = [
        {
            "bucket": b,
            "rows": sum(f.rows for f in new_files if f.bucket == b),
            "bytes": sum(f.bytes for f in new_files if f.bucket == b),
            "files": sum(1 for f in new_files if f.bucket == b),
        }
        for b in sorted(touched)
    ]
    metrics = {
        "batch_id": batch_id,
        "events_in": events_in,
        "bytes_in": bytes_in,
        "delete_events": delete_events,
        "rows_written": sum(f.rows for f in new_files if f.family == "base"),
        "bytes_written": sum(f.bytes for f in new_files),
        "heavy_bytes_written": sum(f.bytes for f in new_files if f.family == "heavy"),
        "buckets_rewritten": len(touched),
        "merge_seconds": round(time.time() - t_start, 3),
        # time in the merge's two Spark actions: the input-stats
        # aggregation and the data-file write (which runs LWW + transform)
        "stats_s": stats_s,
        "write_s": write_s,
        "lag_seconds": (
            round(time.time() - max_ts.timestamp(), 3) if max_ts is not None else None
        ),
        # event-time high-water mark (ISO) — the tail's maintenance hook
        # derives its tombstone-expiry watermark from this
        "max_event_ts": max_ts.isoformat() if max_ts is not None else None,
    }
    new_snap = table.commit(
        new_files,
        replaced_buckets=touched,
        batch_ids=[batch_id],
        metrics=metrics,
        lineage={"input": input_lineage, "output": lineage},
        new_schema=evolved_user,
        expected_parent=snap["version"],
        # heavy family is append-only under MERGE: prior payload files of
        # the touched buckets stay referenced (their _seqs may still win)
        replaced_families={"base"},
        # MERGE preserves heavy _seq uniqueness (target-preferring LWW
        # tie-break: a redelivered event's payload is never re-appended)
        heavy_seq_unique=snap.get("heavy_seq_unique", False),
    )
    return MergeResult(skipped=False, version=new_snap["version"], metrics=metrics)


def expire_tombstones(table: GinTable, watermark_ts) -> dict:
    """Physically drop tombstones older than the event-time watermark.

    A tombstone is only needed while an out-of-order event with a smaller
    (warc_ts, seq) could still arrive; once the source's lateness bound has
    passed (the watermark), it is dead weight. This is the GinTable analog
    of streaming state eviction — run it periodically (it rewrites every
    bucket that holds expirable tombstones, so schedule like a compaction).
    """
    snap = table.current_snapshot()
    expirable = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
        F.col(table.ts_col(snap)) < F.lit(watermark_ts)
    )
    # bucket discovery needs only (key, ts, _deleted) — include_heavy=
    # False keeps this scan off the payload family (Catalyst cannot
    # eliminate the heavy left-join on its own: it lacks the uniqueness
    # guarantee our manifest invariant provides)
    buckets_df = (
        table.read(snap, include_internal=True, include_heavy=False)
        .filter(expirable)
        .select(table.bucket_expr(snap=snap).alias(BUCKET_COL))
        .distinct()
    )
    touched = {r[0] for r in buckets_df.collect()}
    if not touched:
        return snap
    kept = (
        table.read(snap, buckets=touched, include_internal=True)
        .filter(~expirable)
        .withColumn(BUCKET_COL, table.bucket_expr(snap=snap))
    )
    # full rewrite: both families replaced — this also purges the expired
    # tombstones' (and any superseded winners') stale heavy rows
    new_files = table.write_split_data_files(
        kept, snap["version"] + 1, snap["schema_version"], n_partitions=len(touched)
    )
    return table.commit(
        new_files,
        replaced_buckets=touched,
        batch_ids=[],
        metrics={"op": "expire_tombstones", "buckets_rewritten": len(touched)},
        expected_parent=snap["version"],
        # full rewrite of the touched buckets from deduplicated read state
        heavy_seq_unique=snap.get("heavy_seq_unique", False),
    )
