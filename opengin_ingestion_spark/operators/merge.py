"""MERGE INTO: bucket-pruned copy-on-write upsert with LWW + exactly-once.

Reference analog: the hash-probe merge of page fragments into the
aggregated map (/root/reference/python/src/opengin/tracer/agents/
aggregator.py:61-84) — generalized to a transactional upsert of a change
batch into a GinTable.

Physical strategy (the scale story — each step sized for 10^10 events):

1. **Touched buckets** from a key-only scan of the raw batch (Catalyst
   prunes every other column off the Parquet read).
2. **ONE payload shuffle, sized by bytes**: target bucket contents ∪ raw
   batch rows go through ``GinTable.write_data_files``, whose exchange
   hash-partitions them by url bucket — the merge's only exchange. It
   has no partition count: it starts at ``spark.sql.shuffle.partitions``
   and AQE coalesces whole partitions by bytes, so a 200-event serve
   merge runs in one task, not one per
   touched bucket, and a bucket never spans two tasks. LWW, tombstoning
   and the vectorized transform run partition-locally as the write's
   per-task Arrow step (``lww_step``, inside ``mapInArrow``): zero further
   exchanges, no broadcast build, no driver involvement. The transform
   runs on final winners only.
3. **Streaming bucket merge** (the memory bound, by construction): after
   the exchange a JVM ``sortWithinPartitions(_bucket, key)`` (codegen'd,
   spills) groups the partition by bucket and makes each url's rows
   contiguous, and ``lww_step`` folds the partition's Arrow batches one
   at a time through ``lww_stream`` (as pandas frames with nullable
   dtypes), carrying only the winner of the batch's last url into the
   next batch. Winners go to the writer frame by frame, one row group
   each, and the writer closes a bucket's files once the stream has
   moved past it. So a task holds one Arrow batch
   (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus one row,
   and one bucket's open writers — whatever the bucket's size, however
   many buckets the task holds and however many revisions a hot url has
   in the batch (tests/test_replay.py::test_merge_hot_url_batch).
4. **Bucket pruning**: only the touched buckets' data files are read
   (manifest-level pruning — untouched files are never even listed) and
   rewritten. This does not make a merge cheap at scale: a batch touching
   1% of urls at B=4096 buckets hits nearly every bucket, so it rewrites
   nearly every bucket's base file (merge-on-read is a ROADMAP item).
   The target is read once, light columns only, whatever the layout: a
   touched bucket's folded base file (``fold_heavy_compact``) already
   holds ``_seq`` and the payloads, so the commit moves it unchanged into
   the heavy family — no payload is read, shuffled or rewritten.
5. Union (aligned via the schema-evolution lattice) of current bucket
   contents + batch rows → the streamed LWW of step 3 → transformed
   winners = final bucket contents. Deletes become tombstones (payload
   nulled, ordering key kept, hidden from reads) so an out-of-order event
   in a later batch can NOT resurrect a deleted url; tombstones are
   expired by watermark (expire_tombstones).
6. The task that computed a bucket's winners writes them with pyarrow
   (``DataFileWriter``, the body of ``GinTable.write_data_files``),
   fsyncs them and returns one row per file — the payload never goes
   back to the JVM. Then ONE atomic manifest commit records the batch id
   → duplicate delivery of the same batch id is a no-op (exactly-once
   under foreachBatch retry: the check happens *inside* the merge, the
   commit is atomic).

Spark actions per merge: a per-bucket input-stats aggregation (key/ts/len
columns only — it yields touched buckets, events/bytes/lag metrics AND
per-input-bucket lineage in one pass) and the write, which collects the
file rows. With AQE on each action is two jobs (the shuffle map stage,
then the result), so a merge runs 4 Spark jobs (tests/test_gintable.py::
test_merge_job_budget). NOT ``df.observe``: Observation.get never
resolves inside foreachBatch (the micro-batch DataFrame belongs to a
cloned SparkSession whose listener events don't reach the observation),
which zombies the streaming query.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.operators.compact import rewrite_buckets
from opengin_ingestion_spark.operators.evolution import align_to_schema, evolve_schema
from opengin_ingestion_spark.sources.gintable import (
    BUCKET_COL,
    DELETED_COL,
    SEQ_COL,
    CommitConflict,
    DataFile,
    GinTable,
)

OP_COL = "op"
BATCH_SEQ_COL = "seq"  # a raw batch's sequence column (stored as _seq)
FROM_TARGET_COL = "_from_target"  # transient LWW tie-break marker
# Arrow → pandas nullable dtypes: float64 would round longs above 2**53,
# and numpy floats hold null as NaN, so a NaN would come back as null
_NULLABLE = {
    pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
    pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(),
    pa.float32(): pd.Float32Dtype(), pa.float64(): pd.Float64Dtype(),
    pa.bool_(): pd.BooleanDtype(),
}.get


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


def lww_stream(batches, key: str, ts: str):
    """``lww_last`` over a stream of frames sorted by ``key``, one frame at
    a time: yields winner frames, each url exactly once. The winner of a
    frame's last url is held back and prepended to the next frame, since
    that url's run may continue there; it is yielded at the end. Holds
    one input frame plus that one carried row."""
    carry = None
    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        won = lww_last(pdf, key, ts)
        held = won[key].isin([pdf[key].iloc[-1]]).to_numpy()
        carry = won[held]
        if not held.all():
            yield won[~held]
    if carry is not None:
        yield carry


def lww_step(key: str, ts: str, payload_cols: list[str],
             pandas_transform: Callable | None = None) -> Callable:
    """The merge's per-task Arrow step (``write_data_files(step=...)``):
    Arrow batches sorted by ``key`` in, final winner tables out.
    ``lww_stream`` over the batches as pandas frames, then tombstones
    (``op == "D"``) get ``_deleted`` set and ``payload_cols`` nulled, then
    ``pandas_transform`` runs on the winners."""

    def step(batches):
        frames = (b.to_pandas(types_mapper=_NULLABLE) for b in batches)
        for pdf in lww_stream(frames, key, ts):
            deleted = pdf[OP_COL].to_numpy() == "D"
            pdf = pdf.assign(**{DELETED_COL: deleted})
            if deleted.any():
                pdf.loc[deleted, payload_cols] = None
            if pandas_transform is not None:
                pdf = pandas_transform(pdf)
            yield pa.Table.from_pandas(pdf, preserve_index=False)

    return step


def merge_batch(
    table: GinTable,
    batch_df: DataFrame,
    batch_id: int,
    pandas_transform: Callable | None = None,
    transform_fields: list[T.StructField] | None = None,
    max_retries: int = 3,
    schema_mapping=None,
) -> MergeResult:
    """Apply one RAW change batch (columns: op 'I'|'U'|'D'; seq; the
    table's key and ts columns; payload...) to the table. Idempotent per
    ``batch_id``. Each touched bucket is merged as a stream of Arrow
    batches (module doc, step 3), so no task holds more than one batch
    plus one row, however large the bucket or hot the url.

    ``pandas_transform(pdf) -> pdf`` is the vectorized derive stage (e.g.
    HTML→text extraction); it runs bucket-locally on each frame of final
    winner rows — never on superseded revisions.
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
    last_err: Exception | None = None
    for _attempt in range(max_retries):
        try:
            return _merge_once(
                table, batch_df, batch_id, pandas_transform, transform_fields
            )
        except CommitConflict as e:  # concurrent writer won — recompute on top
            last_err = e
    raise last_err  # type: ignore[misc]


def _merge_once(
    table: GinTable,
    batch_df: DataFrame,
    batch_id: int,
    pandas_transform: Callable | None,
    transform_fields: list[T.StructField] | None,
) -> MergeResult:
    snap = table.current_snapshot()
    if table.is_batch_applied(batch_id, snap):
        return MergeResult(skipped=True, version=snap["version"])
    key, ts = table.key_col(snap), table.ts_col(snap)

    t_start = time.time()

    # --- schema evolution decision FIRST, before any Spark action: a batch
    # with an incompatible column type must fail-fast with
    # SchemaEvolutionError and leave no side effects — not die mid-stats
    # with a raw cast exception (found by an end-to-end poison probe).
    # Driver-side schema arithmetic only, costs nothing.
    _seen: set[str] = set()
    _fields: list[T.StructField] = []
    for f in list(batch_df.schema.fields) + list(transform_fields or []):
        if f.name not in (OP_COL, BATCH_SEQ_COL) and f.name not in _seen:
            _fields.append(f)
            _seen.add(f.name)
    batch_user = T.StructType(_fields)
    evolved_user = evolve_schema(table.schema(snap), batch_user)
    stored_schema = GinTable._with_internal(evolved_user)

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
    updates = align_to_schema(
        batch_df.withColumnRenamed(BATCH_SEQ_COL, SEQ_COL), aligned_schema
    )

    # --- read ONLY touched buckets of the current snapshot ------------------
    # (include_internal keeps tombstones: they must participate in LWW so a
    # late out-of-order event cannot resurrect a deleted url)
    # include_heavy=False: LWW needs no old payloads — the heavy family is
    # neither read nor rewritten here; a target winner keeps its referenced
    # heavy row, a batch winner appends a new one (write amplification ∝
    # changed rows, not bucket size). A touched folded base file already
    # holds _seq and the payloads: the commit moves it into the heavy family.
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

    # --- action 2: THE shuffle, LWW, transform and the copy-on-write
    # write, in one write_data_files action. Everything is co-located by
    # url-hash bucket (one payload shuffle total, the one the bucketed
    # write needs anyway; sized by bytes, so a bucket never spans tasks)
    # and sorted by (bucket, url), so lww_step streams each task's Arrow
    # batches and the writer closes each bucket's files as the stream
    # moves past it. On a split table the bucket gets a base file (all
    # winners, light cols) and a heavy file (batch winners' payloads only:
    # target winners read back with null heavy, so the payload filter
    # selects exactly the new payloads)
    combined = target.select(*updates.columns).unionByName(updates)
    payload_cols = [
        f.name
        for f in stored_schema.fields
        if f.name not in (key, ts) and not f.name.startswith("_")
    ]
    t_w = time.time()
    new_files = table.write_data_files(
        combined, snap, sort_by=[key], schema=stored_schema,
        step=lww_step(key, ts, payload_cols, pandas_transform),
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
        # aggregation and the data-file write (which runs LWW, transform
        # and the in-task Parquet write)
        "stats_s": stats_s,
        "write_s": write_s,
        "lag_seconds": (
            round(time.time() - max_ts.timestamp(), 3) if max_ts is not None else None
        ),
        # event-time high-water mark (ISO) — the tail's maintenance hook
        # derives its tombstone-expiry watermark from this
        "max_event_ts": max_ts.isoformat() if max_ts is not None else None,
    }
    # manifest-only: the same file, now found by _seq under the heavy schema
    # (fold left no other heavy row for its _seqs, so heavy_seq_unique holds)
    moved = [
        replace(DataFile.from_json(f), family="heavy", folded=False)
        for f in snap["files"] if f["bucket"] in touched and f.get("folded", False)
    ]
    new_snap = table.commit(
        new_files + moved,
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
    return rewrite_buckets(
        table, snap, touched,
        {"op": "expire_tombstones", "buckets_rewritten": len(touched)},
        keep=~expirable,
    )
