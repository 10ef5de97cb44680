"""Table maintenance: small-file compaction for GinTable buckets.

A long-running incremental-ingest table accumulates one file per bucket
per touched batch. Compaction rewrites fragmented buckets back to one file
each, in a normal copy-on-write commit (snapshot isolation: readers of the
old snapshot are unaffected; the commit is atomic and conflict-checked).

Scale posture: compaction is scheduled per-bucket by a fragmentation
threshold, so the work is proportional to fragmentation, not table size —
the same strategy as Iceberg's bin-packing rewriteDataFiles (public
knowledge). Reference analog: the reference's exporter rewrites whole
outputs each run (exporter.py:28-103); here rewrite is surgical.
"""

from __future__ import annotations

from pyspark.sql import Column

from opengin_ingestion_spark.sources.gintable import GinTable


def fragmented_buckets(table: GinTable, max_files_per_bucket: int = 4) -> set[int]:
    """Buckets where ANY column family's live-file count exceeds the
    threshold. On a split table the MERGE keeps base at one file per bucket
    but appends a heavy file per touched batch — heavy accumulation is the
    normal compaction trigger."""
    snap = table.current_snapshot()
    counts: dict[tuple[int, str], int] = {}
    for f in snap["files"]:
        k = (f["bucket"], f.get("family", "base"))
        counts[k] = counts.get(k, 0) + 1
    return {b for (b, _fam), n in counts.items() if n > max_files_per_bucket}


def rewrite_buckets(
    table: GinTable, snap: dict, buckets: set[int], metrics: dict,
    keep: Column | None = None, n_buckets: int | None = None,
    sort_by: list[str] | None = None, folded: bool = False,
) -> dict:
    """The copy-on-write rewrite behind compact, fold, rebucket and
    tombstone expiry: read the rows of ``buckets`` (those matching
    ``keep``), write them with the table's one writer under ``n_buckets``
    (default: the table's), each bucket sorted by ``sort_by``, and commit
    them in place of both families' files — dropping superseded heavy
    rows. Deduplicated read state preserves heavy_seq_unique (but cannot
    establish it: a legacy external writer may have duplicated a _seq)."""
    rows = table.read(snap, buckets=buckets, include_internal=True)
    if keep is not None:
        rows = rows.filter(keep)
    new_files = table.write_data_files(
        rows, snap, folded, n_buckets=n_buckets, sort_by=sort_by
    )
    return table.commit(
        new_files, replaced_buckets=buckets, batch_ids=[],
        metrics={**metrics, "files_written": len(new_files)},
        expected_parent=snap["version"], new_n_buckets=n_buckets,
        heavy_seq_unique=snap.get("heavy_seq_unique", False),
    )


def rebucket(table: GinTable, new_n_buckets: int) -> dict:
    """Change the table's bucket count: rewrite EVERY row under the new
    ``pmod(xxhash64(key), new_n_buckets)`` scheme in one copy-on-write
    commit. Use when a table sized by the first batch outgrows its buckets
    (a merge rewrites whole buckets — see choose_n_buckets).
    Snapshot-isolated: old snapshots keep their own n_buckets, so
    time-travel reads still prune correctly."""
    snap = table.current_snapshot()
    if new_n_buckets == snap["n_buckets"]:
        return snap
    return rewrite_buckets(
        table, snap, {f["bucket"] for f in snap["files"]},
        {"op": "rebucket", "n_buckets_old": snap["n_buckets"],
         "n_buckets_new": new_n_buckets},
        n_buckets=new_n_buckets,
    )


def foldable_buckets(table: GinTable, snap: dict | None = None) -> set[int]:
    """Buckets not yet in the folded layout: any heavy file, more than one
    base file, or a single non-folded base file. A bucket already holding
    exactly one folded file contributes nothing — fold is idempotent."""
    snap = snap or table.current_snapshot()
    per_bucket: dict[int, list[dict]] = {}
    for f in snap["files"]:
        per_bucket.setdefault(f["bucket"], []).append(f)
    out = set()
    for b, fs in per_bucket.items():
        if any(f.get("family", "base") == "heavy" for f in fs):
            out.add(b)
        elif len(fs) > 1 or not fs[0].get("folded", False):
            out.add(b)
    return out


def idle_buckets(
    table: GinTable, idle_versions: int = 5, snap: dict | None = None
) -> set[int]:
    """Buckets whose live files were ALL written at least ``idle_versions``
    commits ago — the fold-cadence selector (docs/PLANS.md): fold cold
    buckets while hot ones keep the split layout's cheap merges. Pure
    manifest arithmetic (each live file's path embeds its commit version),
    no data scan, no history walk."""
    import re

    snap = snap or table.current_snapshot()
    cur = snap["version"]
    last_touch: dict[int, int] = {}
    for f in snap["files"]:
        m = re.search(r"commit-(\d{8})-", f["path"])
        v = int(m.group(1)) if m else 0
        last_touch[f["bucket"]] = max(last_touch.get(f["bucket"], 0), v)
    return {b for b, v in last_touch.items() if cur - v >= idle_versions}


def fold_heavy_compact(table: GinTable, buckets: set[int] | None = None) -> dict:
    """Fold heavy columns back into single per-bucket base files — the
    read-optimized layout for tables whose merge churn has quieted: a
    fully folded table's reads are JOIN-FREE (plan-asserted in
    tests/test_plans.py), while hot tables keep the split layout's
    write-amplification win. The inverse trade of the column-family split:
    one full rewrite of the remaining split buckets now, zero ``_seq``
    co-shuffles on every read after.

    ``buckets`` restricts the fold to a subset — compose with
    ``idle_buckets`` for the cadence policy (fold buckets untouched for N
    commits, e.g. from the tail's inline maintenance hook):
    ``fold_heavy_compact(t, buckets=idle_buckets(t, 5))``. Mixed tables
    read correctly: gintable.read scans the folded files bare and joins
    only the split files with the heavy family by ``_seq``.

    Work ∝ unfolded buckets (idempotent: a second call is a no-op commit
    skip). A later MERGE touching a folded bucket reads its light columns
    only and moves the folded file, unchanged, into the heavy family —
    no payload is read or rewritten, so a merge after a fold costs what a
    split-layout merge costs. Until the bucket is compacted, its reads
    also scan the moved file's superseded payloads for the ``_seq`` join.
    Fold is a maintenance op, not a freeze.

    Reference analog: the exporter materializes final denormalized output
    once aggregation is done
    (/root/reference/python/src/opengin/tracer/agents/exporter.py:71-84).
    """
    snap = table.current_snapshot()
    if not table.heavy_columns(snap):
        # no column-family split: reads are already join-free — nothing
        # to fold (plain fragmentation is compact()'s job)
        return snap
    foldable = foldable_buckets(table, snap)
    buckets = foldable if buckets is None else (foldable & set(buckets))
    if not buckets:
        return snap
    # full rows (heavy inline) as ONE folded base file per bucket; buckets
    # left split (subset fold) keep their heavy files untouched
    return rewrite_buckets(
        table, snap, buckets, {"op": "fold_heavy", "buckets_folded": len(buckets)},
        folded=True,
    )


def compact(
    table: GinTable,
    max_files_per_bucket: int = 4,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite fragmented buckets to one file each. Returns the new
    snapshot (or the current one if nothing to do). The read-optimized
    fold is ``fold_heavy_compact``.

    ``sort_by`` clusters each rewritten bucket's rows by the given
    columns (the rewrite's bucket sort extends to them — no extra
    shuffle) so parquet row-group min/max statistics
    become range-prunable: a time-range scan over a table compacted with
    ``sort_by=[ts_col]`` skips whole row groups instead of decoding them.
    The ingest path deliberately does NOT sort (merge writes stay cheap);
    clustering is a compaction-time decision, like Iceberg's sort-order
    rewrite (public knowledge)."""
    snap = table.current_snapshot()
    buckets = fragmented_buckets(table, max_files_per_bucket)
    if not buckets:
        return snap
    return rewrite_buckets(
        table, snap, buckets, {"op": "compact", "buckets_compacted": len(buckets)},
        sort_by=sort_by,
    )
