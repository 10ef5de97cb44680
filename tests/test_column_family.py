"""Column-family split (html → heavy family): write-amplification drop,
read-back equivalence, duplicate-delivery heavy dedupe, compaction purge."""

from __future__ import annotations

import glob
import os

import pytest

from opengin_ingestion_spark.operators.compact import compact
from opengin_ingestion_spark.operators.merge import merge_batch
from opengin_ingestion_spark.plans.replay import (
    PAGES_SCHEMA,
    TRANSFORM_FIELDS,
    pages_pandas_transform,
    replay_changelog,
)
from opengin_ingestion_spark.sources.changelog import ChangeLogSpec, generate_changelog
from opengin_ingestion_spark.sources.gintable import GinTable
from tests.oracle import assert_states_equal, oracle_final_state


def _files(snap, family):
    return [f for f in snap["files"] if f.get("family", "base") == family]


def test_split_replay_matches_oracle_and_families_exist(spark, tiny_log, tmp_path):
    """Pages replay (split on by default) still matches the pandas oracle
    byte-for-byte; the manifest carries both families."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16,
        group_files=2,
    )
    snap = table.current_snapshot()
    assert _files(snap, "base") and _files(snap, "heavy")
    assert table.heavy_columns() == ["html", "text"]
    assert_states_equal(
        table.read(include_internal=True).toPandas(),
        oracle_final_state(tiny_log["dir"]),
    )
    # include_heavy=False read: html null, everything else intact
    light = table.read(include_heavy=False).toPandas()
    assert light["html"].isna().all() and light["text"].isna().all()
    assert light["lang"].notna().any()  # light columns intact


def test_split_reduces_incremental_write_bytes(spark, tmp_path):
    """An incremental batch updating a small fraction of urls writes far
    fewer bytes on a split table than on an unsplit one — the heavy family
    is appended (changed rows), not rewritten (whole buckets)."""
    d = str(tmp_path / "log")
    # batch 0 populates; batches 1.. update a small fraction of hot urls
    generate_changelog(
        d, ChangeLogSpec(n_events=4_000, n_urls=800, n_batches=8, seed=11)
    )
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))

    def run(path, heavy):
        table = GinTable.create(
            spark, path, PAGES_SCHEMA, n_buckets=8,
            heavy_columns=("html", "text") if heavy else None,
        )
        written = []
        for i, f in enumerate(files):
            res = merge_batch(
                table, spark.read.parquet(f), batch_id=i,
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS,
            )
            written.append(res.metrics["bytes_written"])
        return table, written

    t_split, w_split = run(str(tmp_path / "split"), True)
    t_plain, w_plain = run(str(tmp_path / "plain"), False)
    # identical logical state either way
    a = t_split.read(include_internal=True).toPandas()
    b = t_plain.read(include_internal=True).toPandas()
    assert_states_equal(a, oracle_final_state(d))
    assert_states_equal(b, oracle_final_state(d))
    # incremental batches (all but the first) write materially fewer bytes
    inc_split, inc_plain = sum(w_split[1:]), sum(w_plain[1:])
    assert inc_split < 0.7 * inc_plain, (
        f"split {inc_split} vs plain {inc_plain}: expected ≥30% reduction"
    )


def test_split_duplicate_delivery_no_row_duplication(spark, tmp_path):
    """The same events delivered under TWO batch ids: the LWW tie-break
    prefers the already-applied target copy, so the heavy family receives
    NO duplicate _seq (the heavy_seq_unique manifest invariant), row counts
    stay correct, and payloads remain intact."""
    d = str(tmp_path / "log")
    generate_changelog(d, ChangeLogSpec(n_events=500, n_urls=80, n_batches=1, seed=3))
    f = sorted(glob.glob(os.path.join(d, "*.parquet")))[0]
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=4,
        heavy_columns=("html", "text"),
    )
    df = spark.read.parquet(f)
    merge_batch(table, df, batch_id=0,
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS)
    n1 = table.read().count()
    heavy_rows_before = sum(
        fl["rows"] for fl in table.current_snapshot()["files"]
        if fl.get("family") == "heavy"
    )
    merge_batch(table, df, batch_id=1,  # duplicate content, NEW batch id
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS)
    snap = table.current_snapshot()
    assert snap["heavy_seq_unique"] is True
    heavy_rows_after = sum(
        fl["rows"] for fl in snap["files"] if fl.get("family") == "heavy"
    )
    assert heavy_rows_after == heavy_rows_before, (
        "redelivered payloads must not be re-appended to the heavy family"
    )
    assert table.read().count() == n1, "dup delivery must not duplicate rows"
    pdf = table.read().toPandas()
    assert pdf["html"].notna().all()
    assert pdf["lang"].notna().all(), "derived light columns must survive"
    assert_states_equal(
        table.read(include_internal=True).toPandas(), oracle_final_state(d)
    )


def test_heavy_read_skips_dedup_under_invariant(spark, tiny_log, tmp_path):
    """With the heavy_seq_unique invariant (every table this engine writes)
    the full read joins heavy directly — no aggregate/dedup over the heavy
    family in the plan. A legacy manifest without the flag falls back to
    the defensive dropDuplicates and still reads correctly."""
    import json

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=2,
    )
    assert table.current_snapshot()["heavy_seq_unique"] is True
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    assert "Aggregate" not in plan, (
        "invariant tables must not pay the heavy-family dedup aggregate"
    )
    expected = table.read().toPandas()

    # simulate a legacy manifest: strip the flag from the current snapshot
    v = table.current_version()
    mpath = table._manifest_path(v)
    with open(mpath) as fh:
        snap = json.load(fh)
    del snap["heavy_seq_unique"]
    with open(mpath, "w") as fh:
        json.dump(snap, fh)
    legacy = GinTable.load(spark, table.path)
    lplan = legacy.read()._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in lplan, "legacy manifests must keep the dedup"
    got = legacy.read().toPandas().sort_values("url").reset_index(drop=True)
    exp = expected.sort_values("url").reset_index(drop=True)
    assert got.equals(exp)


def test_merge_target_read_never_scans_heavy(spark, tiny_log, tmp_path):
    """Plan regression: include_heavy=False reads no heavy files and builds
    no join — the merge path must never move old payloads; the default read
    recovers them via the _seq join."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8
    )
    light_plan = table.read(
        include_internal=True, include_heavy=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in light_plan
    assert "commit-00000001-heavy" not in light_plan
    full_plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" in full_plan


def test_compaction_purges_stale_heavy_rows(spark, tmp_path):
    """Superseded payload versions accumulate in the heavy family across
    merges; a full-rewrite compaction drops them (heavy rows == live rows
    with payload afterwards)."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "log")
    # few urls, many updates → most heavy rows become stale
    generate_changelog(
        d, ChangeLogSpec(n_events=2_000, n_urls=100, n_batches=8, seed=9,
                         p_update=0.8, p_delete=0.05)
    )
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=4,
        heavy_columns=("html", "text"),
    )
    for i, f in enumerate(files):
        merge_batch(table, spark.read.parquet(f), batch_id=i,
                    pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS)

    def heavy_rows(snap):
        return sum(f["rows"] for f in snap["files"]
                   if f.get("family") == "heavy")

    before = heavy_rows(table.current_snapshot())
    state_before = table.read(include_internal=True).toPandas()
    compact(table, max_files_per_bucket=1)  # force full rewrite
    snap = table.current_snapshot()
    after = heavy_rows(snap)
    live_with_payload = int((state_before["html"].notna() | state_before["text"].notna()).sum())
    assert before > after, "compaction must drop stale heavy rows"
    assert after == live_with_payload
    assert_states_equal(
        table.read(include_internal=True).toPandas(), oracle_final_state(d)
    )


def test_fold_heavy_join_free_reads_and_equivalence(spark, tiny_log, tmp_path):
    """compact(fold_heavy=True): heavy columns folded into one base file
    per bucket, heavy files dropped, reads JOIN-FREE, state identical to
    the split layout; a second fold is a no-op."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=2,
    )
    before = table.read(include_internal=True).toPandas()
    snap = compact(table, fold_heavy=True)
    assert snap["metrics"]["op"] == "fold_heavy"
    assert not _files(snap, "heavy"), "fold must drop every heavy file"
    base = _files(snap, "base")
    assert base and all(f["folded"] for f in base)
    assert len(base) == len({f["bucket"] for f in base}), "one file per bucket"
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "fully folded reads must be join-free"
    after = table.read(include_internal=True).toPandas()
    assert_states_equal(after, oracle_final_state(tiny_log["dir"]))
    import pandas as pd

    from tests.oracle import normalize_engine_state

    pd.testing.assert_frame_equal(
        normalize_engine_state(after), normalize_engine_state(before)
    )
    # include_heavy=False on a folded table: payloads pruned at the scan
    light = table.read(include_heavy=False).toPandas()
    assert light["html"].isna().all() and light["lang"].notna().any()
    # idempotent: nothing left to fold
    v = table.current_version()
    snap2 = compact(table, fold_heavy=True)
    assert snap2["version"] == v


def test_merge_after_fold_preserves_payloads(spark, tmp_path):
    """A MERGE touching folded buckets must carry their payloads through
    (the folded file is their only copy): final state still equals the
    oracle, untouched rows keep html, and the invariant survives the
    re-split."""
    d = str(tmp_path / "log")
    generate_changelog(
        d, ChangeLogSpec(n_events=2_000, n_urls=300, n_batches=4, seed=21)
    )
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=4,
        heavy_columns=("html", "text"),
    )
    for i, f in enumerate(files[:2]):
        merge_batch(table, spark.read.parquet(f), batch_id=i,
                    pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS)
    compact(table, fold_heavy=True)
    assert not _files(table.current_snapshot(), "heavy")
    for i, f in enumerate(files[2:], start=2):
        merge_batch(table, spark.read.parquet(f), batch_id=i,
                    pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS)
    snap = table.current_snapshot()
    assert snap["heavy_seq_unique"] is True
    # touched buckets re-split (heavy files exist again)
    assert _files(snap, "heavy"), "merged buckets must revert to split"
    assert_states_equal(
        table.read(include_internal=True).toPandas(), oracle_final_state(d)
    )
    assert table.read().toPandas()["html"].notna().all()


def test_mixed_folded_split_read(spark, tmp_path):
    """A table with SOME buckets folded and some split (fold, then a merge
    that re-splits a subset) reads each row exactly once, correctly."""
    d = str(tmp_path / "log")
    generate_changelog(
        d, ChangeLogSpec(n_events=1_500, n_urls=200, n_batches=3, seed=31)
    )
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8,
        heavy_columns=("html", "text"),
    )
    for i, f in enumerate(files[:2]):
        merge_batch(table, spark.read.parquet(f), batch_id=i,
                    pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS)
    compact(table, fold_heavy=True)
    # last batch filtered to a few urls → touches a SUBSET of buckets
    from pyspark.sql import functions as F

    part = spark.read.parquet(files[2]).filter(
        F.abs(F.xxhash64(F.col("url"))) % 5 == 0
    )
    merge_batch(table, part, batch_id=2,
                pandas_transform=pages_pandas_transform,
                transform_fields=TRANSFORM_FIELDS)
    snap = table.current_snapshot()
    folded_b = {f["bucket"] for f in _files(snap, "base") if f["folded"]}
    split_b = {f["bucket"] for f in _files(snap, "base") if not f["folded"]}
    assert folded_b and split_b, "test needs a genuinely mixed manifest"
    assert folded_b.isdisjoint(split_b)
    # oracle over the actually merged events (full first two + filtered last)
    import pandas as pd

    part_pdf = part.toPandas()
    full = pd.concat(
        [pd.read_parquet(files[0]), pd.read_parquet(files[1]), part_pdf],
        ignore_index=True,
    )
    from tests.oracle import oracle_final_state_from_events

    assert_states_equal(
        table.read(include_internal=True).toPandas(),
        oracle_final_state_from_events(full),
    )


def test_fold_preserves_time_travel(spark, tiny_log, tmp_path):
    """Snapshot isolation across the layout change: a pre-fold snapshot
    still reads through its own split-layout files (and its heavy files
    remain referenced by that manifest), returning identical content to
    the folded head."""
    import pandas as pd

    from tests.oracle import normalize_engine_state

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=2,
    )
    v_before = table.current_version()
    old_snap = table.snapshot(v_before)
    before = normalize_engine_state(
        table.read(old_snap, include_internal=True).toPandas()
    )
    compact(table, fold_heavy=True)
    # the old snapshot still lists heavy files and reads via the join
    assert any(
        f.get("family") == "heavy" for f in table.snapshot(v_before)["files"]
    )
    time_travel = normalize_engine_state(
        table.read(table.snapshot(v_before), include_internal=True).toPandas()
    )
    head = normalize_engine_state(
        table.read(include_internal=True).toPandas()
    )
    pd.testing.assert_frame_equal(time_travel, before)
    pd.testing.assert_frame_equal(head, before)


def test_external_heavy_append_drops_invariant(spark, tiny_log, tmp_path):
    """A commit that appends heavy-family files WITHOUT claiming the
    invariant (an external writer) drops heavy_seq_unique to False, and
    the read path falls back to the defensive dedup — a duplicated _seq
    cannot fan the payload join out."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.sources.gintable import BUCKET_COL

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8
    )
    snap = table.current_snapshot()
    assert snap["heavy_seq_unique"] is True
    n_before = table.read().count()
    pdf_before = table.read().toPandas().sort_values("url").reset_index(drop=True)

    # external writer: re-append one existing payload row verbatim
    one = (
        table.read(include_internal=True)
        .filter(F.col("html").isNotNull())
        .limit(1)
        .withColumn(BUCKET_COL, table.bucket_expr("url"))
        .select(BUCKET_COL, "_seq", "html", "text")
    )
    files = table.write_data_files(
        one, snap["version"] + 1, snap["schema_version"], family="heavy"
    )
    new_snap = table.commit(files, replaced_buckets=set(), batch_ids=[])
    assert new_snap["heavy_seq_unique"] is False, (
        "unclaimed heavy append must drop the invariant flag"
    )
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in plan, "defensive dedup must return"
    assert table.read().count() == n_before, "payload join must not fan out"
    pdf_after = table.read().toPandas().sort_values("url").reset_index(drop=True)
    assert pdf_after.equals(pdf_before)
