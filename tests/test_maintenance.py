"""Compaction + CLI maintenance tests."""

from __future__ import annotations

import json

import pytest

from opengin_ingestion_spark.cli import main as cli_main
from opengin_ingestion_spark.operators.compact import compact, fragmented_buckets
from opengin_ingestion_spark.plans.replay import replay_changelog
from opengin_ingestion_spark.sources.gintable import GinTable
from tests.oracle import assert_states_equal, oracle_final_state


@pytest.fixture(scope="module")
def fragmented_table(spark, tiny_log, tmp_path_factory):
    """Replay, then fragment by APPEND commits (the merge path itself keeps
    a one-file-per-bucket copy-on-write invariant — fragmentation arises
    only from append-style commits, so construct those directly)."""
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("frag") / "pages")
    table, _ = replay_changelog(spark, tiny_log["dir"], path, n_buckets=8)
    base = table.read(include_internal=True)
    # 6 appends of disjoint tiny slices → multi-file buckets. Fresh _seq
    # values: an append must never duplicate an existing row's _seq — base
    # rows are unique per _seq by table invariant (heavy_seq_unique), and a
    # compaction of duplicated base rows would fan the heavy join out.
    for i in range(6):
        part = (
            base.filter(F.pmod(F.xxhash64("_seq"), F.lit(6)) == i)
            .limit(20)
            .withColumn("_seq", F.col("_seq") + F.lit(10_000_000 * (i + 1)))
        )
        files = table.write_data_files(part, table.current_snapshot())
        table.commit(files, replaced_buckets=set(), batch_ids=[])
    return table


def test_merge_keeps_buckets_compact(spark, tiny_log, tmp_path):
    """The COW merge never fragments the BASE family: after 8 incremental
    merges every bucket holds exactly one live base file; the heavy family
    legitimately accumulates one appended payload file per touched batch
    (bounded by batch count, reclaimed by compact)."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "p"), n_buckets=8, group_files=1
    )
    snap = table.current_snapshot()
    base_counts: dict[int, int] = {}
    heavy_counts: dict[int, int] = {}
    for f in snap["files"]:
        d = base_counts if f.get("family", "base") == "base" else heavy_counts
        d[f["bucket"]] = d.get(f["bucket"], 0) + 1
    assert max(base_counts.values()) == 1
    assert max(heavy_counts.values()) <= 8  # ≤ one per merge
    # compaction restores one file per (bucket, family)
    compact(table, max_files_per_bucket=1)
    assert not fragmented_buckets(table, max_files_per_bucket=1)


def _sorted_rows(df):
    # None-safe sort key: appended fixture rows carry null heavy columns
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_compact_restores_one_file_per_bucket(spark, fragmented_table):
    table = fragmented_table
    assert fragmented_buckets(table, max_files_per_bucket=4)
    rows_before = _sorted_rows(table.read(include_internal=True))
    files_before = len(table.current_snapshot()["files"])
    snap = compact(table, max_files_per_bucket=1)
    assert snap["metrics"]["op"] == "compact"
    assert len(table.current_snapshot()["files"]) < files_before
    assert not fragmented_buckets(table, max_files_per_bucket=1)
    # table contents byte-for-byte unchanged
    rows_after = _sorted_rows(table.read(include_internal=True))
    assert rows_after == rows_before
    # idempotent: nothing left to compact
    v = table.current_version()
    compact(table, max_files_per_bucket=1)
    assert table.current_version() == v


def test_cli_fold(spark, tiny_log, tmp_path, capsys):
    """`cli fold <table>` switches to the folded layout end-to-end: the
    commit is a fold_heavy op, heavy files are gone, contents unchanged."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8
    )
    rows_before = _sorted_rows(table.read(include_internal=True))
    cli_main(["fold", table.path])
    out = json.loads(capsys.readouterr().out)
    assert out["metrics"]["op"] == "fold_heavy"
    t2 = GinTable.load(spark, table.path)
    snap = t2.current_snapshot()
    assert not any(f.get("family") == "heavy" for f in snap["files"])
    assert all(f["folded"] for f in snap["files"])
    assert _sorted_rows(t2.read(include_internal=True)) == rows_before


def test_cli_ivf_update_arg_parsing(monkeypatch, capsys):
    """`cli ivf-update` routes its flags to cmd_ivf_update (the
    operator itself is covered in test_similarity.py)."""
    import opengin_ingestion_spark.cli as cli_mod

    seen = {}

    def fake(path, index_path, from_version, id_col, vec_col):
        seen.update(
            path=path, index_path=index_path, from_version=from_version,
            id_col=id_col, vec_col=vec_col,
        )
        print(json.dumps({"touched_cells": 0, "upserts": 0, "deletes": 0}))

    monkeypatch.setattr(cli_mod, "cmd_ivf_update", fake)
    cli_mod.main([
        "ivf-update", "/t", "--index", "/idx", "--from-version", "3",
        "--id-col", "k", "--vec-col", "v",
    ])
    json.loads(capsys.readouterr().out)
    assert seen == {
        "path": "/t", "index_path": "/idx", "from_version": 3,
        "id_col": "k", "vec_col": "v",
    }


def test_cli_info_history_gc(fragmented_table, capsys):
    path = fragmented_table.path
    cli_main(["info", path])
    info = json.loads(capsys.readouterr().out)
    assert info["live_rows"] > 0 and info["version"] >= 1
    # heavy-family files repeat rows that carry a payload: not counted
    assert info["live_rows"] == fragmented_table.read(include_internal=True).count()
    assert "url" in info["columns"]

    cli_main(["history", path])
    out = capsys.readouterr().out
    assert out.count("\n") == fragmented_table.current_version() + 1

    cli_main(["gc", path])
    gc = json.loads(capsys.readouterr().out)
    assert gc["deleted"] is False

    cli_main(["metrics", path])
    metrics = json.loads(capsys.readouterr().out)
    assert any(m.get("events_in") for m in metrics)


def test_idle_bucket_fold_cadence(spark, tiny_log, tmp_path):
    """The fold-cadence policy from docs/PLANS.md, end-to-end: after an
    incremental replay plus one final merge touching a FEW urls, the
    buckets that merge touched are NOT idle; folding idle_buckets() only
    yields a mixed table (some folded, some split) whose reads still
    match the oracle row-for-row."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.compact import (
        fold_heavy_compact,
        idle_buckets,
    )
    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.plans.replay import (
        TRANSFORM_FIELDS,
        pages_pandas_transform,
        replay_changelog,
    )
    from opengin_ingestion_spark.sources.reader import read_changelog
    from tests.oracle import assert_states_equal, oracle_final_state

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16,
        group_files=4,
    )
    # final merge touching ONE live url → its bucket is the only hot one
    df = read_changelog(spark, tiny_log["dir"])
    one_url = table.read().select("url").first()[0]
    hot = df.filter(F.col("url") == one_url).limit(1)
    merge_batch(
        table, hot, batch_id=999,
        pandas_transform=pages_pandas_transform,
        transform_fields=TRANSFORM_FIELDS,
    )
    snap = table.current_snapshot()
    idle = idle_buckets(table, idle_versions=1, snap=snap)
    hot_bucket = table.read(snap).filter(F.col("url") == one_url).select(
        table.bucket_expr(snap=snap).alias("b")
    ).first()["b"]
    assert hot_bucket not in idle
    assert idle, "most buckets should be idle"

    fold_heavy_compact(table, buckets=idle)
    snap2 = table.current_snapshot()
    folded = {f["bucket"] for f in snap2["files"] if f.get("folded")}
    split = {f["bucket"] for f in snap2["files"] if not f.get("folded")}
    assert folded == idle
    assert hot_bucket in split
    # mixed-table read still equals the single-threaded oracle (the hot
    # re-merge re-delivered an already-applied event, so state unchanged)
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_compact_sort_by_clusters_rows_for_rowgroup_skipping(
    spark, tiny_log, tmp_path
):
    """compact(sort_by=[ts]) writes each bucket's rows clustered by the
    column, so parquet row-group min/max stats become range-prunable.
    Verified on the physical files (pyarrow metadata: values sorted,
    stats present) and on state (compaction never changes content)."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.compact import compact
    from opengin_ingestion_spark.plans.replay import replay_changelog
    from tests.oracle import assert_states_equal, oracle_final_state

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8,
        group_files=1,  # 8 merges → fragmented heavy family
    )
    before = table.read(include_internal=True).toPandas()
    compact(table, max_files_per_bucket=1, sort_by=["warc_ts"])
    snap = table.current_snapshot()
    assert snap["metrics"]["op"] == "compact"

    # every rewritten base file is internally sorted by warc_ts and
    # carries row-group statistics for it
    base_files = [
        f["path"] for f in snap["files"] if f.get("family", "base") == "base"
    ]
    assert base_files
    checked = 0
    for rel in base_files:
        md = pq.ParquetFile(os.path.join(table.path, rel))
        idx = md.schema_arrow.get_field_index("warc_ts")
        col = md.read(columns=["warc_ts"]).column("warc_ts").to_pylist()
        assert col == sorted(col), f"{rel} not clustered by warc_ts"
        stats = md.metadata.row_group(0).column(idx).statistics
        assert stats is not None and stats.has_min_max
        checked += 1
    assert checked == len(base_files)

    # content unchanged by the clustering rewrite
    assert_states_equal(
        table.read(include_internal=True).toPandas(),
        oracle_final_state(tiny_log["dir"]),
    )
    assert len(before) == table.read(include_internal=True).count()
