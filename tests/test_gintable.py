"""GinTable unit tests: commit atomicity, conflict detection, applied-batch
ranges, bucket-pruned reads, schema history, orphan GC."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.sources.gintable import (
    BUCKET_COL,
    CommitConflict,
    GinTable,
    ranges_add,
    ranges_contain,
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _rows_df(spark, table, n=20):
    df = spark.range(n).select(
        F.concat(F.lit("https://e.com/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("warc_ts"),
        F.col("id").alias("v"),
        F.col("id").alias("_seq"),
    )
    return df.withColumn(BUCKET_COL, table.bucket_expr("url"))


def test_ranges():
    r = []
    for bid in [3, 1, 2, 7, 5]:
        r = ranges_add(r, bid)
    assert r == [[1, 3], [5, 5], [7, 7]]
    assert ranges_contain(r, 2) and ranges_contain(r, 7)
    assert not ranges_contain(r, 4) and not ranges_contain(r, 0)
    assert ranges_add(r, 6) == [[1, 3], [5, 7]]
    assert ranges_add(r, 4) == [[1, 5], [7, 7]]
    assert ranges_add(ranges_add(r, 4), 6) == [[1, 7]]


def test_create_commit_read(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    assert t.current_version() == 0
    assert t.read().count() == 0

    df = _rows_df(spark, t)
    files = t.write_data_files(df, version=1, schema_version=1)
    assert files and all(0 <= f.bucket < 8 for f in files)
    snap = t.commit(files, replaced_buckets=set(), batch_ids=[0])
    assert snap["version"] == 1
    assert t.read().count() == 20
    # internal _seq hidden by default, present on request
    assert "_seq" not in t.read().columns
    assert "_seq" in t.read(include_internal=True).columns


def test_bucket_pruned_read(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    df = _rows_df(spark, t, n=40)
    files = t.write_data_files(df, 1, 1)
    t.commit(files, set(), [0])
    some_bucket = files[0].bucket
    pruned = t.read(buckets={some_bucket}, include_internal=True)
    full = t.read(include_internal=True)
    expected = sum(f.rows for f in files if f.bucket == some_bucket)
    assert pruned.count() == expected < full.count()


def test_commit_conflict(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.commit([], set(), [0])
    # a second writer loaded the table before that commit
    with pytest.raises(CommitConflict):
        t.commit([], set(), [1], expected_parent=0)
    # same-version race: simulate by writing the manifest directly
    snap = t.current_snapshot()
    clash = dict(snap, version=snap["version"])
    with pytest.raises(CommitConflict):
        t._write_manifest(clash)


def test_applied_batch_idempotence_bookkeeping(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.commit([], set(), [0])
    t.commit([], set(), [1])
    t.commit([], set(), [2])
    snap = t.current_snapshot()
    assert snap["applied_batch_ranges"] == [[0, 2]]  # compacted to one range
    assert t.is_batch_applied(1) and not t.is_batch_applied(3)


def test_copy_on_write_replaces_buckets(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _rows_df(spark, t, n=16)
    files = t.write_data_files(df, 1, 1)
    t.commit(files, set(), [0])
    b = files[0].bucket
    # rewrite bucket b with a single row
    one = df.filter(F.col(BUCKET_COL) == b).limit(1)
    nf = t.write_data_files(one, 2, 1)
    snap = t.commit(nf, replaced_buckets={b}, batch_ids=[1])
    live_buckets = {f["bucket"] for f in snap["files"]}
    assert b in live_buckets
    assert t.read(buckets={b}).count() == 1
    # untouched buckets carried forward unchanged
    before = {f.path for f in files if f.bucket != b}
    after = {f["path"] for f in snap["files"] if f["bucket"] != b}
    assert before == after


def test_gc_orphans(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    df = _rows_df(spark, t, n=8)
    files = t.write_data_files(df, 1, 1)
    t.commit(files, set(), [0])
    # a crashed commit: files written, never committed
    t.write_data_files(df, 2, 1)
    # grace window: a fresh unreferenced file may be an IN-FLIGHT commit
    # (data lands before the manifest) — invisible to gc until it ages out
    assert not t.gc_orphans(dry_run=True)
    orphans = t.gc_orphans(dry_run=True, min_age_seconds=0)
    assert orphans
    t.gc_orphans(dry_run=False, min_age_seconds=0)
    assert not t.gc_orphans(dry_run=True, min_age_seconds=0)
    assert t.read().count() == 8  # live data intact


def test_concurrent_merges_retry_and_both_commit(spark, tmp_path):
    """Two writers merging different batches race on the same parent
    version: one hits CommitConflict internally, retries on the new
    snapshot, and BOTH batches land exactly once."""
    import threading

    from opengin_ingestion_spark.operators.merge import merge_batch

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = GinTable.create(spark, str(tmp_path / "t"), schema, n_buckets=8)

    def batch(i0, tag):
        return spark.createDataFrame(
            [
                ("I", i, f"https://r.com/{tag}/{i}", None, i)
                for i in range(i0, i0 + 30)
            ],
            "op string, seq long, url string, warc_ts timestamp, v long",
        ).withColumn("warc_ts", F.timestamp_seconds(F.col("seq") + 1_700_000_000))

    errs = []

    def run(bid, df):
        try:
            merge_batch(t, df, batch_id=bid)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=run, args=(1, batch(0, "a")))
    t2 = threading.Thread(target=run, args=(2, batch(100, "b")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    snap = t.current_snapshot()
    assert t.is_batch_applied(1) and t.is_batch_applied(2)
    assert t.read().count() == 60  # both batches, nothing lost or doubled


def test_lookup_is_bucket_pruned_point_read(spark, tiny_log, tmp_path):
    """GinTable.lookup: same row as a full-table filter, but the scan
    touches ONLY the key's bucket files (the serving path — one bucket,
    not the table) and pushes the key equality to parquet."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.plans.replay import replay_changelog

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16
    )
    snap = table.current_snapshot()
    url = table.read().select("url").first()[0]

    got = table.lookup(url)
    expect = table.read().filter(F.col("url") == url)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert got.count() == 1

    # file pruning: the lookup plan lists only the key's bucket's files
    bucket = (
        spark.range(1).select(F.lit(url).alias("url"))
        .select(table.bucket_expr("url", snap).alias("b")).first()["b"]
    )
    bucket_files = {
        f["path"].removeprefix("data/")
        for f in snap["files"] if f["bucket"] == bucket
    }
    scanned = {p.split("/data/")[-1] for p in got.inputFiles()}
    assert scanned <= bucket_files
    assert len(scanned) < len(snap["files"]), "lookup must not scan the table"

    # predicate pushdown reaches the scan
    fmt = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in fmt and "url" in fmt.split("PushedFilters")[1][:200]

    # a key that hashes to a valid bucket but doesn't exist: empty, cheap
    assert table.lookup("https://nope.example.com/x").count() == 0


def test_read_ts_range_prunes_files_from_manifest(spark, tiny_log, tmp_path):
    """Manifest-level event-time pruning: append commits of disjoint time
    slices carry per-file ts_min/ts_max (footer stats recorded at write);
    a range read lists only overlapping files (inputFiles) and returns
    exactly the rows a plain filter would."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.plans.replay import replay_changelog
    from opengin_ingestion_spark.sources.gintable import BUCKET_COL

    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=4
    )
    base = table.read(include_internal=True)
    tmin, tmax = base.agg(
        F.min("warc_ts"), F.max("warc_ts")
    ).first()
    step = (tmax - tmin) / 4
    qs = [tmin + step, tmin + 2 * step, tmin + 3 * step]

    # 4 append commits of disjoint time-slices (fresh _seq per slice)
    bounds = [None, *qs, None]
    for i in range(4):
        cond = F.lit(True)
        if bounds[i] is not None:
            cond = cond & (F.col("warc_ts") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            cond = cond & (F.col("warc_ts") <= F.lit(bounds[i + 1]))
        part = (
            base.filter(cond)
            .withColumn(BUCKET_COL, table.bucket_expr(snap=None))
            .withColumn("_seq", F.col("_seq") + F.lit(10_000_000 * (i + 1)))
        )
        files = table.write_data_files(part, table.current_version() + 1, 1)
        assert all(f.ts_min is not None and f.ts_max is not None for f in files), (
            "append files must carry manifest ts stats"
        )
        table.commit(files, replaced_buckets=set(), batch_ids=[])

    snap = table.current_snapshot()
    lo = min(f["ts_min"] for f in snap["files"] if f.get("ts_min"))
    # range = strictly the FIRST quartile slice
    import datetime as dt

    lo_dt = dt.datetime.fromisoformat(lo)
    hi_dt = qs[0]

    ranged = table.read(ts_range=(lo_dt, hi_dt), include_internal=True)
    plain = table.read(include_internal=True).filter(
        (F.col("warc_ts") >= F.lit(lo_dt)) & (F.col("warc_ts") <= F.lit(hi_dt))
    )

    def rows(df):  # None-safe sort (appended rows carry null heavy cols)
        return sorted(
            map(tuple, df.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert rows(ranged) == rows(plain)
    assert ranged.count() > 0

    # the manifest pruned the later slices' files from the scan
    all_files = len(table.read(include_internal=True).inputFiles())
    ranged_files = len(ranged.inputFiles())
    assert ranged_files < all_files, (
        f"range read must scan fewer files ({ranged_files} vs {all_files})"
    )


def _spy_commits(monkeypatch):
    """Record fsync(fd) and replace(src, dst) calls by inode, so a test can
    tell which file was fsynced before which replace."""
    import os

    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.stat(src).st_ino, os.path.basename(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    return events


def _assert_fsynced_then_replaced(events, dst_name):
    at = [i for i, e in enumerate(events) if e[0] == "replace" and e[2] == dst_name]
    assert len(at) == 1, f"{dst_name} must be published by one replace: {events}"
    tmp_ino = events[at[0]][1]
    assert ("fsync", tmp_ino) in events[: at[0]], (
        f"the tmp file replacing {dst_name} was not fsynced first: {events}"
    )


def test_commit_pointers_fsync_before_replace(tmp_path, monkeypatch):
    """Spark-free: the IVF meta commit, the MinHash index meta commit and
    the follow_changes checkpoint each fsync their tmp file before
    os.replace publishes it, and leave no tmp file behind."""
    import json
    import os
    from unittest import mock

    from opengin_ingestion_spark.operators import dedup
    from opengin_ingestion_spark.operators.similarity import _commit_ivf_meta
    from opengin_ingestion_spark.streaming.follow import (
        _read_checkpoint,
        _write_checkpoint,
    )

    ivf = tmp_path / "ivf"
    ivf.mkdir()
    events = _spy_commits(monkeypatch)
    _commit_ivf_meta(str(ivf), {"generation": 3})
    _assert_fsynced_then_replaced(events, "meta.json")
    assert json.loads((ivf / "meta.json").read_text()) == {"generation": 3}

    # build_minhash_index with its Spark work stubbed out: only the
    # commit-marker write is real
    events.clear()
    for name in ("minhash_signatures", "_minhash_band_rows", "F"):
        monkeypatch.setattr(dedup, name, mock.MagicMock())
    mh = tmp_path / "mh"
    meta = dedup.build_minhash_index(mock.MagicMock(), str(mh))
    _assert_fsynced_then_replaced(events, "meta.json")
    assert json.loads((mh / "meta.json").read_text()) == meta

    events.clear()
    ckpt = tmp_path / "follow" / "ckpt.json"
    _write_checkpoint(str(ckpt), 7)
    _assert_fsynced_then_replaced(events, "ckpt.json")
    assert _read_checkpoint(str(ckpt)) == 7

    for d in (ivf, mh, ckpt.parent):
        assert not [f for f in os.listdir(d) if ".tmp" in f]
