"""GinTable unit tests: commit atomicity, conflict detection, applied-batch
ranges, bucket-pruned reads, schema history, orphan GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.sources.gintable import (
    BUCKET_COL,
    FILE_ROWS,
    CommitConflict,
    DataFile,
    DataFileWriter,
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


def _rows_df(spark, n=20):
    df = spark.range(n).select(
        F.concat(F.lit("https://e.com/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("warc_ts"),
        F.col("id").alias("v"),
        F.col("id").alias("_seq"),
    )
    return df


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

    df = _rows_df(spark)
    files = t.write_data_files(df, t.current_snapshot())
    assert files and all(0 <= f.bucket < 8 for f in files)
    snap = t.commit(files, replaced_buckets=set(), batch_ids=[0])
    assert snap["version"] == 1
    assert t.read().count() == 20
    # internal _seq hidden by default, present on request
    assert "_seq" not in t.read().columns
    assert "_seq" in t.read(include_internal=True).columns


def test_bucket_pruned_read(spark, tmp_path):
    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    df = _rows_df(spark, n=40)
    files = t.write_data_files(df, t.current_snapshot())
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
    df = _rows_df(spark, n=16)
    files = t.write_data_files(df, t.current_snapshot())
    t.commit(files, set(), [0])
    b = files[0].bucket
    # rewrite bucket b with a single row
    one = df.filter(t.bucket_expr() == b).limit(1)
    nf = t.write_data_files(one, t.current_snapshot())
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
    df = _rows_df(spark, n=8)
    files = t.write_data_files(df, t.current_snapshot())
    t.commit(files, set(), [0])
    # a crashed commit: files written, never committed
    t.write_data_files(df, t.current_snapshot())
    # grace window: a fresh unreferenced file may be an IN-FLIGHT commit
    # (data lands before the manifest) — invisible to gc until it ages out
    assert not t.gc_orphans(dry_run=True)
    orphans = t.gc_orphans(dry_run=True, min_age_seconds=0)
    assert orphans
    t.gc_orphans(dry_run=False, min_age_seconds=0)
    assert not t.gc_orphans(dry_run=True, min_age_seconds=0)
    assert t.read().count() == 8  # live data intact

    # a retried task attempt: the same writer runs twice into the same
    # commit directories, each run's files named by its own task attempt;
    # the driver collected (and commits) only the second run's file rows
    part = df.withColumn(BUCKET_COL, t.bucket_expr()).repartition(2, BUCKET_COL)
    write = DataFileWriter(t, t.current_snapshot(), part.schema)
    lost = {r.path for r in part.mapInArrow(write, FILE_ROWS).collect()}
    kept = [
        DataFile(schema_version=1, **r.asDict())
        for r in part.mapInArrow(write, FILE_ROWS).collect()
    ]
    kept_paths = {f.path for f in kept}
    assert lost and not lost & kept_paths
    assert {os.path.dirname(p) for p in lost} == {os.path.dirname(p) for p in kept_paths}
    snap = t.commit(kept, replaced_buckets={f.bucket for f in files}, batch_ids=[1])
    assert {f["path"] for f in snap["files"]} == kept_paths
    assert set(t.gc_orphans(dry_run=True, min_age_seconds=0)) == lost
    t.gc_orphans(dry_run=False, min_age_seconds=0)
    assert not t.gc_orphans(dry_run=True, min_age_seconds=0)
    assert all(os.path.exists(os.path.join(t.path, p)) for p in kept_paths)
    assert t.read().count() == 8


def test_writer_closes_buckets_behind_a_grouped_stream(spark, tmp_path, monkeypatch):
    """DataFileWriter.write fed bucket-grouped batches that span several
    buckets (as one task of a bucket-sorted exchange sees them) writes one
    file per (bucket, family), keeps at most one bucket's writers open
    between batches, and raises when a closed bucket reappears instead of
    reopening (and truncating) its file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyspark

    from opengin_ingestion_spark.sources import gintable

    t = GinTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=8, heavy_columns=["v"]
    )
    df = _rows_df(spark, n=40).withColumn(
        "v", F.when(F.col("v") % 3 == 0, F.col("v"))  # some rows carry no payload
    ).withColumn("_deleted", F.lit(False)).withColumn(BUCKET_COL, t.bucket_expr())
    data = df.sort(BUCKET_COL, "url").toArrow()
    buckets = sorted(set(data[BUCKET_COL].to_pylist()))
    assert len(buckets) >= 4

    class Ctx:
        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return 7

    live: set[str] = set()

    class Tracking(pq.ParquetWriter):
        def __init__(self, where, *args, **kwargs):
            super().__init__(where, *args, **kwargs)
            self.where = where
            live.add(where)

        def close(self):
            live.discard(self.where)
            super().close()

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Ctx()))
    monkeypatch.setattr(gintable.pq, "ParquetWriter", Tracking)

    def open_buckets():
        return {int(p.split(f"{BUCKET_COL}=")[1].split("/")[0]) for p in live}

    seen = []

    def batches(tbl, size):
        for i in range(0, tbl.num_rows, size):
            yield tbl.slice(i, size)  # 3-row slices straddle buckets
            seen.append(open_buckets())

    write = DataFileWriter(t, t.current_snapshot(), df.schema)
    rows = write.write(batches(data, 3))
    assert seen and all(len(b) <= 1 for b in seen), seen
    assert not live
    keys = [(r["bucket"], r["family"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert {b for b, fam in keys if fam == "base"} == set(buckets)
    assert sum(r["rows"] for r in rows if r["family"] == "base") == 40
    assert sum(r["rows"] for r in rows if r["family"] == "heavy") == 14
    for r in rows:
        assert pq.read_metadata(os.path.join(t.path, r["path"])).num_rows == r["rows"]

    def only(b):
        return data.filter(pc.equal(data[BUCKET_COL], b))

    b0, b1 = buckets[:2]
    with pytest.raises(ValueError, match="reappeared"):
        DataFileWriter(t, t.current_snapshot(), df.schema).write(
            [only(b0), only(b1), only(b0)]
        )
    assert not live


def test_manifest_reads_start_no_listing_job(spark, tmp_path):
    """A read names its files from the manifest, so building it stats them
    on the driver: past 32 files Spark's default would launch a parallel
    listing job (one task per file) on every read and table_changes."""
    from opengin_ingestion_spark.sources.gintable import table_changes

    t = GinTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    for i in range(6):
        df = _rows_df(spark, n=40).withColumn("_seq", F.col("_seq") + 100 * i)
        t.commit(t.write_data_files(df, t.current_snapshot()), set(), [i])
    assert len(t.current_snapshot()["files"]) > 32

    sc = spark.sparkContext
    sc.setJobGroup("manifest-read", "build reads over > 32 files")
    try:
        t.read()
        table_changes(t, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("manifest-read") == []
    assert t.read().count() == 240


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
    slices carry per-file ts_min/ts_max (recorded by the writer);
    a range read lists only overlapping files (inputFiles) and returns
    exactly the rows a plain filter would."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.plans.replay import replay_changelog

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
        part = base.filter(cond).withColumn(
            "_seq", F.col("_seq") + F.lit(10_000_000 * (i + 1))
        )
        files = table.write_data_files(part, table.current_snapshot())
        assert all(
            f.ts_min is not None and f.ts_max is not None
            for f in files if f.family == "base"
        ), "appended base files must carry manifest ts stats"
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
    """Record fsync(fd), replace(src, dst) and link(src, dst) calls by
    inode, so a test can tell which file or directory was fsynced before
    or after which publish."""
    import os

    events = []
    real_fsync, real_replace, real_link = os.fsync, os.replace, os.link

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.stat(src).st_ino, os.path.basename(dst)))
        return real_replace(src, dst)

    def link(src, dst):
        events.append(("link", os.stat(src).st_ino, os.path.basename(dst)))
        return real_link(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(os, "link", link)
    return events


def _assert_published(events, dst_name, directory):
    """``dst_name`` was published by one replace or link of a tmp file
    fsynced before it, and its directory was fsynced after it."""
    import os

    at = [
        i for i, e in enumerate(events)
        if e[0] in ("replace", "link") and e[2] == dst_name
    ]
    assert len(at) == 1, f"{dst_name} must be published once: {events}"
    tmp_ino = events[at[0]][1]
    assert ("fsync", tmp_ino) in events[: at[0]], (
        f"the tmp file publishing {dst_name} was not fsynced first: {events}"
    )
    assert ("fsync", os.stat(directory).st_ino) in events[at[0] + 1:], (
        f"the directory holding {dst_name} was not fsynced after: {events}"
    )


def test_commit_pointers_fsync_before_replace(tmp_path, monkeypatch):
    """Spark-free: the GinTable manifest commit, the IVF meta commit, the
    MinHash index meta commit and the follow_changes checkpoint each fsync
    their tmp file before os.link / os.replace publishes it, fsync the
    directory after it (so the new entry survives a power failure), and
    leave no tmp file behind."""
    import json
    import os
    from unittest import mock

    from opengin_ingestion_spark.operators import dedup
    from opengin_ingestion_spark.operators.similarity import _commit_ivf_meta
    from opengin_ingestion_spark.streaming.follow import (
        _read_checkpoint,
        _write_checkpoint,
    )

    events = _spy_commits(monkeypatch)
    # the manifest commit needs no Spark session: GinTable only keeps it
    t = GinTable.create(None, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    manifests = tmp_path / "t" / "_manifests"
    _assert_published(events, "v00000000.json", manifests)
    events.clear()
    t.commit([], set(), [0])
    _assert_published(events, "v00000001.json", manifests)
    assert t.current_snapshot()["applied_batch_ranges"] == [[0, 0]]

    ivf = tmp_path / "ivf"
    ivf.mkdir()
    events.clear()
    _commit_ivf_meta(str(ivf), {"generation": 3})
    _assert_published(events, "meta.json", ivf)
    assert json.loads((ivf / "meta.json").read_text()) == {"generation": 3}

    # build_minhash_index with its Spark work stubbed out: only the
    # commit-marker write is real
    events.clear()
    for name in ("minhash_signatures", "_minhash_band_rows", "F"):
        monkeypatch.setattr(dedup, name, mock.MagicMock())
    mh = tmp_path / "mh"
    meta = dedup.build_minhash_index(mock.MagicMock(), str(mh))
    _assert_published(events, "meta.json", mh)
    assert json.loads((mh / "meta.json").read_text()) == meta

    events.clear()
    ckpt = tmp_path / "follow" / "ckpt.json"
    _write_checkpoint(str(ckpt), 7)
    _assert_published(events, "ckpt.json", ckpt.parent)
    assert _read_checkpoint(str(ckpt)) == 7

    for d in (manifests, ivf, mh, ckpt.parent):
        assert not [f for f in os.listdir(d) if ".tmp" in f]


def test_data_files_fsync_before_rows_return(tmp_path, monkeypatch):
    """Spark-free: DataFileWriter fsyncs every data file after closing it,
    and the directories holding the new entries (bucket, commit and
    data/), before it returns the file rows the commit will name — so a
    power failure after the manifest commit cannot leave it naming a torn
    or missing file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark

    from opengin_ingestion_spark.sources import gintable

    t = GinTable.create(
        None, str(tmp_path / "t"), SCHEMA, n_buckets=4, heavy_columns=["v"]
    )
    data = pa.table({
        "url": [f"u{i}" for i in range(6)],
        "warc_ts": pa.array([1_700_000_000_000_000 + i for i in range(6)],
                            pa.timestamp("us", tz="UTC")),
        "v": [1, None, 3, 4, None, 6],
        "_seq": list(range(6)),
        "_deleted": [False] * 6,
        BUCKET_COL: pa.array([0, 0, 1, 1, 3, 3], pa.int32()),
    })

    class Ctx:
        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return 3

    events = _spy_commits(monkeypatch)

    class Closing(pq.ParquetWriter):
        def __init__(self, where, *args, **kwargs):
            super().__init__(where, *args, **kwargs)
            self.where = where

        def close(self):
            super().close()
            events.append(("close", os.stat(self.where).st_ino))

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Ctx()))
    monkeypatch.setattr(gintable.pq, "ParquetWriter", Closing)
    rows = DataFileWriter(
        t, t.current_snapshot(), t.schema(include_internal=True)
    ).write([data.slice(0, 3), data.slice(3)])
    assert {(r["bucket"], r["family"]) for r in rows} == {
        (0, "base"), (1, "base"), (3, "base"), (0, "heavy"), (1, "heavy"), (3, "heavy")
    }
    for r in rows:
        full = os.path.join(t.path, r["path"])
        ino = os.stat(full).st_ino
        assert ("fsync", ino) in events[events.index(("close", ino)):], r["path"]
        for d in (os.path.dirname(full), os.path.dirname(os.path.dirname(full)),
                  os.path.join(t.path, "data")):
            assert ("fsync", os.stat(d).st_ino) in events, d


def test_merge_keeps_longs_exact_beside_nulls(spark, tmp_path):
    """A long above 2**53 in the same Arrow batch as a null of its column
    survives the merge exactly: the LWW step converts integers to pandas
    nullable dtypes, not to float64 (which rounds 2**53 + 1 to 2**53)."""
    from opengin_ingestion_spark.operators.merge import merge_batch

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("content_len", T.LongType(), True),
    ])
    # one bucket: every row is in the one task's one Arrow batch
    t = GinTable.create(spark, str(tmp_path / "t"), schema, n_buckets=1)
    big = 2**53 + 1
    batch = spark.createDataFrame(
        [("I", 1, "https://a.com/big", big), ("I", 2, "https://a.com/null", None)],
        "op string, seq long, url string, content_len long",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("seq") + 1_700_000_000))
    merge_batch(t, batch, batch_id=0)
    got = {r["url"]: r["content_len"] for r in t.read().collect()}
    assert got == {"https://a.com/big": big, "https://a.com/null": None}


def test_merge_keeps_nan_apart_from_null(spark, tmp_path):
    """A NaN in a double column stays NaN through the merge and a null
    stays null: the LWW step converts floats to pandas nullable dtypes,
    which hold the two apart (numpy float64 holds null as NaN). A
    tombstone's double payload is null."""
    from opengin_ingestion_spark.operators.merge import merge_batch

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("score", T.DoubleType(), True),
    ])
    t = GinTable.create(spark, str(tmp_path / "t"), schema, n_buckets=1)
    batch = spark.createDataFrame(
        [("I", 1, "https://a.com/nan", float("nan")),
         ("I", 2, "https://a.com/null", None),
         ("I", 3, "https://a.com/num", 1.5),
         ("I", 4, "https://a.com/gone", 2.5),
         ("D", 5, "https://a.com/gone", 2.5)],
        "op string, seq long, url string, score double",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("seq") + 1_700_000_000))
    merge_batch(t, batch, batch_id=0)
    got = {
        r["url"]: (r["nan"], r["null"], r["_deleted"])
        for r in t.read(include_internal=True).select(
            "url", "_deleted",
            F.isnan("score").alias("nan"), F.isnull("score").alias("null"),
        ).collect()
    }
    assert got == {
        "https://a.com/nan": (True, False, False),
        "https://a.com/null": (False, True, False),
        "https://a.com/num": (False, False, False),
        "https://a.com/gone": (False, True, True),
    }


def test_lookup_hashes_the_key_column_type(spark, tmp_path):
    """On a long-keyed table every key is found: the bucket is hashed from
    a literal typed as the key column (xxhash64 of an int differs from a
    long's). Building the lookup runs no Spark job: the one-row key frame
    is an Arrow local relation the optimizer folds on the driver."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = GinTable.create(spark, str(tmp_path / "t"), schema, n_buckets=8, key_col="id")
    df = _rows_df(spark, n=50).select(
        F.col("v").alias("id"), "warc_ts", "v", "_seq"
    )
    t.commit(t.write_data_files(df, t.current_snapshot()), set(), [0])

    sc = spark.sparkContext
    sc.setJobGroup("lookup-build", "build a point read")
    try:
        t.lookup(7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("lookup-build") == []
    found = {k: [r["v"] for r in t.lookup(k).collect()] for k in range(50)}
    assert found == {k: [k] for k in range(50)}
    assert [r["v"] for r in t.lookup("7").collect()] == [7]  # as the CLI passes it


def test_merge_job_budget(spark, tmp_path):
    """A 200-event merge_batch on a backfilled 16-bucket table (the serve
    shape) runs at most 4 Spark jobs: the input-stats action and the
    write, each a shuffle-map job plus a result job with AQE on. The
    write's tasks run LWW, extraction and the Parquet write themselves;
    the checkpointed two-pass Spark write it replaced ran 7 jobs.

    The write's exchange is sized by bytes, not by bucket count: its
    tasks number at most spark.sql.shuffle.partitions (8 here) although
    the table has 16 buckets, so tasks hold several buckets. The merge,
    and a compact(sort_by=[ts]) after it, still equal the oracle and
    leave one base file per bucket, each ts-sorted."""
    import glob
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    from opengin_ingestion_spark.operators.compact import compact
    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.plans.replay import (
        TRANSFORM_FIELDS,
        pages_pandas_transform,
        replay_changelog,
    )
    from opengin_ingestion_spark.sources.changelog import (
        ChangeLogSpec,
        generate_changelog,
    )
    from tests.oracle import (
        assert_states_equal,
        oracle_final_state_from_events,
        read_log_pandas,
    )

    log = tmp_path / "log"
    generate_changelog(
        str(log), ChangeLogSpec(n_events=2_000, n_urls=300, n_batches=10, seed=5)
    )
    last = sorted(glob.glob(str(log / "*.parquet")))[-1]
    delta = str(tmp_path / "delta.parquet")
    shutil.move(last, delta)
    events = pd.concat(
        [read_log_pandas(str(log)), pq.read_table(delta).to_pandas()],
        ignore_index=True,
    )
    table, _ = replay_changelog(spark, str(log), str(tmp_path / "pages"), n_buckets=16)
    batch = spark.read.parquet(delta)  # schema inference is a job of its own
    assert batch.count() == 200

    sc = spark.sparkContext
    sc.setJobGroup("merge-job-budget", "one serve-shape merge")
    try:
        res = merge_batch(
            table, batch, batch_id=1,
            pandas_transform=pages_pandas_transform,
            transform_fields=TRANSFORM_FIELDS,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("merge-job-budget")
    assert res.metrics["buckets_rewritten"] == 16
    assert 0 < len(jobs) <= 4, f"merge ran {len(jobs)} Spark jobs"
    # the write is the last job; its result stage is its newest stage
    write_stage = max(tracker.getJobInfo(max(jobs)).stageIds)
    write_tasks = tracker.getStageInfo(write_stage).numTasks
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert partitions < 16
    assert write_tasks <= partitions, f"merge write ran {write_tasks} tasks"

    def check(snap):
        assert_states_equal(
            table.read(snap, include_internal=True).toPandas(),
            oracle_final_state_from_events(events),
        )
        base = [f for f in snap["files"] if f["family"] == "base"]
        assert sorted(f["bucket"] for f in base) == list(range(16))
        return base

    check(table.current_snapshot())
    snap = compact(table, max_files_per_bucket=0, sort_by=["warc_ts"])
    assert snap["metrics"]["buckets_compacted"] == 16
    heavy = [f["bucket"] for f in snap["files"] if f["family"] == "heavy"]
    assert len(heavy) == len(set(heavy))
    for f in check(snap):
        ts = pq.read_table(os.path.join(table.path, f["path"])).column("warc_ts")
        assert ts.to_pylist() == sorted(ts.to_pylist()), f["path"]


def _footer_ts(path: str, col: str = "warc_ts"):
    """(min, max) of ``col`` over a Parquet file's row-group statistics,
    as naive-UTC ISO strings (the manifest's form)."""
    import pyarrow.parquet as pq

    from opengin_ingestion_spark.sources.gintable import _ts_to_iso

    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index(col)
    stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
    assert all(s is not None and s.has_min_max for s in stats), path
    return (
        _ts_to_iso(min(s.min for s in stats)),
        _ts_to_iso(max(s.max for s in stats)),
    )


def _spark_partitioned_write(table, df, version, family):
    """The data-file writer every table on disk was written with before
    the in-task pyarrow writer: one Spark ``partitionBy(_bucket)`` write
    per column family, then a footer read per file."""
    import pyarrow.parquet as pq

    rel_dir = os.path.join("data", f"commit-{version:08d}-{family}-spark")
    df.write.partitionBy(BUCKET_COL).parquet(os.path.join(table.path, rel_dir))
    out = []
    for bdir in sorted(os.listdir(os.path.join(table.path, rel_dir))):
        if not bdir.startswith(f"{BUCKET_COL}="):
            continue
        for fname in sorted(os.listdir(os.path.join(table.path, rel_dir, bdir))):
            if not fname.endswith(".parquet"):
                continue
            rel = os.path.join(rel_dir, bdir, fname)
            full = os.path.join(table.path, rel)
            lo, hi = _footer_ts(full) if family == "base" else (None, None)
            out.append(DataFile(
                path=rel, bucket=int(bdir.split("=")[1]),
                rows=pq.read_metadata(full).num_rows, bytes=os.path.getsize(full),
                schema_version=1, family=family, ts_min=lo, ts_max=hi,
            ))
    return out


def test_mixed_writer_buckets(spark, tiny_log, tmp_path):
    """Tables on disk were written by Spark's partitionBy writer; merging
    into one with the in-task pyarrow writer leaves buckets that mix both
    writers' files. Reads, lookup, table_changes and compact return the
    same rows as an all-pyarrow table, one merge runs under a non-UTC
    session time zone without moving any instant, and every new file's
    footer has Spark's timestamp type, row-group statistics and the
    manifest's ts range."""
    import glob

    import pyarrow.parquet as pq

    from opengin_ingestion_spark.operators.compact import compact
    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.plans.replay import (
        TRANSFORM_FIELDS,
        pages_pandas_transform,
        replay_changelog,
    )
    from opengin_ingestion_spark.sources.gintable import table_changes

    logs = sorted(glob.glob(os.path.join(tiny_log["dir"], "*.parquet")))
    first = tmp_path / "first"
    first.mkdir()
    os.symlink(logs[0], first / os.path.basename(logs[0]))
    new, _ = replay_changelog(spark, str(first), str(tmp_path / "new"), n_buckets=8)

    # the same v1 state, written by Spark's partitionBy writer
    heavy = new.heavy_columns()
    old = GinTable.create(
        spark, str(tmp_path / "old"), new.schema(), n_buckets=8, heavy_columns=heavy
    )
    state = new.read(include_internal=True).withColumn(BUCKET_COL, new.bucket_expr())
    has_payload = F.col(heavy[0]).isNotNull() | F.col(heavy[1]).isNotNull()
    spark_files = _spark_partitioned_write(
        old, state.drop(*heavy), 1, "base"
    ) + _spark_partitioned_write(
        old, state.filter(has_payload).select(BUCKET_COL, "_seq", *heavy), 1, "heavy"
    )
    old.commit(spark_files, set(), [0], heavy_seq_unique=True)

    def rows(df):
        return sorted(
            map(tuple, df.collect()), key=lambda t: tuple((x is None, x) for x in t)
        )

    assert rows(old.read(include_internal=True)) == rows(new.read(include_internal=True))

    # two small merges that touch a few buckets each, so some buckets keep
    # Spark-written base files, some mix Spark heavy files with pyarrow
    # ones; the second merge runs under a non-UTC session time zone
    bucket = F.pmod(F.xxhash64("url"), F.lit(8))
    merges = [(1, logs[1], (0, 1), "UTC"), (2, logs[2], (1, 2), "America/Los_Angeles")]
    for bid, path, buckets, tz in merges:
        for t in (new, old):
            spark.conf.set("spark.sql.session.timeZone", tz if t is old else "UTC")
            try:
                merge_batch(
                    t, spark.read.parquet(path).filter(bucket.isin(*buckets)),
                    batch_id=bid, pandas_transform=pages_pandas_transform,
                    transform_fields=TRANSFORM_FIELDS,
                )
            finally:
                spark.conf.set("spark.sql.session.timeZone", "UTC")
    snap = old.current_snapshot()
    spark_paths = {f.path for f in spark_files}
    live_spark = {f["bucket"] for f in snap["files"] if f["path"] in spark_paths}
    live_new = {f["bucket"] for f in snap["files"] if f["path"] not in spark_paths}
    assert live_spark & live_new, "some bucket must mix both writers' files"
    assert live_spark - live_new, "some bucket must keep only Spark's files"

    assert rows(old.read(include_internal=True)) == rows(new.read(include_internal=True))
    assert rows(old.read()) == rows(new.read())
    for url in rows(new.read().select("url"))[::40]:
        assert rows(old.lookup(url[0])) == rows(new.lookup(url[0]))
    assert rows(table_changes(old, 1)) == rows(table_changes(new, 1))

    # the pyarrow files are physically what Spark wrote
    for f in snap["files"]:
        if f["path"] in spark_paths:
            continue
        full = os.path.join(old.path, f["path"])
        md = pq.ParquetFile(full).metadata
        assert f["rows"] == md.num_rows and f["bytes"] == os.path.getsize(full)
        assert md.row_group(0).column(0).compression == "SNAPPY"
        if f["family"] != "base":
            continue
        col = md.schema.column(md.schema.names.index("warc_ts"))
        assert col.physical_type == "INT64"
        assert "isAdjustedToUTC=true" in str(col.logical_type)
        assert "timeUnit=microseconds" in str(col.logical_type)
        assert (f["ts_min"], f["ts_max"]) == _footer_ts(full)

    compact(old, max_files_per_bucket=1)
    compact(new, max_files_per_bucket=1)
    assert rows(old.read(include_internal=True)) == rows(new.read(include_internal=True))
    assert len(old.current_snapshot()["files"]) == len(new.current_snapshot()["files"])
