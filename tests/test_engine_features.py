"""Round-2 engine features: auto bucket sizing + rebucket, declarative
schema mapping (renames), tail maintenance hooks."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from opengin_ingestion_spark.operators.compact import rebucket
from opengin_ingestion_spark.operators.merge import merge_batch
from opengin_ingestion_spark.operators.schema_map import (
    SchemaMapping,
    apply_schema_mapping,
)
from opengin_ingestion_spark.plans.replay import (
    PAGES_SCHEMA,
    TRANSFORM_FIELDS,
    estimate_dir_bytes,
    pages_pandas_transform,
    replay_changelog,
)
from opengin_ingestion_spark.sources.changelog import ChangeLogSpec, generate_changelog
from opengin_ingestion_spark.sources.gintable import GinTable, choose_n_buckets
from tests.oracle import assert_states_equal, oracle_final_state


# --- auto bucket sizing ------------------------------------------------------

def test_choose_n_buckets_scales_and_clamps():
    mb = 1024 * 1024
    assert choose_n_buckets(0) == 16  # floor
    assert choose_n_buckets(10 * mb) == 16
    small = choose_n_buckets(5 * 1024 * mb)
    big = choose_n_buckets(500 * 1024 * mb)
    assert small < big, "bucket count must grow with table size"
    assert choose_n_buckets(10**18) == 4096  # ceiling
    # power of two throughout
    for est in (0, 10 * mb, 5 * 1024 * mb, 10**18):
        n = choose_n_buckets(est)
        assert n & (n - 1) == 0


def test_replay_auto_buckets(spark, tiny_log, tmp_path):
    """n_buckets=None: the table sizes itself from the log's on-disk bytes
    and the replay still matches the oracle — no manual tuning."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=None
    )
    expected = choose_n_buckets(estimate_dir_bytes(tiny_log["dir"]))
    assert table.n_buckets() == expected
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_soak_200k_auto_buckets(spark, tmp_path):
    """200k-event incremental replay with NO manual bucket tuning
    (n_buckets=None): converges to the oracle, applied ranges compact."""
    d = str(tmp_path / "log")
    generate_changelog(
        d, ChangeLogSpec(n_events=200_000, n_urls=20_000, n_batches=8, seed=99)
    )
    table, results = replay_changelog(
        spark, d, str(tmp_path / "pages"), n_buckets=None, group_files=2
    )
    assert table.n_buckets() >= 16
    assert table.current_snapshot()["applied_batch_ranges"] == [[0, 3]]
    assert_states_equal(
        table.read(include_internal=True).toPandas(), oracle_final_state(d)
    )


# --- rebucket ----------------------------------------------------------------

def test_rebucket_preserves_state_and_updates_pruning(spark, tiny_log, tmp_path):
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=8
    )
    before = table.read(include_internal=True).toPandas()
    snap = rebucket(table, 32)
    assert snap["n_buckets"] == 32
    assert table.n_buckets() == 32
    # every live file carries a new-scheme bucket id, old files all dropped
    assert {f["bucket"] for f in snap["files"]} <= set(range(32))
    after = table.read(include_internal=True).toPandas()
    assert_states_equal(after, oracle_final_state(tiny_log["dir"]))
    assert len(before) == len(after)
    # pruned read under the NEW scheme returns exactly that bucket's keys
    b = snap["files"][0]["bucket"]
    got = table.read(buckets={b}, include_internal=True)
    chk = got.withColumn(
        "_b", F.pmod(F.xxhash64(F.col("url")), F.lit(32)).cast("int")
    )
    assert chk.filter(F.col("_b") != b).count() == 0
    # a further merge works against the new bucket count
    files = sorted(glob.glob(os.path.join(tiny_log["dir"], "*.parquet")))
    res = merge_batch(
        table, spark.read.parquet(files[0]), batch_id=0,
        pandas_transform=pages_pandas_transform, transform_fields=TRANSFORM_FIELDS,
    )
    assert res.skipped  # batch 0 already applied — idempotence survives rebucket


def test_rebucket_rejects_carried_files(spark, tmp_path):
    """commit(new_n_buckets=...) must refuse when any file would be carried
    forward under the old scheme."""
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("url", T.StringType(), True)])
    t = GinTable.create(spark, str(tmp_path / "t"), schema, n_buckets=4)
    df = spark.createDataFrame([("a",), ("b",)], schema).withColumn(
        "_seq", F.lit(1).cast("long")
    ).withColumn("_deleted", F.lit(False))
    files = t.write_data_files(df, t.current_snapshot())
    t.commit(files, set(), [0])
    with pytest.raises(ValueError, match="n_buckets change"):
        t.commit([], set(), [], new_n_buckets=8)


# --- declarative schema mapping ------------------------------------------------

def test_schema_mapping_rules(spark):
    df = spark.createDataFrame(
        [(1, "en", "x", "32")], "id int, language string, _junk string, n string"
    )
    out = apply_schema_mapping(
        df,
        {"renames": {"language": "lang"}, "drops": ["_junk"], "casts": {"n": "long"}},
    )
    assert out.columns == ["id", "lang", "n"]
    assert dict(out.dtypes)["n"] == "bigint"
    # rules for absent columns are ignored
    out2 = apply_schema_mapping(df.drop("language"), {"renames": {"language": "lang"}})
    assert "lang" not in out2.columns
    # invalid specs fail fast
    with pytest.raises(ValueError, match="one target"):
        apply_schema_mapping(df, {"renames": {"a": "x", "b": "x"}})
    with pytest.raises(ValueError, match="already present"):
        apply_schema_mapping(df, {"renames": {"language": "id"}})
    # chained rename {a: b, b: c} would depend on rename map ordering
    with pytest.raises(ValueError, match="chained"):
        apply_schema_mapping(df, {"renames": {"language": "tmp", "tmp": "lang"}})


def test_midstream_rename_lands_in_existing_column(spark, evolving_log, tmp_path):
    """An upstream era that renames `lang` → `language` merges into the
    SAME table column under a mapping spec: no variant fork, no old-null
    split, LWW state identical to the unrenamed replay. The evolving log
    carries an upstream `lang` from batch ``evolution_k`` on; those eras
    arrive renamed."""
    files = sorted(glob.glob(os.path.join(evolving_log["dir"], "*.parquet")))
    k = evolving_log["spec"].evolution_k
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8
    )
    mapping = SchemaMapping(renames={"language": "lang"})

    for i, f in enumerate(files):
        df = spark.read.parquet(f)
        if i >= k:  # later eras arrive renamed
            assert "lang" in df.columns
            df = df.withColumnRenamed("lang", "language")
        merge_batch(
            table, df, batch_id=i,
            pandas_transform=pages_pandas_transform,
            transform_fields=TRANSFORM_FIELDS,
            schema_mapping=mapping,
        )
    names = table.schema().fieldNames()
    assert "lang" in names and "language" not in names
    assert_states_equal(
        table.read(include_internal=True).toPandas(),
        oracle_final_state(evolving_log["dir"]),
    )


# --- tail maintenance hooks ------------------------------------------------------

def test_tail_maintenance_bounds_files_and_tombstones(spark, tmp_path):
    """A long tail with maintenance_every compacts small files and expires
    old tombstones: live file count stays O(buckets) and expired deletes
    leave the table physically."""
    from opengin_ingestion_spark.streaming.tail import tail_changelog

    d = str(tmp_path / "log")
    # retention must EXCEED the source's lateness bound or expired
    # tombstones can be resurrected by late events (verified: retention=0
    # against ±1h jitter resurrects deletes). ±10s lateness, 60s retention.
    spec = ChangeLogSpec(
        n_events=4_000, n_urls=300, n_batches=16, seed=7, p_delete=0.2,
        jitter_us=10_000_000,
    )
    generate_changelog(d, spec)
    q = tail_changelog(
        spark, d, str(tmp_path / "pages"), str(tmp_path / "ckpt"),
        n_buckets=8, max_files_per_trigger=1, available_now=True,
        maintenance_every=4,
        tombstone_retention_seconds=60.0,
        compact_max_files=2,
    )
    assert q.awaitTermination(300)
    table = GinTable.load(spark, str(tmp_path / "pages"))
    snap = table.current_snapshot()
    ops = [s["metrics"].get("op") for s in table.history()]
    assert "compact" in ops or "expire_tombstones" in ops, "maintenance never ran"
    # bounded fragmentation: ≤ compact_max_files + batches-since-last-compact
    per_bucket: dict[int, int] = {}
    for f in snap["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) <= 2 + 4
    # tombstones at/before the final watermark are gone; final state intact
    internal = table.read(include_internal=True).toPandas()
    live_expected = oracle_final_state(d)
    assert_states_equal(internal, live_expected)
    n_tomb = int(internal["_deleted"].fillna(False).sum())
    # without expiry there would be ~p_delete*n_urls tombstones; expiry at
    # watermark=max_ts leaves only those from the final unmaintained batches
    assert n_tomb < 0.2 * 300 * 0.5, f"tombstones not expired: {n_tomb}"


def test_manifest_declared_merge_identity(spark, tmp_path):
    """A table created with key_col/ts_col != the pages defaults works
    through merge, delete-tombstoning, expire, compact, fold and rebucket
    with NO key/ts arguments anywhere — the manifest is the single source
    of the merge identity (pre-r4 manifests default to url/warc_ts)."""
    import datetime as dt

    from pyspark.sql import types as T

    from opengin_ingestion_spark.operators.compact import (
        compact,
        fold_heavy_compact,
        rebucket,
    )
    from opengin_ingestion_spark.operators.merge import (
        expire_tombstones,
        merge_batch,
    )

    schema = T.StructType([
        T.StructField("device_id", T.StringType(), False),
        T.StructField("seen_at", T.TimestampType(), False),
        T.StructField("reading", T.DoubleType(), True),
    ])
    table = GinTable.create(
        spark, str(tmp_path / "dev"), schema, n_buckets=4,
        key_col="device_id", ts_col="seen_at",
    )
    assert table.key_col() == "device_id" and table.ts_col() == "seen_at"
    # back-compat: DEFAULT key/ts on a schema without url/warc_ts still
    # creates (pre-r4 callers pass their key at merge_batch time); an
    # EXPLICIT missing identity column fails fast
    GinTable.create(spark, str(tmp_path / "legacy"), schema, n_buckets=2)
    import pytest

    with pytest.raises(ValueError, match="key_col 'nope'"):
        GinTable.create(
            spark, str(tmp_path / "bad"), schema, n_buckets=2, key_col="nope"
        )
    t0 = dt.datetime(2024, 6, 1)

    def batch(rows):
        return spark.createDataFrame(
            rows, "op string, seq long, device_id string, "
                  "seen_at timestamp, reading double"
        )

    merge_batch(table, batch(
        [("I", i, f"d{i % 20}", t0 + dt.timedelta(minutes=i), float(i))
         for i in range(60)]
    ), batch_id=0)
    assert table.read().count() == 20  # LWW per device
    # deletes + a late out-of-order event that must NOT resurrect
    merge_batch(table, batch(
        [("D", 100, "d3", t0 + dt.timedelta(hours=2), None)]
    ), batch_id=1)
    merge_batch(table, batch(
        [("U", 99, "d3", t0 + dt.timedelta(minutes=5), 123.0)]
    ), batch_id=2)
    assert table.read().filter("device_id = 'd3'").count() == 0
    # identity survives every commit
    assert table.current_snapshot()["key_col"] == "device_id"
    # expire uses the declared ts_col
    expire_tombstones(table, t0 + dt.timedelta(hours=3))
    internal = table.read(include_internal=True).toPandas()
    assert not internal["_deleted"].fillna(False).any()
    before = sorted(map(tuple, table.read().collect()))
    compact(table, max_files_per_bucket=1)
    fold_heavy_compact(table)  # no heavy family: plain single-file rewrite
    rebucket(table, 8)
    assert table.current_snapshot()["key_col"] == "device_id"
    assert sorted(map(tuple, table.read().collect())) == before
