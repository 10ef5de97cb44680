"""Schema evolution tests: safe-cast lattice unit tests + mid-stream
evolution end-to-end (additive `lang`, widened `content_len`)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.operators.evolution import (
    SchemaEvolutionError,
    align_to_schema,
    evolve_schema,
)
from opengin_ingestion_spark.operators.merge import merge_batch
from opengin_ingestion_spark.plans.replay import (
    PAGES_SCHEMA,
    TRANSFORM_FIELDS,
    pages_pandas_transform,
)
from opengin_ingestion_spark.sources.gintable import GinTable
from tests.oracle import assert_states_equal, oracle_final_state


def _st(*fields):
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


def test_evolve_additive():
    cur = _st(("a", T.StringType()), ("b", T.IntegerType()))
    inc = _st(("a", T.StringType()), ("c", T.DoubleType()))
    out = evolve_schema(cur, inc)
    assert [f.name for f in out.fields] == ["a", "b", "c"]
    assert out["c"].dataType == T.DoubleType() and out["c"].nullable


def test_evolve_widening():
    cur = _st(("n", T.IntegerType()), ("f", T.FloatType()))
    inc = _st(("n", T.LongType()), ("f", T.DoubleType()))
    out = evolve_schema(cur, inc)
    assert out["n"].dataType == T.LongType()
    assert out["f"].dataType == T.DoubleType()
    # widening is one-way: a narrower batch does NOT narrow the table
    again = evolve_schema(out, cur)
    assert again["n"].dataType == T.LongType()


def test_evolve_rejects_incompatible():
    cur = _st(("a", T.StringType()))
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(cur, _st(("a", T.LongType())))
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(_st(("n", T.LongType())), _st(("n", T.DoubleType())))


def test_evolve_decimal():
    cur = _st(("d", T.DecimalType(10, 2)))
    out = evolve_schema(cur, _st(("d", T.DecimalType(12, 2))))
    assert out["d"].dataType == T.DecimalType(12, 2)
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(cur, _st(("d", T.DecimalType(10, 4))))  # int digits shrink


def test_align_to_schema(spark):
    df = spark.createDataFrame([(1, "x")], "n int, s string")
    target = _st(("n", T.LongType()), ("s", T.StringType()), ("extra", T.DoubleType()))
    out = align_to_schema(df, target)
    assert out.schema == target
    row = out.first()
    assert row["n"] == 1 and row["extra"] is None


def test_poison_batch_fails_fast_before_any_action(spark, tiny_log, tmp_path):
    """A batch with an incompatible column TYPE must raise
    SchemaEvolutionError with zero side effects — even when the poisoned
    column is one the stats action casts (content_len). Regression: schema
    validation used to run after the stats collect, so this died with a raw
    Spark CAST_INVALID_INPUT instead (found by an end-to-end probe)."""
    import glob as _glob

    table_path = str(tmp_path / "pages")
    files = sorted(_glob.glob(os.path.join(tiny_log["dir"], "*.parquet")))
    table = GinTable.create(spark, table_path, PAGES_SCHEMA, n_buckets=8)
    merge_batch(
        table, spark.read.parquet(files[0]), batch_id=0,
        pandas_transform=pages_pandas_transform, transform_fields=TRANSFORM_FIELDS,
    )
    v0 = table.current_version()
    rows0 = table.read().count()

    poison = spark.read.parquet(files[1]).withColumn(
        "content_len", F.lit("not-a-number")
    )
    with pytest.raises(SchemaEvolutionError):
        merge_batch(table, poison, batch_id=1)
    assert table.current_version() == v0
    assert table.read().count() == rows0
    applied = {
        b
        for lo, hi in table.current_snapshot()["applied_batch_ranges"]
        for b in range(lo, hi + 1)
    }
    assert 1 not in applied


def test_midstream_evolution_full_pipeline(spark, evolving_log, tmp_path):
    """Era-by-era replay (each batch arrives with its own physical schema,
    as a restarted CDC stream would): table schema evolves mid-replay and
    the final state matches the oracle."""
    table_path = str(tmp_path / "pages")
    files = sorted(
        os.path.join(evolving_log["dir"], f)
        for f in os.listdir(evolving_log["dir"])
        if f.endswith(".parquet")
    )
    table = GinTable.create(spark, table_path, PAGES_SCHEMA, n_buckets=16)
    versions = []
    for i, f in enumerate(files):
        merge_batch(
            table, spark.read.parquet(f), batch_id=i,  # per-file (era) schema
            pandas_transform=pages_pandas_transform,
            transform_fields=TRANSFORM_FIELDS,
        )
        versions.append(table.current_snapshot()["schema_version"])

    # schema version bumped at batch 0 (adds text/lang/content_len over the
    # minimal PAGES_SCHEMA) and again at the widening boundary
    k = evolving_log["spec"].evolution_k
    assert versions[k] > versions[k - 1], "widening must bump schema version"
    sch = table.schema()
    assert sch["content_len"].dataType == T.LongType()
    assert "lang" in sch.fieldNames()

    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(evolving_log["dir"]))


def test_midstream_evolution_raw_nulls(spark, evolving_log, tmp_path):
    """Raw merges (no derived columns): pre-evolution winners read back with
    lang NULL and widened content_len — additive columns are null for old
    rows (SURVEY.md §5 'mid-stream schema evolution')."""
    table_path = str(tmp_path / "pages_raw")
    files = sorted(
        os.path.join(evolving_log["dir"], f)
        for f in os.listdir(evolving_log["dir"])
        if f.endswith(".parquet")
    )
    k = evolving_log["spec"].evolution_k
    schema0 = spark.read.parquet(files[0]).drop("op", "seq").schema
    table = GinTable.create(spark, table_path, schema0, n_buckets=16)
    for i, f in enumerate(files):
        merge_batch(table, spark.read.parquet(f), batch_id=i)

    sch = table.schema()
    assert sch["content_len"].dataType == T.LongType()
    assert "lang" in sch.fieldNames()

    # winners whose last event predates evolution have lang IS NULL
    pre_seq_max = spark.read.parquet(files[k - 1]).agg(F.max("seq")).first()[0]
    pdf = table.read(include_internal=True).toPandas()
    pre = pdf[pdf["_seq"] <= pre_seq_max]
    post = pdf[pdf["_seq"] > pre_seq_max]
    assert len(pre) and pre["lang"].isna().all()
    assert len(post) and post[~post["_deleted"].fillna(False)]["lang"].notna().all()
