"""End-to-end replay-equivalence tests (SURVEY.md §5): engine final state
row-for-row equals the single-threaded pandas oracle, including byte-
identical extracted text per url; plus duplicate / out-of-order delivery
invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from opengin_ingestion_spark.operators.merge import merge_batch
from opengin_ingestion_spark.plans.replay import replay_changelog
from opengin_ingestion_spark.sources.changelog import (
    make_duplicated_variant,
    make_shuffled_variant,
)
from opengin_ingestion_spark.sources.reader import read_changelog
from tests.oracle import assert_states_equal, oracle_final_state


def test_replay_single_batch_matches_oracle(spark, tiny_log, tmp_path):
    table, results = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16
    )
    assert not results[0].skipped
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))
    # metrics recorded in the snapshot
    m = table.current_snapshot()["metrics"]
    assert m["events_in"] == tiny_log["n_events"]
    assert m["rows_written"] == len(engine)
    # always-on timing of the merge's two Spark actions
    assert 0 <= m["stats_s"] <= m["merge_seconds"]
    assert 0 <= m["write_s"] <= m["merge_seconds"]
    assert table.current_snapshot()["lineage"]


def test_replay_incremental_matches_oracle(spark, tiny_log, tmp_path):
    """Batch-at-a-time incremental MERGE converges to the same state."""
    table, results = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16, group_files=2
    )
    assert len(results) == 4 and not any(r.skipped for r in results)
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))
    # incremental path produced one snapshot per batch
    assert table.current_version() == 4


def test_duplicate_delivery_idempotent(spark, tiny_log, tmp_path):
    """Re-merging an applied batch id is a no-op: same state, no new
    snapshot (exactly-once under duplicate delivery)."""
    table, _ = replay_changelog(
        spark, tiny_log["dir"], str(tmp_path / "pages"), n_buckets=16, group_files=4
    )
    v_before = table.current_version()
    from opengin_ingestion_spark.plans.replay import (
        TRANSFORM_FIELDS,
        pages_pandas_transform,
    )

    df = read_changelog(spark, tiny_log["dir"])
    res = merge_batch(
        table, df, batch_id=0,
        pandas_transform=pages_pandas_transform, transform_fields=TRANSFORM_FIELDS,
    )
    assert res.skipped
    assert table.current_version() == v_before
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_duplicated_log_files_same_state(spark, tiny_log, tmp_path):
    """A log with physically duplicated batch FILES still converges: LWW is
    idempotent on duplicate events (same (warc_ts, seq) → same winner)."""
    dup_dir = str(tmp_path / "dup")
    make_duplicated_variant(tiny_log["dir"], dup_dir, [0, 3])
    table, _ = replay_changelog(spark, dup_dir, str(tmp_path / "pages"), n_buckets=16)
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_out_of_order_delivery_same_state(spark, tiny_log, tmp_path):
    """Events permuted across batches → identical final state (LWW makes
    replay order-insensitive)."""
    shuf_dir = str(tmp_path / "shuf")
    make_shuffled_variant(tiny_log["dir"], shuf_dir, seed=11)
    table, _ = replay_changelog(
        spark, shuf_dir, str(tmp_path / "pages"), n_buckets=16, group_files=3
    )
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_deletes_apply(spark, tiny_log, tmp_path):
    """Urls whose last event is 'D' are absent from the final table."""
    table, _ = replay_changelog(spark, tiny_log["dir"], str(tmp_path / "pages"))
    import pandas as pd

    from tests.oracle import read_log_pandas

    log = read_log_pandas(tiny_log["dir"])
    last = log.sort_values(["warc_ts", "seq"]).groupby("url").last()
    deleted = set(last[last["op"] == "D"].index)
    assert deleted, "fixture should contain effective deletes"
    live = {r[0] for r in table.read().select("url").collect()}
    assert not (live & deleted)
    assert live == set(last.index) - deleted


def test_expire_tombstones(spark, tiny_log, tmp_path):
    """Tombstones past the event-time watermark are physically dropped;
    the user-visible state is unchanged."""
    import datetime

    from opengin_ingestion_spark.operators.merge import expire_tombstones

    table, _ = replay_changelog(spark, tiny_log["dir"], str(tmp_path / "pages"))
    internal = table.read(include_internal=True)
    n_tomb = internal.filter(F.coalesce(F.col("_deleted"), F.lit(False))).count()
    assert n_tomb > 0
    user_before = sorted(table.read().collect())
    expire_tombstones(table, datetime.datetime(2100, 1, 1, tzinfo=datetime.timezone.utc))
    internal_after = table.read(include_internal=True)
    assert internal_after.filter(F.coalesce(F.col("_deleted"), F.lit(False))).count() == 0
    assert sorted(table.read().collect()) == user_before


def test_merge_hot_url_batch(spark, tmp_path):
    """Memory-invariant stress (merge.py module doc, step 3): a zipf-hot
    log whose rank-1 url dominates each batch (s=2.5 → the top url carries
    well over 20% of all events) concentrates that batch's entire slice in
    ONE pandas partition of the bucket shuffle. The merge must stay
    correct — partition-local LWW picks the exact oracle winner for the
    hot url — and the concentration must be bounded by batch size, not
    blow up the executor."""
    from opengin_ingestion_spark.sources.changelog import (
        ChangeLogSpec,
        generate_changelog,
    )
    from tests.oracle import read_log_pandas

    d = str(tmp_path / "hotlog")
    spec = ChangeLogSpec(
        n_events=20_000, n_urls=200, n_batches=4, seed=7, zipf_s=2.5
    )
    generate_changelog(d, spec)
    log = read_log_pandas(d)
    hot_frac = log["url"].value_counts(normalize=True).iloc[0]
    assert hot_frac >= 0.20, f"fixture not hot enough ({hot_frac:.2f})"

    table, results = replay_changelog(
        spark, d, str(tmp_path / "pages"), n_buckets=8, group_files=1
    )
    assert not any(r.skipped for r in results)
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(d))


def test_hot_key_prereduce_equivalence(spark, tmp_path):
    """merge_batch(hot_key_prereduce=True) must produce EXACTLY the state
    of the default path on a zipf-hot log (partial max per input split +
    global LWW == global LWW), including tombstones and derived columns."""
    from opengin_ingestion_spark.plans.replay import (
        PAGES_SCHEMA,
        TRANSFORM_FIELDS,
        pages_pandas_transform,
    )
    from opengin_ingestion_spark.sources.changelog import (
        ChangeLogSpec,
        generate_changelog,
    )
    from opengin_ingestion_spark.sources.gintable import GinTable
    from opengin_ingestion_spark.sources.reader import read_changelog

    d = str(tmp_path / "hotlog")
    generate_changelog(
        d, ChangeLogSpec(n_events=8_000, n_urls=300, n_batches=2, seed=11,
                         zipf_s=2.5)
    )
    df = read_changelog(spark, d)

    def run(flag: bool, name: str):
        t = GinTable.create(
            spark, str(tmp_path / name), PAGES_SCHEMA, n_buckets=8,
            heavy_columns=("html", "text"),
        )
        merge_batch(
            t, df, batch_id=0,
            pandas_transform=pages_pandas_transform,
            transform_fields=TRANSFORM_FIELDS,
            hot_key_prereduce=flag,
        )
        return t

    a = run(False, "plain")
    b = run(True, "prereduced")
    rows_a = sorted(map(tuple, a.read(include_internal=True).collect()))
    rows_b = sorted(map(tuple, b.read(include_internal=True).collect()))
    assert rows_a == rows_b
