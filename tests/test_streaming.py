"""Streaming tests: AvailableNow replay, kill/resume from checkpoint,
exactly-once across restart, dead-letter split, mid-stream schema drift
(SURVEY.md §5)."""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from opengin_ingestion_spark.sources.gintable import GinTable
from opengin_ingestion_spark.streaming.tail import tail_changelog
from tests.oracle import assert_states_equal, oracle_final_state


def test_streaming_availablenow_matches_oracle(spark, tiny_log, tmp_path):
    q = tail_changelog(
        spark,
        tiny_log["dir"],
        str(tmp_path / "pages"),
        str(tmp_path / "ckpt"),
        n_buckets=16,
        max_files_per_trigger=3,
        available_now=True,
    )
    assert q.awaitTermination(300)
    table = GinTable.load(spark, str(tmp_path / "pages"))
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))
    # 8 files / 3 per trigger = 3 micro-batches, each applied exactly once
    snap = table.current_snapshot()
    assert snap["applied_batch_ranges"] == [[0, 2]]


def test_streaming_resume_from_checkpoint(spark, tiny_log, tmp_path):
    """Kill the query mid-replay, restart with the same checkpoint →
    completes with no duplicates or gaps; final state matches oracle."""
    # phase 1: one file per trigger; stop as soon as some (not all) batches
    # are applied. Under load the stream can drain everything before the
    # poll loop catches it mid-replay — retry with a fresh dir (the timing
    # is environmental, not a property under test).
    for attempt in range(3):
        table_path = str(tmp_path / f"pages{attempt}")
        ckpt = str(tmp_path / f"ckpt{attempt}")
        q = tail_changelog(
            spark, tiny_log["dir"], table_path, ckpt,
            n_buckets=16, max_files_per_trigger=1, available_now=True,
        )
        deadline = time.time() + 300
        while time.time() < deadline:
            if GinTable.exists(table_path):
                t = GinTable.load(spark, table_path)
                v = t.current_version()
                if v and v >= 2:
                    break
            time.sleep(0.05)
        q.stop()
        q.awaitTermination(60)
        t = GinTable.load(spark, table_path)
        v_mid = t.current_version()
        if 0 < v_mid < tiny_log["n_batches"]:
            break
    assert 0 < v_mid < tiny_log["n_batches"], "should have stopped mid-replay"

    # phase 2: restart from the same checkpoint; drain the rest
    q2 = tail_changelog(
        spark, tiny_log["dir"], table_path, ckpt,
        n_buckets=16, max_files_per_trigger=1, available_now=True,
    )
    assert q2.awaitTermination(300)

    t = GinTable.load(spark, table_path)
    engine = t.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))
    # every micro-batch id applied exactly once, no gaps
    snap = t.current_snapshot()
    assert snap["applied_batch_ranges"] == [[0, tiny_log["n_batches"] - 1]]
    # each non-empty commit consumed a distinct batch id
    bids = [
        s["metrics"].get("batch_id")
        for s in t.history()
        if s["metrics"].get("batch_id") is not None
    ]
    assert len(bids) == len(set(bids))


def test_dead_letter_split(spark, tiny_log, tmp_path):
    """A poisoned batch file: bad rows land in the dead-letter dir with
    reasons; good rows are merged; the run completes."""
    import shutil

    log2 = str(tmp_path / "log_poison")
    shutil.copytree(tiny_log["dir"], log2)
    # craft a poison batch: bad op, null url, ftp scheme, null html upsert
    ts = pa.array([1_700_000_000_000_000] * 4, pa.timestamp("us", tz="UTC"))
    bad = pa.table(
        {
            "seq": pa.array([900001, 900002, 900003, 900004], pa.int64()),
            "op": pa.array(["X", "I", "I", "I"]),
            "url": pa.array(["https://ok.example.com/1", None, "ftp://bad", "https://ok.example.com/2"]),
            "warc_ts": ts,
            "html": pa.array([b"<p>a</p>", b"<p>b</p>", b"<p>c</p>", None], pa.binary()),
            "content_len": pa.array([8, 8, 8, None], pa.int32()),
        }
    )
    pq.write_table(bad, os.path.join(log2, "batch_00099.parquet"))

    dl = str(tmp_path / "dead")
    q = tail_changelog(
        spark, log2, str(tmp_path / "pages"), str(tmp_path / "ckpt"),
        n_buckets=16, available_now=True, dead_letter_dir=dl,
    )
    assert q.awaitTermination(300)

    dead = spark.read.parquet(dl)
    reasons = {r["reason"] for r in dead.select("reason").collect()}
    assert reasons == {"bad_op", "null_url", "bad_url_scheme", "null_html_on_upsert"}
    assert dead.count() == 4
    # the clean events still merged to the oracle state
    table = GinTable.load(spark, str(tmp_path / "pages"))
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(tiny_log["dir"]))


def test_streaming_over_evolving_log(spark, evolving_log, tmp_path):
    """Regression: streaming the whole evolving log (source schema already
    includes `lang`, which the transform also declares) must not produce a
    duplicate column — final state matches the oracle."""
    q = tail_changelog(
        spark, evolving_log["dir"], str(tmp_path / "pages"), str(tmp_path / "ckpt"),
        n_buckets=16, max_files_per_trigger=3, available_now=True,
    )
    assert q.awaitTermination(300)
    table = GinTable.load(spark, str(tmp_path / "pages"))
    sch = table.schema()
    assert sch.fieldNames().count("lang") == 1
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(evolving_log["dir"]))


def test_supervised_tail_restarts_on_midstream_schema_drift(
    spark, evolving_log, tmp_path
):
    """The supervisor closes the fixed-stream-schema gap end-to-end: a tail
    is started over the pre-evolution half of the log; the post-evolution
    files (new `lang` column, widened content_len) land while it runs; the
    supervisor kills the query BEFORE the drifted batch merges, re-infers,
    restarts from the checkpoint, and the final state equals the batch
    oracle over the WHOLE log — no silently dropped columns."""
    import glob
    import os
    import shutil
    import threading
    import time

    from opengin_ingestion_spark.streaming.tail import supervised_tail

    src_files = sorted(glob.glob(os.path.join(evolving_log["dir"], "*.parquet")))
    assert len(src_files) == 8  # evolution_k=4 → files 0-3 v1, 4-7 v2
    live = str(tmp_path / "live_log")
    os.makedirs(live)
    for f in src_files[:4]:
        shutil.copy(f, live)
    ckpt = str(tmp_path / "ckpt")

    def add_evolved_files():
        # wait until the first micro-batch is planned, then land the
        # evolved era mid-run (the query still has ≥3 batches to go at
        # maxFilesPerTrigger=1, so this is mid-stream, not post-drain)
        deadline = time.time() + 120
        while not os.path.exists(os.path.join(ckpt, "offsets", "0")):
            if time.time() > deadline:
                return
            time.sleep(0.05)
        for f in src_files[4:]:
            # atomic landing (temp name + rename, the changelog writer's
            # publish convention): the live file source / supervisor footer
            # peek must never observe a partially copied parquet
            tmp = os.path.join(live, "." + os.path.basename(f) + ".tmp")
            shutil.copy(f, tmp)
            os.rename(tmp, os.path.join(live, os.path.basename(f)))

    t = threading.Thread(target=add_evolved_files)
    t.start()
    res = supervised_tail(
        spark, live, str(tmp_path / "pages"), ckpt,
        n_buckets=8, max_files_per_trigger=1, available_now=True,
    )
    t.join()
    assert res["restarts"] >= 1, "drift must force at least one restart"
    assert "lang" in res["schema"].fieldNames()
    table = GinTable.load(spark, str(tmp_path / "pages"))
    engine = table.read(include_internal=True).toPandas()
    assert_states_equal(engine, oracle_final_state(live))
    # post-evolution winners carry their log-provided lang
    assert table.read().filter("lang is not null").count() > 0
