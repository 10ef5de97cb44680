"""The benchmark's workloads, driven only through the engine's public API.

Each workload is a closed loop with one client: ``setup()`` builds the
inputs and runs one untimed op of the exact measured shape (codegen, JIT
and Python-worker start-up are paid there), then ``op()`` is called
until the run's time is up. Every op checks its own outputs; ``final()``
checks the end state. ``decompose()`` runs only in the traced run: it
calls the workload's layers one at a time so their costs can be told
apart.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from opengin_ingestion_spark.functions.extract import (
    detect_lang_series,
    extract_text_series,
)
from opengin_ingestion_spark.functions.textstats import quality_score, token_count
from opengin_ingestion_spark.operators.compact import compact
from opengin_ingestion_spark.operators.dedup import (
    dedup_groups,
    exact_dedup,
    minhash_lsh_pairs,
)
from opengin_ingestion_spark.plans.curate import CurateConfig, curate_documents
from opengin_ingestion_spark.plans.replay import replay_changelog
from opengin_ingestion_spark.sources.changelog import make_html
from opengin_ingestion_spark.sources.gintable import table_changes
from opengin_ingestion_spark.sources.reader import infer_log_schema
from opengin_ingestion_spark.streaming.follow import follow_changes
from opengin_ingestion_spark.streaming.tail import supervised_tail
from perfbench import inputs

# Streaming batch ids start at 0; the backfill commits under an id far
# above them so the tail's first micro-batch is not mistaken for it.
BACKFILL_BATCH_ID = 1_000_000_000
# longer than any log's event-time span: no tombstone expires, so
# table_changes never meets an expiry inside a followed range
TOMBSTONE_RETENTION_S = 10 * 365 * 24 * 3600.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Serve:
    """Backfill a base log, then rounds of: land a small delta file, drain
    it with the supervised tail, deliver the new versions through
    ``follow_changes``, and make zipf point reads."""

    FULL = {"base_events": 20_000, "n_urls": 2_000, "delta_events": 200,
            "lookups": 2, "max_rounds": 40, "maintenance_every": 4}
    PROBE = {"base_events": 1_000, "n_urls": 100, "delta_events": 50,
             "lookups": 2, "max_rounds": 2, "maintenance_every": 4}

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.base_dir = os.path.join(work, "base_log")
        self.log_dir = os.path.join(work, "tail_log")
        self.table_dir = os.path.join(work, "pages")
        self.tail_ckpt = os.path.join(work, "tail_ckpt")
        self.follow_ckpt = os.path.join(work, "follow_ckpt.json")
        self.round = 0
        self.delivered: list[tuple[int, int]] = []
        self.lookup_s: list[float] = []
        self.fresh_s: list[float] = []
        self.changes_s: list[float] = []
        self.items_per_op = size["delta_events"]

    # -- oracle ---------------------------------------------------------------

    def _apply_events(self, df: pd.DataFrame) -> None:
        """Fold events into the LWW oracle: per url the (warc_ts, seq)-max
        event wins; a winning 'D' hides the url from reads."""
        df = df.sort_values(["warc_ts", "seq"]).drop_duplicates("url", keep="last")
        for url, ts, seq, op in zip(df["url"], df["warc_ts"], df["seq"], df["op"]):
            cur = self.state.get(url)
            if cur is None or (ts, seq) > cur[:2]:
                self.state[url] = (ts, int(seq), op)

    def _expect(self, url: str):
        w = self.state.get(url)
        return None if w is None or w[2] == "D" else w

    # -- lifecycle ------------------------------------------------------------

    def setup(self) -> None:
        sz = self.size
        with self.tr.span("inputs"):
            self.spec = inputs.base_log(self.base_dir, self.seed, sz["base_events"], sz["n_urls"])
            self.deltas = inputs.delta_tables(
                self.spec, self.seed, sz["max_rounds"] + 1, sz["delta_events"]
            )
            self.keys = inputs.lookup_urls(self.spec, self.seed, sz["max_rounds"] + 1, sz["lookups"])
            os.makedirs(self.log_dir)
        with self.tr.span("plans.replay", events=sz["base_events"]) as a:
            self.table, results = replay_changelog(
                self.spark, self.base_dir, self.table_dir, n_buckets=None,
                batch_id=BACKFILL_BATCH_ID,
            )
            a["merge"] = results[0].metrics
        self.state: dict = {}
        self._apply_events(pq.read_table(self.base_dir, columns=["seq", "op", "url", "warc_ts"]).to_pandas())
        self.version = self.table.current_version()
        # untimed catch-up: the consumer starts from the backfilled version
        follow_changes(self.table, lambda *a: None, self.follow_ckpt,
                       until_version=self.version, poll_seconds=0.01)
        self.base_version = self.version
        ok = self.op()  # warm-up round of the measured shape, untimed
        self.fresh_s.clear()
        self.changes_s.clear()
        self.lookup_s.clear()
        if not ok:
            raise RuntimeError("serve warm-up round failed its checks")

    def _deliver(self, delta, frm: int, to: int) -> None:
        obs = Observation(f"rows_{frm}_{to}")
        with self.tr.span("follow.apply") as a:
            noop(delta.observe(obs, F.count(F.lit(1)).alias("rows")))
            a["rows"] = obs.get["rows"]
        self.delivered.append((frm, to))
        self.delivered_rows = a["rows"]

    def op(self) -> bool:
        """One round; returns whether every check in it passed."""
        r, sz, ok = self.round, self.size, True
        self.round += 1
        delta = self.deltas[r]
        t0 = time.perf_counter()
        inputs.land_file(delta, self.log_dir, f"delta_{r:05d}.parquet")
        with self.tr.span("streaming.tail") as a:
            supervised_tail(
                self.spark, self.log_dir, self.table_dir, self.tail_ckpt,
                n_buckets=None, available_now=True,
                maintenance_every=sz["maintenance_every"],
                tombstone_retention_seconds=TOMBSTONE_RETENTION_S,
            )
        t1 = time.perf_counter()
        new_version = self.table.current_version()
        if self.tr.enabled:
            snaps = [self.table.snapshot(v) for v in range(self.version + 1, new_version + 1)]
            a["merges"] = [s["metrics"] for s in snaps if "events_in" in s["metrics"]]
            a["live_files"] = len(snaps[-1]["files"])
            a["heavy_files"] = sum(f.get("family") == "heavy" for f in snaps[-1]["files"])
            a["table_mb"] = sum(f["bytes"] for f in snaps[-1]["files"]) / 2**20
            a["versions"] = new_version
        with self.tr.span("streaming.follow"):
            res = follow_changes(
                self.table, self._deliver, self.follow_ckpt,
                until_version=new_version, poll_seconds=0.01,
            )
        t2 = time.perf_counter()
        self._apply_events(delta.select(["seq", "op", "url", "warc_ts"]).to_pandas())
        for url in self.keys[r]:
            t = time.perf_counter()
            with self.tr.span("gintable.lookup"):
                rows = self.table.lookup(url).collect()
            self.lookup_s.append(time.perf_counter() - t)
            ok &= self._check_row(url, rows)
        self.fresh_s.append(t1 - t0)
        self.changes_s.append(t2 - t1)
        # exactly once: this poll covers (previous version, new version]
        ok &= res["applied_ranges"] == [(self.version, new_version)] and new_version > self.version
        ok &= self.delivered_rows > 0
        self.version = new_version
        return bool(ok)

    def _check_row(self, url: str, rows) -> bool:
        want = self._expect(url)
        if want is None:
            return not rows
        if len(rows) != 1:
            return False
        html = make_html(url, want[1])
        text = extract_text_series(pd.Series([html], dtype=object))[0]
        row = rows[0]
        return bytes(row["html"]) == html and row["text"] == text

    def final(self) -> bool:
        """End state against the oracle: live urls, hidden tombstones,
        byte-identical text on a seeded sample, and an unbroken chain of
        delivered versions."""
        got = self.table.read().select("url", "text").toPandas()
        live = {u for u in self.state if self._expect(u) is not None}
        ok = len(got) == len(live) and set(got["url"]) == live
        sample = sorted(live)[:: max(1, len(live) // 200)]
        want = extract_text_series(
            pd.Series([make_html(u, self.state[u][1]) for u in sample], dtype=object)
        )
        texts = dict(zip(got["url"], got["text"]))
        ok &= all(texts.get(u) == t for u, t in zip(sample, want))
        chain = [v for rng in self.delivered for v in rng]
        ok &= chain[0] == self.base_version
        ok &= all(a == b for a, b in zip(chain[1::2], chain[2::2]))
        ok &= chain[-1] == self.table.current_version()
        return bool(ok)

    def report(self) -> dict:
        snap = self.table.current_snapshot()
        return {
            "freshness_p50_s": (statistics.median(self.fresh_s), "s", len(self.fresh_s)),
            "changes_p50_s": (statistics.median(self.changes_s), "s", len(self.changes_s)),
            "lookup_p50_s": (statistics.median(self.lookup_s), "s", len(self.lookup_s)),
            "lookup_p90_s": (
                statistics.quantiles(self.lookup_s, n=10)[-1] if len(self.lookup_s) > 1
                else self.lookup_s[0], "s", len(self.lookup_s),
            ),
            "table_mb": (sum(f["bytes"] for f in snap["files"]) / 2**20, "MB", 1),
        }

    def decompose(self) -> None:
        """Per-layer calls on the final table and logs, each in its span."""
        with self.tr.span("sources.reader.infer_log_schema"):
            infer_log_schema(self.log_dir)
        html = pq.read_table(self.base_dir, columns=["html"]).column("html").to_pylist()[:2000]
        with self.tr.span("functions.extract.text", docs=len(html)):
            text = extract_text_series(pd.Series(html, dtype=object))
        with self.tr.span("functions.extract.lang", docs=len(html)):
            detect_lang_series(text)
        v = self.table.current_version()
        with self.tr.span("gintable.table_changes"):
            noop(table_changes(self.table, v - 1, v))
        with self.tr.span("gintable.snapshot"):
            snap = self.table.current_snapshot()
        with self.tr.span("gintable.scan"):
            noop(self.table.read())
        with self.tr.span("operators.compact", files_before=len(snap["files"])) as a:
            after = compact(self.table, max_files_per_bucket=1)
            kept = {f["path"] for f in after["files"]}
            a["files_after"] = len(after["files"])
            a["mb_rewritten"] = sum(
                f["bytes"] for f in snap["files"] if f["path"] not in kept
            ) / 2**20


class Curate:
    """Curate a seeded corpus: quality flags, exact and near dedup, and a
    decision for every document."""

    FULL = {"docs": 1_000}
    PROBE = {"docs": 300}

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.path = os.path.join(work, "docs.parquet")
        self.items_per_op = size["docs"]
        os.makedirs(work, exist_ok=True)

    def setup(self) -> None:
        with self.tr.span("inputs"):
            self.planted = inputs.corpus(self.path, self.seed, self.size["docs"])
        if not self.op():  # warm-up op of the measured shape, untimed
            raise RuntimeError("curate warm-up op failed its checks")

    def op(self) -> bool:
        """One curate call: the kept corpus goes to a noop sink and the
        (id, decision) report to the driver, where it is checked."""
        with self.tr.span("plans.curate"):
            docs = self.spark.read.parquet(self.path)
            kept, decisions = curate_documents(docs)
            noop(kept)
            rows = decisions.select("doc_id", "decision").collect()
        dec = {r["doc_id"]: r["decision"] for r in rows}
        return (
            len(rows) == len(dec) == self.planted["n_docs"]
            and all(dec.get(i) == "exact_dup" for i in self.planted["exact_dup_ids"])
            and set(dec.values()) == {
                "kept", "null_text", "too_short", "low_quality", "exact_dup", "near_dup"
            }
        )

    def final(self) -> bool:
        return True

    def report(self) -> dict:
        return {}

    def decompose(self) -> None:
        """The curate stages one at a time, each materialised in its span
        so the next stage reads it instead of recomputing it."""
        cfg = CurateConfig()
        docs = self.spark.read.parquet(self.path)
        with self.tr.span("functions.textstats.flags"):
            flags = docs.select(
                "doc_id", quality_score("text").alias("_q"), token_count("text").alias("_tok")
            ).localCheckpoint(eager=True)
        ok = flags.filter(
            (F.col("_tok") >= cfg.min_tokens) & (F.col("_q") >= cfg.min_quality)
        ).select("doc_id")
        quality_ok = docs.filter(F.col("text").isNotNull()).join(ok, "doc_id", "left_semi")
        with self.tr.span("operators.dedup.exact"):
            keep = exact_dedup(
                quality_ok.select("doc_id", F.md5("text").alias("_fp")), ["_fp"], "doc_id"
            ).select("doc_id").localCheckpoint(eager=True)
        survivors = quality_ok.join(keep, "doc_id", "left_semi")
        with self.tr.span("operators.dedup.minhash_pairs") as a:
            pairs = minhash_lsh_pairs(
                survivors, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands,
                threshold=cfg.near_dup_threshold,
            ).localCheckpoint(eager=True)
        a["pairs"] = pairs.count()
        with self.tr.span("operators.dedup.groups") as a:
            groups = dedup_groups(pairs).localCheckpoint(eager=True)
        a["groups"] = groups.select("group").distinct().count()


WORKLOADS = {"serve": Serve, "curate": Curate}
