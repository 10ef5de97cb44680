"""Per-layer metrics of a traced run, named by the engine module they time.

Every traced run reports every layer. A workload's own timed ops reach
only some layers, so after them the traced run also sets up and runs
the other workload once at its small ``PROBE`` size: the layers that
workload reaches are then measured too (on the probe's inputs, which is
what their numbers describe in this run). See perfbench/METRICS.md for
which end-to-end metric each layer should move, and where.

Times are medians over the timed ops; counts come from the first timed
op (``op-0``), so they repeat exactly for a given seed however many ops
fit in the run.
"""

from __future__ import annotations

import os
import statistics


def sweep_and_collect(spark, tracer, wl, work, seed, workloads, lat, session_s) -> dict:
    """Run the other workloads' probes, then return ``{name: (value, unit)}``."""
    for name, cls in workloads.items():
        if isinstance(wl, cls):
            continue
        tracer.op = "probe-setup"
        other = cls(spark, tracer, os.path.join(work, f"probe-{name}"), seed, cls.PROBE)
        other.setup()
        tracer.op = "probe-op-0"
        if not other.op():
            raise RuntimeError(f"{name} probe op failed its checks")
        tracer.op = "probe-decompose"
        other.decompose()
    return collect(tracer, lat, session_s)


def collect(tr, lat, session_s) -> dict:
    def spans(name, first=False):
        out = [
            s for s in tr.spans
            if s.name == name and (s.op.endswith("op-0") if first else "op-" in s.op)
        ]
        if not out:
            raise LookupError(f"no timed span named {name}")
        return out

    def one(name):
        out = [s for s in tr.spans if s.name == name]
        if len(out) != 1:
            raise LookupError(f"expected one span named {name}, got {len(out)}")
        return out[0]

    def dur(s):
        return s.end - s.start

    def med(xs):
        return statistics.median(list(xs))

    replay = one("plans.replay")
    tails = spans("streaming.tail")
    tail0 = spans("streaming.tail", first=True)[0]
    merges0 = tail0.attrs["merges"]

    def merge_sum(key, merges=merges0):
        return sum(m[key] for m in merges)

    extract, lang = one("functions.extract.text"), one("functions.extract.lang")
    compact = one("operators.compact")
    curate0 = spans("plans.curate", first=True)[0]
    return {
        "session.start_s": (session_s, "s"),
        "replay.s": (dur(replay), "s"),
        "replay.jobs": (replay.jobs, "count"),
        "replay.tasks": (replay.tasks, "count"),
        "replay.events_per_s": (replay.attrs["events"] / dur(replay), "1/s"),
        "merge.s": (med(merge_sum("merge_seconds", s.attrs["merges"]) for s in tails), "s"),
        "merge.events_in": (merge_sum("events_in"), "count"),
        "merge.buckets_rewritten": (merge_sum("buckets_rewritten"), "count"),
        "merge.rows_written": (merge_sum("rows_written"), "count"),
        "merge.rows_rewritten_per_event": (
            merge_sum("rows_written") / merge_sum("events_in"), "ratio"),
        "merge.bytes_written_per_input_byte": (
            merge_sum("bytes_written") / merge_sum("bytes_in"), "ratio"),
        "extract.docs_per_s": (extract.attrs["docs"] / dur(extract), "1/s"),
        "lang.docs_per_s": (lang.attrs["docs"] / dur(lang), "1/s"),
        "reader.infer_schema_s": (dur(one("sources.reader.infer_log_schema")), "s"),
        "tail.drain_s": (med(dur(s) for s in tails), "s"),
        "tail.micro_batches": (len(merges0), "count"),
        "tail.overhead_s": (
            med(dur(s) - merge_sum("merge_seconds", s.attrs["merges"]) for s in tails), "s"),
        "tail.jobs": (tail0.jobs, "count"),
        "tail.tasks": (tail0.tasks, "count"),
        "follow.poll_s": (med(dur(s) for s in spans("streaming.follow")), "s"),
        "follow.poll_self_s": (med(tr.self_seconds(s) for s in spans("streaming.follow")), "s"),
        "follow.apply_s": (med(dur(s) for s in spans("follow.apply")), "s"),
        "follow.rows": (sum(s.attrs["rows"] for s in spans("follow.apply", first=True)), "count"),
        "follow.jobs": (spans("streaming.follow", first=True)[0].jobs, "count"),
        "gintable.lookup_s": (med(dur(s) for s in spans("gintable.lookup")), "s"),
        "gintable.lookup_tasks": (
            sum(s.tasks for s in spans("gintable.lookup", first=True)), "count"),
        "gintable.table_changes_s": (dur(one("gintable.table_changes")), "s"),
        "gintable.scan_s": (dur(one("gintable.scan")), "s"),
        "gintable.snapshot_s": (dur(one("gintable.snapshot")), "s"),
        "gintable.live_files": (tail0.attrs["live_files"], "count"),
        "gintable.heavy_files": (tail0.attrs["heavy_files"], "count"),
        "gintable.versions": (tail0.attrs["versions"], "count"),
        "gintable.table_mb": (tail0.attrs["table_mb"], "MB"),
        "compact.s": (dur(compact), "s"),
        "compact.files_before": (compact.attrs["files_before"], "count"),
        "compact.files_after": (compact.attrs["files_after"], "count"),
        "compact.mb_rewritten": (compact.attrs["mb_rewritten"], "MB"),
        "textstats.flags_s": (dur(one("functions.textstats.flags")), "s"),
        "dedup.exact_s": (dur(one("operators.dedup.exact")), "s"),
        "dedup.minhash_pairs_s": (dur(one("operators.dedup.minhash_pairs")), "s"),
        "dedup.pairs": (one("operators.dedup.minhash_pairs").attrs["pairs"], "count"),
        "dedup.groups_s": (dur(one("operators.dedup.groups")), "s"),
        "dedup.groups": (one("operators.dedup.groups").attrs["groups"], "count"),
        "curate.s": (med(dur(s) for s in spans("plans.curate")), "s"),
        "curate.jobs": (curate0.jobs, "count"),
        "curate.stages": (curate0.stages, "count"),
        "curate.tasks": (curate0.tasks, "count"),
        "jvm.gc_s": (tr.counts.gc_seconds(), "s"),
        "trace.op_p50_s": (med(lat), "s"),
        "trace.bookkeeping_s": (tr.bookkeeping_s, "s"),
    }
