"""Seeded inputs for the benchmark workloads.

Everything the engine sees is generated here from the run's ``--seed``:
the same seed gives byte-identical files. The engine only receives the
files; the benchmark keeps the event metadata it needs for its oracles.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from opengin_ingestion_spark.sources.changelog import (
    CHANGE_SCHEMA_V1,
    ChangeLogSpec,
    generate_changelog,
    make_html,
)

# --- serve: base change log + a fixed sequence of small delta files ----------


def base_log(log_dir: str, seed: int, n_events: int, n_urls: int) -> ChangeLogSpec:
    """The zipf base log the serve table is backfilled from (repo generator)."""
    spec = ChangeLogSpec(n_events=n_events, n_urls=n_urls, n_batches=4, seed=seed)
    generate_changelog(log_dir, spec)
    return spec


def delta_tables(
    spec: ChangeLogSpec, seed: int, n_rounds: int, events_per_round: int
) -> list[pa.Table]:
    """One small change batch per serve round, continuing the base log.

    Urls are zipf-drawn from the base log's url space (hot urls recur);
    ``seq`` continues past the base log so every event has a unique LWW
    tiebreak; ``warc_ts`` keeps the generator's ±1 h jitter, so some delta
    events are older than the row they target and must lose. Html is the
    generator's pure ``make_html(url, seq)``, which the oracle recomputes.
    """
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, spec.n_urls + 1, dtype=np.float64) ** (-spec.zipf_s)
    probs = ranks / ranks.sum()
    out = []
    seq0 = spec.n_events
    for _ in range(n_rounds):
        seqs = np.arange(seq0, seq0 + events_per_round, dtype=np.int64)
        seq0 += events_per_round
        url_ranks = rng.choice(spec.n_urls, size=events_per_round, p=probs)
        draw = rng.random(events_per_round)
        jitter = rng.integers(-spec.jitter_us, spec.jitter_us, size=events_per_round)
        urls = [spec.url(int(u)) for u in url_ranks]
        ops = np.where(draw < spec.p_delete, "D", "U").tolist()
        htmls = [make_html(u, int(s)) for u, s in zip(urls, seqs)]
        cols = {
            "seq": pa.array(seqs, pa.int64()),
            "op": pa.array(ops, pa.string()),
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                spec.base_ts_us + seqs * 1_000_000 + jitter, pa.timestamp("us")
            ),
            "html": pa.array(htmls, pa.binary()),
            "content_len": pa.array([len(h) for h in htmls], pa.int32()),
        }
        out.append(
            pa.Table.from_arrays([cols[f.name] for f in CHANGE_SCHEMA_V1], schema=CHANGE_SCHEMA_V1)
        )
    return out


def land_file(table: pa.Table, log_dir: str, name: str) -> str:
    """Write ``table`` next to the log and rename it in, so a tail listing
    the directory never sees a half-written file."""
    final = os.path.join(log_dir, name)
    tmp = os.path.join(os.path.dirname(log_dir), f".landing-{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


def lookup_urls(spec: ChangeLogSpec, seed: int, n_rounds: int, per_round: int) -> list[list[str]]:
    """Zipf-chosen point-read keys per round; one read in eight asks for a
    url outside the log's url space (absent), and zipf hot urls include
    deleted ones."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, spec.n_urls + 1, dtype=np.float64) ** (-spec.zipf_s)
    probs = ranks / ranks.sum()
    n = n_rounds * per_round
    keys = [spec.url(int(u)) for u in rng.choice(spec.n_urls, size=n, p=probs)]
    for i in range(3, n, 8):
        keys[i] = spec.url(spec.n_urls + int(rng.integers(0, 1_000_000)))
    return [keys[i : i + per_round] for i in range(0, n, per_round)]


# --- curate: a synthetic document corpus with planted decisions ---------------

_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def corpus(path: str, seed: int, n_docs: int) -> dict:
    """Write a (doc_id, text) Parquet corpus and return the planted ids.

    Mix: 80% distinct prose-like documents (a 5,000-word vocabulary with
    stopwords, 40–120 tokens), 5% exact copies of a distinct document, 10%
    near duplicates (one token of a distinct document replaced), and the
    rest split between too-short, punctuation-soup (low quality) and null
    documents, so every curate decision fires.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(5000)] + _STOPWORDS * 60)
    n_base = int(n_docs * 0.80)
    n_exact = n_docs // 20
    n_near = n_docs // 10
    n_short = n_low = (n_docs - n_base - n_exact - n_near) // 3
    n_null = n_docs - n_base - n_exact - n_near - n_short - n_low
    texts: list[str | None] = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 121)))])
        for _ in range(n_base)
    ]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    for j in range(n_near):
        words = texts[int(rng.integers(0, n_base))].split(" ")
        words[int(rng.integers(0, len(words)))] = f"variant{j}"
        texts.append(" ".join(words))
    texts += [f"tiny doc {j}" for j in range(n_short)]
    texts += [f"!!x.. ?,y;; :!z,, ..!! ;;?? q{j}; w!! e?? r.." for j in range(n_low)]
    texts += [None] * n_null
    # shuffle ids so planted docs are spread over files and partitions
    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts))
    order = np.argsort(doc_id)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_id[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }),
        path,
    )
    # every copy of a text except its smallest id must be decided exact_dup
    # (the quality filters pass every prose document, copies included)
    ids_by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts[: n_base + n_exact]):
        ids_by_text.setdefault(t, []).append(int(doc_id[i]))
    exact_dups = sorted(i for ids in ids_by_text.values() for i in sorted(ids)[1:])
    return {"n_docs": len(texts), "exact_dup_ids": exact_dups}
