"""Deterministic synthetic CDC change-log generator (seeded, no external data).

Models a binlog/WAL of Common-Crawl-style page changes per FIXTURES.md F2:

  changes(seq bigint, op string 'I'|'U'|'D', url string,
          warc_ts timestamp, html binary, content_len int|bigint,
          [lang string])

* urls follow a zipfian distribution (hot-url skew — exercises the
  merge's bucket-local LWW under a concentrated partition and AQE skew
  joins),
* warc_ts carries out-of-order jitter (exercises LWW ordering),
* html is a pure function of (url, seq) so the oracle can derive the
  expected extracted text independently,
* schema evolves mid-log at batch ``evolution_k``: `lang` added (additive)
  and `content_len` widened int32→int64 (type widening),
* one Parquet file per micro-batch (written with pyarrow so the *physical*
  per-batch schema is exactly controlled).

This mirrors how the reference fabricates deterministic inputs for its
hermetic tests (mock Gemini mode,
/root/reference/python/src/opengin/tracer/services/gemini.py:126-143) —
but generates at arbitrary scale.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Logical schema versions of the change log (see operators/evolution.py for
# the safe-cast lattice that reconciles them on the table side).
CHANGE_SCHEMA_V1 = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        # naive microseconds (values ARE UTC wall-clock) — matches the
        # /root/testdata convention; a tz="UTC" annotation here makes the
        # DuckDB oracle return tz-aware dtypes while Spark returns naive,
        # failing the driver's tz-kind-sensitive compare (round-3 red cell)
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("content_len", pa.int32()),
    ]
)
CHANGE_SCHEMA_V2 = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),  # naive UTC — see CHANGE_SCHEMA_V1
        ("html", pa.binary()),
        ("content_len", pa.int64()),  # widened
        ("lang", pa.string()),  # additive
    ]
)

_WORDS = (
    "the quick brown fox jumps over lazy dog and runs to market with "
    "fresh data from web archive crawl index page content text value"
).split()
_DE_WORDS = "der die das und ist nicht ein mit von seite inhalt daten".split()
_FR_WORDS = "le la les et est une dans pour que page contenu texte".split()


def _words_for(url: str, seq: int, n: int) -> list[str]:
    """Deterministic word sample from a (url, seq)-keyed hash stream."""
    h = hashlib.sha256(f"{url}|{seq}".encode()).digest()
    # choose language pool deterministically per url (most pages English)
    pool_pick = h[0] % 10
    pool = _WORDS if pool_pick < 8 else (_DE_WORDS if pool_pick == 8 else _FR_WORDS)
    out = []
    stream = hashlib.sha256(h).digest()
    i = 0
    while len(out) < n:
        if i >= len(stream):
            stream = hashlib.sha256(stream).digest()
            i = 0
        out.append(pool[stream[i] % len(pool)])
        i += 1
    return out


def make_html(url: str, seq: int) -> bytes:
    """Pure deterministic HTML for a change event. Template includes tags,
    script/style noise, entities, and irregular whitespace so extraction is
    non-trivial."""
    words = _words_for(url, seq, 40)
    title = " ".join(words[:5])
    paras = [
        " ".join(words[5:20]),
        " ".join(words[20:33]) + " &amp; more &nbsp; v" + str(seq),
        " ".join(words[33:40]),
    ]
    body = "\n".join(f"  <p class='c{i}'>{p}</p>" for i, p in enumerate(paras))
    html = (
        f"<html><head><title>{title}</title>\n"
        f"<style>.c0 {{color: red}}</style>\n"
        f"<script>var x = {seq};</script></head>\n"
        f"<body>\n <h1>{title}</h1>\n{body}\n"
        f"<div><a href='{url}'>self</a>   rev={seq}</div>\n"
        f"</body></html>"
    )
    return html.encode("utf-8")


@dataclass
class ChangeLogSpec:
    """Parameters of a deterministic synthetic change log."""

    n_events: int = 10_000
    n_urls: int = 1_000
    n_batches: int = 10
    seed: int = 42
    zipf_s: float = 1.2
    # batch index at which schema evolves (lang added, content_len widened);
    # None/>=n_batches → no evolution in this log
    evolution_k: int | None = None
    # fraction of ops that are updates / deletes (rest inserts)
    p_update: float = 0.45
    p_delete: float = 0.10
    base_ts_us: int = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
    jitter_us: int = 3_600_000_000  # ±1h out-of-order jitter
    extra: dict = field(default_factory=dict)

    def url(self, rank: int) -> str:
        return f"https://site-{rank % 97:02d}.example.com/page/{rank}"


def _zipf_probs(n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** (-s)
    return p / p.sum()


def generate_changelog(out_dir: str, spec: ChangeLogSpec) -> dict:
    """Write the change log to ``out_dir`` (one parquet per batch).

    Returns a summary dict {n_events, n_batches, files, evolution_k}.
    Idempotent: wipes ``out_dir`` first (generator output, never user data).
    """
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    rng = np.random.RandomState(spec.seed)
    probs = _zipf_probs(spec.n_urls, spec.zipf_s)
    url_ranks = rng.choice(spec.n_urls, size=spec.n_events, p=probs)
    op_draw = rng.random_sample(spec.n_events)
    jitter = rng.randint(-spec.jitter_us, spec.jitter_us, size=spec.n_events)

    seqs = np.arange(spec.n_events, dtype=np.int64)
    warc_ts = spec.base_ts_us + seqs * 1_000_000 + jitter

    urls = [spec.url(int(r)) for r in url_ranks]
    seen: set[int] = set()
    ops = []
    for i in range(spec.n_events):
        r = int(url_ranks[i])
        if r not in seen:
            ops.append("I")
            seen.add(r)
        elif op_draw[i] < spec.p_delete:
            ops.append("D")
        elif op_draw[i] < spec.p_delete + spec.p_update:
            ops.append("U")
        else:
            ops.append("I")  # re-insert (upsert semantics: same as U)
    htmls = [make_html(urls[i], int(seqs[i])) for i in range(spec.n_events)]

    per_batch = max(1, spec.n_events // spec.n_batches)
    files = []
    for b in range(spec.n_batches):
        lo = b * per_batch
        hi = spec.n_events if b == spec.n_batches - 1 else (b + 1) * per_batch
        if lo >= hi:
            continue
        evolved = spec.evolution_k is not None and b >= spec.evolution_k
        schema = CHANGE_SCHEMA_V2 if evolved else CHANGE_SCHEMA_V1
        cols: dict[str, pa.Array] = {
            "seq": pa.array(seqs[lo:hi], pa.int64()),
            "op": pa.array(ops[lo:hi], pa.string()),
            "url": pa.array(urls[lo:hi], pa.string()),
            "warc_ts": pa.array(warc_ts[lo:hi], pa.timestamp("us")),
            "html": pa.array(htmls[lo:hi], pa.binary()),
        }
        lens = [len(h) for h in htmls[lo:hi]]
        if evolved:
            cols["content_len"] = pa.array(lens, pa.int64())
            # lang filled at generation only post-evolution; deterministic
            from opengin_ingestion_spark.functions.extract import (
                detect_lang_series,
                extract_text_series,
            )
            import pandas as pd

            texts = extract_text_series(pd.Series(htmls[lo:hi], dtype=object))
            cols["lang"] = pa.array(detect_lang_series(texts).tolist(), pa.string())
        else:
            cols["content_len"] = pa.array(lens, pa.int32())
        table = pa.Table.from_arrays([cols[f.name] for f in schema], schema=schema)
        path = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        pq.write_table(table, path)
        files.append(path)

    return {
        "n_events": spec.n_events,
        "n_batches": len(files),
        "files": files,
        "evolution_k": spec.evolution_k,
    }


def make_duplicated_variant(log_dir: str, out_dir: str, dup_batches: list[int]) -> list[str]:
    """Copy a change log, duplicating the given batch files verbatim
    (duplicate-delivery idempotence fixture, FIXTURES.md F2)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    shutil.copytree(log_dir, out_dir)
    out = sorted(os.listdir(out_dir))
    for b in dup_batches:
        src = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        dst = os.path.join(out_dir, f"batch_{b:05d}_dup.parquet")
        shutil.copy(src, dst)
        out.append(dst)
    return out


def make_shuffled_variant(log_dir: str, out_dir: str, seed: int = 7) -> list[str]:
    """Re-deal all events across the same number of batch files in a seeded
    random permutation (out-of-order delivery fixture). Preserves per-file
    schema era boundaries by shuffling within each schema era."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.RandomState(seed)
    eras: dict[tuple, list[pa.Table]] = {}
    order = []
    for f in sorted(os.listdir(log_dir)):
        t = pq.read_table(os.path.join(log_dir, f))
        key = tuple(t.schema.names)
        eras.setdefault(key, []).append(t)
        order.append((key, f))
    files = []
    for key, tables in eras.items():
        combined = pa.concat_tables(tables)
        idx = rng.permutation(combined.num_rows)
        shuffled = combined.take(pa.array(idx))
        n = len(tables)
        per = max(1, combined.num_rows // n)
        era_files = [f for k, f in order if k == key]
        for i in range(n):
            lo = i * per
            hi = combined.num_rows if i == n - 1 else (i + 1) * per
            path = os.path.join(out_dir, era_files[i])
            pq.write_table(shuffled.slice(lo, hi - lo), path)
            files.append(path)
    return sorted(files)
