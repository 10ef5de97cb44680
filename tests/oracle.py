"""Single-threaded pandas oracle for replay equivalence.

Implements the SAME logical semantics as the engine (LWW by (warc_ts, seq),
I/U upsert, D delete, lang = given-else-detected) with none of the engine's
machinery — plain pandas over pyarrow reads. Text extraction calls the very
same `extract_text_series` the engine's merge transform uses, which is what makes
"byte-identical extracted text per url" checkable.

Mirrors the reference's golden-replay strategy
(/root/reference/python/integration_tests/test_cli_integration.py:43-66):
recompute expected output independently, compare structurally.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from opengin_ingestion_spark.functions.extract import (
    detect_lang_series,
    extract_text_series,
)


def read_log_pandas(log_dir: str) -> pd.DataFrame:
    """Read every batch file, unifying schemas (missing lang → None,
    content_len widened to int64)."""
    frames = []
    for f in sorted(os.listdir(log_dir)):
        if f.endswith(".parquet"):
            frames.append(pq.read_table(os.path.join(log_dir, f)).to_pandas())
    df = pd.concat(frames, ignore_index=True)
    if "lang" not in df.columns:
        df["lang"] = None
    df["content_len"] = df["content_len"].astype("int64")
    return df


def oracle_final_state(log_dir: str) -> pd.DataFrame:
    """Expected `pages` table after full replay: one row per live url."""
    return oracle_final_state_from_events(read_log_pandas(log_dir))


def oracle_final_state_from_events(df: pd.DataFrame) -> pd.DataFrame:
    """Same as oracle_final_state but over an in-memory event frame (for
    tests that merge a filtered subset of a log)."""
    df = df.copy()
    if "lang" not in df.columns:
        df["lang"] = None
    df["content_len"] = df["content_len"].astype("int64")
    # LWW winner per url: max (warc_ts, seq). Whole-row selection —
    # NOT groupby().last(), which back-fills NaN columns from LOSING events.
    df = df.sort_values(["warc_ts", "seq"]).drop_duplicates(subset="url", keep="last")
    df = df[df["op"] != "D"].copy()
    df["text"] = extract_text_series(df["html"])
    detected = detect_lang_series(df["text"])
    df["lang"] = df["lang"].where(df["lang"].notna(), detected)
    df["html"] = df["html"].map(lambda b: None if b is None else bytes(b))
    out = df[["url", "warc_ts", "html", "text", "lang", "content_len", "seq"]]
    return out.sort_values("url").reset_index(drop=True)


def normalize_engine_state(pdf: pd.DataFrame) -> pd.DataFrame:
    """Engine table → oracle-comparable frame."""
    pdf = pdf.copy()
    if "_deleted" in pdf.columns:  # drop tombstones from the comparison view
        pdf = pdf[~pdf["_deleted"].fillna(False)]
    pdf["html"] = pdf["html"].map(lambda b: None if b is None else bytes(b))
    if pdf["warc_ts"].dt.tz is None:
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    if "_seq" in pdf.columns:
        pdf = pdf.rename(columns={"_seq": "seq"})
    cols = ["url", "warc_ts", "html", "text", "lang", "content_len", "seq"]
    return pdf[cols].sort_values("url").reset_index(drop=True)


def assert_states_equal(engine_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> None:
    eng = normalize_engine_state(engine_pdf)
    ora = oracle_pdf.copy()
    ora["warc_ts"] = pd.to_datetime(ora["warc_ts"], utc=True)
    ora["content_len"] = ora["content_len"].astype("int64")
    eng["content_len"] = eng["content_len"].astype("int64")
    pd.testing.assert_frame_equal(eng, ora, check_dtype=False)
    # explicit byte-identity check on text (the input_hint invariant)
    assert (eng["text"] == ora["text"]).all()
