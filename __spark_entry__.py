"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every operator family of the engine
(SURVEY.md §2) over the driver's read-only testdata tables; each entry with
an ``oracle_sql()`` twin is exact-matched against DuckDB (row count +
schema + order-insensitive value hash): ALL 43 queries since round 5 —
that includes the flagship ``cdc_replay_pages`` (the oracle replays the
same change-log parquet through a DuckDB window query + the regex
extraction chain), ``lsh_ann_topk`` (seeded hyperplanes injected as a
literal table), the end-to-end ``curate_decisions`` pipeline, the
``media_frame_stats`` multimodal explode, and (new in round 5) the
MinHash and SimHash near-dup pipelines, whose signature schemes are
md5-based precisely so an independent SQL engine can reproduce them
hash-for-hash (_minhash_oracle_sql / _simhash_oracle_sql).

Determinism rules used throughout (so value hashes match):
 * double aggregations go through DECIMAL(18,2/4) (exact), final CAST to
   DOUBLE; plain double arithmetic only in identical textual form.
 * every computed column is aliased identically in Spark and SQL.
 * ties in top-k/windows broken by a unique key.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opengin_ingestion_spark.functions.textstats import (
    PUNCT_RE,
    STOPWORD_RE,
    bpe_ish_token_count,
    fingerprint,
    punct_count,
    quality_score,
    stopword_count,
    token_count,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parallelism-guarded table read for compute-heavy projections: the
    testdata tables are single-row-group parquet files, which scan as ONE
    task no matter the split size — a round-robin repartition (a few MB)
    spreads the downstream regex/expression work across all cores
    (optimization guide §2: the repartition costs far less than running
    the per-row expressions single-threaded). No-op on well-split inputs."""
    from opengin_ingestion_spark.operators.salt import ensure_min_parallelism

    return ensure_min_parallelism(_t(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# CDC-shaped queries over `events` (event_id→seq, user_id→key, ts→warc_ts)
# ---------------------------------------------------------------------------

def q_lww_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A3: last-writer-wins winner per key by (ts, seq), as one
    partial-aggregable ``max_by`` (the merge's pandas equivalent is
    operators/merge.py::lww_last)."""
    ev = _t(spark, sf_dir, "events")
    payload = F.struct("ts", "event_id", "event_type", "value")
    order = F.struct("ts", "event_id")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, order).alias("w"))
        .select(
            "user_id",
            F.col("w.event_type").alias("last_type"),
            F.col("w.value").alias("last_value"),
            F.col("w.ts").alias("last_ts"),
        )
    )


def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE semantics on driver data: 'error' = delete, everything
    else = upsert; final state = live keys with their last event."""
    return q_lww_latest_state(spark, sf_dir).filter(F.col("last_type") != "error")


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.max("ts").alias("max_ts"),
    )


def q_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + §2.5: ordered per-key running aggregate (event-sourcing view)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("run_value"),
    )


def q_ordered_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: ordered collect — per-key event-type sequence in (ts, seq) order
    (the reference's page-ordered row concatenation, aggregator.py:82-84).
    Serialized to a string so the oracle comparison is unambiguous."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).getField("event_type"),
        ).alias("type_seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization in batch (the exact oracle shape of the engine's
    applyInPandasWithState streaming sessionizer): per-user sessions split
    by >600s of event-time silence. lag → running-sum numbering → one
    aggregate; integer-microsecond arithmetic on both engines."""
    from opengin_ingestion_spark.operators.aggregate_tables import gap_sessions

    ev = _t(spark, sf_dir, "events")
    return gap_sessions(
        ev, key_col="user_id", ts_col="ts", seq_col="event_id", gap_seconds=600
    )


def q_dedup_events_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: first event id per identical (user, type, value)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type", "value").agg(
        F.min("event_id").alias("first_event_id")
    )


# ---------------------------------------------------------------------------
# Relational coverage over the TPC-H-ish tables (joins/aggs/windows/set ops)
# ---------------------------------------------------------------------------

def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 on a real column: JSON extraction from the events `props` string
    (get_json_object ↔ DuckDB json_extract_string), aggregated per type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_region_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-chain join region ← nation ← customer with decimal-exact
    balance aggregation."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    j = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec2("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + agg + deterministic top-k."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (two broadcasts) + agg with exact average."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
    )


def q_parts_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_type", "p_partkey", "p_retailprice", "rnk")
    )


def q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set coverage: ROLLUP over (returnflag, linestatus)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


def q_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot coverage: order counts by priority pivoted on status."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    # a missing (priority, status) combo pivots to NULL in Spark but
    # counts 0 under the oracle's FILTER — normalize
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J2: the delete-side join of MERGE)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_union_high_value_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union of two projections (schema-aligned unionByName)."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    a = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    b = supp.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Text-analysis / training-data queries over `documents`
# ---------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_exact"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_words"),
        stopword_count("text").alias("n_stopwords"),
        punct_count("text").alias("n_punct"),
        quality_score("text").alias("quality"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape signals per document: duplicate-word
    fraction (1 − distinct/total tokens — →1 for boilerplate / generation
    loops) and mean token length. Pure length/split/double arithmetic —
    bit-identical in DuckDB."""
    from opengin_ingestion_spark.functions.textstats import (
        distinct_word_count,
        dup_word_fraction,
        mean_word_len,
    )

    docs = _tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_words"),
        distinct_word_count("text").alias("n_distinct_words"),
        dup_word_fraction("text").alias("dup_word_frac"),
        mean_word_len("text").alias("mean_word_len"),
    )


def q_doc_name_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 filename sanitization (reference exporter.py:55-57) on exporty
    names synthesized from documents — exercises the engine's
    sanitize_name against DuckDB's independent regex engine."""
    from opengin_ingestion_spark.functions.json_parse import sanitize_name

    docs = _tp(spark, sf_dir, "documents")
    # coalesce: concat_ws skips NULLs while DuckDB's || propagates them —
    # pin identical null semantics on both engines
    raw = F.concat_ws(
        " ",
        F.coalesce(F.col("source"), F.lit("")),
        F.lit("Doc #"), F.col("doc_id"), F.lit("(v2)"),
    )
    return docs.select("doc_id", sanitize_name(raw).alias("fname"))


def q_media_mime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata without codecs: magic-byte mime sniffing over
    binary payloads (some deterministically prefixed with PNG/WAV magic),
    aggregated — the codec-free half of the multimodal surface, oracled."""
    from opengin_ingestion_spark.operators.multimodal import media_metadata

    docs = _t(spark, sf_dir, "documents")
    # every payload gets a known magic prefix, so parity never depends on
    # whether a document's own text happens to start with magic bytes
    payload = (
        F.when(F.col("n_chars") % 3 == 0, F.concat(F.lit(b"\x89PNG"), F.encode("text", "utf-8")))
        .when(F.col("n_chars") % 3 == 1, F.concat(F.lit(b"RIFF"), F.encode("text", "utf-8")))
        .otherwise(F.concat(F.lit(b"OggS"), F.encode("text", "utf-8")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
    )
    meta = media_metadata(media)
    return meta.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("payload_bytes").alias("sum_bytes"),
    )


def q_curate_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline (plans/curate.py) end-to-end with a
    SQL-expressible near-dup stage: quality filter → exact dedup →
    n-gram-Jaccard pairs → connected components → exemplars, reported as
    one decision per input document. The near-dup stage is swapped from
    MinHash-LSH (oracle-able since round 5 via the md5 scheme, but an
    ESTIMATOR) to the exact Jaccard operator whose DuckDB twin is already
    proven (q_ngram_jaccard), so every branch of the report is verified
    against an independent exact computation."""
    from opengin_ingestion_spark.operators.dedup import ngram_jaccard_pairs
    from opengin_ingestion_spark.plans.curate import CurateConfig, curate_documents

    docs = _t(spark, sf_dir, "documents")
    # deterministically poison a few docs so EVERY decision branch fires in
    # the driver gate (the raw corpus has no nulls/shorts/exact dups):
    # %101 → null_text, %103 → too_short, %107 → low_quality (punct-heavy),
    # %109 → one shared text ⇒ min id kept, rest exact_dup
    did = F.col("doc_id")
    docs = docs.withColumn(
        "text",
        F.when(did % 101 == 0, F.lit(None).cast("string"))
        .when(did % 103 == 0, F.lit("tiny doc"))
        .when(did % 107 == 0, F.lit("zzz! zzz! zzz! zzz! zzz! zzz!"))
        .when(did % 109 == 0, F.lit("the and of to is in that it with"))
        .otherwise(F.col("text")),
    )
    _, decisions = curate_documents(
        docs,
        CurateConfig(min_quality=0.2, min_tokens=5),
        pairs_fn=lambda df: ngram_jaccard_pairs(df, threshold=0.3),
    )
    # detail carries engine-formatted floats for low_quality rows; the
    # driver-checked projection is the (id → decision) assignment itself
    return decisions.select("doc_id", "decision")


def q_media_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (1→N mapInPandas explode): documents
    re-cast as videos with a deterministic duration; per-media frame count
    and last frame timestamp are pure functions of the duration rule, so
    the exploded cardinality is DuckDB-checkable even though the frame
    payloads themselves come from the stubbed codec."""
    from opengin_ingestion_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("bigint").alias("bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("n_chars") % 10 + 1) * 500).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_frames(media, every_ms=1000, max_frames=8)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opengin_ingestion_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select(
        F.col("doc_id").alias("keep_id"), F.md5("text").alias("text_fp")
    )


# ---------------------------------------------------------------------------
# Embedding similarity over `embeddings`
# ---------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opengin_ingestion_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, k=5).withColumnRenamed("rank", "rnk")


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


# ---------------------------------------------------------------------------
# Non-SQL-expressible operators (rows-only checks)
# ---------------------------------------------------------------------------

def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. DuckDB-oracled since round 5: the
    default md5 signature scheme (min of md5(md5(shingle)||':i') hex
    strings, md5 band buckets) is reproduced hash-for-hash by
    _minhash_oracle_sql — candidates, bucket cap, and est_jaccard all
    match exactly. Recall vs the exact-Jaccard operator is additionally
    tested in tests/test_dedup.py; the sf0.01 pair set stays golden-
    snapshotted (tests/golden/rows_only)."""
    from opengin_ingestion_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. DuckDB-oracled since round 5: the word hash
    is int(md5hex[:16],16), so _simhash_oracle_sql rebuilds the exact
    64-bit majority-vote signature nibble-by-nibble in SQL and reproduces
    the pigeonhole band join and hamming filter. The sf0.01 pair set stays
    golden-snapshotted (tests/golden/rows_only)."""
    from opengin_ingestion_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


def q_minhash_incr_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED corpus index (the production
    pattern: each new crawl batch vs the existing corpus, corpus text
    never re-hashed). Corpus = doc_id % 5 != 0 (indexed to a temp dir),
    batch = doc_id % 5 == 0. DuckDB-oracled end-to-end: the md5 signature
    scheme makes signatures, band buckets, the index-side bucket cap and
    est_jaccard all reproducible in SQL (_minhash_incr_oracle_sql)."""
    from opengin_ingestion_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_neardup,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    # deterministic on-disk cache (same discipline as the replay fixture):
    # build once per (sf_dir, params), atomic-rename publish so concurrent
    # drivers can't see a half-built index; the returned frame stays lazy
    # over a stable path
    key = hashlib.sha256(f"mhidx-v1|{sf_dir}|32|8|3|md5|5".encode()).hexdigest()[:12]
    base = f"/tmp/opengin_mh_index_{key}"
    if not os.path.isdir(base):
        tmp = tempfile.mkdtemp(prefix=f"{base}.tmp")
        build_minhash_index(corpus, tmp)
        try:
            os.rename(tmp, base)
        except OSError:  # another driver won the publish race
            shutil.rmtree(tmp, ignore_errors=True)
    return minhash_index_neardup(batch, base, threshold=0.5)


def _minhash_incr_oracle_sql(
    n_hashes: int = 32, bands: int = 8, threshold: float = 0.5,
    max_bucket_size: int = 5000, split_mod: int = 5,
) -> str:
    """DuckDB twin of build_minhash_index + minhash_index_neardup over the
    documents split (corpus = id % split_mod != 0, batch = the rest). The
    bucket-size cap applies to the INDEX side only, exactly like the
    operator."""
    r = n_hashes // bands
    mins = ",\n                   ".join(
        f"min(md5(h || ':{i}'))" for i in range(n_hashes)
    )
    buckets = " || ".join(f"sig[b * {r} + {j + 1}]" for j in range(r))
    return f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
            FROM words,
                 unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
        ), hashed AS (
            SELECT doc_id, md5(shingle) AS h FROM sh
        ), sig AS (
            SELECT doc_id,
                   [{mins}] AS sig
            FROM hashed GROUP BY doc_id
        ), band_rows AS (
            SELECT doc_id, sig, b AS band, md5({buckets}) AS bucket
            FROM sig, unnest(generate_series(0, {bands - 1})) AS t(b)
        ), idx AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY band, bucket) AS _bn
                FROM band_rows WHERE doc_id % {split_mod} != 0
            ) WHERE _bn <= {max_bucket_size}
        ), batch AS (
            SELECT * FROM band_rows WHERE doc_id % {split_mod} = 0
        ), cand AS (
            SELECT n.doc_id AS id_new, i.doc_id AS id_indexed,
                   any_value(n.sig) AS sig_a, any_value(i.sig) AS sig_b
            FROM batch n JOIN idx i
              ON n.band = i.band AND n.bucket = i.bucket
             AND n.doc_id <> i.doc_id
            GROUP BY 1, 2
        )
        SELECT id_new, id_indexed, est_jaccard
        FROM (
            SELECT id_new, id_indexed,
                   CAST(len(list_filter(generate_series(1, {n_hashes}),
                        i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                     / {float(n_hashes)} AS est_jaccard
            FROM cand
        ) WHERE est_jaccard >= {threshold}
    """


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (the accuracy oracle for MinHash).
    DuckDB-oracled: the shingle construction is mirrored exactly
    (string_split keeps empties; short docs yield one whole-text shingle).
    The jaccard double is a single int/int division — bit-identical in both
    engines. The stop-shingle cap cannot fire at test SF (see
    ngram_jaccard_pairs docstring), so the result is exact."""
    from opengin_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.3)


def q_ngram_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup grouping: exact n-gram-Jaccard pairs → connected
    components (iterative min-label propagation) → (node, grp) with grp =
    smallest reachable doc_id. DuckDB-oracled via a recursive CTE over the
    same pair predicate — verifies the distributed CC converges to the
    true transitive closure."""
    from opengin_ingestion_spark.operators.dedup import (
        dedup_groups,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    return dedup_groups(pairs).select("node", F.col("group").alias("grp"))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k. DuckDB-oracled since round 3: the
    hyperplanes are a deterministic seeded matrix, injected into the oracle
    as a literal table (_lsh_ann_oracle_sql)."""
    from opengin_ingestion_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, k=5, n_planes=8).withColumnRenamed("rank", "rnk")


def _lsh_ann_oracle_sql() -> str:
    """DuckDB twin of lsh_ann_topk(k=5, n_planes=8, seed=42): the seeded
    hyperplanes as a literal table; sign-bit bucketing (smallest |dot| on
    the sf0.01 vectors is 3.3e-4, ~9 decades above float-summation noise,
    so the sign bits are engine-independent); candidate-side bucket cap
    (HAVING count <= 5000, the cap_key_frequency mirror); home-bucket +
    8 one-bit-flip probes; exact-cosine re-rank, ties by neighbor id.
    dim is pinned to 64 = the embedding width at every test SF."""
    from opengin_ingestion_spark.operators.similarity import make_hyperplanes

    planes = make_hyperplanes(64, 8, 42)
    plane_lits = ",\n              ".join(
        "({}, [{}]::DOUBLE[])".format(
            p, ", ".join(repr(float(x)) for x in planes[p])
        )
        for p in range(planes.shape[0])
    )
    return f"""
        WITH planes(p, v) AS (VALUES
              {plane_lits}
        ), b AS (
            SELECT e.vec_id,
                   CAST(sum(CASE WHEN list_dot_product(
                                     CAST(e.embedding AS DOUBLE[]), pl.v) > 0
                                 THEN (CAST(1 AS BIGINT) << pl.p)
                                 ELSE 0 END) AS BIGINT) AS b
            FROM embeddings e, planes pl
            GROUP BY e.vec_id
        ), ok_buckets AS (
            SELECT b FROM b GROUP BY b HAVING count(*) <= 5000
        ), cand AS (
            SELECT vec_id AS c_id, b FROM b
            WHERE b IN (SELECT b FROM ok_buckets)
        ), probes AS (
            SELECT vec_id AS q_id, b AS pb FROM b
            UNION
            SELECT vec_id, xor(b, (CAST(1 AS BIGINT) << pl.p))
            FROM b, planes pl
        ), pairs AS (
            SELECT DISTINCT p.q_id, c.c_id
            FROM probes p JOIN cand c ON p.pb = c.b
            WHERE p.q_id <> c.c_id
        ), scored AS (
            SELECT pr.q_id, pr.c_id,
                   list_cosine_similarity(qa.embedding, ca.embedding) AS cos
            FROM pairs pr
            JOIN embeddings qa ON qa.vec_id = pr.q_id
            JOIN embeddings ca ON ca.vec_id = pr.c_id
        )
        SELECT q_id AS vec_id, c_id AS neighbor_id, rnk
        FROM (SELECT q_id, c_id, row_number() OVER (
                  PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk
              FROM scored)
        WHERE rnk <= 5
    """


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT (chunked-broadcast block
    matmul — no full-corpus driver collect) and DuckDB-oracled via
    list_cosine_similarity. Threshold 0.45 sits ≥5e-4 from every pair's
    cosine at test SF, so float summation-order noise cannot flip
    membership; the cosine itself is excluded from the output (different
    engines sum in different orders → last-ulp hash drift). The LSH scale
    path (embedding_neardup_pairs) is recall-tested against this exact
    operator in tests/test_similarity.py."""
    from opengin_ingestion_spark.operators.similarity import exact_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return exact_neardup_pairs(emb, threshold=0.45).select("id_a", "id_b")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over driver data: document text re-cast as an
    opaque binary payload → mapInPandas feature extraction (decode stubbed
    deterministically; Spark-side schema/batching real)."""
    from opengin_ingestion_spark.operators.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None)
        .cast(
            "struct<mime:string,bytes:bigint,width:int,height:int,duration_ms:bigint>"
        )
        .alias("meta"),
    )
    feats = extract_media_features(media, fake=True)
    return feats.select(
        "media_id", "sha256", F.size("feature").alias("feature_dim")
    )


def q_fragment_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3: keyed fragment aggregation with schema-variant forking
    (reference aggregator.py:42-96), exercised by recasting documents as
    per-page table fragments keyed by source. Rows-only check (nested
    array-of-array output)."""
    from opengin_ingestion_spark.operators.aggregate_tables import (
        aggregate_table_fragments,
    )

    docs = _t(spark, sf_dir, "documents")
    frags = docs.select(
        F.col("doc_id").cast("int").alias("page_num"),
        F.col("source").alias("table_name"),
        # two schema variants per source: short docs lack the lang column
        F.when(
            F.col("n_chars") < 200, F.array(F.lit("n_chars"))
        ).otherwise(F.array(F.lit("n_chars"), F.lit("lang"))).alias("columns"),
        F.when(
            F.col("n_chars") < 200,
            F.array(F.array(F.col("n_chars").cast("string"))),
        ).otherwise(
            F.array(F.array(F.col("n_chars").cast("string"), F.col("lang")))
        ).alias("rows"),
    )
    out = aggregate_table_fragments(frags)
    return out.select(
        "table_name", "variant", "name_variant", "n_fragments", "n_rows",
        F.concat_ws("|", F.col("columns")).alias("columns_str"),
    )


def q_parse_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3: fence-strip + JSON parse + shape normalization + error
    capture, over synthesized LLM-style responses (rows-only check)."""
    from opengin_ingestion_spark.functions.json_parse import parse_tables

    docs = _t(spark, sf_dir, "documents")
    resp = docs.select(
        "doc_id",
        F.format_string(
            '```json\n{"tables": [{"id": "t%s", "name": "%s", '
            '"columns": ["lang"], "rows": [["%s"]]}]}\n```',
            F.col("doc_id"), F.col("source"), F.col("lang"),
        ).alias("raw_response"),
    )
    parsed = resp.withColumn("tables", parse_tables("raw_response"))
    return parsed.select(
        "doc_id",
        F.col("tables")[0]["name"].alias("table_name"),
        F.col("tables")[0]["rows"][0][0].alias("first_cell"),
        F.size("tables").alias("n_tables"),
    )


def _replay_fixture_paths() -> tuple[str, str]:
    """(log_dir, table_path) of the deterministic replay fixture.

    Generates the change log if absent — pure pyarrow/numpy, no Spark, so
    BOTH the Spark query and ``oracle_sql()`` (whose SQL reads the log
    parquet directly) can call this in either order. Deterministic cache:
    the log/table are pure functions of the spec, keyed by the spec hash
    (stale-proof) and populated via write-to-temp + atomic rename
    (race-proof against concurrent drivers)."""
    from opengin_ingestion_spark.sources.changelog import (
        ChangeLogSpec,
        generate_changelog,
    )

    spec = ChangeLogSpec(n_events=5_000, n_urls=500, n_batches=5, seed=42)
    # ENGINE_REV salts the cache key: bump whenever replay/extract/table
    # semantics change, or a stale cached table silently serves old results
    ENGINE_REV = "r4-naive-ts"
    spec_key = hashlib.sha256(f"{ENGINE_REV}|{spec!r}".encode()).hexdigest()[:16]
    base = f"/tmp/opengin_entry_cache_{spec_key}"
    log = os.path.join(base, "log")
    table_path = os.path.join(base, "pages")
    if not os.path.isdir(log):
        os.makedirs(base, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=base, prefix="log_tmp_")
        generate_changelog(tmp, spec)
        try:
            os.rename(tmp, log)
        except OSError:  # another driver won the race — use its copy
            shutil.rmtree(tmp, ignore_errors=True)
    return log, table_path


def q_cdc_replay_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE engine end-to-end: deterministic synthetic change log →
    streaming-equivalent batch replay → final `pages` GinTable (LWW +
    tombstones + vectorized HTML→text extraction + lang detection +
    column-family read). DuckDB-oracled since round 3: the oracle reads the
    same change-log parquet and reproduces the LWW/tombstone reduction as a
    window query and the deterministic extraction chain
    (functions/extract.py) with DuckDB's independent RE2 regex engine."""
    from opengin_ingestion_spark.plans.replay import replay_changelog

    log, table_path = _replay_fixture_paths()
    # idempotent: merge_batch early-exits (no Spark jobs) once batch 0 is
    # in the table's applied ranges, so repeated calls are cheap
    table, _ = replay_changelog(spark, log, table_path, n_buckets=16)
    return table.read().select("url", "warc_ts", "text", "lang")


def q_cdc_fold_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold correctness through the driver gate: the SAME replay fixture,
    folded into a read-optimized COPY (compact(fold_heavy=True) — heavy
    columns inline, join-free read plan, tests/test_plans.py), must
    hash-match the SAME DuckDB oracle as cdc_replay_pages. The copy keeps
    the flagship's split-layout table (and its measured plan) untouched;
    GinTable manifests use table-relative paths, so a copied tree is fully
    self-contained."""
    import shutil
    import tempfile

    from opengin_ingestion_spark.operators.compact import fold_heavy_compact
    from opengin_ingestion_spark.plans.replay import replay_changelog
    from opengin_ingestion_spark.sources.gintable import GinTable

    log, table_path = _replay_fixture_paths()
    replay_changelog(spark, log, table_path, n_buckets=16)
    fold_path = table_path + "_folded"
    if not GinTable.exists(fold_path):
        base = os.path.dirname(table_path)
        tmp = tempfile.mkdtemp(dir=base, prefix="fold_tmp_")
        shutil.copytree(table_path, os.path.join(tmp, "t"))
        try:
            os.rename(os.path.join(tmp, "t"), fold_path)
        except OSError:  # another driver won the publish race
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    ft = GinTable.load(spark, fold_path)
    fold_heavy_compact(ft)  # idempotent: no-op once fully folded
    return ft.read().select("url", "warc_ts", "text", "lang")


def q_cdc_lookup_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving path through the driver gate: GinTable.lookup() — a
    bucket-pruned point read (ONE bucket's files scanned, key equality
    pushed to parquet; sources/gintable.py) — of the lexicographically
    smallest live url of the replay fixture must hash-match the replay
    oracle filtered to the same key. Key choice is deterministic and
    SQL-expressible (min over the oracle's own final state), so the
    oracle needs no side-channel."""
    from opengin_ingestion_spark.plans.replay import replay_changelog

    log, table_path = _replay_fixture_paths()
    table, _ = replay_changelog(spark, log, table_path, n_buckets=16)
    url = table.read().agg(F.min("url")).first()[0]
    return table.lookup(url).select("url", "warc_ts", "text", "lang")


def _lookup_oracle_sql() -> str:
    return f"""
        WITH final AS ({_replay_oracle_sql()})
        SELECT url, warc_ts, text, lang FROM final
        WHERE url = (SELECT min(url) FROM final)
    """


def _replay_oracle_sql() -> str:
    """DuckDB twin of the full CDC replay (see q_cdc_replay_pages).

    Mirrors, step for step:
      * LWW winner per url by (warc_ts, seq) desc — merge.py's
        sort+drop_duplicates(keep='last'),
      * tombstone hiding (winner op 'D' ⇒ row invisible to reads),
      * the extraction chain of extract.py:extract_text_series — the
        script/style regex (pandas uses one backreference pattern; the
        oracle's alternation is equivalent for non-overlapping blocks,
        which tags always are), comment strip, block-tag→newline,
        any-tag→space, the 6-entry entity table IN ORDER (nbsp before amp
        so '&amp;nbsp;' decodes once), whitespace collapse + trim,
      * detect_lang_series: marker-word counts per language, argmax with
        ties broken in dict order (en, de, fr, es), 0 hits ⇒ 'und'.
    """
    log, _ = _replay_fixture_paths()
    block_tags = (
        "p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article"
        "|header|footer|nav|blockquote|pre|title|body|html|head"
    )
    return f"""
        WITH raw AS (
            SELECT * FROM read_parquet('{log}/batch_*.parquet')
        ), w AS (
            SELECT url, warc_ts, op, html,
                   row_number() OVER (
                       PARTITION BY url ORDER BY warc_ts DESC, seq DESC
                   ) AS rn
            FROM raw
        ), live AS (
            SELECT url, warc_ts, decode(html) AS h
            FROM w WHERE rn = 1 AND op <> 'D'
        ), extracted AS (
            SELECT url, warc_ts,
              trim(regexp_replace(
                replace(replace(replace(replace(replace(replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(h,
                          '(?is)(<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>)',
                          ' ', 'g'),
                        '(?s)<!--.*?-->', ' ', 'g'),
                      '(?i)</?({block_tags})\\b[^>]*>', chr(10), 'g'),
                    '(?s)<[^>]*>', ' ', 'g'),
                  '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                  '&quot;', '"'), '&#39;', chr(39)),
                '\\s+', ' ', 'g')) AS text
            FROM live
        ), scored AS (
            SELECT url, warc_ts, text,
              len(regexp_extract_all(lower(text),
                  '\\b(the|and|of|to|is|in|that|it|with)\\b')) AS s_en,
              len(regexp_extract_all(lower(text),
                  '\\b(der|die|das|und|ist|nicht|ein|mit|von)\\b')) AS s_de,
              len(regexp_extract_all(lower(text),
                  '\\b(le|la|les|et|est|une|dans|pour|que)\\b')) AS s_fr,
              len(regexp_extract_all(lower(text),
                  '\\b(el|los|las|es|una|para|con|por|del)\\b')) AS s_es
            FROM extracted
        )
        SELECT url, warc_ts, text,
          CASE WHEN text IS NULL THEN NULL
               WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es' END AS lang
        FROM scored
    """


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC final state (LWW + delete semantics) on sf0.001."""
    return q_cdc_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lww_latest_state": q_lww_latest_state,
        "cdc_final_state": q_cdc_final_state,
        "event_type_stats": q_event_type_stats,
        "hourly_activity": q_hourly_activity,
        "running_total": q_running_total,
        "dedup_events_exact": q_dedup_events_exact,
        "event_sessions": q_event_sessions,
        "props_json_stats": q_props_json_stats,
        "region_customer_stats": q_region_customer_stats,
        "ordered_event_log": q_ordered_event_log,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "nation_order_stats": q_nation_order_stats,
        "parts_topk_per_type": q_parts_topk_per_type,
        "customers_without_orders": q_customers_without_orders,
        "lineitem_rollup": q_lineitem_rollup,
        "status_pivot": q_status_pivot,
        "union_high_value_parties": q_union_high_value_parties,
        "doc_stats": q_doc_stats,
        "curate_decisions": q_curate_decisions,
        "doc_tokens": q_doc_tokens,
        "doc_quality": q_doc_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_repetition": q_doc_repetition,
        "docs_exact_dedup": q_docs_exact_dedup,
        "doc_name_sanitize": q_doc_name_sanitize,
        "media_mime_stats": q_media_mime_stats,
        "media_frame_stats": q_media_frame_stats,
        "ann_topk": q_ann_topk,
        "embedding_label_stats": q_embedding_label_stats,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_dedup_groups": q_ngram_dedup_groups,
        "embedding_neardup": q_embedding_neardup,
        "media_features": q_media_features,
        "fragment_aggregation": q_fragment_aggregation,
        "parse_responses": q_parse_responses,
        "cdc_replay_pages": q_cdc_replay_pages,
        "cdc_fold_pages": q_cdc_fold_pages,
        "cdc_lookup_page": q_cdc_lookup_page,
        "lsh_ann_topk": q_lsh_ann_topk,
        # md5-scheme signatures since round 5 — fully DuckDB-oracled
        "minhash_neardup": q_minhash_neardup,
        "minhash_incr_neardup": q_minhash_incr_neardup,
        "simhash_neardup": q_simhash_neardup,
    }


def _minhash_oracle_sql(
    n_hashes: int = 32, bands: int = 8, threshold: float = 0.5,
    max_bucket_size: int = 5000,
) -> str:
    """Exact DuckDB twin of minhash_lsh_pairs(scheme="md5").

    Reproducible because every hash in the pipeline is md5 over identical
    byte strings: the i-th minhash is min(md5(md5(shingle)||':i')) (binary
    min over equal-length lowercase hex = Spark's string min), and the band
    bucket is md5(concat(band slice)) — so candidate generation, the bucket
    cap, and est_jaccard = agreeing_slots/n all match slot-for-slot.
    """
    r = n_hashes // bands
    mins = ",\n                   ".join(
        f"min(md5(h || ':{i}'))" for i in range(n_hashes)
    )
    buckets = " || ".join(f"sig[b * {r} + {j + 1}]" for j in range(r))
    return f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
            FROM words,
                 unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
        ), hashed AS (
            SELECT doc_id, md5(shingle) AS h FROM sh
        ), sig AS (
            SELECT doc_id,
                   [{mins}] AS sig
            FROM hashed GROUP BY doc_id
        ), band_rows AS (
            SELECT doc_id, sig, b AS band, md5({buckets}) AS bucket
            FROM sig, unnest(generate_series(0, {bands - 1})) AS t(b)
        ), capped AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY band, bucket) AS _bn
                FROM band_rows
            ) WHERE _bn <= {max_bucket_size}
        ), cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, est_jaccard
        FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(generate_series(1, {n_hashes}),
                        i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                     / {float(n_hashes)} AS est_jaccard
            FROM cand
        ) WHERE est_jaccard >= {threshold}
    """


def _simhash_oracle_sql(max_hamming: int = 3, max_bucket_size: int = 5000) -> str:
    """Exact DuckDB twin of simhash_pairs (md5-derived word hashes).

    The engine's 64-bit word hash is int(md5hex[:16], 16); here each hex
    nibble p (0 = most significant) is decoded with strpos, bit j (0 = LSB)
    of the word hash is (nibble[15 - j//4] >> (j%4)) & 1, the per-doc
    majority vote over ALL word occurrences assembles the signed 64-bit
    signature (bit 63 contributes the BIGINT min), and the pigeonhole
    bands are (sig >> 16b) & 0xFFFF — DuckDB's arithmetic >> masked to 16
    bits equals Spark's shiftright+mask for every operand.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    nibbles = ",\n                   ".join(
        f"(strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1) AS n{p}"
        for p in range(16)
    )
    votes = ",\n                   ".join(
        f"sum((n{15 - j // 4} >> {j % 4}) & 1) AS s{j}" for j in range(64)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN 2 * s{j} > total THEN {1 << j} ELSE 0 END)"
        for j in range(63)
    )
    sig_expr = (
        f"(CASE WHEN 2 * s63 > total THEN -9223372036854775807 - 1 "
        f"ELSE 0 END) + {sig_terms}"
    )
    band_keys = ", ".join(
        f"(sig >> {b * width}) & {(1 << width) - 1} AS k{b}"
        for b in range(n_bands)
    )
    band_union = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, sig, {b} AS band, k{b} AS key FROM keyed"
        for b in range(n_bands)
    )
    return f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ), wh AS (
            SELECT doc_id, md5(word) AS h FROM words
        ), nib AS (
            SELECT doc_id,
                   {nibbles}
            FROM wh
        ), vote AS (
            SELECT doc_id, count(*) AS total,
                   {votes}
            FROM nib GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id, CAST({sig_expr} AS BIGINT) AS sig FROM vote
        ), keyed AS (
            SELECT doc_id, sig, {band_keys} FROM sigs
        ), band_rows AS (
{band_union}
        ), capped AS (
            SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY band, key) AS _bn
                FROM band_rows
            ) WHERE _bn <= {max_bucket_size}
        ), cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    stop_sql = STOPWORD_RE  # identical regex text in both engines
    punct_sql = PUNCT_RE
    return {
        "lww_latest_state": """
            SELECT user_id, event_type AS last_type, value AS last_value,
                   ts AS last_ts
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1
        """,
        "cdc_final_state": """
            SELECT user_id, event_type AS last_type, value AS last_value,
                   ts AS last_ts
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "event_type_stats": """
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   max(ts) AS max_ts
            FROM events GROUP BY event_type
        """,
        "hourly_activity": """
            SELECT date_trunc('hour', ts) AS hour,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        "running_total": """
            SELECT event_id, user_id,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS run_value
            FROM events
        """,
        "dedup_events_exact": """
            SELECT user_id, event_type, value,
                   min(event_id) AS first_event_id
            FROM events GROUP BY 1, 2, 3
        """,
        "event_sessions": """
            WITH numbered AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                 > 600 * 1000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts,
                       sum(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS _sess
                FROM numbered
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, _sess
        """,
        "ordered_event_log": """
            SELECT user_id,
                   array_to_string(
                       array_agg(event_type ORDER BY ts, event_id), '|'
                   ) AS type_seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "props_json_stats": """
            SELECT event_type,
                   count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS n_with_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS max_k
            FROM events GROUP BY event_type
        """,
        "region_customer_stats": """
            SELECT r_name, count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 10
        """,
        "nation_order_stats": """
            SELECT n_name,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS avg_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "parts_topk_per_type": """
            SELECT p_type, p_partkey, p_retailprice, rnk
            FROM (SELECT p_type, p_partkey, p_retailprice,
                         row_number() OVER (PARTITION BY p_type
                             ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
                  FROM part)
            WHERE rnk <= 3
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "lineitem_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "status_pivot": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
            FROM orders GROUP BY o_orderpriority
        """,
        "union_high_value_parties": """
            SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
            FROM customer WHERE c_acctbal > 9000
            UNION ALL
            SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind
            FROM supplier WHERE s_acctbal > 9000
        """,
        "doc_stats": """
            -- CAST: DuckDB sum(BIGINT) is HUGEINT (→ float64 in pandas),
            -- which hash-mismatches Spark's bigint (round-1 red cell)
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY lang, source
        """,
        "doc_tokens": f"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(string_split(text, ' '))
                     + len(regexp_extract_all(text, '{punct_sql}'))
                     + CAST(floor(length(regexp_replace(text, '\\s', '', 'g')) / 6.0) AS BIGINT)
                     AS n_bpe_tokens,
                   length(text) AS n_chars_exact
            FROM documents
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(regexp_extract_all(lower(text), '{stop_sql}')) AS n_stopwords,
                   len(regexp_extract_all(text, '{punct_sql}')) AS n_punct,
                   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                     + (CAST(len(regexp_extract_all(lower(text), '{stop_sql}')) AS DOUBLE)
                        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4
                     + greatest(0.0, 0.2
                        - (CAST(len(regexp_extract_all(text, '{punct_sql}')) AS DOUBLE)
                           / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2)
                     AS quality
            FROM documents
        """,
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        "doc_repetition": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
                   1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS DOUBLE) AS dup_word_frac,
                   (CAST(length(text) AS DOUBLE)
                      - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len
            FROM documents
        """,
        "docs_exact_dedup": """
            SELECT min(doc_id) AS keep_id, md5(text) AS text_fp
            FROM documents GROUP BY text
        """,
        "doc_name_sanitize": r"""
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           lower(trim(coalesce(source, '') || ' Doc # '
                                      || doc_id || ' (v2)')),
                           '\s+', '_', 'g'),
                       '[^a-z0-9_-]', '', 'g') AS fname
            FROM documents
        """,
        # payload prefixes chosen per n_chars%3 in the query; length() of a
        # BLOB is bytes in DuckDB, octet_length of utf-8 text + magic bytes
        "media_mime_stats": """
            WITH m AS (
                SELECT CASE WHEN n_chars % 3 = 0 THEN 'image/png'
                            WHEN n_chars % 3 = 1 THEN 'audio/wav'
                            ELSE 'audio/ogg' END AS mime,
                       octet_length(CAST(text AS BLOB)) + 4 AS nbytes
                FROM documents
            )
            SELECT mime, count(*) AS n, CAST(sum(nbytes) AS BIGINT) AS sum_bytes
            FROM m GROUP BY mime
        """,
        "ann_topk": """
            WITH pairs AS (
                SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                       list_cosine_similarity(a.embedding, b.embedding) AS cos
                FROM embeddings a, embeddings b
                WHERE a.vec_id <> b.vec_id)
            SELECT vec_id, neighbor_id, rnk
            FROM (SELECT vec_id, neighbor_id, row_number() OVER (
                      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
                  FROM pairs)
            WHERE rnk <= 5
        """,
        "embedding_label_stats": """
            SELECT label, count(*) AS n_vecs, min(vec_id) AS min_vec,
                   max(vec_id) AS max_vec
            FROM embeddings GROUP BY label
        """,
        # mirrors word_shingles exactly: split on single space (empties
        # kept), i in 1..max(n-2,1), slice truncates at the end — a short
        # doc contributes one whole-text shingle
        "ngram_jaccard": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                FROM words,
                     unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.3
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        """,
        # same pair predicate as ngram_jaccard, then the TRUE transitive
        # closure via a recursive CTE — the exact oracle for the engine's
        # iterative min-label-propagation connected components
        "ngram_dedup_groups": """
            WITH RECURSIVE words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                FROM words,
                     unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.3
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(src, dst) AS (
                SELECT u, u FROM edges
                UNION
                SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
            )
            SELECT src AS node, min(dst) AS grp FROM reach GROUP BY src
        """,
        # reconstructs the same fenced response, strips the fence with the
        # engine's regex, and extracts through DuckDB's independent JSON
        # parser — an end-to-end parse oracle, not an echo of the inputs
        "parse_responses": r"""
            WITH resp AS (
                SELECT doc_id,
                       '```json' || chr(10) || '{"tables": [{"id": "t'
                       || doc_id || '", "name": "' || source
                       || '", "columns": ["lang"], "rows": [["' || lang
                       || '"]]}]}' || chr(10) || '```' AS raw
                FROM documents
            ), stripped AS (
                SELECT doc_id,
                       regexp_extract(
                           raw, '(?s)^\s*```(?:json)?\s*(.*?)\s*```\s*$', 1
                       ) AS j
                FROM resp
            )
            SELECT doc_id,
                   json_extract_string(j, '$.tables[0].name') AS table_name,
                   json_extract_string(j, '$.tables[0].rows[0][0]') AS first_cell,
                   CAST(json_array_length(j, '$.tables') AS INT) AS n_tables
            FROM stripped
        """,
        # variant forking: group by exact column list, number variants by
        # (first page, serialized columns) within each normalized name
        "fragment_aggregation": """
            WITH frags AS (
                SELECT CAST(doc_id AS INT) AS page_num,
                       source AS table_name,
                       CASE WHEN n_chars < 200 THEN ['n_chars']
                            ELSE ['n_chars', 'lang'] END AS cols
                FROM documents
            ), grouped AS (
                SELECT lower(trim(table_name)) AS _name, cols,
                       min(page_num) AS first_page,
                       count(*) AS n_fragments,
                       CAST(count(*) AS INT) AS n_rows
                FROM frags GROUP BY 1, 2
            ), numbered AS (
                SELECT *, CAST(row_number() OVER (
                           PARTITION BY _name
                           ORDER BY first_page, array_to_string(cols, chr(31))
                       ) - 1 AS INT) AS variant
                FROM grouped
            )
            SELECT _name AS table_name, variant,
                   CASE WHEN variant = 0 THEN _name
                        ELSE _name || '_' || variant END AS name_variant,
                   n_fragments, n_rows,
                   array_to_string(cols, '|') AS columns_str
            FROM numbered
        """,
        # DuckDB sha256(VARCHAR) hashes the UTF-8 bytes — identical to the
        # engine's hashlib over encode(text,'utf-8'); feature dim is the
        # stub's fixed 16
        "media_features": """
            SELECT doc_id AS media_id, sha256(text) AS sha256,
                   CASE WHEN text IS NULL THEN NULL ELSE 16 END AS feature_dim
            FROM documents
        """,
        "cdc_replay_pages": _replay_oracle_sql(),
        # fold preserves content exactly — the folded copy answers to the
        # very same oracle as the split-layout flagship
        "cdc_fold_pages": _replay_oracle_sql(),
        # bucket-pruned point lookup of the min live url — same oracle,
        # filtered to the key the SQL itself selects
        "cdc_lookup_page": _lookup_oracle_sql(),
        "lsh_ann_topk": _lsh_ann_oracle_sql(),
        # md5-based signature schemes since round 5: the whole MinHash and
        # SimHash pipelines (signatures, band buckets, caps, thresholds)
        # are reproduced hash-for-hash in DuckDB
        "minhash_neardup": _minhash_oracle_sql(),
        "minhash_incr_neardup": _minhash_incr_oracle_sql(),
        "simhash_neardup": _simhash_oracle_sql(),
        # frame count/timestamps are pure functions of the duration rule:
        # n = min(max_frames, max(1, duration_ms // every_ms))
        "media_frame_stats": """
            SELECT doc_id AS media_id,
                   CAST(least(8, greatest(1,
                        ((n_chars % 10 + 1) * 500) // 1000)) AS BIGINT)
                       AS n_frames,
                   CAST((least(8, greatest(1,
                        ((n_chars % 10 + 1) * 500) // 1000)) - 1) * 1000
                       AS BIGINT) AS last_ts_ms
            FROM documents WHERE text IS NOT NULL
        """,
        # the curation pipeline end-to-end: the early branches reuse the
        # proven doc_quality expressions, exact dedup groups on md5(text),
        # the near-dup stage is the proven ngram_jaccard predicate + the
        # recursive-CTE transitive closure (same as ngram_dedup_groups),
        # all restricted to exact-dedup survivors as the pipeline does
        "curate_decisions": f"""
            WITH RECURSIVE poisoned AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 101 = 0 THEN NULL
                            WHEN doc_id % 103 = 0 THEN 'tiny doc'
                            WHEN doc_id % 107 = 0
                                 THEN 'zzz! zzz! zzz! zzz! zzz! zzz!'
                            WHEN doc_id % 109 = 0
                                 THEN 'the and of to is in that it with'
                            ELSE text END AS text
                FROM documents
            ), flags AS (
                SELECT doc_id, text,
                       len(string_split(text, ' ')) AS _tok,
                       least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                         + (CAST(len(regexp_extract_all(lower(text), '{stop_sql}')) AS DOUBLE)
                            / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4
                         + greatest(0.0, 0.2
                            - (CAST(len(regexp_extract_all(text, '{punct_sql}')) AS DOUBLE)
                               / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2)
                         AS _q
                FROM poisoned
            ), pre AS (
                SELECT doc_id, text,
                       CASE WHEN text IS NULL THEN 'null_text'
                            WHEN _tok < 5 THEN 'too_short'
                            WHEN _q < 0.2 THEN 'low_quality'
                            ELSE NULL END AS early
                FROM flags
            ), ok AS (
                SELECT doc_id, text FROM pre WHERE early IS NULL
            ), exact_keep AS (
                SELECT min(doc_id) AS doc_id FROM ok GROUP BY md5(text)
            ), surv AS (
                SELECT doc_id, text FROM ok
                WHERE doc_id IN (SELECT doc_id FROM exact_keep)
            ), words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM surv
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                FROM words,
                     unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.3
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(src, dst) AS (
                SELECT u, u FROM edges
                UNION
                SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
            ), near_losers AS (
                SELECT src AS doc_id FROM reach
                GROUP BY src HAVING src <> min(dst)
            )
            SELECT p.doc_id,
                   CASE WHEN p.early IS NOT NULL THEN p.early
                        WHEN p.doc_id NOT IN (SELECT doc_id FROM exact_keep)
                             THEN 'exact_dup'
                        WHEN p.doc_id IN (SELECT doc_id FROM near_losers)
                             THEN 'near_dup'
                        ELSE 'kept' END AS decision
            FROM pre p
        """,
    }
