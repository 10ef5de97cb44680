"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
table. Scale posture:

* exact: one hash-aggregate (partial+final) on the dedup key — the same
  shape as the reference's name-keyed aggregation
  (/root/reference/python/src/opengin/tracer/agents/aggregator.py:42-84).
* MinHash+LSH: shingle→minhash→band→bucket-join. Everything is built-in
  expressions (explode / md5 / min / groupBy); the only shuffles are the
  signature aggregation and the band-bucket self-join, both on uniformly
  hashed keys (no skew). Candidate pairs are verified by estimated Jaccard
  (signature agreement) — at 100 TB you'd gate a final exact check on the
  candidates only. Hashes are md5, chosen to be reproducible in any SQL
  engine (the driver's DuckDB oracle recomputes the whole pipeline).
* SimHash: 64-bit signature via a vectorized pandas UDF (numpy bit ops
  over md5-derived word hashes — same cross-engine reproducibility),
  near-dup = signatures within Hamming distance k, found by pigeonhole
  banding (k+1 bands, exact-match join on at least one band).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opengin_ingestion_spark.operators.salt import ensure_min_parallelism
from opengin_ingestion_spark.sources.gintable import write_json_atomic

# the one signature/band hash scheme; persisted indexes record it
MINHASH_SCHEME = "md5"


def cap_key_frequency(
    df: DataFrame, keys: list[str], cap: int, metric: str
) -> DataFrame:
    """Drop rows whose key group exceeds ``cap`` rows — the standard guard
    against degenerate LSH buckets / stop-shingles that would otherwise make
    a self-join quadratic (a bucket of n rows yields n² pairs; one boilerplate
    bucket shared by 1M docs is a 10¹² pair explosion).

    Physical shape: the over-cap key set is found with one partial+final
    count aggregate (map-side combine — only distinct keys shuffle, never
    the rows) and removed with a broadcast anti-join. The over-cap set is
    small BY CONSTRUCTION (≤ total_rows/cap keys), so the broadcast is
    always safe — this never shuffles or sorts the full input the way a
    window-count would.

    Not silent: an ``observe`` node on the over-cap key frame emits
    ``{metric}_dropped_keys`` / ``{metric}_dropped_rows`` (visible to
    QueryExecutionListener / the Spark UI).
    """
    over = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_key_n"))
        .filter(F.col("_key_n") > cap)
        .observe(
            f"{metric}_cap",
            F.count(F.lit(1)).alias(f"{metric}_dropped_keys"),
            F.coalesce(F.sum("_key_n"), F.lit(0)).alias(f"{metric}_dropped_rows"),
        )
        .select(*keys)
    )
    return df.join(F.broadcast(over), list(keys), "left_anti")


# --- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the smallest ``id_col`` per duplicate group (deterministic)."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col)).select(
        id_col, *key_cols
    )


# --- shingling ---------------------------------------------------------------

def word_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs: k-word shingles, JVM-side via split+transform.

    ``distinct=False`` skips the per-doc dedup shuffle — correct whenever the
    consumer is insensitive to within-doc duplicates (min-hash aggregation)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    idxs = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    shingle_at = lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))  # noqa: E731
    shingles = F.transform(idxs, shingle_at)
    out = df.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


# --- MinHash + LSH ------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """One row per doc: ``sig`` = array of n_hashes minhash values.

    All n minhashes are computed in ONE hash-aggregate pass over the
    exploded shingles (n independent `min(...)` aggs) — no per-hash
    shuffle, partial aggregation shrinks hot docs map-side. min() is
    insensitive to duplicate shingles, so the per-doc distinct shuffle is
    skipped entirely.

    The i-th minhash is the lexicographic min of
    ``md5(md5(shingle) || ':' || i)`` hex strings. md5 is a uniform family
    available verbatim in DuckDB/Trino/Snowflake, so the WHOLE pair
    computation is reproducible in an independent SQL engine — that's what
    backs the exact driver oracle (CORRECTNESS gate). The variable-length
    shingle is digested once; the n seeded re-hashes run over a fixed
    35-byte input (one md5 compression round each, JVM-side, inside
    codegen). Lexicographic min over equal-length lowercase-hex is
    binary-collation min in both engines.
    """
    df = ensure_min_parallelism(df)
    sh = word_shingles(df, text_col, id_col, k=shingle_k, distinct=False)
    # NOTE (r6): computing the n seeded re-hashes once per DISTINCT
    # shingle digest and joining back was tried and measured SLOWER
    # (8.2s vs 4.3s at sf1.0): the join ships 32 hex strings (~1 KB)
    # per shingle occurrence through an exchange, which costs more
    # than the md5s it saves. The inline form keeps everything in one
    # codegen'd partial-aggregating stage.
    hashed = sh.select(id_col, F.md5("shingle").alias("_h"))
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("_h"), F.lit(f":{i}")))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    return sig.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def _minhash_band_rows(
    sig: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(id, sig, band, bucket) rows — the LSH banding shared by the
    self-join pair finder and the persisted corpus index."""
    r = n_hashes // bands
    bucket_of = lambda b: F.md5(  # noqa: E731
        F.concat(*[F.col("sig")[i] for i in range(b * r, (b + 1) * r)])
    )
    return sig.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_of(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bucket")


def _est_jaccard(n_hashes: int):
    return (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / F.lit(float(n_hashes))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, est_jaccard ≥ threshold).

    Banding: split the signature into ``bands`` bands of r = n/bands rows;
    docs sharing ANY band hash are candidates (classic MinHash-LSH, e.g.
    Leskovec et al., Mining of Massive Datasets ch.3 — public knowledge).

    The band bucket is ``md5(concat(band slice))`` — reproducible in
    DuckDB, so candidate generation (including any astronomically-unlikely
    md5 bucket collision) is IDENTICAL in the oracle: both engines compute
    the same bucket for the same band values.

    Degenerate buckets (boilerplate / empty docs collapsing to one band
    hash) are dropped above ``max_bucket_size`` members — a bucket that
    large is, by construction, a cluster of ≥ threshold-similar docs whose
    pairwise listing is quadratic noise; real dedup keeps one exemplar via
    connected components anyway. Dropped counts are observable
    (``minhash_band_cap``), never silent.
    """
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    # lineage barrier before the band self-join (avoids recomputing the
    # shingle explode + n_hashes aggregation once per join side)
    sig = sig.localCheckpoint(eager=True)
    band_rows = _minhash_band_rows(sig, id_col, n_hashes, bands)
    # SLIM self-join: the signature arrays (n_hashes × 32-char hex ≈ 1 KB
    # per row) never enter the band join or the pair
    # dedup exchange — candidates are found on (id, band, bucket) alone
    # and the two signatures are re-attached to the (tiny) deduped pair
    # set afterwards (guide §2.3: shuffle keys, not payloads; sig rows are
    # unique per id BY CONSTRUCTION — sig is an aggregate output — so the
    # re-attach is exactly the value the old first(sig) dedup picked).
    band_rows = cap_key_frequency(
        band_rows.select(id_col, "band", "bucket"),
        ["band", "bucket"], max_bucket_size, "minhash_band",
    )

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # a pair colliding in several bands is still ONE candidate; dedupe
        # on the id pair (cheap keys)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", _est_jaccard(n_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# --- persisted MinHash corpus index (incremental dedup) ------------------------

def build_minhash_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> dict:
    """Persist the corpus's LSH band rows — the production incremental-
    dedup pattern: dedup each NEW crawl batch against the EXISTING corpus
    without re-hashing the corpus (the self-join operators re-shingle
    everything every run; at a growing corpus that is quadratic over
    time). Layout: (id, sig, band, bucket) parquet partitioned by
    ``band`` + a ``meta.json`` commit marker recording the parameters, so
    a query can never silently mix incompatible hashing. Work per query
    batch = hash the batch + one shuffle join against the (slim) band
    rows; the corpus's text is never touched again.

    Same generation-free simplicity as the exports (append-only index —
    see ``append_to_minhash_index``); for in-place rewrite semantics use
    a fresh path and atomic-rename like the IVF generations.
    """
    import os as _os

    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    rows = _minhash_band_rows(sig, id_col, n_hashes, bands)
    _os.makedirs(index_path, exist_ok=True)
    (
        rows.repartition(F.col("band"))
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(_os.path.join(index_path, "bands"))
    )
    meta = {
        "id_col": id_col,
        "n_hashes": n_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "scheme": MINHASH_SCHEME,
    }
    # commit marker LAST (same as IVF)
    write_json_atomic(_os.path.join(index_path, "meta.json"), meta)
    return meta


def _load_minhash_meta(index_path: str) -> dict:
    """Read a persisted index's parameters. The index may come from
    outside this program, so a hash scheme this module cannot reproduce
    is an error — never silently re-hashed with md5."""
    import json as _json
    import os as _os

    with open(_os.path.join(index_path, "meta.json")) as fh:
        meta = _json.load(fh)
    if meta.get("scheme") != MINHASH_SCHEME:
        raise ValueError(
            f"minhash index {index_path!r} uses scheme {meta.get('scheme')!r}; "
            f"only {MINHASH_SCHEME!r} is supported"
        )
    return meta


def append_to_minhash_index(
    df: DataFrame, index_path: str, text_col: str = "text"
) -> None:
    """Append new docs' band rows under the index's recorded parameters
    (the cheap growth path — the caller guarantees ids are fresh; re-
    appending an id simply yields duplicate candidates, filtered by the
    pair aggregation)."""
    import os as _os

    meta = _load_minhash_meta(index_path)
    sig = minhash_signatures(
        df, text_col, meta["id_col"], meta["n_hashes"], meta["shingle_k"]
    )
    rows = _minhash_band_rows(sig, meta["id_col"], meta["n_hashes"], meta["bands"])
    (
        rows.repartition(F.col("band"))
        .write.mode("append")
        .partitionBy("band")
        .parquet(_os.path.join(index_path, "bands"))
    )


def minhash_index_neardup(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus:
    (id_new, id_indexed, est_jaccard). The batch is hashed under the
    index's recorded parameters; candidates come from ONE shuffle join of
    the batch's band rows against the persisted band rows (the index side
    is bucket-capped like every LSH join here — a degenerate corpus
    bucket must not explode a batch query). Self-pairs (an id present on
    both sides, e.g. after append) are excluded.

    At 100 TB tier: the joined index side is (id, sig, band, bucket) —
    slim rows, never corpus text; band partitioning keeps the scan
    aligned with the join key space.
    """
    import os as _os

    meta = _load_minhash_meta(index_path)
    id_col = meta["id_col"]
    spark = new_docs.sparkSession
    sig_new = minhash_signatures(
        new_docs, text_col, id_col, meta["n_hashes"], meta["shingle_k"]
    ).localCheckpoint(eager=True)
    rows_new = _minhash_band_rows(sig_new, id_col, meta["n_hashes"], meta["bands"])
    idx = spark.read.parquet(_os.path.join(index_path, "bands")).select(
        F.col(id_col).alias("id_indexed"),
        F.col("sig").alias("sig_b"),
        F.col("band").cast("int").alias("band"),
        F.col("bucket"),
    )
    idx = cap_key_frequency(idx, ["band", "bucket"], max_bucket_size, "minhash_index")
    # est_jaccard is computed AT the join output (both signatures are on
    # the row already) so the multi-band pair dedup shuffles one double
    # per row instead of two ~1 KB signature arrays (guide §2.3); every
    # duplicate row of a pair carries the same signatures, so first(est)
    # equals the est the old first(sig)/first(sig) dedup produced.
    cand = (
        rows_new.select(
            F.col(id_col).alias("id_new"),
            F.col("sig").alias("sig_a"),
            "band",
            "bucket",
        )
        .join(idx, ["band", "bucket"])
        .filter(F.col("id_new") != F.col("id_indexed"))
        .withColumn("est_jaccard", _est_jaccard(meta["n_hashes"]))
        .groupBy("id_new", "id_indexed")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )
    return (
        cand.filter(F.col("est_jaccard") >= threshold)
        .select("id_new", "id_indexed", "est_jaccard")
    )


# --- SimHash -------------------------------------------------------------------

def _md5w64(word: str) -> int:
    """64-bit word hash = the first 16 hex chars of md5 (big-endian).

    Chosen over FNV-1a because md5 is available verbatim in DuckDB /
    Trino / Snowflake: ``strtol(substr(md5(w),1,16), 16)`` reproduces this
    exactly, which makes the whole SimHash pair computation independently
    SQL-oracle-able (the driver correctness gate). Uniformity is at least
    as good as FNV's.
    """
    return int(hashlib.md5(word.encode("utf-8")).hexdigest()[:16], 16)


@F.pandas_udf(T.LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens.

    Vectorized per Arrow batch: tokens are exploded once, the md5 word
    hash is computed only per UNIQUE word (natural-language vocabularies
    are tiny relative to token counts — Zipf again), and bit votes are
    accumulated with one numpy scatter-add per batch. ~30x the per-row
    loop.
    """
    n = len(text)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    s = text.reset_index(drop=True)
    notnull = s.notna().to_numpy()
    tokens = s[notnull].str.split(" ").explode()
    if tokens.empty:
        return pd.Series(out)
    doc_idx = tokens.index.to_numpy()
    codes, uniques = pd.factorize(tokens.to_numpy())
    vocab_h = np.fromiter((_md5w64(w) for w in uniques), dtype=np.uint64, count=len(uniques))
    word_h = vocab_h[codes]
    bits = (
        (word_h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    ).astype(np.int32)
    # explode preserves row order, so tokens arrive grouped by doc —
    # segment-sum with reduceat (contiguous, ~10× np.add.at's buffered
    # scatter). Majority vote: bit set iff 2·Σbit > count (ties → 0,
    # identical to the ±1-vote formulation).
    starts = np.flatnonzero(np.r_[True, doc_idx[1:] != doc_idx[:-1]])
    seg_docs = doc_idx[starts]
    counts = np.diff(np.r_[starts, len(doc_idx)])
    bit_sums = np.add.reduceat(bits, starts, axis=0)  # (n_docs_present, 64)
    sig_bits = (2 * bit_sums > counts[:, None]).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    sigs = (sig_bits * weights).sum(axis=1, dtype=np.uint64)
    out[seg_docs] = sigs.astype(np.int64)
    return pd.Series(out)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using the
    pigeonhole trick: split 64 bits into (max_hamming+1) bands; any pair
    within distance k agrees exactly on ≥1 band → exact-match band join.
    Band buckets above ``max_bucket_size`` are dropped (observable metric
    ``simhash_band_cap``) — the degenerate-bucket guard, see
    ``cap_key_frequency``."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    df = ensure_min_parallelism(df)
    sig = df.select(F.col(id_col), simhash64_udf(F.col(text_col)).alias("sim"))
    # lineage barrier: the band self-join would otherwise re-evaluate the
    # signature UDF once per side per predicate copy (4x, verified on the
    # physical plan); checkpointed signatures are tiny (id + 8 bytes)
    sig = sig.localCheckpoint(eager=True)
    bands = sig.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sim"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sim", "bk.band", "bk.key")
    bands = cap_key_frequency(bands, ["band", "key"], max_bucket_size, "simhash_band")
    a, b = bands.alias("a"), bands.alias("b")
    # hamming is computed at the join output (both signatures are on the
    # row) so the multi-band pair dedup aggregates one int instead of two
    # longs-then-recompute; every duplicate row of a pair carries the same
    # signatures, so first(hamming) is the identical value.
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )
    return (
        cand.filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- duplicate grouping (connected components) --------------------------------

def dedup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Transitive duplicate groups from a pair list: (node, group) where
    ``group`` = the smallest node id reachable through the pair graph —
    what a real dedup needs after LSH (A≈B and B≈C must collapse to ONE
    exemplar even when A≉C directly).

    Scale-adaptive, like AQE's runtime join choice: the (checkpointed)
    edge list's size picks the strategy.

    * ≤ ``driver_edge_limit`` oriented edges AND under a 512 MB driver
      heap estimate that prices CPython dict/object overhead for numeric
      and string ids alike (the BOUNDED collect): classic union-find on
      the driver, O(E·α). Near-dup pair sets after banding/capping are usually tiny
      relative to the corpus, and the iterative path's per-round job
      overhead (join + agg + checkpoint + count, times diameter) dominates
      its actual work there — measured 6s → <1s on a 500-edge graph.
    * above the limit: iterative min-label propagation (the simple
      converging core of large-star/small-star CC, Kiveris et al. 2014 —
      public knowledge). Each round every node takes the min of its own
      and its neighbors' labels; rounds needed = graph diameter (tiny for
      near-dup clusters). Each round is one shuffle on uniformly-
      distributed node ids; labels are localCheckpoint'd so lineage stays
      flat; termination is an exact changed-count check.

    Both paths yield identical (node, min-reachable-id) output.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round / collected once
    )
    n_edges = edges.count()
    # the budget is BYTES for EVERY id type, not just edge count: the
    # driver materializes parent/comps dicts plus the output row list, and
    # CPython object overhead dominates the payload — a dict entry costs
    # ~100 B before its key even stores a character, so "2M edges" is
    # ~600 MB of driver heap for plain long ids, not the 32 MB the raw
    # 8-byte payload suggests. Numeric ids: a fixed ~150 B/endpoint
    # estimate. String ids: one agg over the checkpointed edges measures
    # the payload, 4x for object + dict overhead. Either estimate must fit
    # the 512 MB driver budget or the distributed path takes over.
    fast = n_edges <= driver_edge_limit
    if fast and n_edges:
        if isinstance(edges.schema["u"].dataType, T.StringType):
            id_bytes = edges.agg(
                F.sum(F.length("u") + F.length("v")).alias("b")
            ).collect()[0]["b"]
            est = (id_bytes or 0) * 4
        else:
            est = n_edges * 2 * 150
        fast = est <= 512 * 1024 * 1024
    if fast:
        spark = pairs.sparkSession
        node_type = edges.schema["u"].dataType
        out_schema = T.StructType(
            [
                T.StructField("node", node_type, True),
                T.StructField("group", node_type, True),
            ]
        )
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # one collect, not toLocalIterator: the byte budget above already
        # bounds what the driver holds, and the iterator's per-partition
        # sequential fetches cost ~2s of round-trips even for a
        # few-thousand-edge graph (measured inside curate_decisions)
        for row in edges.collect():
            u, v = row[0], row[1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[rv] = ru
        comps: dict = {}
        for node in parent:
            comps.setdefault(find(node), []).append(node)
        rows = [
            (node, mn)
            for members in comps.values()
            for mn in [min(members)]
            for node in members
        ]
        return spark.createDataFrame(rows, out_schema)
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_groups did not converge within {max_iter} rounds "
            f"({changed} labels still changing) — a component's diameter "
            "exceeds max_iter; raise it (rounds = diameter) rather than "
            "accept silently-wrong groups"
        )
    return labels.select("node", F.col("label").alias("group"))


# --- exact n-gram Jaccard -------------------------------------------------------

def _ngram_pairs_inworker(
    arr: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None,
    chunk_pair_budget: int = 4_000_000,
):
    """Broadcast-CSR fast path for the exact pair computation (guide §8:
    the ~|co-occurring pairs| intermediate — 114M rows at sf1.0 — never
    leaves the workers; only threshold survivors are materialized).

    Driver builds, from ONE Arrow collect of the (id, shingle-array)
    frame: a dictionary-encoded CSR ``shingle-code → sorted doc ids``
    (the join build side), the per-doc set sizes, and the vocabulary.
    Each task then expands its docs' shingle rows against the CSR in
    numpy (repeat/gather), counts pairs with one sort per doc-aligned
    chunk, attaches sizes, applies the Jaccard threshold and emits ONLY
    the surviving rows. Exact: same shingle sets, same integer
    intersection counts, the identical single IEEE-double division.

    Returns None when the gate fails (ids not castable to uint32-packable
    nonnegative ints, or the table exceeds the broadcast budget) — the
    caller then uses the distributed join path. The cap (if it fires) is
    applied to the CSR side exactly like the join path's build-side
    anti-join; its observability metric only exists on the distributed
    path.
    """
    import pandas as pd
    from pyspark.sql import types as T

    id_type = arr.schema[id_col].dataType
    if not isinstance(id_type, (T.LongType, T.IntegerType)):
        return None
    stats = arr.agg(
        F.sum(F.size("_sh")).alias("rows"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).first()
    rows, lo, hi = stats["rows"] or 0, stats["lo"], stats["hi"]
    # ~48 B/row bounds b_ids + indptr + an all-unique vocabulary; 256 MB
    # keeps the broadcast (and its per-worker copy) far inside executor
    # overhead at local and cluster scale alike
    if rows == 0 or lo is None or lo < 0 or hi >= (1 << 32) or rows * 48 > 256 * 1024 * 1024:
        return None

    import pyarrow.compute as pc

    t = arr.toArrow()
    ids = t.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    shl = t.column("_sh").combine_chunks()
    lens = pc.fill_null(pc.list_value_length(shl), 0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    flat_arr = pc.list_flatten(shl)
    if hasattr(flat_arr, "combine_chunks"):  # ChunkedArray → Array
        flat_arr = flat_arr.combine_chunks()
    denc = pc.dictionary_encode(flat_arr)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = denc.dictionary.to_pandas()
    n_vocab = len(vocab)
    b_ids = np.repeat(ids, lens)
    if max_shingle_df is not None:
        dfreq = np.bincount(codes, minlength=n_vocab)
        keep = dfreq[codes] <= max_shingle_df
        if not keep.all():
            codes, b_ids = codes[keep], b_ids[keep]
    order = np.argsort(codes, kind="stable")
    b_sorted = b_ids[order]
    indptr = np.zeros(n_vocab + 1, np.int64)
    np.cumsum(np.bincount(codes, minlength=n_vocab), out=indptr[1:])
    doc_order = np.argsort(ids, kind="stable")
    ids_sorted, n_sorted = ids[doc_order], lens[doc_order]

    sc = arr.sparkSession.sparkContext
    bc = sc.broadcast(
        {
            "vocab": pd.Index(vocab),
            "indptr": indptr,
            "b_sorted": b_sorted,
            "ids_sorted": ids_sorted,
            "n_sorted": n_sorted,
        }
    )
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type, True),
            T.StructField("id_b", id_type, True),
            T.StructField("jaccard", T.DoubleType(), True),
        ]
    )

    def pairs_fast(batches, _bc=bc, _thr=threshold, _budget=chunk_pair_budget):
        v = _bc.value
        vocab_idx, indptr_l = v["vocab"], v["indptr"]
        b_sorted_l, ids_s, n_s = v["b_sorted"], v["ids_sorted"], v["n_sorted"]
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[id_col].to_numpy().astype(np.int64)
            lists = pdf["_sh"].to_numpy()
            lens_a = np.fromiter(
                (0 if x is None else len(x) for x in lists),
                dtype=np.int64, count=len(lists),
            )
            total_a = int(lens_a.sum())
            if total_a == 0:
                continue
            flat = np.concatenate([x for x in lists if x is not None and len(x)])
            codes_a = vocab_idx.get_indexer(flat)
            safe = np.maximum(codes_a, 0)
            lens_b = np.where(
                codes_a >= 0, indptr_l[safe + 1] - indptr_l[safe], 0
            )
            starts_b = indptr_l[safe]
            a_rep = np.repeat(a_ids, lens_a)
            # doc-aligned chunks bounded by the pair budget: a pair's
            # contributions all come from one doc's rows, so chunking at
            # doc boundaries keeps each pair's count complete per chunk
            cum_b = np.concatenate([[0], np.cumsum(lens_b)])
            doc_end = np.cumsum(lens_a)
            doc_exp_end = cum_b[doc_end]
            chunk_ids = doc_exp_end // _budget
            bounds = np.concatenate(
                [[0], doc_end[np.flatnonzero(np.diff(chunk_ids)) ], [total_a]]
            )
            for r0, r1 in zip(bounds[:-1], bounds[1:]):
                if r0 >= r1:
                    continue
                lb = lens_b[r0:r1]
                tot = int(lb.sum())
                if tot == 0:
                    continue
                base = np.repeat(starts_b[r0:r1], lb)
                inner = np.arange(tot) - np.repeat(np.cumsum(lb) - lb, lb)
                bb = b_sorted_l[base + inner]
                aa = np.repeat(a_rep[r0:r1], lb)
                m = aa < bb
                aa, bb = aa[m], bb[m]
                if aa.size == 0:
                    continue
                key = (aa.astype(np.uint64) << np.uint64(32)) | bb.astype(
                    np.uint64
                )
                uk, cnt = np.unique(key, return_counts=True)
                ua = (uk >> np.uint64(32)).astype(np.int64)
                ub = (uk & np.uint64(0xFFFFFFFF)).astype(np.int64)
                na = n_s[np.searchsorted(ids_s, ua)]
                nb = n_s[np.searchsorted(ids_s, ub)]
                jac = cnt.astype(np.float64) / (na + nb - cnt).astype(np.float64)
                keep_m = jac >= _thr
                if keep_m.any():
                    yield pd.DataFrame(
                        {
                            "id_a": ua[keep_m],
                            "id_b": ub[keep_m],
                            "jaccard": jac[keep_m],
                        }
                    )

    return arr.mapInPandas(pairs_fast, schema=out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 100_000,
) -> DataFrame:
    """EXACT Jaccard over word k-grams for all pairs sharing ≥1 shingle.
    |A∩B| via a self-join on shingle; |A∪B| = |A|+|B|-|A∩B|. At scale this
    runs on LSH candidates, not all pairs — here it doubles as the accuracy
    oracle for minhash_lsh_pairs.

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cap before the self-join (the stop-phrase guard: one trigram shared by
    1M docs is a 10¹² pair bucket). Set sized so it cannot fire below ~100k
    docs — results are exact whenever no shingle exceeds it (true at every
    test SF; the local contract test would catch a capped drift). Doc sizes
    |A| are computed pre-cap, so when the cap does fire at scale the error
    is one-sided (Jaccard under-estimates; a pair is never over-reported).
    """
    df = ensure_min_parallelism(df)
    # Per-doc distinct shingles via array_distinct BEFORE the explode: a
    # row-local JVM operation that replaces the old full (id, shingle)
    # distinct() shuffle, and it makes |A| a per-row expression
    # (size(array)) instead of a separate aggregation pass. The 1-row-per-
    # doc ARRAY frame is checkpointed once and feeds everything — the cap
    # count, both self-join sides and the sizes frame — where the old plan
    # recomputed the scan→split→explode→distinct→cap pipeline four times
    # (6 explodes counting the embedded cap subtrees; see plans/r06/
    # ngram_jaccard_before.txt). The pair aggregation stays count-only:
    # its hash map holds one entry per co-occurring pair (~2 pairs per
    # input pair-row on dup-heavy corpora), and widening those buffers to
    # carry the sizes was measured 1.5× SLOWER than the two post-agg
    # broadcast-attach joins it saved — the agg is memory-bound, the
    # broadcast probes are not.
    words = F.split(F.col(text_col), " ")
    idxs = F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(k), F.lit(0)))
    sh_arr = F.array_distinct(
        F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )
    arr = df.select(F.col(id_col), sh_arr.alias("_sh")).localCheckpoint(eager=True)
    # scale-adaptive (same posture as dedup_groups): when the corpus's
    # shingle table fits a bounded broadcast, count pairs entirely inside
    # the workers against a dictionary-encoded CSR and materialize ONLY
    # the threshold survivors — the ~|pairs| intermediate never crosses an
    # exchange. Above the budget (the 100 TB tier, where this exact
    # operator is the candidate-verification stage anyway), the
    # distributed join below takes over.
    fast = _ngram_pairs_inworker(arr, id_col, threshold, max_shingle_df)
    if fast is not None:
        return fast
    sizes = arr.select(F.col(id_col), F.size("_sh").alias("n"))
    sh = arr.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    # the cap is applied to the BUILD side only: a pair row requires its
    # shingle on BOTH sides of the equi-join, so dropping an over-cap
    # shingle from one side removes every pair it would have generated —
    # identical semantics to the old both-sides cap, one anti-join instead
    # of two (and the observe metric fires once)
    if max_shingle_df is not None:
        sh = cap_key_frequency(sh, ["shingle"], max_shingle_df, "shingle_df")
    # Hash-partition the PROBE side by doc id before the explode (the
    # exchange moves 1 slim array row per doc, not the exploded rows).
    # Explode and the broadcast join both preserve that partitioning, and
    # every (id_a, id_b) contribution is generated in id_a's partition —
    # so HashPartitioning(id_a) satisfies the pair aggregation's clustered
    # distribution and the planner drops the pair exchange entirely: the
    # ~|pairs| intermediate (the dominant shuffle — 2.7 GB at sf1.0) never
    # crosses the wire (guide §2.4: share one exchange across operations
    # keyed the same way). Falls back gracefully when AQE picks a shuffle
    # join instead of broadcast (the aggregation then re-partitions as
    # before).
    a_arr = arr.repartition(F.col(id_col))
    a = a_arr.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    a, b = a.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    # NO broadcast hint: the sizes frame has one row per input document —
    # forcing it through the driver OOMs at corpus scale. It is a slim
    # (long, int) frame, so AQE broadcasts it when it fits and falls back
    # to a shuffle join when the corpus is genuinely huge.
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
