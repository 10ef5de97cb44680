"""Similarity search over embedding columns (array<float>).

Exact paths, the accuracy baselines:

* ``brute_force_topk`` (top-k) and ``exact_neardup_pairs`` (all pairs over
  a cosine threshold) — the query set is broadcast in bounded chunks and
  scored against the streaming corpus by a block matmul per Arrow batch;
  the corpus never shuffles, and the pair space is never materialized.

Scale paths:

* ``lsh_ann_topk`` and ``embedding_neardup_pairs`` — random-hyperplane LSH
  (SimHash-for-vectors): H deterministic hyperplanes → sign-bit bucket;
  candidates = same bucket (multi-probe: exact bucket plus 1-bit flips);
  exact cosine re-rank within candidates. Bucketing is a vectorized pandas
  UDF (one matrix multiply per Arrow batch); candidate-join keys are
  uniform hashes → no skew. Pair space shrinks from N·M to N·M/2^H per
  probe.
* IVF — ``build_ivf_index`` trains a k-means coarse quantizer and persists
  the corpus partitioned by home cell; ``ivf_search`` probes a query
  batch's ``n_probe`` nearest cells only, with data-adaptive cells (better
  recall than hyperplanes on clustered embeddings). ``update_ivf_index``
  maintains the index from a CDC delta, one atomic generation at a time.

The LSH and IVF paths score candidates JVM-side in double precision:
``_dot`` over norms precomputed once per vector (``_norm``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from opengin_ingestion_spark.operators.dedup import cap_key_frequency
from opengin_ingestion_spark.operators.salt import ensure_min_parallelism
from opengin_ingestion_spark.sources.gintable import write_json_atomic


def _dot(a_col: str, b_col: str) -> F.Column:
    """Exact double-precision dot product of two array columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(c: str | F.Column) -> F.Column:
    """Exact double-precision L2 norm of an array column, JVM-side.

    The candidate-scoring paths precompute it once per VECTOR and score a
    pair as ``_dot / (nrm_a * nrm_b)`` — bit-identical to computing both
    norms per pair (the same expression over the same array, the same
    final division), but each of the millions of candidate pairs pays one
    array fold (the dot), not three (guide §1.2 step 2: per-task work,
    after the plan shape is right)."""
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _safe_normalize(m: np.ndarray) -> np.ndarray:
    """Row-normalize; zero-norm rows (encoder failures) stay all-zero
    instead of becoming NaN — NaN poisons argpartition (NaN sorts as
    maximal), evicting a real candidate from every query's local top-k."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("q_id", T.LongType()),
        T.StructField("c_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


def _query_chunks(
    src: DataFrame, id_col: str, vec_col: str, max_rows: int
):
    """Yield (ids, matrix) query chunks, never collecting more than
    ``max_rows`` rows to the driver at once. The slim (id, vec) projection
    is persisted across the count + per-chunk selections, so the source is
    scanned ONCE — each chunk filter (uniform id-hash) reads the cached
    projection, not the table. The driver holds a bounded slice; memory on
    the executors is bounded by the projection (ids + vectors only)."""
    # persist BEFORE the sizing count so that count doubles as the cache
    # materialization — exactly one source scan regardless of chunk count
    base = src.select(id_col, vec_col).persist()
    try:
        n = base.count()
        n_chunks = max(1, -(-n // max_rows))  # ceil
        for c in range(n_chunks):
            part = base if n_chunks == 1 else base.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)) == c
            )
            pdf = part.toPandas()
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = _safe_normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            yield ids, m
    finally:
        # safe at generator exhaustion: every chunk is already collected,
        # and the downstream mapInPandas stages reference the corpus, not
        # this projection
        base.unpersist()


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_rows: int = 65_536,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self).

    Returns (vec_id, neighbor_id, rank) — rank 1 = most similar; ties
    broken by neighbor_id for determinism.

    Physical strategy: the query set is broadcast in chunks of at most
    ``max_broadcast_rows`` rows (so self-search NEVER collects the whole
    corpus to the driver — the round-1 driver-OOM path); per chunk, a
    ``mapInPandas`` stage streams the corpus once, computing an Arrow-batch
    × query BLAS matmul in float64 and emitting only each batch's local
    top-k candidates per query (k · n_batches rows, not n_corpus · n_query
    pairs). A final window over the tiny candidate union picks the global
    top-k. The corpus never shuffles; the pair space is never materialized.
    For huge self-search sets prefer ``lsh_ann_topk`` — chunked brute force
    is exact but O(N²/chunks) scans.
    """
    src = corpus if queries is None else queries
    corpus = ensure_min_parallelism(corpus)
    sc = corpus.sparkSession.sparkContext
    chunk_outputs = []
    for q_ids, qm in _query_chunks(src, id_col, vec_col, max_broadcast_rows):
        bc = sc.broadcast((q_ids, qm))

        def local_topk(batches, _bc=bc):
            q_ids_l, qm_l = _bc.value
            for pdf in batches:
                c_ids = pdf[id_col].to_numpy()
                cm = _safe_normalize(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                )
                sims = cm @ qm_l.T  # (batch, nq)
                sims[c_ids[:, None] == q_ids_l[None, :]] = -np.inf  # self
                kk = min(k, sims.shape[0])
                top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
                rows = {
                    "q_id": np.repeat(q_ids_l[None, :], kk, axis=0).ravel(),
                    "c_id": c_ids[top].ravel(),
                    "cos": np.take_along_axis(sims, top, axis=0).ravel(),
                }
                out = pd.DataFrame(rows)
                yield out[np.isfinite(out["cos"])]

        chunk_outputs.append(corpus.mapInPandas(local_topk, schema=_TOPK_SCHEMA))
    if not chunk_outputs:  # empty corpus/query set → empty result, not IndexError
        return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA).select(
            F.col("q_id").alias(id_col),
            F.col("c_id").alias("neighbor_id"),
            F.lit(1).alias("rank"),
        )
    cand = chunk_outputs[0]
    for extra in chunk_outputs[1:]:
        cand = cand.unionByName(extra)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias(id_col),
            F.col("c_id").alias("neighbor_id"),
            F.col("rank"),
        )
    )


def exact_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_broadcast_rows: int = 65_536,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b,
    cos ≥ threshold) — the accuracy oracle for the LSH variant.

    Same chunked-broadcast block-matmul shape as ``brute_force_topk``: the
    corpus streams through mapInPandas once per query chunk; only pairs
    over the threshold are ever materialized. Exact but O(N²/chunk) work —
    at 100 TB use ``embedding_neardup_pairs`` (hyperplane LSH) and reserve
    this for candidate verification / small corpora.
    """
    sc = corpus.sparkSession.sparkContext
    corpus = ensure_min_parallelism(corpus)
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    chunk_outputs = []
    for q_ids, qm in _query_chunks(corpus, id_col, vec_col, max_broadcast_rows):
        bc = sc.broadcast((q_ids, qm))

        def pairs(batches, _bc=bc):
            q_ids_l, qm_l = _bc.value
            for pdf in batches:
                c_ids = pdf[id_col].to_numpy()
                cm = _safe_normalize(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                )
                sims = cm @ qm_l.T  # (batch, nq)
                # id_a < id_b keeps each pair once, and drops self-pairs
                keep = (sims >= threshold) & (c_ids[:, None] < q_ids_l[None, :])
                ci, qi = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": c_ids[ci],
                        "id_b": q_ids_l[qi],
                        "cos": sims[ci, qi],
                    }
                )

        chunk_outputs.append(corpus.mapInPandas(pairs, schema=out_schema))
    if not chunk_outputs:  # empty corpus → empty result, not IndexError
        return corpus.sparkSession.createDataFrame([], out_schema)
    out = chunk_outputs[0]
    for extra in chunk_outputs[1:]:
        out = out.unionByName(extra)
    return out


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Scale path: hyperplane-LSH bucketing (near-identical vectors share
    sign buckets with overwhelming probability at high thresholds) +
    exact cosine verification within candidates — the vector analog of
    MinHash-LSH text dedup. Buckets above ``max_bucket_size`` are dropped
    (observable metric ``embedding_bucket_cap``) — the degenerate-bucket
    guard (e.g. the all-zeros vector every encoder failure emits). For an
    exact answer at small N use ``exact_neardup_pairs``."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = make_hyperplanes(dim, n_planes, seed)
    corpus = ensure_min_parallelism(corpus)
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col),
        _norm(F.col(vec_col)).alias("_nrm"),  # once per vector, see _norm
        _bucket_udf(planes)(F.col(vec_col)).alias("b"),
    ).localCheckpoint(eager=True)
    bucketed = cap_key_frequency(bucketed, ["b"], max_bucket_size, "embedding_bucket")
    probes = bucketed.select(
        id_col, vec_col, "_nrm",
        F.explode(
            F.array(
                F.col("b"),
                *[
                    F.col("b").bitwiseXOR(F.lit(1 << p)).cast("long")
                    for p in range(n_planes)
                ],
            )
        ).alias("pb"),
    )
    a = probes.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("_nrm").alias("na"), F.col("pb").alias("b"),
    )
    c = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("_nrm").alias("nb"), F.col("b"),
    )
    # at-most-one match per ordered pair: id_b's home bucket is unique and
    # id_a's probe list is n_planes+1 distinct buckets, so the old
    # pair-dedup aggregate was a no-op shuffling both vectors — score at
    # the join output directly (guide §2.3/§8)
    return (
        a.join(c, "b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def make_hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (public random-projection LSH)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _bucket_udf(planes: np.ndarray):
    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (m.astype(np.float64) @ planes.T) > 0  # (batch, n_planes)
        weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
        return pd.Series(signs @ weights)

    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 10,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Approximate self-search top-k: bucket by hyperplane sign bits,
    compare only within-bucket (plus 1-bit-flip probes), exact re-rank.
    Degenerate buckets above ``max_bucket_size`` are dropped from the
    candidate space (observable metric ``ann_bucket_cap``).

    Recall is tested against ``brute_force_topk`` in tests/test_similarity.py.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = make_hyperplanes(dim, n_planes, seed)
    corpus = ensure_min_parallelism(corpus)
    # _nrm precomputed once per vector (20k folds), not once per candidate
    # pair (14M at sf1.0) — see _norm
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col),
        _norm(F.col(vec_col)).alias("_nrm"),
        _bucket_udf(planes)(F.col(vec_col)).alias("b"),
    ).localCheckpoint(eager=True)  # barrier: self-joined twice below
    # the cap applies to the CANDIDATE side only — every vector keeps its
    # query role even if its home bucket is degenerate
    candidates = cap_key_frequency(bucketed, ["b"], max_bucket_size, "ann_bucket")
    # multi-probe: each vector also probes the n_planes buckets one bit away
    probes = bucketed.select(
        id_col,
        vec_col,
        "_nrm",
        F.explode(
            F.array(
                F.col("b"),
                *[
                    F.col("b").bitwiseXOR(F.lit(1 << p)).cast("long")
                    for p in range(n_planes)
                ],
            )
        ).alias("probe_b"),
    )
    a = candidates.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
        F.col("_nrm").alias("c_nrm"), F.col("b"),
    )
    q = probes.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.col("_nrm").alias("q_nrm"), F.col("probe_b").alias("b"),
    )
    # A (q, c) pair can match at most ONCE: c appears in exactly one home-
    # bucket row and q's probe list {b} ∪ {b ^ 1<<p} is n_planes+1 DISTINCT
    # buckets — so the pair-dedup aggregate the old plan paid here was a
    # no-op that shuffled both full vectors (~1 KB/row at dim 64) through a
    # second exchange. Score at the join output and project to
    # (q_id, c_id, cos) before the top-k window instead (guide §2.3/§8:
    # every exchange after the join moves three scalars, not payloads).
    scored = (
        q.join(a, "b")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            (_dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias(id_col),
            F.col("c_id").alias("neighbor_id"),
            F.col("rank"),
        )
    )


# --- IVF (inverted-file) ANN ----------------------------------------------------

def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means coarse quantizer trained on a deterministic sample
    (smallest ids — stable across runs/partitionings, unlike limit()).
    Driver-side numpy Lloyd iterations on ≤ train_sample rows; the corpus
    itself never leaves the executors."""
    pdf = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_sample)
        .toPandas()
    )
    x = _safe_normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / np.linalg.norm(v)
            else:  # empty cluster: reseed from a random point
                cent[c] = x[rng.randint(len(x))]
    return cent


def _ivf_assign_udf(centroids: np.ndarray, n_probe: int):
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_ids(vecs: pd.Series) -> pd.Series:
        m = _safe_normalize(np.stack(vecs.to_numpy()).astype(np.float64))
        sims = m @ centroids.T  # (batch, C)
        kk = min(n_probe, sims.shape[1])
        top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        # order probes by similarity (cell 0 = home cell)
        row = np.take_along_axis(sims, top, axis=1)
        order = np.argsort(-row, axis=1)
        out = np.take_along_axis(top, order, axis=1).astype(np.int32)
        return pd.Series(list(out))

    return probe_ids


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_sample: int = 4096,
    seed: int = 42,
) -> dict:
    """Train and PERSIST an IVF index: centroids (JSON, driver-small) +
    home-cell assignments carrying the vectors (Parquet, partitioned by
    cell so a probe reads only its cells' files). Amortizes the quantizer
    training and the full-corpus assignment scan across every subsequent
    ``ivf_search`` call — the analog of the
    reference persisting each pipeline stage so work is never redone
    (reference orchestrator.py:137-153).

    Returns the meta dict (also written to ``<index_path>/meta.json``).
    Deterministic: same corpus + seed ⇒ identical index across sessions.

    GENERATIONS (round 5): the cells layout lives in a per-generation
    directory (``cells-g{N}``) named by ``meta.json``, which is the
    index's atomic commit pointer. A rebuild (or incremental update)
    writes a complete NEW generation beside the old one and then
    atomically replaces meta.json — so a reader that loaded the old meta
    keeps a fully consistent old layout (its files are never modified),
    a reader loading after the flip sees the new one, and a crash at ANY
    point leaves the old generation current (the half-written new dir is
    unreferenced garbage, GC'd by the next successful writer). The one
    stale generation preceding the current one is retained as a grace
    window for in-flight readers; older ones are GC'd. (On an object
    store the same design holds with a per-cell path manifest instead of
    directory renames — the pointer flip is the commit either way.)
    """
    import os as _os

    centroids = train_centroids(
        corpus, id_col, vec_col, n_centroids, train_sample, seed=seed
    )
    _os.makedirs(index_path, exist_ok=True)
    try:
        prev_meta = load_ivf_meta(index_path)
    except FileNotFoundError:
        prev_meta = None
    gen = (prev_meta.get("generation", 0) + 1) if prev_meta else 0
    cells_rel = f"cells-g{gen}"
    cells_abs = _os.path.join(index_path, cells_rel)
    # a crashed earlier writer may have left this generation dir behind;
    # it is unreferenced (meta still points before it) — clear and reuse
    import shutil as _shutil

    _shutil.rmtree(cells_abs, ignore_errors=True)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _ivf_assign_udf(centroids, 1)(F.col(vec_col)).getItem(0).alias("cell"),
    )
    (
        # repartition by cell first: one file per cell instead of up to
        # (tasks × cells) shards — a probe then opens exactly its cells'
        # files, and small-scale read overhead stays O(cells)
        assigned.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .parquet(cells_abs)
    )
    # cell sizes at build time = the drift baseline for recommend_rebuild;
    # read back column-pruned (cell is the partition column — this touches
    # footers/dirnames, not vector data)
    spark = corpus.sparkSession
    cell_counts = {
        str(r["cell"]): r["count"]
        for r in spark.read.parquet(cells_abs).groupBy("cell").count().collect()
    }
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_centroids": int(centroids.shape[0]),
        "dim": int(centroids.shape[1]),
        "train_sample": train_sample,
        "seed": seed,
        "centroids": centroids.tolist(),
        "generation": gen,
        "cells_rel": cells_rel,
        "cell_counts": cell_counts,
        "built_rows": int(sum(cell_counts.values())),
        "built_cell_counts": cell_counts,
    }
    _commit_ivf_meta(index_path, meta)
    _gc_ivf_generations(
        index_path,
        keep={cells_rel} | ({prev_meta["cells_rel"]} if prev_meta and "cells_rel" in prev_meta else {"cells"}),
    )
    return meta


def _commit_ivf_meta(index_path: str, meta: dict) -> None:
    """Atomically publish ``meta.json`` — the index's commit pointer:
    written only after the generation's cells layout is fully on disk."""
    import os as _os

    write_json_atomic(_os.path.join(index_path, "meta.json"), meta)


def _gc_ivf_generations(index_path: str, keep: set) -> None:
    """Remove generation dirs not in ``keep`` (current + one stale
    generation as the in-flight-reader grace window)."""
    import os as _os
    import shutil as _shutil

    for name in _os.listdir(index_path):
        if (name == "cells" or name.startswith("cells-g")) and name not in keep:
            _shutil.rmtree(_os.path.join(index_path, name), ignore_errors=True)


def update_ivf_index(
    changes: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    change_type_col: str = "_change_type",
) -> dict:
    """Incrementally maintain a persisted IVF index from a CDC delta —
    the consumer-side pairing of ``table_changes`` (upsert → reassign the
    vector to its home cell under the EXISTING quantizer; delete → remove)
    instead of a full ``build_ivf_index`` rebuild.

    ``changes`` carries (id_col, vec_col, change_type_col) with change
    types ``upsert`` | ``delete`` (vec may be null for deletes).

    Physical shape, sized for a large corpus: ONE column-pruned (id, cell)
    scan of the index finds the changed ids' old cells (ids can live
    anywhere — no pruning possible for the lookup, but only the two slim
    columns are read); everything after is ∝ touched cells: their rows are
    re-read, changed ids anti-joined out, re-assigned upserts unioned in,
    and ONLY those cells are physically rewritten — into a NEW generation
    directory whose untouched cells are hardlinked from the old one
    (metadata-only, no data copy), committed by one atomic meta.json
    replace (see build_ivf_index GENERATIONS). Crash-safe (the old
    generation stays current until the flip) and reader-safe (a reader's
    loaded generation is never modified; one stale generation is retained
    as a grace window). The quantizer is NOT retrained — use
    ``recommend_rebuild`` on the update-maintained cell-size stats to
    decide when sustained drift warrants a periodic full rebuild.

    Returns {"touched_cells", "upserts", "deletes", "generation"} stats.
    """
    import os as _os
    import shutil as _shutil

    meta = load_ivf_meta(index_path)
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    cells_path = ivf_cells_path(index_path, meta)
    spark = changes.sparkSession

    # fail-fast on unknown change types: a caller feeding Delta-CDF
    # vocabulary ('insert', 'update_postimage', ...) must get an error,
    # not a silent anti-join removal of those ids from the index.
    # ONE aggregation also yields the distinct-delete count the stats need
    # (previously a separate count job — each Spark action on a small
    # delta costs more in scheduling than in work)
    type_rows = changes.groupBy(change_type_col).agg(
        F.count_distinct(F.col(id_col)).alias("n")
    ).collect()
    unknown_types = {r[0] for r in type_rows} - {"upsert", "delete"}
    if unknown_types:
        raise ValueError(
            f"unknown {change_type_col} values {sorted(map(str, unknown_types))}: "
            "update_ivf_index consumes table_changes vocabulary "
            "('upsert' | 'delete') — map other CDC dialects before calling"
        )
    n_deletes = sum(r["n"] for r in type_rows if r[0] == "delete")

    # an upsert with a NULL vector removes the id from the index (its id
    # is in changed_ids so old copies are dropped; nothing is re-added) —
    # and a null must never reach the assignment UDF (np.stack would
    # throw mid-batch). An id appearing in MULTIPLE upsert rows (e.g. two
    # concatenated micro-deltas) must land exactly ONE index entry: pick
    # the lexicographically-max vector per id — arbitrary but
    # deterministic (table_changes deltas are one-row-per-id by
    # construction; callers wanting a specific winner should pre-reduce
    # with their own version column).
    upserts = (
        changes.filter(
            (F.col(change_type_col) == "upsert") & F.col(vec_col).isNotNull()
        )
        .groupBy(id_col)
        .agg(F.max(vec_col).alias(vec_col))
    )
    changed_ids = changes.select(id_col).distinct().localCheckpoint(eager=True)

    assigned_new = upserts.select(
        F.col(id_col),
        F.col(vec_col),
        _ivf_assign_udf(centroids, 1)(F.col(vec_col)).getItem(0).alias("cell"),
    ).localCheckpoint(eager=True)  # cell stats + keep-union + write

    existing = spark.read.parquet(cells_path)
    # old homes of changed ids: semi join over the slim (id, cell)
    # projection — deliberately NOT hint-broadcast (the delta can be
    # large; AQE picks broadcast when it is actually small)
    old_cells = {
        r["cell"]
        for r in existing.join(changed_ids, id_col, "leftsemi")
        .select("cell")
        .distinct()
        .collect()
    }
    # one aggregation over the checkpointed assignments yields the new
    # home-cell set AND the upsert count (≤n_centroids rows); the delete
    # count came out of the type-vocabulary aggregation above
    new_cell_counts = assigned_new.groupBy("cell").count().collect()
    new_cells = {r["cell"] for r in new_cell_counts}
    n_upserts = sum(r["count"] for r in new_cell_counts)
    touched = sorted(old_cells | new_cells)
    if not touched:
        return {
            "touched_cells": 0, "upserts": 0, "deletes": 0,
            "generation": meta.get("generation", 0),
        }

    keep = (
        existing.filter(F.col("cell").isin(touched))
        .join(changed_ids, id_col, "left_anti")
        .select(id_col, vec_col, "cell")
    )
    replacement = keep.unionByName(
        assigned_new.select(id_col, vec_col, "cell")
    )
    # ONE write action into the NEXT generation dir (reading and
    # overwriting the same path in one job is unsafe anyway); only the
    # touched cells materialize there. A touched cell whose rows were all
    # removed simply has no dir in the new generation.
    gen = meta.get("generation", 0) + 1
    new_rel = f"cells-g{gen}"
    new_abs = _os.path.join(index_path, new_rel)
    _shutil.rmtree(new_abs, ignore_errors=True)  # crashed-writer leftover
    (
        replacement.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .parquet(new_abs)
    )
    # touched-cell sizes for the drift stats: column-pruned count over the
    # just-written partitions (footer-level work)
    try:
        touched_counts = {
            str(r["cell"]): r["count"]
            for r in spark.read.parquet(new_abs).groupBy("cell").count().collect()
        }
    except Exception:  # deletes-only delta emptied every touched cell:
        touched_counts = {}  # the write left no parquet to infer from
    # hardlink every UNTOUCHED cell's files across (metadata-only: no data
    # copy, old files immutable — object-store variant would reference the
    # old paths in a per-cell manifest instead)
    touched_set = {f"cell={c}" for c in touched}
    if _os.path.isdir(cells_path):
        for entry in _os.listdir(cells_path):
            if not entry.startswith("cell=") or entry in touched_set:
                continue
            src_dir = _os.path.join(cells_path, entry)
            dst_dir = _os.path.join(new_abs, entry)
            _os.makedirs(dst_dir, exist_ok=True)
            for fname in _os.listdir(src_dir):
                _os.link(
                    _os.path.join(src_dir, fname), _os.path.join(dst_dir, fname)
                )
    # update the maintained cell-size stats: touched cells take their new
    # counts (absent ⇒ emptied ⇒ 0 rows ⇒ dropped), untouched carry over
    cell_counts = dict(meta.get("cell_counts", meta.get("built_cell_counts", {})))
    for c in touched:
        n = touched_counts.get(str(c), 0)
        if n:
            cell_counts[str(c)] = n
        else:
            cell_counts.pop(str(c), None)
    new_meta = {
        **meta,
        "generation": gen,
        "cells_rel": new_rel,
        "cell_counts": cell_counts,
    }
    # THE commit: readers before this see the old generation (intact),
    # readers after see the new one; a crash before this line changes
    # nothing durable. Re-read-and-abort first: two concurrent updaters
    # both derive generation+1 from the same parent — the loser must fail
    # loudly instead of silently discarding the winner's delta (ADVICE
    # round 5; GinTable commits make the same expected-parent check).
    current = load_ivf_meta(index_path)
    if current.get("generation", 0) != meta.get("generation", 0):
        _shutil.rmtree(new_abs, ignore_errors=True)
        raise RuntimeError(
            f"concurrent IVF update: index generation moved "
            f"{meta.get('generation', 0)} -> {current.get('generation', 0)} "
            "while this update ran — re-read the index and re-apply the delta"
        )
    _commit_ivf_meta(index_path, new_meta)
    _gc_ivf_generations(index_path, keep={new_rel, meta.get("cells_rel", "cells")})
    return {
        "touched_cells": len(touched),
        "upserts": int(n_upserts),
        "deletes": int(n_deletes),
        "generation": gen,
    }


def update_ivf_index_from_table(
    table,
    index_path: str,
    from_version: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Sync a persisted IVF index with a GinTable of vectors: consume the
    table's CDC-out delta since ``from_version`` (sources/gintable.py::
    table_changes — work ∝ changed buckets) and apply it incrementally
    (``update_ivf_index``). The index serves reads continuously; only
    changed vectors are reassigned. ``id_col`` is the table's merge key."""
    from opengin_ingestion_spark.sources.gintable import table_changes

    delta = table_changes(table, from_version, key=id_col)
    changes = delta.select(
        F.col(id_col), F.col(vec_col), F.col("_change_type")
    )
    return update_ivf_index(changes, index_path, id_col, vec_col)


def load_ivf_meta(index_path: str) -> dict:
    """The index's commit pointer: quantizer + current generation +
    maintained cell-size stats. Raises FileNotFoundError on a never-
    committed (or mid-first-build) index."""
    import json as _json
    import os as _os

    with open(_os.path.join(index_path, "meta.json")) as fh:
        return _json.load(fh)


def load_ivf_centroids(index_path: str) -> np.ndarray:
    return np.asarray(load_ivf_meta(index_path)["centroids"], dtype=np.float64)


def ivf_cells_path(index_path: str, meta: dict | None = None) -> str:
    """Absolute path of the CURRENT generation's cells directory (legacy
    pre-generation indexes resolve to the old fixed ``cells`` dir)."""
    import os as _os

    if meta is None:
        meta = load_ivf_meta(index_path)
    return _os.path.join(index_path, meta.get("cells_rel", "cells"))


def ivf_index_stats(index_path: str) -> dict:
    """Drift/health stats from the maintained meta (no data scan):
    total rows, growth since build, and cell-size skew."""
    meta = load_ivf_meta(index_path)
    counts = [int(n) for n in meta.get("cell_counts", {}).values()]
    total = sum(counts)
    built = int(meta.get("built_rows", 0)) or None
    mean = (total / len(counts)) if counts else 0.0
    return {
        "generation": meta.get("generation", 0),
        "n_cells": len(counts),
        "total_rows": total,
        "built_rows": built,
        "growth": (total / built) if built else None,
        "max_cell": max(counts) if counts else 0,
        "mean_cell": mean,
        "skew": (max(counts) / mean) if mean else None,
    }


def recommend_rebuild(
    index_path: str, max_growth: float = 2.0, max_skew: float = 4.0
) -> bool:
    """Should the quantizer be retrained (full ``build_ivf_index``) rather
    than continuing incremental updates? True when either drift signal
    fires, both computed from update-maintained stats (no corpus scan):

    * **growth**: the corpus outgrew the quantizer's training distribution
      (total rows > ``max_growth``× rows at build) — centroids trained on
      a much smaller corpus under-partition it, inflating probe cost;
    * **skew**: cell sizes degenerated (max cell > ``max_skew``× the mean)
      — ingest drifted toward regions the quantizer under-covers, so hot
      cells dominate probe latency and the cap starts dropping candidates.

    Thresholds are policy defaults, not magic: growth 2× halves effective
    cells-per-row; skew 4× is where the ``max_cell_size`` cap typically
    starts firing on real distributions.
    """
    s = ivf_index_stats(index_path)
    if s["growth"] is not None and s["growth"] > max_growth:
        return True
    if s["skew"] is not None and s["skew"] > max_skew:
        return True
    return False


def ivf_search(
    queries: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    max_cell_size: int = 100_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k search of a QUERY BATCH against a persisted IVF index — the
    amortized serving path: the corpus-side work (quantizer training, the
    full-corpus assignment pass, the cell-partitioned layout) was paid once
    by ``build_ivf_index``; per call only the (small) query batch runs the
    probe matmul, and the scan touches only the probed cells' files
    (cell-partition pruning on the index layout). Pair space =
    |queries| × (n_probe/C) × |corpus|.

    ``exclude_self`` drops candidate == query id matches (the self-search
    convention: searching the corpus itself finds each vector's neighbors,
    not the vector).

    ONE meta.json read pins this call to one index generation: the files
    it scans are immutable for that generation's lifetime (current + one
    grace generation), so searches never race a concurrent update."""
    meta = load_ivf_meta(index_path)
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    spark = queries.sparkSession
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),  # once per query, see _norm
        F.explode(
            _ivf_assign_udf(centroids, n_probe)(F.col(vec_col))
        ).alias("cell"),
    ).localCheckpoint(eager=True)  # probed twice: cell collect + join
    # explicit cell pruning: the batch probes at most min(|batch|·n_probe,
    # n_centroids) distinct cells — collecting that tiny set makes the
    # index scan STATICALLY partition-pruned (cell is the layout's
    # partition column), so a probe opens only its cells' files instead of
    # relying on runtime DPP
    probe_cells = [r["cell"] for r in q.select("cell").distinct().collect()]
    home = (
        spark.read.parquet(ivf_cells_path(index_path, meta))
        .filter(F.col("cell").isin(probe_cells))
        .select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_nrm"),  # once per indexed row
            F.col("cell").cast("int").alias("cell"),
        )
    )
    home = cap_key_frequency(home, ["cell"], max_cell_size, "ivf_cell")
    # at-most-one match per (q, c): c is indexed in exactly one cell and
    # the probe UDF emits n_probe DISTINCT cells — score at the join
    # output and shuffle (q_id, c_id, cos) into the window, never the
    # vectors (the old pair-dedup aggregate was a no-op that moved both
    # payloads through a second exchange; guide §2.3/§8)
    cand = q.join(home, "cell")
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("c_id"))
    scored = cand.select(
        "q_id", "c_id",
        (_dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias(id_col),
            F.col("c_id").alias("neighbor_id"),
            F.col("rank"),
        )
    )

