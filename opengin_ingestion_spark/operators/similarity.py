"""Similarity search over embedding columns (array<float>).

Exact paths, the accuracy baselines:

* ``brute_force_topk`` (top-k) and ``exact_neardup_pairs`` (all pairs over
  a cosine threshold) share one scan (``_exact_scan``): the query set is
  broadcast in bounded chunks and scored against the streaming corpus by
  a block matmul per Arrow batch; the corpus never shuffles, and the pair
  space is never materialized.

Scale paths:

* ``lsh_ann_topk`` and ``embedding_neardup_pairs`` — random-hyperplane LSH
  (SimHash-for-vectors): H deterministic hyperplanes → sign-bit bucket;
  candidates = same bucket (multi-probe: exact bucket plus 1-bit flips);
  exact cosine re-rank within candidates. Both bucket through one
  vectorized pandas UDF site (``_hyperplane_buckets``, one matrix
  multiply per Arrow batch) and probe through ``_probes``; candidate-join
  keys are uniform hashes → no skew. Pair space shrinks from N·M to
  N·M/2^H per probe.
* IVF — ``build_ivf_index`` trains a k-means coarse quantizer and persists
  the corpus partitioned by home cell; ``ivf_search`` probes a query
  batch's ``n_probe`` nearest cells only, with data-adaptive cells (better
  recall than hyperplanes on clustered embeddings). ``update_ivf_index``
  maintains the index from a CDC delta, one atomic generation at a time.
  Build and update commit through one ``_publish_generation``: each
  writer fills its own ``cells-g{N}-{uuid8}`` directory and flips
  ``meta.json`` only if its parent generation is still current; it
  deletes its own directory on failure and, after committing N, only
  generations ≤ N other than its own and its parent's.

Every top-k ranks through one window (``_rank_topk``). The LSH and IVF
paths score candidates JVM-side in double precision: ``_dot`` over norms
precomputed once per vector (``_norm``).
"""

from __future__ import annotations

import functools
import re

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
_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
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


def _exact_scan(
    corpus: DataFrame,
    src: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int,
    emit,
    schema: T.StructType,
) -> DataFrame:
    """The exact cosine scan both exact operators share: ``src`` is
    broadcast in chunks of at most ``max_rows`` rows (``_query_chunks``);
    per chunk, ONE ``mapInPandas`` stage streams ``corpus`` once,
    normalizes each Arrow batch and computes its batch × chunk BLAS matmul
    in float64. ``emit(c_ids, q_ids, sims)`` turns one (batch, chunk)
    similarity block into the rows (``schema``) the operator keeps, so the
    pair space is never materialized and the corpus never shuffles. The
    chunk outputs are unioned directly — no empty seed frame, which would
    add an empty-relation branch to every plan."""
    sc = corpus.sparkSession.sparkContext
    chunk_outputs = []
    for q_ids, qm in _query_chunks(src, id_col, vec_col, max_rows):
        bc = sc.broadcast((q_ids, qm))

        def scan(batches, _bc=bc):
            q_ids_l, qm_l = _bc.value
            for pdf in batches:
                cm = _safe_normalize(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                )
                yield emit(pdf[id_col].to_numpy(), q_ids_l, cm @ qm_l.T)

        chunk_outputs.append(corpus.mapInPandas(scan, schema=schema))
    if not chunk_outputs:  # empty corpus/query set → empty result
        return corpus.sparkSession.createDataFrame([], schema)
    return functools.reduce(DataFrame.unionByName, chunk_outputs)


def _rank_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Global top-k per query over scored (q_id, c_id, cos) candidates →
    (id_col, neighbor_id, rank); rank 1 = most similar, ties broken by
    neighbor id for determinism."""
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

    Physical strategy (``_exact_scan``): the query set is broadcast in
    chunks of at most ``max_broadcast_rows`` rows (so self-search NEVER
    collects the whole corpus to the driver); each corpus batch emits only
    its local top-k candidates per query (k · n_batches rows, not
    n_corpus · n_query pairs), and a final window over the tiny candidate
    union picks the global top-k. For huge self-search sets prefer
    ``lsh_ann_topk`` — chunked brute force is exact but O(N²/chunks) scans.
    """

    def local_topk(c_ids, q_ids, sims):
        sims[c_ids[:, None] == q_ids[None, :]] = -np.inf  # self
        kk = min(k, sims.shape[0])
        top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
        out = pd.DataFrame(
            {
                "q_id": np.repeat(q_ids[None, :], kk, axis=0).ravel(),
                "c_id": c_ids[top].ravel(),
                "cos": np.take_along_axis(sims, top, axis=0).ravel(),
            }
        )
        return out[np.isfinite(out["cos"])]

    src = corpus if queries is None else queries
    cand = _exact_scan(
        ensure_min_parallelism(corpus), src, id_col, vec_col,
        max_broadcast_rows, local_topk, _TOPK_SCHEMA,
    )
    return _rank_topk(cand, id_col, k)


def exact_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_broadcast_rows: int = 65_536,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b,
    cos ≥ threshold) — the accuracy oracle for the LSH variant.

    Same chunked-broadcast scan as ``brute_force_topk`` (``_exact_scan``);
    only pairs over the threshold are ever materialized. Exact but
    O(N²/chunk) work — at 100 TB use ``embedding_neardup_pairs``
    (hyperplane LSH) and reserve this for candidate verification / small
    corpora.
    """

    def pairs(c_ids, q_ids, sims):
        # id_a < id_b keeps each pair once, and drops self-pairs
        keep = (sims >= threshold) & (c_ids[:, None] < q_ids[None, :])
        ci, qi = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": c_ids[ci], "id_b": q_ids[qi], "cos": sims[ci, qi]}
        )

    corpus = ensure_min_parallelism(corpus)
    return _exact_scan(
        corpus, corpus, id_col, vec_col, max_broadcast_rows, pairs, _PAIRS_SCHEMA
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


def _hyperplane_buckets(
    corpus: DataFrame, id_col: str, vec_col: str, n_planes: int, seed: int
) -> DataFrame:
    """The one hyperplane bucketing site: (id, vec, _nrm, b) with ``b`` the
    sign-bit bucket under ``n_planes`` seeded hyperplanes (dim read from
    the data). Checkpointed — both LSH operators join it against itself.
    ``_nrm`` is computed once per vector, not once per candidate pair
    (see ``_norm``)."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = make_hyperplanes(dim, n_planes, seed)
    return (
        ensure_min_parallelism(corpus)
        .select(
            F.col(id_col), F.col(vec_col),
            _norm(F.col(vec_col)).alias("_nrm"),
            _bucket_udf(planes)(F.col(vec_col)).alias("b"),
        )
        .localCheckpoint(eager=True)
    )


def _probes(n_planes: int) -> F.Column:
    """Multi-probe explode over a bucketed frame's ``b``: the home bucket
    plus the ``n_planes`` buckets one bit away — n_planes+1 DISTINCT
    buckets, so a vector whose home bucket is unique matches a probing
    vector at most once (no pair-dedup aggregate is needed)."""
    return F.explode(
        F.array(
            F.col("b"),
            *[F.col("b").bitwiseXOR(F.lit(1 << p)).cast("long") for p in range(n_planes)],
        )
    )


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
    from both sides (observable metric ``embedding_bucket_cap``) — the
    degenerate-bucket guard (e.g. the all-zeros vector every encoder
    failure emits). For an exact answer at small N use
    ``exact_neardup_pairs``."""
    bucketed = cap_key_frequency(
        _hyperplane_buckets(corpus, id_col, vec_col, n_planes, seed),
        ["b"], max_bucket_size, "embedding_bucket",
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("_nrm").alias("na"), _probes(n_planes).alias("b"),
    )
    c = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("_nrm").alias("nb"), F.col("b"),
    )
    # score at the join output directly: at most one match per ordered
    # pair (see _probes), so no pair-dedup aggregate (guide §2.3/§8)
    return (
        a.join(c, "b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 10,
    seed: int = 42,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Approximate self-search top-k: bucket by hyperplane sign bits,
    compare only within-bucket (plus 1-bit-flip probes), exact re-rank.
    Degenerate buckets above ``max_bucket_size`` are dropped from the
    candidate space (observable metric ``ann_bucket_cap``).

    Recall is tested against ``brute_force_topk`` in tests/test_similarity.py.
    """
    bucketed = _hyperplane_buckets(corpus, id_col, vec_col, n_planes, seed)
    # the cap applies to the CANDIDATE side only — every vector keeps its
    # query role even if its home bucket is degenerate
    a = cap_key_frequency(bucketed, ["b"], max_bucket_size, "ann_bucket").select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
        F.col("_nrm").alias("c_nrm"), F.col("b"),
    )
    q = bucketed.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.col("_nrm").alias("q_nrm"), _probes(n_planes).alias("b"),
    )
    # score at the join output (at most one match per (q, c), see _probes)
    # and project to (q_id, c_id, cos) before the top-k window: every
    # exchange after the join moves three scalars, not payloads
    # (guide §2.3/§8)
    scored = (
        q.join(a, "b")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            (_dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm"))).alias("cos"),
        )
    )
    return _rank_topk(scored, id_col, k)


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
    Deterministic: same corpus + seed ⇒ identical index contents across
    sessions.

    GENERATIONS: the cells layout lives in a per-generation directory
    ``cells-g{N}-{uuid8}`` named by ``meta.json``, which is the index's
    atomic commit pointer. A rebuild (or incremental update) writes a
    complete NEW generation into a directory only that writer uses, checks
    that the generation it started from is still current, and then
    atomically replaces meta.json — so a reader that loaded the old meta
    keeps a fully consistent old layout (its files are never modified), a
    reader loading after the flip sees the new one, and a crash or a lost
    race at ANY point leaves the committed generation current. A writer
    deletes only its own directory (when it loses the race) and, after it
    commits generation N, the directories numbered ≤ N other than its own
    and its parent's — the parent is kept as the grace window for
    in-flight readers, and a newer writer's in-flight directory (> N) is
    never touched. (On an object store the same design holds with a
    per-cell path manifest instead of directory renames — the pointer flip
    is the commit either way.)
    """
    import os as _os

    centroids = train_centroids(
        corpus, id_col, vec_col, n_centroids, train_sample, seed=seed
    )
    _os.makedirs(index_path, exist_ok=True)
    try:
        parent = load_ivf_meta(index_path)
    except FileNotFoundError:
        parent = None
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _ivf_assign_udf(centroids, 1)(F.col(vec_col)).getItem(0).alias("cell"),
    )
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_centroids": int(centroids.shape[0]),
        "dim": int(centroids.shape[1]),
        "train_sample": train_sample,
        "seed": seed,
        "centroids": centroids.tolist(),
    }
    return _publish_generation(index_path, meta, parent, assigned)


def _commit_ivf_meta(index_path: str, meta: dict) -> None:
    """Atomically publish ``meta.json`` — the index's commit pointer:
    written only after the generation's cells layout is fully on disk."""
    import os as _os

    write_json_atomic(_os.path.join(index_path, "meta.json"), meta)


_GENERATION_DIR = re.compile(r"cells-g(\d+)(-[0-9a-f]{8})?")


def _publish_generation(
    index_path: str,
    meta: dict,
    parent: dict | None,
    rows: DataFrame,
    touched: list | None = None,
) -> dict:
    """The one IVF generation commit (see build_ivf_index GENERATIONS).

    Writes ``rows`` (id, vec, cell) by cell into this writer's own
    ``cells-g{N}-{uuid8}`` (N = parent's generation + 1, 0 for a first
    build), hardlinks the parent's cells outside ``touched`` across
    (metadata-only, no data copy; ``touched=None`` rewrites every cell),
    and commits ``meta`` with the new generation, directory and cell
    counts — iff ``parent`` is still the current generation. Returns the
    committed meta."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    gen = parent["generation"] + 1 if parent else 0
    cells_rel = f"cells-g{gen}-{_uuid.uuid4().hex[:8]}"
    cells_abs = _os.path.join(index_path, cells_rel)
    try:
        # repartition by cell first: one file per cell instead of up to
        # (tasks × cells) shards — a probe then opens exactly its cells'
        # files, and small-scale read overhead stays O(cells)
        rows.repartition(F.col("cell")).write.partitionBy("cell").parquet(cells_abs)
        # written cell sizes (the drift stats of recommend_rebuild), read
        # back column-pruned: cell is the partition column, so this touches
        # footers/dirnames, not vector data. A delta that only deletes can
        # empty every cell it touches — then no cell dir was written.
        counts = {}
        if any(e.startswith("cell=") for e in _os.listdir(cells_abs)):
            counts = {
                str(r["cell"]): r["count"]
                for r in rows.sparkSession.read.parquet(cells_abs)
                .groupBy("cell").count().collect()
            }
        if touched is not None:
            kept = {f"cell={c}" for c in touched}
            parent_abs = ivf_cells_path(index_path, parent)
            for entry in _os.listdir(parent_abs):
                if not entry.startswith("cell=") or entry in kept:
                    continue
                dst_dir = _os.path.join(cells_abs, entry)
                _os.makedirs(dst_dir)
                for fname in _os.listdir(_os.path.join(parent_abs, entry)):
                    _os.link(
                        _os.path.join(parent_abs, entry, fname),
                        _os.path.join(dst_dir, fname),
                    )
            # untouched cells carry their counts over; an emptied touched
            # cell has none
            counts = {
                **{c: n for c, n in parent["cell_counts"].items()
                   if f"cell={c}" not in kept},
                **counts,
            }
        # the expected-parent check (GinTable commits make the same one):
        # two writers both derive generation N from one parent — the loser
        # must fail loudly instead of silently discarding the winner's work
        try:
            current = load_ivf_meta(index_path)
        except FileNotFoundError:
            current = None

        def pointer(m):
            return m and (m["generation"], m["cells_rel"])

        if pointer(current) != pointer(parent):
            raise RuntimeError(
                "concurrent IVF update: index generation moved "
                f"{pointer(parent)} -> {pointer(current)} while this write "
                "ran — re-read the index and re-apply"
            )
    except BaseException:
        _shutil.rmtree(cells_abs, ignore_errors=True)  # only ever our own
        raise
    new_meta = {**meta, "generation": gen, "cells_rel": cells_rel, "cell_counts": counts}
    if touched is None:
        new_meta["built_rows"] = int(sum(counts.values()))
    # THE commit: readers before this see the parent generation (intact),
    # readers after see the new one
    _commit_ivf_meta(index_path, new_meta)
    keep = {cells_rel, parent and parent["cells_rel"]}
    for name in _os.listdir(index_path):
        m = _GENERATION_DIR.fullmatch(name)
        if m and int(m.group(1)) <= gen and name not in keep:
            _shutil.rmtree(_os.path.join(index_path, name), ignore_errors=True)
    return new_meta


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
    types ``upsert`` | ``delete`` (vec may be null for deletes); other
    columns are ignored, so a ``table_changes`` frame is passed as is.

    Physical shape, sized for a large corpus: ONE column-pruned (id, cell)
    scan of the index finds the changed ids' old cells (ids can live
    anywhere — no pruning possible for the lookup, but only the two slim
    columns are read); everything after is ∝ touched cells: their rows are
    re-read, changed ids anti-joined out, re-assigned upserts unioned in,
    and ONLY those cells are physically rewritten — into this writer's own
    new generation directory, whose untouched cells are hardlinked from the
    parent's, committed by one atomic meta.json replace iff no other
    writer committed meanwhile (``_publish_generation``; see
    build_ivf_index GENERATIONS). The quantizer is NOT retrained — use
    ``recommend_rebuild`` on the update-maintained cell-size stats to
    decide when sustained drift warrants a periodic full rebuild.

    Returns {"touched_cells", "upserts", "deletes", "generation"} stats;
    raises RuntimeError if another writer committed while this one ran.
    """
    meta = load_ivf_meta(index_path)
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
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

    existing = spark.read.parquet(ivf_cells_path(index_path, meta))
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
            "generation": meta["generation"],
        }

    keep = (
        existing.filter(F.col("cell").isin(touched))
        .join(changed_ids, id_col, "left_anti")
        .select(id_col, vec_col, "cell")
    )
    # ONE write of the touched cells into the next generation (reading and
    # overwriting the same path in one job is unsafe anyway); a touched
    # cell whose rows were all removed simply has no dir there
    committed = _publish_generation(
        index_path, meta, meta,
        keep.unionByName(assigned_new.select(id_col, vec_col, "cell")),
        touched,
    )
    return {
        "touched_cells": len(touched),
        "upserts": int(n_upserts),
        "deletes": int(n_deletes),
        "generation": committed["generation"],
    }


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
    """Absolute path of the cells directory of ``meta``'s generation
    (default: the current one)."""
    import os as _os

    if meta is None:
        meta = load_ivf_meta(index_path)
    return _os.path.join(index_path, meta["cells_rel"])


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
    return _rank_topk(scored, id_col, k)

