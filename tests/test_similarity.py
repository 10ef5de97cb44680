"""Similarity-search tests: brute-force vs numpy oracle; LSH-ANN recall."""

from __future__ import annotations

import numpy as np
import pytest

from opengin_ingestion_spark.operators.similarity import (
    brute_force_topk,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(42)
    n, dim = 120, 16
    m = rng.standard_normal((n, dim)).astype(np.float32)
    # plant exact near-neighbors: vec i+100 ≈ vec i for i<10
    for i in range(10):
        m[100 + i] = m[i] + 0.01 * rng.standard_normal(dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in m[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, m


def _numpy_topk(m: np.ndarray, k: int) -> dict[int, list[int]]:
    x = m.astype(np.float64)
    norm = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -np.inf)
    out = {}
    for i in range(len(m)):
        order = np.lexsort((np.arange(len(m)), -sims[i]))
        out[i] = [int(j) for j in order[:k]]
    return out


def test_brute_force_matches_numpy(vecs):
    df, m = vecs
    got = brute_force_topk(df, k=5).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in got:
        by_q.setdefault(r["vec_id"], {})[r["rank"]] = r["neighbor_id"]
    expect = _numpy_topk(m, 5)
    for q, ranks in by_q.items():
        assert [ranks[i] for i in sorted(ranks)] == expect[q]


def test_lsh_ann_finds_planted_pairs(vecs):
    """Multi-probe LSH must find the planted nearest neighbor for every
    planted near-identical pair (uniform random data has no cluster
    structure, so overall recall is not meaningful there)."""
    df, m = vecs
    approx = {(r["vec_id"], r["neighbor_id"]) for r in lsh_ann_topk(df, k=5, n_planes=8).collect()}
    for i in range(10):
        assert (i, 100 + i) in approx


def test_lsh_ann_recall_on_clustered_data(spark):
    """On clustered embeddings (the realistic case) LSH recall@5 vs brute
    force must be high — same-cluster vectors share sign buckets."""
    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 4
    rows = []
    for i in range(160):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + 0.3 * rng.standard_normal(16))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["vec_id"], r["neighbor_id"]) for r in brute_force_topk(df, k=5).collect()}
    approx = {(r["vec_id"], r["neighbor_id"]) for r in lsh_ann_topk(df, k=5, n_planes=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@5 too low on clustered data: {recall}"


def test_brute_force_chunked_matches_unchunked(vecs):
    """Self-search with a tiny driver-broadcast budget (forces 4+ chunks —
    the no-full-corpus-collect path) returns exactly the single-chunk
    result."""
    df, m = vecs
    one = sorted(map(tuple, brute_force_topk(df, k=3).collect()))
    chunked = sorted(map(tuple, brute_force_topk(df, k=3, max_broadcast_rows=30).collect()))
    assert one == chunked


def test_empty_corpus_returns_empty_frames(spark):
    """Zero-row inputs yield empty results with the contract schema, not an
    IndexError from an empty chunk list."""
    from opengin_ingestion_spark.operators.similarity import exact_neardup_pairs

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    topk = brute_force_topk(empty, k=3)
    assert topk.columns == ["vec_id", "neighbor_id", "rank"]
    assert topk.count() == 0
    pairs = exact_neardup_pairs(empty, threshold=0.5)
    assert pairs.columns == ["id_a", "id_b", "cos"]
    assert pairs.count() == 0


def test_exact_neardup_pairs_matches_numpy(vecs):
    """exact_neardup_pairs == numpy full-pair cosine at the threshold, in
    both single-chunk and chunked mode."""
    from opengin_ingestion_spark.operators.similarity import exact_neardup_pairs

    df, m = vecs
    x = m.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sims = x @ x.T
    expect = {
        (i, j)
        for i in range(len(m))
        for j in range(i + 1, len(m))
        if sims[i, j] >= 0.9
    }
    got = {(r["id_a"], r["id_b"]) for r in exact_neardup_pairs(df, threshold=0.9).collect()}
    assert got == expect and len(expect) >= 10
    got_chunked = {
        (r["id_a"], r["id_b"])
        for r in exact_neardup_pairs(df, threshold=0.9, max_broadcast_rows=30).collect()
    }
    assert got_chunked == expect


def test_ivf_ann_recall_on_clustered_data(spark, tmp_path):
    """IVF with data-adaptive centroids, as a self-search through the
    persisted index: recall@5 vs brute force on clustered embeddings, and
    deterministic — two builds at the same seed search identically."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 4
    rows = []
    for i in range(160):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + 0.3 * rng.standard_normal(16))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["vec_id"], r["neighbor_id"]) for r in brute_force_topk(df, k=5).collect()}
    runs = []
    for name in ("ivf_a", "ivf_b"):
        idx = str(tmp_path / name)
        build_ivf_index(df, idx, n_centroids=8, seed=42)
        runs.append({
            (r["vec_id"], r["neighbor_id"], r["rank"])
            for r in ivf_search(df, idx, k=5, n_probe=2).collect()
        })
    a, b = runs
    assert a == b, "IVF must be deterministic"
    approx = {(q, n) for q, n, _ in a}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@5 too low on clustered data: {recall}"


def test_ivf_search_batch_recall(spark, tmp_path):
    """The serving path: a query batch searched through the persisted
    index has high recall@5 vs exact brute force of the same batch, and
    never returns self-matches."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((8, 16)) * 4
    rows = []
    for i in range(160):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + 0.3 * rng.standard_normal(16))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf_s")
    build_ivf_index(df, idx, n_centroids=8, seed=42)
    batch = df.filter("vec_id % 10 = 0")  # 16 queries
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries=batch, k=5).collect()
    }
    got = ivf_search(batch, idx, k=5, n_probe=2).collect()
    approx = {(r["vec_id"], r["neighbor_id"]) for r in got}
    assert all(r["vec_id"] != r["neighbor_id"] for r in got)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ivf_search recall@5 too low: {recall}"


def test_ivf_persisted_index_matches_inline(spark, tmp_path):
    """build_ivf_index persists quantizer + assignments deterministically:
    two builds at the same seed give identical ``ivf_search`` output, and
    the persisted centroids round-trip bit-for-bit against a fresh
    training (determinism across sessions — the JSON float repr is
    exact)."""
    import numpy as np

    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        load_ivf_centroids,
        train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    results = []
    for name in ("ivf_a", "ivf_b"):
        idx = str(tmp_path / name)
        meta = build_ivf_index(emb, idx, n_centroids=8, seed=42)
        assert meta["n_centroids"] == 8 and meta["dim"] == 64
        results.append(sorted(map(tuple, ivf_search(emb, idx, k=5).collect())))
    assert results[0] == results[1]
    assert len(results[0]) == 5 * emb.count()
    cent = load_ivf_centroids(idx)
    fresh = train_centroids(emb, n_centroids=8, seed=42)
    assert cent.shape == (8, 64)
    assert np.array_equal(cent, fresh)


def _clustered_corpus(spark, seed=13, n=160, n_centers=8, dim=16):
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_centers, dim)) * 4
    rows = []
    for i in range(n):
        c = centers[i % n_centers]
        rows.append((i, [float(x) for x in (c + 0.3 * rng.standard_normal(dim))]))
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        centers,
        rng,
    )


def _cells_state(spark, idx):
    """(vec_id, cell, vec-tuple) set of the CURRENT generation's cells
    layout (resolved through meta.json, like every reader)."""
    from opengin_ingestion_spark.operators.similarity import ivf_cells_path

    rows = spark.read.parquet(ivf_cells_path(idx)).collect()
    return {(r["vec_id"], int(r["cell"]), tuple(r["embedding"])) for r in rows}


def test_incremental_ivf_update_equals_direct_assignment(spark, tmp_path):
    """update_ivf_index applied to a delta (deletes + moved vectors + new
    ids) leaves the cells layout EXACTLY equal to assigning the updated
    corpus under the same persisted quantizer — deleted ids gone, moved
    vectors in their new home cell, untouched rows byte-identical."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.similarity import (
        _ivf_assign_udf,
        build_ivf_index,
        ivf_search,
        load_ivf_centroids,
        update_ivf_index,
    )

    df, centers, rng = _clustered_corpus(spark)
    idx = str(tmp_path / "ivf_u")
    build_ivf_index(df, idx, n_centroids=8, seed=42)

    # delta: delete 10 ids; MOVE 10 vectors to a different cluster
    # (guaranteed cell change); add 10 brand-new ids
    deletes = [(i, None, "delete") for i in range(0, 20, 2)]
    moved = [
        (i, [float(x) for x in (centers[(i + 4) % 8] + 0.3 * rng.standard_normal(16))],
         "upsert")
        for i in range(21, 41, 2)
    ]
    fresh = [
        (1000 + i,
         [float(x) for x in (centers[i % 8] + 0.3 * rng.standard_normal(16))],
         "upsert")
        for i in range(10)
    ]
    changes = spark.createDataFrame(
        deletes + moved + fresh,
        "vec_id long, embedding array<float>, _change_type string",
    )
    stats = update_ivf_index(changes, idx)
    assert stats["touched_cells"] > 0
    assert stats["upserts"] == 20 and stats["deletes"] == 10

    # expected: assign the UPDATED corpus under the SAME stored centroids
    changed = {r[0] for r in deletes + moved + fresh}
    updated = df.filter(~F.col("vec_id").isin(list(changed))).unionByName(
        changes.filter("_change_type = 'upsert'").select("vec_id", "embedding")
    )
    cent = load_ivf_centroids(idx)
    expected = {
        (r["vec_id"], int(r["cell"]), tuple(r["embedding"]))
        for r in updated.select(
            "vec_id", "embedding",
            _ivf_assign_udf(cent, 1)(F.col("embedding")).getItem(0).alias("cell"),
        ).collect()
    }
    assert _cells_state(spark, idx) == expected

    # serving sanity: deleted ids never appear as neighbors
    got = ivf_search(updated.filter("vec_id % 5 = 0"), idx, k=5, n_probe=2).collect()
    deleted_ids = {i for i, _, _ in deletes}
    assert all(r["neighbor_id"] not in deleted_ids for r in got)

    # idempotent empty delta
    empty = changes.limit(0)
    assert update_ivf_index(empty, idx)["touched_cells"] == 0

    # an upsert with a NULL vector = removal (must not crash the
    # assignment UDF): the id disappears from the index
    null_up = spark.createDataFrame(
        [(21, None, "upsert")],
        "vec_id long, embedding array<float>, _change_type string",
    )
    update_ivf_index(null_up, idx)
    assert 21 not in {v for v, _, _ in _cells_state(spark, idx)}

    # an id appearing TWICE in one delta (concatenated micro-deltas)
    # lands exactly one index entry, deterministically
    va = [1.0] + [0.0] * 15
    vb = [0.0, 1.0] + [0.0] * 14
    twice = spark.createDataFrame(
        [(23, va, "upsert"), (23, vb, "upsert")],
        "vec_id long, embedding array<float>, _change_type string",
    )
    update_ivf_index(twice, idx)
    rows_23 = [(v, c, e) for v, c, e in _cells_state(spark, idx) if v == 23]
    assert len(rows_23) == 1
    assert list(rows_23[0][2]) == [float(x) for x in max(va, vb)]


def test_incremental_ivf_from_gintable_changes(spark, tmp_path):
    """End-to-end with the lake layer: vectors live in a GinTable, a merge
    applies upserts + deletes, and update_ivf_index consumes the
    table_changes delta as is (the shipped cli/follow path) — the index
    then equals a direct assignment of the table's current state under the
    persisted quantizer."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.operators.similarity import (
        _ivf_assign_udf,
        build_ivf_index,
        load_ivf_centroids,
        update_ivf_index,
    )
    from opengin_ingestion_spark.sources.gintable import GinTable, table_changes

    schema = T.StructType([
        T.StructField("vec_key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ])
    # manifest-declared merge identity: maintenance ops and merges below
    # pass NO key/ts arguments — they resolve from the table
    table = GinTable.create(
        spark, str(tmp_path / "vecs"), schema, n_buckets=4,
        key_col="vec_key", ts_col="ts",
    )
    df, centers, rng = _clustered_corpus(spark, seed=29, n=120)
    t0 = dt.datetime(2024, 1, 1)

    def batch(rows):
        return spark.createDataFrame(
            rows, "op string, seq long, vec_key string, ts timestamp, "
                  "embedding array<float>"
        )

    base_rows = [
        ("I", i, f"v{r['vec_id']}", t0 + dt.timedelta(seconds=i), r["embedding"])
        for i, r in enumerate(df.collect())
    ]
    merge_batch(table, batch(base_rows), batch_id=0)
    v0 = table.current_version()
    idx = str(tmp_path / "ivf_t")
    build_ivf_index(
        table.read().select(F.col("vec_key"), F.col("embedding")),
        idx, id_col="vec_key", n_centroids=8, seed=42,
    )

    # second merge: delete 5 keys, move 5 vectors, add 3 new keys
    t1 = t0 + dt.timedelta(hours=1)
    upd_rows = (
        [("D", 1000 + j, f"v{j}", t1, None) for j in range(5)]
        + [
            ("U", 1100 + j, f"v{10 + j}",
             t1, [float(x) for x in (centers[(j + 4) % 8]
                                     + 0.3 * rng.standard_normal(16))])
            for j in range(5)
        ]
        + [
            ("I", 1200 + j, f"new{j}",
             t1, [float(x) for x in (centers[j % 8]
                                     + 0.3 * rng.standard_normal(16))])
            for j in range(3)
        ]
    )
    merge_batch(table, batch(upd_rows), batch_id=1)
    stats = update_ivf_index(
        table_changes(table, v0, key="vec_key"), idx, id_col="vec_key"
    )
    assert stats["upserts"] == 8 and stats["deletes"] == 5

    cent = load_ivf_centroids(idx)
    expected = {
        (r["vec_key"], int(r["cell"]), tuple(r["embedding"]))
        for r in table.read().select(
            "vec_key", "embedding",
            _ivf_assign_udf(cent, 1)(F.col("embedding")).getItem(0).alias("cell"),
        ).collect()
    }
    from opengin_ingestion_spark.operators.similarity import ivf_cells_path

    got = {
        (r["vec_key"], int(r["cell"]), tuple(r["embedding"]))
        for r in spark.read.parquet(ivf_cells_path(idx)).collect()
    }
    assert got == expected


def test_embedding_neardup_pairs(spark, vecs):
    """Planted near-identical vectors (cos ≈ 1) are found as near-dup
    pairs; unrelated random vectors are not."""
    from opengin_ingestion_spark.operators.similarity import embedding_neardup_pairs

    df, m = vecs
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in
             embedding_neardup_pairs(df, threshold=0.98).collect()}
    for i in range(10):
        assert (i, 100 + i) in pairs and pairs[(i, 100 + i)] > 0.99
    # random 16-dim gaussians essentially never reach cos 0.98
    assert len(pairs) == 10


def test_ivf_update_rejects_unknown_change_types(spark, tmp_path):
    """Delta-CDF vocabulary ('insert', 'update_postimage', ...) must fail
    fast, not silently anti-join those ids out of the index."""
    import pytest

    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        update_ivf_index,
    )

    df, _, _ = _clustered_corpus(spark, seed=31, n=40)
    idx = str(tmp_path / "ivf_badtype")
    build_ivf_index(df, idx, n_centroids=4, seed=42)
    bad = spark.createDataFrame(
        [(1, [0.0] * 16, "insert")],
        "vec_id long, embedding array<float>, _change_type string",
    )
    with pytest.raises(ValueError, match="unknown _change_type"):
        update_ivf_index(bad, idx)
    # index untouched: same generation as after the build
    from opengin_ingestion_spark.operators.similarity import load_ivf_meta

    assert load_ivf_meta(idx)["generation"] == 0


def test_ivf_generation_commit_torn_update_invisible(spark, tmp_path):
    """Crash-atomicity of the generation design: a writer that dies BEFORE
    the meta.json flip (simulated by a half-written next-generation dir)
    leaves readers on the old generation with a fully consistent layout;
    re-running the same delta converges and GCs the garbage."""
    import os

    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_cells_path,
        ivf_search,
        load_ivf_meta,
        update_ivf_index,
    )

    df, centers, rng = _clustered_corpus(spark, seed=37, n=80)
    idx = str(tmp_path / "ivf_torn")
    build_ivf_index(df, idx, n_centroids=4, seed=42)
    before = _cells_state(spark, idx)

    # simulate the torn writer: the next generation dir exists, partially
    # filled, but meta.json was never flipped
    torn = os.path.join(idx, "cells-g1")
    os.makedirs(os.path.join(torn, "cell=0"))
    with open(os.path.join(torn, "cell=0", "garbage.parquet"), "wb") as fh:
        fh.write(b"not parquet")

    meta = load_ivf_meta(idx)
    assert meta["generation"] == 0, "torn dir must not be visible"
    assert _cells_state(spark, idx) == before
    # search still serves the committed generation
    assert ivf_search(df.limit(5), idx, k=3).count() > 0

    # a real update writes its own directory, commits atomically and
    # GCs the torn dir
    delta = spark.createDataFrame(
        [(0, [float(x) for x in centers[1]], "upsert")],
        "vec_id long, embedding array<float>, _change_type string",
    )
    stats = update_ivf_index(delta, idx)
    assert stats["generation"] == 1
    assert load_ivf_meta(idx)["cells_rel"].startswith("cells-g1-")
    assert os.path.basename(ivf_cells_path(idx)).startswith("cells-g1-")
    assert not os.path.exists(torn)  # the torn writer's garbage is GC'd
    assert 0 in {v for v, _, _ in _cells_state(spark, idx)}


def test_ivf_update_reader_grace_window(spark, tmp_path):
    """Reader-safety: a DataFrame resolved against the PRE-update
    generation still collects correctly after one update (its files are
    hardlinked/retained — never modified), and the stale generation is
    GC'd only after the NEXT update."""
    import os

    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_cells_path,
        update_ivf_index,
    )

    df, centers, rng = _clustered_corpus(spark, seed=41, n=80)
    idx = str(tmp_path / "ivf_grace")
    build_ivf_index(df, idx, n_centroids=4, seed=42)
    old_path = ivf_cells_path(idx)
    old_reader = spark.read.parquet(old_path)
    n_before = old_reader.count()

    def delta(i):
        return spark.createDataFrame(
            [(i, [float(x) for x in centers[i % 4]], "upsert")],
            "vec_id long, embedding array<float>, _change_type string",
        )

    update_ivf_index(delta(0), idx)
    # grace window: the old generation dir is retained through ONE update
    assert os.path.isdir(old_path)
    assert old_reader.count() == n_before  # in-flight reader unharmed

    update_ivf_index(delta(1), idx)
    assert not os.path.isdir(old_path)  # GC'd after the next commit
    assert os.path.basename(ivf_cells_path(idx)).startswith("cells-g2-")


def test_ivf_losing_concurrent_writer_keeps_winners_generation(
    spark, tmp_path, monkeypatch
):
    """Two updaters start from generation 0; the first commits generation 1
    while the second still holds the stale meta. The loser must raise and
    delete only its own directory: the winner's committed cells (and so
    every search) must survive the lost race."""
    import os

    import pytest

    import opengin_ingestion_spark.operators.similarity as sim

    df, centers, rng = _clustered_corpus(spark, seed=47, n=80)
    idx = str(tmp_path / "ivf_race")
    sim.build_ivf_index(df, idx, n_centroids=4, seed=42)
    stale = sim.load_ivf_meta(idx)

    def delta(i):
        return spark.createDataFrame(
            [(i, [float(x) for x in centers[(i + 1) % 4]], "upsert")],
            "vec_id long, embedding array<float>, _change_type string",
        )

    sim.update_ivf_index(delta(0), idx)  # the winner commits generation 1
    winner = sim.ivf_cells_path(idx)
    n_winner = spark.read.parquet(winner).count()

    real_loader = sim.load_ivf_meta
    calls = []

    def stale_first_load(path):
        calls.append(path)
        return stale if len(calls) == 1 else real_loader(path)

    monkeypatch.setattr(sim, "load_ivf_meta", stale_first_load)
    with pytest.raises(RuntimeError, match="concurrent IVF update"):
        sim.update_ivf_index(delta(1), idx)
    monkeypatch.setattr(sim, "load_ivf_meta", real_loader)

    assert sim.ivf_cells_path(idx) == winner and os.path.isdir(winner)
    assert spark.read.parquet(winner).count() == n_winner
    assert sim.ivf_search(df.limit(5), idx, k=3).count() > 0
    # the loser's own generation-1 directory is gone; the winner's and its
    # parent (the grace window) remain
    assert sorted(n for n in os.listdir(idx) if n.startswith("cells-g")) == sorted(
        [os.path.basename(winner), stale["cells_rel"]]
    )


def test_ivf_deletes_only_delta_keeps_stats_equal_to_cells(spark, tmp_path):
    """A delta with only deletes can empty every cell it touches (no cell
    directory is written at all): the maintained stats must still equal a
    scan of the committed cells — first for a delta that empties one cell,
    then for one that only shrinks another."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        update_ivf_index,
    )

    df, _, _ = _clustered_corpus(spark, seed=53, n=80)
    idx = str(tmp_path / "ivf_deletes")
    build_ivf_index(df, idx, n_centroids=4, seed=42)
    by_cell = {}
    for v, c, _ in _cells_state(spark, idx):
        by_cell.setdefault(c, []).append(v)
    emptied, shrunk = sorted(by_cell)[:2]

    def deletes(ids):
        return spark.createDataFrame(
            [(i, None, "delete") for i in ids],
            "vec_id long, embedding array<float>, _change_type string",
        )

    for ids in (by_cell[emptied], by_cell[shrunk][:3]):
        stats = update_ivf_index(deletes(ids), idx)
        assert stats["touched_cells"] == 1 and stats["upserts"] == 0
        state = _cells_state(spark, idx)
        cells = {c for _, c, _ in state}
        s = ivf_index_stats(idx)
        assert s["total_rows"] == len(state)
        assert s["n_cells"] == len(cells)
        assert s["max_cell"] == max(
            sum(1 for _, c, _ in state if c == cell) for cell in cells
        )
    assert emptied not in {c for _, c, _ in _cells_state(spark, idx)}
    assert ivf_index_stats(idx)["total_rows"] == 80 - len(by_cell[emptied]) - 3


def test_ivf_recommend_rebuild_signals(spark, tmp_path):
    """Drift stats: fresh index → no rebuild; growth past the threshold
    (upserting 3x the built corpus) → rebuild recommended; stats maintained
    incrementally with no corpus scan."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        recommend_rebuild,
        update_ivf_index,
    )

    df, centers, rng = _clustered_corpus(spark, seed=43, n=60)
    idx = str(tmp_path / "ivf_drift")
    build_ivf_index(df, idx, n_centroids=4, seed=42)
    s0 = ivf_index_stats(idx)
    assert s0["built_rows"] == 60 and s0["total_rows"] == 60
    assert not recommend_rebuild(idx)

    grow = spark.createDataFrame(
        [
            (10_000 + i,
             [float(x) for x in (centers[i % 4] + 0.3 * rng.standard_normal(16))],
             "upsert")
            for i in range(130)
        ],
        "vec_id long, embedding array<float>, _change_type string",
    )
    update_ivf_index(grow, idx)
    s1 = ivf_index_stats(idx)
    assert s1["total_rows"] == 190
    assert s1["growth"] > 3.0
    assert recommend_rebuild(idx)  # growth signal fires
    # a rebuild resets the baseline
    from opengin_ingestion_spark.operators.similarity import ivf_cells_path

    full = spark.read.parquet(ivf_cells_path(idx)).select("vec_id", "embedding")
    build_ivf_index(full, idx, n_centroids=4, seed=42)
    assert not recommend_rebuild(idx)


def test_ivf_recommend_rebuild_skew_signal(spark, tmp_path):
    """The SECOND drift signal: a delta concentrating mass into one cell
    trips the skew threshold even without corpus growth."""
    from opengin_ingestion_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
        recommend_rebuild,
        update_ivf_index,
    )

    df, centers, rng = _clustered_corpus(spark, seed=47, n=64)
    idx = str(tmp_path / "ivf_skew")
    build_ivf_index(df, idx, n_centroids=8, seed=42)
    assert not recommend_rebuild(idx)
    # move MOST existing ids into cluster 0's region (upserts, no growth)
    skewed = spark.createDataFrame(
        [
            (i,
             [float(x) for x in (centers[0] + 0.1 * rng.standard_normal(16))],
             "upsert")
            for i in range(56)
        ],
        "vec_id long, embedding array<float>, _change_type string",
    )
    update_ivf_index(skewed, idx)
    s = ivf_index_stats(idx)
    assert s["total_rows"] == 64  # no growth
    assert s["skew"] > 4.0
    assert recommend_rebuild(idx)  # skew signal fires
