"""Dedup operator tests: exact, MinHash+LSH vs exact-Jaccard oracle,
SimHash hamming, on constructed near-duplicate corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengin_ingestion_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away to the "
    "market with fresh data from the web archive crawl index"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # family A: base + tiny perturbations → near-dups of each other
    rows.append((0, BASE))
    rows.append((1, BASE.replace("quick", "fast")))
    rows.append((2, BASE + " extra tail words here"))
    # family B: a different doc + its exact duplicate
    other = "completely different content about spark engines and parquet files with nothing shared at all zero overlap whatsoever"
    rows.append((3, other))
    rows.append((4, other))
    # unrelated docs
    for i in range(5, 25):
        rows.append((i, f"unique document number {i} talking about topic-{i} item-{i*7} subject-{i*13} matter-{i*29} theme-{i*31} focus-{i*37}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(corpus):
    out = exact_dedup(corpus, ["text"], "doc_id")
    assert out.count() == 24  # 25 docs, one exact dup pair (3,4)
    kept = {r["doc_id"] for r in out.collect()}
    assert 3 in kept and 4 not in kept  # min id survives


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    got = {r["shingle"] for r in word_shingles(df, "text", "doc_id", k=3).collect()}
    assert got == {"a b c", "b c d"}


def test_minhash_exact_dup_similarity(corpus):
    sig = minhash_signatures(corpus, n_hashes=32)
    s = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert s[3] == s[4]  # identical docs → identical signatures
    agree = sum(1 for a, b in zip(s[0], s[1]) if a == b) / 32
    assert agree > 0.5  # near-dups mostly agree
    agree_far = sum(1 for a, b in zip(s[0], s[3]) if a == b) / 32
    assert agree_far < 0.3  # unrelated docs don't


def test_lsh_pairs_match_jaccard_oracle(corpus):
    """LSH candidates at threshold .5 must contain every exact-Jaccard ≥ .7
    pair (recall) and nothing below .3 (precision at the estimate level)."""
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.0).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.7}
    assert high <= set(got), f"missed high-jaccard pairs: {high - set(got)}"
    for p in got:
        assert exact.get(p, 0.0) >= 0.3, f"false positive {p}"


def test_simhash_pairs(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(corpus, max_hamming=6).collect()}
    assert (3, 4) in pairs  # exact dup → hamming 0
    # unrelated docs shouldn't collide at small hamming
    assert all(not (a >= 5 and b >= 5 and a != b) or (a, b) == (3, 4) for a, b in pairs)


def test_simhash_deterministic(spark, corpus):
    from opengin_ingestion_spark.operators.dedup import simhash64_udf

    a = corpus.select("doc_id", simhash64_udf("text").alias("s")).collect()
    b = corpus.select("doc_id", simhash64_udf("text").alias("s")).collect()
    assert sorted(a) == sorted(b)


def test_degenerate_bucket_cap_bounds_pairs(spark):
    """A planted degenerate cluster (60 identical docs — the boilerplate /
    empty-doc case) collapses to one band bucket; with the cap the pair
    count stays bounded instead of going quadratic, and distinct healthy
    near-dups are still found."""
    rows = [(i, "identical boilerplate page text repeated everywhere") for i in range(60)]
    rows += [(100, BASE), (101, BASE.replace("quick", "fast"))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = minhash_lsh_pairs(df, threshold=0.5).count()
    assert uncapped >= 60 * 59 / 2  # quadratic without the guard

    capped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got, "healthy near-dup must survive the cap"
    assert len(got) < 60, "degenerate cluster pairs must be dropped"

    capped_sim = simhash_pairs(df, max_hamming=3, max_bucket_size=10)
    got_sim = {(r["id_a"], r["id_b"]) for r in capped_sim.collect()}
    assert (100, 101) in got_sim
    assert len(got_sim) < 60


def test_dedup_groups_matches_union_find(spark):
    """Distributed CC == single-threaded union-find on random pair graphs,
    including multi-hop chains and disjoint cliques."""
    import random

    rng = random.Random(5)
    nodes = list(range(200))
    pairs = []
    # chains (diameter up to 20) + cliques + random edges
    for start in (0, 40, 80):
        pairs += [(start + i, start + i + 1) for i in range(20)]
    pairs += [(120 + a, 120 + b) for a in range(6) for b in range(a + 1, 6)]
    pairs += [tuple(sorted(rng.sample(range(130, 200), 2))) for _ in range(30)]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    in_pairs = {n for p in pairs for n in p}
    expect = {n: min(m for m in in_pairs if find(m) == find(n)) for n in in_pairs}

    from opengin_ingestion_spark.operators.dedup import dedup_groups

    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    # driver fast path (edge count under the default limit)
    got = {r["node"]: r["group"] for r in dedup_groups(pdf).collect()}
    assert got == expect
    # distributed iterative path, forced (driver_edge_limit=0): must be
    # identical — the two strategies are interchangeable by contract
    got_dist = {
        r["node"]: r["group"]
        for r in dedup_groups(pdf, driver_edge_limit=0).collect()
    }
    assert got_dist == expect


def test_dedup_groups_nonconvergence_raises(spark):
    """The distributed path must refuse to return silently-wrong groups
    when max_iter < the graph diameter (forced past the fast path)."""
    import pytest

    from opengin_ingestion_spark.operators.dedup import dedup_groups

    chain = [(i, i + 1) for i in range(30)]  # diameter 30
    pdf = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_groups(pdf, max_iter=3, driver_edge_limit=0)


def test_shingle_df_cap_drops_stop_shingles(spark):
    """ngram_jaccard with a document-frequency cap: a shingle shared by
    every doc stops producing pairs; pairs from rarer shingles survive."""
    common = "the exact same phrase"
    rows = [(i, f"{common} unique-{i} tail-{i*3} word-{i*7}") for i in range(20)]
    rows += [(100, BASE), (101, BASE + " tail")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = ngram_jaccard_pairs(df, threshold=0.2, max_shingle_df=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert all(not (a < 20 and b < 20) for a, b in got), (
        "pairs supported only by the capped stop-shingles must vanish"
    )


def test_curate_documents_pipeline(spark):
    """End-to-end curation: every input doc gets exactly one decision;
    kept ∪ dropped partitions the input; near-dup exemplar is the group
    min; exact dups collapse before LSH."""
    from opengin_ingestion_spark.plans.curate import CurateConfig, curate_documents

    rows = [(0, BASE), (1, BASE.replace("quick", "fast")), (2, BASE)]  # near+exact
    rows += [(3, "x")]  # too short
    rows += [(4, "!!x.. ?,y;; :!z,, ..!! ;;??")]  # short punct soup, no stopwords
    rows += [(5, None)]  # null text must be accounted, not vanish
    # i-specific token every other word → every trigram unique per doc
    rows += [(10 + i, f"the {i}-alpha and {i}-beta of {i}-gamma is {i}-delta "
                      f"for {i}-epsilon to {i}-zeta it {i}-eta that {i}-theta")
             for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept, decisions = curate_documents(
        docs, CurateConfig(min_quality=0.2, min_tokens=3, near_dup_threshold=0.5)
    )
    dec = {r["doc_id"]: r["decision"] for r in decisions.collect()}
    assert len(dec) == docs.count(), "one decision per input"
    assert dec[3] == "too_short" and dec[4] == "low_quality"
    assert dec[5] == "null_text"
    assert dec[2] == "exact_dup"  # 2 duplicates 0 exactly; 0 survives
    assert dec[0] == "kept" and dec[1] == "near_dup"
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {k for k, v in dec.items() if v == "kept"}
    assert all(10 + i in kept_ids for i in range(10))


def test_minhash_index_incremental_neardup(spark, corpus, tmp_path):
    """Persisted-corpus incremental dedup: a new batch's near-dups against
    the indexed corpus equal the cross-side subset of the self-join
    operator's pairs (same scheme, same banding — different physical
    path); append extends the corpus; self-pairs excluded."""
    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_index_neardup,
    )

    # corpus = ids < 20, new batch = ids >= 20 (family A's near-dup 0/1/2
    # spans... keep all of A in corpus; craft a new batch that near-dups
    # corpus docs)
    corpus_df = corpus.filter(F.col("doc_id") < 20)
    new_rows = [
        (100, BASE.replace("dog", "cat")),           # near-dup of doc 0
        (101, "totally novel content nothing shared with anyone here"),
    ]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(corpus_df, idx)
    got = {
        (r["id_new"], r["id_indexed"]): r["est_jaccard"]
        for r in minhash_index_neardup(new_df, idx, threshold=0.5).collect()
    }
    # oracle: the self-join operator over corpus ∪ new, restricted to
    # cross-side pairs
    from opengin_ingestion_spark.operators.dedup import minhash_lsh_pairs

    all_pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            corpus_df.unionByName(new_df), threshold=0.5
        ).collect()
    }
    cross = {
        (b, a): j for (a, b), j in all_pairs.items() if a < 20 <= b
    }
    assert got == cross
    assert (100, 0) in got and all(k[0] != 101 for k in got)

    # append the new batch; a later batch near-dupping doc 100 now matches
    append_to_minhash_index(new_df, idx)
    later = spark.createDataFrame(
        [(200, BASE.replace("dog", "cat") + " tail")], ["doc_id", "text"]
    )
    got2 = {
        (r["id_new"], r["id_indexed"])
        for r in minhash_index_neardup(later, idx, threshold=0.5).collect()
    }
    assert (200, 100) in got2 and (200, 0) in got2


def test_minhash_index_rejects_foreign_scheme(tmp_path):
    """Spark-free: a persisted index whose meta.json names a hash scheme
    other than md5 (an index written outside this program) is refused by
    both readers before any hashing — never silently re-hashed with md5."""
    import json

    from opengin_ingestion_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_index_neardup,
    )

    idx = tmp_path / "mh_idx"
    idx.mkdir()
    meta = {"id_col": "doc_id", "n_hashes": 32, "bands": 8, "shingle_k": 3}
    for scheme in ("fast", None):
        (idx / "meta.json").write_text(json.dumps({**meta, "scheme": scheme}))
        with pytest.raises(ValueError, match="scheme"):
            append_to_minhash_index(None, str(idx))
        with pytest.raises(ValueError, match="scheme"):
            minhash_index_neardup(None, str(idx))
