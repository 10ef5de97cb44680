"""Property-based tests (hypothesis): the LWW/merge laws that make the
engine correct under ANY delivery schedule — order-insensitivity,
duplicate-insensitivity, batching-insensitivity — checked against a plain
pandas fold. Complements the example-based replay tests."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opengin_ingestion_spark.operators.evolution import (
    SchemaEvolutionError,
    evolve_schema,
)
from pyspark.sql import types as T


# --- pure-model properties (no Spark: fast, thousands of cases) -----------

def _lww_fold(events: list[tuple]) -> dict:
    """Reference fold: events (url, ts, seq, op, payload) → final state."""
    best: dict[str, tuple] = {}
    for url, ts, seq, op, payload in events:
        cur = best.get(url)
        if cur is None or (ts, seq) > (cur[0], cur[1]):
            best[url] = (ts, seq, op, payload)
    return {u: v for u, v in best.items() if v[2] != "D"}


event_st = st.tuples(
    st.sampled_from([f"u{i}" for i in range(8)]),  # few urls → collisions
    st.integers(0, 50),  # ts (ties possible)
    st.integers(0, 10_000),  # seq
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, 99),
)
events_st = st.lists(event_st, max_size=60, unique_by=lambda e: e[2])  # unique seq


@given(events_st, st.randoms())
@settings(max_examples=200)
def test_lww_fold_order_insensitive(events, rnd):
    shuffled = list(events)
    rnd.shuffle(shuffled)
    assert _lww_fold(events) == _lww_fold(shuffled)


@given(events_st, st.data())
@settings(max_examples=200)
def test_lww_fold_duplicate_insensitive(events, data):
    if events:
        dup = data.draw(st.lists(st.sampled_from(events), max_size=10))
    else:
        dup = []
    assert _lww_fold(events + dup) == _lww_fold(events)


def _live(state: dict) -> dict:
    """Observable state: url → (ts, seq, payload). The op label is not
    observable (carried rows relabel to 'I', exactly as the engine's
    target side does)."""
    return {u: (ts, seq, p) for u, (ts, seq, _op, p) in state.items()}


@given(events_st, st.integers(1, 5))
@settings(max_examples=200)
def test_lww_fold_batching_insensitive(events, k):
    """Folding batch-by-batch (with carry) equals one-shot fold — the law
    that makes incremental MERGE equal full replay."""
    whole = _lww_fold(events)
    state: dict = {}
    carry: list = []
    for i in range(0, max(len(events), 1), k):
        batch = events[i : i + k]
        state = _lww_fold(
            [(u, ts, seq, "I", p) for u, (ts, seq, _op, p) in state.items()]
            + [
                (u, ts, seq, op, p)
                for (u, ts, seq, op, p) in carry + batch
            ]
        )
        # tombstones must carry too — model them as the raw D events
        carry = [
            e
            for e in carry + batch
            if e[3] == "D"
        ]
    assert _live(state) == _live(whole)


# --- evolution lattice properties ------------------------------------------

_types = st.sampled_from(
    [T.IntegerType(), T.LongType(), T.FloatType(), T.DoubleType(), T.StringType()]
)
_schema_st = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]), _types, min_size=1, max_size=4
).map(lambda d: T.StructType([T.StructField(k, v, True) for k, v in d.items()]))


def _try_evolve(cur, inc):
    try:
        return evolve_schema(cur, inc)
    except SchemaEvolutionError:
        return None


@given(_schema_st, _schema_st)
@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
def test_evolution_idempotent_and_monotone(cur, inc):
    out = _try_evolve(cur, inc)
    if out is None:
        return
    # idempotent: applying the same incoming again changes nothing
    assert _try_evolve(out, inc) == out
    # monotone: every current column survives, possibly widened, never lost
    names = out.fieldNames()
    assert all(f.name in names for f in cur.fields)
    # the evolved schema accepts both sides (no information loss)
    assert _try_evolve(out, cur) == out


@given(_schema_st, _schema_st, _schema_st)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_evolution_associative_when_defined(a, b, c):
    ab = _try_evolve(a, b)
    left = _try_evolve(ab, c) if ab is not None else None
    bc = _try_evolve(b, c)
    right = _try_evolve(a, bc) if bc is not None else None
    if left is not None and right is not None:
        assert {f.name: f.dataType for f in left.fields} == {
            f.name: f.dataType for f in right.fields
        }


# --- the shipped LWW (merge.lww_last) against the fold -------------------

def _lww_frame(rows: list[tuple], from_target: list[bool]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "_seq": [r[2] for r in rows],
            "op": [r[3] for r in rows],
            "payload": [r[4] for r in rows],
            "_from_target": from_target,
        }
    )


@given(events_st, st.data(), st.randoms())
@settings(max_examples=200)
def test_lww_last_matches_fold(events, data, rnd):
    """merge.lww_last (the one LWW sort the merge runs, partition-local and
    in hot_key_prereduce) keeps exactly the fold's winners — under any row
    order and any redelivery of events."""
    from opengin_ingestion_spark.operators.merge import lww_last

    dup = data.draw(st.lists(st.sampled_from(events), max_size=10)) if events else []
    rows = events + dup
    rnd.shuffle(rows)
    out = lww_last(_lww_frame(rows, [False] * len(rows)), "url", "ts")
    assert out["url"].is_unique
    got = {
        u: (ts, seq, op, p)
        for u, ts, seq, op, p in zip(
            out["url"], out["ts"], out["_seq"], out["op"], out["payload"]
        )
        if op != "D"
    }
    assert got == _lww_fold(events)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_spark_lww_matches_fold(spark, seed):
    """lww_last run the way merge_batch runs it in Spark — an optional
    map-side partial pass over arbitrary input splits, then a hash
    exchange on the key and a partition-local final pass — keeps exactly
    the fold's winners (sampled: Spark runs are slow)."""
    import random

    from pyspark.sql import functions as F

    from opengin_ingestion_spark.operators.merge import lww_last

    rnd = random.Random(seed)
    events = [
        (
            f"u{rnd.randint(0, 7)}",
            rnd.randint(0, 50),
            seq,
            rnd.choice(["I", "U", "D"]),
            rnd.randint(0, 99),
        )
        for seq in range(120)
    ]
    rows = events + rnd.sample(events, 20)  # redelivered copies
    rnd.shuffle(rows)
    df = spark.createDataFrame(
        [(u, ts, seq, op, p, False) for (u, ts, seq, op, p) in rows],
        "url string, ts long, _seq long, op string, payload long, "
        "_from_target boolean",
    ).repartition(4)
    schema = df.schema

    def lww(batches):
        import pandas as pd

        pdfs = [pdf for pdf in batches if not pdf.empty]
        if pdfs:
            yield lww_last(pd.concat(pdfs, ignore_index=True), "url", "ts")

    expect = _lww_fold(events)
    for pre in (False, True):
        staged = df.mapInPandas(lww, schema=schema) if pre else df
        out = staged.repartition(3, F.col("url")).mapInPandas(lww, schema=schema)
        winners = out.collect()
        assert len({r["url"] for r in winners}) == len(winners), pre
        got = {
            r["url"]: (r["ts"], r["_seq"], r["op"], r["payload"])
            for r in winners
            if r["op"] != "D"
        }
        assert got == expect, pre


def test_lww_last_prefers_target_on_tie():
    """A redelivered batch row ties the already-applied target row on
    (ts, _seq): the target row wins whatever the input order, so the
    merge never re-appends its payload (gintable.heavy_seq_unique)."""
    from opengin_ingestion_spark.operators.merge import lww_last

    target = ("u0", 5, 7, "I", "applied")
    batch = ("u0", 5, 7, "U", "redelivered")
    older = ("u0", 4, 9, "U", "older")
    for rows, flags in (
        ([target, batch, older], [True, False, False]),
        ([batch, older, target], [False, False, True]),
    ):
        out = lww_last(_lww_frame(rows, flags), "url", "ts")
        assert out["payload"].tolist() == ["applied"]
        assert out["_from_target"].tolist() == [True]


# --- heavy-family _seq uniqueness under ANY delivery schedule (round 3) ----

@pytest.mark.parametrize("seed", [0, 1, 2])
def test_merge_heavy_uniqueness_under_redelivery(spark, seed, tmp_path):
    """For a random event set, random batching, and random REDELIVERY of
    whole batches under fresh batch ids: the heavy family never holds two
    rows for one _seq (the heavy_seq_unique manifest invariant), and the
    final table state equals the pandas LWW fold."""
    import os
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.sources.gintable import GinTable

    rnd = random.Random(seed)
    events = [
        (
            f"u{rnd.randint(0, 9)}",
            datetime(2024, 1, 1, tzinfo=timezone.utc).replace(hour=rnd.randint(0, 23)),
            seq,
            rnd.choice(["I", "I", "U", "D"]),
            f"payload-{seq}".encode(),
        )
        for seq in range(80)
    ]
    rnd.shuffle(events)
    # random batching + redelivery of some batches under fresh ids
    batches = []
    i = 0
    while i < len(events):
        k = rnd.randint(1, 20)
        batches.append(events[i : i + k])
        i += k
    delivery = list(batches) + [rnd.choice(batches) for _ in range(2)]

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ])
    table = GinTable.create(
        spark, str(tmp_path / f"t{seed}"),
        T.StructType([f for f in schema.fields if f.name not in ("seq", "op")]),
        n_buckets=4, heavy_columns=("html",),
    )
    for bid, batch in enumerate(delivery):
        df = spark.createDataFrame(
            [(u, ts, s, op, h) for (u, ts, s, op, h) in batch], schema
        )
        merge_batch(table, df, batch_id=bid)

    snap = table.current_snapshot()
    assert snap["heavy_seq_unique"] is True
    heavy_paths = [
        os.path.join(table.path, f["path"])
        for f in snap["files"] if f.get("family") == "heavy"
    ]
    if heavy_paths:
        hdf = spark.read.parquet(*heavy_paths)
        dup = hdf.groupBy("_seq").count().filter(F.col("count") > 1).count()
        assert dup == 0, "heavy family holds a duplicate _seq"

    # final state == pandas LWW fold (live winners with their payload)
    best: dict = {}
    for u, ts, s, op, h in events:
        cur = best.get(u)
        if cur is None or (ts, s) > (cur[0], cur[1]):
            best[u] = (ts, s, op, h)
    expect = {
        u: (ts, h) for u, (ts, s, op, h) in best.items() if op != "D"
    }
    got = {
        r["url"]: (r["warc_ts"].replace(tzinfo=timezone.utc), bytes(r["html"]))
        for r in table.read().collect()
    }
    assert got == expect
