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

def _live_winners(out: pd.DataFrame) -> dict:
    """An LWW output frame as the fold's state: url → (ts, seq, op, payload)
    of its non-deleted winners."""
    return {
        u: (ts, seq, op, p)
        for u, ts, seq, op, p in zip(
            out["url"], out["ts"], out["_seq"], out["op"], out["payload"]
        )
        if op != "D"
    }


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
    """merge.lww_last (the one LWW sort the merge runs, on each Arrow batch
    of a partition) keeps exactly the fold's winners — under any row
    order and any redelivery of events."""
    from opengin_ingestion_spark.operators.merge import lww_last

    dup = data.draw(st.lists(st.sampled_from(events), max_size=10)) if events else []
    rows = events + dup
    rnd.shuffle(rows)
    out = lww_last(_lww_frame(rows, [False] * len(rows)), "url", "ts")
    assert out["url"].is_unique
    assert _live_winners(out) == _lww_fold(events)


@given(events_st, st.data(), st.randoms())
@settings(max_examples=200)
def test_lww_stream_matches_fold(events, data, rnd):
    """merge.lww_stream (the merge's fold over a key-sorted partition's
    Arrow batches) keeps exactly the fold's winners, each url once, however
    the sorted rows are cut into batches — cuts inside a url's run
    included — with redeliveries and with target rows that a batch copy
    ties on (ts, _seq)."""
    from opengin_ingestion_spark.operators.merge import lww_stream

    dup, applied = [], []
    if events:
        dup = data.draw(st.lists(st.sampled_from(events), max_size=10))
        applied = data.draw(st.lists(st.sampled_from(events), max_size=5, unique=True))
    # applied events arrive as target rows, the rest (and all redelivered
    # copies) as batch rows; a batch copy of an applied event with another
    # payload ties it on (ts, _seq) — the target row must win the tie,
    # wherever the batch cuts fall
    rows = [(e, e in applied) for e in events] + [(e, False) for e in dup]
    rows += [((u, ts, seq, "U", p + 100), False) for u, ts, seq, _op, p in applied]
    rnd.shuffle(rows)
    rows.sort(key=lambda r: r[0][0])  # the sortWithinPartitions(key)
    cuts = sorted(data.draw(st.sets(st.integers(1, max(len(rows) - 1, 1)))))
    bounds = [0, *[c for c in cuts if c < len(rows)], len(rows)]
    batches = [
        _lww_frame([r for r, _ in rows[a:b]], [t for _, t in rows[a:b]])
        for a, b in zip(bounds, bounds[1:])
    ]
    out = list(lww_stream(iter(batches), "url", "ts"))
    out = pd.concat(out) if out else _lww_frame([], [])
    assert out["url"].is_unique
    assert set(out["url"]) == {e[0] for e in events}
    assert _live_winners(out) == _lww_fold(events)


def test_lww_stream_never_reads_ahead():
    """lww_stream yields a batch's finished urls before it pulls the next
    batch: with at least two urls per batch, its k-th yield comes after
    exactly k batches were consumed — a task holds one batch plus the
    carried row, never the bucket."""
    from opengin_ingestion_spark.operators.merge import lww_stream

    rows = [(f"u{i:03d}", r, 3 * i + r, "U", r) for i in range(40) for r in range(3)]
    batches = [_lww_frame(rows[a:a + 7], [False] * len(rows[a:a + 7]))
               for a in range(0, len(rows), 7)]
    consumed = 0

    def counting():
        nonlocal consumed
        for b in batches:
            consumed += 1
            yield b

    seen = []
    for k, frame in enumerate(lww_stream(counting(), "url", "ts"), start=1):
        if k <= len(batches):
            assert consumed == k, (k, consumed)
        seen += list(frame["url"])
    assert consumed == len(batches)
    assert seen == sorted({r[0] for r in rows})


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_spark_lww_matches_fold(spark, seed):
    """The merge's own Arrow step (lww_step) run the way write_data_files
    runs it — a hash exchange on the key, a sort within each partition,
    then mapInArrow over Arrow batches of 16 rows, so url runs straddle
    batches — keeps exactly the fold's winners, with tombstones flagged
    and their payload nulled (sampled: Spark runs are slow)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from opengin_ingestion_spark.operators.merge import lww_step

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
    out_schema = df.schema.add("_deleted", "boolean")
    step = lww_step("url", "ts", ["payload"])

    def lww(batches):
        for table in step(batches):
            yield from table.select(out_schema.fieldNames()).cast(
                to_arrow_schema(out_schema)
            ).to_batches()

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try:
        out = (
            df.repartition(3, F.col("url")).sortWithinPartitions("url")
            .mapInArrow(lww, schema=out_schema).toPandas()
        )
    finally:
        spark.conf.set(conf, old)
    assert out["url"].is_unique
    assert _live_winners(out) == _lww_fold(events)
    assert (out["_deleted"] == (out["op"] == "D")).all()
    assert out.loc[out["_deleted"], "payload"].isna().all()


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
