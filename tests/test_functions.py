"""Unit tests for the vectorized extraction/detection functions —
determinism — and the plan check that the merge running them is
Arrow-vectorized. (Engine-vs-oracle byte identity of extracted text is
asserted by the replay-oracle tests, tests/oracle.py::assert_states_equal.)"""

from __future__ import annotations

import pandas as pd

from opengin_ingestion_spark.functions.extract import (
    detect_lang_series,
    extract_text_series,
)
from opengin_ingestion_spark.sources.changelog import make_html


def test_extract_text_basic():
    html = pd.Series(
        [
            b"<html><head><title>T</title><script>x</script></head>"
            b"<body><p>hello &amp; world</p>\n\n<div>bye</div></body></html>",
            None,
            b"plain no tags",
        ],
        dtype=object,
    )
    out = extract_text_series(html)
    assert out[0] == "T hello & world bye"
    assert out[1] is None
    assert out[2] == "plain no tags"


def test_extract_text_deterministic():
    htmls = pd.Series([make_html(f"https://x.com/{i}", i) for i in range(50)], dtype=object)
    a = extract_text_series(htmls)
    b = extract_text_series(htmls)
    assert (a == b).all()
    # no leading/trailing/duplicated whitespace survives
    assert all("  " not in t and t == t.strip() for t in a)


def test_detect_lang():
    s = pd.Series(
        [
            "the cat is in the house and it is warm",
            "der Hund ist nicht mit der Katze",
            "le chat est dans la maison pour que",
            "zzz qqq xxx",
            None,
        ]
    )
    out = detect_lang_series(s)
    assert list(out[:4]) == ["en", "de", "fr", "und"]
    assert out[4] is None


def test_merge_runs_vectorized(spark, tiny_log, tmp_path):
    """The shipped transform path — merge_batch with the pages transform —
    runs its Python as MapInArrow (Arrow batches: the LWW and transform
    are the write's per-task Arrow step), never MapInPandas or
    BatchEvalPython (per-row): 'no per-row Python' is a spec rule. Checked
    on the plans of the SQL executions the merge actually ran."""
    from opengin_ingestion_spark.operators.merge import merge_batch
    from opengin_ingestion_spark.plans.replay import (
        PAGES_SCHEMA,
        TRANSFORM_FIELDS,
        pages_pandas_transform,
    )
    from opengin_ingestion_spark.sources.gintable import GinTable
    from opengin_ingestion_spark.sources.reader import read_changelog

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    table = GinTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8,
        heavy_columns=("html", "text"),
    )
    res = merge_batch(
        table, read_changelog(spark, tiny_log["dir"]), batch_id=0,
        pandas_transform=pages_pandas_transform, transform_fields=TRANSFORM_FIELDS,
    )
    assert not res.skipped
    plans = [
        e.physicalPlanDescription() for e in executions() if e.executionId() > seen
    ]
    assert plans, "the merge ran no SQL execution"
    assert any("MapInArrow" in p for p in plans)
    assert not any("MapInPandas" in p or "BatchEvalPython" in p for p in plans)
