"""Vectorized (pandas/Arrow) scalar functions for the CDC engine.

Design rule from the spec: *no per-row Python* — every Python-side transform
is a pandas Series→Series function running over Arrow batches. The same
functions back both the merge's bucket-local transform
(``plans.replay.pages_pandas_transform``, run on Arrow batches inside the
merge's ``mapInArrow`` write tasks) and the test oracle, which is what
guarantees byte-identical extracted text per url.
"""

from opengin_ingestion_spark.functions.extract import (  # noqa: F401
    detect_lang_series,
    extract_text_series,
)
