"""Checkpointed CDC-out consumer — the downstream half of `table_changes`.

`sources/gintable.py::table_changes` gives the row-level delta between two
snapshots; this module adds the OPERATIONAL loop a real consumer needs:
follow a table's commit stream, apply each delta exactly once per
checkpoint, survive restarts. The engine-side mirror of the ingest tail
(`streaming/tail.py` follows a file source into the table; this follows
the table into a downstream system), and the reference's poll-the-run-
status consumption pattern (/root/reference/python/src/opengin/server/
api.py:180-220) re-expressed as an incremental data feed instead of
status polling.

Delivery contract: **at-least-once per version range** with the
checkpoint written AFTER the apply (temp+rename, same atomic-publish
convention as every other commit in the engine). A crash between apply
and checkpoint re-delivers the same `(from, to]` delta on restart — so
the consumer must be idempotent over a replayed delta. The shipped
consumer (`sync_ivf_index`) is: it passes each `table_changes` frame
straight to `update_ivf_index` (which reads only the key, vector and
`_change_type` columns), and that removes changed ids wherever they live
before re-adding them, so re-applying a delta converges to the same index
generation content.

Work per poll ∝ changed buckets (table_changes' manifest diff), never
table size — a quiet table costs one manifest read per poll.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from opengin_ingestion_spark.sources.gintable import write_json_atomic


def _read_checkpoint(path: str) -> int | None:
    try:
        with open(path) as fh:
            return int(json.load(fh)["version"])
    except (FileNotFoundError, ValueError, KeyError):
        return None


def _write_checkpoint(path: str, version: int) -> None:
    write_json_atomic(path, {"version": version})


def follow_changes(
    table,
    apply_fn: Callable,
    checkpoint_path: str,
    from_version: int = 0,
    poll_seconds: float = 2.0,
    until_version: int | None = None,
    max_polls: int | None = None,
) -> dict:
    """Apply each new committed delta of ``table`` through ``apply_fn``.

    ``apply_fn(delta_df, from_version, to_version)`` receives the
    `table_changes` frame for one version range; after it returns, the
    checkpoint advances atomically. ``checkpoint_path`` (a JSON file)
    overrides ``from_version`` when present — restart resumes where the
    last successful apply finished.

    Runs until ``until_version`` is applied (a bounded drain — the
    available-now analog) or ``max_polls`` empty polls pass (None =
    poll forever; use a thread/process for a live daemon). EITHER bound
    terminates the drain: ``max_polls`` consecutive idle polls break the
    loop even while ``until_version`` has not been reached (a table that
    never reaches the target must not spin forever — ADVICE round 5).

    Returns ``{"applied_ranges": [(from, to), ...], "version": last}``.
    """
    last = _read_checkpoint(checkpoint_path)
    if last is None:
        last = from_version
    applied: list[tuple[int, int]] = []
    polls = 0
    from opengin_ingestion_spark.sources.gintable import table_changes

    while True:
        cur = table.current_version()
        if cur is not None and cur > last:
            delta = table_changes(table, last, cur)
            apply_fn(delta, last, cur)
            _write_checkpoint(checkpoint_path, cur)
            applied.append((last, cur))
            last = cur
            polls = 0  # progress resets the idle counter
        else:
            polls += 1
        if until_version is not None and last >= until_version:
            break
        if max_polls is not None and polls >= max_polls:
            break
        if cur is None or cur <= last:
            time.sleep(poll_seconds)
    return {"applied_ranges": applied, "version": last}


def sync_ivf_index(
    table,
    index_path: str,
    checkpoint_path: str,
    vec_col: str = "embedding",
    **follow_kwargs,
) -> dict:
    """Keep a persisted IVF index continuously in sync with a GinTable of
    vectors: every committed merge's delta flows through
    ``update_ivf_index`` (incremental — work ∝ touched cells), resumable
    via the checkpoint. The id column is the table's manifest-declared
    merge key; deletes in the table become index removals.

    Idempotent under the at-least-once contract: a re-delivered delta
    anti-joins its ids out before re-adding them, and the index's own
    generation commit makes each apply atomic for readers.
    """
    from opengin_ingestion_spark.operators.similarity import update_ivf_index

    id_col = table.key_col()

    def apply_delta(delta, _from_v, _to_v):
        update_ivf_index(delta, index_path, id_col=id_col, vec_col=vec_col)

    return follow_changes(table, apply_delta, checkpoint_path, **follow_kwargs)
