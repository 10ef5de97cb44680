"""Status/maintenance CLI for GinTable — the engine's analog of the
reference's run-inspection commands (`opengin tracer list-runs` /
`status`, /root/reference/python/src/opengin/tracer/cli.py:58-131).

Usage:
    python -m opengin_ingestion_spark.cli info <table_path>
    python -m opengin_ingestion_spark.cli history <table_path>
    python -m opengin_ingestion_spark.cli metrics <table_path>
    python -m opengin_ingestion_spark.cli gc <table_path> [--delete] [--min-age SECONDS]
    python -m opengin_ingestion_spark.cli compact <table_path> [--max-files N]
    python -m opengin_ingestion_spark.cli fold <table_path>
    python -m opengin_ingestion_spark.cli rebucket <table_path> --buckets N
    python -m opengin_ingestion_spark.cli ivf-update <table_path> --index PATH \
        --from-version N [--id-col vec_id] [--vec-col embedding]
    python -m opengin_ingestion_spark.cli ivf-stats <index_path>
    python -m opengin_ingestion_spark.cli lookup <table_path> <key>

`info`/`history`/`metrics`/`gc --dry-run` are driver-only (no Spark
session — they read manifests); the rewrite commands spin one up.
`fold` switches a quieted table to the read-optimized folded layout
(join-free reads; see operators/compact.py::fold_heavy_compact).
`ivf-update` syncs a persisted IVF index with the table's changes since
--from-version: the `table_changes` delta goes straight into
operators/similarity.py::update_ivf_index.
"""

from __future__ import annotations

import json
import sys

from opengin_ingestion_spark.sources.gintable import GinTable


def _manifests_only(path: str) -> GinTable:
    # driver-only inspection: bypass load()'s spark requirement
    t = GinTable.__new__(GinTable)
    t.spark = None  # type: ignore[assignment]
    import os

    t.path = os.path.abspath(path)
    t._manifest_dir = os.path.join(t.path, "_manifests")
    if t.current_version() is None:
        raise SystemExit(f"no GinTable at {path}")
    return t


def cmd_info(path: str) -> None:
    t = _manifests_only(path)
    snap = t.current_snapshot()
    files = snap["files"]
    print(
        json.dumps(
            {
                "path": t.path,
                "version": snap["version"],
                "schema_version": snap["schema_version"],
                "n_buckets": snap["n_buckets"],
                "live_files": len(files),
                # heavy files repeat rows: each row has one base copy
                "live_rows": sum(
                    f["rows"] for f in files if f.get("family", "base") == "base"
                ),
                "live_bytes": sum(f["bytes"] for f in files),
                "applied_batch_ranges": snap["applied_batch_ranges"],
                "committed_at": snap["committed_at"],
                "columns": [
                    f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
                ],
            },
            indent=2,
        )
    )


def cmd_history(path: str) -> None:
    t = _manifests_only(path)
    for snap in t.history():
        m = snap.get("metrics", {})
        print(
            f'v{snap["version"]:05d} {snap["committed_at"]} '
            f'batch={m.get("batch_id", "-")} events_in={m.get("events_in", "-")} '
            f'rows_written={m.get("rows_written", "-")} '
            f'buckets={m.get("buckets_rewritten", "-")} op={m.get("op", "merge")}'
        )


def cmd_metrics(path: str) -> None:
    t = _manifests_only(path)
    print(json.dumps([s.get("metrics", {}) for s in t.history()], indent=2))


def cmd_gc(path: str, delete: bool, min_age: float = 3600.0) -> None:
    t = _manifests_only(path)
    orphans = t.gc_orphans(dry_run=not delete, min_age_seconds=min_age)
    print(json.dumps({"orphans": orphans, "deleted": delete, "min_age": min_age}))


def cmd_compact(path: str, max_files: int) -> None:
    from opengin_ingestion_spark.operators.compact import compact
    from opengin_ingestion_spark.session import get_spark

    spark = get_spark(app_name="compact")
    t = GinTable.load(spark, path)
    snap = compact(t, max_files_per_bucket=max_files)
    print(json.dumps({"version": snap["version"], "metrics": snap.get("metrics", {})}))


def cmd_fold(path: str) -> None:
    from opengin_ingestion_spark.operators.compact import fold_heavy_compact
    from opengin_ingestion_spark.session import get_spark

    spark = get_spark(app_name="fold")
    t = GinTable.load(spark, path)
    snap = fold_heavy_compact(t)
    print(json.dumps({"version": snap["version"], "metrics": snap.get("metrics", {})}))


def cmd_ivf_update(
    path: str, index_path: str, from_version: int, id_col: str, vec_col: str
) -> None:
    from opengin_ingestion_spark.operators.similarity import update_ivf_index
    from opengin_ingestion_spark.session import get_spark
    from opengin_ingestion_spark.sources.gintable import table_changes

    spark = get_spark(app_name="ivf_update")
    t = GinTable.load(spark, path)
    stats = update_ivf_index(
        table_changes(t, from_version, key=id_col), index_path,
        id_col=id_col, vec_col=vec_col,
    )
    print(json.dumps(stats))


def cmd_lookup(path: str, key_value: str) -> None:
    """Point read through the serving path (GinTable.lookup — ONE bucket's
    files scanned); prints each matching row as a JSON line."""
    from opengin_ingestion_spark.session import get_spark

    spark = get_spark(app_name="lookup")
    t = GinTable.load(spark, path)
    for row in t.lookup(key_value).collect():
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))


def cmd_ivf_stats(index_path: str) -> None:
    """Driver-only: update-maintained drift stats + the rebuild
    recommendation (operators/similarity.py::recommend_rebuild) — the
    periodic-rebuild decision without any corpus scan."""
    from opengin_ingestion_spark.operators.similarity import (
        ivf_index_stats,
        recommend_rebuild,
    )

    stats = ivf_index_stats(index_path)
    stats["recommend_rebuild"] = recommend_rebuild(index_path)
    print(json.dumps(stats))


def cmd_rebucket(path: str, n_buckets: int) -> None:
    from opengin_ingestion_spark.operators.compact import rebucket
    from opengin_ingestion_spark.session import get_spark

    spark = get_spark(app_name="rebucket")
    t = GinTable.load(spark, path)
    snap = rebucket(t, n_buckets)
    print(json.dumps({"version": snap["version"], "metrics": snap.get("metrics", {})}))


def main(argv: list[str] | None = None) -> None:
    args = list(argv if argv is not None else sys.argv[1:])
    if len(args) < 2:
        print(__doc__)
        raise SystemExit(2)
    cmd, path = args[0], args[1]
    if cmd == "info":
        cmd_info(path)
    elif cmd == "history":
        cmd_history(path)
    elif cmd == "metrics":
        cmd_metrics(path)
    elif cmd == "gc":
        age = float(args[args.index("--min-age") + 1]) if "--min-age" in args else 3600.0
        cmd_gc(path, "--delete" in args, age)
    elif cmd == "compact":
        mf = int(args[args.index("--max-files") + 1]) if "--max-files" in args else 4
        cmd_compact(path, mf)
    elif cmd == "fold":
        cmd_fold(path)
    elif cmd == "rebucket":
        nb = int(args[args.index("--buckets") + 1])
        cmd_rebucket(path, nb)
    elif cmd == "lookup":
        cmd_lookup(path, args[2])
    elif cmd == "ivf-stats":
        cmd_ivf_stats(path)  # path = the index dir for this command
    elif cmd == "ivf-update":
        idx = args[args.index("--index") + 1]
        fv = int(args[args.index("--from-version") + 1])
        idc = args[args.index("--id-col") + 1] if "--id-col" in args else "vec_id"
        vcc = args[args.index("--vec-col") + 1] if "--vec-col" in args else "embedding"
        cmd_ivf_update(path, idx, fv, idc, vcc)
    else:
        print(__doc__)
        raise SystemExit(2)


if __name__ == "__main__":
    main()
