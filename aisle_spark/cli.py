"""spark-submit entrypoints (ship the package with --py-files).

  spark-submit … compact --table /data/encoded --target-mb 256 \
      --order-by source --vacuum

Usage (north rule: "runs via spark-submit --py-files"):

  # build the zip once
  python -m aisle_spark.cli package --out aisle_spark.zip

  spark-submit --py-files aisle_spark.zip -m aisle_spark.cli … \
      encode --input /data/tokens --output /data/encoded \
             --parts 4096 --sort source,n_tok [--resume]

  spark-submit --py-files aisle_spark.zip -m aisle_spark.cli … \
      scan --table /data/encoded \
           --where "source = 'code' AND n_tok > 100" \
           --columns doc_id,n_tok --output /data/result

--where takes a SQL predicate, compiled by sqlcompile.parse_where; it is
parsed, never evaluated as Python.
"""

from __future__ import annotations

import argparse
import sys


def _session(app: str):
    """(session, owns) — ``owns`` is False when an active session already
    existed (in-process invocation, e.g. a notebook or the driver-gate
    harness calling ``main()`` directly): commands must then leave the
    caller's session running instead of stopping it."""
    from pyspark.sql import SparkSession

    owns = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    return spark, owns


def cmd_encode(args) -> None:
    from aisle_spark.pipeline import encode_files_direct

    spark, owns = _session("aisle-encode")
    committed = encode_files_direct(
        spark,
        args.input,
        args.output,
        parts=args.parts,
        sort_cols=args.sort.split(",") if args.sort else None,
        resume=args.resume,
    )
    print(f"committed {len(committed)} block file(s)")
    if owns:
        spark.stop()


def cmd_stream(args) -> None:
    from aisle_spark.streaming import encode_stream

    spark, owns = _session("aisle-stream")
    sort_cols = args.sort.split(",") if args.sort else None
    stream = (
        spark.readStream.schema(args.schema)
        .option("maxFilesPerTrigger", str(args.max_files_per_trigger))
        .parquet(args.input)
    )
    q = encode_stream(
        stream,
        args.output,
        args.checkpoint,
        parts=args.parts,
        sort_cols=sort_cols,
    )
    if args.once:
        q.processAllAvailable()
        q.stop()
    else:  # pragma: no cover - long-running service mode
        q.awaitTermination()
    if owns:
        spark.stop()


def cmd_scan(args) -> None:
    from aisle_spark.pipeline import read_encoded, scan
    from aisle_spark.sqlcompile import parse_where

    # parse before starting Spark: a malformed predicate fails fast
    where = parse_where(args.where) if args.where else None
    spark, owns = _session("aisle-scan")
    blocks, schema = read_encoded(spark, args.table)
    columns = args.columns.split(",") if args.columns else None
    if args.report and where is not None:
        from aisle_spark.pipeline import prune_report

        print(prune_report(blocks, where))
    out = scan(blocks, schema, where=where, columns=columns)
    if args.output:
        out.write.mode(args.mode).parquet(args.output)
    else:
        out.show(args.limit, truncate=False)
    if owns:
        spark.stop()


def cmd_aggregate(args) -> None:
    """Stats-only aggregation through the public surface: routes to
    pipeline.scan_count / scan_sum / scan_min_max / scan_count_by /
    scan_sum_by, which answer from block evidence (definitely-true
    blocks contribute their recorded stats; only boundary blocks decode)
    — a 100 TB table's ``SELECT count(*) WHERE …`` reads KB of manifest,
    not the payloads."""
    from pyspark.sql import SparkSession

    from aisle_spark.pipeline import (
        read_encoded,
        scan_avg,
        scan_count,
        scan_count_by,
        scan_min_max,
        scan_min_max_by,
        scan_sum,
        scan_sum_by,
    )

    spark, owns = _session("aisle-aggregate")
    blocks, schema = read_encoded(spark, args.table)
    where = args.where or None
    if args.count_by:
        out = scan_count_by(blocks, schema, args.count_by, where=where)
    elif args.min_max_by:
        group, _, val = args.min_max_by.partition(":")
        if not val:
            raise SystemExit("--min-max-by takes GROUP_COL:VALUE_COL")
        out = scan_min_max_by(blocks, schema, group, val, where=where)
    elif args.sum_by:
        group, _, val = args.sum_by.partition(":")
        if not val:
            raise SystemExit("--sum-by takes GROUP_COL:SUM_COL")
        out = scan_sum_by(blocks, schema, group, val, where=where)
    elif args.sum:
        out = scan_sum(blocks, schema, args.sum, where=where)
    elif args.avg:
        out = scan_avg(blocks, schema, args.avg, where=where)
    elif args.min_max:
        out = scan_min_max(blocks, schema, args.min_max, where=where)
    else:  # --count is the default aggregate
        out = scan_count(blocks, schema, where=where)
    if args.output:
        out.write.mode(args.mode).parquet(args.output)
    else:
        for line in out.toJSON().collect():  # aggregates are tiny
            print(line)
    if owns:  # keep a caller-provided session alive (in-process use)
        spark.stop()


def cmd_compact(args) -> None:
    from aisle_spark.maintenance import compact_encoded, vacuum_encoded

    spark, owns = _session("aisle-compact")
    summary = compact_encoded(
        spark,
        args.table,
        target_files=args.target_files,
        target_mb=args.target_mb,
        min_file_mb=args.min_file_mb,
        order_by=args.order_by,
    )
    print(summary)
    if args.vacuum and not summary.get("skipped"):
        from aisle_spark.maintenance import expire_snapshots

        expired = expire_snapshots(args.table, keep_last=args.keep_snapshots)
        removed = vacuum_encoded(args.table, min_age_seconds=args.min_age)
        print(f"expired {len(expired)} snapshots, vacuumed {len(removed)} files")
    if owns:
        spark.stop()


def cmd_describe(args) -> None:
    """Table metadata from the manifest alone — no Spark session, no
    payload I/O: file/row/byte totals, snapshot span, schema. The
    kilobyte-read answer to "what is this 100 TB table" before any job
    is submitted."""
    import json as _json

    from aisle_spark.datasource import _fs_of, _read_sidecar_schema
    from aisle_spark.pipeline import list_snapshots, load_manifest

    fs, root = _fs_of(args.table)
    root = root.rstrip("/")
    try:
        m = load_manifest(fs, root)
    except (FileNotFoundError, OSError):
        # manifest-less layout (plain blocks.write.parquet): list files,
        # no stats totals
        from aisle_spark.pipeline import _fs_list

        m = {
            "files": [p for p, _sz in _fs_list(fs, root, ".parquet")],
        }
    stats = m.get("file_stats", {})
    total_bytes = 0
    rows = 0
    files = m.get("files", [])
    # totals iterate the FILE LIST, not the stats dict: a file missing
    # its stats entry (pre-stats writer era) must flip the row total to
    # unknown, never silently under-report (code-review r5)
    rows_known = bool(files)
    for f in files:
        st = stats.get(f) or {}
        b = st.get("__bytes")
        if isinstance(b, int):
            total_bytes += b
        ent = next(
            (
                v
                for k, v in st.items()
                if k != "__bytes" and isinstance(v, list) and len(v) >= 4
            ),
            None,
        )
        if ent is None or not isinstance(ent[3], int):
            rows_known = False
        else:
            rows += ent[3]
    versions = list_snapshots(fs, root)
    schema = _read_sidecar_schema(fs, root)
    print(
        _json.dumps(
            {
                "files": len(m.get("files", [])),
                "bytes": total_bytes,
                "rows": rows if rows_known else None,
                "version": m.get("version"),
                "snapshots": (
                    {"oldest": versions[0], "latest": versions[-1]}
                    if versions
                    else {}
                ),
                "streaming_batches": len(m.get("batches", {})),
                "columns": [f"{f.name}: {f.type}" for f in schema],
            },
            indent=1,
        )
    )


def cmd_vacuum(args) -> None:
    from aisle_spark.maintenance import vacuum_encoded

    removed = vacuum_encoded(
        args.table, dry_run=args.dry_run, min_age_seconds=args.min_age
    )
    verb = "would delete" if args.dry_run else "deleted"
    print(f"{verb} {len(removed)} files")
    for f in removed:
        print(" ", f)


def cmd_package(args) -> None:
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    print(f"wrote {args.out}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="aisle_spark.cli")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("encode", help="encode a parquet table into blocks")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--parts", type=int, default=256)
    e.add_argument("--sort", default=None, help="comma-separated sort columns")
    e.add_argument(
        "--resume",
        action="store_true",
        help="skip inputs already committed in _done/",
    )
    e.set_defaults(fn=cmd_encode)

    st = sub.add_parser("stream", help="Structured Streaming encode sink")
    st.add_argument("--input", required=True, help="streaming parquet source dir")
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--schema", required=True, help="DDL of the source schema")
    st.add_argument("--parts", type=int, default=256)
    st.add_argument("--sort", default=None)
    st.add_argument("--max-files-per-trigger", type=int, default=16)
    st.add_argument(
        "--once", action="store_true", help="drain available input then stop"
    )
    st.set_defaults(fn=cmd_stream)

    s = sub.add_parser("scan", help="pruned scan over an encoded table")
    s.add_argument("--table", required=True)
    s.add_argument("--where", default=None)
    s.add_argument("--columns", default=None)
    s.add_argument("--output", default=None)
    s.add_argument("--mode", default="overwrite")
    s.add_argument("--limit", type=int, default=20)
    s.add_argument(
        "--report",
        action="store_true",
        help="print per-conjunct block-pruning diagnosis before scanning",
    )
    s.set_defaults(fn=cmd_scan)

    a = sub.add_parser(
        "aggregate", help="stats-only aggregates (count/sum/min-max/by-group)"
    )
    a.add_argument("--table", required=True)
    a.add_argument("--where", default=None, help="SQL predicate")
    ag = a.add_mutually_exclusive_group()
    ag.add_argument("--count", action="store_true", help="COUNT(*) (default)")
    ag.add_argument("--sum", default=None, metavar="COL")
    ag.add_argument("--avg", default=None, metavar="COL")
    ag.add_argument("--min-max", dest="min_max", default=None, metavar="COL")
    ag.add_argument("--count-by", dest="count_by", default=None, metavar="COL")
    ag.add_argument(
        "--sum-by", dest="sum_by", default=None, metavar="GROUP_COL:SUM_COL"
    )
    ag.add_argument(
        "--min-max-by", dest="min_max_by", default=None,
        metavar="GROUP_COL:VALUE_COL",
    )
    a.add_argument("--output", default=None, help="parquet dir (else JSON stdout)")
    a.add_argument("--mode", default="overwrite")
    a.set_defaults(fn=cmd_aggregate)

    c = sub.add_parser("compact", help="merge small committed files (OPTIMIZE)")
    c.add_argument("--table", required=True)
    c.add_argument("--target-files", type=int, default=None)
    c.add_argument("--target-mb", type=int, default=256)
    c.add_argument(
        "--min-file-mb", dest="min_file_mb", type=float, default=None,
        help="incremental OPTIMIZE: only rewrite files smaller than this",
    )
    c.add_argument("--order-by", default=None,
                   help="cluster output files by this column's block minima")
    c.add_argument("--vacuum", action="store_true",
                   help="delete the replaced files after the commit")
    c.add_argument("--min-age", type=float, default=600.0,
                   help="vacuum grace seconds protecting in-flight writers")
    c.add_argument("--keep-snapshots", type=int, default=10,
                   help="with --vacuum: retain this many newest snapshots")
    c.set_defaults(fn=cmd_compact)

    d = sub.add_parser(
        "describe", help="table metadata from the manifest (no Spark)"
    )
    d.add_argument("--table", required=True)
    d.set_defaults(fn=cmd_describe)

    v = sub.add_parser("vacuum", help="delete unreferenced data files")
    v.add_argument("--table", required=True)
    v.add_argument("--dry-run", action="store_true")
    v.add_argument("--min-age", type=float, default=600.0)
    v.set_defaults(fn=cmd_vacuum)

    z = sub.add_parser("package", help="zip the package for --py-files")
    z.add_argument("--out", default="aisle_spark.zip")
    z.set_defaults(fn=cmd_package)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
