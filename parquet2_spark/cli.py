"""parquet-tools-style CLI over encoded snapshots.

Reference parity: the crate ships a `parquet-tools` binary with
meta / rowcount / dump commands (parquet-tools/src/lib/*.rs); this is the
spark-submit analog over our snapshots, plus the engine's own
encode / decode / validate entry points (the north star's deliverable
queries).

Usage (the session takes ``conf.RECOMMENDED``, whose worker daemon the
executors' Python imports before any ``--py-files`` arrive: run from the
repo root, install the package, or spark-submit with
``PYTHONPATH=parquet2_spark.zip`` as well as ``--py-files parquet2_spark.zip``):
    python -m parquet2_spark.cli meta     <snapshot_dir>
    python -m parquet2_spark.cli rowcount <snapshot_dir>
    python -m parquet2_spark.cli stats    <snapshot_dir>
    python -m parquet2_spark.cli dump     <snapshot_dir> [--columns a,b] [--limit N]
    python -m parquet2_spark.cli encode   <input_parquet> <snapshot_dir> [--target-rows N]
    python -m parquet2_spark.cli decode   <snapshot_dir> <output_parquet> [--columns a,b]
    python -m parquet2_spark.cli validate <input_parquet> <snapshot_dir>
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from . import conf

    s = conf.session("parquet2-spark-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="parquet2_spark.cli", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("meta", "rowcount", "stats"):
        sp = sub.add_parser(name)
        sp.add_argument("snapshot")
    sp = sub.add_parser("quantiles")
    sp.add_argument("snapshot")
    sp.add_argument("column")
    sp.add_argument("--q", default="0.01,0.25,0.5,0.75,0.99",
                    help="comma-separated quantile fractions")
    sp = sub.add_parser("dump")
    sp.add_argument("snapshot")
    sp.add_argument("--columns", default=None)
    sp.add_argument("--limit", type=int, default=20)
    sp = sub.add_parser("encode")
    sp.add_argument("input")
    sp.add_argument("snapshot")
    sp.add_argument("--target-rows", type=int, default=131_072)
    sp.add_argument("--page-rows", type=int, default=8_192)
    sp.add_argument("--no-resume", action="store_true")
    sp = sub.add_parser("append")
    sp.add_argument("input")
    sp.add_argument("table")
    sp.add_argument("--target-rows", type=int, default=131_072)
    sp.add_argument("--page-rows", type=int, default=8_192)
    sp.add_argument("--batch-key", default=None,
                    help="idempotency key: a keyed retry resumes or short-circuits")
    sp.add_argument("--range-layout-on", default=None, metavar="COL[,COL...]",
                    help="lay the batch out by RANGE of this column using the "
                         "table's quantile grids (numeric/temporal/string); "
                         "extra comma-separated columns sort within buckets")
    sp = sub.add_parser("compact")
    sp.add_argument("table")
    sp.add_argument("--keep-old", action="store_true",
                    help="keep old snapshot dirs (external time-travel archival)")
    sp.add_argument("--range-layout-on", default=None, metavar="COL[,COL...]",
                    help="lay the rewrite out by RANGE of this column using the "
                         "table's quantile grids (disjoint zone maps; extra "
                         "comma-separated columns sort within buckets)")
    sp.add_argument("--local-merge", choices=["auto", "on", "off"], default="auto",
                    help="exchange-free compaction plan (per-bucket merge of "
                         "overlapping chunk files; payload never crosses a "
                         "shuffle). auto: used when the zone-map plan fan-out "
                         "shows range-local inputs")
    sp.add_argument("--no-binpack", action="store_true",
                    help="force a full re-encode of every partition instead of "
                         "carrying well-sized ones over verbatim (use after "
                         "changing codec config)")
    sp = sub.add_parser("drift")
    sp.add_argument("table")
    sp = sub.add_parser("layout")
    sp.add_argument("table")
    sp = sub.add_parser("vacuum")
    sp.add_argument("table")
    sp.add_argument("--older-than", type=float, default=86400.0, metavar="SECONDS",
                    help="delete unreferenced staging dirs quiet this long (default 24h)")
    sp = sub.add_parser("decode")
    sp.add_argument("snapshot")
    sp.add_argument("output")
    sp.add_argument("--columns", default=None)
    sp.add_argument("--key-range", default=None, metavar="COL:LO:HI",
                    help="zone-map range read (exact; numeric bounds auto-typed)")
    sp.add_argument("--row-range", default=None, metavar="START:STOP",
                    help="row-interval read through the page offset index")
    sp.add_argument("--as-of", type=int, default=None,
                    help="time-travel to this snapshot id (table dirs)")
    sp.add_argument("--key-in", default=None, metavar="COL:V1,V2,...",
                    help="bloom-assisted IN-list fetch (exact)")
    sp.add_argument("--since", type=int, default=None,
                    help="incremental read: only snapshots > this id (table dirs)")
    sp.add_argument("--not-null", default=None, metavar="COL[,COL...]",
                    help="IS NOT NULL predicate: all-null chunks prune whole "
                         "partitions, all-null pages skip via the page_nulls index")
    sp.add_argument("--is-null", default=None, metavar="COL[,COL...]",
                    help="IS NULL predicate: null-free chunks/pages are skipped")
    sp = sub.add_parser("validate")
    sp.add_argument("input")
    sp.add_argument("snapshot")
    sp.add_argument(
        "--digest",
        action="store_true",
        help="join-free multiset-digest compare (one scan per side; the 100 TB path)",
    )
    args = p.parse_args(argv)

    from .operators import decode_job, validate as validate_mod

    if args.cmd == "meta":
        print(json.dumps(decode_job.lineage(args.snapshot), indent=1))
        return 0
    if args.cmd == "rowcount":
        print(decode_job.lineage(args.snapshot)["rows"])
        return 0
    if args.cmd == "drift":
        from .operators.table import layout_drift

        d = layout_drift(args.table)
        print(json.dumps({"layout_drift": d}))
        return 0
    if args.cmd == "vacuum":
        from .operators.table import vacuum

        deleted = vacuum(args.table, older_than_s=args.older_than)
        print(json.dumps({"deleted": deleted}))
        return 0

    spark = _spark()
    if args.cmd == "layout":
        # the operative sticky layout: stored split points + how the
        # CURRENT data distributes over them (predicted from quantile
        # grids, metadata only) + committed-partition drift
        from .operators import table as table_mod
        from .operators.encode_job import EncodeConfig

        cfg = EncodeConfig()
        doc = table_mod._newest_layout_doc(args.table, cfg)
        if doc is None:
            print(json.dumps({"layout": None}))
            return 0
        bounds = table_mod._bounds_from_json(doc["bounds"])
        wts = (
            decode_job.bucket_weights(spark, args.table, doc["column"], bounds)
            if bounds else [1.0]
        )
        print(json.dumps({
            "column": doc["column"],
            "n_parts": int(doc["n_parts"]),
            "heaviest_over_mean": round(max(wts) * len(wts), 3),
            "rebalance_limit": table_mod.LAYOUT_REBALANCE_LIMIT,
            "layout_drift": table_mod.layout_drift(args.table),
        }))
        return 0
    if args.cmd == "stats":
        decode_job.stats(spark, args.snapshot).show(200, truncate=False)
        return 0
    if args.cmd == "quantiles":
        qs = [float(x) for x in args.q.split(",")]
        est = decode_job.quantiles(spark, args.snapshot, args.column, qs)
        # string/binary columns estimate as byte prefixes — not JSON;
        # render as lossy UTF-8 for the human-facing CLI
        est = [e.decode("utf-8", "replace") if isinstance(e, bytes) else e
               for e in est]
        print(json.dumps({"column": args.column,
                          "quantiles": dict(zip(map(str, qs), est))}))
        return 0
    if args.cmd == "dump":
        cols = args.columns.split(",") if args.columns else None
        decode_job.decode(spark, args.snapshot, columns=cols).show(args.limit, truncate=60)
        return 0
    if args.cmd == "encode":
        from .operators.encode_job import EncodeConfig, encode

        df = spark.read.parquet(args.input)
        lin = encode(
            spark,
            df,
            args.snapshot,
            EncodeConfig(target_rows=args.target_rows, page_rows=args.page_rows),
            resume=not args.no_resume,
        )
        print(
            json.dumps(
                {k: lin[k] for k in ("rows", "raw_bytes", "enc_bytes", "wall_s", "n_partitions_committed")}
            )
        )
        return 0
    if args.cmd == "append":
        from .operators.encode_job import EncodeConfig
        from .operators.table import append, read_manifest

        df = spark.read.parquet(args.input)
        lin = append(
            spark,
            df,
            args.table,
            EncodeConfig(target_rows=args.target_rows, page_rows=args.page_rows),
            batch_key=args.batch_key,
            range_layout_on=(tuple(args.range_layout_on.split(","))
                             if args.range_layout_on and "," in args.range_layout_on
                             else args.range_layout_on),
        )
        man = read_manifest(args.table)
        print(
            json.dumps(
                {
                    "snapshot_id": man["current"],
                    "rows_appended": lin["rows"],
                    "table_snapshots": len(man["snapshots"]),
                }
            )
        )
        return 0
    if args.cmd == "compact":
        from .operators.table import compact, read_manifest

        lin = compact(spark, args.table, keep_old=args.keep_old,
                      range_layout_on=(tuple(args.range_layout_on.split(","))
                                       if args.range_layout_on and "," in args.range_layout_on
                                       else args.range_layout_on),
                      local_merge={"auto": None, "on": True, "off": False}[
                          args.local_merge],
                      binpack=False if args.no_binpack else None)
        man = read_manifest(args.table)
        print(json.dumps({
            "snapshot_id": man["current"],
            "rows": lin["rows"],
            "enc_bytes": lin["enc_bytes"],
            "compaction_path": lin["compaction_path"],
            **({"binpack_kept": lin["binpack_kept"]}
               if "binpack_kept" in lin else {}),
        }))
        return 0
    if args.cmd == "decode":
        cols = args.columns.split(",") if args.columns else None
        # bound typing follows the SNAPSHOT SCHEMA, not the text shape —
        # "00123" against a string key column must stay a string
        schema = decode_job.lineage(args.snapshot)["schema"]
        _NUMERIC = {"bigint", "int", "smallint", "tinyint", "long"}
        _FLOATING = {"double", "float"}

        def _typed(col: str, s: str):
            if s == "":
                return None
            ddl = schema.get(col, "string")
            if ddl in _NUMERIC:
                return int(s)
            if ddl in _FLOATING:
                return float(s)
            if ddl == "timestamp" and s.lstrip("-").isdigit():
                return int(s)  # epoch micros (the zone-map unit)
            if ddl == "date" and s.lstrip("-").isdigit():
                return int(s)  # days since epoch
            return s

        key_range = None
        if args.key_range:
            col, lo, hi = args.key_range.split(":", 2)
            key_range = (col, _typed(col, lo), _typed(col, hi))
        row_range = None
        if args.row_range:
            a, b = args.row_range.split(":", 1)
            row_range = (int(a), int(b))
        key_in = None
        if args.key_in:
            col, vals = args.key_in.split(":", 1)
            key_in = (col, [_typed(col, v) for v in vals.split(",")])
        decode_job.decode(
            spark, args.snapshot, columns=cols, key_range=key_range,
            row_range=row_range, as_of=args.as_of, key_in=key_in,
            since=args.since,
            not_null=args.not_null.split(",") if args.not_null else None,
            is_null=args.is_null.split(",") if args.is_null else None,
        ).write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
        return 0
    if args.cmd == "validate":
        src = spark.read.parquet(args.input)
        if args.digest:
            rep = validate_mod.digest_frames(src, decode_job.decode(spark, args.snapshot))
        else:
            rep = validate_mod.validate(spark, src, args.snapshot)
        print(json.dumps(rep))
        return 0 if rep["bit_identical"] else 1
    return 2


if __name__ == "__main__":
    sys.exit(main())
