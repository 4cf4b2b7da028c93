#!/usr/bin/env python
"""Snapshot maintenance CLI over a retained warehouse (io/snapshots.py).

Usage:
    python scripts/snapshots_cli.py log      --out <wh>
    python scripts/snapshots_cli.py read     --out <wh> --table extracted \
        --as-of <unix_ts> [--buckets 64] [--limit 10]
    python scripts/snapshots_cli.py rollback --out <wh> --table extracted \
        --as-of <unix_ts>
    python scripts/snapshots_cli.py expire   --out <wh> --older-than <unix_ts>
    python scripts/snapshots_cli.py schema   --out <wh> --table extracted
    python scripts/snapshots_cli.py drop-column --out <wh> --table extracted \
        --column <name>
    python scripts/snapshots_cli.py rebucket --out <wh> --to <N>

The Iceberg analogs: snapshot metadata listing, ``SELECT ... FOR
TIMESTAMP AS OF``, ``rollback_to_timestamp``, ``expire_snapshots``,
``DESCRIBE TABLE``, ``ALTER TABLE ... DROP COLUMN`` (metadata-only;
data files are cleaned up by later bucket rewrites), and partition-spec
evolution + ``rewrite_data_files`` (rebucket). Prints one JSON line per
invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(app_name: str, cores: int):
    import docling_rag_spark
    from docling_rag_spark.session import get_spark

    spark = get_spark(app_name=app_name, cores=cores)
    docling_rag_spark.ship(spark)
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=("log", "read", "rollback", "expire",
                                    "schema", "drop-column", "rebucket"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--table", default="extracted")
    ap.add_argument("--column", default=None)
    ap.add_argument("--to", type=int, default=None,
                    help="rebucket: the new url-hash modulus")
    ap.add_argument("--as-of", type=float, default=None)
    ap.add_argument("--older-than", type=float, default=None)
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--limit", type=int, default=10)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from docling_rag_spark.io import snapshots as snap

    if args.cmd == "log":
        rows = snap.log_read(args.out)
        commits: dict[tuple, dict] = {}
        for r in rows:
            key = (r["table"], r["commit_id"])
            c = commits.setdefault(key, {
                "table": r["table"], "commit_id": r["commit_id"],
                "committed_at": r["committed_at"], "buckets": 0})
            c["buckets"] += 1
        print(json.dumps({
            "commits": sorted(commits.values(),
                              key=lambda c: c["committed_at"]),
            "expired_before": snap.expired_before(args.out)}))
        return 0

    if args.cmd == "schema":
        from docling_rag_spark.io import warehouse as wh

        s = wh.pinned_table_schema(args.out, args.table)
        print(json.dumps({
            "table": args.table,
            "pinned": None if s is None else
            [{"name": f.name, "type": f.dataType.simpleString()}
             for f in s.fields],
            "dropped": wh.dropped_columns(args.out, args.table)}))
        return 0

    if args.cmd == "drop-column":
        if args.column is None:
            ap.error("drop-column requires --column")
        from docling_rag_spark.io import warehouse as wh

        wh.drop_table_column(args.out, args.table, args.column)
        print(json.dumps({"table": args.table, "dropped": args.column,
                          "remaining": [f.name for f in
                                        wh.pinned_table_schema(
                                            args.out, args.table).fields]}))
        return 0

    if args.cmd == "rebucket":
        if args.to is None:
            ap.error("rebucket requires --to")
        from docling_rag_spark.plans.maintenance import rebucket_warehouse

        print(json.dumps(rebucket_warehouse(_spark("rebucket", args.cores),
                                            args.out, args.to)))
        return 0

    if args.cmd == "expire":
        if args.older_than is None:
            ap.error("expire requires --older-than")
        print(json.dumps(snap.expire_snapshots(args.out, args.older_than)))
        return 0

    if args.as_of is None:
        ap.error(f"{args.cmd} requires --as-of")

    if args.cmd == "rollback":
        print(json.dumps(snap.rollback_table(args.out, args.table,
                                             args.as_of)))
        return 0

    # read: needs a Spark session
    df = snap.read_table_as_of(_spark("snapshots-read", args.cores),
                               args.out, args.table, args.as_of,
                               num_buckets=args.buckets)
    sample_cols = [c for c in ("url", "format", "status") if c in df.columns]
    print(json.dumps({
        "table": args.table, "as_of": args.as_of, "rows": df.count(),
        "sample": [r.asDict() for r in
                   df.select(*sample_cols).limit(args.limit).collect()]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
