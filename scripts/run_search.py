#!/usr/bin/env python
"""Search CLI: top-k cosine retrieval over the extraction warehouse.

The reference's ``cli search`` lifecycle (§3.2) end-to-end: embed the query,
optional source filtering, top-k, decorate results with document titles
(J1, a point lookup of the hit urls), format heading paths " > " (F3) and
300-char previews (F4), log the top score to the searches table (S8). Thin
shim over ``api.service.search_warehouse`` — the same function the HTTP tier
serves.

Usage:
    python scripts/run_search.py --warehouse /tmp/wh "star schema queries" \
        [--top-k 5] [--url-prefix https://host0.example/] \
        [--mode auto|exact|ann]

``--mode ann`` requires the materialized index
(``scripts/run_embed.py --ann-index``) and scans only 4 of its 16 IVF-PQ
cells; ``exact`` is the full TakeOrderedAndProject scan;
``auto`` (default) uses the index when it holds rows, exact otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--top-k", type=int, default=5)
    ap.add_argument("--url-prefix", default=None,
                    help="restrict to urls with this prefix")
    ap.add_argument("--mode", choices=("auto", "exact", "ann"),
                    default="auto")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    import docling_rag_spark
    from docling_rag_spark.api.service import search_warehouse
    from docling_rag_spark.session import get_spark

    spark = get_spark(app_name="search", cores=args.cores)
    docling_rag_spark.ship(spark)

    try:
        rows = search_warehouse(spark, args.warehouse, args.query,
                                top_k=args.top_k,
                                url_prefix=args.url_prefix,
                                mode=args.mode)
    except FileNotFoundError as exc:
        print(json.dumps({"error": str(exc)}))
        spark.stop()
        return 1

    for r in rows:
        print(json.dumps(r, ensure_ascii=False))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
