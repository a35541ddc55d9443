#!/usr/bin/env python
"""spark-submit entry point for the web-scale KG construction pipeline.

    spark-submit --py-files kgspark.zip scripts/run_pipeline.py \
        --input /path/to/web_pages_parquet --out /path/to/kg \
        [--buckets 32] [--run-id r1] [--run-seq 0] [--no-resume]
        [--warc]           # treat --input as a dir of WARC archives instead
        [--synthesize N]   # generate a deterministic corpus instead of reading

Reads an (url, warc_ts, html, text, lang) parquet corpus — or raw
Common-Crawl WARC archives with --warc — runs the resumable extraction
stage + graph stage, prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from kgspark.construct import graph

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir with web_pages schema")
    ap.add_argument("--synthesize", type=int, help="generate an N-doc corpus instead")
    ap.add_argument("--warc", action="store_true", help="--input is a dir of WARC archives")
    ap.add_argument("--publish-dir", help="also commit the graph as an atomic snapshot here")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=graph._N_BUCKETS)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--run-seq", type=int, default=0)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    if not args.input and not args.synthesize:
        ap.error("one of --input / --synthesize is required")

    from kgspark import fixtures, pipeline, schemas
    from kgspark.session import get_spark

    spark = get_spark("kgspark-pipeline", cpus=args.cpus)
    if args.synthesize:
        pages = fixtures.web_pages_df(spark, args.synthesize)
    elif args.warc:
        from kgspark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = spark.read.schema(schemas.WEB_PAGES).parquet(args.input)

    res = pipeline.run_pipeline(
        spark,
        pages,
        args.out,
        n_buckets=args.buckets,
        run_id=args.run_id,
        run_seq=args.run_seq,
        resume=not args.no_resume,
        canonicalize=not args.no_canonicalize,
    )
    nodes_df, edges_df = graph.read_graph(spark, args.out)
    nodes = nodes_df.count()
    edges = edges_df.count()
    version = None
    if args.publish_dir:
        version = graph.publish_graph(
            nodes_df.drop("bucket"), edges_df.drop("bucket"),
            args.publish_dir, n_buckets=args.buckets,
        )
    print(
        json.dumps(
            {
                "n_docs": res.n_docs,
                "n_triples": res.n_triples,
                "buckets_processed": res.n_buckets_processed,
                "buckets_skipped": res.n_buckets_skipped,
                "nodes": nodes,
                "edges": edges,
                "out": args.out, "published_version": version,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
