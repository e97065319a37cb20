"""CLI entry point — the json2hbase utility surface, Spark-native.

Mirrors the reference's one-pass ETL (SURVEY.md §3.1: JSON parse →
recursive flatten → rowkey → HBase Put batch) as a short chain of Spark
jobs: one infers the JSON schema, one parses, flattens and keys the
documents into the region shuffle, and one writes the sorted regions.
An unsalted rowkey (``--salt 0``, the default) adds a job before the
shuffle that samples the region bounds; a salted one is pre-split on
the salt's hex key space:

    python -m json2hbase_spark \
        --input docs.jsonl --rowkey id --cf d \
        --output /tmp/out --regions 16 [--salt 2] [--multiline]

The sink is the emulated HBase bulk-load layout (region-partitioned,
sorted parquet — operators/hbase.py explains the swap-in for a real
cluster). Prints one JSON status line to stdout; its cell count reads
the written table back, in jobs of its own.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m json2hbase_spark",
        description="Flatten JSON documents into HBase-cell long format.",
    )
    p.add_argument("--input", required=True, help="JSON/JSONL file or directory")
    p.add_argument("--rowkey", required=True, help="document field(s) for the rowkey, comma-separated")
    p.add_argument("--cf", default="d", help="column family (default: d)")
    p.add_argument("--output", required=True, help="output directory (emulated HBase table)")
    p.add_argument("--regions", type=int, default=16, help="region count (default: 16)")
    p.add_argument("--salt", type=int, default=0, help="rowkey salt prefix hex chars (default: 0)")
    p.add_argument("--multiline", action="store_true", help="multi-line (pretty) JSON input")
    p.add_argument("--master", default="local[*]", help="Spark master (default: local[*])")
    return p


def run(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)

    from json2hbase_spark.operators.flatten import kv_flatten
    from json2hbase_spark.operators.hbase import derive_rowkey, write_hbase_emulated
    from json2hbase_spark.session import get_spark

    spark = get_spark("json2hbase-cli", master=args.master)
    reader = spark.read
    if args.multiline:
        reader = reader.option("multiLine", True)
    docs = reader.json(args.input)

    key_fields = [f.strip() for f in args.rowkey.split(",")]
    keyed = docs.withColumn("__rowkey", derive_rowkey(*key_fields, salt_len=args.salt))
    kv = kv_flatten(keyed, "__rowkey", cf=args.cf, exclude=tuple())
    write_hbase_emulated(kv, args.output, n_regions=args.regions)

    n_cells = spark.read.parquet(args.output).count()
    status = {
        "input": args.input,
        "output": args.output,
        "cells": n_cells,
        "regions": args.regions,
        "cf": args.cf,
    }
    return status


if __name__ == "__main__":
    print(json.dumps(run(sys.argv[1:])))
