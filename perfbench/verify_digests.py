#!/usr/bin/env python3
"""Tie digests.tsv to results the DuckDB oracle has passed.

Usage: python3 perfbench/verify_digests.py <verify_out_dir> [--write]

<verify_out_dir> is the output of `graft.Verify` on the headline tables
(`python3 perfbench/datagen.py <dir>` writes them), after
`tools/check_oracle.py` passed every headline query on it. For each query
in digests.tsv this computes the digest the benchmark observes (row count,
and the sums of the high and low 32-bit halves of each row's xxhash64, with
map columns hashed through their JSON form; see Headline.observeDigest) over
the Verify output, and prints SAME or DIFF. It exits with 1 on any DIFF.
With --write it rewrites digests.tsv from those digests instead.

Needs pyspark.
"""
import os
import sys

from pyspark.sql import SparkSession, functions as F, types as T

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.tsv")


def has_map(t):
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return has_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(has_map(f.dataType) for f in t.fields)
    return False


def digest(df):
    cols = [F.to_json(F.col(f"`{f.name}`")) if has_map(f.dataType) else F.col(f"`{f.name}`")
            for f in df.schema.fields]
    h = F.xxhash64(*cols)
    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.coalesce(F.sum(F.shiftright(h, 32)), F.lit(0)).alias("hi"),
               F.coalesce(F.sum(h.bitwiseAND(0xffffffff)), F.lit(0)).alias("lo")).head()
    return f"{r['rows']}\t{r['hi']}:{r['lo']}"


def main():
    out, write = sys.argv[1], "--write" in sys.argv[2:]
    with open(DIGESTS) as f:
        want = dict(line.rstrip("\n").split("\t", 1) for line in f if line.strip())
    spark = (SparkSession.builder.master("local[2]").appName("verify-digests")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        got = {name: digest(spark.read.parquet(os.path.join(out, name))) for name in sorted(want)}
    finally:
        spark.stop()
    if write:
        with open(DIGESTS, "w") as f:
            f.writelines(f"{n}\t{d}\n" for n, d in got.items())
        print(f"wrote {len(got)} digests to {DIGESTS}")
        return 0
    diff = [n for n in got if got[n] != want[n]]
    for n in got:
        print(("DIFF " if n in diff else "SAME ") + n
              + (f"  verify output {got[n]}, digests.tsv {want[n]}" if n in diff else ""))
    print(f"{len(got) - len(diff)}/{len(got)} digests equal")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
