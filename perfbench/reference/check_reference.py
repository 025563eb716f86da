#!/usr/bin/env python3
"""Check or record reference/fingerprints.tsv from a graft.Verify dump.

Usage:
  python3 perfbench/reference/check_reference.py <verifyOutDir>
  python3 perfbench/reference/check_reference.py --record <verifyOutDir> <key>...

Fingerprints each key's parquet dump in <verifyOutDir> the way the
benchmark fingerprints a live result (row count plus the sum of xxhash64
over the name-sorted columns, maps as sorted entries). Without --record it
compares every recorded key with its dump and exits 1 on any mismatch or
missing dump. With --record it writes the named keys' fingerprints into
the file, keeping its comment header and every other key. Use only a dump
that tools/check.py passed.
"""
import os
import sys

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import MapType

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.tsv")


def read_reference():
    header, ref = [], {}
    with open(REFERENCE) as f:
        for line in f:
            if line.startswith("#"):
                header.append(line.rstrip("\n"))
            elif line.strip():
                k, v = line.rstrip("\n").split("\t", 1)
                ref[k] = v
    return header, ref


def fingerprint(spark, path):
    df = spark.read.parquet(path)
    cols = []
    for fld in sorted(df.schema.fields, key=lambda x: x.name):
        c = F.col("`" + fld.name.replace("`", "``") + "`")
        cols.append(F.array_sort(F.map_entries(c)) if isinstance(fld.dataType, MapType) else c)
    r = (df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
         .agg(F.count(F.lit(1)), F.sum("h")).head())
    return f"{r[0]}:{r[1] if r[1] is not None else 0}"


def main():
    args = sys.argv[1:]
    record = bool(args) and args[0] == "--record"
    if record:
        args = args[1:]
    if (record and len(args) < 2) or (not record and len(args) != 1):
        sys.exit(__doc__.split("\n\n")[1])
    dump, keys = args[0], args[1:]
    header, ref = read_reference()
    missing = [k for k in (keys if record else sorted(ref)) if not os.path.isdir(os.path.join(dump, k))]
    for k in missing:
        print(f"MISSING {k}: no dump at {os.path.join(dump, k)}")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    bad = len(missing)
    if record:
        if missing:
            spark.stop()
            sys.exit(1)
        for k in keys:
            ref[k] = fingerprint(spark, os.path.join(dump, k))
            print(f"recorded {k}\t{ref[k]}")
        with open(REFERENCE, "w") as f:
            f.write("\n".join(header + [f"{k}\t{v}" for k, v in sorted(ref.items())]) + "\n")
    else:
        for k, want in sorted(ref.items()):
            if k in missing:
                continue
            got = fingerprint(spark, os.path.join(dump, k))
            ok = got == want
            bad += not ok
            print(f"{'ok  ' if ok else 'DIFF'} {k}: dump {got}, reference {want}")
        print(f"{len(ref)} checked, {bad} failed")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
