#!/usr/bin/env python3
"""Records the expected result digests of the sketch_queries workload.

    python3 perfbench/record_expected.py     # from the repository root

Steps:
  1. builds the program (build.py) and writes the sketch_queries tables
     (graftbench.QueryTables, fixed seed) to a scratch directory;
  2. runs graft.Verify over them, which writes every query's Spark result
     plus oracle_sql.json (SparkEntry.oracleSql with its side tables);
  3. replays each headline leaf's oracle SQL in DuckDB and digests the
     rows with the rules of graftbench.Digest;
  4. compares that digest with the digest of Verify's Spark result and
     writes the DuckDB digests to expected_digests.txt.

It stops without writing if any leaf has no oracle or disagrees with its
oracle. Run it again only when the generated tables or a query's defined
answer change; the benchmark itself never runs DuckDB.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

TABLES = ("lineitem", "events", "documents", "embeddings")
CTX = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)


def num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 1e15:
        return str(int(d))
    return format(CTX.plus(decimal.Decimal(d)).normalize(), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return num(float(v))
    if isinstance(v, datetime.datetime):
        us = v.microsecond
        frac = "" if us == 0 else f".{us // 1000:03d}" if us % 1000 == 0 else f".{us:06d}"
        return v.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def digest(rows):
    h = hashlib.sha256()
    for s in sorted("\x01".join(value(x) for x in r) for r in rows):
        h.update(s.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def headline():
    """graft.Bench.headline, read from the source it is defined in."""
    src = open(os.path.join(build.ROOT, "src", "main", "scala", "graft", "Bench.scala")).read()
    body = src[src.index("val headline: Seq[String] = Seq("):]
    body = body[:body.index(")")]
    return [t.strip().strip('"') for t in body.split("(", 1)[1].split(",") if t.strip()]


def main():
    classpath, _ = build.build()
    scratch = os.path.join(build.ROOT, ".bench_scratch", "record")
    shutil.rmtree(scratch, ignore_errors=True)
    tables, verify_out, tmp = (os.path.join(scratch, d) for d in ("tables", "verify", "tmp"))
    os.makedirs(tmp)
    mem = run.driver_mem()
    cpus = str(len(os.sched_getaffinity(0)))
    try:
        subprocess.run(run.jvm_cmd(classpath, mem, tmp, ["--mode", "query-tables", "--scratch", scratch,
                                                         "--cpus", cpus, "--out", tables]), check=True)
        cmd = run.jvm_cmd(classpath, mem, tmp, [])
        cmd[cmd.index("graftbench.Main")] = "graft.Verify"
        subprocess.run(cmd + [tables, verify_out], check=True, env=dict(os.environ, SPARK_GRAFT_CPUS=cpus))
        oracle = json.load(open(os.path.join(verify_out, "oracle_sql.json")))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
        lines, bad = [], []
        for q in headline():
            spark_rows = con.sql(f"SELECT * FROM read_parquet('{verify_out}/{q}/*.parquet')").fetchall()
            if q not in oracle:
                bad.append(f"{q}: no oracle SQL")
                continue
            oracle_rows = con.sql(oracle[q]).fetchall()
            d_oracle, d_spark = digest(oracle_rows), digest(spark_rows)
            status = "ok" if d_oracle == d_spark else "MISMATCH"
            print(f"{q:32s} rows={len(oracle_rows):6d} spark_rows={len(spark_rows):6d} {status}")
            if d_oracle != d_spark:
                bad.append(f"{q}: DuckDB and Spark digests differ")
            lines.append(f"{q} {d_oracle}")
        if bad:
            sys.exit("not recorded:\n  " + "\n  ".join(bad))
        with open(os.path.join(HERE, "expected_digests.txt"), "w") as fh:
            fh.write("# sketch_queries: DuckDB replay digests of SparkEntry.oracleSql over the\n"
                     "# graftbench.QueryTables tables; written by record_expected.py\n")
            fh.write("\n".join(lines) + "\n")
        print(f"recorded {len(lines)} digests")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
