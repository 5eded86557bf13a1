#!/usr/bin/env python3
"""Produces and cross-checks the expected digests in perfbench/expected/curation.tsv.

Runs the curation warm-up pass with --emit under two seeds (two physical
row orders of one corpus), keeping the generated inputs of the first. The
two pass digests must agree, and the digest of the registry row the text
stage runs (x55_chunk_overlap) must equal the digest of that row's DuckDB
oracle (SparkEntry.oracleSql) run over the same parquet files, computed the
way Digest.scala does. Only then is expected/curation.tsv written.

Usage: python3 perfbench/oracle_check.py [--write]
Without --write it only reports. Needs the duckdb Python module.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected")


def num(x: float) -> str:
    """Mirror of Digest.num: Java's %.6e rounds the shortest decimal
    representation half-up, so do the same on repr(x)."""
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    if x == 0:
        return "0"
    d = decimal.Decimal(repr(float(x)))
    exp = d.adjusted()
    m = (d.scaleb(-exp)).quantize(decimal.Decimal("1.000000"), rounding=decimal.ROUND_HALF_UP)
    if abs(m) >= 10:
        exp += 1
        m = (d.scaleb(-exp)).quantize(decimal.Decimal("1.000000"), rounding=decimal.ROUND_HALF_UP)
    return f"{m}e{exp:+03d}"


def render(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(render(x) for x in v.values()) + ")"
    raise TypeError(f"no digest rendering for {type(v).__name__}")


def digest(columns: list, rows: list) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\u0001".join(render(r[i]) for i in order)
        total += struct.unpack(">q", hashlib.md5(line.encode()).digest()[:8])[0]
    return f"{len(rows)}:{total % (1 << 64):016x}"


def read_tsv(path: str) -> dict:
    with open(path) as fh:
        return dict(l.rstrip("\n").split("\t", 1) for l in fh if "\t" in l)


def run(workload: str, seed: int, emit: str, keep: str = None) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", "0", "--emit", emit]
    if keep:
        cmd += ["--keep", keep]
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: run.py exited {r.returncode}")


def check(tmp: str) -> tuple:
    import duckdb
    a, b, data = (os.path.join(tmp, n) for n in ("c1.tsv", "c2.tsv", "data"))
    run("curation", 1, a, keep=data)
    run("curation", 2, b)
    da, db = read_tsv(a), read_tsv(b)
    bad = 0
    same = da == db
    bad += not same
    print(f"  {'OK' if same else 'FAIL'}  digests under seeds 1 and 2"
          + ("" if same else f"\n    {da}\n    {db}"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data}/documents.parquet/*.parquet')")
    for name, sql in json.load(open(a + ".oracle.json")).items():
        cur = con.execute(sql)
        got = digest([d[0] for d in cur.description], cur.fetchall())
        ok = got == da.get(name)
        bad += not ok
        print(f"  {'OK' if ok else 'FAIL'}  {name}: spark={da.get(name)} duckdb={got}")
    return da, bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--write", action="store_true", help="write expected/*.tsv when all match")
    a = ap.parse_args()
    tmp = tempfile.mkdtemp(dir=os.path.dirname(HERE), prefix=".perfbench_oracle_")
    try:
        rows, bad = check(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print(f"{bad} checks disagree; expected/ unchanged")
        return 1
    if a.write:
        os.makedirs(EXPECTED, exist_ok=True)
        with open(os.path.join(EXPECTED, "curation.tsv"), "w") as fh:
            for k in sorted(rows):
                fh.write(f"{k}\t{rows[k]}\n")
        print(f"wrote {EXPECTED}/curation.tsv")
    return 0


if __name__ == "__main__":
    sys.exit(main())
