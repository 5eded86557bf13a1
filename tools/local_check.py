#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the Verify output dir (parquet per query + oracle_sql.json), runs each
oracle SQL in DuckDB over the same sf tables, and compares strictly:
column names (sorted), row counts, and cell values (exact; floats compared
bitwise first, with max-abs-diff reported on mismatch).

Usage: python3 tools/local_check.py /root/testdata/sf0.01 /tmp/v01
"""
import json
import math
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(sf_dir: str, out_dir: str) -> int:
    import os
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; a scaled-up copy (SCALE.md)
        # is a directory of part files under the same <table>.parquet name
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    # rows-only check for queries without an oracle (mirrors the driver's
    # weaker gate): output parquet must exist and be non-empty
    import os
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or name in oracle:
            continue
        try:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
            if n > 0:
                print(f"  OK  {name:32s} rows={n} (rows-only)")
            else:
                failures.append((name, "rows-only check: empty output"))
        except Exception as e:
            failures.append((name, f"rows-only check failed: {e}"))
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetchdf()
        except Exception as e:
            failures.append((name, f"spark output missing: {e}"))
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append((name, f"oracle sql failed: {e}"))
            continue
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            failures.append((name, f"columns differ: spark={gcols} duck={wcols}"))
            continue
        got, want = got[gcols], want[wcols]
        if len(got) != len(want):
            failures.append((name, f"rowcount differs: spark={len(got)} duck={len(want)}"))
            continue
        # row order should already match (queries end in ORDER BY); compare in place
        bad = None
        for c in gcols:
            gv, wv = got[c].tolist(), want[c].tolist()
            for i, (a, b) in enumerate(zip(gv, wv)):
                if a is None and b is None:
                    continue
                if isinstance(a, float) and isinstance(b, float):
                    if math.isnan(a) and math.isnan(b):
                        continue
                    if a != b:
                        bad = f"col {c} row {i}: {a!r} != {b!r} (diff {abs(a - b):.3e})"
                        break
                elif str(a) != str(b):
                    bad = f"col {c} row {i}: {a!r} != {b!r}"
                    break
            if bad:
                break
        if bad:
            failures.append((name, bad))
        else:
            print(f"  OK  {name:32s} rows={len(got)}")
    print()
    nq = len(oracle)
    if failures:
        for name, why in failures:
            print(f"FAIL  {name}: {why}")
        print(f"\n{nq - len(failures)}/{nq} oracle queries match")
        return 1
    print(f"all {nq} oracle queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
