"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB, compare row count, column
names, and order-insensitive values.

Usage: PYTHONPATH=/root/repo python tools/check_contract.py [sf_dir] [only...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# import __spark_entry__ and the package from the checkout this file is in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row))
        vals = []
        for c in sorted(cols):
            v = d[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            vals.append((c, v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


GOLDEN_PATH = __file__.rsplit("/", 1)[0] + "/golden_hashes.json"


def _rows_hash(rows, cols) -> str:
    import hashlib

    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()


def main():
    import json

    args = [a for a in sys.argv[1:] if a != "--write-golden"]
    write_golden = "--write-golden" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    try:
        with open(GOLDEN_PATH) as fh:
            golden = json.load(fh)
    except (OSError, ValueError):
        golden = {}

    import __spark_entry__ as entrymod
    from smatchpp_spark import get_spark

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        spark_s = time.monotonic() - t0
        if name not in oracles:
            # the two Python-parser full-pipeline queries cannot be
            # SQL-oracled, but their outputs are deterministic: compare
            # against the archived golden hash so drift is caught
            # mechanically instead of "rows-only" (regenerate with
            # --write-golden after an INTENDED semantic change)
            h = _rows_hash(srows, scols)
            sf_key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            gold = golden.get(name, {}).get(sf_key)
            if write_golden:
                golden.setdefault(name, {})[sf_key] = h
                print(f"GOLD {name}: wrote {sf_key} hash {h[:16]}…")
                n_pass += 1
            elif gold is None:
                print(f"ok   {name}: rows-only ({len(srows)} rows, {spark_s:.1f}s)")
                n_pass += 1
            elif gold == h:
                print(f"PASS {name} (golden hash, {len(srows)} rows, {spark_s:.1f}s)")
                n_pass += 1
            else:
                print(f"FAIL {name}: golden hash mismatch ({h[:16]}… != {gold[:16]}…)")
                n_fail += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [c[0] for c in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns differ spark={sorted(scols)} duck={sorted(dcols)}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            continue
        a = normalize(srows, scols)
        b = normalize(drows, dcols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(a)}; first: ")
            print("  spark:", diffs[0][0])
            print("  duck :", diffs[0][1])
            n_fail += 1
            continue
        print(f"PASS {name} ({len(srows)} rows, {spark_s:.1f}s)")
        n_pass += 1

    if write_golden:
        import json

        with open(GOLDEN_PATH, "w") as fh:
            json.dump(golden, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {GOLDEN_PATH}")

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
