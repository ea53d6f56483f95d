"""Local replica of the driver's correctness harness: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys

print = functools.partial(print, flush=True)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return repr(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import duckdb

    from pdf_extract_spark.plans.session import get_spark
    from pdf_extract_spark.queries import ORACLES, QUERIES, TABLES

    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    only: set[str] = set()
    if "--only" in args:
        i = args.index("--only")
        only.update(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only.update(args[1:])
    # an unknown name would silently select NOTHING and print a vacuous
    # ALL OK (this bug shipped: '--only a,b' once landed in the name set
    # verbatim, matched zero queries, and masked a real oracle mismatch)
    unknown = only - set(QUERIES)
    if unknown:
        sys.exit(f"unknown query names: {sorted(unknown)}")
    if only:
        print(f"checking {len(only)} of {len(QUERIES)} queries")
    results: list[dict] = []

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        # Fetch via pandas (.df()) exactly like the driver's canonicalizer:
        # fetchall() returns Python ints even for HUGEINT, which hid a
        # sum(BIGINT)->HUGEINT->float64 hash mismatch in round 4.  Going
        # through pandas makes local OK imply driver OK for that class.
        import numpy as np

        ddf = con.execute(ORACLES[name]).df()
        dcols = list(ddf.columns)
        drows = [
            tuple(v.item() if isinstance(v, np.generic) else v for v in row)
            for row in ddf.itertuples(index=False, name=None)
        ]
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs, hd = frame_hash(scols, srows), frame_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in drows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
                    print(f"    spark: {a[:160]}")
                    print(f"    duck : {b[:160]}")
        if problems:
            failures += 1
            print(f"{name:28s} FAIL  {'; '.join(problems)}")
        else:
            print(f"{name:28s} OK    {len(srows)} rows")
        results.append({"name": name, "rows": len(srows),
                        "ok": not problems, "mode": "exact",
                        **({"problems": problems} if problems else {})})
    spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_ok": sum(1 for r in results if r["ok"]),
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
