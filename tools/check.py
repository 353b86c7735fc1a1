"""Local correctness harness mirroring the driver's DuckDB-oracle gate.

Runs every ``queries()`` entry at a given sf dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet files, and compares
row count, column-name set, and an order-insensitive value hash
(columns sorted by name, rows canonicalized and sorted). Exact value
equality is required — the engine's numeric conventions (decimal sums,
fixed-scale rounding) are designed to make that hold bit-for-bit.

Usage: python tools/check.py [sf_dir] [query_name ...]
       python tools/check.py [sf_dir] --window N   # first N entries in
       certification order — exactly the slice the driver will certify
       next round, for a round-close dry run of that gate
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v)) + ".0"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def main() -> int:
    import duckdb

    from etl_staging_spark.session import get_spark
    import __spark_entry__ as entrymod

    args = sys.argv[1:]
    window = None
    if "--window" in args:
        i = args.index("--window")
        if i + 1 >= len(args) or not args[i + 1].isdigit():
            print(
                "usage: check.py [sf_dir] [--window N] [query ...]",
                file=sys.stderr,
            )
            return 2
        window = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    # sf_dir is the first positional (never an option value — the
    # guard above already consumed --window's N)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # an unregistered name would silently no-op ("pass 0" looks green)
        print(f"error: unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2
    if window is not None:
        # queries() is already in certification order — the first N are
        # exactly the driver's next certification slice
        queries = dict(list(queries.items())[:window])
        missing = only - set(queries)
        if missing:
            # a named query outside the window would be silently skipped,
            # making a dry run look green for something never executed
            print(
                f"error: named queries outside the --window {window} slice: "
                f"{sorted(missing)}",
                file=sys.stderr,
            )
            return 2
    n_pass = n_fail = n_weak = 0
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # drop the previous entry's caches (incl. pin-contract frames —
        # tables.py documents that one-shot harnesses clearCache between
        # queries): a full-catalog run must not accumulate every
        # pin-carrying entry's persisted frames
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle; rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            n_fail += 1
            continue
        sh, sn = table_hash(scols, srows)
        oh, on = table_hash(ocols, orows)
        ok = sh == oh and sorted(scols) == sorted(ocols) and sn == on
        if ok and sn == 0:
            # 0 rows == 0 rows proves nothing about the operator under test
            # (the f5 'green' lesson): flag it so vacuous passes can't hide.
            print(f"weak  {name}: rows=0 (vacuous hash match) [{time.time()-t0:.1f}s]")
            n_weak += 1
        elif ok:
            print(f"pass  {name}: rows={sn} [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark rows={sn} cols={sorted(scols)} hash={sh[:10]} | "
                  f"oracle rows={on} cols={sorted(ocols)} hash={oh[:10]}")
            # show a few differing rows to debug
            sset = {"|".join(canon_cell(c) for c in r) for r in srows}
            oset = {"|".join(canon_cell(c) for c in r) for r in orows}
            for label, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                for row in sorted(diff)[:3]:
                    print(f"        {label}: {row[:200]}")
    print(json.dumps({"pass": n_pass, "fail": n_fail, "weak": n_weak, "failures": failures}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
