"""Local replica of the driver's DuckDB cross-check.

Runs every ``queries()`` entry at the given sf against its ``oracle_sql()``
and compares row-count, column names, and an order-insensitive value hash
(rows sorted, columns sorted by name — mirroring the driver contract).

Usage: python tests/driver_check.py [sf_dir] [only_substr]
(``only_substr`` restricts to entries whose name contains it — for
iterating on one entry without replaying all of them)

Set ``DRIVER_CHECK_JSON=/path/out.json`` to also write the per-entry
results as a CORRECTNESS_r{N}-shaped artifact. The official driver
snapshot caps at 50 entries while the repo registers far more; the
committed ``CORRECTNESS_full_r{N}.json`` files are this script's full
replay, regenerated and committed each round so every gate has a
durable record (VERDICT r4 item 2). The artifact records a digest of
the code the gates run (``search_engine_spark/`` and
``__spark_entry__.py``); that digest, not a commit id, identifies what
was replayed, since a replay is usually taken before its commit.

``python tests/driver_check.py --stale PATH`` checks an artifact
against the working tree without starting Spark: it exits 1 when the
code digest differs from the recorded one, or the artifact has none.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def code_digest() -> str:
    """sha256 over the path and bytes of every file the gates run:
    ``search_engine_spark/`` (bytecode caches excluded) and
    ``__spark_entry__.py``."""
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, dirs, names in os.walk(os.path.join(ROOT, "search_engine_spark")):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        files += [os.path.join(d, n) for n in names
                  if not n.endswith((".pyc", ".pyo"))]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()


def stale(path: str) -> int:
    """1 when the artifact at ``path`` was not written from the current
    code (digest differs or is missing), else 0."""
    with open(path) as f:
        recorded = json.load(f).get("code_digest")
    if recorded is None:
        print(f"{path}: STALE (no code_digest recorded)")
        return 1
    if recorded != code_digest():
        print(f"{path}: STALE (code changed since it was written)")
        return 1
    print(f"{path}: current")
    return 0


def canon(rows, cols):
    cols_sorted = sorted(cols)
    idx = [cols.index(c) for c in cols_sorted]
    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        return v
    return sorted(tuple(norm(r[i]) for i in idx) for r in rows), cols_sorted


def main(sf_dir: str = "/root/testdata/sf0.01", only: str = "") -> int:
    import duckdb

    import __spark_entry__ as E
    from search_engine_spark.session import get_spark

    spark = get_spark("driver-check")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    report: dict[str, dict] = {}
    failures = 0
    for name, fn in qs.items():
        if only and only not in name:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name not in oracles:
                print(f"  {name}: rows={len(srows)} (no oracle — rows-only check)")
                report[name] = {
                    "rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": len(srows),
                    "oracle_rows": None, "err": None,
                    "note": "no oracle — rows-only check"}
                continue
            orel = con.sql(oracles[name])
            orows = [tuple(r) for r in orel.fetchall()]
            ocols = list(orel.columns)
            sc, scs = canon(srows, scols)
            oc, ocs = canon(orows, ocols)
        except Exception as e:  # keep replaying; record the failure
            failures += 1
            print(f"  {name}: ERROR {type(e).__name__}: {e}")
            traceback.print_exc(limit=3)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"{type(e).__name__}: {e}"}
            continue
        rows_match = len(sc) == len(oc)
        schema_match = scs == ocs
        hash_match = rows_match and schema_match and sc == oc
        ok = hash_match
        status = "OK " if ok else "FAIL"
        print(f"  {name}: {status} spark={len(sc)} duckdb={len(oc)} cols {scs} vs {ocs}")
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(sc),
            "oracle_rows": len(oc), "err": None}
        if not ok:
            failures += 1
            for i, (a, b) in enumerate(zip(sc, oc)):
                if a != b:
                    print(f"    first diff @{i}: spark={a} duckdb={b}")
                    break
            else:
                if len(sc) != len(oc):
                    only_s = set(sc) - set(oc)
                    only_o = set(oc) - set(sc)
                    print(f"    only-spark {list(only_s)[:3]} only-duck {list(only_o)[:3]}")
    # entry smoke
    edf = E.entry(spark)
    erows = edf.collect()
    print(f"  entry(): rows={len(erows)} schema={edf.schema.simpleString()}")
    print("FAILURES:", failures)
    out = os.environ.get("DRIVER_CHECK_JSON")
    if out and not only:
        with open(out, "w") as f:
            json.dump({
                "sf_dir": sf_dir,
                "code_digest": code_digest(),
                "n_entries": len(report),
                "n_failures": failures,
                "entry_rows": len(erows),
                "entry_schema": edf.schema.simpleString(),
                "results": report,
            }, f, indent=2)
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--stale"]:
        if len(sys.argv) != 3:
            raise SystemExit("usage: driver_check.py --stale PATH")
        raise SystemExit(stale(sys.argv[2]))
    raise SystemExit(main(*(sys.argv[1:] or [])))
