"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from __spark_entry__.py against its
``oracle_sql()`` DuckDB twin at sf0.01 and reports row-count, schema
(sorted column names), and order-insensitive value-hash matches.

The canonicalization deliberately mirrors the DRIVER's (round-1 verdict):
both sides land in pandas (Spark ``toPandas()``, DuckDB ``.df()`` — so
dtype coercions like HUGEINT->float64 surface locally), columns sorted by
name, rows via ``DataFrame.sort_values`` over all columns (list-typed
cells raise ``unhashable type: 'list'`` exactly like the driver), cells
stringified with plain ``str()`` — NO float smoothing, so int64 ``1`` vs
float64 ``1.0`` is a mismatch here too.

Usage: python tools/oracle_check.py [query_name ...]
       python tools/oracle_check.py --window   # first-50 driver window only
(--window is exclusive — combining it with query names is an error)
It checks the checkout it sits in: the entry, the query families and the
engine. To check a copy of the repo, run the copy's own oracle_check.py.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys

# the checkout this script sits in, so a copy checks its own engine
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

import duckdb

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_entry():
    path = os.path.join(ROOT, "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def canon(pdf):
    """Driver-style canon: sort columns by name, sort rows by all columns,
    stringify every cell with str(). Raises on unhashable (list) cells,
    just like the driver's pandas sort_values did in round 1."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf


def table_hash(pdf) -> str:
    pdf = canon(pdf)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("\x01".join(str(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str]):
    # --window pre-flights exactly what the driver will check: the
    # first 50 registry entries, least recently oracle-checked first
    # (see queries() in __spark_entry__.py). It is a mode, not
    # a query name — combining it with explicit names is ambiguous
    # (round-9 advice: `--window name` used to silently treat
    # --window as a query and skip it), so that is a hard error.
    window_only = "--window" in only
    if window_only:
        only = [a for a in only if a != "--window"]
        if only:
            print(
                "oracle_check: --window cannot be combined with "
                f"explicit query names (got {only})"
            )
            return 2
        only = None  # resolved after the module loads
    unknown = [a for a in (only or []) if a.startswith("--")]
    if unknown:
        print(f"oracle_check: unknown flag(s) {unknown}")
        return 2
    from vanus_spark.session import get_spark

    m = load_entry()
    spark = get_spark("oracle_check", 16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = m.queries()
    oracles = m.oracle_sql()
    names = only or (list(qs)[:50] if window_only else list(qs))
    passed = failed = rows_only = 0
    for name in names:
        if name not in qs:
            print(f"{name}: NOT FOUND")
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {str(e)[:200]}")
            failed += 1
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(spdf)} rows) [no oracle]")
            rows_only += 1
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCKDB ERROR {str(e)[:200]}")
            failed += 1
            continue
        ok_count = len(spdf) == len(dpdf)
        ok_schema = sorted(spdf.columns) == sorted(dpdf.columns)
        try:
            sh = table_hash(spdf)
            dh = table_hash(dpdf)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: CANON ERROR {type(e).__name__}: {str(e)[:160]}")
            failed += 1
            continue
        ok_hash = sh == dh
        status = "OK" if (ok_count and ok_schema and ok_hash) else "MISMATCH"
        if status == "OK":
            passed += 1
        else:
            failed += 1
        print(
            f"{name}: {status} rows={len(spdf)}/{len(dpdf)} "
            f"schema={'ok' if ok_schema else f'{sorted(spdf.columns)} vs {sorted(dpdf.columns)}'} "
            f"hash={'ok' if ok_hash else f'{sh} vs {dh}'}"
        )
        if status == "MISMATCH":
            scan = canon(spdf)
            dcan = canon(dpdf)
            print("  spark dtypes :", dict(spdf.dtypes.astype(str)))
            print("  duckdb dtypes:", dict(dpdf.dtypes.astype(str)))
            print("  spark :", scan.head(3).to_dict("records"))
            print("  duckdb:", dcan.head(3).to_dict("records"))
    print(f"\n{passed} ok, {failed} failed, {rows_only} rows-only of {len(names)}")
    if not only and not window_only:
        _refresh_coverage_header(passed, failed, rows_only, len(names))
    return 1 if failed else 0


def _refresh_coverage_header(passed, failed, rows_only, total):
    """Regenerate the live-status sentence in COVERAGE.md from THIS
    run's numbers (round-8 verdict #4: the count must be generated,
    never hand-typed — it went stale at 296/297 while the registry
    grew to 373). Only a FULL run (no name filter) rewrites it."""
    import re

    path = os.path.join(ROOT, "COVERAGE.md")
    try:
        text = open(path).read()
    except OSError:
        return
    status = (
        f"{passed}/{passed + failed + rows_only} hash-matched at sf0.01, "
        f"{rows_only} rows-only by design"
    )
    new = re.sub(
        r"\d+/\d+ hash-matched at sf0\.01, \d+ rows-only by design",
        status,
        text,
        count=1,
    )
    if new != text:
        open(path, "w").write(new)
        print(f"COVERAGE.md status line regenerated: {status}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
