"""Self-check harness emulating the driver's DuckDB oracle comparison.

Runs every registered query on Spark and its oracle SQL on DuckDB at a
given sf dir, and compares row count, column names, and values
(order-insensitive: rows sorted by all columns, columns sorted by
name). Floats are compared exactly first; if not exactly equal we
report the max abs diff so decimal-discipline regressions are visible.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes a machine-readable artifact (one record
per query: status/rows/seconds/problems) — the per-round full-registry
sweep commits this as ORACLE_FULL_r{N}.json so every query carries a
fresh signed verdict even when outside the driver's 50-query window.
"""

from __future__ import annotations

import math
import os
import sys
import time

# PySpark's non-Arrow collect() renders timestamps via the OS local
# timezone (not spark.sql.session.timeZone); pin the process to UTC so
# comparisons against DuckDB's naive-UTC values are host-independent.
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from etl_inreach_spark.catalog import TABLES, table_path  # noqa: E402
from etl_inreach_spark.queries import all_oracles, all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def pandas_rows(pdf):
    """Convert a pandas DataFrame to (cols, python-scalar rows).

    BOTH engines go through pandas here, mimicking the driver's
    canonicalizer — this is what surfaces DuckDB HUGEINT -> float64
    coercion (CORRECTNESS_r03 seq_pack_chunks) that a raw fetchall()
    hides, and NULL-int -> NaN widening symmetrically on both sides.
    """
    import datetime as _dt

    import numpy as np

    def to_py(v):
        if v is None:
            return None
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, np.ndarray):
            return tuple(to_py(x) for x in v.tolist())
        try:
            import pandas as pd

            if v is pd.NaT:
                return None
        except Exception:  # noqa: BLE001
            pass
        # pandas-land erases the NULL/NaN distinction (NULL ints and
        # strings surface as NaN) — the driver sees the same, so a NaN
        # IS a NULL on this path (r3-green eav_pivot pins this).
        if isinstance(v, float) and math.isnan(v):
            return None
        # DATE columns: Spark/Arrow yields datetime.date objects, the
        # DuckDB .df() path datetime64 at midnight. The driver passed
        # pure-DATE outputs in r3 (date_dim_generate), so canonicalize
        # both to the midnight datetime.
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return _dt.datetime(v.year, v.month, v.day)
        return v

    cols = list(pdf.columns)
    rows = [
        tuple(to_py(v) for v in tup)
        for tup in pdf.itertuples(index=False, name=None)
    ]
    return cols, rows


def find_binary_cell(rows):
    """The driver canonicalizer CRASHES sorting bytearray cells
    (CORRECTNESS_r03 multimodal_resize err). No oracle-gated query may
    emit a binary column; report the first offending cell."""
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (bytes, bytearray)):
                return i
    return None


def _sort_cell_key(x):
    """Row-alignment sort key. Floats collapse to 9 significant digits
    so cross-engine ULP differences sort IDENTICALLY on both sides —
    otherwise ULP-different values could interleave differently and the
    positional zip would compare unrelated rows. Comparison itself
    stays exact (see compare())."""
    if isinstance(x, float):
        return (False, "float", f"{x:.9e}")
    return (x is None, str(type(x)), str(x))


def sorted_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda r: tuple(_sort_cell_key(x) for x in r))
    return [cols[i] for i in idx], out


def compare(name, spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    problems = []
    for side, rows, cols in (("spark", spark_rows, spark_cols), ("duck", duck_rows, duck_cols)):
        bi = find_binary_cell(rows)
        if bi is not None:
            problems.append(
                f"BINARY cell in {side} column '{cols[bi]}' — the driver "
                "canonicalizer crashes on bytearray; emit hex(...) instead"
            )
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    sc = sorted(c.lower() for c in spark_cols)
    dc = sorted(c.lower() for c in duck_cols)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
    if problems:
        return problems
    _, srows = sorted_rows([c.lower() for c in spark_cols], spark_rows)
    _, drows = sorted_rows([c.lower() for c in duck_cols], duck_rows)
    max_float_diff = 0.0
    n_exact_mismatch = 0
    example = None
    type_skew = None
    for sr, dr in zip(srows, drows):
        for a, b in zip(sr, dr):
            # numerically-equal but differently-TYPED cells (Decimal vs
            # float vs int — e.g. DuckDB HUGEINT from SUM(int), or a
            # decimal-typed Spark column) stringify differently and break
            # the driver's value hash even though == passes here
            if (
                type_skew is None
                and a is not None
                and b is not None
                and type(a) is not type(b)
                and not isinstance(a, str)
                and not isinstance(b, str)
            ):
                type_skew = (type(a).__name__, type(b).__name__, a, b)
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                d = abs(a - b)
                rel = d / max(abs(a), abs(b), 1e-300)
                if rel > 1e-9:
                    n_exact_mismatch += 1
                    example = example or (a, b)
                max_float_diff = max(max_float_diff, d)
            else:
                n_exact_mismatch += 1
                example = example or (a, b)
    if n_exact_mismatch:
        problems.append(f"{n_exact_mismatch} value mismatches, e.g. {example}")
    elif max_float_diff > 0:
        problems.append(f"FLOAT-ULP-ONLY diffs (max abs {max_float_diff:.3e}) — hash would FAIL")
    if type_skew and not problems:
        problems.append(
            f"TYPE-SKEW spark={type_skew[0]} duck={type_skew[1]} "
            f"(e.g. {type_skew[2]!r} vs {type_skew[3]!r}) — equal values but "
            "the driver hash stringifies them differently"
        )
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    qs, oracles = all_queries(), all_oracles()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # emulate the DRIVER's session: bare builder, no engine confs —
        # the registry's query wrapper applies session.tune(spark)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duck_con(sf_dir)
    failed = []
    records: dict[str, dict] = {}

    def record(name, status, rows, t0, problems=None):
        records[name] = {
            "status": status,
            "rows": rows,
            "seconds": round(time.time() - t0, 2),
            **({"problems": problems} if problems else {}),
        }

    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols, spark_rows = pandas_rows(df.toPandas())
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            record(name, "SPARK-ERROR", None, t0, [f"{type(e).__name__}: {e}"])
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(spark_rows)} (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            if len(spark_rows) == 0:
                failed.append(name)
                print(f"FAIL {name}: 0 rows on rows-only query")
                record(name, "ROWS-ONLY-EMPTY", 0, t0, ["0 rows"])
            else:
                record(name, "ROWS-ONLY", len(spark_rows), t0)
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols, duck_rows = pandas_rows(res.df())
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            record(name, "DUCK-ERROR", len(spark_rows), t0, [f"{type(e).__name__}: {e}"])
            continue
        problems = compare(name, spark_cols, spark_rows, duck_cols, duck_rows)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
            record(name, "FAIL", len(spark_rows), t0, problems)
        else:
            print(f"PASS {name}: rows={len(spark_rows)} [{time.time()-t0:.1f}s]")
            record(name, "PASS", len(spark_rows), t0)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if json_out:
        import datetime as _dt
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "generated_utc": _dt.datetime.now(_dt.timezone.utc).isoformat(
                        timespec="seconds"
                    ),
                    "n_queries": len(records),
                    "n_failures": len(failed),
                    "failed": sorted(failed),
                    "queries": records,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
