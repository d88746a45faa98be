"""Full-registry correctness self-check.

The driver's per-round CORRECTNESS_r{N}.json samples ~50 of the
registered contract queries; this tool runs ALL of them — every
``queries()`` entry in ``__spark_entry__`` against its ``oracle_sql()``
on DuckDB over the same parquet tables — and writes
``CORRECTNESS_SELF.json`` with per-query
``{rows_match, schema_match, value_match}`` so each round carries a
hard artifact covering the whole registry, not a sample (VERDICT r4
"Next round" item 1).

Comparison semantics mirror the driver: columns sorted by name, rows
sorted by all columns, dtypes widened (float64/int64/us-timestamps),
strict value equality.  Queries without an oracle entry are recorded
as ``value_match: null`` with ``mode: "rows_only"`` — the same weaker
check the driver applies.

Usage: ``python tools/self_check.py [--sf-dir /root/testdata/sf0.01]``
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_bool_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("bool")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _values_equal(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            g, e = got[c].to_numpy(), exp[c].to_numpy()
            if not (
                np.array_equal(g, e)
                or np.array_equal(np.isnan(g), np.isnan(e))
                and np.array_equal(g[~np.isnan(g)], e[~np.isnan(e)])
            ):
                return False
        elif not got[c].equals(exp[c]):
            return False
    return True


def run_self_check(
    sf_dir: str, out_path: str, only: list[str] | None = None
) -> dict:
    import __spark_entry__ as entrymod
    from peakmatch_xcorr_spark.metrics import codegen_compiles
    from peakmatch_xcorr_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = sorted(set(only) - set(queries))
        if unknown:
            raise SystemExit(f"--only: unknown queries {unknown}")
        queries = {n: queries[n] for n in only}
    results: dict[str, dict] = {}
    t_start = time.time()
    compiles0 = codegen_compiles(spark)
    for name in sorted(queries):
        row: dict = {
            "rows_match": None, "schema_match": None, "value_match": None,
            "spark_rows": None, "oracle_rows": None,
            "mode": "oracle" if name in oracles else "rows_only",
            "err": None,
        }
        try:
            got = _normalize(queries[name](spark, sf_dir).toPandas())
            row["spark_rows"] = int(len(got))
            if name in oracles:
                exp = _normalize(con.sql(oracles[name]).df())
                row["oracle_rows"] = int(len(exp))
                row["schema_match"] = list(got.columns) == list(exp.columns)
                row["rows_match"] = len(got) == len(exp)
                row["value_match"] = bool(
                    row["schema_match"] and row["rows_match"]
                    and _values_equal(got, exp)
                )
            else:
                # rows-only: result materialized + canonicalizable is
                # the whole (weaker) contract, same as the driver
                row["rows_match"] = True
                row["schema_match"] = len(got.columns) > 0
        except Exception:
            row["err"] = traceback.format_exc(limit=3)
        results[name] = row
        ok = (row["value_match"] if row["mode"] == "oracle"
              else row["schema_match"]) and not row["err"]
        print(f"{'PASS' if ok else 'FAIL'} {name}", file=sys.stderr)

    n_oracle = sum(1 for r in results.values() if r["mode"] == "oracle")
    n_green = sum(1 for r in results.values() if r["value_match"])
    n_rows_only = len(results) - n_oracle
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_oracle": n_oracle,
        "n_value_match": n_green,
        "n_rows_only": n_rows_only,
        "n_rows_only_ok": sum(
            1 for r in results.values()
            if r["mode"] == "rows_only" and r["schema_match"] and not r["err"]
        ),
        "n_errors": sum(1 for r in results.values() if r["err"]),
        # classes the code generator compiled over the sweep: with no
        # evictions this is the number of distinct generated classes the
        # whole registry needs, the engine-wide working set that
        # spark.sql.codegen.cache.maxEntries (session.get_spark) covers
        "codegen_compiles": codegen_compiles(spark) - compiles0,
        "elapsed_sec": round(time.time() - t_start, 1),
    }
    report = {"summary": summary, "queries": results}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(summary))
    return report


if __name__ == "__main__":
    sf = "/root/testdata/sf0.01"
    if "--sf-dir" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf-dir") + 1]
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    if only is None:
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_SELF.json",
        )
    else:
        # a filtered run must never overwrite the full-registry artifact
        out = "/tmp/self_check_only.json"
    rep = run_self_check(sf, out, only)
    bad = rep["summary"]["n_errors"] + (
        rep["summary"]["n_oracle"] - rep["summary"]["n_value_match"]
    )
    sys.exit(1 if bad else 0)
