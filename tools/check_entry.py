"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and compare against its oracle — the DuckDB oracle_sql() where one
exists, else the committed tests/golden/*.parquet fixture (q15-q20, q31, q33-q34),
so queries the driver reports as `no_oracle` get real pass/fail rows here.
Compares row count, column names, and order-insensitive values, and writes
the per-query records to CORRECTNESS_local.json at the repo root.

Usage:
    python tools/check_entry.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import importlib.util
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

GOLDEN_DIR = REPO / "tests" / "golden"


def norm(v):
    """Tighter than round-1 (%.9g): %.12g + Decimal→int/float folding, so a
    local pass predicts the driver's (full-precision) value hash. Every
    oracle query should CAST its integer aggregates (DuckDB sum() returns
    HUGEINT/DECIMAL) and round() float columns identically on both sides."""
    import decimal

    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if v is None:
        # SQL NULL: Spark collect() yields python None while a pandas
        # float column (golden parquet, DuckDB .df()) yields NaN for the
        # same NULL — normalize both to one token (q15's JPEG rows carry
        # a NULL mean_luma by contract)
        return "nan"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def _golden_normalizers():
    """The q18 tie-re-rank normalizer lives next to the golden pytest —
    load it from there so the two comparers cannot drift."""
    spec = importlib.util.spec_from_file_location(
        "tgq", REPO / "tests" / "test_golden_queries.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._NORMALIZERS


def compare(name, cols, rows, ocols, orows, normalizer=None):
    """(record_updates, fail_reason|None) for one query vs one oracle."""
    if sorted(cols) != sorted(ocols):
        return (
            {"schema_match": False, "rows_match": len(rows) == len(orows)},
            f"columns {sorted(cols)} vs {sorted(ocols)}",
        )
    if len(rows) != len(orows):
        return (
            {"schema_match": True, "rows_match": False},
            f"rowcount {len(rows)} vs {len(orows)}",
        )
    if normalizer is not None:
        import pandas as pd

        a_df = normalizer(pd.DataFrame(rows, columns=cols))
        b_df = normalizer(pd.DataFrame(orows, columns=ocols))
        rows = list(a_df.itertuples(index=False, name=None))
        orows = list(b_df.itertuples(index=False, name=None))
        cols, ocols = list(a_df.columns), list(b_df.columns)
    a = rowset(cols, rows)
    b = rowset(ocols, orows)
    if a != b:
        diff_a = {k: c for k, c in a.items() if b.get(k) != c}
        diff_b = {k: c for k, c in b.items() if a.get(k) != c}
        return (
            {"schema_match": True, "rows_match": True, "hash_match": False},
            f"value mismatch (spark-only={list(diff_a)[:3]}, "
            f"oracle-only={list(diff_b)[:3]})",
        )
    return (
        {"schema_match": True, "rows_match": True, "hash_match": True},
        None,
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    import __spark_entry__ as entry_mod
    from esgkg.session import get_spark

    spark = get_spark(cores=8, app="check_entry")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    normalizers = _golden_normalizers()
    results: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "oracle_kind": None,
            "err": None,
        }
        results[name] = rec
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            rec["err"] = f"spark: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        dt = time.time() - t0
        rec["spark_rows"] = len(rows)
        golden_path = GOLDEN_DIR / f"{name}.parquet"
        if name in osql:
            rec["oracle_kind"] = "duckdb"
            try:
                res = con.sql(osql[name])
                ocols = list(res.columns)
                orows = res.fetchall()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error {e}")
                rec["err"] = f"duckdb: {e}"
                n_fail += 1
                continue
        elif golden_path.exists():
            rec["oracle_kind"] = "golden"
            import pandas as pd

            gdf = pd.read_parquet(golden_path)
            ocols = list(gdf.columns)
            orows = list(gdf.itertuples(index=False, name=None))
        else:
            print(f"ROWS-ONLY {name}: {len(rows)} rows ({dt:.1f}s)")
            rec["err"] = "no_oracle"
            n_rows_only += 1
            if len(rows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        rec["oracle_rows"] = len(orows)
        updates, fail = compare(
            name, cols, rows, ocols, orows, normalizers.get(name)
        )
        rec.update(updates)
        if fail is None:
            print(
                f"PASS {name} [{rec['oracle_kind']}]: "
                f"{len(rows)} rows ({dt:.1f}s)"
            )
            n_pass += 1
        else:
            print(f"FAIL {name}: {fail}")
            rec["err"] = fail
            n_fail += 1
    out_path = REPO / "CORRECTNESS_local.json"
    if not only:
        results["_meta"] = {
            "sf_dir": sf_dir,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_rows_only": n_rows_only,
        }
        out_path.write_text(json.dumps(results, indent=2) + "\n")
        print(f"wrote {out_path}")
    print(f"SUMMARY pass={n_pass} fail={n_fail} rows_only={n_rows_only}")
    spark.stop()


if __name__ == "__main__":
    main()
