"""Driver-contract check: exercises __spark_entry__ end to end —
entry(spark) smoke at sf0.001, then every queries() entry at sf0.01
compared against oracle_sql() via DuckDB (views from tests/oracle.py).

r9: the comparison is DTYPE-FAITHFUL (VERDICT r8 next-round #4) — in
addition to the value compare, every oracle result is ALSO fetched through
DuckDB's pandas path and its per-column dtype classes are checked against
the Spark schema, because that is the dimension the driver's value-hash
sees and Python ``==`` does not (the r6-r8 reds were equal values under
divergent dtypes).  Local green therefore implies driver green again.

Usage: python scripts/verify_driver.py [--sf-dir DIR] [--only name1,name2]
Exit 0 = all green; prints one line per query.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle import duckdb_conn


def norm_cell(v, places=6):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, places)
    return v


# --- dtype-faithful comparison (r9, VERDICT r8 next-round #4) ---------------
#
# The r6-r8 driver-red mystery was invisible locally because this harness
# compared values with Python `==` after float rounding — blind to
# int64-vs-float64-vs-Decimal dtype mismatches, which the driver's
# value-hash DOES see (proven by the r8 type audit: the six reds were
# exactly the six oracles whose final column lands HUGEINT/DECIMAL(38,0),
# rendered float64 by DuckDB's pandas path).  This check closes the gap:
# it classifies each output column on BOTH sides — the oracle through
# DuckDB's actual pandas conversion (`res.df()`), the Spark side from its
# schema (no conversion noise) — and fails on the divergent pairs.
#
# Queries whose PURPOSE is to emit a divergent pair (the typing canaries)
# are listed here: their dtype mismatch is reported as the expected
# canary signal, not a failure.
TYPING_CANARIES = {"probe_hash_typing_hugeint", "probe_hash_typing_decimal38"}

_SPARK_CLASS = {
    "byte": "int", "short": "int", "int": "int", "integer": "int",
    "long": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool",
    "date": "datetime", "timestamp": "datetime", "timestamp_ntz": "datetime",
}


def spark_col_class(dt) -> str:
    name = dt.typeName()
    if name.startswith("decimal"):
        return "decimal"
    return _SPARK_CLASS.get(name, "other")


def oracle_col_class(series) -> str:
    """Type class of an oracle column as the driver sees it (post-pandas)."""
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        # float64 with NaN could be DuckDB's nullable-int fallback — that
        # renders float on BOTH sides of the driver's compare only when the
        # Spark pandas path does the same, so treat NaN-carrying floats as
        # ambiguous-float; NaN-free float is an honest float OR the
        # HUGEINT/DECIMAL conversion signature (disambiguated by the Spark
        # class at the call site).
        return "float_nullable" if series.isna().any() else "float"
    if kind == "b":
        return "bool"
    if kind in "mM":
        return "datetime"
    if kind == "O":
        non_null = series.dropna()
        if non_null.empty:
            return "any"
        import datetime
        import decimal

        v = non_null.iloc[0]
        if isinstance(v, str):
            return "str"
        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return "datetime"
        return "other"
    return "other"


def dtype_mismatches(o_df, s_schema) -> tuple[list[str], list[str]]:
    """Column-level dtype divergences the driver's hash would flag.

    Returns ``(findings, notes)``: findings empty = dtype-safe; notes are
    printed (not failed) so accepted ambiguities stay visible.  Column
    order on both sides is by sorted name, matching the driver's
    canonicalization.
    """
    findings: list[str] = []
    notes: list[str] = []
    s_types = {f.name: spark_col_class(f.dataType) for f in s_schema.fields}
    for col in sorted(o_df.columns):
        o_cls = oracle_col_class(o_df[col])
        s_cls = s_types.get(col)
        if s_cls is None or o_cls == "any":
            continue
        if o_cls == "float_nullable" and s_cls == "int":
            # Verified (ADVICE r9): the driver canonicalizes BOTH sides
            # through `pd.DataFrame(rows)`, and a Spark bigint column that
            # CONTAINS a NULL converts to float64+NaN exactly like DuckDB's
            # nullable-int fallback — equal values (incl. NULL positions)
            # therefore land float64 on both sides and hash green; when the
            # NULL positions differ, the VALUE compare below reds the query
            # regardless of dtypes.  Accepted, but printed so the pairing
            # never passes silently.
            notes.append(
                f"column {col!r}: oracle NaN-carrying float64 accepted "
                f"against spark int (both sides render float64+NaN in the "
                "driver's pandas canonicalization)"
            )
            continue
        ok = (
            o_cls == s_cls
            or (o_cls == "float" and s_cls == "float")
            or (o_cls == "float_nullable" and s_cls == "float")
            # Spark DecimalType collects as Decimal objects while DuckDB's
            # pandas path renders EVERY decimal as float64 — never safe:
            # a decimal on either side is only green when the other side
            # is also an object-Decimal (o_cls == s_cls above, which the
            # DuckDB pandas path can't produce).
        )
        if not ok:
            findings.append(
                f"column {col!r}: oracle(pandas)={o_cls} vs spark={s_cls}"
            )
    return findings, notes


def norm_rows(rows, cols):
    """Canonicalize exactly the way the round driver does (VERDICT r2 §wrong-1).

    The driver builds a pandas DataFrame, orders columns by name, rounds float
    columns, then ``sort_values`` over ALL columns — which raises
    ``TypeError: unhashable type: 'list'`` for raw array cells (pandas cannot
    factorize list objects).  Round 2 proved the old tuple-normalizing gate
    here was MORE LENIENT than the driver and hid two failures
    (``label_centroids``, ``emb_quantize_int8``).  This version reproduces the
    driver's behavior: list/dict cells make the sort raise, so local green
    implies driver green.  Queries must emit driver-sortable encodings
    (``to_json`` arrays) instead.
    """
    import pandas as pd

    df = pd.DataFrame(list(rows), columns=list(cols))
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].map(norm_cell)
    # Driver-identical: pandas lexsort over every column; unhashable cells
    # (lists, dicts, numpy arrays) raise here just as they do in the driver.
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--smoke-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import __spark_entry__ as e
    from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

    spark = get_spark("verify-driver")

    # 1. entry() smoke
    t0 = time.time()
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={df.columns}, {time.time()-t0:.1f}s")
    assert len(rows) >= 0 and df.columns

    # 2. differential per query
    con = duckdb_conn(args.sf_dir)

    queries = e.queries()
    oracles = e.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    failures = []
    n_run = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle), {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            # second execution through DuckDB's pandas path — the dtypes the
            # DRIVER actually hashes (fetchall() hides the HUGEINT/DECIMAL →
            # float64 conversion that caused the r6-r8 reds)
            o_pdf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: oracle raised {type(ex).__name__}: {ex}")
            continue
        dtype_bad, dtype_notes = dtype_mismatches(o_pdf, sdf.schema)
        for note in dtype_notes:
            print(f"NOTE  {name}: {note}")
        if dtype_bad:
            if name in TYPING_CANARIES:
                print(
                    f"OK    {name}: dtype divergence PRESENT as designed "
                    f"(typing canary; expected driver-RED): {dtype_bad}"
                )
                continue
            failures.append(name)
            print(
                f"FAIL  {name}: dtype-divergent output (driver hash would "
                f"red this even on equal values): {dtype_bad}"
            )
            continue
        try:
            ok = (
                sorted(s_cols) == sorted(o_cols)
                and len(s_rows) == len(o_rows)
                and norm_rows(s_rows, s_cols) == norm_rows(o_rows, o_cols)
            )
        except Exception as ex:
            # The round driver records a per-query err when its canonicalizer
            # raises (e.g. pandas sort over raw array cells) — do the same
            # instead of aborting the whole run.
            failures.append(name)
            print(f"FAIL  {name}: canonicalizer raised {type(ex).__name__}: {ex}")
            continue
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows match oracle, {time.time()-t0:.1f}s")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: spark cols={s_cols} n={len(s_rows)} vs "
                f"oracle cols={o_cols} n={len(o_rows)}"
            )
            sn, on = norm_rows(s_rows, s_cols), norm_rows(o_rows, o_cols)
            for a, b in list(zip(sn, on))[:5]:
                if a != b:
                    print(f"      spark : {a}\n      oracle: {b}")

    print(f"\n{n_run - len(failures)}/{n_run} green" + ("" if not only else f" (of {len(queries)} registered; --only run)"))
    if failures:
        print("failures:", failures)

    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
