"""Simulate the driver's exact-hash CORRECTNESS gate over registry queries.

The driver canonicalizes (sort columns by name, sort rows) and then hashes
exact values — so float outputs must be bit-identical between Spark and the
DuckDB oracle, not merely np.isclose.  This script runs each query both ways
at sf0.01 and reports EXACT / FLOAT-DRIFT / MISMATCH / ERROR per query.

Usage: python tools/driver_sim.py [--vanilla] [name ...]
       (default names: the priority block)

--vanilla runs against a bare ``SparkSession.builder.master("local[8]")``
instead of the tuned session — the closest simulation of the driver's own
environment, which also exercises catalog._ensure_session_conf's runtime
self-healing of timezone/parquet confs.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers do not inherit sys.path: they find the package
# (UDFs, mapInPandas, the Kafka/Avro decoders) on PYTHONPATH, which the JVM
# Spark starts hands down to them.
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

# Override with DRIVER_SIM_SF_DIR to differential-check at another scale
# (e.g. sf0.1 — catches scale-sensitive logic the sf0.01 gate can't).
SF_DIR = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for col in pdf.columns:
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            ts = pd.to_datetime(s)
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[col] = ts.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            pdf[col] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            pdf[col] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            pdf[col] = s.astype("Int64")
        else:
            pdf[col] = s.map(_norm)
    try:
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    except TypeError as exc:  # driver would crash here (unhashable etc.)
        raise RuntimeError(f"canonicalizer sort failed: {exc}") from exc
    return pdf


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(pd.Timestamp(v).tz_localize(None) if getattr(v, "tzinfo", None) else pd.Timestamp(v))
    if isinstance(v, (list, np.ndarray, tuple)):
        # the round-1 driver crashed on these; flag loudly
        raise RuntimeError("array-typed cell reached canonicalizer")
    return v


def dtype_sig(s: pd.Series) -> str:
    """Kind-level dtype signature, tuned to the hash sensitivity the
    driver's first recorded verdicts showed: int widths (int8..int64, uint*)
    and datetime units (ns vs us) canonicalize away — fn_string_basic and
    agg_basic passed round 1 with exactly those differences — but int vs
    float (DuckDB HUGEINT→float64), Decimal vs float, and float vs int all
    change the hashed repr and MUST surface as DTYPE failures."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    d = str(s.dtype)
    if d == "object":
        non_null = s.dropna()
        if len(non_null):
            d = f"object<{type(non_null.iloc[0]).__name__}>"
    return d


def compare(a: pd.DataFrame, e: pd.DataFrame) -> str:
    if sorted(a.columns) != sorted(e.columns):
        return f"SCHEMA ({sorted(a.columns)} vs {sorted(e.columns)})"
    if len(a) != len(e):
        return f"ROWS ({len(a)} vs {len(e)})"
    # dtype-strict gate FIRST: the driver hashes canonicalized values, and a
    # spark int64 vs oracle float64 (or ns vs us timestamp) changes the
    # hashed repr even when the values are numerically identical.
    bad_dtypes = [
        (c, dtype_sig(a[c]), dtype_sig(e[c]))
        for c in sorted(a.columns)
        if dtype_sig(a[c]) != dtype_sig(e[c])
    ]
    if bad_dtypes:
        return "DTYPE " + "; ".join(f"{c}: spark={sa} oracle={se}" for c, sa, se in bad_dtypes)
    a, e = canon(a), canon(e)
    exact = True
    drift_cols = []
    for col in a.columns:
        av, ev = a[col], e[col]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(ev):
            af = av.astype("float64").to_numpy()
            ef = ev.astype("float64").to_numpy()
            bit_eq = (af == ef) | (np.isnan(af) & np.isnan(ef))
            if not bit_eq.all():
                close = np.isclose(af, ef, rtol=1e-6, atol=1e-9) | (np.isnan(af) & np.isnan(ef))
                if close.all():
                    exact = False
                    bad = np.where(~bit_eq)[0][:3]
                    drift_cols.append((col, [(af[i], ef[i]) for i in bad]))
                else:
                    bad = np.where(~close)[0][:3]
                    return f"MISMATCH col={col} {[ (af[i], ef[i]) for i in bad ]}"
        else:
            eq = (av == ev) | (av.isna() & ev.isna())
            if not eq.all():
                bad = av[~eq].head(3).tolist(), ev[~eq].head(3).tolist()
                return f"MISMATCH col={col} {bad}"
    if not exact:
        return "FLOAT-DRIFT " + "; ".join(f"{c}: {ex}" for c, ex in drift_cols)
    return "EXACT"


def main() -> None:
    from sensql_presto_spark.queries import all_specs
    from sensql_presto_spark.session import get_spark
    from sensql_presto_spark.testing import duckdb_connection

    specs = all_specs()
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    sweep_all = "--all" in args
    json_path = None
    if "--json" in args:
        # positional removal (r8 ADVICE): bounds-check the value token and
        # strip it by index, so `--json` as the last arg errors cleanly and
        # a query name equal to the path is never dropped from the run list.
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("--json requires a file path argument")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names = [a for a in args if a not in ("--vanilla", "--all", "--json")]
    if sweep_all:
        names = sorted(specs)
    elif not names:
        from __spark_entry__ import PRIORITY

        names = list(PRIORITY)

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark()
    con = duckdb_connection(SF_DIR)
    failures = 0
    verdicts: dict[str, str] = {}
    for name in names:
        spec = specs[name]
        try:
            actual = spec.build(spark, SF_DIR).toPandas()
            if spec.oracle is None:
                print(f"{name:35s} NO-ORACLE ({len(actual)} rows)")
                verdicts[name] = f"NO-ORACLE ({len(actual)} rows)"
                continue
            expected = con.sql(spec.oracle).df()
            verdict = compare(actual, expected)
        except Exception as exc:  # noqa: BLE001
            verdict = f"ERROR {type(exc).__name__}: {exc}"
        if verdict != "EXACT":
            failures += 1
        verdicts[name] = verdict[:500]
        print(f"{name:35s} {verdict[:200]}")
    con.close()
    if json_path:
        # machine-checkable sweep record: which code state was checked,
        # at which scale, with per-entry verdicts
        import json
        import subprocess

        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
        n_exact = sum(1 for v in verdicts.values() if v == "EXACT")
        with open(json_path, "w") as f:
            json.dump(
                {
                    "commit": commit,
                    "sf_dir": SF_DIR,
                    "vanilla": vanilla,
                    "n_entries": len(verdicts),
                    "n_exact": n_exact,
                    "n_failures": failures,
                    "verdicts": verdicts,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_path}")
    print(f"\n{len(names) - failures}/{len(names)} EXACT")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
