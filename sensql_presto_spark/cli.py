"""SQL command-line entry point (reference: presto-cli, SURVEY.md §3.3).

One-shot:   python -m sensql_presto_spark.cli --execute "SELECT 1 AS x"
Scripted:   echo "SELECT ...;" | python -m sensql_presto_spark.cli
REPL:       python -m sensql_presto_spark.cli        (interactive TTY)

Statements run against the testdata catalog (``--sf-dir``, default
``$SPARK_GRAFT_SF_DIR`` or sf0.01) with the full compatibility surface
installed (Presto-name temp functions, geospatial, sketches), mirroring how
the reference CLI talks to a coordinator with every plugin loaded. Output
formats follow presto-cli's: ALIGNED (default), CSV, JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _format_aligned(cols: list[str], rows: list[tuple]) -> str:
    cells = [[("NULL" if v is None else str(v)) for v in row] for row in rows]
    widths = [max(len(c), *(len(r[i]) for r in cells)) if cells else len(c) for i, c in enumerate(cols)]
    out = [" | ".join(c.ljust(w) for c, w in zip(cols, widths))]
    out.append("-+-".join("-" * w for w in widths))
    out.extend(" | ".join(c.ljust(w) for c, w in zip(row, widths)) for row in cells)
    out.append(f"({len(rows)} row{'s' if len(rows) != 1 else ''})")
    return "\n".join(out)


def _emit(df, fmt: str, limit: int) -> None:
    rows = df.limit(limit).collect()
    cols = df.columns
    if fmt == "csv":
        import csv

        w = csv.writer(sys.stdout)
        w.writerow(cols)
        w.writerows([tuple(r) for r in rows])
    elif fmt == "json":
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    else:
        print(_format_aligned(cols, [tuple(r) for r in rows]))


def prepare_session(spark, sf_dir: str) -> None:
    """Install the full engine surface on a session: the catalog views plus
    every function family in ``functions.register_all`` (Presto-name compat,
    Python UDFs, color, IP, sketches, geospatial), each name registered once
    — what the reference coordinator exposes with every plugin loaded.

    The views register on a second thread while the function families
    install (themselves side by side, see ``register_all``): neither reads
    what the other writes. Leaving the pool waits for the views, so an
    exception from either re-raises here once both have ended. The
    ``information_schema`` relations are ``LocalRelation``s
    (``catalog.local_frame``), like every row the statement layer makes
    itself, so building them starts no Python worker."""
    from concurrent.futures import ThreadPoolExecutor

    from sensql_presto_spark import catalog
    from sensql_presto_spark.functions import register_all

    with ThreadPoolExecutor(max_workers=1) as pool:
        views = pool.submit(catalog.register_views, spark, sf_dir)
        register_all(spark)
    views.result()


def run_statement(
    spark, sf_dir: str, text: str, fmt: str = "aligned", limit: int = 1000, state=None
) -> None:
    from sensql_presto_spark.statements import StatementSession

    text = text.strip().rstrip(";")
    if not text:
        return
    if state is None:
        state = StatementSession(spark, sf_dir)
    _emit(state.execute(text), fmt, limit)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sensql-spark", description=__doc__)
    ap.add_argument("--execute", "-e", help="run this statement and exit")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="testdata directory registered as the catalog",
    )
    ap.add_argument("--format", choices=("aligned", "csv", "json"), default="aligned")
    ap.add_argument("--limit", type=int, default=1000, help="max rows printed")
    args = ap.parse_args(argv)

    from sensql_presto_spark.session import get_spark

    spark = get_spark(app_name="sensql_cli")
    prepare_session(spark, args.sf_dir)
    from sensql_presto_spark.statements import StatementSession

    state = StatementSession(spark, args.sf_dir)

    try:
        if args.execute:
            run_statement(spark, args.sf_dir, args.execute, args.format, args.limit, state)
            return 0
        interactive = sys.stdin.isatty()
        buf = ""
        if interactive:
            print("sensql-spark> ", end="", flush=True)
        for line in sys.stdin:
            if interactive and line.strip() in ("quit", "exit", "\\q"):
                break
            buf += line
            while ";" in buf:
                stmt, buf = buf.split(";", 1)
                try:
                    run_statement(spark, args.sf_dir, stmt, args.format, args.limit, state)
                except Exception as exc:  # noqa: BLE001 — REPL surfaces, doesn't die
                    print(f"Query failed: {exc}", file=sys.stderr)
                    if not interactive:
                        return 1
            if interactive:
                print("sensql-spark> ", end="", flush=True)
        if buf.strip():
            run_statement(spark, args.sf_dir, buf, args.format, args.limit, state)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
