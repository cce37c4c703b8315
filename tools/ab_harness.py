"""Same-session alternating A/B timing of DataFrame builders.

Usage, from the repo root::

    from tools.ab_harness import run_ab

    run_ab(spark, {
        "old": lambda: catalog.sql(spark, sf_dir, OLD_SQL),
        "new": lambda: catalog.sql(spark, sf_dir, NEW_SQL),
    }, runs=10)

``run_ab`` first checks that every builder yields the same rows as the
first one (sorted collect) and raises on a mismatch, then times the
builders strictly alternately in one SparkSession (noop sink) so host-speed
drift cancels, and prints per-builder medians and paired ratios.
"""

from __future__ import annotations

import statistics
import time


def run_ab(spark, builders, runs=10):
    """builders: dict name -> zero-arg callable returning a DataFrame.

    Strictly ALTERNATES shapes run-by-run (A,B,..,A,B,..) so a host-speed
    swing hits adjacent samples of every shape equally, and reports the
    median of per-iteration paired ratios against the first builder."""
    names = list(builders)
    rows = {n: sorted(map(tuple, builders[n]().collect())) for n in names}
    base = rows[names[0]]
    for n in names[1:]:
        if rows[n] != base:
            raise AssertionError(f"RESULT MISMATCH between {names[0]} and {n}")
    print(f"  results identical across {names} ({len(base)} rows)")
    # prewarm each
    for n in names:
        builders[n]().write.format("noop").mode("overwrite").save()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(runs):
        for n in names:
            t0 = time.perf_counter()
            builders[n]().write.format("noop").mode("overwrite").save()
            samples[n].append(time.perf_counter() - t0)
    meds = {n: statistics.median(samples[n]) for n in names}
    base_n = names[0]
    rel = " ".join(f"{n}={meds[n]:.3f}s" for n in names)
    print(f"  medians: {rel}")
    for n in names[1:]:
        pairs = [a / b for a, b in zip(samples[base_n], samples[n])]
        print(
            f"  {n} vs {base_n}: median-of-medians {meds[base_n] / meds[n]:.2f}x, "
            f"median paired ratio {statistics.median(pairs):.2f}x "
            f"(>1 means {n} faster; n={len(pairs)})"
        )
