"""Write registry entries' canonical physical plans into <outdir>/.

Plans go through ``bench.canonical_plan`` (the text the bench fingerprints
hash), so two captures of the same plan are byte-identical and a
before/after diff shows exactly the plan change.

Usage: python tools/capture_plan.py <outdir> <suffix> <query> [<query> ...]
e.g.   python tools/capture_plan.py /tmp/plans before agg_exact_quantiles
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import canonical_plan
from sensql_presto_spark.queries import all_specs
from sensql_presto_spark.session import get_spark


def main():
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="capture_plan")
    specs = all_specs()
    for name in names:
        plan = canonical_plan(spark, specs[name].build(spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{path}: {len(plan)} bytes", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
