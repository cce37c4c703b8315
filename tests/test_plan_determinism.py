"""Plan-determinism checks (reference layer §5.6:
presto-tests/.../PlanDeterminismChecker.java — plans the same query twice
and asserts identical plans). Catalyst plans are deterministic up to
expression-ID allocation, so plan text is canonicalized by rewriting
``#NNN`` ids and ``plan_id=NNN`` tags to stable placeholders."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from sensql_presto_spark.queries import registry

SF = "/root/testdata/sf0.001"

REPRESENTATIVES = [
    "tpch_q01",
    "tpch_q18",
    "tpch_q21",
    "tpcds_q03",
    "window_topn_per_group",
    "grouping_sets",
    "setop_except_all",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "text_pii_redact",
    "pipeline_end_to_end",
    "agg_qdigest_rollup",
    "events_sessionize",
]


def _canon_plan(spark, name: str) -> str:
    df = registry.get(name).build(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    text = buf.getvalue()
    ids: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        return ids.setdefault(m.group(0), f"#{len(ids)}")

    text = re.sub(r"#\d+[L]?", sub, text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    # run-scoped physical identities: checkpoint/scan RDD ids, temp paths
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    # CTE relation ids and common-subexpression slots come from
    # session-global counters
    text = re.sub(r"(CTERelation(?:Def|Ref)) \d+", r"\1 N", text)
    text = re.sub(r"_common_expr_\d+", "_common_expr_N", text)
    text = re.sub(r"RDD \d+", "RDD N", text)
    text = re.sub(r"/tmp/\S+", "/tmp/T", text)
    text = re.sub(r"spark-warehouse/\S+", "WAREHOUSE", text)
    # spark.sql's {name} slots name each DataFrame _pyspark_<uuid> for
    # one statement, another run-scoped identity to canonicalize
    text = re.sub(r"_pyspark_[0-9a-f]{32}", "_pyspark_UUID", text)
    # Spark truncates long field lists at a fixed CHARACTER budget, so
    # the cut point shifts with expression-id digit counts (run-scoped);
    # the filter semantics are already covered by the un-truncated
    # Filter nodes above the scan
    text = re.sub(r"DataFilters: \[.*?, Format:", "DataFilters: [X], Format:", text)
    return text


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_plan_is_deterministic(spark, name):
    assert _canon_plan(spark, name) == _canon_plan(spark, name)
