"""EXPLAIN ANALYZE with runtime statistics (reference:
``presto-main/.../operator/ExplainAnalyzeOperator.java`` — executes the
query and renders the plan annotated with per-operator metrics).

Spark's ``df.explain()`` prints the static plan only; the runtime numbers
live on the executed plan's SQLMetrics after an action. ``explain_analyze``
runs the plan through the noop sink (full execution, no driver
materialization — DevNullOperator's role) and walks the executed SparkPlan
via py4j collecting each operator's metrics (rows produced, shuffle bytes,
spill, time), returned as a DataFrame so it composes like any other query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark import catalog


def explain_analyze(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Execute `df` and return (operator_id, operator, metric, value) rows."""
    plan = df._jdf.queryExecution().executedPlan()
    # Execute THIS plan instance — a df.write/count action would build a new
    # QueryExecution and accumulate its metrics on a different plan tree.
    # execute() materializes every partition distributed-side; the driver
    # only sees the count (DevNullOperator's contract).
    plan.execute().count()
    rows: list[tuple[int, str, str, int]] = []

    def walk(node, idx: int = 0) -> int:
        name = node.nodeName()
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            entry = it.next()
            metric = entry._2()
            rows.append((idx, name, str(metric.name().get()), int(metric.value())))
        children = node.children()
        my_idx = idx
        cit = children.iterator()
        while cit.hasNext():
            idx = walk(cit.next(), idx + 1)
        # AQE wrappers: the real operators hang off executedPlan()/plan(),
        # not children() (Spark 4: ResultQueryStage / ShuffleQueryStage /
        # BroadcastQueryStage each wrap a materialized stage).
        if name == "AdaptiveSparkPlan":
            idx = walk(node.executedPlan(), idx + 1)
        elif name.endswith("QueryStage"):
            idx = walk(node.plan(), idx + 1)
        return max(idx, my_idx)

    walk(plan)
    return catalog.local_frame(
        spark, rows, "operator_id INT, operator STRING, metric STRING, value BIGINT"
    )


def explain_io(spark: SparkSession, df: DataFrame) -> DataFrame:
    """EXPLAIN (TYPE IO): which tables/files a query reads, with the
    projected columns and the filters pushed into each scan.

    Reference: the IO explain type (presto-main/.../sql/planner/planPrinter/
    IOPlanPrinter.java) reports per-table column/filter access; here the
    same facts come from the scan nodes' metadata (Location / ReadSchema /
    PushedFilters), which is also how we assert pushdown in test_plans.py.
    """
    plan = df._jdf.queryExecution().sparkPlan()
    rows: list[tuple[str, str, str, str]] = []

    def walk(node) -> None:
        try:
            md = node.metadata()
            if md.contains("Location"):
                loc = str(md.get("Location").get())
                rows.append(
                    (
                        loc[loc.rfind("/") + 1 :].rstrip("]"),
                        str(md.get("ReadSchema").get()) if md.contains("ReadSchema") else "",
                        str(md.get("PushedFilters").get()) if md.contains("PushedFilters") else "",
                        loc,
                    )
                )
        except Exception:  # noqa: BLE001 — only scan nodes carry metadata
            pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    return catalog.local_frame(
        spark, rows, "table STRING, read_schema STRING, pushed_filters STRING, location STRING"
    )


def explain_distributed(spark: SparkSession, df: DataFrame) -> DataFrame:
    """EXPLAIN (TYPE DISTRIBUTED): the plan split into fragments.

    Reference: PlanPrinter.textDistributedPlan (presto-main/.../planner/
    planPrinter/PlanPrinter.java) renders one section per PlanFragment,
    with the fragment's partitioning handle. Spark's physical plan has the
    same seams: every Exchange node is a fragment boundary (shuffle =>
    hash/range repartition, broadcast => replicate-everywhere — Presto's
    REPARTITION/REPLICATE output-buffer modes), so fragments here are the
    exchange-delimited subtrees, numbered root-first. Static analysis
    only — nothing executes (exchanges exist after EnsureRequirements, so
    this walks the executed plan's initial tree, before AQE mutates it).
    """
    plan = df._jdf.queryExecution().executedPlan()
    rows: list[tuple[int, int | None, int, str, str]] = []
    next_frag = [0]

    def walk(node, frag: int, parent: int | None, seq: int) -> int:
        name = node.nodeName()
        # AQE wrappers: unwrap to the real operator tree (cf. explain_analyze)
        if name == "AdaptiveSparkPlan":
            return walk(node.initialPlan(), frag, parent, seq)
        if name.endswith("QueryStage"):
            return walk(node.plan(), frag, parent, seq)
        if "Exchange" in name:
            next_frag[0] += 1
            child = next_frag[0]
            how = (
                "REPLICATE (broadcast)"
                if "Broadcast" in name
                else str(node.outputPartitioning().toString())[:120]
            )
            rows.append((child, frag, 0, name, how))
            cseq = 1
            it = node.children().iterator()
            while it.hasNext():
                cseq = walk(it.next(), child, frag, cseq)
            return seq
        rows.append((frag, parent, seq, name, ""))
        seq += 1
        it = node.children().iterator()
        while it.hasNext():
            seq = walk(it.next(), frag, parent, seq)
        return seq

    walk(plan, 0, None, 0)
    return catalog.local_frame(
        spark,
        rows,
        "fragment INT, parent_fragment INT, op_seq INT, operator STRING, partitioning STRING",
    )
