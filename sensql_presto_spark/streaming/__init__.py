"""Structured Streaming extension (beyond-reference; SURVEY.md §2.11).

The reference has no streaming execution at all — its Kafka/Redis
connectors read topics as batch tables — so nothing here owes parity.
These are the standard Spark streaming shapes a pipeline on the same data
would run: event-time tumbling windows with a watermark over the ``events``
table, executed with the ``availableNow`` trigger so a test (or the
driver's oracle) sees a deterministic, batch-equivalent result.

Production notes baked into the design: the memory sink is test-only (the
result set is a few hundred aggregate rows — window × event_type — never
raw events); a real deployment writes append-mode to files/Kafka and the
watermark bounds state store size. The aggregation itself is the same
partial/final shuffle as batch — state is keyed by (window, event_type),
so it holds at arbitrary input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensql_presto_spark import catalog


def _sink_table(spark: SparkSession, name: str) -> DataFrame:
    """The rows a finished memory-sink query left under ``name``, without
    the session temp view that ``.queryName(name)`` registered for them.

    The returned DataFrame is analyzed before the view is dropped, so its
    plan holds the sink itself and still reads the rows."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


def tumbling_window_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    name: str = "events_stream_tumbling",
    timeout_s: int = 180,
) -> DataFrame:
    """Event-time tumbling-window aggregation over a file stream.

    Reads ``events.parquet`` through ``readStream`` (file source), applies
    a watermark + window aggregation, runs to completion with
    ``availableNow``, and returns the materialized result as a batch
    DataFrame. With a single availableNow pass the watermark drops nothing,
    so the result equals the batch ``date_trunc('hour', ts)`` aggregation —
    which is exactly what the DuckDB oracle checks.
    """
    # File streams need an explicit schema; take the catalog's file schema
    # (ts arrives as raw nanos under nanosAsLong, same as the batch path).
    schema = catalog.schema(spark, sf_dir, "events")

    # The file source wants a directory; glob-filter to the events table.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    events = catalog.normalize_events_ts(raw, schema)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias("sum_val_e4"),
        )
    )

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)

    return (
        _sink_table(spark, name)
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_val_e4",
        )
        .orderBy("win_start", "event_type")
    )


def session_window_stats(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    name: str = "events_stream_sessions",
    timeout_s: int = 180,
) -> DataFrame:
    """Streaming gap-based sessionization via ``session_window``.

    The streaming twin of the batch ``events_sessionize`` query: Spark's
    session_window merges events within ``gap`` into one state entry per
    (user, open session); the watermark closes sessions and bounds state.
    A single availableNow pass closes everything, so the result equals the
    batch lag/cumsum sessionization — the oracle the registry entry checks.
    """
    schema = catalog.schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    events = catalog.normalize_events_ts(raw, schema)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias("sum_val_e4"),
        )
    )
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)
    return (
        _sink_table(spark, name)
        .where(F.col("user_id") < 30)
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            "n_events",
            "sum_val_e4",
        )
        .orderBy("user_id", "sess_start")
    )


def stateful_running_extrema(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events_stream_stateful",
    timeout_s: int = 240,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Per user, maintains (n, running_max, running_sum) state across
    micro-batches — the arbitrary-state shape Spark gives for operators
    its built-in aggregates can't express (the reference has no streaming
    at all; SURVEY.md §2.11). State is one tuple per user: bounded, and
    partitioned by the grouping key, so it scales with |users|, not events.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = catalog.schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    events = catalog.normalize_events_ts(raw, schema)

    out_schema = "user_id bigint, n bigint, max_val double, sum_val_e4 bigint"
    state_schema = "n bigint, max_val double, sum_val_e4 bigint"

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, mx, sm = state.get if state.exists else (0, float("-inf"), 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                # quantize to exact 1e-4 integer units (same arithmetic as
                # the SQL oracle's floor(value*10000+0.5)) so the running
                # sum is order-independent across micro-batches
                sm += int(np.floor(pdf["value"].to_numpy() * 10000 + 0.5).sum())
        state.update((n, mx, sm))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "max_val": [mx], "sum_val_e4": [sm]}
        )

    result = events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)
    # update-mode memory sink may hold one row per user per micro-batch;
    # keep the final state per user (max n wins).
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        _sink_table(spark, name)
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("user_id") < 30))
        .select("user_id", "n", "max_val", "sum_val_e4")
        .orderBy("user_id")
    )


def streaming_dedup_exact(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
    name: str = "events_stream_dedup",
    timeout_s: int = 180,
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` over an
    intentionally duplicated stream.

    The source is the events file stream unioned with itself, so every
    event arrives exactly twice; the dedup state (keyed on ``event_id``,
    expired by the watermark) must restore the original set — which the
    per-type batch aggregation oracle verifies. This is the streaming twin
    of ``dedup_exact``: at scale the state store holds only keys inside the
    watermark horizon, so memory is bounded by arrival skew, not stream
    length.
    """
    schema = catalog.schema(spark, sf_dir, "events")

    def _stream() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    doubled = _stream().unionByName(_stream())
    events = catalog.normalize_events_ts(doubled, schema)
    dedup = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    agg = dedup.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias("sum_val_e4"),
    )

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)
    return _sink_table(spark, name).orderBy("event_type")


def streaming_interval_join(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    name: str = "events_stream_interval_join",
    timeout_s: int = 240,
) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    clicks within a lookback window.

    The genuinely streaming-only operator family left undemonstrated:
    both sides are unbounded, watermarked streams; the equality key
    (user_id) plus the event-time range condition lets Spark bound the
    join state (clicks older than the watermark + lookback are evicted).
    One availableNow pass drops nothing, so the result equals the batch
    range join the DuckDB oracle runs. Output is aggregated per user so
    the checked relation is small and deterministic.
    """
    schema = catalog.schema(spark, sf_dir, "events")

    def _stream() -> DataFrame:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return catalog.normalize_events_ts(raw, schema)

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    )

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)
    pairs = _sink_table(spark, name)
    return (
        pairs.groupBy("p_user")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("p_event").alias("n_purchases"),
            F.countDistinct("c_event").alias("n_clicks"),
        )
        .filter(F.col("p_user") < 50)
        .orderBy("p_user")
        .select(
            F.col("p_user").alias("user_id"), "n_pairs", "n_purchases", "n_clicks"
        )
    )


def streaming_upsert_sink(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events_stream_upsert",
    timeout_s: int = 240,
) -> DataFrame:
    """Streaming MERGE sink: ``foreachBatch`` + ``WritableTable.merge`` —
    the streaming TableWriter path (reference analog: a Kafka->Hive
    ingest pipeline committing idempotent upserts per batch).

    The source doubles the events stream (union with itself) so every
    event id is delivered at least twice, and the whole stream is then
    REPLAYED with a fresh checkpoint — at-least-once delivery at both the
    row and the stream level. The keyed merge makes the table state
    exactly-once anyway: after both passes each event_id appears exactly
    once, which the batch per-type oracle verifies. At scale the merge is
    one shuffle per side on event_id per microbatch (copy-on-write), and
    the state the pipeline depends on lives in the table, not the stream —
    so a crash-restart (simulated by the replay) is safe by construction.
    """
    import shutil
    import tempfile

    schema = catalog.schema(spark, sf_dir, "events")

    cols = ("event_id", "event_type", "user_id", "value")
    # WritableTable.create replaces the path itself — no pre-rmtree needed
    # (the old mkdtemp-then-rmtree was a TOCTOU); the directory is removed
    # in the finally below once the result is materialized, so repeated
    # invocations don't leak snapshot tables into /tmp.
    table_dir = tempfile.mkdtemp(prefix="sensql_stream_upsert_")
    from sensql_presto_spark.mutation import WritableTable

    seed = catalog.table(spark, sf_dir, "events").select(*cols).limit(0)
    table = WritableTable.create(spark, table_dir, seed)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        # in-batch dedup (doubled delivery produces identical rows)
        b = batch_df.dropDuplicates(["event_id"])
        data_cols = [c for c in cols if c != "event_id"]
        table.merge(
            b,
            on=["event_id"],
            when_matched_update={c: F.col(f"s_{c}") for c in data_cols},
            when_not_matched_insert={
                "event_id": F.col("event_id"),
                **{c: F.col(f"s_{c}") for c in data_cols},
            },
        )

    def _run_pass() -> None:
        ckpt = tempfile.mkdtemp(prefix="sensql_stream_upsert_ckpt_")
        try:
            raw = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
            )
            doubled = raw.unionByName(raw)
            events = catalog.normalize_events_ts(doubled, schema).select(*cols)
            for q in spark.streams.active:
                if q.name == name:
                    q.stop()
            query = (
                events.writeStream.foreachBatch(_upsert)
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            finished = query.awaitTermination(timeout_s)
            if not finished:
                # loud failure instead of racing a second pass against a
                # query that is still merging into the same table
                query.stop()
                raise TimeoutError(
                    f"streaming upsert pass did not finish within {timeout_s}s"
                )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    try:
        _run_pass()
        _run_pass()  # full replay: fresh checkpoint redelivers everything

        # materialize before the finally deletes the backing table files —
        # the aggregate is per-event-type, a handful of rows
        return (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("event_id").alias("n_ids"),
                F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias(
                    "sum_val_e4"
                ),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(table_dir, ignore_errors=True)
