"""Presto function-surface compatibility layer (SURVEY.md §2.8, §7.3).

``register_all(spark)`` installs:

- SQL temporary functions (Catalyst-inlined, JVM-side — zero Python in the
  hot path) for Presto names Spark lacks (``presto_compat``),
- Arrow-vectorized pandas UDFs for the genuinely non-expressible gaps
  (``udfs``: word_stem, normal_cdf, inverse_normal_cdf, unicode normalize),
- the color-function family (``color``: ColorFunctions.java parity — SQL
  temp fns for color/rgb/render, float32-HSB gradient UDFs for bar),
- the ``ip``, ``sketches`` (qdigest/tdigest) and ``geospatial`` families,
- nothing for Presto names Spark already covers under a different name —
  those are documented in ``PRESTO_EQUIVALENTS`` for query authors.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from sensql_presto_spark.functions.datetime_fmt import (
    format_datetime,
    joda_to_jdk,
    mysql_to_jdk,
    parse_datetime,
    presto_date_format,
    presto_date_parse,
)
from sensql_presto_spark.functions.presto_compat import (
    PRESTO_EQUIVALENTS,
    register_sql_functions,
)
from sensql_presto_spark.functions.udfs import register_python_udfs

__all__ = [
    "register_all",
    "PRESTO_EQUIVALENTS",
    "mysql_to_jdk",
    "joda_to_jdk",
    "presto_date_format",
    "presto_date_parse",
    "format_datetime",
    "parse_datetime",
]


def register_all(spark: SparkSession) -> None:
    """Install the full compat surface on a session (idempotent), each
    family once, so each function name is registered once.

    The families share no registration, so they install side by side, one
    thread per group below; a group keeps its own order (``st_disjoint``'s
    body calls ``st_intersects``, so geospatial stays one sequence). Most
    of a group's time is JVM work behind py4j calls, during which its
    thread does not hold the GIL, so the groups overlap. A group's
    exception re-raises here after every group has ended."""
    from sensql_presto_spark.functions.color import register_color_functions
    from sensql_presto_spark.functions.geospatial import register_geospatial
    from sensql_presto_spark.functions.ip import register_ip_functions
    from sensql_presto_spark.functions.sketches import register_sketch_functions

    groups = (
        (register_sql_functions,),
        (register_geospatial,),
        (
            register_python_udfs,
            register_color_functions,
            register_ip_functions,
            register_sketch_functions,
            _register_builtin_aliases,
        ),
    )

    def install(group) -> None:
        for register in group:
            register(spark)

    with ThreadPoolExecutor(max_workers=len(groups)) as pool:
        futures = [pool.submit(install, group) for group in groups]
    for future in futures:
        future.result()


def _register_builtin_aliases(spark: SparkSession) -> None:
    """Presto spellings for lambda-taking builtins (ArrayFunctions.java
    any_match/all_match): SQL temp functions cannot take function-typed
    parameters, so the Presto name is aliased directly onto the builtin's
    expression builder in the session FunctionRegistry — full lambda
    support under the reference name.  (none_match stays a documented
    rewrite to NOT any_match: Spark has no negated builtin to alias and a
    builder cannot be composed from Python.)"""
    reg = spark._jsparkSession.sessionState().functionRegistry()
    fi = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
    for presto_name, spark_name in (("any_match", "exists"), ("all_match", "forall")):
        builder = reg.lookupFunctionBuilder(fi(spark_name))
        info = reg.lookupFunction(fi(spark_name))
        if builder.isDefined() and info.isDefined():
            reg.registerFunction(fi(presto_name), info.get(), builder.get())
