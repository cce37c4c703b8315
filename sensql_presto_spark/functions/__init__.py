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
    family once, so each function name is registered once."""
    from sensql_presto_spark.functions.color import register_color_functions
    from sensql_presto_spark.functions.geospatial import register_geospatial
    from sensql_presto_spark.functions.ip import register_ip_functions
    from sensql_presto_spark.functions.sketches import register_sketch_functions

    register_sql_functions(spark)
    register_python_udfs(spark)
    register_color_functions(spark)
    register_ip_functions(spark)
    register_sketch_functions(spark)
    register_geospatial(spark)
    _register_builtin_aliases(spark)


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
