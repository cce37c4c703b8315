"""SenSQL federated query engine (reference parity for the fork's delta).

The reference wires an AST rewrite into query dispatch
(``DispatchManager.java:204-217``): every SELECT is split into metadata
predicates (resolved against a PostGIS node catalog) and measurement
predicates (run against a UNION ALL of per-node catalogs). This package is
the Spark-first equivalent (SURVEY.md §7.4):

- metadata DB      → in-process DuckDB with the ``nodes``/``shape``/
                     ``feature`` tables and pure-Python ST_* UDFs
                     (``geometry.py``); the reference's external-DB
                     boundary (synchronous metadata query before planning)
                     is preserved, just not a network hop.
- rewrite          → ``rewrite.py``, a faithful mirror of
                     ``SenSQLModule.java`` processWhere/checkCond.
- fan-out          → ``DataFrame.unionAll`` over per-node sources,
                     scoped to the one statement like the reference's
                     ``WITH <table> AS (… UNION ALL …)``: the residual
                     query reads it as ``{fanout} AS <table>`` through
                     ``spark.sql``'s DataFrame slots, and Catalyst pushes
                     the residual predicates into every branch's scan.

At 100 TB the fan-out is N parquet scans unioned — each branch keeps
its own partitioning and pushdown; the metadata plane stays kilobytes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from functools import reduce

import duckdb
from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark.catalog import escape_braces
from sensql_presto_spark.sensql import geometry, rewrite


class MetadataDB:
    """The SenSQL metadata catalog (nodes / shape / feature) on DuckDB.

    Plays the role of the reference's PostGIS ``geonaming`` database
    (``SenSQLModule.java:66-79``), with the spatial functions the forward
    query needs registered as Python UDFs.
    """

    def __init__(
        self,
        nodes: Iterable[tuple[str, str]],
        shapes: Iterable[tuple[int, str]],
        features: Iterable[tuple[int, str, str]],
    ) -> None:
        self.con = duckdb.connect()
        self.con.create_function("st_intersects", geometry.st_intersects)
        self.con.create_function("st_contains", geometry.st_contains)
        self.con.create_function("st_distance", geometry.st_distance)
        self.con.execute("CREATE TABLE nodes (id VARCHAR, service_region VARCHAR)")
        self.con.execute("CREATE TABLE shape (id BIGINT, geometries VARCHAR)")
        self.con.execute("CREATE TABLE feature (shape BIGINT, name VARCHAR, type VARCHAR)")
        self.con.executemany("INSERT INTO nodes VALUES (?, ?)", list(nodes))
        self.con.executemany("INSERT INTO shape VALUES (?, ?)", list(shapes))
        self.con.executemany("INSERT INTO feature VALUES (?, ?, ?)", list(features))

    def resolve_nodes(self, forward_sql: str) -> list[str]:
        """Run the forward query; returns matching node ids (sorted)."""
        return sorted(r[0] for r in self.con.execute(forward_sql).fetchall())

    def resolve_knn(self, point_wkt: str, k: int) -> list[str]:
        """The k nodes whose service regions are nearest to a probe point
        (distance 0 when the point lies inside a region). Metadata-plane
        KNN — node count is small, so ORDER BY + LIMIT on the catalog DB
        is the right plan; the measurement fan-out stays distributed."""
        rows = self.con.execute(
            "SELECT id FROM nodes ORDER BY st_distance(?, service_region), id LIMIT ?",
            [point_wkt, k],
        ).fetchall()
        return sorted(r[0] for r in rows)


class FederatedEngine:
    """``sql(text) -> DataFrame`` with the SenSQL federation rewrite applied.

    ``node_catalogs`` maps node id → builder for that node's slice of the
    measurement table (the reference's one-catalog-per-sensor-node model,
    SURVEY.md §1.3).
    """

    def __init__(
        self,
        spark: SparkSession,
        metadata: MetadataDB,
        node_catalogs: Mapping[str, Callable[[], DataFrame]],
    ) -> None:
        self.spark = spark
        self.metadata = metadata
        self.node_catalogs = dict(node_catalogs)

    def fanout(self, node_ids: Iterable[str]) -> DataFrame:
        """UNION ALL of the given nodes' catalogs, in the given order
        (``SenSQLModule.java:159-183``; ``Union(…, Optional.of(false))``)."""
        return reduce(DataFrame.unionAll, [self.node_catalogs[n]() for n in node_ids])

    def sql(self, text: str) -> DataFrame:
        parts = rewrite.split_query(text)
        measurement_table = rewrite.process_from(parts.from_text)

        # 1. forward query → node ids (synchronous metadata round trip,
        #    mirroring DispatchManager.java:204-217 dispatch-time rewrite)
        forward = rewrite.build_forward_query(parts.where_text)
        node_ids = self.metadata.resolve_nodes(forward)
        if not node_ids:
            raise ValueError(f"no nodes match metadata predicates; forward query: {forward}")

        # 2. residual query (metadata predicates consumed) over the UNION
        #    ALL fan-out, which only this statement sees under the
        #    measurement table's name; the user's text keeps its braces
        residual_where = rewrite.build_residual_where(parts.where_text)
        q = escape_braces
        sql = f"{q(parts.head)} FROM {{fanout}} AS {q(measurement_table)}"
        if residual_where:
            sql += f" WHERE {q(residual_where)}"
        if parts.tail:
            sql += f" {q(parts.tail)}"
        return self.spark.sql(sql, fanout=self.fanout(node_ids))
