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
- fan-out          → a UNION ALL over per-node sources, scoped to the
                     one statement like the reference's
                     ``WITH <table> AS (… UNION ALL …)``: the residual
                     query reads it as ``{fanout} AS <table>`` through
                     ``spark.sql``'s DataFrame slots, and Catalyst pushes
                     the residual predicates into every scan.
                     A node's builder is a declaration: the engine keeps
                     the relation it returned and calls it again only
                     when the builder is replaced or a file or directory
                     the relation reads changes (``catalog.input_versions``,
                     the server's result-cache rule), so a fan-out reads
                     like a temp view over the nodes' resolved plans.
                     ``catalog.table`` keeps each table's relation per
                     session under the same rule, so a node's first build
                     lists no files an earlier build in the session listed.
- slices           → ``slices.py``: kept nodes that slice one source by
                     ``k = literal`` share one scan filtered by
                     ``InSet(k, {…})``, so the union has one branch per
                     source rather than per node; the slices are disjoint,
                     so the rows are the union's, in no defined order. The
                     set is held by reference in the generated code, so a
                     new set of bigint keys compiles nothing.

At 100 TB the fan-out over slices of one source is one parquet scan with
the key and the residual pushed into it; nodes with their own paths are
still one scan each, unioned. The metadata plane stays kilobytes.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Mapping
from functools import reduce

import duckdb
from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark import catalog
from sensql_presto_spark.sensql import geometry, rewrite, slices


class MetadataDB:
    """The SenSQL metadata catalog (nodes / shape / feature) on DuckDB.

    Plays the role of the reference's PostGIS ``geonaming`` database
    (``SenSQLModule.java:66-79``), with the spatial functions the forward
    query needs registered as Python UDFs. Each lookup runs on its own
    cursor: one DuckDB connection used from several threads at once, with
    Python UDFs in the query, hangs.
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
        with self.con.cursor() as cur:
            return sorted(r[0] for r in cur.execute(forward_sql).fetchall())

    def resolve_knn(self, point_wkt: str, k: int) -> list[str]:
        """The k nodes whose service regions are nearest to a probe point
        (distance 0 when the point lies inside a region). Metadata-plane
        KNN — node count is small, so ORDER BY + LIMIT on the catalog DB
        is the right plan; the measurement fan-out stays distributed."""
        with self.con.cursor() as cur:
            rows = cur.execute(
                "SELECT id FROM nodes ORDER BY st_distance(?, service_region), id LIMIT ?",
                [point_wkt, k],
            ).fetchall()
        return sorted(r[0] for r in rows)


class _Node:
    """A node's resolved relation: the builder that made it, the DataFrame
    it returned, its analyzed plan and that plan's input versions (None:
    not kept). Its slice is read on first use."""

    def __init__(self, builder: Callable[[], DataFrame], df: DataFrame) -> None:
        self.builder = builder
        self.df = df
        self.plan = df._jdf.queryExecution().analyzed()
        self.versions = catalog.input_versions(self.plan)

    @functools.cached_property
    def slice(self) -> slices.Slice | None:
        return slices.slice_of(self.plan) if self.versions is not None else None


class FederatedEngine:
    """``sql(text) -> DataFrame`` with the SenSQL federation rewrite applied.

    ``node_catalogs`` maps node id → builder for that node's slice of the
    measurement table (the reference's one-catalog-per-sensor-node model,
    SURVEY.md §1.3). A builder is a declaration, not a per-query hook: the
    engine keeps the DataFrame it returned, with that DataFrame's
    ``catalog.input_versions``, and calls it again only when
    ``node_catalogs[id]`` is replaced by another object or one of those
    versions changes (a file rewritten, a file added to or removed from a
    directory it reads). A relation with no versions (nondeterministic, or
    over a leaf other than local files or literal rows) is built on every
    fan-out.

    Kept nodes that slice one source by a key (``slices``) are read
    by one shared scan, not one branch each, and a fan-out's relation is
    kept with the node entries it was built from: it is built again only
    when one of them is replaced. Catalyst still analyzes, optimizes and
    plans each statement, pushdown into every scan included.
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
        # No lock on either table: a racing miss builds twice and the last
        # store wins.
        self._resolved: dict[str, _Node] = {}
        # node ids -> (their _Node entries, the fan-out built from them); at
        # most one fan-out per node id, emptied when full
        self._fanouts: dict[tuple[str, ...], tuple[list[_Node], DataFrame]] = {}

    def _node(self, node_id: str) -> _Node:
        """The node's kept entry while it is current, else a new build."""
        builder = self.node_catalogs[node_id]
        hit = self._resolved.get(node_id)
        if hit is not None and hit.builder is builder and catalog.unchanged(hit.versions):
            return hit
        node = _Node(builder, builder())
        if node.versions is not None:
            self._resolved[node_id] = node
        return node

    def fanout(self, node_ids: Iterable[str]) -> DataFrame:
        """UNION ALL of the given nodes' catalogs (``SenSQLModule.java:159-183``;
        ``Union(…, Optional.of(false))``): one branch per group of slices of
        one source, and one per other node. Row order is not defined.
        Raises ValueError naming every id without a catalog before any node
        is built."""
        node_ids = tuple(node_ids)
        missing = sorted(set(node_ids) - self.node_catalogs.keys())
        if missing:
            raise ValueError(f"no node catalog for resolved node ids {missing}")
        catalog._ensure_session_conf(self.spark)
        nodes = [self._node(n) for n in node_ids]
        kept = self._fanouts.get(node_ids)
        if kept is not None and all(a is b for a, b in zip(kept[0], nodes)):
            return kept[1]
        df = reduce(DataFrame.unionAll, [g.relation() for g in slices.groups(nodes)])
        if all(n.versions is not None for n in nodes):
            if len(self._fanouts) >= len(self.node_catalogs):
                self._fanouts.clear()
            self._fanouts[node_ids] = (nodes, df)
        return df

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
        q = catalog.escape_braces
        sql = f"{q(parts.head)} FROM {{fanout}} AS {q(measurement_table)}"
        if residual_where:
            sql += f" WHERE {q(residual_where)}"
        if parts.tail:
            sql += f" {q(parts.tail)}"
        return self.spark.sql(sql, fanout=self.fanout(node_ids))
