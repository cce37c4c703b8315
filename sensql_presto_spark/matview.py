"""Materialized views: CREATE / REFRESH / DROP over versioned parquet.

Parity target (SURVEY.md §3.4 listed this as an out-of-scope gap; closing
it): the reference's CREATE/REFRESH/DROP MATERIALIZED VIEW statements
(presto-parser SqlBase.g4 materialized-view productions; executed by
presto-main/.../execution/CreateMaterializedViewTask.java and the
refresh path that inserts into the MV's backing storage table). Presto
models an MV as a view definition plus a backing storage table; queries
against a *fresh* MV are rewritten to scan the storage table
(sql/MaterializedViewQueryOptimizer rewrite).

Spark mapping: the definition SQL is stored next to a snapshot-versioned
parquet directory (same copy-on-write shape as mutation.WritableTable —
an immutable ``v=N`` directory per refresh, ``_SUCCESS``-gated). The MV
name is registered as a temp view over the latest snapshot, so any query
referencing it scans the precomputed parquet (with normal pushdown and
pruning) instead of re-running the defining query — exactly the storage-
table read path. REFRESH recomputes declaratively and commits ``v=N+1``;
readers of the previous version are unaffected.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark import catalog
from sensql_presto_spark.mutation import committed_versions, next_version

_DEF_FILE = "definition.json"


class MaterializedViewStore:
    """All materialized views under one root directory (one per engine)."""

    def __init__(self, spark: SparkSession, sf_dir: str, root: str = "spark-warehouse/matviews"):
        self.spark = spark
        self.sf_dir = sf_dir
        self.root = root

    # -- paths / bookkeeping -------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _versions(self, name: str) -> list[int]:
        return committed_versions(self._dir(name))

    def _write_definition(self, name: str, sql: str) -> None:
        """Atomic definition swap (tmp + rename): a crash mid-write must
        never corrupt the committed definition."""
        path = os.path.join(self._dir(name), _DEF_FILE)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"sql": sql}, f)
        os.replace(tmp, path)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._dir(name), _DEF_FILE))

    def definition(self, name: str) -> str:
        with open(os.path.join(self._dir(name), _DEF_FILE)) as f:
            return json.load(f)["sql"]

    def names(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(n for n in os.listdir(self.root) if self.exists(n))

    # -- statements ----------------------------------------------------------

    def create(self, name: str, sql: str, replace: bool = False) -> None:
        # The reference raises whenever ANY table with the name exists, not
        # just another MV (CreateMaterializedViewTask.java:81-84); without
        # this, an MV named after a base table silently shadows its temp
        # view for the rest of the session.
        if name in catalog.TABLES:
            raise ValueError(f"Table already exists (cannot shadow base table): {name}")
        existing = self._versions(name) if self.exists(name) else []
        if existing and not replace:
            raise ValueError(f"Materialized view already exists: {name}")
        d = self._dir(name)
        if not existing and os.path.isdir(d):
            shutil.rmtree(d)  # debris from a failed earlier create
        os.makedirs(d, exist_ok=True)
        # Copy-on-write replace: commit the new snapshot (and only then the
        # new definition) before retiring old versions, so a failing
        # defining query or a crash mid-write leaves the prior MV intact —
        # same discipline as mutation.WritableTable.
        v = next_version(self._dir(name))
        df = catalog.sql(self.spark, self.sf_dir, sql)
        df.write.parquet(os.path.join(d, f"v={v}"))
        self._write_definition(name, sql)
        # retire committed predecessors AND any _SUCCESS-less partial debris
        for e in os.listdir(d):
            if e.startswith("v=") and int(e[2:]) != v:
                shutil.rmtree(os.path.join(d, e), ignore_errors=True)
        self._register(name)

    def refresh(self, name: str, where: str | None = None) -> None:
        """Recompute the defining query into the next snapshot version.

        With ``where`` (REFRESH MATERIALIZED VIEW … WHERE <pred> —
        SqlBase.g4:71, RefreshMaterializedViewPredicateAnalyzer.java),
        only the slice selected by the predicate is refreshed: rows of
        the current snapshot NOT matching the predicate carry over
        unchanged, and the defining query re-runs restricted to the
        predicate — the reference's partition-scoped incremental refresh,
        generalized from partition columns to any deterministic predicate
        over the MV's output columns (a predicate naming other columns
        fails loudly at analysis).  Rows where the predicate is NULL are
        treated as unselected (kept), mirroring WHERE semantics on the
        recompute side, so the kept/refreshed split is exactly disjoint.
        """
        if not self.exists(name):
            raise ValueError(f"Materialized view not found: {name}")
        v = next_version(self._dir(name))
        if where is None:
            df = catalog.sql(self.spark, self.sf_dir, self.definition(name))
        else:
            fresh = catalog.sql(
                self.spark,
                self.sf_dir,
                f"SELECT * FROM ({self.definition(name)}) WHERE {where}",
            )
            keep = self.spark.sql(
                "SELECT * FROM {cur} WHERE NOT coalesce(("
                + catalog.escape_braces(where)
                + "), false)",
                cur=self.read(name),
            )
            df = keep.unionByName(fresh)
        df.write.parquet(os.path.join(self._dir(name), f"v={v}"))
        self._register(name)

    def drop(self, name: str) -> None:
        if not self.exists(name):
            raise ValueError(f"Materialized view not found: {name}")
        shutil.rmtree(self._dir(name))
        # Only unregister views this store registered; never a base table's
        # temp view (create() rejects those names, this is belt-and-braces).
        if name not in catalog.TABLES:
            self.spark.catalog.dropTempView(name)

    def read(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise ValueError(f"Materialized view not found: {name}")
        v = self._versions(name)[-1]
        return self.spark.read.parquet(os.path.join(self._dir(name), f"v={v}"))

    # -- view registration ---------------------------------------------------

    def _register(self, name: str) -> None:
        """Point the temp view at the latest snapshot — the storage-table
        read path of MaterializedViewQueryOptimizer's rewrite."""
        self.read(name).createOrReplaceTempView(name)

    def register_all(self) -> None:
        """Re-attach every persisted MV in a fresh session."""
        for name in self.names():
            self._register(name)
