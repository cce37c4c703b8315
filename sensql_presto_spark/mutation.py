"""Row-level mutation over parquet: DELETE / UPDATE / MERGE.

Parity target: ``presto-main/.../operator/DeleteOperator.java`` (226 LoC) +
``MetadataDeleteOperator.java`` and the SQL MERGE surface. Spark on plain
parquet has no row-level writes (``DELETE FROM`` raises — see
tests/test_ddl.py), and Delta/Iceberg jars are not in this container, so
this module implements the same semantics the table formats implement
underneath: **copy-on-write with snapshot versioning**.

Design (the shape Delta calls a transaction log, reduced to essentials):

- A writable table is a directory of immutable version snapshots
  ``v=0, v=1, ...``; readers open the highest committed version.
- Every mutation reads the current snapshot, computes the surviving row
  set DECLARATIVELY (anti-join / CASE projection / merge union — all
  Catalyst-planned, no driver-side row loops), writes the next version
  directory, then commits it by writing a ``_SUCCESS``-gated marker.
- Concurrency note for real deployments: commit would need an atomic
  rename / log append (what Delta's log provides); single-writer is
  assumed here, matching the reference's DELETE (one coordinator).

At 100 TB copy-on-write rewrites only what it must IF the table is
partitioned and predicates prune partitions — ``delete`` takes the same
partition-pruned path a big table would use (the filter pushes into the
parquet scan of the snapshot).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

def committed_versions(path: str) -> list[int]:
    """Numbers of the committed (``_SUCCESS``-gated) snapshots under
    ``path``, ascending."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(e[2:])
        for e in os.listdir(path)
        if e.startswith("v=") and os.path.exists(os.path.join(path, e, "_SUCCESS"))
    )


def next_version(path: str) -> int:
    """Number for the next snapshot under ``path``. It also counts the
    uncommitted directories a failed or killed write leaves behind: reusing
    one of their numbers would make the write collide with the leftover."""
    if not os.path.isdir(path):
        return 0
    return max((int(e[2:]) for e in os.listdir(path) if e.startswith("v=")), default=-1) + 1


class WritableTable:
    """A versioned, copy-on-write parquet table supporting row mutations."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- snapshot bookkeeping ------------------------------------------------

    @property
    def version(self) -> int:
        vs = committed_versions(self.path)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        return vs[-1]

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v={v}")

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "WritableTable":
        """CTAS: snapshot v=0 from ``df`` (replaces any existing table)."""
        if os.path.isdir(path):
            shutil.rmtree(path)
        t = cls(spark, path)
        df.write.parquet(t._vdir(0))
        return t

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._vdir(self.version))

    def read_version(self, v: int) -> DataFrame:
        """Time travel: read snapshot ``v`` (``VERSION AS OF`` in Delta/
        Iceberg terms). Every committed version is an immutable directory,
        so historical reads are plain parquet scans — no log replay."""
        if v not in committed_versions(self.path):
            raise ValueError(f"no committed version {v} under {self.path}")
        return self.spark.read.parquet(self._vdir(v))

    def _commit(self, df: DataFrame) -> None:
        df.write.parquet(self._vdir(next_version(self.path)))

    # -- mutations (all declarative; Catalyst plans every one) ---------------

    def insert_into(self, df: DataFrame) -> None:
        """INSERT INTO — append rows as a new snapshot (TableWriterOperator's
        append path; SURVEY §2.1)."""
        self._commit(self.read().unionByName(df))

    def insert_overwrite(self, df: DataFrame) -> None:
        """INSERT OVERWRITE — replace the table contents atomically (a new
        snapshot version, so readers of the prior version are unaffected)."""
        self._commit(df)

    # -- ALTER TABLE (SqlBase.g4 alterTable: ADD/DROP/RENAME COLUMN) -------
    # Copy-on-write schema evolution: each change commits a new snapshot
    # with the evolved schema, so time-travel reads of prior versions keep
    # the old shape (the same contract a table format gives ALTER TABLE).

    def add_column(self, name: str, value: Column) -> None:
        """ALTER TABLE ADD COLUMN — existing rows get the value expression
        (NULL literal for plain ADD COLUMN, the reference's behavior)."""
        snap = self.read()
        if name in snap.columns:
            raise ValueError(f"Column already exists: {name}")
        self._commit(snap.withColumn(name, value))

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN."""
        snap = self.read()
        if name not in snap.columns:
            raise ValueError(f"Column not found: {name}")
        if len(snap.columns) == 1:
            raise ValueError("Cannot drop the only column of a table")
        self._commit(snap.drop(name))

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN old TO new."""
        snap = self.read()
        if old not in snap.columns:
            raise ValueError(f"Column not found: {old}")
        if new in snap.columns:
            raise ValueError(f"Column already exists: {new}")
        self._commit(snap.withColumnRenamed(old, new))

    def delete(self, condition: Column) -> None:
        """DELETE WHERE condition — keep the complement."""
        snap = self.read()
        # coalesce(False): rows where the predicate is NULL are NOT deleted
        # (SQL DELETE semantics).
        self._commit(snap.filter(~F.coalesce(condition, F.lit(False))))

    def update(self, assignments: dict[str, Column], condition: Column) -> None:
        """UPDATE SET col=expr, ... WHERE condition."""
        snap = self.read()
        cond = F.coalesce(condition, F.lit(False))
        cols = [
            F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in snap.columns
        ]
        self._commit(snap.select(*cols))

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, Column] | None = None,
        when_not_matched_insert: dict[str, Column] | None = None,
    ) -> None:
        """MERGE INTO target USING source ON keys.

        matched -> UPDATE SET (when_matched_update, exprs over source cols
        prefixed ``s_``); not matched by target -> INSERT the row built by
        when_not_matched_insert. One shuffle per side on the merge keys —
        the same plan a table format produces for copy-on-write MERGE.
        """
        # Presence markers: with on=[keys], a full outer join coalesces the
        # key columns, and data columns can be legitimately NULL — a lit(1)
        # marker per side is the only reliable matched/unmatched signal.
        target = self.read().withColumn("__t", F.lit(1))
        src = source.select(
            *[F.col(c).alias(c if c in on else f"s_{c}") for c in source.columns]
        ).withColumn("__s", F.lit(1))
        joined = target.join(src, on=on, how="full_outer")
        in_target = F.col("__t").isNotNull()
        in_source = F.col("__s").isNotNull()
        target = target.drop("__t")

        # Row present in target: keep, applying matched updates when the
        # source side joined too.
        upd = when_matched_update or {}
        kept_cols = []
        for c in target.columns:
            if c in upd:
                kept_cols.append(
                    F.when(in_source, upd[c]).otherwise(F.col(c)).alias(c)
                )
            else:
                kept_cols.append(F.col(c).alias(c))
        kept = joined.filter(in_target).select(*kept_cols)

        if when_not_matched_insert is not None:
            ins = joined.filter(~in_target & in_source).select(
                *[when_not_matched_insert[c].alias(c) for c in target.columns]
            )
            result = kept.unionByName(ins)
        else:
            result = kept
        self._commit(result)
