"""Merge engine (SURVEY.md §2 Part A.2 W2-W6): per-table strategy selection
between upsert, full replace, and CTAS.

Strategy selection (W5, reference utils/merge_utils.py:22-68):
    key column found AND target exists  -> MERGE upsert (W2)
    target exists, no key               -> INSERT OVERWRITE (W3)
    target missing                      -> CTAS (W4)

W2 has two implementations:
- ``merge_sql``: the reference's ``MERGE INTO ... WHEN MATCHED UPDATE SET *
  WHEN NOT MATCHED INSERT *`` (reference utils/merge_utils.py:70-82) —
  requires a row-level-capable catalog (Iceberg/Delta with jars).
- ``merge_antijoin`` (default here, jar-free): target rows not matched by
  key are kept via left_anti, source rows win — semantically identical to
  UPDATE SET * / INSERT * when schemas align, which is exactly the
  reference's assumption (SURVEY.md §1.2 "schema evolution not
  implemented"). The result lands in a staging table that atomically
  replaces the target via RENAME, avoiding Spark's
  read-while-overwriting restriction.

Scale: the anti-join shuffles both sides by the key once; with a bucketed
target table the shuffle drops to the source side only. MERGE INTO on
Iceberg additionally gets file-level pruning on the ON predicate.

Jar status (verified 2026-08, round 5): no iceberg-spark-runtime /
delta-spark jar exists anywhere on this image (filesystem sweep + pyspark
jars dir) and the sandbox has no network (pip download fails to resolve),
so the SQL path cannot execute against row-level ops here. Verification
ladder instead: (1) statement text contract-tested, (2) parser-level test
proves the text produces a MergeIntoTable plan with update-star/
insert-star clauses and UPDATE,INSERT write privileges
(tests/test_merge.py::test_merge_sql_statement_parses_to_merge_into_plan),
(3) anti-join emulation proven equivalent to MERGE semantics against a
Python model. On a real cluster the statement analyzes/executes untouched.
"""

from __future__ import annotations

import contextlib
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

KEY_CANDIDATES = ("id", "product_id", "sku", "code", "_id")


def merge_sql_statement(target: str, key: str, source_view: str = "source_changes") -> str:
    """The MERGE INTO statement the SQL upsert path runs (reference
    utils/merge_utils.py:70-82). Exposed as a pure function so its text can
    be contract-tested even though executing it needs a row-level-capable
    catalog (Iceberg/Delta) that this sandbox can't install."""
    return (
        f"MERGE INTO {target} t\n"
        f"USING {source_view} s\n"
        f"ON t.{key} = s.{key}\n"
        f"WHEN MATCHED THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def find_key_column(df: DataFrame) -> Optional[str]:
    """W6 (reference utils/merge_utils.py:13-20): first candidate present."""
    cols = set(df.columns)
    for k in KEY_CANDIDATES:
        if k in cols:
            return k
    return None


class TableMerger:
    def __init__(
        self,
        spark: SparkSession,
        use_merge_sql: bool = False,
        versioned=None,
        create_versioned: bool = False,
    ):
        self.spark = spark
        self.use_merge_sql = use_merge_sql
        # with create_versioned=True a MISSING merge target is created
        # (and registered) on the versioned plane instead of the Spark
        # catalog — the "replicate this database into the lakehouse
        # format" topology.
        self.create_versioned = create_versioned
        # optional VersionedCatalog (catalog.py): targets registered
        # there route to the versioned-table verbs — the reference's
        # name-addressed merge flow (merge_to_minio.py:126-192) landing
        # on the jar-free table format, which gives the W5 strategies
        # what the saveAsTable plane can't: a REAL row-level MERGE
        # commit (zone-map file confinement, optional CDF/row-tracking)
        # instead of the anti-join staging swap, snapshot isolation for
        # INSERT OVERWRITE, and time travel over every merge run.
        self.versioned = versioned

    @contextlib.contextmanager
    def _temp_view(self, df: DataFrame, stem: str):
        """Register ``df`` as a temp view named for this call only: temp
        views are session-wide, and two merges running at once on one
        session must not replace or drop each other's source."""
        view = f"{stem}_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        try:
            yield view
        finally:
            self.spark.catalog.dropTempView(view)

    # -- W2 -----------------------------------------------------------------
    def _merge_sql(self, df: DataFrame, target: str, key: str) -> None:
        """Reference utils/merge_utils.py:70-82 (needs Iceberg/Delta)."""
        with self._temp_view(df, "source_changes") as view:
            self.spark.sql(merge_sql_statement(target, key, source_view=view))

    def _merge_antijoin(self, df: DataFrame, target: str, key: str) -> None:
        """Jar-free upsert: keep unmatched target rows, take all source
        rows; stage + rename for an atomic-enough swap."""
        target_df = self.spark.table(target)
        # .select(columns): the USING-join hoists the key column to the
        # front, which would silently rotate the stored column order any
        # time the key isn't the first column — MERGE INTO preserves the
        # target schema, so this path must too
        merged = (
            target_df.join(df, on=key, how="left_anti")
            .unionByName(df)
            .select(*target_df.columns)
        )
        stage = f"{target}__stage"
        merged.write.mode("overwrite").format("parquet").saveAsTable(stage)
        self.spark.sql(f"DROP TABLE IF EXISTS {target}")
        self.spark.sql(f"ALTER TABLE {stage} RENAME TO {target}")
        # the rename moves data files under the target's directory; any
        # cached FileIndex for the old table would list vanished part files
        self.spark.catalog.refreshTable(target)

    # -- W3 -----------------------------------------------------------------
    def _insert_overwrite(self, df: DataFrame, target: str) -> None:
        """Reference utils/merge_utils.py:84-93."""
        with self._temp_view(df, "source_data") as view:
            self.spark.sql(f"INSERT OVERWRITE TABLE {target} SELECT * FROM {view}")

    # -- W4 -----------------------------------------------------------------
    def _create_table(self, df: DataFrame, target: str) -> None:
        """Reference utils/merge_utils.py:95-105 (CTAS)."""
        with self._temp_view(df, "source_data") as view:
            self.spark.sql(
                f"CREATE TABLE {target} USING parquet AS SELECT * FROM {view}"
            )

    # -- W2/W3/W4 on the versioned plane --------------------------------------
    def _merge_versioned(
        self, df: DataFrame, target: str, path: str | None,
        key: str | None,
    ) -> dict:
        """The three W5 strategies against a name-registered versioned
        table (``path`` = the resolved binding, None for a
        to-be-created target): upsert (a real copy-on-write MERGE
        commit), overwrite (a snapshot-isolated INSERT OVERWRITE), or
        create+register (CTAS).  Every run is one atomic commit with
        full history."""
        from .versioned import read_version, versioned_upsert, versioned_write

        source_rows = df.count()
        if path is not None:
            if key is not None:
                strategy = "MERGE"
                versioned_upsert(df, path, [key])
            else:
                strategy = "INSERT_OVERWRITE"
                versioned_write(df, path, mode="overwrite")
        else:
            strategy = "CREATE_TABLE"
            path = self.versioned.default_path(target)
            versioned_write(df, path)
            self.versioned.register(target, path)
        final_rows = read_version(self.spark, path).count()
        return {
            "strategy": strategy,
            "source_rows": source_rows,
            "final_rows": final_rows,
        }

    # -- W5 -----------------------------------------------------------------
    def merge_table(
        self, df: DataFrame, target_table: str, target_exists: bool,
        key: str | None = None,
    ) -> dict:
        """Strategy selector (reference utils/merge_utils.py:22-68).
        Returns {strategy, source_rows, final_rows} like the reference.
        ``key`` overrides the reference's auto-detection candidate list.
        A target bound in the attached ``VersionedCatalog`` runs the
        same three strategies as versioned-table commits; a MISSING
        target is created on the versioned plane when
        ``create_versioned=True`` was set (else on the Spark catalog,
        the reference behavior)."""
        key = key or find_key_column(df)
        if self.versioned is not None:
            vpath = self.versioned.try_resolve(target_table)
            if vpath is not None or (
                self.create_versioned and not target_exists
            ):
                return self._merge_versioned(df, target_table, vpath, key)
        source_rows = df.count()
        if target_exists and key is not None:
            strategy = "MERGE"
            if self.use_merge_sql:
                self._merge_sql(df, target_table, key)
            else:
                self._merge_antijoin(df, target_table, key)
        elif target_exists:
            strategy = "INSERT_OVERWRITE"
            self._insert_overwrite(df, target_table)
        else:
            strategy = "CREATE_TABLE"
            self._create_table(df, target_table)
        self.spark.catalog.clearCache()  # reference utils/merge_utils.py:56
        self.spark.catalog.refreshTable(target_table)
        final_rows = self.spark.table(target_table).count()
        return {
            "strategy": strategy,
            "source_rows": source_rows,
            "final_rows": final_rows,
        }
