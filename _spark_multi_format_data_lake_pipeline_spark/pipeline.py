"""Top-level pipeline entry points mirroring the reference's two executables
(SURVEY.md §3.1 ``main.py`` ingestion flow, §3.2 ``merge_to_minio.py``
catalog-to-catalog merge), as library functions.

Differences from the reference, on purpose:
- no interactive ``input()`` pause, no destructive bucket wipe by default;
- the per-file/per-table error isolation and the printed-report shapes are
  kept (they're the reference's de-facto contract).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from .catalog import CatalogManager
from .registry import TableHandle, map_tables
from .sinks.merge import TableMerger
from .sinks.writer import verify_tables, write_tables
from .sources.readers import load_all_sources


@dataclass
class IngestionReport:
    tables: list[TableHandle] = field(default_factory=list)
    written: dict[str, int] = field(default_factory=dict)
    verification: dict[str, dict] = field(default_factory=dict)
    total_rows: int = 0
    total_cols: int = 0
    elapsed_sec: float = 0.0

    @property
    def rows_per_sec(self) -> float:
        """Reference main.py:253-254 throughput figure."""
        return self.total_rows / self.elapsed_sec if self.elapsed_sec else 0.0


def run_ingestion(
    spark: SparkSession,
    data_dir: str | Path,
    database: str = "local_db",
    partition_by: dict[str, list[str]] | None = None,
    versioned=None,
) -> IngestionReport:
    """§3.1 flow: sweep data_dir → per-file tables → drop/recreate the
    staging database → write all tables → verify. Per-file failures are
    isolated inside load_all_sources.  With ``versioned`` (a
    ``catalog.VersionedCatalog``) the ingestion lands each table as an
    atomic versioned-table snapshot registered as ``database.name``
    instead of ``saveAsTable`` — see ``sinks/writer.py::write_tables``.

    Inside each phase (read, write, verify) the tables run concurrently,
    at most ``defaultParallelism`` at a time; the phases still run one
    after another.  ``tables``, ``written`` and ``verification`` keep
    sweep order.  A failed write or verify raises after the phase's
    other tables finish (the first failure in sweep order)."""
    t0 = time.time()
    report = IngestionReport()
    report.tables = load_all_sources(spark, data_dir)
    report.total_rows = sum(h.row_count for h in report.tables)
    report.total_cols = sum(h.col_count for h in report.tables)
    report.written = write_tables(
        spark,
        report.tables,
        database=database,
        partition_by=partition_by,
        versioned=versioned,
    )
    report.verification = verify_tables(spark, database, versioned=versioned)
    for h in report.tables:
        h.df.unpersist()
    report.elapsed_sec = time.time() - t0
    return report


def run_merge(
    spark: SparkSession,
    source_db: str,
    target_db: str,
    use_merge_sql: bool = False,
    versioned=None,
    create_versioned: bool = False,
) -> dict[str, dict]:
    """§3.2 flow: enumerate source tables → per-table strategy merge into
    the target database with per-table error isolation → recount.
    Returns {table: merge-result-or-error}, in ``list_tables`` order.

    The tables merge concurrently, at most ``defaultParallelism`` at a
    time; a table whose merge raises reports ``{"strategy": "ERROR"}``
    and never stops the others (reference merge_to_minio.py:189-192).

    ``versioned`` (an optional ``catalog.VersionedCatalog``) extends the
    flow across BOTH naming planes: source enumeration and reads union
    the Spark catalog with the registry, and a target name bound there
    merges through the versioned-table verbs (real copy-on-write MERGE
    commits with history) instead of the anti-join staging swap —
    ``create_versioned=True`` additionally lands MISSING targets on the
    versioned plane, which is the "replicate a database into the
    lakehouse format" topology of the reference's merge_to_minio.py."""
    cat = CatalogManager(spark, versioned=versioned)
    cat.create_database(target_db)
    merger = TableMerger(
        spark,
        use_merge_sql=use_merge_sql,
        versioned=versioned,
        create_versioned=create_versioned,
    )

    def merge_one(tbl: str) -> dict:
        target = f"{target_db}.{tbl}"
        try:
            df = cat.table(f"{source_db}.{tbl}")
            exists = cat.table_exists(target)
            return merger.merge_table(df, target, exists)
        except Exception as e:  # noqa: BLE001 — reference merge_to_minio.py:189-192
            return {"strategy": "ERROR", "error": str(e)[:200]}

    tables = cat.list_tables(source_db)
    return dict(zip(tables, map_tables(spark, merge_one, tables)))
