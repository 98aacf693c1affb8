"""Table registry (SURVEY.md §1.1: the reference models 'table = one source
file' as tuples ``(DataFrame, table_name, source_type, row_count,
col_count)`` — reference ``schema_manager.py:108-139``). A dataclass instead
of a bare tuple, same contract."""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")
_R = TypeVar("_R")


@dataclass
class TableHandle:
    df: DataFrame
    name: str
    source_type: str
    row_count: int
    col_count: int

    def as_tuple(self):
        """The reference's tuple shape, for drop-in compatibility."""
        return (self.df, self.name, self.source_type, self.row_count, self.col_count)


def map_tables(
    spark: SparkSession, fn: Callable[[_T], _R], items: Iterable[_T]
) -> list[_R]:
    """``[fn(x) for x in items]``, with the calls run concurrently on at
    most ``defaultParallelism`` threads of this driver.

    A sweep's tables are independent chains of small Spark jobs; run one
    after another, each job's driver-side planning and 1-task stage leave
    the other cores idle.  Spark schedules jobs submitted from several
    driver threads at once, so the chains overlap instead of queueing.
    Results keep ``items`` order.  When calls raise, every other call
    still runs to its end and the first failure in ``items`` order is
    re-raised."""
    items = list(items)
    if len(items) < 2:
        return [fn(x) for x in items]
    width = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as ex:
        # submit all, then collect after the pool drains: ``ex.map``'s
        # iterator would cancel the queued calls at the first raise
        futures = [ex.submit(fn, x) for x in items]
    return [f.result() for f in futures]
