"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real catalog lives in ``_spark_multi_format_data_lake_pipeline_spark/queries/``; this module just
surfaces it in the driver's shape.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from _spark_multi_format_data_lake_pipeline_spark.queries import QUERIES

# The driver's correctness gate samples the first 50 entries of ``queries()``
# per round.  To get every catalog query a driver-green row across rounds, we
# rotate: a small always-on core first, then queries whose implementation
# changed since their last green record (manually listed below), then every
# query the driver has never *verified*, then the already-verified rest.
#
# "Verified" is stricter than "appeared in a CORRECTNESS file": an entry only
# counts when rows/schema/hash all matched, or — for queries registered
# rows-only by design (no oracle) — when the driver recorded a row count
# without error.  Entries with any other ``err`` are treated as unchecked so
# a failed query automatically rotates back into the window next round.
# r17: two relational representatives (rollup + window family) joined
# the core so rotation can never empty analytic oracle coverage — the
# r16 PERF window-diff read as a mass "drop" when the recheck block
# displaced every analytic row.
_ALWAYS_ON = (
    "q01_pricing_summary",
    "q43_user_sessions",
    "q54_minhash_near_dup",
    "q12_rollup_sales",
    "q20_top3_orders_per_customer",
)

# Queries whose implementation changed after their most recent green driver
# record.  Keep in sync when editing query bodies: add the name here, remove
# it once a newer CORRECTNESS_r*.json shows it green again.
_RECHECK = (
    # Hash-green queries whose bodies or consumed helpers changed after
    # their latest green record.  Every r16 entry came back green in
    # CORRECTNESS_r16 and leaves per the removal rule.  The r17
    # OPTIMIZATION round touched: versioned_upsert / versioned_delete
    # (cow pin + dv) / versioned_update / versioned_apply_changes +
    # apply_cdc_batch (change-batch pin, concurrent CDF-feed write in
    # _write_snapshot), the identity/row-tracking id assignment
    # (operators/ids.py with_count + AQE-adaptive width), the
    # drain/replicate batch counting, pagerank's lineage cap, and the
    # probe-list caps in the point-lookup query bodies — every catalog
    # query consuming a changed branch re-proves below (derived by
    # scanning query sources for the changed verb names).  The staged
    # commit pipeline moved every metadata-only commit onto one manifest
    # builder: the rollback, rename and add-column-default queries
    # re-prove it (5 always-on + 45 recheck ≤ 50 slots).
    "q110_stable_ids",
    "q118_cdc_apply",
    "q156_nation_trade_pagerank",
    "q166_prefix_filter_neardup",
    "q222_versioned_upsert_changes",
    "q223_versioned_delete_rows",
    "q229_versioned_apply_cdc_state",
    "q230_versioned_history_audit",
    "q231_versioned_dv_delete",
    "q236_versioned_bucket_lookup",
    "q239_versioned_bloom_lookup",
    "q241_versioned_clone_upsert",
    "q244_versioned_conditional_merge",
    "q245_versioned_bloom_multi_lookup",
    "q246_versioned_compact_dv_zorder",
    "q247_versioned_rollback_append",
    "q248_versioned_branch_isolation",
    "q250_versioned_deep_clone_export",
    "q253_versioned_update_rows",
    "q257_versioned_merge_by_source",
    "q258_versioned_column_rename",
    "q260_versioned_identity_column",
    "q261_versioned_merge_schema_evolution",
    "q264_versioned_incremental_compact",
    "q265_versioned_concurrent_append_delete",
    "q267_versioned_metadata_aggregates",
    "q268_versioned_branch_merge_back",
    "q271_versioned_parquet_checkpoint",
    "q272_versioned_branch_merge_diverged",
    "q273_versioned_add_column_default",
    "q275_versioned_stream_drain",
    "q276_versioned_change_feed",
    "q277_versioned_stream_change_feed",
    "q278_versioned_ndv_registers",
    "q279_versioned_row_tracking",
    "q280_versioned_merge_cdf_row_tracking",
    "q281_versioned_feed_time_bounds",
    "q282_versioned_concurrent_disjoint_upserts",
    "q283_versioned_point_in_time_merge",
    "q284_versioned_named_merge",
    "q285_versioned_cdc_replication",
    "q286_versioned_branch_feed",
    "q287_versioned_database_replication",
    "q288_versioned_named_stream_landing",
    "q289_versioned_batch_drain",
)


# Queries registered AFTER this round's 50-slot window was already full
# of never-verified backlog: they deliberately wait exactly one round
# (first driver row in the next CORRECTNESS file). The backlog-fits test
# allows overflow ONLY for names listed here, so queueing stays an
# explicit decision, never silent. Each is already oracle-proven locally
# at sf0.01 AND sf0.1 (tools/check.py; PLANS.md round-5 records). Remove
# a name once a CORRECTNESS file shows it verified.
#
# r6: drained — the four r5-queued names (q177/q179/q180/q181) are still
# never-verified so they sit at the head of the fresh backlog and get
# their first driver rows this round without queueing.
_QUEUED = ()


def _is_verified(name: str, rec: dict) -> bool:
    if rec.get("err") == "no_oracle":
        rows_only = QUERIES[name].oracle is None
        return rows_only and rec.get("spark_rows") is not None
    return (
        rec.get("rows_match") is True
        and rec.get("schema_match") is True
        and rec.get("hash_match") is True
    )


def _rotated_names() -> list[str]:
    verified: set[str] = set()
    try:
        for path in sorted(Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")):
            for name, rec in json.loads(path.read_text()).items():
                if name in QUERIES and isinstance(rec, dict) and _is_verified(name, rec):
                    verified.add(name)
    except Exception:  # pragma: no cover - any parse issue → registry order
        return list(QUERIES)
    names = list(QUERIES)
    core = [n for n in _ALWAYS_ON if n in QUERIES]
    recheck = [n for n in _RECHECK if n in QUERIES and n not in core]
    head = set(core) | set(recheck)
    fresh = [n for n in names if n not in verified and n not in head]
    rest = [n for n in names if n in verified and n not in head]
    return core + recheck + fresh + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    return QUERIES["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in _rotated_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _rotated_names()
        if QUERIES[name].oracle is not None
    }
