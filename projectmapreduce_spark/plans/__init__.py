"""Plan-inspection helpers (SURVEY.md §4): verify that the physical
plan Catalyst picked is the one the 100 TB design calls for."""

from projectmapreduce_spark.plans.inspect import (
    count_shuffle_exchanges,
    executed_scan_metrics,
    explain_str,
    has_broadcast_hash_join,
    has_cartesian,
    has_dynamic_partition_pruning,
    has_partition_filters,
    has_partitionless_window,
    has_pushed_filters,
    has_wholestage_codegen,
    interpreted_expressions,
    physical_node_names,
)

__all__ = [
    "count_shuffle_exchanges",
    "executed_scan_metrics",
    "explain_str",
    "has_broadcast_hash_join",
    "has_cartesian",
    "has_dynamic_partition_pruning",
    "has_partition_filters",
    "has_partitionless_window",
    "has_pushed_filters",
    "has_wholestage_codegen",
    "interpreted_expressions",
    "physical_node_names",
]
