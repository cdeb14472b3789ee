"""Physical-plan inspection utilities (scale-correctness gates).

The reference has no optimizer to inspect (SURVEY.md §4); on Spark the
plan IS the performance contract at 100 TB, so these helpers make plan
shape testable: filters reached the scan, projections pruned columns,
small dims broadcast, top-k avoided a global sort, hot paths stayed in
whole-stage codegen.
"""

from bigdatasearchpro_spark.plans.inspect import (  # noqa: F401
    exchange_kinds,
    file_scan_count,
    executed_plan,
    has_broadcast_join,
    partition_filters,
    has_take_ordered,
    in_memory_scan_count,
    pushed_filters,
    read_schema,
    shuffle_count,
    wholestage_codegen_count,
    wide_shuffle_count,
    wide_sort_count,
)
