"""Physical-plan inspection helpers. See :mod:`.checks`."""

from .checks import (  # noqa: F401
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    has_rdd_scan,
    has_take_ordered,
    num_shuffles,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_count,
)
