from .inspect import (
    executed_plan,
    has_row_python,
    plan_shape,
    pushed_filters,
    python_node_count,
    read_schema,
    unpartitioned_windows,
)

__all__ = [
    "executed_plan",
    "has_row_python",
    "plan_shape",
    "pushed_filters",
    "python_node_count",
    "read_schema",
    "unpartitioned_windows",
]
