"""Relational operator library (SURVEY §2.2–2.7).

Each operator is a named, generic, composable function over DataFrames —
declarative (Catalyst plans it) and oracle-checkable. Nothing here drops to
RDDs or Python UDFs.
"""

from f1_data_engineering_machine_learning_spark.operators.filters import (  # noqa: F401
    asof_filter,
    current_period_filter,
    trailing_window_filter,
)
from f1_data_engineering_machine_learning_spark.operators.aggregates import (  # noqa: F401
    conditional_avg,
    conditional_count,
    conditional_median,
    exact_median,
    scoped_agg_fanout,
)
from f1_data_engineering_machine_learning_spark.operators.joins import (  # noqa: F401
    anti_join,
    label_join,
    semi_join,
)
from f1_data_engineering_machine_learning_spark.operators.windows import (  # noqa: F401
    dedup_keep_last,
    top1_per_group,
    topk,
)
from f1_data_engineering_machine_learning_spark.operators.reshape import (  # noqa: F401
    pivot_agg,
    unpivot_melt,
)
from f1_data_engineering_machine_learning_spark.operators.scd import (  # noqa: F401
    scd2_build,
)
