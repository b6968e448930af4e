"""Sources & sinks, organized by format (SURVEY §2.1).

Thin façade over ``io`` (single implementation, one import path per
format) — see ``io.py`` for the format-level semantics and the
Delta-vs-parquet fallback strategy.
"""

from f1_data_engineering_machine_learning_spark.io import (  # noqa: F401
    TESTDATA_TABLES,
    load_testdata,
    read_csv_all_string,
    read_sql_file,
    read_table,
    register_view,
    resolve_glob,
    vacuum,
    write_partition_slice,
    write_table_overwrite,
)
from f1_data_engineering_machine_learning_spark.sql_runner import (  # noqa: F401
    run_sql,
    run_sql_file,
)
from f1_data_engineering_machine_learning_spark.sources.f1_api import (  # noqa: F401
    F1ResultsDataSource,
    register as register_f1_source,
)
