"""Pipeline plans: the point-in-time snapshot engine and the incremental
ingestor (SURVEY §7 step 3)."""

from f1_data_engineering_machine_learning_spark.plans.snapshot import (  # noqa: F401
    SnapshotSpec,
    snapshot_single_pass,
)
from f1_data_engineering_machine_learning_spark.plans.ingest import (  # noqa: F401
    IncrementalIngestor,
)
