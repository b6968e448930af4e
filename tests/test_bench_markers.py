"""The repository benchmark's F1 stage markers name real callees.

``perfbench/workloads.py::stage_spans`` wraps every ``STAGE_MARKERS``
name with ``getattr(pipeline.run, name)``; a name that ``pipeline/run.py``
no longer has fails every ``f1_medallion`` op. The list is read from
the source with ``ast`` so the benchmark module is not imported."""

from __future__ import annotations

import ast
from pathlib import Path

from f1_data_engineering_machine_learning_spark.pipeline import run

WORKLOADS = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"


def _stage_markers() -> list[tuple[str, str]]:
    for node in ast.parse(WORKLOADS.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "STAGE_MARKERS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"no STAGE_MARKERS assignment in {WORKLOADS}")


def test_stage_markers_are_pipeline_run_attributes():
    markers = _stage_markers()
    assert markers
    missing = [name for name, _ in markers if not hasattr(run, name)]
    assert not missing, f"pipeline.run lacks benchmark stage markers {missing}"
