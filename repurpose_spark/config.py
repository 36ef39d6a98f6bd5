"""Engine configuration.

The reference's knobs (cellsize, imgbuffer, n_proc — img2ts.py:117-124,
:207-213, :242-249) map onto: ``n_cells`` (bucket count = analog of 5-deg
cells), ``batch`` boundaries (checkpoint granularity), and Spark's own
parallelism.  ``dt_seconds`` defines the derived per-token timestamp axis
``ts = epoch + pos * dt`` (SURVEY.md §7.0).

Only what several operators must agree on lives here.  Knobs with one
user are that user's arguments: salting is ``TierPipeline``'s
(``hot_cell_threshold``, ``salt_buckets``), the collocation window is
``collocate``'s ``tolerance_seconds``, storage is the ``Warehouse`` root
and the session's parquet codec.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)
EPOCH_NAIVE = datetime(2020, 1, 1)
EPOCH_STR = "2020-01-01 00:00:00"


@dataclass(frozen=True)
class EngineConfig:
    # cell bucketing (analog of repurpose 5-deg CellGrid, img2ts.py:242-249)
    n_cells: int = 64
    # derived time axis: token at position p of a doc gets ts = epoch + p*dt
    dt_seconds: int = 60
    epoch: str = EPOCH_STR


DEFAULT = EngineConfig()
