"""Per-trigger stage attribution, shared by every streaming trigger loop.

The r13 curation trigger grew a `StageClock` + persisted `_timings`
plane and the instrumentation found a tasks×shards sliver-file disease
within one round; r14 promotes the pattern to a shared module so other
trigger loops (the ANN lifecycle first) get the same attribution
surface without re-implementing the plane discipline:

- one JSON file per trigger under ``<root>/batch=<id>`` (atomic write,
  replay overwrites — convergent), pruned beyond the newest ``KEEP``
  batches: the plane is bounded observability, not durable state, so it
  ages like the reference's rolling metrics window
  (``S3ConnectorSourceMetrics.scala`` keeps gauges, not history) rather
  than growing with trigger count;
- string labels (e.g. a standalone forced refresh that has no batch id)
  write ``<root>/<label>`` as a single overwrite file, no pruning;
- all IO goes through ``state_io`` (object-store capable, like every
  other plane).
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional, Union

from spark_streaming_sql_s3_connector_spark.streaming import state_io

KEEP = 16  # bounded observability window — state stays O(1)


class StageClock:
    """Wall-clock stage accumulator for one trigger. ``with clock("x")``
    adds the elapsed seconds to stage ``x``; re-entering the same stage
    accumulates (replay overwrites the whole file, so convergent)."""

    def __init__(self) -> None:
        self.stages: dict[str, float] = {}
        self._t0 = time.monotonic()

    def __call__(self, stage: str):
        clock = self

        class _Span:
            def __enter__(self):
                self._s = time.monotonic()

            def __exit__(self, *exc):
                clock.stages[stage] = round(
                    clock.stages.get(stage, 0.0) + time.monotonic() - self._s, 4
                )
                return False

        return _Span()

    def total(self) -> float:
        return round(time.monotonic() - self._t0, 4)


def span(clock: Optional[StageClock], stage: str):
    """A no-op context when ``clock`` is None — call sites stay flat."""
    import contextlib

    return clock(stage) if clock is not None else contextlib.nullcontext()


def write_stage_timings(
    root: str, label: Union[int, str], clock: StageClock, keep: int = KEEP
) -> None:
    """Persist one trigger's per-stage wall seconds under ``root``.
    Integer labels write ``batch=<id>`` and prune beyond the newest
    ``keep`` ids; string labels write a single overwrite file."""
    state_io.makedirs(root)
    payload = dict(clock.stages)
    payload["total"] = clock.total()
    if isinstance(label, int):
        payload["batch_id"] = label
        state_io.write_text_atomic(
            os.path.join(root, f"batch={label}"),
            json.dumps(payload, sort_keys=True),
        )
        for b in [
            b for b in state_io.list_batch_ids(root) if b <= label - keep
        ]:
            state_io.remove_file(os.path.join(root, f"batch={b}"))
    else:
        state_io.write_text_atomic(
            os.path.join(root, label), json.dumps(payload, sort_keys=True)
        )


def read_stage_timings(
    root: str, label: Optional[Union[int, str]] = None
) -> Optional[dict]:
    """One trigger's per-stage wall seconds (the newest retained batch
    when ``label`` is None; a string reads that overwrite file), or
    None if never recorded."""
    if label is None:
        ids = state_io.list_batch_ids(root)
        if not ids:
            return None
        label = max(ids)
    name = f"batch={label}" if isinstance(label, int) else label
    try:
        return json.loads(state_io.read_text(os.path.join(root, name)))
    except FileNotFoundError:
        return None
