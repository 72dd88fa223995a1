"""What every workload part shares: the per-layer metric names, one
closed-loop operation (:class:`Op`) and the part protocol (:class:`Part`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

import harness

# Every per-layer metric with its unit. A run reports all of them; a layer
# the workload does not call reads 0.
LAYER_UNITS = {
    # service path (delta_service)
    "delta_stream.post_ms": "ms",
    "delta_stream.pickup_ms": "ms",
    "delta_stream.latest_offset_ms": "ms",
    "delta_stream.wal_commit_ms": "ms",
    "delta_stream.commit_offsets_ms": "ms",
    "service.add_batch_ms": "ms",
    "pipeline_import.jobs_per_batch": "count",
    "pipeline_import.stages_per_batch": "count",
    "files.files_per_batch": "count",
    # import pipeline (bulk_import)
    "pipeline_import.control_ms": "ms",
    "pipeline_import.unattributed_ms": "ms",
    "extract.extract_ms": "ms",
    "extract.pages": "count",
    "extract.error_pages": "count",
    "triage.triage_ms": "ms",
    "triage.valid": "count",
    "triage.invalid": "count",
    "triage.corrected": "count",
    "triage.dropped": "count",
    "triage.repair_ratio": "ratio",
    "files.write_ttl_ms": "ms",
    "files.files_written": "count",
    "files.bytes_written": "bytes",
    "files.partitions": "count",
    # incremental indexes (index_churn)
    "lexical_stream.ingest_ms": "ms",
    "ann_stream.ingest_ms": "ms",
    "lexical_stream.search_ms": "ms",
    "ann_stream.search_ms": "ms",
    "lexical_stream.search_jobs": "count",
    "lexical_stream.segments": "count",
    "ann_stream.segments": "count",
    "lexical_stream.delete_ms": "ms",
    "ann_stream.delete_ms": "ms",
    "lexical_stream.compact_ms": "ms",
    "ann_stream.compact_ms": "ms",
    "lexical_stream.index_files": "count",
    "ann_stream.index_files": "count",
    # batch operators (corpus_ops)
    **{f"{op}.{part}": unit
       for op in ("dedup.exact", "dedup.minhash", "dedup.simhash",
                  "similarity.cosine_topk", "text.stats")
       for part, unit in (("build_ms", "ms"), ("execute_ms", "ms"),
                          ("jobs", "count"))},
    # every workload: Spark totals per operation, peak memory of the
    # driver process tree, tracing overhead
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "session.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


@dataclass
class Op:
    """One step of the closed loop: its latency samples (one per request
    it made), what ``check`` needs, and its wall time if the step did more
    than the timed requests (``schedule_s`` sums it)."""

    samples_s: list[float]
    data: Any = None
    busy_s: float | None = None
    kind: str = ""

    @property
    def wall_s(self) -> float:
        return sum(self.samples_s) if self.busy_s is None else self.busy_s


class Part:
    """One half of a workload (e.g. the live service, or the bulk passes).
    Subclasses implement ``setup_round``, ``op`` and ``check`` and may
    override the rest."""

    name = ""

    def __init__(self, seed: int, state: str, tracer: harness.Tracer):
        self.seed = seed
        self.state = os.path.join(state, self.name)
        self.tracer = tracer
        self.spark = None

    def stop_round(self) -> None:
        pass

    def warm_up(self) -> None:
        pass

    def final_checks(self) -> tuple[int, int]:
        return 0, 0

    def layers(self, events: dict) -> dict:
        """This part's per-layer rows ``name → (value, samples)``."""
        return {}
