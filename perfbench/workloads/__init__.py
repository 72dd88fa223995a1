"""The workloads. Each pairs two parts with the same protocol:

``setup_round(spark, r)``  build seeded inputs, start what the part needs
``warm_up()``              run warm-up operations (after the last round)
``op(i, traced)``          one closed-loop operation → :class:`Op`
``check(op)``              verify that operation's outputs (not timed)
``final_checks()``         end-of-run checks → (attempted, failed)
``stop_round()``           release what ``setup_round`` started
``layers(events)``         the part's per-layer rows (traced run)

(see :mod:`workloads.base`).

``service_import`` = the live service (delta_service) + bulk passes
(bulk_import); ``corpus_index`` = the incremental indexes (index_churn) +
the batch corpus operators (corpus_ops).
"""

from __future__ import annotations

import os

import harness
from workloads.base import LAYER_UNITS, Op, Part
from workloads.bulk_import import BulkImport
from workloads.corpus_ops import CorpusOps
from workloads.delta_service import DeltaService
from workloads.index_churn import IndexChurn

__all__ = ["LAYER_UNITS", "PASS_EVERY", "WORKLOADS", "Workload"]

# every PASS_EVERY-th step runs the secondary part's operation (a batch
# pass), the others the primary part's (the interactive operation)
PASS_EVERY = 2

class Workload:
    """A closed loop over two parts: every PASS_EVERY-th step runs the
    secondary part's operation, the others the primary part's. Every round
    sets up both on the same Spark session."""

    def __init__(self, name: str, seed: int, state: str,
                 tracer: harness.Tracer):
        primary, secondary, self.cycle_s = WORKLOADS[name]
        self.name = name
        self.parts = {"latency": primary(seed, state, tracer),
                      "pass": secondary(seed, state, tracer)}

    def setup_round(self, spark, r: int) -> None:
        for p in self.parts.values():
            os.makedirs(p.state, exist_ok=True)
            p.setup_round(spark, r)

    def warm_up(self) -> None:
        for p in self.parts.values():
            p.warm_up()

    def n_ops(self, seconds: float, trace: bool) -> int:
        """The fixed schedule length for ``seconds``: whole cycles of
        PASS_EVERY steps, as many as take about ``seconds`` on 4 cores. A
        fixed count, not a deadline, so every run sees the same sequence
        of index and service states whatever its speed."""
        cycles = max(2 if trace else 1, round(seconds / self.cycle_s))
        return cycles * PASS_EVERY

    def op(self, i: int, traced: bool) -> Op:
        kind = "pass" if i % PASS_EVERY == PASS_EVERY - 1 else "latency"
        op = self.parts[kind].op(i, traced)
        op.kind = kind
        return op

    def check(self, op: Op) -> bool:
        return self.parts[op.kind].check(op)

    def final_checks(self) -> tuple[int, int]:
        a = f = 0
        for p in self.parts.values():
            pa, pf = p.final_checks()
            a, f = a + pa, f + pf
        return a, f

    def stop_round(self) -> None:
        for p in self.parts.values():
            p.stop_round()

    @staticmethod
    def end_to_end(lat, schedule, setups, warm_s) -> dict:
        """Rows ``name → (value, unit, samples)``: the same names on every
        workload, so BENCHMARK.json lists one set. ``lat`` maps each kind
        to its operations' latencies (ms) and ``schedule`` holds the
        primary part's operations' wall times (s). ``setup_s`` is the
        median set-up round plus the warm-up that follows the last one."""
        return {
            "setup_s": (harness.median(setups) + warm_s, "s", len(setups)),
            "latency_p50_ms": (harness.median(lat["latency"]), "ms",
                               len(lat["latency"])),
            "pass_p50_ms": (harness.median(lat["pass"]), "ms",
                            len(lat["pass"])),
            "schedule_s": (sum(schedule), "s", len(schedule)),
        }

    def per_layer(self, events, lat, lat_traced, rss_kb) -> dict:
        """Every per-layer row: each part's own, Spark totals per operation
        from the event log, the peak resident memory of the driver process
        tree over the whole run, and the tracing overhead: the traced primary
        operations' median latency against the plain ones'. Only the
        primary operation counts there, because the traced bulk pass is
        composed differently from the plain one (see bulk_import)."""
        n_ops = max(sum(map(len, lat.values()))
                    + sum(map(len, lat_traced.values())), 1)
        tot = {k: sum(getattr(g, k) for g in events.values())
               for k in ("tasks", "shuffle_write_bytes", "spill_bytes",
                         "gc_ms")}
        rows = {k: (0.0, u, 0) for k, u in LAYER_UNITS.items()}
        for k, v in tot.items():
            rows[f"spark.{k}"] = (v / n_ops, LAYER_UNITS[f"spark.{k}"], n_ops)
        rows["session.peak_rss_mb"] = (rss_kb / 1024, "MB", 1)
        plain = harness.median(lat["latency"])
        traced = harness.median(lat_traced["latency"])
        rows["trace.overhead_pct"] = ((traced / plain - 1) * 100, "%",
                                      len(lat_traced["latency"]))
        for part in self.parts.values():
            for k, (v, n) in part.layers(events).items():
                rows[k] = (v, LAYER_UNITS[k], n)
        return rows


# workload name → (primary part, secondary part, seconds one cycle of
# PASS_EVERY steps takes on 4 cores)
WORKLOADS: dict[str, tuple[type[Part], type[Part], float]] = {
    "service_import": (DeltaService, BulkImport, 2.4),
    "corpus_index": (IndexChurn, CorpusOps, 7.0),
}
