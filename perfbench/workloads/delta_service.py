"""delta_service: the live service, driven over HTTP.

``service.run_service`` runs with a live (default micro-batch) trigger. One
client POSTs ``/delta`` bodies over one HTTP connection; each body holds
unrelated inserts and deletes plus one scheduled-task insert, whose task
owns a small, seeded number of pages. The client waits, through
``on_batch``, for the batch that imports that task, then sends the next
body (closed loop). One operation = POST sent → that task's batch done.

Stresses ``streaming.delta_stream`` and the fixed per-micro-batch cost of
``plans.pipeline_import`` (Spark jobs and plan analysis for ~20 small
pages); barely touches ``extract``, ``triage`` and the sink.
"""

from __future__ import annotations

import datetime as dt
import http.client
import os
import random
import shutil
import threading
import time

import gen
import harness
from workloads.base import Op, Part
from workloads.bulk_import import read_ttl_tree

# task sizes come in blocks, each a seeded order of PAGES_PER_TASK; the
# warm-up uses the first block and the timed deltas start with the second,
# so every whole block of timed deltas has the same sizes on every seed
PAGES_PER_TASK = (8, 12, 16, 20, 24)
N_TASKS = 60  # more than one run can schedule
WARMUP_OPS = 3
BATCH_DEADLINE_S = 30.0


class DeltaService(Part):
    name = "delta_service"

    def setup_round(self, spark, r: int) -> None:
        from harvesting_extract_to_ttl_service_spark.schema import TRIPLE_SCHEMA
        from harvesting_extract_to_ttl_service_spark.service import run_service

        self.spark = spark
        self.ps = gen.make_pages(self.seed, gen.task_sizes(
            self.seed, N_TASKS, PAGES_PER_TASK), prefix="d")
        self.task_list = list(self.ps.tasks)
        self.next_task = 0
        self.rng = random.Random(f"deltas:{self.seed}")
        root = os.path.join(self.state, f"round{r}")
        shutil.rmtree(root, ignore_errors=True)
        spark.createDataFrame(self.ps.pages,
                              "page_uri string, url string, html string"
                              ).write.parquet(f"{root}/pages")
        spark.createDataFrame(self.ps.control_rows(), TRIPLE_SCHEMA
                              ).write.parquet(f"{root}/control")
        self.out = f"{root}/out"
        self.batches: list[tuple[int, float]] = []  # (batch id, done at)
        self.batch_done = threading.Condition()
        self.acks: dict[int, float] = {}  # op → POST acknowledged (epoch s)
        self.op_batch: dict[int, int] = {}
        self.handle = run_service(
            spark, spark.read.parquet(f"{root}/control"),
            spark.read.parquet(f"{root}/pages"),
            stream_dir=f"{root}/stream", checkpoint=f"{root}/checkpoint",
            out_dir=self.out, graph=gen.GRAPH, trigger_available_now=False,
            on_batch=self._on_batch)
        self.conn = http.client.HTTPConnection("127.0.0.1", self.handle.port,
                                               timeout=BATCH_DEADLINE_S)

    def warm_up(self) -> None:
        for i in range(WARMUP_OPS):
            if not self.check(self.op(-1 - i, False)):
                raise RuntimeError("warm-up delta produced wrong output")
        self.next_task = len(PAGES_PER_TASK)

    def _on_batch(self, _res, batch_id: int) -> None:
        with self.batch_done:
            self.batches.append((batch_id, time.perf_counter()))
            self.batch_done.notify_all()

    def op(self, i: int, traced: bool) -> Op:
        task = self.task_list[self.next_task]
        self.next_task += 1
        body = gen.delta_body(self.rng, task).encode()
        seen = len(self.batches)
        t0 = time.perf_counter()
        with self.tracer.span("delta_stream.post", i):
            self.conn.request("POST", "/delta", body,
                              {"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            resp.read()
        self.acks[i] = time.time()
        if resp.status != 200:
            raise RuntimeError(f"POST /delta answered {resp.status}")
        deadline = t0 + BATCH_DEADLINE_S
        q = self.handle.query
        with self.batch_done:
            while len(self.batches) == seen:
                if not q.isActive or q.exception() is not None:
                    raise RuntimeError(f"import stream died: {q.exception()}")
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError("no batch for the delta in time")
                self.batch_done.wait(min(left, 0.5))
            batch_id, done = self.batches[seen]
        self.op_batch[i] = batch_id
        return Op([done - t0], task)

    def check(self, op: Op) -> bool:
        got = read_ttl_tree(f"{self.out}/valid")
        return got.get(op.data, []) == self.ps.task_lines(op.data)

    def stop_round(self) -> None:
        h = getattr(self, "handle", None)
        if h is not None:
            self.progress = list(h.query.recentProgress)
            self.conn.close()
            h.stop()
            self.handle = None

    def layers(self, events: dict) -> dict:
        by_batch = {p["batchId"]: p for p in self.progress}
        cols = {"delta_stream.latest_offset_ms": "latestOffset",
                "delta_stream.wal_commit_ms": "walCommit",
                "delta_stream.commit_offsets_ms": "commitOffsets",
                "service.add_batch_ms": "addBatch"}
        rows: dict = {}
        timed = [b for o, b in self.op_batch.items() if o >= 0]
        for name, key in cols.items():
            v = [by_batch[b]["durationMs"].get(key, 0) for b in timed
                 if b in by_batch]
            rows[name] = (harness.median(v), len(v))
        pickup = []
        for o, b in self.op_batch.items():
            if o >= 0 and b in by_batch:
                start = dt.datetime.fromisoformat(
                    by_batch[b]["timestamp"].replace("Z", "+00:00"))
                pickup.append((start.timestamp() - self.acks[o]) * 1e3)
        rows["delta_stream.pickup_ms"] = (harness.median(pickup), len(pickup))
        post = self.tracer.durations_ms("delta_stream.post")
        rows["delta_stream.post_ms"] = (harness.median(post), len(post))
        # the stream runs its batches under a job group named by its run id
        runs = [g for g in events.values()
                if any(d and "batch = " in d for d in g.descriptions)]
        n_batches = len(timed)
        if runs and n_batches:
            g = runs[-1]
            rows["pipeline_import.jobs_per_batch"] = (g.jobs / n_batches,
                                                      n_batches)
            rows["pipeline_import.stages_per_batch"] = (g.stages / n_batches,
                                                        n_batches)
        files, _b, _l = harness.dir_stats(f"{self.out}/valid")
        rows["files.files_per_batch"] = (files / max(len(self.batches), 1),
                                         len(self.batches))
        return rows
