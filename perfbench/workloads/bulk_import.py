"""bulk_import: repeated ``run_import_pipeline(..., out_dir=...)`` passes.

Stresses ``operators.extract``, ``operators.triage`` and the
``sources.files`` sink; the per-batch overhead of ``plans.pipeline_import``
is a small share. Inputs: seeded RDFa pages in several tasks with dirty
typed literals (repaired or dropped by triage), null-body pages (error
rows) and pages shared by two tasks. Debug TTLs stay off, as in the
deployment default.

The traced operation composes the layers the way ``run_import_pipeline``
does (including ``codegen_barrier`` around ``triage``), with a cut after
each layer so each one's time can be read; what the layers do not cover
of that pass is reported as ``pipeline_import.unattributed_ms``. The
cuts add jobs, so the traced pass is slower than the plain one and is
left out of ``trace.overhead_pct``.
"""

from __future__ import annotations

import os
import shutil
import time
import urllib.parse

import gen
import harness
from workloads.base import Op, Part

PAGES_PER_TASK = (30, 35, 40, 45, 50)  # one task each, in seeded order
WARMUP_OPS = 2
KEYS = ("task_uri", "page_uri")


def read_ttl_tree(root: str) -> dict[str, list[str]]:
    """task uri → sorted N-Triples lines of a ``(task, page)``-partitioned
    TTL tree."""
    got: dict[str, list[str]] = {}
    for dp, _dn, fn in os.walk(root):
        parts = [p for p in fn if p.startswith("part-")]
        if not parts:
            continue
        keys = dict(seg.split("=", 1)
                    for seg in os.path.relpath(dp, root).split(os.sep))
        task = urllib.parse.unquote(keys["task_uri"])
        lines = got.setdefault(task, [])
        for p in parts:
            with open(os.path.join(dp, p)) as f:
                lines.extend(ln for ln in f.read().splitlines() if ln)
    return {t: sorted(v) for t, v in got.items()}


class BulkImport(Part):
    name = "bulk_import"

    def setup_round(self, spark, r: int) -> None:
        from harvesting_extract_to_ttl_service_spark.schema import TRIPLE_SCHEMA

        self.spark = spark
        self.ps = gen.make_pages(self.seed, gen.task_sizes(
            self.seed, len(PAGES_PER_TASK), PAGES_PER_TASK))
        inputs = os.path.join(self.state, f"inputs{r}")
        shutil.rmtree(inputs, ignore_errors=True)
        spark.createDataFrame(self.ps.pages,
                              "page_uri string, url string, html string"
                              ).write.parquet(f"{inputs}/pages")
        spark.createDataFrame(self.ps.control_rows(), TRIPLE_SCHEMA
                              ).write.parquet(f"{inputs}/control")
        self.pages = spark.read.parquet(f"{inputs}/pages")
        self.control = spark.read.parquet(f"{inputs}/control")
        self.expected = {t: self.ps.task_lines(t) for t in self.ps.tasks}
        self.layer_ms: dict[str, list[float]] = {}
        self.counts: dict[str, list[float]] = {}

    def warm_up(self) -> None:
        for i in range(WARMUP_OPS):
            if not self.check(self.op(-1 - i, False)):
                raise RuntimeError("warm-up pass produced wrong output")
        self.counts = {}

    def _out(self, i: int) -> str:
        return os.path.join(self.state, "out", f"pass{i}")

    def op(self, i: int, traced: bool) -> Op:
        from harvesting_extract_to_ttl_service_spark.plans.pipeline_import import (
            run_import_pipeline,
        )

        out = self._out(i)
        t0 = time.perf_counter()
        if traced:
            self._traced_pass(i, out)
        else:
            run_import_pipeline(self.control, self.pages, out_dir=out,
                                graph=gen.GRAPH)
        wall_ms = (time.perf_counter() - t0) * 1e3
        if traced:
            # what the four layer spans leave of the traced pass: the glue
            # between them (plan building, spill, joins, unpersist)
            layers = sum(v[-1] for k, v in self.layer_ms.items()
                         if k != "pipeline_import.unattributed_ms")
            self.layer_ms.setdefault("pipeline_import.unattributed_ms",
                                     []).append(wall_ms - layers)
        return Op([wall_ms / 1e3], (out, traced))

    def _traced_pass(self, i: int, out: str) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from harvesting_extract_to_ttl_service_spark.operators.extract import (
            extract_pages,
            spill_html_content,
        )
        from harvesting_extract_to_ttl_service_spark.operators.materialize import (
            codegen_barrier,
        )
        from harvesting_extract_to_ttl_service_spark.operators.triage import (
            triage,
            valid_triples,
        )
        from harvesting_extract_to_ttl_service_spark.plans.pipeline_import import (
            enumerate_pages,
            load_scheduled_tasks,
        )
        from harvesting_extract_to_ttl_service_spark.sources.files import (
            write_spilled_content,
            write_ttl,
        )

        sp, tr = self.spark, self.tracer
        marks = {}

        def timed(name, fn):
            t = time.perf_counter()
            with tr.span(name, i), harness.job_group(sp, name):
                res = fn()
            marks[name] = (time.perf_counter() - t) * 1e3
            return res

        def control():
            tasks = load_scheduled_tasks(self.control, gen.GRAPH)
            return enumerate_pages(tasks, self.control,
                                   gen.GRAPH).localCheckpoint()

        task_pages = timed("pipeline_import.control", control)

        def extract():
            pages = (task_pages.select("page_uri").distinct()
                     .join(self.pages.select("page_uri", "url", "html"),
                           "page_uri"))
            raw = extract_pages(pages, with_provenance=True).persist(
                StorageLevel.MEMORY_AND_DISK)
            row = raw.agg(F.countDistinct("page_uri").alias("pages"),
                          F.countDistinct(F.when(F.col("error").isNotNull(),
                                                 F.col("page_uri"))
                                          ).alias("errors")).first()
            return raw, row

        raw, erow = timed("extract", extract)
        extracted, spilled = spill_html_content(raw)
        extracted = extracted.join(F.broadcast(task_pages), "page_uri"
                                   ).withColumn("graph", F.lit(gen.GRAPH))

        def do_triage():
            t = codegen_barrier(triage(extracted.filter(
                F.col("error").isNull())), "triage").persist(
                StorageLevel.MEMORY_AND_DISK)
            row = t.agg(*[F.sum(F.when(c, 1).otherwise(0)).alias(n) for n, c in (
                ("valid", F.col("is_valid")),
                ("invalid", ~F.col("is_valid")),
                ("corrected", F.col("verdict") == "fixed"),
                ("dropped", F.col("verdict") == "dropped"))]).first()
            return t, row

        triaged, trow = timed("triage", do_triage)

        def write():
            write_ttl(valid_triples(triaged, extra_cols=KEYS),
                      f"{out}/valid", KEYS)
            write_spilled_content(spilled, f"{out}/content")

        timed("files.write_ttl", write)
        triaged.unpersist()
        raw.unpersist()
        for name, v in (("pipeline_import.control_ms",
                         marks["pipeline_import.control"]),
                        ("extract.extract_ms", marks["extract"]),
                        ("triage.triage_ms", marks["triage"]),
                        ("files.write_ttl_ms", marks["files.write_ttl"])):
            self.layer_ms.setdefault(name, []).append(v)
        for name, v in (("extract.pages", erow["pages"]),
                        ("extract.error_pages", erow["errors"]),
                        *((f"triage.{k}", trow[k]) for k in
                          ("valid", "invalid", "corrected", "dropped"))):
            self.counts.setdefault(name, []).append(v)

    def check(self, op: Op) -> bool:
        out, _traced = op.data
        ok = read_ttl_tree(f"{out}/valid") == self.expected
        files, nbytes, leaves = harness.dir_stats(out)
        for name, v in (("files.files_written", files),
                        ("files.bytes_written", nbytes),
                        ("files.partitions", leaves)):
            self.counts.setdefault(name, []).append(v)
        # the output stays until the state dir goes at the end of the run:
        # deleting files mid-run makes the file system discard their blocks
        # while the next operation is timed
        return ok

    def final_checks(self) -> tuple[int, int]:
        """The planted verdict counts, from the pipeline's own outputs:
        valid rows = passed + repaired, corrected = repaired, invalid =
        repaired + dropped, one error row per null-body (task, page)."""
        from harvesting_extract_to_ttl_service_spark.plans.pipeline_import import (
            run_import_pipeline,
        )

        res = run_import_pipeline(self.control, self.pages, graph=gen.GRAPH)
        p = self.ps.planted
        want = {"valid": p["valid"] + p["fixed"], "corrected": p["fixed"],
                "invalid": p["fixed"] + p["dropped"], "errors": p["errors"]}
        got = {k: res[k].count() for k in want}
        return 1, int(got != want)

    def layers(self, events: dict) -> dict:
        rows = {k: (harness.median(v), len(v)) for k, v in self.layer_ms.items()}
        rows.update({k: (harness.median(v), len(v))
                     for k, v in self.counts.items()})
        if "triage.invalid" in self.counts:
            inv = harness.median(self.counts["triage.invalid"])
            cor = harness.median(self.counts["triage.corrected"])
            rows["triage.repair_ratio"] = (cor / inv if inv else 0.0,
                                           len(self.counts["triage.invalid"]))
        return rows
