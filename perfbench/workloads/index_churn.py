"""index_churn: incremental BM25 and IVF indexes under a seeded schedule.

Documents and their embeddings go into ``streaming.lexical_stream`` (BM25)
and ``streaming.ann_stream`` (IVF) in fixed-size batches. The schedule is
fixed by the step number (see the constants): every step appends one
batch to both indexes, deletes and minor compactions come at fixed steps,
and then the step answers QUERIES queries from both indexes. One latency
sample = one query answered by BM25 and by IVF. Writes sit beside reads,
so a change that speeds one side and slows the other shows: the queries
in ``latency_p50_ms``, the whole schedule (appends, deletes, compactions,
queries) in ``schedule_s``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import gen
import harness
from workloads.base import Op, Part

DIM = 32
N_CELLS = 8
N_PROBE = 2
N_BUCKETS = 8
K = 10
INITIAL_BATCHES = 1
BATCH = 100
QUERIES = 3  # per step
# the schedule, by step: append every step; in each CYCLE of steps, compact
# (minor fold) after the append at COMPACT_AT and delete at DELETE_AT
CYCLE = 2
COMPACT_AT = 0
DELETE_AT = 1
DELETES = 8  # documents per delete
MAX_BATCHES = 40  # more than one run appends
PARITY_QUERIES = 2


class IndexChurn(Part):
    name = "index_churn"

    def setup_round(self, spark, r: int) -> None:
        self.spark = spark
        n = BATCH * (INITIAL_BATCHES + MAX_BATCHES)
        self.docs = gen.make_documents(self.seed, n)
        self.vecs = {i: v for i, v, _l in gen.make_embeddings(
            self.seed, n, dim=DIM)}
        rng = random.Random(f"schedule:{self.seed}")
        self.queries = [rng.sample(gen.WORDS, rng.randint(2, 3))
                        for _ in range(1000)]
        self.del_rng = random.Random(f"deletes:{self.seed}")
        root = os.path.join(self.state, f"round{r}")
        shutil.rmtree(root, ignore_errors=True)
        self.bm25, self.ivf = f"{root}/bm25", f"{root}/ivf"
        # fixed centroids: the first vectors, as k-means would seed them
        self.centroids = [self.vecs[i] for i in range(N_CELLS)]
        self.live: set[int] = set()
        self.deleted: set[int] = set()
        self.n_batches = 0
        self.layer_ms: dict[str, list[float]] = {}
        for _ in range(INITIAL_BATCHES):
            self._append(None)
        self.step = 0

    def warm_up(self) -> None:
        """One step that runs every kind of call the schedule makes: an
        append, a delete, a compaction and the queries."""
        self._append(None)
        self._delete(None)
        self._compact(None)
        for j in range(QUERIES):
            lex, ann, _q = self._search(-1 - j, None)
            if {r[0] for r in lex + ann} & self.deleted:
                raise RuntimeError("warm-up search returned a deleted id")
        self.layer_ms = {}

    def _doc_df(self, ids):
        return self.spark.createDataFrame(
            [self.docs[i][:2] for i in ids], "doc_id long, text string")

    def _vec_df(self, ids):
        return self.spark.createDataFrame(
            [(i, self.vecs[i]) for i in ids],
            "vec_id long, embedding array<double>")

    def _call(self, name: str, op, fn, *args, **kw):
        """Run one layer call, traced (span + job group) when ``op`` is
        traced, and keep its wall time."""
        t = time.perf_counter()
        if op is None:
            res = fn(*args, **kw)
        else:
            with self.tracer.span(name, op), \
                    harness.job_group(self.spark, name):
                res = fn(*args, **kw)
        self.layer_ms.setdefault(name, []).append(
            (time.perf_counter() - t) * 1e3)
        return res

    def _append(self, op) -> None:
        from harvesting_extract_to_ttl_service_spark.streaming.ann_stream import (
            ivf_index_batch,
        )
        from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
            bm25_index_batch,
        )

        b = self.n_batches
        ids = range(b * BATCH, (b + 1) * BATCH)
        self._call("lexical_stream.ingest", op, bm25_index_batch,
                   self._doc_df(ids), b, self.bm25, n_buckets=N_BUCKETS)
        self._call("ann_stream.ingest", op, ivf_index_batch,
                   self._vec_df(ids), b, self.ivf, self.centroids)
        self.live.update(ids)
        self.n_batches += 1

    def _delete(self, op) -> None:
        from harvesting_extract_to_ttl_service_spark.streaming.ann_stream import (
            ivf_delete_vecs,
        )
        from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
            bm25_delete_docs,
        )

        gone = self.del_rng.sample(sorted(self.live), DELETES)
        self._call("lexical_stream.delete", op, bm25_delete_docs,
                   self.spark, self.bm25, gone, n_buckets=N_BUCKETS)
        self._call("ann_stream.delete", op, ivf_delete_vecs,
                   self.spark, self.ivf, gone)
        self.live.difference_update(gone)
        self.deleted.update(gone)

    def _compact(self, op) -> None:
        from harvesting_extract_to_ttl_service_spark.streaming.ann_stream import (
            compact_ivf_index,
        )
        from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
            compact_bm25_index,
        )

        self._call("lexical_stream.compact", op, compact_bm25_index,
                   self.spark, self.bm25, n_buckets=N_BUCKETS)
        self._call("ann_stream.compact", op, compact_ivf_index,
                   self.spark, self.ivf)

    def _search(self, q: int, op, n_probe=N_PROBE):
        """Query ``q``: seeded terms for BM25, a corpus vector for IVF."""
        from harvesting_extract_to_ttl_service_spark.streaming.ann_stream import (
            ivf_search,
        )
        from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
            bm25_search,
        )

        terms = self.queries[q % len(self.queries)]
        qvec = self.vecs[q * 7 % len(self.vecs)]
        lex = self._call("lexical_stream.search", op, lambda: [
            tuple(r) for r in bm25_search(self.spark, self.bm25, terms, k=K,
                                          n_buckets=N_BUCKETS).collect()])
        ann = self._call("ann_stream.search", op, lambda: [
            tuple(r) for r in ivf_search(self.spark, self.ivf, qvec,
                                         self.centroids, k=K,
                                         n_probe=n_probe).collect()])
        return lex, ann, qvec

    def op(self, i: int, traced: bool) -> Op:
        """Step ``k`` of the schedule: an append, the maintenance due at
        ``k``, then QUERIES queries, each timed as one latency sample."""
        op = i if traced else None
        k = self.step
        self.step += 1
        t0 = time.perf_counter()
        self._append(op)
        if k % CYCLE == DELETE_AT:
            self._delete(op)
        if k % CYCLE == COMPACT_AT:
            self._compact(op)
        samples, found = [], []
        for j in range(QUERIES):
            t = time.perf_counter()
            lex, ann, _q = self._search(k * QUERIES + j, op)
            samples.append(time.perf_counter() - t)
            found.append((lex, ann))
        return Op(samples, found, busy_s=time.perf_counter() - t0)

    def check(self, op: Op) -> bool:
        ids = {r[0] for lex, ann in op.data for r in lex + ann}
        return not ids & self.deleted

    def final_checks(self) -> tuple[int, int]:
        """BM25 top-k against ``operators.retrieval.bm25_topk`` over the
        live documents, and IVF with every cell probed against exact
        cosine top-k over the live vectors."""
        from harvesting_extract_to_ttl_service_spark.operators.retrieval import (
            bm25_topk,
        )

        failed = 0
        timed, self.layer_ms = self.layer_ms, {}
        live = sorted(self.live)
        docs = self._doc_df(live)
        for q in range(-PARITY_QUERIES, 0):
            lex, ann, qvec = self._search(q, None, n_probe=N_CELLS)
            want = [tuple(r) for r in bm25_topk(
                docs, self.queries[q], k=K).collect()]
            failed += lex != want or not _same_topk(ann, exact_cosine_topk(
                qvec, {i: self.vecs[i] for i in live}, K))
        self.stats = self._index_stats()
        self.layer_ms = timed
        return PARITY_QUERIES, int(failed)

    def _index_stats(self) -> dict:
        from harvesting_extract_to_ttl_service_spark.streaming.ann_stream import (
            ivf_index_stats,
        )
        from harvesting_extract_to_ttl_service_spark.streaming.lexical_stream import (
            bm25_index_stats,
        )

        b, v = bm25_index_stats(self.spark, self.bm25), ivf_index_stats(
            self.spark, self.ivf)
        return {"lexical_stream.segments": b["n_segments"] + b["n_unfolded"],
                "ann_stream.segments": v["n_segments"] + v["n_unfolded"],
                "lexical_stream.index_files": harness.dir_stats(self.bm25)[0],
                "ann_stream.index_files": harness.dir_stats(self.ivf)[0]}

    def layers(self, events: dict) -> dict:
        rows = {f"{k}_ms": (harness.median(v), len(v))
                for k, v in self.layer_ms.items()}
        rows.update({k: (v, 1) for k, v in self.stats.items()})
        g = events.get("lexical_stream.search")
        if g is not None:
            rows["lexical_stream.search_jobs"] = (
                g.jobs / max(len(self.tracer.durations_ms(
                    "lexical_stream.search")), 1), g.jobs)
        return rows


def exact_cosine_topk(q, vecs: dict, k: int) -> list[tuple[int, float]]:
    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    nq = norm(q)
    sims = [(i, round(sum(a * b for a, b in zip(v, q)) / (norm(v) * nq), 6))
            for i, v in vecs.items()]
    return sorted(sims, key=lambda t: (-t[1], t[0]))[:k]


def _same_topk(got, want, tol: float = 2e-6) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= tol for g, w in zip(got, want))
