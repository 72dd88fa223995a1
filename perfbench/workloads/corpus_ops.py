"""corpus_ops: passes over five batch operators of the catalog.

``dedup_exact_docs``, ``minhash_lsh_pairs``, ``simhash_pairs``,
``embedding_cosine_topk`` and ``text_stats``, resolved the way the
headline bench resolves them (the catalog entry, else the member function
on its catalog module), over seeded ``documents`` and ``embeddings``
tables. The only workload for ``operators.dedup``, ``operators.similarity``
and ``operators.text``, and for their eager ``localCheckpoint`` build
jobs. One operation = one pass: each operator's DataFrame is built (which
runs the eager checkpoint jobs) and collected.

Every pass is checked: against the entry's DuckDB oracle where one
exists (computed once per set-up round), otherwise against pass 1.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time

import gen
import harness
from workloads.base import Op, Part

N_DOCS = 500
N_VECS = 300
DIM = 64  # the catalog's embedding entries are written for 64 dimensions
WARMUP_OPS = 1
OPS = {  # catalog name → layer metric prefix
    "dedup_exact_docs": "dedup.exact",
    "minhash_lsh_pairs": "dedup.minhash",
    "simhash_pairs": "dedup.simhash",
    "embedding_cosine_topk": "similarity.cosine_topk",
    "text_stats": "text.stats",
}


def resolve(name: str):
    """A catalog entry by name, falling back to the member function on its
    catalog module when the entry was folded into a suite."""
    import __spark_entry__ as entry

    queries = entry.queries()
    if name in queries:
        return queries[name]
    for cat in entry._CATALOGS:
        if hasattr(cat, name):
            return getattr(cat, name)
    raise KeyError(name)


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def normalize(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, name-sorted, float-rounded rows."""
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(_cell(r[i]) for i in idx) for r in rows),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


class CorpusOps(Part):
    name = "corpus_ops"

    def setup_round(self, spark, r: int) -> None:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.spark = spark
        self.sf = os.path.join(self.state, f"round{r}", "sf")
        shutil.rmtree(self.sf, ignore_errors=True)
        os.makedirs(self.sf)
        docs = gen.make_documents(self.seed, N_DOCS)
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs], "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pa.array([d[4] for d in docs], pa.int64())}),
            f"{self.sf}/documents.parquet")
        vecs = gen.make_embeddings(self.seed, N_VECS, dim=DIM)
        pq.write_table(pa.table({
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs],
                                  pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in vecs], pa.int32())}),
            f"{self.sf}/embeddings.parquet")
        oracles = entry.oracle_sql()
        self.want: dict[str, list[tuple] | None] = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf}/{t}.parquet'")
            for name in OPS:
                if name in oracles:
                    res = con.execute(oracles[name])
                    self.want[name] = normalize(
                        [d[0] for d in res.description], res.fetchall())
                else:
                    self.want[name] = None  # set by the first pass
        finally:
            con.close()
        self.fns = {name: resolve(name) for name in OPS}
        self.layer_ms: dict[str, list[float]] = {}
        self.n_traced = 0

    def warm_up(self) -> None:
        for i in range(WARMUP_OPS):
            if not self.check(self.op(-1 - i, False)):
                raise RuntimeError("warm-up pass produced wrong output")
        self.layer_ms = {}

    def op(self, i: int, traced: bool) -> Op:
        def group(name):
            return (harness.job_group(self.spark, name) if traced
                    else contextlib.nullcontext())

        out = {}
        self.n_traced += traced
        t0 = time.perf_counter()
        for name, fn in self.fns.items():
            prefix = OPS[name]
            with self.tracer.span(prefix, i if traced else None):
                t = time.perf_counter()
                with group(f"{prefix}.build"):
                    df = fn(self.spark, self.sf)
                t1 = time.perf_counter()
                with group(f"{prefix}.execute"):
                    rows = df.collect()
                t2 = time.perf_counter()
            self.layer_ms.setdefault(f"{prefix}.build_ms", []).append(
                (t1 - t) * 1e3)
            self.layer_ms.setdefault(f"{prefix}.execute_ms", []).append(
                (t2 - t1) * 1e3)
            out[name] = (df.columns, rows)
        return Op([time.perf_counter() - t0], out)

    def check(self, op: Op) -> bool:
        ok = True
        for name, (cols, rows) in op.data.items():
            got = normalize(cols, rows)
            if self.want[name] is None:
                self.want[name] = got
            ok &= got == self.want[name]
        return ok

    def layers(self, events: dict) -> dict:
        rows = {k: (harness.median(v), len(v))
                for k, v in self.layer_ms.items()}
        for prefix in OPS.values():
            jobs = sum(events[g].jobs for g in
                       (f"{prefix}.build", f"{prefix}.execute") if g in events)
            rows[f"{prefix}.jobs"] = (jobs / max(self.n_traced, 1),
                                      self.n_traced)
        return rows
