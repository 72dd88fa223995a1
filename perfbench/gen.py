"""Seeded input generators for the benchmark workloads.

Everything here is plain Python driven by one ``random.Random(seed)``, so
the same seed gives byte-identical inputs, and every generator also
returns what the engine must produce from those inputs (the expected
N-Triples lines, the planted triage counts) so the workloads can check
outputs without trusting the engine to describe itself.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field

from harvesting_extract_to_ttl_service_spark.schema import (
    EXTRACTING_OPERATION,
    IMPORTING_OPERATION,
    PROV,
    RDF_TYPE,
    STATUS_SCHEDULED,
    TASK,
    TASK_TYPE,
    XSD_DATE,
    XSD_INTEGER,
)

ADMS_STATUS = "http://www.w3.org/ns/adms#status"
DCT_TITLE = "http://purl.org/dc/terms/title"
DCT_DATE = "http://purl.org/dc/terms/date"
SCHEMA_POSITION = "http://schema.org/position"
PROV_DERIVED = PROV + "wasDerivedFrom"
GRAPH = "http://mu.semte.ch/graphs/harvesting"

WORDS = ("key agg row scan slow fast table value part hash batch window "
         "spark order data column join small line customer query filter "
         "index page task delta graph triple store file share harvest "
         "decision mandate session agenda point vote council").split()


def _lit(v: str, dt: str | None = None) -> str:
    return f'"{v}"^^<{dt}>' if dt else f'"{v}"'


def _nt(s: str, p: str, o: str) -> str:
    return f"<{s}> <{p}> {o} ."


@dataclass
class PageSet:
    """Pages, the tasks that own them, and what a correct import writes.

    ``pages``: ``(page_uri, url, html)`` rows; ``html`` is None for a
    planted null-body page. ``tasks``: task uri → its page uris.
    ``expected``: page uri → the valid N-Triples lines of that page
    (repaired literals in fixed form, dropped ones absent, one provenance
    line per subject). ``planted``: triple counts per verdict, counted
    per (task, page) pair the way the pipeline's outputs count them."""

    pages: list[tuple[str, str, str | None]]
    tasks: dict[str, list[str]]
    expected: dict[str, list[str]]
    planted: dict[str, int] = field(default_factory=dict)

    def control_rows(self, tasks: list[str] | None = None) -> list[tuple]:
        """TRIPLE_SCHEMA rows scheduling ``tasks`` (all by default)."""
        rows = []
        for i, task in enumerate(tasks if tasks is not None else self.tasks):
            container = task.replace("/task/", "/container/")
            op = EXTRACTING_OPERATION if i % 2 else IMPORTING_OPERATION
            rows += [(task, RDF_TYPE, TASK_TYPE, "iri", None, None, GRAPH),
                     (task, ADMS_STATUS, STATUS_SCHEDULED, "iri", None, None,
                      GRAPH),
                     (task, TASK + "operation", op, "iri", None, None, GRAPH),
                     (task, TASK + "inputContainer", container, "iri", None,
                      None, GRAPH)]
            rows += [(container, TASK + "hasFile", p, "iri", None, None,
                      GRAPH) for p in self.tasks[task]]
        return rows

    def task_lines(self, task: str) -> list[str]:
        return sorted(ln for p in self.tasks[task] for ln in self.expected[p])


def _page(rng: random.Random, url: str, doc: str, dirty: float
          ) -> tuple[str, list[str], dict[str, int]]:
    """One RDFa page: 1-2 subjects, each with a title, a date and an
    integer. With probability ``dirty`` a date is written unpadded
    (``2023-5-7``, which triage repairs) and an integer is written as
    ``x12`` (which triage cannot repair and drops)."""
    html, lines = [], []
    counts = {"valid": 0, "fixed": 0, "dropped": 0}
    for s_i in range(rng.choice((1, 1, 2))):
        subj = f"http://data.example.org/doc/{doc}-{s_i}"
        title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
        y, m, d = rng.randint(2000, 2024), rng.randint(1, 12), rng.randint(1, 28)
        num = rng.randint(0, 9999)
        parts = [f'<span property="dct:title">{title}</span>']
        lines.append(_nt(subj, DCT_TITLE, _lit(title)))
        counts["valid"] += 1
        if rng.random() < dirty:
            d = rng.randint(1, 9)  # unpadded only differs below 10
            parts.append(f'<span property="dct:date" content="{y}-{m}-{d}" '
                         f'datatype="xsd:date">d</span>')
            counts["fixed"] += 1
        else:
            parts.append(f'<span property="dct:date" '
                         f'content="{y}-{m:02d}-{d:02d}" '
                         f'datatype="xsd:date">d</span>')
            counts["valid"] += 1
        lines.append(_nt(subj, DCT_DATE, _lit(f"{y}-{m:02d}-{d:02d}",
                                              XSD_DATE)))
        if rng.random() < dirty:
            parts.append(f'<span property="schema:position" content="x{num}" '
                         f'datatype="xsd:integer">n</span>')
            counts["dropped"] += 1
        else:
            parts.append(f'<span property="schema:position" content="{num}" '
                         f'datatype="xsd:integer">n</span>')
            lines.append(_nt(subj, SCHEMA_POSITION, _lit(str(num),
                                                         XSD_INTEGER)))
            counts["valid"] += 1
        lines.append(_nt(subj, PROV_DERIVED, f"<{url}>"))
        counts["valid"] += 1
        html.append(f'<div about="{subj}">{"".join(parts)}</div>')
    return "<html><body>" + "".join(html) + "</body></html>", lines, counts


def task_sizes(seed: int, n_tasks: int, mix: tuple[int, ...]) -> list[int]:
    """Page counts for ``n_tasks`` tasks: ``mix`` repeated, each repeat in
    a seeded order, so every seed draws the same sizes equally often."""
    rng = random.Random(f"sizes:{seed}")
    out: list[int] = []
    while len(out) < n_tasks:
        block = list(mix)
        rng.shuffle(block)
        out += block
    return out[:n_tasks]


def make_pages(seed: int, sizes: list[int], null_share: float = 0.04,
               dirty: float = 0.25, shared_share: float = 0.05,
               prefix: str = "t") -> PageSet:
    """One task per entry of ``sizes``, owning that many pages. A
    ``shared_share`` of each task's pages is taken from the previous task,
    so some pages belong to two tasks; a ``null_share`` of pages has a
    null body and yields an error row instead of triples."""
    rng = random.Random(f"pages:{seed}:{prefix}")
    pages, tasks, expected = [], {}, {}
    planted = {"valid": 0, "fixed": 0, "dropped": 0, "errors": 0}
    prev: list[str] = []
    pid = 0
    page_counts: dict[str, dict[str, int]] = {}
    for t, n in enumerate(sizes):
        task = f"http://data.example.org/task/{prefix}{seed}-{t}"
        n_shared = min(len(prev), int(round(n * shared_share)))
        own = rng.sample(prev, n_shared) if n_shared else []
        for _ in range(n - n_shared):
            uri = f"share://{prefix}{seed}/page-{pid}.html"
            url = f"http://data.example.org/page/{prefix}{seed}-{pid}"
            if rng.random() < null_share:
                html, lines, counts = None, [], None
            else:
                html, lines, counts = _page(rng, url, f"{prefix}{seed}-{pid}",
                                            dirty)
            pages.append((uri, url, html))
            expected[uri] = lines
            page_counts[uri] = counts
            own.append(uri)
            pid += 1
        tasks[task] = own
        prev = own
    for task, uris in tasks.items():
        for uri in uris:
            c = page_counts[uri]
            if c is None:
                planted["errors"] += 1
            else:
                for k, v in c.items():
                    planted[k] += v
    return PageSet(pages, tasks, expected, planted)


def delta_body(rng: random.Random, task: str, n_noise: int = 3) -> str:
    """One ``POST /delta`` body: unrelated inserts and deletes around the
    one insert that schedules ``task``."""
    def term(v, kind="uri"):
        return {"type": kind, "value": v}

    def noise():
        s = f"http://data.example.org/other/{rng.randint(0, 10**6)}"
        return {"subject": term(s), "predicate": term(DCT_TITLE),
                "object": term(rng.choice(WORDS), "literal")}

    inserts = [noise() for _ in range(n_noise)]
    inserts.insert(rng.randint(0, n_noise), {
        "subject": term(task), "predicate": term(ADMS_STATUS),
        "object": term(STATUS_SCHEDULED)})
    deletes = [noise() for _ in range(rng.randint(0, n_noise))]
    return json.dumps([{"inserts": inserts, "deletes": deletes}])


def make_documents(seed: int, n_docs: int, dup_share: float = 0.06,
                   near_share: float = 0.06) -> list[tuple]:
    """``(doc_id, text, lang, source, n_chars)`` rows shaped like the
    catalog's ``documents`` table, with an exact-duplicate share and a
    near-duplicate share (one word changed) so dedup finds pairs."""
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < dup_share:
            text = rng.choice(texts)
        elif texts and r < dup_share + near_share:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(12, 60)))
        texts.append(text)
    langs = ("en", "en", "en", "nl", "fr")
    return [(i, t, langs[i % len(langs)], f"src{i % 7}", len(t))
            for i, t in enumerate(texts)]


def make_embeddings(seed: int, n_vecs: int, dim: int = 64,
                    n_clusters: int = 8) -> list[tuple]:
    """``(vec_id, embedding, label)`` rows: unit vectors scattered around
    ``n_clusters`` seeded centres, float32-representable components."""
    rng = random.Random(f"vecs:{seed}")
    centres = [[rng.gauss(0, 1) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    for i in range(n_vecs):
        label = rng.randrange(n_clusters)
        v = [c + rng.gauss(0, 0.6) for c in centres[label]]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [float(_f32(x / n)) for x in v], label))
    return rows


def _f32(x: float) -> float:
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]
