"""In-process kernel pass, untraced then traced, on one pinned core.

The traced pass wraps the public stage functions where
``trafilatura_spark.kernel.extract`` looks them up (plus
``kernel.metadata.extract_metadata`` and ``dom.Element.copy_tree``) and
records one span per call: name, start, end, parent span and document.
Spans stay in memory and are written out when the pass ends.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import time
from collections import Counter, defaultdict

# name as reported -> (module, attribute)
STAGES = {
    name: ("trafilatura_spark.kernel.extract", name)
    for name in (
        "load_html",
        "tree_cleaning",
        "convert_tags",
        "prune_unwanted_nodes",
        "extract_content",
        "extract_comments",
        "try_readability",
        "try_justext",
        "baseline",
        "html2txt_len",
        "xmltotxt",
    )
}
STAGES["extract_metadata"] = ("trafilatura_spark.kernel.metadata", "extract_metadata")
STAGES["copy_tree"] = ("trafilatura_spark.kernel.dom", "Element.copy_tree")
TIERS = ("main", "readability", "justext", "baseline", "escalation_recall", "escalation_justext", "discarded", "discarded_size")


class Spans:
    "Span recorder: (name, start, end, parent index, doc) per call."

    def __init__(self):
        self.records: list = []
        self._stack: list = []
        self.doc = None

    def wrap(self, name: str, fn):
        records, stack = self.records, self._stack

        def traced(*args, **kwargs):
            idx = len(records)
            records.append(None)
            parent = stack[-1] if stack else None
            stack.append(idx)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                records[idx] = (name, t0, time.perf_counter(), parent, self.doc)

        return traced

    def self_times(self) -> dict:
        "name -> (self seconds, calls); self time = duration minus children's."
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.records:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict = defaultdict(lambda: [0.0, 0])
        for idx, (name, t0, t1, _, _) in enumerate(self.records):
            out[name][0] += t1 - t0 - child[idx]
            out[name][1] += 1
        return out


def _patch(spans: Spans) -> list:
    undo = []
    for name, (module, attr) in STAGES.items():
        owner = importlib.import_module(module)
        if "." in attr:
            cls_name, attr = attr.split(".")
            owner = getattr(owner, cls_name)
        real = getattr(owner, attr)
        setattr(owner, attr, spans.wrap(name, real))
        undo.append((owner, attr, real))
    return undo


def kernel_pass(texts: list, options, cpu: int, spans_path: str) -> dict:
    """Untraced then traced pass of ``extract_one_result`` over ``texts``
    on CPU ``cpu``; returns the kernel per-layer metrics."""
    from trafilatura_spark.operators.extract import extract_one_result

    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {cpu})
    try:
        for text in texts:  # fill lazy caches so neither timed pass pays for them
            extract_one_result(text, options)
        lat, tiers = [], []
        c0, w0 = time.thread_time(), time.perf_counter()
        for text in texts:
            t0 = time.perf_counter()
            tiers.append(extract_one_result(text, options).tier)
            lat.append(time.perf_counter() - t0)
        cpu_s, untraced_wall = time.thread_time() - c0, time.perf_counter() - w0

        spans = Spans()
        undo = _patch(spans)
        try:
            w0 = time.perf_counter()
            for doc, text in enumerate(texts):
                spans.doc = doc
                extract_one_result(text, options)
            traced_wall = time.perf_counter() - w0
        finally:
            for owner, attr, real in reversed(undo):
                setattr(owner, attr, real)
    finally:
        os.sched_setaffinity(0, old)

    with open(spans_path, "w") as f:
        for rec in spans.records:
            f.write(json.dumps(rec) + "\n")
    n = len(texts)
    m = {
        "kernel.docs": n,
        "kernel.turns_per_core_s": n / cpu_s,
        "kernel.doc_ms_p50": 1000 * statistics.median(lat),
        "kernel.doc_ms_p99": 1000 * statistics.quantiles(lat, n=100, method="inclusive")[98],
        "trace.overhead": traced_wall / untraced_wall,
    }
    self_times = spans.self_times()
    for name in STAGES:
        self_s, calls = self_times.get(name, (0.0, 0))
        m[f"{name}.self_s"] = self_s
        m[f"{name}.calls"] = calls
    m["load_html.per_doc"] = m["load_html.calls"] / n
    m["copy_tree.per_doc"] = m["copy_tree.calls"] / n
    counts = Counter(tiers)
    for tier in TIERS:
        m[f"tier.{tier}.frac"] = counts.get(tier, 0) / n
    m["tier.other.frac"] = sum(c for t, c in counts.items() if t not in TIERS) / n

    # useful-work ratios: documents where the stage ran, and where its result was kept
    per_doc: dict = defaultdict(Counter)
    for name, _, _, _, doc in spans.records:
        per_doc[doc][name] += 1
    ran = lambda stage: [d for d, c in per_doc.items() if c[stage]]  # noqa: E731
    retried = [d for d, c in per_doc.items() if c["extract_content"] >= 2]
    ratios = {
        "readability": (ran("try_readability"), ("readability",)),
        "justext": (ran("try_justext"), ("justext", "escalation_justext")),
        "escalation": (retried, ("escalation_recall", "escalation_justext")),
    }
    for key, (base, kept) in ratios.items():
        ratio_name = "escalation.accept_ratio" if key == "escalation" else f"{key}.adopt_ratio"
        m[ratio_name] = sum(1 for d in base if tiers[d] in kept) / len(base) if base else 0.0
        m[f"{key}.attempts"] = len(base)
    return m
