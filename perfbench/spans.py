"""In-memory spans and the kernel wrappers that record them.

A span is (name, start, end, parent, doc): `parent` is the index of the
enclosing span or -1, `doc` the document the work belongs to. Spans stay
in a list until the run ends, then are written out as JSON lines.

Self time of a span is its duration minus the part of its interval that
its child spans cover (children are clipped to the parent and overlapping
children are counted once).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from collections import defaultdict

# layer name -> (module, attribute path) of the public functions the
# fused extract_document chain calls; each is wrapped in place
KERNEL_TARGETS = {
    "kernels.decode": [("kraken_spark.kernels.imgio", "decode_image"),
                       ("kraken_spark.kernels.png", "to_grayscale")],
    "kernels.nlbin": [("kraken_spark.kernels.binarize", "nlbin")],
    "kernels.pageseg": [("kraken_spark.kernels.pageseg", "segment")],
    "kernels.blla": [("kraken_spark.kernels.blla", "segment_blla")],
    "kernels.lineextract": [("kraken_spark.kernels.lineextract", "extract_line"),
                            ("kraken_spark.kernels.lineextract", "extract_line_dewarped")],
    "kernels.recognize": [("kraken_spark.kernels.recognizer", "recognize_page")],
    "kernels.rpred": [("kraken_spark.kernels.rpred_parity", "LoadedRecognizer.recognize_lines")],
    "kernels.htmlparse": [("kraken_spark.kernels.htmlparse", "seg_from_html")],
    "kernels.ro": [("kraken_spark.kernels.ro", "neural_reading_order")],
    "kernels.cer": [("kraken_spark.kernels.metrics", "cer")],
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.doc: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None,
                           self._stack[-1] if self._stack else -1, self.doc])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, doc in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "doc": doc}) + "\n")


def _covered(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of child intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list) -> dict[str, float]:
    """Total self seconds per span name."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, start, end, parent, _doc in spans:
        if parent >= 0:
            kids[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for i, (name, start, end, _parent, _doc) in enumerate(spans):
        out[name] += (end - start) - _covered(start, end, kids.get(i, []))
    return dict(out)


class KernelWrappers:
    """Span wrappers for every KERNEL_TARGETS function, resolved once;
    `with` installs them in place and restores the originals on exit."""

    def __init__(self, tracer: Tracer) -> None:
        self._slots = []
        for name, targets in KERNEL_TARGETS.items():
            for module, attr in targets:
                owner = importlib.import_module(module)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = owner.__dict__[leaf]
                self._slots.append((owner, leaf, orig, tracer.wrap(name, orig)))

    def __enter__(self) -> "KernelWrappers":
        for owner, leaf, _orig, traced in self._slots:
            setattr(owner, leaf, traced)
        return self

    def __exit__(self, *exc) -> None:
        for owner, leaf, orig, _traced in self._slots:
            setattr(owner, leaf, orig)
