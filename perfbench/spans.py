"""In-process span recorder for the single-thread parse layers.

``Tracer.patch`` wraps public functions of the parser modules with span
recorders for the life of a ``with`` block and restores them on exit.
Spans nest by call order (the parse path is single-threaded), so a span's
self time is its duration minus the durations of its direct children.
Spans are kept in memory and summarised when the sample ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict

# pdflike stage -> (module, attribute) pairs the pipeline calls through.
# ``pipeline`` imports some stage functions by name, so those are patched
# on the pipeline module, which is where the call resolves them.
_PDF = "bella_domify_spark.parsers.pdflike."
PDFLIKE_STAGES = {
    "glyphdoc.load_doc": [(_PDF + "glyphdoc", "load_doc")],
    "docscan": [(_PDF + "docscan", n) for n in (
        "identify_header_footer", "detect_cover", "parse_catalog",
        "mark_titles_from_catalog")],
    "sections": [(_PDF + "pipeline", "calculate_margin"),
                 (_PDF + "pipeline", "parse_sections")],
    "tables": [(_PDF + "tables", "parse_lattice_tables"),
               (_PDF + "tables", "parse_stream_tables")],
    "cluster": [(_PDF + "pipeline", "sort_in_reading_order_plus")],
    "paragraphs": [(_PDF + "pipeline", n) for n in (
        "join_lines_vertically", "_split_blocks", "identify_titles",
        "adjust_last_word")],
    "metadata": [(_PDF + "metadata", "parse_text_styles"),
                 (_PDF + "metadata", "parse_alignment_spacing")],
    "treebuild.construct_relations": [(_PDF + "pipeline",
                                       "construct_relations")],
    "treebuild.build_tree": [(_PDF + "pipeline", "build_tree")],
}
TREE = {
    "tree.to_markdown": ("bella_domify_spark.core.tree", "DomTree",
                         "to_markdown"),
    "tree.to_json": ("bella_domify_spark.core.tree", "DomTree", "to_json"),
}
ROOT = "pdflike"  # pipeline.parse: the pdflike layer as a whole


class Tracer:
    """Records (name, start, end, parent) spans; computes self times."""

    def __init__(self):
        self.spans = []   # [name, t0, t1, parent_index]
        self._stack = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapped

    @contextlib.contextmanager
    def patch(self):
        """Wrap every pdflike stage, the pdflike root and the tree
        serializers for the duration of the block."""
        saved = []
        targets = [(name, mod, attr) for name, pairs in PDFLIKE_STAGES.items()
                   for mod, attr in pairs]
        targets.append((ROOT, _PDF + "pipeline", "parse"))
        try:
            for name, mod, attr in targets:
                m = importlib.import_module(mod)
                saved.append((m, attr, getattr(m, attr)))
                setattr(m, attr, self.wrap(name, getattr(m, attr)))
            for name, (mod, cls, attr) in TREE.items():
                c = getattr(importlib.import_module(mod), cls)
                saved.append((c, attr, c.__dict__[attr]))
                setattr(c, attr, self.wrap(name, c.__dict__[attr]))
            yield self
        finally:
            for obj, attr, orig in reversed(saved):
                setattr(obj, attr, orig)

    def self_times(self) -> dict:
        """name -> summed self time (s)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out = defaultdict(float)
        for i, (name, t0, t1, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def totals(self) -> dict:
        """name -> summed inclusive duration (s)."""
        out = defaultdict(float)
        for name, t0, t1, _ in self.spans:
            out[name] += t1 - t0
        return dict(out)


class _Span:
    __slots__ = ("tr", "name", "idx")

    def __init__(self, tr: Tracer, name: str):
        self.tr, self.name = tr, name

    def __enter__(self):
        tr = self.tr
        parent = tr._stack[-1] if tr._stack else None
        self.idx = len(tr.spans)
        tr.spans.append([self.name, time.perf_counter(), None, parent])
        tr._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.tr.spans[self.idx][2] = time.perf_counter()
        self.tr._stack.pop()
        return False
