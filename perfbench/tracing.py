"""Spans recorded by the benchmark, and the single-core pure-layer replay.

A span is ``{id, parent, name, start, end, counts}``; spans stay in
memory and are written once, when the run ends.  The replay runs
``pure.pipeline.extract_page`` in the driver over the same pages the
Spark passes extract.  With ``layers=True`` the public functions the
pipeline reaches are wrapped for the duration of the replay, so each
layer's self time (its time minus the wrapped calls it made) is
measured; the wrappers are removed before the replay returns.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

# layer → public functions (module, name) that make it up
LAYERS: Dict[str, List[tuple]] = {
    "dom.parse": [("webpeel_spark.dom.core", "parse_html"),
                  ("webpeel_spark.dom.core", "parse_fragment")],
    "dom.select": [("webpeel_spark.dom.selector", "select"),
                   ("webpeel_spark.dom.selector", "select_first")],
    "pure.metadata": [("webpeel_spark.pure.metadata", "extract_metadata")],
    "pure.readability": [("webpeel_spark.pure.readability",
                          "extract_readable_content")],
    "pure.markdown": [("webpeel_spark.pure.markdown", "html_to_markdown"),
                      ("webpeel_spark.pure.markdown", "detect_main_content_dom"),
                      ("webpeel_spark.pure.markdown", "clean_markdown_noise"),
                      ("webpeel_spark.pure.markdown", "calculate_quality")],
    "pure.prune": [("webpeel_spark.pure.pruner", "prune_content"),
                   ("webpeel_spark.pure.pruner", "prune_markdown")],
    "pure.jsonld": [("webpeel_spark.pure.jsonld", "collect_anchors_and_ld"),
                    ("webpeel_spark.pure.jsonld", "extract_jsonld_scripts")],
    "pure.extractors": [("webpeel_spark.pure.extractors",
                         "extract_domain_data")],
    "pure.langdetect": [("webpeel_spark.pure.langdetect",
                         "detect_language_ngram"),
                        ("webpeel_spark.pure.langdetect",
                         "detect_language_from_url")],
    "pure.chunker": [("webpeel_spark.pure.chunker", "chunk_content")],
    "pure.prompt_guard": [("webpeel_spark.pure.prompt_guard",
                           "sanitize_for_llm")],
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def add_epoch(self, name: str, parent: Optional[int], start_ms: int,
                  end_ms: int, **counts) -> Optional[int]:
        """A span whose ends are epoch milliseconds (Spark's clock)."""
        return self.add(name, parent, start_ms / 1e3 - self._epoch0,
                        end_ms / 1e3 - self._epoch0, **counts)

    def add(self, name: str, parent: Optional[int], start: float,
            end: float, **counts) -> Optional[int]:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "start": round(start, 6),
                           "end": round(end, 6), "counts": counts})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: Optional[int] = None, **counts):
        """Yield the span's id (None when disabled); the span is
        recorded when the block exits, with ``counts`` as updated."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": round(self.now(), 6), "end": None,
                           "counts": counts})
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = round(self.now(), 6)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class _LayerClock:
    """Self time per layer from nested wrapped calls."""

    def __init__(self):
        self.self_s = defaultdict(float)
        self._stack: List[list] = []  # [layer, child seconds]
        self.roots: List = []         # DOM roots parsed for this page

    def wrap(self, layer: str, fn):
        clock = self

        def wrapped(*args, **kwargs):
            clock._stack.append([layer, 0.0])
            t = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t
                _, child = clock._stack.pop()
                clock.self_s[layer] += dur - child
                if clock._stack:
                    clock._stack[-1][1] += dur
            if layer == "dom.parse" and not clock.roots:
                clock.roots.append(out)
            return out

        wrapped.__wrapped__ = fn
        return wrapped


def _tree_shape(root) -> tuple:
    """(element count, max element depth) without recursion."""
    nodes, deepest, stack = 0, 0, [(root, 0)]
    while stack:
        node, depth = stack.pop()
        nodes += 1
        deepest = max(deepest, depth)
        for child in getattr(node, "children", ()):
            if not isinstance(child, str):
                stack.append((child, depth + 1))
    return nodes, deepest


@contextmanager
def _wrapped_layers(clock: _LayerClock):
    """Rebind every ``webpeel_spark`` module attribute that is one of
    the LAYERS functions to its wrapper; restore them on exit."""
    originals = {}
    for layer, targets in LAYERS.items():
        for mod_name, fn_name in targets:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            originals[id(fn)] = (fn, clock.wrap(layer, fn))
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("webpeel_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
                patched.append((mod, attr, value))
    try:
        yield
    finally:
        for mod, attr, value in patched:
            setattr(mod, attr, value)


def replay(pages: List[tuple], tracer: Tracer, parent: Optional[int],
           layers: bool) -> dict:
    """Extract ``pages`` = [(url, payload bytes)] one by one in this
    process.  Returns the ``(url, status, fingerprint)`` rows, each
    page's seconds and error class, and (``layers``) the per-layer
    self time and DOM shape."""
    from webpeel_spark.pure.pipeline import DEFAULT_OPTIONS, extract_page

    clock = _LayerClock()
    rows, page_s, errors = [], [], []
    nodes = depth = 0

    def run_all():
        nonlocal nodes, depth
        for url, payload in pages:
            clock.roots.clear()
            t = time.perf_counter()
            before = dict(clock.self_s)
            start = tracer.now()
            r = extract_page(url, payload, DEFAULT_OPTIONS)
            dur = time.perf_counter() - t
            rows.append((url, r["status"], r["fingerprint"]))
            page_s.append(dur)
            errors.append(r["error"].split(":", 1)[0]
                          if r["status"] == "error" and r["error"] else None)
            if layers:
                shape = _tree_shape(clock.roots[0]) if clock.roots else (0, 0)
                nodes += shape[0]
                depth = max(depth, shape[1])
                tracer.add("pure.extract_page", parent, start, tracer.now(),
                           url=url, status=r["status"], nodes=shape[0],
                           max_depth=shape[1],
                           **{f"{k}_ms": round(1e3 * (v - before.get(k, 0.0)), 3)
                              for k, v in clock.self_s.items()})

    if layers:
        with _wrapped_layers(clock):
            run_all()
    else:
        run_all()
    n = max(1, len(pages))
    out = {"rows": rows, "page_s": page_s, "errors": errors}
    if layers:
        out["layer_ms_per_doc"] = {
            layer: 1e3 * clock.self_s.get(layer, 0.0) / n for layer in LAYERS}
        out["nodes_per_doc"] = nodes / n
        out["max_depth"] = depth
    return out
