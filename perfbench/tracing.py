"""Spans recorded from outside the program.

:class:`Tracer` replaces public functions of the engine's modules with
wrappers that record one span per call: name, start, end, parent span
and the request id current at the time.  Spans stay in memory and are
written out when the run ends.  The program's code is not edited: a
function is swapped in every already-imported module namespace that
binds it, so a caller that did ``from .planner import aggregate`` sees
the wrapper too.
"""

from __future__ import annotations

import functools
import json
import sys
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.rid: str | None = None
        self._undo: list = []

    def _wrap(self, name: str, fn, annotate: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            span = {"name": name, "rid": tracer.rid, "start": time.time(),
                    "end": None,
                    "parent": tracer.stack[-1] if tracer.stack else None}
            tracer.spans.append(span)
            tracer.stack.append(len(tracer.spans) - 1)
            try:
                out = fn(*a, **kw)
            finally:
                tracer.stack.pop()
                span["end"] = time.time()
            if annotate:  # what the result tells about the layer's work
                if isinstance(out, (bytes, str)):
                    span["bytes"] = len(out)
                elif isinstance(out, dict):       # aggregation result
                    span["cells"] = sum(len(v) if isinstance(v, list) else 1
                                        for v in out.get("values", []))
                elif isinstance(out, list):       # tidy rows
                    span["cells"] = len(out) * (len(out[0]) if out else 0)
                elif isinstance(out, tuple):      # (frame, routing source)
                    span["source"] = out[1]
            return out
        wrapper.__perfbench_original__ = fn
        return wrapper

    def patch(self, name: str, owner, attr: str, annotate: bool = False):
        """Wrap ``owner.attr`` (a module function or a class method) and
        rebind the wrapper wherever a loaded module imported it by name."""
        fn = getattr(owner, attr)
        fn = getattr(fn, "__perfbench_original__", fn)
        w = self._wrap(name, fn, annotate)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for m in list(sys.modules.values())
                        if m is not owner and m is not None
                        and getattr(m, "__name__", "").startswith(
                            ("mondrian_rest_spark", "__spark_entry__"))
                        and getattr(m, attr, None) is fn]
        for t in targets:
            self._undo.append((t, attr, getattr(t, attr)))
            setattr(t, attr, w)

    def unpatch(self) -> None:
        for t, attr, old in reversed(self._undo):
            setattr(t, attr, old)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    import pyspark.sql.classic.dataframe as classic

    from mondrian_rest_spark import api, formats, mdx, members, result
    from mondrian_rest_spark.operators import (dedup, multimodal, similarity,
                                               textstats, windows)
    from mondrian_rest_spark.plans import rollup
    from mondrian_rest_spark.sources import registry

    tracer.patch("registry.build_session", registry, "build_session")
    tracer.patch("registry.load_table", registry, "load_table")
    tracer.patch("parser.params", api, "query_model_from_params")
    tracer.patch("mdx.compile", mdx, "compile_mdx")
    # aggregate() as api resolves it; the rollup router's base fallback
    # imported the same function and is rebound with it
    tracer.patch("planner.build", api, "aggregate")
    tracer.patch("result.shape", result, "to_aggregation_result",
                 annotate=True)
    tracer.patch("result.shape", result, "tidy_header")
    tracer.patch("result.shape", result, "tidy_rows", annotate=True)
    tracer.patch("formats.json", formats, "to_aggregation_json", annotate=True)
    tracer.patch("formats.csv", formats, "to_csv", annotate=True)
    tracer.patch("formats.jsonrecords", formats, "to_jsonrecords",
                 annotate=True)
    tracer.patch("formats.xlsx", formats, "to_xlsx", annotate=True)
    tracer.patch("formats.xls", formats, "to_xls_biff", annotate=True)
    tracer.patch("members.payload", members, "member_payloads")
    tracer.patch("rollup.route", rollup.RollupManager, "route", annotate=True)
    tracer.patch("rollup.append", rollup.RollupManager, "append")
    tracer.patch("spark.collect", classic.DataFrame, "collect")
    for mod in (dedup, similarity, textstats, windows, multimodal):
        short = mod.__name__.rsplit(".", 1)[1]
        for attr, fn in list(vars(mod).items()):
            if (not attr.startswith("_") and callable(fn)
                    and not isinstance(fn, type)
                    and getattr(fn, "__module__", None) == mod.__name__):
                tracer.patch(f"operators.{short}", mod, attr)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        p = s["parent"]
        if p is not None and s["end"] is not None:
            child[p] += s["end"] - s["start"]
    return [max(0.0, (s["end"] or s["start"]) - s["start"] - child[i])
            for i, s in enumerate(spans)]
