"""Spans recorded from outside the program.

``Tracer.install`` wraps the public function of each layer module (the
module attribute, so calls between layers go through the wrapper too) and
records one span per call: name, start, end, parent, workload, run id. The
layer functions build lazy plans, so these spans show the call structure
and plan-building time; the work itself runs in the jobs the harness
triggers, which get spans of their own (``Tracer.span``). Spans are kept in
memory and written once, as JSON lines, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

#: (module, function) for each layer's public entry points
LAYER_FUNCTIONS = [
    ("ocr_spark.session", "get_spark"),
    ("ocr_spark.sources.tables", "read_transcripts"),
    ("ocr_spark.sources.tables", "write_results"),
    ("ocr_spark.operators.parse", "with_parsed"),
    ("ocr_spark.operators.parse", "with_conditional_reparse"),
    ("ocr_spark.operators.cleaning", "with_clean_text"),
    ("ocr_spark.operators.quality", "with_quality"),
    ("ocr_spark.operators.matching", "with_keyword_spans_auto"),
    ("ocr_spark.operators.matching", "with_keyword_spans"),
    ("ocr_spark.operators.matching", "with_doc_statistics"),
    ("ocr_spark.operators.ac_scan", "with_keyword_spans_ac"),
    ("ocr_spark.plans.pipeline", "extract"),
    ("ocr_spark.plans.pipeline", "unprocessed"),
    ("ocr_spark.plans.pipeline", "run_incremental"),
    ("ocr_spark.plans.pipeline", "partition_metrics"),
]


class Tracer:
    """In-memory span recorder; ``enabled`` switches recording off without
    uninstalling the wrappers (the overhead measurement alternates)."""

    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def install(self) -> None:
        for mod_name, fn_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            name = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"
            setattr(mod, fn_name, self._wrap(orig, name))
            self._restore.append((mod, fn_name, orig))

    def _wrap(self, orig, name: str):
        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        return wrapper

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._restore):
            setattr(mod, fn_name, orig)
        self._restore.clear()

    def self_times(self) -> dict[str, list]:
        """{span name: [seconds, calls]}, each span's time minus the part
        its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list] = {}
        for s in self.spans:
            acc = out.setdefault(s["name"], [0.0, 0])
            acc[0] += (s["end"] - s["start"]) - child[s["id"]]
            acc[1] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
