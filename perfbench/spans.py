"""Span recording for the traced run.

Wrappers are installed from the benchmark's own files around the public
functions each layer exposes, under the name the caller resolves (for
example ``pipeline.write_tables``, which the pipeline imported by name, not
``sinks.writer.write_tables``).  Spans stay in memory and are written once,
when the run ends.  Nothing inside the package is changed.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from collections import defaultdict

from workloads import PKG

#: (module, attribute or Class.method, span name) per workload.
_QUERY_MODULES = ("analytic", "events", "llm", "retrieval")
TARGETS = {
    "pipeline_analytics": [
        ("pipeline", "load_all_sources", "sources.readers"),
        ("sources.readers", "read_csv", "sources.readers.csv"),
        ("sources.readers", "read_json", "sources.readers.json"),
        ("sources.readers", "read_parquet", "sources.readers.parquet"),
        ("sources.readers", "read_text", "sources.readers.text"),
        ("pipeline", "write_tables", "sinks.writer.write"),
        ("pipeline", "verify_tables", "sinks.writer.verify"),
        ("pipeline", "TableMerger.merge_table", "sinks.merge"),
        ("pipeline", "TableMerger._merge_antijoin", "sinks.merge.merge"),
        ("pipeline", "TableMerger._insert_overwrite", "sinks.merge.overwrite"),
    ] + [
        ("catalog", f"CatalogManager.{m}", "catalog")
        for m in ("drop_database", "create_database", "list_tables", "table_exists", "table")
    ] + [
        (f"queries.{m}", "load_table", "sources.lake") for m in _QUERY_MODULES
    ] + [
        ("queries.llm", "attach_fake_media", "llm"),
        ("queries.llm", "resize_media", "llm"),
        ("queries.retrieval", "bm25_topk", "llm"),
    ],
    "lakehouse_dml": [
        ("sinks.versioned", "versioned_upsert", "sinks.versioned.upsert"),
        ("sinks.versioned", "versioned_delete", "sinks.versioned.delete"),
        ("sinks.versioned", "versioned_apply_changes", "sinks.versioned.apply"),
        ("sinks.versioned", "read_version_pruned", "sinks.versioned.read_pruned"),
        ("sources.versioned_stream", "drain_versioned_changes", "sources.versioned_stream.drain"),
        ("sources.versioned_stream", "replicate_versioned_changes", "sources.versioned_stream.replicate"),
    ],
}


class Tracer:
    """In-memory span recorder: (name, start, end, parent index, op id)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id = -1
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        stack = self._local.__dict__.setdefault("stack", [])
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": stack[-1] if stack else None, "op": self.op_id,
        })
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._local.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, workload: str) -> None:
        for mod_name, attr, span in TARGETS[workload]:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *cls, fn_name = attr.split(".")
            if cls:
                owner = getattr(owner, cls[0])
            orig = owner.__dict__[fn_name]
            self._patched.append((owner, fn_name, orig))
            setattr(owner, fn_name, self.wrap(orig, span))

    def uninstall(self) -> None:
        for owner, fn_name, orig in reversed(self._patched):
            setattr(owner, fn_name, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def durations(self, name: str, top: bool = False) -> list[float]:
        """Durations of the spans called ``name``; with ``top``, only those
        an op called directly (not from inside another layer)."""
        return [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["end"]
            and (not top or self.spans[s["parent"]]["name"].startswith("op."))
        ]

    def count(self, name: str, top: bool = False) -> int:
        return len(self.durations(name, top))
