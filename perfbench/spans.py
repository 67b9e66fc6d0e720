"""Span recorder for the traced run.

Spans are kept in memory and written out when the run ends. Each span
has a name, start and end (epoch seconds, so they line up with the
event log), the id of the span that was open when it started, and the
op it belongs to. Calls into the program's public functions are timed
by replacing those functions, in the benchmark process only, with
wrappers that open a span; the program's files are not touched.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

from eventlog import union_seconds


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._open[-1]["id"] if self._open else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def inside(self, prefix: str) -> bool:
        """True when a span whose name starts with prefix is open."""
        return any(s["name"].startswith(prefix) for s in self._open)

    def named(self, prefix: str, top_level: bool = False) -> list[dict]:
        """Closed spans whose name starts with prefix; with top_level,
        only those with no ancestor of the same prefix."""
        out = [s for s in self.spans if s["name"].startswith(prefix) and s["end"]]
        if top_level:
            out = [s for s in out if not self._has_ancestor(s, prefix)]
        return out

    def _has_ancestor(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == span["id"] and c["end"]]
        return (span["end"] - span["start"]) - union_seconds(kids)

    def dump(self, path: Path) -> None:
        """Write the closed spans, each with its self time."""
        closed = [s for s in self.spans if s["end"]]
        path.write_text(json.dumps([{**s, "self_s": self.self_time(s)} for s in closed]))


def patch_function(module, attr: str, wrapper_factory: Callable) -> None:
    """Replace module.attr, and every `from module import attr` binding
    in the program's loaded modules, with wrapper_factory(original)."""
    orig = getattr(module, attr)
    wrapped = wrapper_factory(orig)
    for name, mod in list(sys.modules.items()):
        if name.startswith("compendium_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


def spanned(tracer: Tracer, name: str, on_result: Callable | None = None) -> Callable:
    """Wrapper factory: run the original inside a span called name;
    on_result(span, args, result) may add fields to the span."""
    def factory(orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, result)
                return result
        return wrapper
    return factory


def tree_state(root: Path) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under root."""
    state = {}
    for p in root.rglob("*"):
        if p.is_file():
            st = p.stat()
            state[str(p)] = (st.st_size, st.st_mtime_ns)
    return state


def storage_wrapper(tracer: Tracer, name: str) -> Callable:
    """Wrapper factory for warehouse methods: a top-level storage call
    also records the bytes and files it created or rewrote under the
    warehouse root."""
    def factory(orig):
        @functools.wraps(orig)
        def wrapper(self, *args, **kwargs):
            top = not tracer.inside("storage.")
            before = tree_state(self.root) if top else None
            with tracer.span(name) as rec:
                result = orig(self, *args, **kwargs)
            if top:
                after = tree_state(self.root)
                changed = [p for p, v in after.items() if before.get(p) != v]
                rec["files_written"] = len(changed)
                rec["bytes_written"] = sum(after[p][0] for p in changed)
            return result
        return wrapper
    return factory


def install(tracer: Tracer, fetch_rows: list[int]) -> None:
    """Wrap the program's layer boundaries: table loads, warehouse
    writes, status transitions, run enrichment and region inference."""
    from compendium_spark import storage, storage_versioned, tables  # noqa: PLC0415
    from compendium_spark.pipeline import amplicon, enrichment, orchestrate  # noqa: PLC0415

    def load_factory(orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = len(tables._scan_cache)
            with tracer.span("tables.load") as rec:
                result = orig(*args, **kwargs)
                rec["hit"] = len(tables._scan_cache) == n
            return result
        return wrapper

    patch_function(tables, "load", load_factory)
    for cls, methods in (
        (storage.Warehouse, ("init_tables", "write", "append", "upsert", "partial_update")),
        (storage_versioned.VersionedWarehouse,
         ("write", "append", "upsert", "partial_update", "delete", "compact",
          "add_columns", "set_partition_spec", "rollback", "vacuum")),
    ):
        for m in methods:
            setattr(cls, m, storage_wrapper(tracer, f"storage.{m}")(getattr(cls, m)))
    patch_function(orchestrate, "set_project_status", spanned(tracer, "pipeline.status"))
    patch_function(
        enrichment, "fetch_batches",
        spanned(tracer, "pipeline.enrich", lambda rec, a, r: fetch_rows.append(len(r))),
    )
    patch_function(amplicon, "infer_regions", spanned(tracer, "pipeline.amplicon"))


def streaming_listener(progress: list[dict]):
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class Recorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Recorder()
