"""In-memory span tracer for the traced benchmark run.

Spans are recorded by wrapping the package's public functions from the
benchmark's side: each wrapper rebinds a module (or class) attribute where
the caller looks the name up, so nothing under ``inspig_etl_spark/`` is
edited. ``install`` and ``uninstall`` swap the wrappers in and out, so the
warm-up operations run untraced.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from contextlib import contextmanager

# (module, attribute, span name, after-hook). An attribute "Cls.meth" wraps
# a method on the class. Every name is rebound where its caller looks it
# up: ``runner``, ``api`` and ``sources.weather_api`` import inside function
# bodies, so the defining module's attribute is enough;
# ``pipelines.on_demand`` and ``streaming.incremental`` bind their imports
# at import time, so the names are wrapped there too.
PKG = "inspig_etl_spark"
WRAPPED = (
    ("session", "get_spark", "session.get_spark", None),
    ("runner", "run_weekly_batch", "runner.run_weekly_batch", None),
    ("pipelines.weekly", "build_weekly_report", "pipelines.weekly.build_weekly_report", None),
    ("pipelines.on_demand", "build_weekly_report", "pipelines.weekly.build_weekly_report", None),
    ("pipelines.on_demand", "run_single_farm", "pipelines.on_demand.run_single_farm", None),
    ("api", "handle_run_farm", "api.handle_run_farm", None),
    ("api", "handle_status", "api.handle_status", None),
    ("sources.sinks", "staged_overwrite", "sources.sinks.staged_overwrite", "bytes"),
    ("sources.sinks", "read_or_empty", "sources.sinks.read_or_empty", None),
    ("sources.sinks", "replace_by_key", "sources.sinks.replace_by_key", None),
    ("streaming.incremental", "staged_overwrite", "sources.sinks.staged_overwrite", "bytes"),
    ("streaming.incremental", "read_or_empty", "sources.sinks.read_or_empty", None),
    ("streaming.incremental", "merge_upsert", "sources.sinks.merge_upsert", None),
    ("streaming.incremental", "RunManifest.record_step",
     "streaming.incremental.RunManifest", None),
    ("streaming.incremental", "RunManifest.finish", "streaming.incremental.RunManifest", None),
    ("streaming.incremental", "foreach_batch_upsert",
     "streaming.incremental.foreach_batch_upsert", "factory"),
    ("sources.weather_api", "collect_village_forecast",
     "sources.weather_api.collect_village_forecast", None),
    ("sources.rest", "RestSource.fetch", "sources.rest.fetch", "items"),
    ("sources.rest", "to_dataframe", "sources.rest.to_dataframe", "records"),
)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Tracer:
    """Spans with name, start, end, parent and the operation id they
    belong to. A span opened on a thread with no open span takes the
    innermost adopting span as parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, adopt: bool = False):
        """Record one span. With ``adopt``, spans opened on other threads
        while this one is open become its children (the HTTP handler
        thread serving a client call)."""
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else self._root,
               "op": self.op}
        prev_root = self._root
        if adopt:
            self._root = sid
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._root = prev_root
            with self._lock:
                self.spans.append(rec)

    def _wrapper(self, orig, name: str, hook: str | None):
        if hook == "factory":
            @functools.wraps(orig)
            def factory(*a, **k):
                inner = orig(*a, **k)

                @functools.wraps(inner)
                def traced_inner(*a2, **k2):
                    with self.span(name):
                        return inner(*a2, **k2)

                return traced_inner

            return factory

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name) as rec:
                out = orig(*a, **k)
            h0 = time.perf_counter()
            if hook == "bytes":  # staged_overwrite(spark, df, path, ...)
                rec["bytes"] = dir_bytes(k.get("path", a[2] if len(a) > 2 else ""))
            elif hook == "items":  # RestSource.fetch -> list of items
                rec["items"] = len(out)
            elif hook == "records":  # to_dataframe(spark, records, schema)
                rec["records"] = len(a[1])
            # Time the hook spends outside the span, for the overhead.
            rec["hook_s"] = time.perf_counter() - h0
            return out

        return traced

    @staticmethod
    def span_cost(n: int = 20_000) -> float:
        """Seconds one wrapped call adds to the call it wraps, from ``n``
        calls of a no-op, bare and wrapped."""

        def noop() -> None:
            pass

        wrapped = Tracer()._wrapper(noop, "noop", None)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t2 = time.perf_counter()
        return max((t2 - t1) - (t1 - t0), 0.0) / n

    def install(self) -> None:
        if self._saved:
            return
        # Import everything before wrapping anything: a module imported
        # after a wrap would bind the wrapper as its "original".
        modules = {m: importlib.import_module(f"{PKG}.{m}") for m, _, _, _ in WRAPPED}
        for mod_name, attr, name, hook in WRAPPED:
            owner = modules[mod_name]
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrapper(orig, name, hook))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
