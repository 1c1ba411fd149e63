"""Per-layer tracing, all from outside the program.

* ``Spans`` times calls into the kernels' and jobs' public functions by
  swapping module attributes for timing wrappers for the length of a
  ``with`` block. A span's self time excludes the spans nested in it, so
  stage times add up without double counting.
* ``operator_metrics`` reads the SQL metrics and task times that Spark
  writes to its event log for the timed jobs.
* ``jvm_gc_ms`` reads the JVM's collectors over py4j (in local mode one
  JVM runs every task).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import time
from collections import defaultdict


class Spans:
    """Self time and call count per span name, for one thread."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[list[float]] = []  # [start, seconds in child spans]

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            frame = [time.perf_counter(), 0.0]
            self._stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                elapsed = time.perf_counter() - frame[0]
                self.self_s[name] += elapsed - frame[1]
                self.calls[name] += 1
                if self._stack:
                    self._stack[-1][1] += elapsed

        return timed

    @contextlib.contextmanager
    def patched(self, targets: dict[str, str]):
        """``targets`` maps span name -> "module:attr" or "module:Class.attr"."""
        undo = []
        try:
            for name, spec in targets.items():
                mod_name, attr = spec.split(":")
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = owner.__dict__[leaf]
                undo.append((owner, leaf, orig))
                setattr(owner, leaf, self.wrap(name, orig))
            yield self
        finally:
            for owner, leaf, orig in reversed(undo):
                setattr(owner, leaf, orig)


KERNEL_TARGETS = {
    "decode_parse": "docling_spark.kernels.html_kernel:parse_html",
    "html_walk": "docling_spark.kernels.html_kernel:HtmlExtractor.convert",
    "markdown": "docling_spark.kernels.markdown:to_markdown",
    "text": "docling_spark.kernels.textout:to_text",
    "spans": "docling_spark.kernels.textout:text_spans",
    "pdf_parse": "docling_spark.kernels.pdf_kernel:parse_pdf",
    "pdf_layout": "docling_spark.kernels.pdf_layout:build_doc",
    "chunk": "docling_spark.kernels.chunker:hierarchical_chunks",
    "sniff": "docling_spark.operators.convert:sniff_format",
}


def kernel_pass(docs: list[tuple[str, bytes]], one_doc, min_s: float = 1.0) -> dict:
    """Single-process pass over ``docs``: plain passes for per-document
    latency and total kernel time, then as many passes with stage spans
    for the split. Passes repeat until ``min_s`` seconds have run, so
    small documents are timed over enough work. Stage self times and the
    total are seconds per 1000 documents."""
    one_doc(*docs[0])  # imports and first-call set-up stay untimed
    lat: list[float] = []
    reps = 0
    while not reps or sum(lat) < min_s:
        for url, payload in docs:
            t0 = time.perf_counter()
            one_doc(url, payload)
            lat.append(time.perf_counter() - t0)
        reps += 1
    spans = Spans()
    with spans.patched(KERNEL_TARGETS):
        doc = spans.wrap("doc", one_doc)
        for _ in range(reps):
            for url, payload in docs:
                doc(url, payload)
    per_k = 1000.0 / len(lat)
    lat.sort()
    stages = {k: spans.self_s.get(k, 0.0) * per_k for k in KERNEL_TARGETS}
    traced_total = sum(spans.self_s.values()) * per_k
    return {
        "n_docs": len(docs),
        "reps": reps,
        "total_s": sum(lat) * per_k,
        "doc_p50_ms": 1000 * _pct(lat, 0.50),
        "doc_p99_ms": 1000 * _pct(lat, 0.99),
        "stages": stages,
        # share of the traced per-document time the named stages cover;
        # the rest is the per-document wrapper itself
        "stage_cover": sum(stages.values()) / traced_total if traced_total else 0.0,
        "calls": dict(spans.calls),
    }


def _pct(sorted_vals: list[float], q: float) -> float:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


JOB_TARGETS = {
    "resume_filter": "docling_spark.operators.lineage:resume_filter",
    "write_lineage": "docling_spark.operators.lineage:write_lineage",
}


@contextlib.contextmanager
def timed_parquet_writes(spans: Spans, names_by_path: dict[str, str]):
    """Time ``DataFrameWriter.parquet`` calls whose destination is in
    ``names_by_path``, so a job's sinks are timed without touching the job."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def parquet(writer, path, *args, **kwargs):
        name = names_by_path.get(os.path.abspath(path))
        if name is None:
            return orig(writer, path, *args, **kwargs)
        return spans.wrap(name, orig)(writer, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


# --------------------------------------------------------------- event log

# SQL metric display name -> (layer metric, scale to seconds or MB)
_SQL_METRICS = {
    "scan time": ("scan_s", 1e-3),
    "shuffle write time": ("shuffle_write_s", 1e-9),
    "shuffle bytes written": ("shuffle_mb", 1 / (1 << 20)),
    "fetch wait time": ("shuffle_fetch_wait_s", 1e-3),
    "time to start Python workers": ("py_boot_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_total_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 1 / (1 << 20)),
    "data returned from Python workers": ("py_received_mb", 1 / (1 << 20)),
}
OPERATOR_SUMS = [m for m, _ in _SQL_METRICS.values()]


def _events(log_dir: str, app_id: str):
    """Events of one application's (single-file, uncompressed) event log."""
    with open(os.path.join(log_dir, app_id)) as f:
        for line in f:
            yield json.loads(line)


def operator_metrics(log_dir: str, app_id: str, group_prefix: str) -> list[dict]:
    """Per timed pass (job group ``<group_prefix><k>``): summed SQL metrics,
    summed task run time, and max/median run time of the extract stage's
    tasks (the stage that ran the most Python worker time)."""
    stage_group: dict[int, str] = {}
    per_pass: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_py: dict[int, float] = defaultdict(float)
    for e in _events(log_dir, app_id):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(group_prefix):
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
        elif ev == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None or e["Task Info"].get("Failed"):
                continue
            acc = per_pass[group]
            run_ms = e["Task Metrics"]["Executor Run Time"]
            acc["task_run_s"] += run_ms / 1000
            stage_tasks[e["Stage ID"]].append(run_ms / 1000)
            for a in e["Task Info"].get("Accumulables", []):
                m = _SQL_METRICS.get(a.get("Name"))
                if m is None or a.get("Update") is None:
                    continue
                acc[m[0]] += float(a["Update"]) * m[1]
                if m[0] == "py_total_s":
                    stage_py[e["Stage ID"]] += float(a["Update"])
    out = []
    for group in sorted(per_pass, key=lambda g: int(g[len(group_prefix):])):
        acc = dict(per_pass[group])
        stages = [s for s, g in stage_group.items() if g == group and stage_py.get(s)]
        if stages:
            tasks = stage_tasks[max(stages, key=lambda s: stage_py[s])]
            med = statistics.median(tasks)
            acc["task_max_over_median"] = max(tasks) / med if med > 0 else 1.0
        out.append(acc)
    return out
