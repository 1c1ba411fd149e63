"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload mixed_formats --seed 1 --seconds 12 --trace 0

Run from the repository root. One client process submits one Spark job
at a time to a ``local[N]`` session sized from the host (perfbench/host.py).
A run:

1. generates the workload's table from ``--seed`` together with the
   single-process reference results, or reads both from the cache;
2. starts the session, which launches the JVM;
3. runs one full warm pass (corpus load, Python worker spawn, JIT
   warm-up) whose output is checked against the reference (every url
   exactly once, same status and md/txt sha256, and for the default
   seed the pinned per-workload digest), then one untimed pass of the
   timed kind; ``setup_s`` is the session start plus both;
4. repeats timed passes over the whole table for ``--seconds``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that prints the per-layer metrics, read from Spark's event log and
from timing wrappers around the program's public functions. Both write
a sidecar record with per-pass values and load/steal markers to
``.perfbench/records/``. The last stdout line is the result record; the
exit code is non-zero when any output is wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

DEFAULT_SEED = 0
KERNEL_SAMPLE = 300  # documents in the traced single-process kernel pass
PASS_GROUP = "perfbench-pass-"

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
}


# ------------------------------------------------------------- workloads


class MixedFormats:
    """convert_any -> per-(fmt, status) rollup, a read-only aggregate."""

    name = "mixed_formats"

    def one_doc(self, url, payload):
        from docling_spark.operators.convert import convert_one

        return convert_one(url, payload)

    def run_pass(self, spark, table, work, k) -> tuple[int, float]:
        """(documents, summed per-document kernel seconds)."""
        from pyspark.sql import functions as F

        from docling_spark.operators.convert import convert_any

        rows = (
            convert_any(spark.read.parquet(table.path))
            .groupBy("fmt", "status")
            .agg(F.count("*").alias("n"), F.sum("t_sec").alias("t"))
            .collect()
        )
        return sum(r["n"] for r in rows), sum(r["t"] for r in rows)

    def output_rows(self, spark, table, work) -> list[tuple]:
        """One more, untimed pass that returns every document's digests."""
        from pyspark.sql import functions as F

        from docling_spark.operators.convert import convert_any

        res = convert_any(spark.read.parquet(table.path))
        return [tuple(r) for r in res.select(
            "url", "status", F.sha2("md", 256), F.sha2("txt", 256)).collect()]


class JobResume:
    """extract_job.run twice: attempt 0 over a seeded half, then attempt 1
    with --resume over the full table, writing results, lineage and
    metrics parquet."""

    name = "job_resume"

    def __init__(self):
        self.spans: layers.Spans | None = None
        self.last_dirs: dict[str, str] = {}
        self.bytes_written = 0

    def one_doc(self, url, payload):
        from docling_spark.operators.extract import extract_one

        return extract_one(url, payload)

    def _dirs(self, work, k) -> dict[str, str]:
        base = os.path.join(work, f"job-{os.getpid()}", f"pass-{k}")
        shutil.rmtree(os.path.dirname(base), ignore_errors=True)
        return {s: os.path.join(base, s) for s in ("output", "lineage", "metrics")}

    def _attempt(self, spark, inp, dirs, attempt, resume):
        job = importlib.import_module("jobs.extract_job")
        argv = ["--input", inp, "--output", dirs["output"], "--lineage", dirs["lineage"],
                "--metrics", dirs["metrics"], "--attempt", str(attempt),
                "--limit-bytes", str(workloads.RESUME_LIMIT_BYTES)]
        return job.run(spark, job.build_parser().parse_args(argv + (["--resume"] if resume else [])))

    def run_pass(self, spark, table, work, k):
        dirs = self._dirs(work, k)
        if self.spans is None:
            self._attempt(spark, table.attempt0_path, dirs, 0, False)
            self._attempt(spark, table.path, dirs, 1, True)
        else:
            names = {os.path.abspath(dirs["output"]): "write_results",
                     os.path.abspath(dirs["metrics"]): "write_metrics"}
            with self.spans.patched(layers.JOB_TARGETS), \
                    layers.timed_parquet_writes(self.spans, names):
                self._attempt(spark, table.attempt0_path, dirs, 0, False)
                self._attempt(spark, table.path, dirs, 1, True)
        self.last_dirs = dirs
        return table.size, 0.0

    def pass_kernel_s(self, spark) -> float:
        """Summed t_sec of the last pass's results (untimed, trace only)."""
        from pyspark.sql import functions as F

        return spark.read.parquet(self.last_dirs["output"]).agg(F.sum("t_sec")).first()[0]

    def output_rows(self, spark, table, work) -> list[tuple]:
        """One more, untimed pass; returns what it left in its sinks."""
        from pyspark.sql import functions as F

        self.run_pass(spark, table, work, "check")
        d = self.last_dirs
        rows = [tuple(r) for r in spark.read.parquet(d["output"]).select(
            "url", "status", F.sha2("md", 256), F.sha2("txt", 256)).collect()]
        rows += [(r["url"], "skipped", None, None) for r in spark.read.parquet(d["lineage"])
                 .filter(F.col("status") == "skipped").select("url").collect()]
        self.bytes_written = sum(
            os.path.getsize(os.path.join(dp, f))
            for sink in d.values() for dp, _, fs in os.walk(sink) for f in fs
            if f.endswith(".parquet"))
        return rows


WORKLOADS = {w.name: w for w in (MixedFormats, JobResume)}


# ------------------------------------------------------------------ checks


def compare(reference: list[dict], rows: list[tuple]) -> dict:
    """Wrong, missing and duplicated documents of ``rows`` against the
    reference; a url the reference does not know counts as wrong."""
    want = {r["url"]: (r["status"], r["md"], r["txt"]) for r in reference}
    seen: dict[str, int] = {}
    wrong = 0
    for url, status, md, txt in rows:
        seen[url] = seen.get(url, 0) + 1
        if seen[url] == 1 and want.get(url) != (status, md, txt):
            wrong += 1
    missing = sum(1 for u in want if u not in seen)
    dup = sum(n - 1 for n in seen.values())
    return {"wrong": wrong, "missing": missing, "duplicated": dup}


def output_digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in sorted(rows, key=lambda r: r[0]):
        h.update(json.dumps(row).encode())
    return h.hexdigest()


def pinned_digest(workload: str) -> str | None:
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(workload)


# -------------------------------------------------------------------- run


def timed_passes(wl, spark, table, work, seconds, traced):
    passes = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        k = len(passes)
        spark.catalog.clearCache()
        if traced:
            spark.sparkContext.setJobGroup(f"{PASS_GROUP}{k}", "timed pass")
        before = host.load_marker()
        t0 = time.perf_counter()
        n, kernel_s = wl.run_pass(spark, table, work, k)
        dt = time.perf_counter() - t0
        after = host.load_marker()
        if traced and isinstance(wl, JobResume):
            # its own scan must not count towards the pass's operators
            spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
            kernel_s = wl.pass_kernel_s(spark)
        passes.append({
            "docs": n, "wall_s": dt, "kernel_s": kernel_s,
            "load1": after["load1"], "procs_running": after["procs_running"],
            "steal_jiffies": after["steal_jiffies"] - before["steal_jiffies"],
        })
    if traced:
        spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
    return passes


# every per-layer metric a traced run reports, with its unit; operators.*
# and jobs.* are per timed pass, kernels.* per 1000 documents of a
# single-process pass over a seeded sample of the workload's inputs
PER_LAYER = {
    "operators.scan_s": "s",
    "operators.shuffle_write_s": "s",
    "operators.shuffle_mb": "MB",
    "operators.shuffle_fetch_wait_s": "s",
    "operators.py_boot_s": "s",
    "operators.py_init_s": "s",
    "operators.py_total_s": "s",
    "operators.py_sent_mb": "MB",
    "operators.py_received_mb": "MB",
    "operators.boundary_s": "s",
    "operators.task_max_over_median": "ratio",
    "operators.slot_busy_frac": "ratio",
    "operators.jvm_gc_s": "s",
    **{f"kernels.{stage}_s": "s/kdoc" for stage in layers.KERNEL_TARGETS},
    "kernels.total_s": "s/kdoc",
    "kernels.stage_cover": "ratio",
    "kernels.doc_p50_ms": "ms",
    "kernels.doc_p99_ms": "ms",
    "jobs.write_results_s": "s",
    "jobs.write_lineage_s": "s",
    "jobs.write_metrics_s": "s",
    "jobs.resume_filter_s": "s",
    "jobs.bytes_written_per_doc": "count",
    "sources.gen_s": "s",
    "trace.docs_per_s": "1/s",
}


def layer_metrics(wl, app_id, event_log_dir, passes, table, plan, seed, gc_s, docs_per_s):
    """(per-layer metrics, detail for the sidecar) of a traced run."""
    ops = layers.operator_metrics(event_log_dir, app_id, PASS_GROUP)
    n = len(passes)
    out = {f"operators.{k}": sum(o.get(k, 0.0) for o in ops) / n for k in layers.OPERATOR_SUMS}
    # Arrow/pandas cost around the kernel: Python worker time minus the
    # per-document kernel time the results report
    out["operators.boundary_s"] = out["operators.py_total_s"] - sum(
        p["kernel_s"] for p in passes) / n
    out["operators.task_max_over_median"] = statistics.median(
        o.get("task_max_over_median", 1.0) for o in ops)
    out["operators.slot_busy_frac"] = sum(o.get("task_run_s", 0.0) for o in ops) / (
        sum(p["wall_s"] for p in passes) * plan.cores)
    out["operators.jvm_gc_s"] = gc_s / n

    docs = workloads.sample_docs(wl.name, seed, KERNEL_SAMPLE)
    if isinstance(wl, JobResume):  # the gate skips these before any kernel
        docs = [d for d in docs if len(d[1]) <= workloads.RESUME_LIMIT_BYTES]
    k = layers.kernel_pass(docs, wl.one_doc)
    for stage, v in k["stages"].items():
        out[f"kernels.{stage}_s"] = v
    for key in ("total_s", "stage_cover", "doc_p50_ms", "doc_p99_ms"):
        out[f"kernels.{key}"] = k[key]

    job = isinstance(wl, JobResume)
    for name in ("write_results", "write_lineage", "write_metrics", "resume_filter"):
        out[f"jobs.{name}_s"] = wl.spans.self_s.get(name, 0.0) / n if job else 0.0
    out["jobs.bytes_written_per_doc"] = wl.bytes_written / table.size if job else 0.0
    out["sources.gen_s"] = table.gen_s
    out["trace.docs_per_s"] = docs_per_s
    detail = {"kernel_sample": k["n_docs"], "kernel_reps": k["reps"],
              "kernel_calls": k["calls"], "operator_passes": ops}
    return {name: out[name] for name in PER_LAYER}, detail


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS.get(k) or PER_LAYER[k]}
                    for k, v in metrics.items()},
    }, separators=(",", ":"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--level", type=int, default=None,
                   help="local[N] level; default and maximum: the visible cores")
    return p.parse_args(argv)


def main(argv=None) -> int:
    # every process the run starts, the JVM's orphaned Python workers
    # included, has exited and been reaped before it returns
    host.become_subreaper()
    try:
        return _run(parse_args(argv))
    finally:
        host.reap_all()


def _run(args) -> int:
    t_run = time.perf_counter()
    plan = host.session_plan(args.level)
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file of this process, the JVMs (the launcher's
    # too) and the Python workers inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    import docling_spark  # noqa: F401  (fails fast outside a checkout)

    wl = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    t0 = time.perf_counter()
    table, cached = workloads.load_table(
        wl.name, args.seed, os.path.join(work, "cache"), plan.cores, ROOT)
    load_s = time.perf_counter() - t0

    event_log_dir = None
    if traced:
        event_log_dir = os.path.join(work, "eventlog", f"{os.getpid()}")
        os.makedirs(event_log_dir, exist_ok=True)

    sampler = host.TreeSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = host.build_session(plan, work, event_log_dir)  # launches the JVM
        start_s = time.perf_counter() - t0

        # the first full pass: the output check, and the warm-up (corpus
        # load, Python worker spawn, the JIT); then one more pass of the
        # timed kind, because the JIT is still speeding it up. Both are
        # part of setup_s
        t0 = time.perf_counter()
        rows = wl.output_rows(spark, table, work)
        check_s = time.perf_counter() - t0
        wl.run_pass(spark, table, work, "warm")
        warm_s = time.perf_counter() - t0 - check_s

        if traced and isinstance(wl, JobResume):
            wl.spans = layers.Spans()
        sampler.start()
        cpu0, gc0 = host.tree_cpu_s(), layers.jvm_gc_ms(spark)
        passes = timed_passes(wl, spark, table, work, args.seconds, traced)
        cpu1, gc1 = host.tree_cpu_s(), layers.jvm_gc_ms(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        sampler.stop()
        if spark is not None:
            host.stop_session(spark)
        shutil.rmtree(os.path.join(work, f"job-{os.getpid()}"), ignore_errors=True)

    errors = compare(table.reference, rows)
    digest = output_digest(rows)
    pinned = pinned_digest(wl.name) if args.seed == DEFAULT_SEED else None
    pin_ok = pinned is None or pinned == digest
    docs = sum(p["docs"] for p in passes)
    rates = sorted(p["docs"] / p["wall_s"] for p in passes)
    failed = errors["wrong"] + errors["missing"] + errors["duplicated"]
    e2e = {
        "docs_per_s": statistics.median(rates),
        "setup_s": start_s + check_s + warm_s,
        "cpu_s_per_kdoc": (cpu1 - cpu0) / docs * 1000,
        "peak_rss_mb": sampler.peak / (1 << 20),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session": plan.__dict__ | {"master": plan.master},
        "table": {"docs": table.size, "cached": cached, "load_s": load_s, "gen_s": table.gen_s},
        "session_start_s": start_s, "check_s": check_s, "warm_s": warm_s, "errors": errors,
        "error_frac": failed / table.size, "digest": digest, "pinned_digest": pinned,
        "passes": passes, "jvm_gc_s": (gc1 - gc0) / 1000, "rss_samples": sampler.samples,
        # the slowest pass, i.e. the highest percentile of pass time that
        # the run has samples for
        "docs_per_s_low": rates[0], "end_to_end": e2e,
    }
    if traced:
        per_layer, detail = layer_metrics(
            wl, app_id, event_log_dir, passes, table, plan, args.seed,
            (gc1 - gc0) / 1000, e2e["docs_per_s"])
        record["per_layer"] = per_layer
        record["trace_detail"] = detail
        untraced = os.path.join(work, "records", f"{wl.name}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["docs_per_s"]
            record["tracing_overhead_frac"] = 1 - e2e["docs_per_s"] / base
        shutil.rmtree(event_log_dir, ignore_errors=True)
    record["run_wall_s"] = time.perf_counter() - t_run
    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    side = os.path.join(work, "records", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(record, f, indent=1)

    correct = failed == 0 and pin_ok
    print(result_line(correct, table.size, failed + (0 if pin_ok else 1),
                      record["per_layer"] if traced else e2e), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
