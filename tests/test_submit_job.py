"""North-rule launch surface: the job must run via spark-submit
--py-files (BASELINE.json north_rule), write results + lineage +
metrics tables, and resume idempotently from lineage.

Reference contrast: docling's CLI (/root/reference/docling/cli/main.py)
is a single-process driver with no resume; ConversionStatus lives only
for the run (datamodel/base_models.py:48-54).
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    import pyspark

    return os.path.join(pyspark.__path__[0], "bin", "spark-submit")


def _run_job(zip_path, input_dir, out, lineage, metrics=None, resume=False,
             attempt=0, router=False, split_big=None):
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "extract_job.py"),
        "--input", str(input_dir),
        "--output", str(out),
        "--lineage", str(lineage),
        "--partitions", "8",
        "--attempt", str(attempt),
    ]
    if metrics:
        cmd += ["--metrics", str(metrics)]
    if resume:
        cmd += ["--resume"]
    if router:
        cmd += ["--router"]
    if split_big is not None:
        cmd += ["--split-big-docs", "--big-doc-bytes", str(split_big)]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600, cwd=str(REPO)
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(stats_line)


@pytest.fixture(scope="module")
def pages_input(spark, tmp_path_factory):
    from docling_spark.sources.pages import synthesize_pages

    path = tmp_path_factory.mktemp("pages") / "pages"
    synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=48).write.mode(
        "overwrite"
    ).parquet(str(path))
    return path


def test_spark_submit_pyfiles_and_resume(spark, pages_input, tmp_path):
    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    out, lineage, metrics = tmp_path / "out", tmp_path / "lineage", tmp_path / "metrics"

    stats = _run_job(zip_path, pages_input, out, lineage, metrics=metrics)
    assert stats["n_extracted"] == 48
    assert stats["n_failed"] == 0

    res = spark.read.parquet(str(out))
    assert res.count() == 48
    assert res.filter(res.status == "success").count() == 48
    lin = spark.read.parquet(str(lineage))
    assert lin.select("url").distinct().count() == 48
    met = spark.read.parquet(str(metrics))
    assert met.count() == 48
    assert set(met.columns) >= {"url", "stage", "t_sec", "bytes_in"}

    # resume: second attempt must process zero documents
    stats2 = _run_job(zip_path, pages_input, out, lineage, resume=True, attempt=1)
    assert stats2["n_extracted"] == 0
    # results table unchanged (append of empty frame)
    assert spark.read.parquet(str(out)).count() == 48


def test_spark_submit_router_mode(spark, tmp_path):
    """--router runs the unified multi-format converter through the
    SAME spark-submit surface: a mixed html/pdf crawl converts with
    per-format rows, lineage recorded, resume processes zero docs."""
    from pyspark.sql import functions as F

    from docling_spark.sources.pages import synthesize_pages
    from docling_spark.sources.pdfgen import synthesize_pdf_pages

    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    in_dir = tmp_path / "pages"
    html = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=20)
    pdfs = synthesize_pdf_pages(spark, "/root/testdata/sf0.001", n_docs=10).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    html.unionByName(pdfs).write.mode("overwrite").parquet(str(in_dir))

    out, lineage = tmp_path / "out", tmp_path / "lineage"
    stats = _run_job(zip_path, in_dir, out, lineage, router=True)
    assert stats["n_extracted"] == 30 and stats["n_failed"] == 0

    res = spark.read.parquet(str(out))
    fmts = {r["fmt"]: r["n"] for r in
            res.groupBy("fmt").agg(F.count("*").alias("n")).collect()}
    assert fmts.get("html") == 20 and fmts.get("pdf") == 10

    stats2 = _run_job(zip_path, in_dir, out, lineage, router=True,
                      resume=True, attempt=1)
    assert stats2["n_extracted"] == 0

def test_spark_submit_split_big_docs(spark, pages_input, tmp_path):
    """north-rule "salted handling of ... oversized documents" through
    the production launch surface: --split-big-docs routes the planted
    ~1 MB rows (sources/pages.py %997 skew tail) to their own
    round-robin tasks, and the results are byte-identical to a run
    without the flag."""
    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    out_a, lin_a = tmp_path / "out_a", tmp_path / "lin_a"
    out_b, lin_b = tmp_path / "out_b", tmp_path / "lin_b"

    stats_a = _run_job(zip_path, pages_input, out_a, lin_a)
    stats_b = _run_job(zip_path, pages_input, out_b, lin_b,
                       split_big=64 << 10)
    assert stats_a["n_extracted"] == stats_b["n_extracted"] == 48
    assert stats_b["n_failed"] == 0

    cols = ["url", "status", "md", "n_spans", "bytes_in"]
    a = sorted(map(tuple, spark.read.parquet(str(out_a)).select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(out_b)).select(*cols).collect()))
    assert a == b
    # the corpus really exercised the big branch: planted ~1 MB row +
    # the 20% ~80 KB band both clear the 64 KiB threshold
    n_big = sum(1 for r in b if r[4] >= (64 << 10))
    assert n_big >= 2


PARTIAL_LIMIT = 64 << 10  # gates out the ~80 KB band and the ~1 MB row
# Spark jobs the resumed attempt below submits (AQE on, as in the test
# session): the extraction stage runs once, in the results write. Running
# it once per sink, as an append-invalidated cache does, costs 31.
MAX_RESUME_JOBS = 17


@pytest.fixture(scope="module")
def partial_resume(spark, pages_input, tmp_path_factory):
    """extract_job.run in-process: attempt 0 over a seeded half of the
    pages, then attempt 1 with --resume over all of them, each under its
    own job group. Per attempt: (returned stats, Spark jobs submitted,
    output rows it added, failure rows it added)."""
    from pyspark.sql import functions as F

    from jobs import extract_job

    base = tmp_path_factory.mktemp("partial_resume")
    half = base / "half"
    spark.read.parquet(str(pages_input)).filter(
        F.xxhash64("url") % 2 == 0
    ).write.parquet(str(half))
    dirs = {s: str(base / s) for s in ("out", "lineage", "metrics")}
    sc = spark.sparkContext

    def out_counts():
        if not os.path.exists(dirs["out"]):
            return 0, 0
        out = spark.read.parquet(dirs["out"])
        return out.count(), out.filter(F.col("status") == "failure").count()

    attempts = []
    for attempt, inp in enumerate((half, pages_input)):
        argv = ["--input", str(inp), "--output", dirs["out"],
                "--lineage", dirs["lineage"], "--metrics", dirs["metrics"],
                "--partitions", "8", "--attempt", str(attempt),
                "--limit-bytes", str(PARTIAL_LIMIT)] + ["--resume"] * attempt
        group = f"partial-resume-{attempt}"
        before = out_counts()
        sc.setJobGroup(group, group)
        try:
            stats = extract_job.run(spark, extract_job.build_parser().parse_args(argv))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        after = out_counts()
        attempts.append((stats, n_jobs, after[0] - before[0], after[1] - before[1]))
    return attempts, dirs


def test_partial_resume_records_every_url_once(spark, pages_input, partial_resume):
    """A resume over a half-done input: every url extracted by either
    attempt has one metrics row and one success/failure lineage row, and
    every gated-out url one skipped row."""
    from pyspark.sql import functions as F

    attempts, dirs = partial_resume
    out_urls = sorted(r.url for r in spark.read.parquet(dirs["out"]).select("url").collect())
    assert len(out_urls) == len(set(out_urls))
    assert all(n_out > 0 for _, _, n_out, _ in attempts)

    met_urls = sorted(r.url for r in spark.read.parquet(dirs["metrics"]).select("url").collect())
    assert met_urls == out_urls

    lin = spark.read.parquet(dirs["lineage"])
    done = sorted(r.url for r in lin.filter(F.col("status") != "skipped").select("url").collect())
    assert done == out_urls
    skip_urls = sorted(r.url for r in lin.filter(F.col("status") == "skipped").select("url").collect())
    big = sorted(r.url for r in spark.read.parquet(str(pages_input))
                 .filter(F.length("html") > PARTIAL_LIMIT).select("url").collect())
    assert big and skip_urls == big

    for stats, _, n_out, n_fail in attempts:
        assert (stats["n_extracted"], stats["n_failed"]) == (n_out, n_fail)
    assert attempts[1][0]["n_skipped"] == len(big)


def test_resumed_attempt_extracts_once(partial_resume):
    """The resumed attempt runs the extraction stage once: its Spark job
    count stays at the single-extraction figure."""
    attempts, _ = partial_resume
    assert attempts[1][1] <= MAX_RESUME_JOBS, attempts[1][1]
