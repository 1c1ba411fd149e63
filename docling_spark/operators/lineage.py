"""Checkpointed lineage + resume (north rule requirement).

The reference has no resume story (ConversionStatus lives only for the
run, /root/reference/docling/datamodel/base_models.py:48-54). At 10^12
documents a job WILL be preempted, so:

* every attempt appends ``(url, partition_id, attempt, status,
  batch_ts)`` rows to a lineage table in one write (parquet/Iceberg
  append — atomic at the file/snapshot level);
* on restart, the input is filtered with a broadcast-friendly
  ``left_anti`` join against the successful lineage urls;
* re-processing after a partial write is idempotent because results are
  keyed by url (MERGE/overwrite-by-url downstream).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

def lineage_rows(results: DataFrame, attempt: int = 0) -> DataFrame:
    return results.select(
        "url",
        F.spark_partition_id().alias("partition_id"),
        F.lit(attempt).alias("attempt"),
        "status",
        F.current_timestamp().alias("batch_ts"),
    )


def recorded_urls(spark: SparkSession, lineage_path: str, status: str) -> DataFrame | None:
    """Distinct urls recorded with ``status``; None when no lineage exists
    yet. Other read errors propagate rather than mean "nothing done"."""
    try:
        lineage = spark.read.parquet(lineage_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    return lineage.filter(F.col("status") == status).select("url").distinct()


def write_lineage(results: DataFrame, path: str, attempt: int = 0,
                  skipped: DataFrame | None = None) -> None:
    """One append per attempt: a row per result plus a row per ``skipped``
    url not yet recorded as skipped (repeated attempts do not grow it)."""
    rows = lineage_rows(results, attempt)
    if skipped is not None:
        skips = lineage_rows(skipped, attempt)
        already = recorded_urls(skipped.sparkSession, path, "skipped")
        if already is not None:
            skips = skips.join(already, "url", "left_anti")
        rows = rows.unionByName(skips)
    rows.write.mode("append").parquet(path)


def resume_filter(pages: DataFrame, spark: SparkSession, lineage_path: str) -> DataFrame:
    """Drop pages already extracted successfully in a previous attempt.

    Only ``success`` is terminal: skipped pages are re-GATED on every
    attempt (a length comparison — cheap) because the gate parameters
    may change between attempts (e.g. a raised --limit-bytes must
    un-skip previously oversized docs). Duplicate skip rows in lineage
    are suppressed at append time (``write_lineage``).
    """
    done = recorded_urls(spark, lineage_path, "success")
    return pages if done is None else pages.join(done, "url", "left_anti")
