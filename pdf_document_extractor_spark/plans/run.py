"""The end-to-end extraction job (spark-submit entry point).

Pipeline (SURVEY.md §3.1's Spark translation, north rule wiring):

  read pages ->
  RESUME anti-join against committed extracted urls (P1/A5) ->
  hot-host pre-pass + salted url-hash-bucket repartition (P3/Scarlett) ->
  light/heavy split on payload bytes (D6) ->
  one fused mapInPandas extraction per branch (M1-M13, D1-D3, P2) ->
  union -> atomic snapshot commit of `extracted` ->
  per-partition lineage rows + run rollup committed to `lineage` (A1/S7/P4)

Scale notes:
- The ONLY shuffle on the 100 TB path is the explicit salted repartition;
  everything else is scan -> narrow ops -> write.
- The heavy branch is repartitioned by url, so heavy documents spread
  over num_partitions tasks. It shares the session's Arrow batch size
  with the light branch (maxRecordsPerBatch, 1,024 records below): one
  input batch may hold up to 1,024 heavy payloads. Only the UDF's output
  flush (FLUSH_ROWS / FLUSH_BYTES, operators/extract.py) is bounded in
  bytes.
- Lineage is aggregated from the committed snapshot's metadata columns
  (partition_id/byte_count), not from a second pass over the bytes. A
  filter on page_number keeps one row per document (operators/lineage.py),
  so lineage_rows has one exchange, of partial aggregates on
  partition_id, and run_rollup one single-partition exchange of a row
  per task; no exchange is on url.
- Soft failures raise inside the UDF => Spark task retry
  (spark.task.maxFailures); a job that dies leaves NO manifest entry, so the
  rerun resumes exactly (snapshot-commit discipline, sources/catalog.py).

CLI:
  # job.py: from pdf_document_extractor_spark.plans.run import main; main()
  spark-submit --py-files pdf_document_extractor_spark.zip job.py \
      --pages /path/pages.parquet --warehouse /path/wh --run-id r1
  (build the zip with: python tools/package.py; see tests/test_spark_submit.py)
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING

from ..operators.extract import extract_pages
from ..operators.lineage import lineage_rows, run_rollup
from ..operators.skew import host_stats, salted_repartition, split_heavy
from ..sources.catalog import SnapshotTable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

HEAVY_BYTES_DEFAULT = 1 << 20  # 1 MiB


@dataclass
class RunResult:
    run_id: str
    docs_in: int
    wall_s: float
    committed: bool
    snapshot_id: int


def run_extraction_job(
    spark: "SparkSession",
    pages: "DataFrame",
    warehouse: str,
    run_id: str,
    num_partitions: int | None = None,
    heavy_bytes: int = HEAVY_BYTES_DEFAULT,
    hot_fraction: float = 0.05,
    salt_buckets: int = 16,
    quarantine_soft: bool = False,
    config=None,
) -> RunResult:
    t0 = time.time()
    extracted_tbl = SnapshotTable(warehouse, "extracted")
    lineage_tbl = SnapshotTable(warehouse, "lineage")

    if run_id in extracted_tbl.committed_run_ids():
        # rerun of an already-committed run: exactly-once visible effect
        return RunResult(run_id, 0, time.time() - t0, False,
                         extracted_tbl.current_snapshot_id())

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2

    # -- resume: only un-extracted urls ------------------------------------
    prior = extracted_tbl.read(spark)
    todo = pages
    if prior is not None:
        done_urls = prior.select("url").distinct()
        todo = pages.join(done_urls, "url", "left_anti")

    # ONE url-column pre-pass yields both the doc count and the hot set
    # (the input is scanned again only by the extraction stage itself)
    hot, docs_in = host_stats(todo, hot_fraction=hot_fraction)
    if docs_in == 0:
        return RunResult(run_id, 0, time.time() - t0, False,
                         extracted_tbl.current_snapshot_id())
    placed = salted_repartition(
        todo, num_partitions, hot=hot, salt_buckets=salt_buckets
    )
    light, heavy = split_heavy(placed, heavy_bytes)

    ext_light = extract_pages(
        light, config=config, quarantine_soft=quarantine_soft
    )
    # heavy pass: spread big payloads thin (more, smaller partitions)
    ext_heavy = extract_pages(
        heavy.repartition(num_partitions, "url"),
        config=config,
        quarantine_soft=quarantine_soft,
    )
    extracted = ext_light.unionByName(ext_heavy)

    snap = extracted_tbl.commit(extracted, run_id)

    # -- lineage from THIS run's committed snapshot (no recompute) ----------
    this_run = extracted_tbl.read_snapshot(spark, snap.snapshot_id)
    lin = lineage_rows(this_run, run_id)
    rollup = run_rollup(this_run).withColumnRenamed("total_docs", "doc_count")
    from pyspark.sql import functions as F  # noqa: N812

    lineage_out = lin.unionByName(
        rollup.select(
            F.lit(-1).alias("partition_id"),
            F.col("doc_count"),
            F.col("total_pages").alias("page_count"),
            F.col("total_bytes").alias("byte_count"),
            F.col("success_docs").alias("success_count"),
            F.col("hard_fail_docs").alias("hard_fail_count"),
            F.col("soft_fail_docs").alias("soft_fail_count"),
            F.lit("[]").alias("failure_manifest"),
            F.lit(run_id).alias("run_id"),
            F.current_timestamp().alias("committed_at"),
        ),
        allowMissingColumns=False,
    )
    lineage_tbl.commit(lineage_out, run_id)

    return RunResult(
        run_id, docs_in, time.time() - t0, True, snap.snapshot_id
    )


# Production conf for the 100 TB run (applied by main(); local tests use
# their own sessions). Rationale per key:
RECOMMENDED_CONF = {
    # runtime re-planning: post-shuffle coalesce + skew-split the salted
    # repartition's output
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # multi-MB html cells: a 10k-row default batch of 1 MB docs is 10 GB in
    # one Arrow chunk — cap rows per batch (output side is further bounded
    # by the UDF's FLUSH_ROWS/FLUSH_BYTES)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # binary-heavy scans: smaller splits keep per-task memory bounded and
    # give AQE finer units to coalesce
    "spark.sql.files.maxPartitionBytes": "64m",
    # transient (soft) failures re-raise from the UDF by design — give the
    # scheduler headroom to retry them before failing the stage
    "spark.task.maxFailures": "4",
    # long-lived Python workers amortize import cost across batches
    "spark.python.worker.reuse": "true",
    # date_trunc/windowing must not depend on whatever TZ the cluster
    # hosts happen to run in (time_rollup_cascade et al.)
    "spark.sql.session.timeZone": "UTC",
}


def main() -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--heavy-bytes", type=int, default=HEAVY_BYTES_DEFAULT)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument(
        "--output-format",
        default="text",
        help="content renderer for the PDF path: text (default, the "
        "byte-identity surface), markdown, or any other value for the "
        "bare newline-join fallback (M4, core/config.py)",
    )
    ap.add_argument(
        "--quarantine-soft",
        action="store_true",
        help="salvage pass: commit transient failures as soft_failure rows "
        "instead of raising for task retry (run AFTER a normal pass; the "
        "resume anti-join feeds it only the still-unextracted urls)",
    )
    args = ap.parse_args()

    from ..core.config import ExtractionConfig

    config = ExtractionConfig(output_format=args.output_format)

    builder = SparkSession.builder.appName(f"extract-{args.run_id}")
    for key, value in RECOMMENDED_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    pages = spark.read.parquet(args.pages)
    res = run_extraction_job(
        spark,
        pages,
        args.warehouse,
        args.run_id,
        num_partitions=args.num_partitions,
        heavy_bytes=args.heavy_bytes,
        quarantine_soft=args.quarantine_soft,
        config=config,
    )
    print(
        f"run_id={res.run_id} docs_in={res.docs_in} committed={res.committed} "
        f"snapshot={res.snapshot_id} wall_s={res.wall_s:.1f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
