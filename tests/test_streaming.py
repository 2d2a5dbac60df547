"""Structured Streaming extraction: batch parity + exactly-once file intake
(the checkpoint replaces the reference's manual Kafka offset commits,
kafka_background_service.py:130-158)."""

from __future__ import annotations

import pandas as pd

from pdf_document_extractor_spark.fixtures.gen import gen_scale_corpus
from pdf_document_extractor_spark.sources.pages import pages_df_from_fixtures
from pdf_document_extractor_spark.streaming.stream import (
    stream_extract_committed,
    stream_extract_parquet_dir,
)


def _write_pages(spark, docs, path: str, n_files: int = 4) -> None:
    pages_df_from_fixtures(spark, docs).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)


def test_stream_matches_batch(spark, tmp_path):
    docs = gen_scale_corpus(120)
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir)

    q = stream_extract_parquet_dir(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(300)

    from pdf_document_extractor_spark.operators.extract import extract_pages

    batch = extract_pages(spark.read.parquet(pages_dir))
    got = {
        (r.url, r.page_number): (r.content, r.status)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.url, r.page_number): (r.content, r.status) for r in batch.collect()
    }
    assert got == want


def test_stream_restart_no_duplicates(spark, tmp_path):
    docs = gen_scale_corpus(60)
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir, n_files=2)

    q1 = stream_extract_parquet_dir(spark, pages_dir, out_dir, ckpt)
    q1.awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()

    # restart with the SAME checkpoint: no new files => no new rows
    q2 = stream_extract_parquet_dir(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out_dir).count() == n1

    # drop new files in: only those are picked up (incremental intake)
    more = gen_scale_corpus(30, seed=99)
    for d in more:  # disambiguate urls vs the first corpus
        d.url = d.url.replace("https://", "https://extra-")
    extra_df = pages_df_from_fixtures(spark, more)
    extra_pd = extra_df.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # append a new file without disturbing existing ones
    tbl = pa.Table.from_pandas(extra_pd)
    pq.write_table(tbl, f"{pages_dir}/extra-0.parquet")
    q3 = stream_extract_parquet_dir(spark, pages_dir, out_dir, ckpt)
    q3.awaitTermination(300)
    n3 = spark.read.parquet(out_dir).count()
    assert n3 > n1
    urls = [r.url for r in spark.read.parquet(out_dir).select("url").collect()]
    from collections import Counter

    per_page = Counter(
        (r.url, r.page_number)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert max(per_page.values()) == 1  # exactly-once per (url, page)

def test_stream_committed_snapshots_and_lineage(spark, tmp_path):
    """foreachBatch variant: per-micro-batch atomic snapshots + lineage,
    idempotent under restart (the streaming analog of plans/run.py)."""
    from pdf_document_extractor_spark.sources.catalog import SnapshotTable

    docs = gen_scale_corpus(80)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir, n_files=3)

    q = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q.awaitTermination(300)

    extracted_tbl = SnapshotTable(wh, "extracted")
    lineage_tbl = SnapshotTable(wh, "lineage")
    ext = extracted_tbl.read(spark)
    assert ext is not None
    n1 = ext.count()
    # every micro-batch snapshot has its lineage twin
    assert extracted_tbl.committed_run_ids() == lineage_tbl.committed_run_ids()

    # lineage doc counts reconcile exactly with committed extracted rows
    lin = lineage_tbl.read(spark)
    total_docs = sum(r.doc_count for r in lin.collect())
    assert total_docs == ext.select("url").distinct().count()

    # restart with same checkpoint: no new snapshots, no new rows
    snaps_before = extracted_tbl.current_snapshot_id()
    q2 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q2.awaitTermination(300)
    assert extracted_tbl.current_snapshot_id() == snaps_before
    assert extracted_tbl.read(spark).count() == n1

    # exactly-once per (url, page) across all snapshots
    from collections import Counter

    per_page = Counter(
        (r.url, r.page_number) for r in extracted_tbl.read(spark).collect()
    )
    assert max(per_page.values()) == 1
