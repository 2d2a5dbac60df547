"""Connected-components clustering: pointer-jumping convergence + shape.

The gate oracle (recursive-CTE transitive closure) covers the near-dup
corpus; these tests pin the graph-shape edge cases the synthetic corpus
can't produce: long chains (log-round convergence), multiple components,
and the explicit non-convergence signal.
"""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.operators.dedup import dedup_clusters


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_long_chain_converges_in_log_rounds(spark):
    """A 33-node path has diameter 32; min-propagation alone needs 32
    rounds, pointer jumping needs ~log2(32)+1. max_iter=8 passes only if
    the jump step works."""
    edges = [(i, i + 1) for i in range(32)]
    got = dedup_clusters(_pairs(spark, edges), max_iter=8).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == 33


def test_multiple_components_and_min_keeper(spark):
    edges = [(5, 3), (3, 9), (20, 21), (40, 41), (41, 42), (40, 42)]
    got = {r.doc_id: r.cluster_id for r in
           dedup_clusters(_pairs(spark, edges)).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20,
                   40: 40, 41: 40, 42: 40}


def test_rounds_do_not_fan_out_to_shuffle_partitions(spark):
    """At the default 200 shuffle partitions a small graph must still run
    few tasks: no round may materialize through a cached plan, whose output
    partitioning stays at spark.sql.shuffle.partitions (AQE cannot coalesce
    it) and fans every later join of the round out to 200 tasks."""
    edges = [(5, 3), (3, 9), (20, 21), (40, 41), (41, 42), (40, 42)]
    edges += [(i, i + 1) for i in range(100, 108)]
    want = {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 40: 40, 41: 40, 42: 40}
    want.update({i: 100 for i in range(100, 109)})
    sc = spark.sparkContext
    group = "test_dedup_clusters_task_count"
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    saved_group = sc.getLocalProperty("spark.jobGroup.id")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        got = {r.doc_id: r.cluster_id for r in
               dedup_clusters(_pairs(spark, edges)).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", saved_group)
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    assert got == want
    tracker = sc.statusTracker()
    stages = (
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    tasks = sum(s.numCompletedTasks for s in stages if s is not None)
    assert 0 < tasks < 200, tasks


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(64)]  # diameter 64 > 2^2ish rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs(spark, edges), max_iter=2)


def test_ngram_max_df_drops_only_hot_shingles(spark):
    """max_df guard: identical docs still pair (their rare shingles agree);
    a shingle shared by every doc stops connecting unrelated docs."""
    from pdf_document_extractor_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # every doc shares the 'common filler words' shingle; docs 1/2 are
    # identical, the rest unrelated
    rows = [
        (1, "common filler words alpha bravo charlie delta"),
        (2, "common filler words alpha bravo charlie delta"),
        (3, "common filler words echo foxtrot golf hotel"),
        (4, "common filler words india juliet kilo lima"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, tau_pct=80).collect()}
    capped = {(r.id_a, r.id_b) for r in
              ngram_jaccard_pairs(docs, tau_pct=80, max_df=3).collect()}
    assert exact == {(1, 2)}
    assert capped == {(1, 2)}  # guard drops the ubiquitous shingle only
    # and the pair survives even at max_df=1 (all its distinctive
    # shingles have df == 2 <= ... pick max_df=2)
    capped2 = {(r.id_a, r.id_b) for r in
               ngram_jaccard_pairs(docs, tau_pct=80, max_df=2).collect()}
    assert capped2 == {(1, 2)}
