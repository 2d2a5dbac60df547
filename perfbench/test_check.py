"""The output checker accepts a correct job output and catches planted
wrong ones. No Spark session: outputs are built with the pure-Python
oracle, as the Spark job must produce them.

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
from pdf_document_extractor_spark.operators.extract import extract_rows_py  # noqa: E402


@pytest.fixture(scope="module")
def job_output():
    pages = gen._pages(seed=5, n=300, mix=gen.CRAWL_MIX)
    rows = []
    for k, (url, payload) in enumerate(zip(pages.urls, pages.payloads)):
        rows += extract_rows_py(url, payload, partition_id=k % 8)
    # one sampled doc of every mode, as the benchmark samples them
    sample = {}
    for url, mode in zip(pages.urls, pages.modes):
        sample.setdefault(mode, url)
    oracle = {u: [r for r in rows if r["url"] == u] for u in sample.values()}
    rollup = {"doc_count": len(pages.urls), "hard_fail_count": len(pages.failing),
              "soft_fail_count": 0}
    return pages, rows, oracle, rollup


def _problems(pages, rows, oracle, rollup, prior=frozenset()):
    return check.pipeline_problems(
        len(pages.urls), set(pages.urls), pages.failing,
        pa.Table.from_pylist(rows), set(prior), rollup, oracle)


def test_correct_output_passes(job_output):
    pages, rows, oracle, rollup = job_output
    assert pages.failing, "the corpus must plant corrupt payloads"
    assert _problems(pages, rows, oracle, rollup) == []


def test_mutated_content_row_is_caught(job_output):
    pages, rows, oracle, rollup = job_output
    url = next(u for u, rs in oracle.items() if rs[0]["content"])
    k = next(i for i, r in enumerate(rows) if r["url"] == url)
    bad = list(rows)
    bad[k] = dict(bad[k], content=bad[k]["content"] + " ")
    assert any(url in p for p in _problems(pages, bad, oracle, rollup))


def test_dropped_url_is_caught(job_output):
    pages, rows, oracle, rollup = job_output
    url = pages.urls[17]
    bad = [r for r in rows if r["url"] != url]
    problems = _problems(pages, bad, oracle, rollup)
    assert any("have no row" in p and url in p for p in problems)


def test_url_in_two_snapshots_is_caught(job_output):
    pages, rows, oracle, rollup = job_output
    problems = _problems(pages, rows, oracle, rollup, prior={pages.urls[3]})
    assert any("two snapshots" in p for p in problems)


def test_rollup_mismatch_is_caught(job_output):
    pages, rows, oracle, rollup = job_output
    bad = dict(rollup, soft_fail_count=1)
    assert any("soft_fail_count" in p for p in _problems(pages, rows, oracle, bad))


@pytest.fixture(scope="module")
def dedup_output():
    texts = gen.dedup_near(seed=5)
    groups: dict[str, list[int]] = {}
    for i, t in zip(texts.doc_ids, texts.texts):
        groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(i)
    exact = [{"text_md5": m, "keeper_id": min(ids), "dup_count": len(ids)}
             for m, ids in groups.items()]
    # planted units are consecutive ids, so near pairs lie within 2 ids
    pairs, parent = [], {}
    for a in texts.doc_ids:
        for b in (a + 1, a + 2):
            if b >= len(texts.texts) or texts.texts[a] == texts.texts[b]:
                continue
            sa, sb = check.shingles(texts.texts[a]), check.shingles(texts.texts[b])
            inter = len(sa & sb)
            if 100 * inter >= 80 * len(sa | sb):
                pairs.append({"id_a": a, "id_b": b, "inter": inter})
                parent[b] = parent.get(a, a)
    clusters = {i: parent.get(i, i) for p in pairs for i in (p["id_a"], p["id_b"])}
    return texts, exact, pairs, clusters


def test_dedup_correct_output_passes(dedup_output):
    texts, exact, pairs, clusters = dedup_output
    assert texts.chains and texts.exact_groups
    assert check.dedup_problems(texts, exact, pairs, clusters) == []


def test_dedup_false_pair_is_caught(dedup_output):
    texts, exact, pairs, clusters = dedup_output
    bad = pairs + [{"id_a": 0, "id_b": len(texts.texts) - 1, "inter": 0}]
    assert any("exact Jaccard" in p for p in check.dedup_problems(texts, exact, bad, clusters))


def test_dedup_broken_chain_is_caught(dedup_output):
    texts, exact, pairs, clusters = dedup_output
    a, b, c = texts.chains[0]
    bad = dict(clusters)
    bad[c] = b
    assert any("chain" in p for p in check.dedup_problems(texts, exact, pairs, bad))


def test_dedup_missed_copy_group_is_caught(dedup_output):
    texts, exact, pairs, clusters = dedup_output
    group = texts.exact_groups[0]
    bad = [dict(r, dup_count=1) if r["keeper_id"] == min(group) else r for r in exact]
    bad.append({"text_md5": "x", "keeper_id": max(group), "dup_count": len(group) - 1})
    assert any("copy group" in p for p in check.dedup_problems(texts, bad, pairs, clusters))
