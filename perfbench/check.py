"""Output checker, run on every repetition.

The pure ``*_problems`` functions take plain data and return a list of
human-readable problems (empty = correct); ``read_*`` functions fetch that
data from a finished job. Keeping them apart lets the benchmark's own
tests plant wrong outputs without a Spark session.
"""

from __future__ import annotations

import hashlib
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa

    from gen import Texts

IGNORED = ("partition_id",)  # placement-dependent by design


def _comparable(rows: list[dict]) -> list[dict]:
    out = [{k: v for k, v in r.items() if k not in IGNORED} for r in rows]
    return sorted(out, key=lambda r: r["page_number"])


def pipeline_problems(
    docs_in: int,
    expected_urls: set[str],
    failing: set[str],
    run_rows: "pa.Table",
    prior_urls: set[str],
    rollup: dict | None,
    oracle: dict[str, list[dict]],
) -> list[str]:
    """Checks one extraction job's committed output.

    ``run_rows``: every row of this run's ``extracted`` snapshot.
    ``prior_urls``: urls of every other snapshot of the table.
    ``rollup``: this run's run-level lineage row (partition_id == -1).
    ``oracle``: url -> ``extract_rows_py`` rows for a seeded sample."""
    import pyarrow as pa
    import pyarrow.compute as pc

    problems: list[str] = []
    if docs_in != len(expected_urls):
        problems.append(f"docs_in {docs_in} != expected {len(expected_urls)}")
    urls = set(run_rows.column("url").to_pylist())
    missing, extra = expected_urls - urls, urls - expected_urls
    if missing:
        problems.append(f"{len(missing)} urls have no row, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected urls, e.g. {min(extra)}")
    twice = urls & prior_urls
    if twice:
        problems.append(f"{len(twice)} urls in two snapshots, e.g. {min(twice)}")
    hard = pc.equal(run_rows.column("status"), "hard_failure")
    hard_urls = set(run_rows.filter(hard).column("url").to_pylist())
    if hard_urls != failing:
        problems.append(
            f"hard-failure urls differ from the planted set: "
            f"{len(hard_urls - failing)} unplanted, "
            f"{len(failing - hard_urls)} planted but not failed"
        )
    if rollup is None:
        problems.append("no run rollup row in lineage")
    else:
        want = {"doc_count": len(expected_urls),
                "hard_fail_count": len(failing), "soft_fail_count": 0}
        for key, value in want.items():
            if rollup.get(key) != value:
                problems.append(f"rollup {key} {rollup.get(key)} != {value}")
    sample = run_rows.filter(pc.is_in(run_rows.column("url"),
                                      value_set=pa.array(list(oracle), pa.string())))
    got: dict[str, list[dict]] = {}
    for row in sample.to_pylist():
        got.setdefault(row["url"], []).append(row)
    for url, rows in sorted(oracle.items()):
        if _comparable(got.get(url, [])) != _comparable(rows):
            problems.append(f"rows of {url} differ from extract_rows_py")
    return problems


def _read_files(files: list[str], columns=None) -> "pa.Table":
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.concat_tables(
        [pq.read_table(f, columns=columns) for f in sorted(files)]
    )


def read_pipeline_outputs(spark, warehouse: str, run_id: str, snapshot_id: int):
    """(run_rows, prior_urls, rollup) of a committed run. Files are located
    through the catalog (``inputFiles`` lists, it runs no job) and read
    with pyarrow, so checking adds no Spark jobs to the measured session."""
    from pdf_document_extractor_spark.sources.catalog import SnapshotTable

    extracted = SnapshotTable(warehouse, "extracted")
    run_rows = _read_files(extracted.read_snapshot(spark, snapshot_id).inputFiles())
    prior_urls: set[str] = set()
    for snap in extracted.snapshots():
        if snap.snapshot_id != snapshot_id:
            files = extracted.read_snapshot(spark, snap.snapshot_id).inputFiles()
            prior_urls |= set(_read_files(files, ["url"]).column("url").to_pylist())
    lineage = SnapshotTable(warehouse, "lineage")
    rollup = None
    for snap in lineage.snapshots():
        if snap.run_id == run_id:
            rows = _read_files(lineage.read_snapshot(spark, snap.snapshot_id).inputFiles())
            rollup = next((r for r in rows.to_pylist() if r["partition_id"] == -1), None)
    return run_rows, prior_urls, rollup


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, tokenized like ``functions.text.tokens``."""
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def dedup_problems(
    texts: "Texts",
    exact_rows: list[dict],
    pairs: list[dict],
    clusters: dict[int, int],
    tau_pct: int = 80,
) -> list[str]:
    """Checks the dedup chain against the planted structure.

    ``exact_rows``: ``exact_dedup`` output; ``pairs``: ``minhash_lsh_pairs``
    output; ``clusters``: doc_id -> cluster_id from ``dedup_clusters``."""
    problems: list[str] = []
    if sum(r["dup_count"] for r in exact_rows) != len(texts.doc_ids):
        problems.append("exact_dedup dup_count does not sum to the corpus size")
    by_md5 = {r["text_md5"]: r for r in exact_rows}
    for group in texts.exact_groups:
        md5 = hashlib.md5(texts.texts[group[0]].encode("utf-8")).hexdigest()
        row = by_md5.get(md5)
        if row is None or (row["keeper_id"], row["dup_count"]) != (min(group), len(group)):
            problems.append(f"exact copy group {group} not found as one keeper")
    sets: dict[int, set[str]] = {}
    for p in pairs:
        a, b = (sets.setdefault(i, shingles(texts.texts[i])) for i in (p["id_a"], p["id_b"]))
        inter, union = len(a & b), len(a | b)
        if 100 * inter < tau_pct * union or p["inter"] != inter:
            problems.append(
                f"pair ({p['id_a']}, {p['id_b']}) reported, exact Jaccard "
                f"{inter}/{union}"
            )
    for chain in texts.chains:
        got = [clusters.get(i) for i in chain]
        if got != [min(chain)] * len(chain):
            problems.append(f"chain {chain} collapses to {got}, not {min(chain)}")
    return problems
