"""Traced runs: spans around the package's layers, attributed from outside.

``Tracer`` substitutes, in this process only, the names ``plans.run``
calls (``host_stats``, ``salted_repartition``, ``split_heavy``,
``extract_pages``, ``lineage_rows``, ``run_rollup`` and the
``SnapshotTable`` methods) and the dedup entry points with wrappers. Each
wrapper records a span (name, start, end, parent) and sets
``spark.job.description`` to ``<rep>:<span id>:<name>``, so every Spark job
the call launches is attributed to it in the event log.

Evaluation is lazy: extraction and the salted shuffle run inside
``catalog.commit_extracted``, and the lineage aggregation inside
``catalog.commit_lineage``. Their cost is split by stage and plan node
from Spark's own metrics (``layer_metrics``), not by wall time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import statistics
import time

DOC_TYPES = ("html", "pdf", "txt", "docx", "xlsx", "pptx", "odt", "ods",
             "epub", "rtf", "doc", "xls", "png", "jpg", "gif")
CORE_SAMPLE = 8  # docs per generator mode timed in-process
CORE_REPEAT = 3  # each timed this often; the minimum is kept

PLAN_CALLS = {
    "host_stats": "skew.host_stats",
    "salted_repartition": "skew.salted_repartition",
    "split_heavy": "skew.split_heavy",
    "extract_pages": "extract.extract_pages",
    "lineage_rows": "lineage.lineage_rows",
    "run_rollup": "lineage.run_rollup",
}
CATALOG_METHODS = ("committed_run_ids", "read", "commit", "read_snapshot")
DEDUP_CALLS = ("exact_dedup", "minhash_lsh_pairs", "dedup_clusters",
               "simhash_near_pairs")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.rep = 0
        self.active = False
        self.hot_hosts: dict[int, int] = {}  # rep -> len(host_stats hot set)
        self.results: dict[int, object] = {}  # rep -> the job's return value
        self.written: dict[int, tuple[int, int]] = {}  # rep -> (files, bytes)
        self._patch()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "rep": self.rep,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self.stack.append(sid)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{self.rep}:{sid}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setJobDescription(prev)

    def _wrap(self, fn, name: str, name_of=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name_of(args) if name_of else name):
                out = fn(*args, **kwargs)
            if fn.__name__ == "host_stats" and self.active:
                self.hot_hosts[self.rep] = len(out[0])
            return out

        return wrapper

    def _patch(self) -> None:
        from pdf_document_extractor_spark.operators import dedup
        from pdf_document_extractor_spark.plans import run as plan
        from pdf_document_extractor_spark.sources.catalog import SnapshotTable

        for attr, name in PLAN_CALLS.items():
            setattr(plan, attr, self._wrap(getattr(plan, attr), name))
        for meth in CATALOG_METHODS:
            setattr(SnapshotTable, meth, self._wrap(
                getattr(SnapshotTable, meth), "",
                lambda a, m=meth: f"catalog.{m}_{a[0].root.name}"))
        for attr in DEDUP_CALLS:
            setattr(dedup, attr, self._wrap(getattr(dedup, attr), f"dedup.{attr}"))

    def job(self, wl, spark):
        """One repetition of the workload's job under a root span."""
        self.rep += 1
        wh = getattr(wl, "wh", None)
        before = _dir_size(wh) if wh else (0, 0)
        self.active = True
        try:
            with self.span(wl.ROOT_SPAN):
                res = wl.job(spark, self.span)
        finally:
            self.active = False
        after = _dir_size(wh) if wh else (0, 0)
        self.written[self.rep] = (after[0] - before[0], after[1] - before[1])
        self.results[self.rep] = res
        return res

    # -- analysis ----------------------------------------------------------
    def rep_spans(self, rep: int) -> list[dict]:
        spans = [dict(s) for s in self.spans if s["rep"] == rep]
        for s in spans:
            s["dur"] = s["end"] - s["start"]
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
            s["self"] = s["dur"] - _covered(kids)
        return spans


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


# -- Spark event log ---------------------------------------------------------

class EventLog:
    """Jobs, stages, tasks and SQL plan nodes of one application's
    uncompressed, non-rolling event log."""

    def __init__(self, path: str):
        self.job_desc: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_acc: dict[int, dict[str, float]] = {}
        self.stage_tasks: dict[int, list[int]] = {}  # records read per task
        self.node_of_acc: dict[int, dict] = {}
        self.acc_value: dict[int, float] = {}
        self.acc_exec: dict[int, int] = {}
        self.exec_desc: dict[int, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, node: dict, execution: int) -> None:
        for m in node.get("metrics", []):
            self.node_of_acc[m["accumulatorId"]] = node
            self.acc_exec[m["accumulatorId"]] = execution
        for child in node.get("children", []):
            self._plan(child, execution)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            self.job_desc[e["Job ID"]] = desc
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc: dict[str, float] = {}
            for a in info.get("Accumulables", []):
                try:
                    value = float(a["Value"])
                except (TypeError, ValueError):
                    continue
                acc[a["Name"]] = acc.get(a["Name"], 0.0) + value
                self.acc_value[a["ID"]] = max(self.acc_value.get(a["ID"], 0.0), value)
            self.stage_acc[info["Stage ID"]] = acc
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            rec = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            rec += (m.get("Input Metrics") or {}).get("Records Read", 0)
            self.stage_tasks.setdefault(e["Stage ID"], []).append(rec)
        elif kind == "SparkListenerSQLExecutionStart":
            self.exec_desc[e["executionId"]] = e.get("description") or ""
            self._plan(e["sparkPlanInfo"], e["executionId"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"], e["executionId"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc_value[acc_id] = max(self.acc_value.get(acc_id, 0.0), float(value))

    def stages_of(self, rep: int, span_id: int) -> list[int]:
        tag = f"{rep}:{span_id}:"
        return sorted(s for s, j in self.stage_job.items()
                      if self.job_desc.get(j, "").startswith(tag))

    def jobs_of(self, rep: int, span_id: int) -> int:
        tag = f"{rep}:{span_id}:"
        return sum(1 for d in self.job_desc.values() if d.startswith(tag))

    def node_metric(self, rep: int, span_ids: set[int], node_re: str,
                    metric: str) -> list[float]:
        """Values of ``metric`` on plan nodes matching ``node_re`` (node
        name + metadata) in SQL executions of the given spans."""
        tags = tuple(f"{rep}:{s}:" for s in span_ids)
        out = []
        for acc_id, node in self.node_of_acc.items():
            if not self.exec_desc.get(self.acc_exec[acc_id], "").startswith(tags):
                continue
            if acc_id not in self.acc_value:
                continue
            label = node["nodeName"] + " " + json.dumps(node.get("metadata", {}))
            label += " " + node.get("simpleString", "")
            names = {m["accumulatorId"]: m["name"] for m in node["metrics"]}
            if names.get(acc_id) == metric and re.search(node_re, label):
                out.append(self.acc_value[acc_id])
        return out


def _sum(log: EventLog, stages: list[int], name: str) -> float:
    return sum(log.stage_acc.get(s, {}).get(name, 0.0) for s in stages)


# Per-span Spark metrics: (accumulable, scale). Spark's "time to start /
# initialize Python workers" are left out: a reused worker starts its
# clock when it goes idle, so they count the wait between tasks.
SPARK_STAGE_METRICS = {
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1.0),
    "shuffle_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1.0),
    "shuffle_write_s": ("internal.metrics.shuffle.write.writeTime", 1e-9),
    "fetch_wait_s": ("internal.metrics.shuffle.read.fetchWaitTime", 1e-3),
    "input_bytes": ("internal.metrics.input.bytesRead", 1.0),
    "python_run_s": ("time to run Python workers", 1e-3),
    "bytes_to_python": ("data sent to Python workers", 1.0),
    "bytes_from_python": ("data returned from Python workers", 1.0),
}


def _stage_table(log: EventLog, stages: list[int]) -> dict[str, float]:
    return {k: _sum(log, stages, acc) * scale
            for k, (acc, scale) in SPARK_STAGE_METRICS.items()}


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# -- in-process core timings -------------------------------------------------

def core_timings(wl) -> tuple[dict[str, float], float]:
    """``core.*`` and the in-process part of ``extract.*``, over a seeded
    sample of the workload's own payloads: up to ``CORE_SAMPLE`` docs
    per generator mode, weighted back to the workload's mix. Also returns
    the mix-weighted in-process ``extract_rows_py`` cost per doc (us)."""
    import random

    from pdf_document_extractor_spark.core.dispatch import (
        extract_document,
        sniff_doc_type,
    )
    from pdf_document_extractor_spark.operators.extract import extract_rows_py

    pages = wl.pages
    by_mode: dict[str, list[int]] = {}
    for i, mode in enumerate(pages.modes):
        by_mode.setdefault(mode, []).append(i)
    rng = random.Random(0)

    def best(fn, *args):
        times = []
        for _ in range(CORE_REPEAT):
            t0 = time.perf_counter()
            out = fn(*args)
            times.append(time.perf_counter() - t0)
        return min(times), out

    per_type: dict[str, list[float]] = {}  # doc_type -> [weighted us, weight]
    sniff = rows_extra = rows_total = 0.0
    for mode, ids in sorted(by_mode.items()):
        picks = rng.sample(ids, min(CORE_SAMPLE, len(ids)))
        share = len(ids) / len(pages.urls)
        ext = row = sn = 0.0
        doc_type = None
        for i in picks:
            url, payload = pages.urls[i], pages.payloads[i]
            t, res = best(extract_document, url, payload)
            ext += t
            row += best(extract_rows_py, url, payload)[0]
            sn += best(sniff_doc_type, payload)[0]
            doc_type = res.doc_type
        n = len(picks)
        acc = per_type.setdefault(doc_type, [0.0, 0.0])
        acc[0] += share * ext / n * 1e6
        acc[1] += share
        sniff += share * sn / n * 1e6
        rows_extra += share * (row - ext) / n * 1e6
        rows_total += share * row / n * 1e6
    out = {f"core.extract_us.{t}": 0.0 for t in DOC_TYPES}
    for t, (w_us, w) in per_type.items():
        if t in DOC_TYPES:
            out[f"core.extract_us.{t}"] = w_us / w
    out["core.sniff_us"] = sniff
    out["extract.rows_us_per_doc"] = rows_extra
    return out, rows_total


# -- per-layer metrics ---------------------------------------------------------

def _rep_metrics(tr: Tracer, log: EventLog, rep: int, wl, wall: float,
                 rows_py_us: float):
    spans = tr.rep_spans(rep)
    table = []
    for s in spans:
        stages = log.stages_of(rep, s["id"])
        table.append({**{k: s[k] for k in ("id", "name", "parent", "dur", "self")},
                      "jobs": log.jobs_of(rep, s["id"]), "stages": stages,
                      "spark": _stage_table(log, stages)})
    # a name's aggregate covers each of its spans' whole subtree, so work
    # launched by a nested call counts for the enclosing layer too
    kids: dict[int, list[dict]] = {}
    for row in table:
        kids.setdefault(row["parent"], []).append(row)

    def subtree(row):
        yield row
        for kid in kids.get(row["id"], []):
            yield from subtree(kid)

    by_name: dict[str, dict] = {}
    for row in table:
        agg = by_name.setdefault(row["name"], {"dur": 0.0, "jobs": 0, "stages": []})
        agg["dur"] += row["dur"]
        for r in subtree(row):
            agg["jobs"] += r["jobs"]
            agg["stages"] += r["stages"]
    all_stages = sorted({st for row in table for st in row["stages"]})
    total = _stage_table(log, all_stages)
    root = next((s for s in spans if s["name"] == wl.ROOT_SPAN), None)
    # share of the repetition's wall that layer spans account for; the
    # root's self time is what no wrapped call explains
    layer_self = sum(s["self"] for s in spans if s is not root)
    m = {
        "trace.job_s": (wall, "s"),
        "trace.layer_share": (layer_self / wall, "ratio"),
        "spark.executor_run_s": (total["executor_run_s"], "s"),
        "spark.executor_cpu_s": (total["executor_cpu_s"], "s"),
        "spark.gc_s": (total["gc_s"], "s"),
        "spark.spill_bytes": (total["spill_bytes"], "B"),
        "spark.jobs": (sum(r["jobs"] for r in table), "count"),
        "spark.stages": (len(all_stages), "count"),
        "run.self_s": (root["self"] if root else 0.0, "s"),
    }

    def span_s(name):
        return by_name.get(name, {}).get("dur", 0.0)

    def stages_named(name):
        return sorted(set(by_name.get(name, {}).get("stages", [])))

    ext_stages = stages_named("catalog.commit_extracted")
    ext_ids = {s["id"] for s in spans if s["name"] == "catalog.commit_extracted"}
    ext = _stage_table(log, ext_stages)
    lin = _stage_table(log, stages_named("catalog.commit_lineage"))
    py_stages = [s for s in ext_stages
                 if "time to run Python workers" in log.stage_acc.get(s, {})]
    tasks = [r for s in py_stages for r in log.stage_tasks.get(s, []) if r > 0]
    docs = getattr(wl, "docs", 0)
    m.update({
        "extract.python_run_s": (ext["python_run_s"], "s"),
        "extract.bytes_to_python": (ext["bytes_to_python"], "B"),
        "extract.bytes_from_python": (ext["bytes_from_python"], "B"),
        "extract.rows_out": (sum(log.node_metric(
            rep, ext_ids, r"^MapInPandas", "number of output rows")), "count"),
        "extract.boundary_s": (
            ext["python_run_s"] - docs * rows_py_us / 1e6 if ext_stages else 0.0, "s"),
        "skew.host_stats_s": (span_s("skew.host_stats"), "s"),
        "skew.hot_hosts": (tr.hot_hosts.get(rep, 0), "count"),
        "skew.shuffle_bytes": (ext["shuffle_bytes"], "B"),
        "skew.shuffle_write_s": (ext["shuffle_write_s"], "s"),
        "skew.fetch_wait_s": (ext["fetch_wait_s"], "s"),
        "skew.task_docs_max_over_median": (
            max(tasks) / statistics.median(tasks) if tasks else 0.0, "ratio"),
        "catalog.commit_extracted_s": (span_s("catalog.commit_extracted"), "s"),
        "catalog.commit_lineage_s": (span_s("catalog.commit_lineage"), "s"),
        "catalog.read_bytes": (sum(log.node_metric(
            rep, {s["id"] for s in spans}, r"Scan parquet.*/(extracted|lineage)/data",
            "size of files read")), "B"),
        "lineage.s": (lin["executor_run_s"], "s"),
        "lineage.shuffle_bytes": (lin["shuffle_bytes"], "B"),
        "dedup.exact_s": (span_s("dedup.exact"), "s"),
        "dedup.minhash_lsh_s": (span_s("dedup.minhash_lsh"), "s"),
        "dedup.clusters_s": (span_s("dedup.clusters"), "s"),
        "dedup.simhash_pairs_s": (span_s("dedup.simhash_pairs"), "s"),
        "dedup.cluster_jobs": (by_name.get("dedup.clusters", {}).get("jobs", 0), "count"),
    })
    cand = log.node_metric(rep, {s["id"] for s in spans if s["name"].startswith("dedup.minhash")},
                           r"HashAggregate.*keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]",
                           "number of output rows")
    res = tr.results.get(rep)
    verified = len(res[1]) if isinstance(res, tuple) else 0
    files, size = tr.written.get(rep, (0, 0))
    m["catalog.files_written"] = (files, "count")
    m["catalog.bytes_written"] = (size, "B")
    m["catalog.write_amp"] = (size / wl.input_bytes, "ratio")
    candidates = min(cand) if cand else 0
    m["dedup.lsh_candidates"] = (candidates, "count")
    m["dedup.lsh_verified"] = (verified, "count")
    m["dedup.lsh_useful_ratio"] = (verified / candidates if candidates else 0.0, "ratio")
    return m, table


def layer_metrics(tr: Tracer, wl, walls: list[float], cold: float,
                  event_dir: str, out_path: str) -> dict:
    """Per-layer metrics: medians over the timed repetitions (the last
    ``len(walls)``; the cold job is rep 1, the warm-up reps follow it),
    plus the layer table written to ``out_path``. Call it after the session
    has stopped: stopping drains Spark's listener queue into the event log
    and closes the file."""
    (path,) = glob.glob(os.path.join(event_dir, "*"))  # one application per run
    if path.endswith(".inprogress"):
        raise RuntimeError(f"event log {path} is still being written")
    log = EventLog(path)
    if hasattr(wl, "pages"):
        core, rows_py_us = core_timings(wl)
    else:
        core = {f"core.extract_us.{t}": 0.0 for t in DOC_TYPES}
        core.update({"core.sniff_us": 0.0, "extract.rows_us_per_doc": 0.0})
        rows_py_us = 0.0
    reps = list(range(tr.rep - len(walls) + 1, tr.rep + 1))
    per_rep, tables = [], {}
    for rep, wall in zip(reps, walls):
        m, tables[rep] = _rep_metrics(tr, log, rep, wl, wall, rows_py_us)
        per_rep.append(m)
    metrics = {k: (statistics.median(r[k][0] for r in per_rep), u)
               for k, (_, u) in per_rep[0].items()}
    cold_m, tables[1] = _rep_metrics(tr, log, 1, wl, cold, rows_py_us)
    metrics["cold.job_s"] = (cold, "s")
    metrics["cold.python_run_s"] = cold_m["extract.python_run_s"]
    metrics.update({k: (v, "us") for k, v in core.items()})
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump({"reps": {str(k): v for k, v in tables.items()},
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                  fh, indent=1)
    return metrics
