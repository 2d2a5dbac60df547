"""Benchmark of the real extraction job and the dedup chain.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 6 --trace 0

Workloads, metrics and the layer map are described in README.md next to
this file. One run:

1. generates the workload's inputs from ``--seed`` and writes them to
   parquet (untimed);
2. builds the session as ``plans.run.main`` does (``RECOMMENDED_CONF``) on
   ``local[<cores>]``, launching the JVM, and reports that build as
   ``setup_s``;
3. times the first job of the session (the traced run reports it as
   ``cold.job_s``), runs the workload's ``WARMUP_REPS`` untimed warm-up
   repetitions (the JVM is still compiling hot code then: each one is
   faster and cheaper than the last), then repeats the job in a closed
   loop with one client -- the next repetition starts only after the
   previous one is checked -- until ``--seconds`` have passed and at
   least ``MIN_TIMED_REPS`` ran; ``job_s`` is their median;
4. checks every repetition's output (``check.py``) and prints one JSON
   line. ``--trace 1`` runs the same loop with spans around every call
   into the package's layers and Spark's event log on, and prints the
   per-layer metrics instead (``spans.py``), read from the event log once
   the session has stopped; its layer table is written under
   ``perfbench/_results``.

The Python workers Spark starts need the package on their path: the run
exports ``PYTHONPATH`` before the JVM starts. Without it, local-mode
executors die with ``ModuleNotFoundError``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_TIMED_REPS = 1
TAU_PCT = 80
ORACLE_PER_MODE = 2  # sampled docs per generator mode for the oracle check


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, event_dir: str | None = None):
    """The session as ``plans.run.main`` builds it (``RECOMMENDED_CONF``),
    on ``local[<cores>]``, with Spark's scratch space inside ``work``."""
    from pyspark.sql import SparkSession

    from pdf_document_extractor_spark.plans.run import RECOMMENDED_CONF

    builder = SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
    for key, value in RECOMMENDED_CONF.items():
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if event_dir:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def no_span(name: str):
    return contextlib.nullcontext()


class Pipeline:
    """``run_extraction_job`` into a fresh warehouse per repetition."""

    ROOT_SPAN = "plans.run"
    WARMUP_REPS = 3  # warm repetitions keep getting faster until about the fourth

    def __init__(self, seed: int, work: str):
        import gen

        self.work = work
        self.pages = gen.crawl_mixed(seed)
        self.expected = set(self.pages.urls)
        self.failing = self.pages.failing
        self.docs = len(self.pages.urls)
        self.input_bytes = sum(len(p) for p in self.pages.payloads)
        self.pages_path = os.path.join(work, "pages")
        gen.write_pages(self.pages, self.pages_path, n_files=2 * cores())
        self.oracle = self._oracle(seed)
        self.rep = 0

    def _oracle(self, seed: int) -> dict[str, list[dict]]:
        import random

        from pdf_document_extractor_spark.operators.extract import extract_rows_py

        by_mode: dict[str, list[int]] = {}
        for i, mode in enumerate(self.pages.modes):
            by_mode.setdefault(mode, []).append(i)
        rng = random.Random(seed)
        picks = [i for ids in by_mode.values()
                 for i in rng.sample(ids, min(ORACLE_PER_MODE, len(ids)))]
        return {self.pages.urls[i]: extract_rows_py(self.pages.urls[i],
                                                    self.pages.payloads[i])
                for i in picks}

    def before(self) -> None:
        """Untimed: a fresh warehouse per repetition."""
        self.rep += 1
        self.wh = os.path.join(self.work, f"wh{self.rep}")
        shutil.rmtree(os.path.join(self.work, f"wh{self.rep - 1}"),
                      ignore_errors=True)

    def job(self, spark, span):
        from pdf_document_extractor_spark.plans import run

        pages = spark.read.parquet(self.pages_path)
        return run.run_extraction_job(spark, pages, self.wh, f"run{self.rep}")

    def check(self, spark, res) -> list[str]:
        import check

        if not res.committed:
            return [f"run {res.run_id} not committed"]
        rows, prior, rollup = check.read_pipeline_outputs(
            spark, self.wh, res.run_id, res.snapshot_id)
        return check.pipeline_problems(res.docs_in, self.expected, self.failing,
                                       rows, prior, rollup, self.oracle)


class Dedup:
    """``exact_dedup`` -> ``minhash_lsh_pairs`` -> ``dedup_clusters`` ->
    ``simhash_near_pairs`` over the exact-dedup keepers."""

    ROOT_SPAN = "operators.dedup"
    WARMUP_REPS = 1  # the first warm repetition is 5-50% slower than the next

    def __init__(self, seed: int, work: str):
        import gen

        self.texts = gen.dedup_near(seed)
        self.docs = len(self.texts.doc_ids)
        self.input_bytes = sum(len(t.encode("utf-8")) for t in self.texts.texts)
        self.path = os.path.join(work, "texts")
        gen.write_texts(self.texts, self.path, n_files=2 * cores())

    def before(self) -> None:
        pass

    def job(self, spark, span):
        from pyspark.sql import functions as F  # noqa: N812

        from pdf_document_extractor_spark.operators import dedup

        docs = spark.read.parquet(self.path)
        with span("dedup.exact"):
            exact = dedup.exact_dedup(docs).collect()
        keepers = docs.join(
            spark.createDataFrame([(r["keeper_id"],) for r in exact], "doc_id long"),
            "doc_id")
        with span("dedup.minhash_lsh"):
            pairs = dedup.minhash_lsh_pairs(keepers, tau_pct=TAU_PCT).collect()
        with span("dedup.clusters"):
            edges = spark.createDataFrame(pairs, "id_a long, id_b long, inter long, "
                                          "size_a long, size_b long")
            clusters = dedup.dedup_clusters(edges).collect()
        with span("dedup.simhash_pairs"):
            near = dedup.simhash_near_pairs(keepers).agg(F.count("*")).collect()
        return (exact, pairs, clusters, near[0][0])

    def check(self, spark, res) -> list[str]:
        import check

        exact, pairs, clusters, _ = res
        return check.dedup_problems(
            self.texts, [r.asDict() for r in exact], [r.asDict() for r in pairs],
            {r["doc_id"]: r["cluster_id"] for r in clusters}, TAU_PCT)


WORKLOADS = {"crawl_mixed": Pipeline, "dedup_near": Dedup}


def _rep(wl, spark, tracer, sampler=None):
    """One checked repetition: (wall seconds, cpu seconds, problems). Both
    interpreters collect garbage first, untimed, so a collection that
    earlier repetitions made due lands outside the timed region."""
    import gc

    import proctree

    wl.before()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    busy0 = sampler.cpu_s if sampler else 0.0
    cpu0, t0 = proctree.cpu_seconds(), time.perf_counter()
    try:
        res = wl.job(spark, no_span) if tracer is None else tracer.job(wl, spark)
    except Exception as exc:  # a failed repetition is counted, not fatal
        return time.perf_counter() - t0, 0.0, [f"job raised {exc!r}"[:500]]
    wall, cpu = time.perf_counter() - t0, proctree.cpu_seconds() - cpu0
    cpu -= (sampler.cpu_s if sampler else 0.0) - busy0
    try:
        return wall, cpu, wl.check(spark, res)
    except Exception as exc:  # noqa: BLE001 -- an unreadable output is wrong
        return wall, cpu, [f"check raised {exc!r}"[:500]]


def measure(args, work: str) -> dict:
    wl = WORKLOADS[args.workload](args.seed, work)
    event_dir = tracer = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
    print(f"inputs ready after {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(work, event_dir)
        setup_s = time.perf_counter() - t0
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
        print(f"session ready after {time.perf_counter() - T_START:.1f} s",
              file=sys.stderr)
        cold, walls, cpus, peak_mb, attempted, failed = _loop(args, wl, spark, tracer)
    finally:
        if spark is not None:
            stop_jvm(spark)

    job_s = statistics.median(walls)
    if args.trace:
        # stop_jvm drained Spark's listener queue and closed the event log
        metrics = spans.layer_metrics(tracer, wl, walls, cold, event_dir, os.path.join(
            HERE, "_results", f"{args.workload}-seed{args.seed}.json"))
        metrics["run.job_samples"] = (len(walls), "count")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "docs_per_s": (wl.docs / job_s, "1/s"),
            "input_mb_per_s": (wl.input_bytes / 1e6 / job_s, "MB/s"),
            "cpu_s_per_kdoc": (statistics.median(cpus) / wl.docs * 1000, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_jvm(spark) -> None:
    """Stops the session and waits for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _loop(args, wl, spark, tracer):
    """The cold job, the warm-up repetitions, then timed repetitions until
    ``--seconds`` have passed: (cold wall, timed walls, timed cpus, peak MB,
    attempted, failed). Every repetition is checked."""
    import proctree

    cold, _, problems = _rep(wl, spark, tracer)
    attempted, failed, warmup = 1, int(bool(problems)), []
    for _ in range(wl.WARMUP_REPS):
        wall, _, bad = _rep(wl, spark, tracer)
        attempted += 1
        failed += int(bool(bad))
        problems += bad
        warmup.append(wall)
    walls, cpus = [], []
    steal0 = proctree.host_steal()
    with proctree.PeakMemory() as mem:
        end = time.perf_counter() + args.seconds
        while len(walls) < MIN_TIMED_REPS or time.perf_counter() < end:
            wall, cpu, bad = _rep(wl, spark, tracer, mem)
            attempted += 1
            failed += int(bool(bad))
            problems += bad
            walls.append(wall)
            cpus.append(cpu)
            if bad:  # the output is wrong; more repetitions add nothing
                break
    steal = [b - a for a, b in zip(steal0, proctree.host_steal())]
    for p in problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    print(f"{args.workload}: cold job {cold:.3f} s, warm-up {[round(w, 3) for w in warmup]}, "
          f"{len(walls)} timed repetitions, "
          f"job_s samples {[round(w, 3) for w in walls]}, "
          f"cpu samples {[round(c, 2) for c in cpus]}, "
          f"host CPU steal {steal[0] / max(steal[1], 1):.1%}", file=sys.stderr)
    return cold, walls, cpus, mem.peak_mb, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the package is built from this checkout's source; workers inherit
    # the path through the JVM's environment
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import pdf_document_extractor_spark  # noqa: F401  (fail fast without it)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file in the checkout: an inherited SPARK_LOCAL_DIRS
    # would override spark.local.dir, and the JVMs' perf-data files would
    # land in /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"done after {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
