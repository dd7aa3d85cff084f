"""The Spark side of the benchmark: session set-up and tear-down, the
jobs each workload runs, the timed loop and the traced layer ladder.

Every job is a closed-loop batch job: the driver submits it, waits for
it to complete, then submits the next one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from outputs import SELECTOR, actual_doc_stages, actual_spans
from procs import jvm_dies_with_us
from sparkmetrics import SparkUI, node_metric, worker_peak_rss_mb
from xhtmlkit_spark.operators.extract_stage import (
    extract_spans,
    make_doc_stage_fn,
    run_doc_stage,
)
from xhtmlkit_spark.operators.harvest_stage import harvest_all
from xhtmlkit_spark.operators.markdown_stage import markdown_docs
from xhtmlkit_spark.operators.select_stage import select_spans
from xhtmlkit_spark.plans.pipeline import run_pipeline, with_size_salt
from xhtmlkit_spark.session import get_spark

SETUPS = 3  # session set-ups per timed run; setup_s is their median
MIN_JOBS = 3  # timed jobs per run, however short the window
ROUNDS = 3  # traced rounds of the ladder and the stages
_PY = "MapInArrow"  # plan node of every mapInArrow stage


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def setup(n: int, warm_corpus: str):
    """``get_spark`` at ``local[n]`` plus one warm-up extract job over a
    tiny corpus, which starts every Python worker. Returns the session
    and the seconds from the call until the job finished."""
    jvm_dies_with_us()
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{n}]", app_name="perfbench")
    noop(extract_spans(with_size_salt(spark.read.parquet(warm_corpus), 2 * n)))
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Jobs:
    """The Spark jobs of the benchmark over one corpus directory."""

    def __init__(self, spark, corpus: str, out_dir: str) -> None:
        self.spark = spark
        self.corpus = corpus
        self.out_dir = out_dir
        # run_pipeline's own default, so that every ladder step and the
        # pipeline shuffle into the same number of partitions
        self.num_partitions = 2 * spark.sparkContext.defaultParallelism
        self._runs = 0

    def read(self):
        return self.spark.read.parquet(self.corpus)

    def salted(self):
        return with_size_salt(self.read(), self.num_partitions)

    def identity(self):
        # a local lambda is shipped by value: the workers cannot import
        # this module
        doc_fn = lambda kinds, texts, refs, offsets: (kinds, texts, refs, offsets)  # noqa: E731
        return run_doc_stage(
            self.salted(), lambda n_pt: make_doc_stage_fn(doc_fn, n_pt), ("part",)
        )

    def extracted(self):
        return extract_spans(self.salted())

    def selected(self):
        return select_spans(self.read(), SELECTOR, emit="html")

    def markdown(self):
        return markdown_docs(self.read())

    def harvested(self):
        return harvest_all(self.read())

    def pipeline(self) -> dict:
        """``run_pipeline`` into a fresh output and manifest dir, resume off."""
        self._runs += 1
        base = os.path.join(self.out_dir, "run%d" % self._runs)
        return run_pipeline(
            self.spark,
            self.corpus,
            os.path.join(base, "out"),
            os.path.join(base, "manifest"),
            resume=False,
        )

    def last_output(self) -> str:
        return os.path.join(self.out_dir, "run%d" % self._runs, "out")

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def doc_stages(self) -> None:
        noop(self.selected())
        noop(self.markdown())
        noop(self.harvested())

    def workload_job(self, workload: str):
        if workload == "doc_stages":
            return self.doc_stages
        return lambda: noop(self.extracted())

    def actual(self, workload: str) -> dict:
        """doc_id -> output of the workload's stage(s), collected by the
        same plans the timed jobs run; this also warms those plans up."""
        if workload == "doc_stages":
            return actual_doc_stages(
                self.selected().select("doc_id", "spans").toArrow(),
                self.markdown().select("doc_id", "markdown").toArrow(),
                self.harvested()
                .select("doc_id", "tables", "links", "title", "lang", "canonical", "meta")
                .toArrow(),
            )
        return actual_spans(self.extracted().select("doc_id", "spans").toArrow())


def timed_run(workload: str, corpus: str, warm: str, n: int, seconds: float, out_dir: str):
    """Set the session up ``SETUPS`` times, then run the workload's job
    closed-loop for ``seconds``. Returns ``(walls, setups, peak worker
    RSS in MB, job_failed, actual outputs)``."""
    spark = None
    setups = []
    walls: list = []
    peak = 0.0
    job_failed = False
    actual: dict = {}
    try:
        spark, s = setup(n, warm)
        setups.append(s)
        try:
            # the check's collection runs the timed plans once; the JVM
            # keeps their compiled code across the session re-creations
            actual = Jobs(spark, corpus, out_dir).actual(workload)
            for _ in range(SETUPS - 1):
                spark.stop()
                spark, s = setup(n, warm)
                setups.append(s)
            job = Jobs(spark, corpus, out_dir).workload_job(workload)
            job()  # the re-created session's first job is not timed
            deadline = time.perf_counter() + seconds
            while len(walls) < MIN_JOBS or time.perf_counter() < deadline:
                t0 = time.perf_counter()
                job()
                walls.append(time.perf_counter() - t0)
                peak = max(peak, worker_peak_rss_mb())
        except Exception:  # a job that raises fails all its documents
            traceback.print_exc(file=sys.stderr)
            job_failed = True
    finally:
        shutdown(spark)
    return walls, setups, peak, job_failed, actual


def _dir_mb(path: str) -> float:
    return (
        sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
        )
        / 1e6
    )


def traced_run(workload: str, corpus: str, warm: str, n: int, text_mb: float, out_dir: str, tracer):
    """The per-layer run: the workload's job untraced, then ``ROUNDS``
    traced rounds of the noop ladder ``read`` → ``with_size_salt`` →
    ``run_doc_stage(identity)`` → ``extract_spans``, ``run_pipeline`` and
    each doc stage, with Spark's node and stage metrics read from its REST
    API after every job. Returns ``(layer metrics, actual outputs)``."""
    spark = None
    try:
        with tracer.span("spark.setup"):
            spark, setup_s = setup(n, warm)
        ui = SparkUI(spark)
        setup_m = ui.metrics_since(-1)
        jobs = Jobs(spark, corpus, out_dir)
        job = jobs.workload_job(workload)
        actual = jobs.actual(workload)
        untraced = []
        for _ in range(ROUNDS):
            t0 = time.perf_counter()
            job()
            untraced.append(time.perf_counter() - t0)
        steps = {
            "scan": lambda: noop(jobs.read()),
            "salt": lambda: noop(jobs.salted()),
            "boundary": lambda: noop(jobs.identity()),
            "extract": lambda: noop(jobs.extracted()),
            "pipeline": jobs.pipeline,
            "select": lambda: noop(jobs.selected()),
            "markdown": lambda: noop(jobs.markdown()),
            "harvest": lambda: noop(jobs.harvested()),
        }
        walls: dict = {k: [] for k in steps}
        mets: dict = {k: [] for k in steps}
        pipe: list = []
        with tracer.span("spark.ladder"):
            for r in range(ROUNDS):
                with tracer.span("round", round=r):
                    for name, fn in steps.items():
                        if name == "pipeline":
                            jobs.clear_outputs()
                        before = ui.last_execution()
                        with tracer.span("job." + name) as sp:
                            result = fn()
                        walls[name].append(sp["end"] - sp["start"])
                        with tracer.span("rest"):
                            m = ui.metrics_since(before)
                            if name == "extract":
                                m["skew"] = ui.task_skew(m["stages"])
                            mets[name].append(m)
                        if name == "pipeline":
                            pipe.append((result, _dir_mb(jobs.last_output())))
    finally:
        shutdown(spark)

    med = statistics.median

    def step(a: str, b: str) -> float:  # self time of the layer step a adds to b
        return med([x - y for x, y in zip(walls[a], walls[b])])

    def node(name: str, nd: str, metric: str) -> float:
        return med([node_metric(m["nodes"], nd, metric) for m in mets[name]])

    own = {
        "extract_lognormal": ["extract"],
        "extract_small_docs": ["extract"],
        "doc_stages": ["select", "markdown", "harvest"],
    }[workload]

    def stage_sum(r: int, field: str) -> float:
        return sum(s[field] for name in own for s in mets[name][r]["stages"])

    traced = [sum(walls[name][r] for name in own) for r in range(ROUNDS)]
    out = {
        "io.scan_s": med(walls["scan"]),
        "pipeline.salt_s": step("salt", "scan"),
        "pipeline.salt_shuffle_mb": node("salt", "Exchange", "shuffle bytes written") / 1e6,
        "pipeline.salt_task_skew": med([m["skew"] for m in mets["extract"]]),
        "extract_stage.boundary_s": step("boundary", "salt"),
        "extract_stage.parse_s": step("extract", "boundary"),
        "extract_stage.traced_wall_s": med(walls["extract"]),
        "extract_stage.to_python_mb": node("extract", _PY, "data sent to Python workers") / 1e6,
        "extract_stage.from_python_mb": node("extract", _PY, "data returned from Python workers")
        / 1e6,
        "extract_stage.python_run_s": node("extract", _PY, "time to run Python workers"),
        "extract_stage.worker_start_s": node("extract", _PY, "time to start Python workers"),
        "extract_stage.worker_init_s": node("extract", _PY, "time to initialize Python workers"),
        "extract_stage.setup_worker_start_s": node_metric(
            setup_m["nodes"], _PY, "time to start Python workers"
        ),
        "io.write_s": step("pipeline", "extract"),
        "io.output_mb": med([mb for _, mb in pipe]),
        "pipeline.extract_write_s": med([r["t_extract_write"] for r, _ in pipe]),
        "pipeline.manifest_s": med([r["t_metrics"] for r, _ in pipe]),
        "select_stage.wall_s": med(walls["select"]),
        "markdown_stage.wall_s": med(walls["markdown"]),
        "harvest_stage.wall_s": med(walls["harvest"]),
        "spark.setup_s": setup_s,
        "spark.gc_s": med([stage_sum(r, "jvmGcTime") / 1e3 for r in range(ROUNDS)]),
        "spark.cpu_busy_frac": med(
            [
                stage_sum(r, "executorCpuTime") / 1e9 / max(stage_sum(r, "executorRunTime") / 1e3, 1e-9)
                for r in range(ROUNDS)
            ]
        ),
        "spark.extract_mb_per_s": text_mb / med(walls["extract"]),
        "trace.untraced_wall_s": med(untraced),
        "trace.overhead_s": med(traced) - med(untraced),
    }
    out["trace.ladder_gap_s"] = out["extract_stage.traced_wall_s"] - (
        out["io.scan_s"]
        + out["pipeline.salt_s"]
        + out["extract_stage.boundary_s"]
        + out["extract_stage.parse_s"]
    )
    return out, actual
