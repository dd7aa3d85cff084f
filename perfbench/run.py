"""Seeded, layered benchmark of the extraction engine.

One run is one workload on one seed, in one SparkSession at
``local[nproc]``, started from the root of a checkout:

    python3 perfbench/run.py --workload extract_lognormal --seed 1 --seconds 10 --trace 0

``--trace 0`` sets the session up three times, then runs the workload's
job closed-loop (one job at a time, each to completion) for
``--seconds`` and reports the end-to-end metrics. ``--trace 1`` runs the
layer ladder, ``run_pipeline``, the doc stages and the in-process xkit
calls under spans and reports the per-layer metrics. Both check every
document's output against its pure-Python twin. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. README.md describes the
workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CACHE = os.path.join(HERE, "_cache")

# workload -> corpus kind
WORKLOADS = {
    "extract_lognormal": "lognormal",
    "extract_small_docs": "small_docs",
    "doc_stages": "lognormal",
}
WARMUP_DOCS = 256  # tiny small_docs corpus of the set-up's warm-up job
SAMPLE_DOCS = 1200  # in-process sample: at least 10 docs beyond p99

UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_mb_per_s", "MB/s"),
        (".mb_per_s", "MB/s"),
        ("_ms", "ms"),
        ("_mb", "MB"),
        ("_s", "s"),
        (".s", "s"),
    ):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_frac", "_skew", ".efficiency")):
        return "ratio"
    return "count"


def confine_to_checkout() -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout, and make the repo importable by this process and by the
    Python workers Spark starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    procs.guard()
    try:
        return run(argv)
    finally:
        procs.reap()


def run(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    confine_to_checkout()

    import corpora
    import inprocess
    import jobs
    import outputs
    from tracing import Tracer

    n = len(os.sched_getaffinity(0))
    corpus = corpora.generate(CACHE, WORKLOADS[args.workload], args.seed)
    warm = corpora.generate(CACHE, "small_docs", 0, n_docs=WARMUP_DOCS)
    docs = corpora.load_docs(corpus)
    mb = inprocess.text_mb(docs)
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(out_dir, ignore_errors=True)

    tracer = Tracer()
    job_failed = False
    if args.trace:
        metrics, actual = jobs.traced_run(args.workload, corpus, warm, n, mb, out_dir, tracer)
    else:
        walls, setups, peak, job_failed, actual = jobs.timed_run(
            args.workload, corpus, warm, n, args.seconds, out_dir
        )
        if not walls:
            print("no job completed", file=sys.stderr)
            return 2
        wall = statistics.median(walls)
        metrics = {
            "wall_s": wall,
            "docs_per_s": len(docs) / wall,
            "mb_per_s": mb / wall,
            "setup_s": statistics.median(setups),
            "worker_peak_rss_mb": peak,
        }
    shutil.rmtree(out_dir, ignore_errors=True)

    # after the JVM is gone: the pure-Python twins and the host-load
    # control share one pool of n workers
    sample = inprocess.host_sample()
    pool = inprocess.make_pool(n, sample)
    try:
        chunks = [docs[i::4 * n] for i in range(4 * n)]
        want = dict(
            pair
            for part in pool.map(
                outputs.expected_chunk, [(args.workload, c) for c in chunks]
            )
            for pair in part
        )
        host = inprocess.host_control(pool, n, sample)
    finally:
        pool.close()
        pool.join()
    failed = len(docs) if job_failed else outputs.count_failed(actual, want)

    if args.trace:
        with tracer.span("xkit.layers"):
            metrics.update(inprocess.layer_metrics(docs[:SAMPLE_DOCS], outputs.SELECTOR))
        metrics.update(host)
        metrics["spark.efficiency"] = metrics["spark.extract_mb_per_s"] / (
            n * metrics["doc.extract_doc.mb_per_s"]
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", "%s-s%d.json" % (args.workload, args.seed))
        )
        result = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        result = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
        print(
            "# %s seed=%d docs=%d text_mb=%.2f jobs=%d walls_s=%s setups_s=%s "
            "doc_fail_frac=%g host_w1_mb_per_s=%.1f host_w%d_mb_per_s=%.1f"
            % (
                args.workload,
                args.seed,
                len(docs),
                mb,
                len(walls),
                [round(w, 3) for w in walls],
                [round(s, 2) for s in setups],
                failed / len(docs),
                host["host.w1_mb_per_s"],
                n,
                host["host.wn_mb_per_s"],
            )
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(docs),
                "failed": failed,
                "metrics": result,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
