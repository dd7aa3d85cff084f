"""spark-submit entry point for the extraction job (BASELINE.json
north_rule: "launches via spark-submit --py-files on multi-executor
clusters").

    python -m zipfile -c xkit.zip xkit xhtmlkit_spark   # or scripts/make_pyfiles.sh
    spark-submit --master local[32] --py-files xkit.zip \
        scripts/run_pipeline.py --input data/corpus.parquet \
        --output data/out --manifest data/manifest

Prints one JSON line with wall time + throughput (docs/sec, MB/sec),
the numbers BENCH/BASELINE.md aggregates at two parallelism levels.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=("parquet", "iceberg", "warc", "html"),
        help="corpus source: landed parquet/Iceberg table, raw Common "
        "Crawl .warc(.gz) archives, or a directory tree of .html/.pdf "
        "files (the two raw formats parse through xkit in the same "
        "row-kernel ingest the batch sources use)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument(
        "--stage-only",
        action="store_true",
        help="materialize the extraction stage into a noop sink (no parquet "
        "write, no manifest) — isolates compute scaling from the single "
        "local disk the sandbox shares across all parallelism levels",
    )
    ap.add_argument(
        "--select",
        default=None,
        metavar="SELECTOR",
        help="materialize select_spans(SELECTOR) into a noop sink instead "
        "of extraction — the second headline Arrow stage, measured at "
        "both widths by scaling_bench",
    )
    ap.add_argument(
        "--xpath",
        default=None,
        metavar="XPATH",
        help="like --select but the query is XPath-lite (the reference's "
        "native idiom), compiled to the selector grammar on the driver",
    )
    ap.add_argument(
        "--emit",
        default="text",
        choices=("text", "html", "inner_html"),
        help="span payload for --select/--xpath: subtree text (default), "
        "the match's serialized outer XHTML (OuterXml parity), or the "
        "children-only markup (InnerXml)",
    )
    ap.add_argument(
        "--project",
        default=None,
        choices=("markdown", "markdown+xhtml"),
        help="materialize the FUSED multi-projection stage (extraction "
        "spans + markdown, optionally + normalized xhtml, one parse per "
        "doc) into a noop sink instead of extraction",
    )
    ap.add_argument(
        "--harvest",
        action="store_true",
        help="materialize the combined one-parse harvest (tables + links "
        "+ page metadata, harvest_all) into a noop sink instead of "
        "extraction",
    )
    args = ap.parse_args()
    if args.select is not None and args.xpath is not None:
        ap.error("pass at most one of --select / --xpath")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from xhtmlkit_spark.operators.extract_stage import extract_spans, span_metrics
    from xhtmlkit_spark.operators.harvest_stage import harvest_all
    from xhtmlkit_spark.operators.project_stage import project_docs
    from xhtmlkit_spark.operators.select_stage import select_spans
    from xhtmlkit_spark.plans.pipeline import derive_part, run_pipeline, with_size_salt
    from xhtmlkit_spark.session import SQL_CONF
    from xhtmlkit_spark.sources.io import read_corpus

    spark = SparkSession.builder.getOrCreate()  # master comes from spark-submit
    spark.sparkContext.setLogLevel("WARN")
    for k, v in SQL_CONF.items():
        spark.conf.set(k, v)

    corpus_df = read_corpus(spark, args.input, args.input_format)
    if args.input_format in ("warc", "html"):
        # raw formats: the ingest is an expensive parse — persist so the
        # stats aggregate below and the stage share ONE pass (the
        # two-consumer double-scan trap, CLAUDE.md); parquet inputs keep
        # the cheap columnar re-scan instead of caching
        corpus_df = corpus_df.persist()

    row = (
        span_metrics(corpus_df)
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .collect()[0]
    )

    # the noop-sunk single-stage modes: (chosen, mode, stage)
    noop_stages = [
        (
            args.select is not None or args.xpath is not None,
            "select_only",
            lambda df: select_spans(df, args.select, xpath=args.xpath, emit=args.emit),
        ),
        (args.harvest, "harvest_all", harvest_all),
        (
            args.project is not None,
            f"project:{args.project}",
            lambda df: project_docs(df, want_xhtml=(args.project == "markdown+xhtml")),
        ),
        (args.stage_only, "stage_only", extract_spans),
    ]
    noop = next(((mode, stage) for on, mode, stage in noop_stages if on), None)

    t0 = time.monotonic()
    if noop is not None:
        mode, stage = noop
        n = args.num_partitions or spark.sparkContext.defaultParallelism * 2
        stage(with_size_salt(derive_part(corpus_df), n)).write.mode(
            "overwrite"
        ).format("noop").save()
        res = {"mode": mode}
    else:
        res = run_pipeline(
            spark,
            args.input,
            args.output,
            corpus=corpus_df,
            manifest_path=args.manifest,
            num_partitions=args.num_partitions,
            fmt=args.input_format,
            resume=not args.no_resume,
        )
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "wall_sec": round(wall, 2),
                "docs": row["docs"],
                "mb": round(row["chars"] / 1e6, 2),
                "docs_per_sec": round(row["docs"] / wall, 1),
                "mb_per_sec": round(row["chars"] / 1e6 / wall, 2),
                **res,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
