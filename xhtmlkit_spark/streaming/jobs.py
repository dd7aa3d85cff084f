"""Structured Streaming operators (SURVEY.md Layer J) over the events
table shape.

Each job reads the same parquet files as a stream (one-file-per-batch
not needed; ``availableNow`` drains everything and terminates), so the
batch DuckDB oracle can verify the streamed result value-for-value —
streaming vs batch equivalence is exactly the guarantee Structured
Streaming makes for these operators.

Covered: watermarked tumbling/sliding window aggs (J2/J3), session
windows (J4), stateful dedup within watermark (J5), custom arbitrary
state via applyInPandasWithState + gated transformWithStateInPandas
(J5), stream-static broadcast join and stream-stream interval join
(J6).

NOTE on the drains: every ``run_available_now`` / collect here exists
to VERIFY the streamed result against a batch oracle — driver-side
materialization is bounded by the sandbox group counts. A production
deployment of any of these jobs keeps the writeStream (file/Iceberg
sink, no trigger) and never drains to the driver; see
``streaming_extract`` for that shape.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# schema of the events files, read once per (app, path): every job here
# (and both sides of the stream-stream join) needs it, and a batch
# spark.read per call is pure per-query overhead
_SCHEMA_CACHE: dict = {}

# Stateful streaming operators create one state store per shuffle
# partition and commit every one of them each micro-batch; the drain
# sessions here aggregate tiny per-group state, so a session-default
# partition count (200 on an untuned cluster) is almost pure commit
# overhead. The stream picks the value up at query START, so pin a
# small count around .start() and restore the caller's conf after.
DRAIN_SHUFFLE_PARTITIONS = 4


@contextlib.contextmanager
def _drain_conf(spark: SparkSession, n: int = DRAIN_SHUFFLE_PARTITIONS):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

__all__ = [
    "read_events_stream",
    "run_available_now",
    "run_foreach_batch_upsert",
    "hourly_counts_stream",
    "sliding_counts_stream",
    "session_windows_stream",
    "dedup_events_stream",
    "running_totals_stream",
    "stream_static_join",
    "stream_stream_join",
    "user_value_stats_stream",
]


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    cache_key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[cache_key] = schema
    # the file-stream source needs a directory: a Spark-written
    # events.parquet IS one; the driver testdata ships a single file, so
    # glob-filter the parent for that layout. Watermarks need TIMESTAMP
    # (ltz); the files carry TIMESTAMP_NTZ.
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isdir(path):
        stream = reader.load(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def run_available_now(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a stream with trigger(availableNow) into a memory sink and
    return the materialized result as a batch DataFrame.

    AGGREGATE-SHAPED STREAMS ONLY: the memory sink materializes every
    emitted row on the driver, which is fine for per-group aggregates
    (bounded by group count) but would collect the whole stream for a
    row-shaped plan — at corpus scale, a driver OOM. Row streams
    (projections, filters, dedup) must drain through the exactly-once
    FILE sink instead (see :func:`dedup_events_stream` for the
    pattern); this helper refuses them outright.
    """
    import re

    plan = stream_df._jdf.queryExecution().analyzed().toString()
    # match NODE names at their tree position, not substrings — a user
    # column literally named "AggregatedValue" appears mid-line inside
    # a Project's bracket list and must not defeat the guard
    if not re.search(
        r"(?m)^[\s+\-:|'~]*(Aggregate|FlatMapGroupsInPandasWithState|TransformWithStateInPySpark|TransformWithState)\b",
        plan,
    ):
        raise ValueError(
            "run_available_now drains through a driver-side memory sink "
            "and only accepts aggregate-shaped streams (per-group "
            "bounded output); this plan is row-shaped — drain it "
            "through a file sink (see dedup_events_stream)."
        )
    name = "s" + uuid.uuid4().hex[:10]
    with _drain_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    spark = stream_df.sparkSession
    out = spark.table(name)
    # materialize before the sink is forgotten; results are small aggs
    out = spark.createDataFrame(out.collect(), out.schema) if out.columns else out
    q.stop()
    return out


def hourly_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J3: watermarked tumbling-window agg, streamed then drained."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            # NTZ: instants render through the PROCESS timezone at
            # collect(); the wall-clock cast (session tz pinned UTC)
            # is what the tz-naive oracle sees on any box
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # complete mode: append would hold back windows newer than the final
    # watermark, so the drained result would miss the trailing hour(s)
    return run_available_now(agg, output_mode="complete")


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 sliding variant: 2-hour windows sliding every hour — each
    event lands in exactly two overlapping windows."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, output_mode="complete")


def session_windows_stream(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """J4: per-user session windows (gap-based)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, output_mode="complete")


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: stateful dedup on event_id within the watermark; the deduped
    rows drain through the exactly-once FILE sink and are aggregated as
    a batch step — chaining a second stateful operator after the dedup
    is restricted, and a memory-sink drain would materialize every
    deduped ROW on the driver (fine for aggregates, not for row
    streams at scale)."""
    import tempfile

    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    import shutil

    out = tempfile.mkdtemp(prefix="xk_dedup_rows_")
    chk = tempfile.mkdtemp(prefix="xk_dedup_chk_")
    try:
        with _drain_conf(spark):
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # explicit schema: an empty source drains zero files into the
        # sink, and schema inference over the empty directory would raise
        agg = (
            spark.read.schema(deduped.schema).parquet(out)
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"))
        )
        # materialize the (tiny) aggregate eagerly so the temp row copy
        # and checkpoint can be removed instead of leaking per invocation
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        # a failed drain must not leak the temp dirs either
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def running_totals_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """J5 custom state: per-user running totals via applyInPandasWithState.

    The GroupState holds (n_events, sum_value) per user and is updated
    Arrow-batched per micro-batch; each batch emits the user's totals
    so far. Drained with availableNow the final emission per user
    equals the batch group-by — which is exactly what the DuckDB twin
    checks, while the state machinery (create/get/update through the
    GroupState API) runs for real. On an unbounded stream the same
    operator emits monotone running totals per user per batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)

    def update(key, pdfs, state: GroupState):
        # s stays None until a non-null value arrives: SQL sum() over
        # all NULLs is NULL, and pandas .sum() would silently say 0.0 —
        # a latent oracle divergence for all-null users
        n, s = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                s = (s or 0.0) + float(vals.sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    totals = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_available_now(totals, output_mode="append")
    # keep only the final emission per user (one batch in the sandbox
    # drain, but stay correct if the source splits into several)
    import pyspark.sql.functions as SF

    last = SF.max(SF.struct("n_events", "sum_value")).alias("last")
    return (
        drained.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            SF.col("last.n_events").alias("n_events"),
            SF.round(SF.col("last.sum_value"), 2).alias("sum_value"),
        )
    )


def user_value_stats_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """J5 via the Spark 4 ``transformWithStateInPandas`` API (the
    SURVEY-mapped successor of applyInPandasWithState): per-user
    (n_events, sum, max) carried in a ValueState by a
    ``StatefulProcessor``. Drained with availableNow the final emission
    per user equals the batch aggregate.

    SANDBOX GATE: the TWS state server needs a working ``google.
    protobuf`` (absent here — its ``descriptor`` module doesn't
    import), so this operator cannot RUN in this container; the
    per-cluster test skips accordingly and the applyInPandasWithState
    twin (:func:`running_totals_stream`) carries the oracle-checked
    J5 coverage. On a normally-provisioned cluster this runs as-is.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n LONG, s DOUBLE, m DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, s, mx = (
                self._state.get() if self._state.exists() else (0, None, None)
            )
            for pdf in rows:
                n += len(pdf)
                vals = pdf["value"].dropna()
                if len(vals):
                    # SQL semantics: sum/max over all-NULL stay NULL
                    s = (s or 0.0) + float(vals.sum())
                    m = float(vals.max())
                    mx = m if mx is None else max(mx, m)
            self._state.update((n, s, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    stats = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id long, n_events long, sum_value double, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    drained = run_available_now(stats, output_mode="update")
    # keep the final emission per user (one batch in the sandbox drain,
    # correct if the source splits into several)
    last = F.max(F.struct("n_events", "sum_value", "max_value")).alias("last")
    return (
        drained.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("last.n_events").alias("n_events"),
            F.round(F.col("last.sum_value"), 2).alias("sum_value"),
            F.round(F.col("last.max_value"), 2).alias("max_value"),
        )
    )


def _corpus_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """A corpus directory as a parquet file stream with the checkpoint
    ``part`` column — the source of every streaming doc job."""
    from xhtmlkit_spark.plans.pipeline import derive_part

    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return derive_part(reader.load(input_dir))


def _land(out: DataFrame, output_dir: str, checkpoint_dir: str) -> None:
    """Drain ``out`` into the native parquet file sink, partitioned by
    ``part``. The sink's per-batch commit log (``_spark_metadata``)
    keeps the landing exactly-once even when a replayed micro-batch
    rewrites files. availableNow drains and stops; on a cluster, drop
    the trigger and it runs as data lands."""
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("part")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """J1 + A2 analogue: extraction as a continuous ingestion job.

    The reference parses documents WHILE downloading ([P:
    XHtmlKit.Network/HttpClientExtensions.cs GetTextReaderAsync]); the
    Spark-native analogue is a file-stream over the landing zone with
    the same mapInArrow stage applied to the stream, draining into
    Spark's native file sink (exactly-once, see :func:`_land`; a
    foreachBatch append sink would duplicate replayed batches:
    foreachBatch is at-least-once).
    """
    from xhtmlkit_spark.operators.extract_stage import extract_spans

    stream = _corpus_stream(spark, input_dir, max_files_per_trigger)
    out = extract_spans(stream).select("doc_id", "spans", "part")
    _land(out, output_dir, checkpoint_dir)


def streaming_warc_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    glob: str = "*.warc{,.gz}",
    max_files_per_trigger: int | None = None,
) -> None:
    """The full parse-while-crawling analogue: WARC archives land
    continuously (a crawler's output directory), each micro-batch
    parses the new archives (xkit.warc via the shared ``warc_docs``
    row function), runs main-content extraction, and
    commits extracted spans to the exactly-once file sink — the
    streaming composition of :func:`ingest_warc` and
    :func:`streaming_extract`. binaryFile is a first-class streaming
    source, so the file-tracking log gives each archive
    exactly-once PARSE too (a re-listed file is never re-parsed).
    Drains with availableNow here; unbounded on a cluster.
    """
    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import extract_spans, run_row_stage
    from xhtmlkit_spark.plans.pipeline import derive_part
    from xhtmlkit_spark.sources.io import WARC_CORPUS_OUT, warc_docs

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir)

    corpus = run_row_stage(stream, ["content"], warc_docs, WARC_CORPUS_OUT)
    out = extract_spans(
        derive_part(corpus), passthrough=("part", "url", "fetched_at")
    ).select("doc_id", "url", "fetched_at", "spans", "part")
    _land(out, output_dir, checkpoint_dir)


def streaming_select(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    selector: str | None = None,
    xpath: str | None = None,
    emit: str = "text",
    max_files_per_trigger: int | None = None,
) -> None:
    """Tree selection as a continuous ingestion job — the streaming
    twin of :func:`streaming_extract` with the select stage (CSS or
    XPath-lite, any emit mode incl. the markup projections) instead of
    extraction. The stage is stateless, so micro-batch output ≡ the
    batch select_spans on the same files (pinned by
    test_streaming_select_matches_batch); the native file sink's
    commit log keeps the landing exactly-once. The selector/xpath
    string is parsed on the driver BEFORE the stream starts — a
    malformed query fails the job, never a micro-batch."""
    from xhtmlkit_spark.operators.select_stage import select_spans

    stream = _corpus_stream(spark, input_dir, max_files_per_trigger)
    out = select_spans(stream, selector, xpath=xpath, emit=emit).select(
        "doc_id", "spans", "part"
    )
    _land(out, output_dir, checkpoint_dir)


def streaming_project(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    want_xhtml: bool = False,
    max_files_per_trigger: int | None = None,
) -> None:
    """The fused multi-projection in-stream: every landing document
    yields its extraction spans AND markdown (plus xhtml when asked)
    from ONE parse per micro-batch row — the streaming twin of
    operators.project_stage.project_docs, landing through the native
    file sink's commit log (exactly-once, like streaming_extract).
    Stateless, so micro-batch output ≡ the batch stage on the same
    files (pinned by test_streaming_project_matches_batch)."""
    from xhtmlkit_spark.operators.project_stage import project_docs

    cols = ["doc_id", "spans", "markdown"] + (["xhtml"] if want_xhtml else [])
    stream = _corpus_stream(spark, input_dir, max_files_per_trigger)
    out = project_docs(stream, want_xhtml=want_xhtml).select(*cols, "part")
    _land(out, output_dir, checkpoint_dir)


def streaming_clean_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_words: int = 3,
    max_files_per_trigger: int | None = None,
) -> None:
    """The cleaning tiers composed INTO the ingestion stream: extract →
    C4 line-quality filter → PII redaction, landing
    ``(doc_id, part, text, n_lines, n_kept, n_pii)`` through the same
    exactly-once native file sink as :func:`streaming_extract`.

    Every tier here is STATELESS (row-local expressions on top of the
    Arrow extraction stage), so micro-batch output ≡ the batch
    pipeline on the same files — pinned by
    test_streaming_clean_extract_matches_batch. The stateful tier
    (corpus-level line dedup needs cross-document first-occurrence
    state) deliberately stays in the batch builder
    (plans/training.py); its streaming analogue would be
    dropDuplicatesWithinWatermark on line keys with different
    (windowed, not corpus-global) semantics.
    """
    from pyspark.sql import functions as F

    from xhtmlkit_spark.functions.spans import span_text_concat
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.operators.lines import c4_line_filter, split_text_lines
    from xhtmlkit_spark.operators.pii import with_pii_redaction

    stream = _corpus_stream(spark, input_dir, max_files_per_trigger)
    docs = extract_spans(stream).select(
        "doc_id", "part", span_text_concat(F.col("spans"), "\n").alias("text")
    )
    cleaned = c4_line_filter(
        docs,
        split_text_lines("text"),
        min_words=min_words,
        require_terminal_punct=False,
        passthrough=("part",),
    ).where(F.col("n_kept") > 0)
    out = with_pii_redaction(cleaned, text="kept_text").select(
        "doc_id",
        "part",
        F.col("redacted").alias("text"),
        "n_lines",
        "n_kept",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")).alias("n_pii"),
    )
    _land(out, output_dir, checkpoint_dir)


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+: STREAM-STREAM interval self-join — each side watermarked,
    pairs of same-user events within 2 minutes (the streaming twin of
    the batch range join, which is exactly its oracle).

    The join output is row-shaped, so it drains through the
    exactly-once FILE sink and the per-user count happens as a batch
    step — chaining a second stateful operator after a stream-stream
    join needs watermark propagation that availableNow single-batch
    draining can't exercise meaningfully, and the memory sink is
    refused for row streams (see run_available_now).
    """
    import shutil
    import tempfile

    a = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour").alias("a")
    b = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour").alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTES")),
    ).select(F.col("a.user_id").alias("user_id"), F.col("a.event_id").alias("eid_a"))
    out = tempfile.mkdtemp(prefix="xk_ssj_rows_")
    chk = tempfile.mkdtemp(prefix="xk_ssj_chk_")
    try:
        with _drain_conf(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        agg = (
            spark.read.schema(joined.schema).parquet(out)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_pairs"))
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        # a failed drain must not leak the temp dirs either
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: stream ⋈ static dimension (broadcast), aggregated per nation."""
    ev = read_events_stream(spark, sf_dir)
    customers = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    joined = ev.join(
        F.broadcast(customers), ev.user_id == customers.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_available_now(agg, output_mode="complete")


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
) -> int:
    """Production sink pattern: foreachBatch with idempotent batch
    delivery — exactly-once OUTPUT on top of Structured Streaming's
    at-least-once batch replay.

    The checkpoint makes Spark re-offer a micro-batch after a crash
    between sink write and offset commit; a sink that blindly appends
    would double-write it. Each batch therefore lands in its own
    ``batch_id=N`` directory with mode("overwrite"): a replay of batch
    N overwrites batch N with identical content instead of duplicating
    it (the batch's input is pinned by the checkpointed offsets, so
    the rewrite is byte-stable). This is the parquet stand-in for the
    Iceberg/Delta MERGE the same callback would run in prod.

    Drains with availableNow (bounded, resumable); returns the number
    of DISTINCT micro-batches delivered this run — foreachBatch is
    at-least-once, so the callback can re-fire for the same batch_id
    on an intra-run retry (the overwrite keeps the output exactly-once
    either way; the count must not double with it).
    """
    delivered = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"batch_id={batch_id}")
            )
        )
        delivered.append(batch_id)

    with _drain_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return len(set(delivered))
