"""End-to-end training-corpus builder: the engine's operators composed
the way a 100 TB data pipeline actually uses them.

    scan → hash exchange → extract (Arrow stage) → text stats (JVM exprs)
         → dedup-keeper / language / quality / sample FLAGS
         → ONE filtered write with the funnel observed in-flight

Scale design: every selection criterion becomes a flag COLUMN first
and the funnel counts ride the single write job via ``observe()`` —
counting each stage with its own ``.count()`` would re-scan (and
re-extract!) the corpus once per stage. The only shuffles are the
doc_id hash exchange (pre-extraction) and one hash-partition by content
key for the dedup keeper window; everything else is per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xhtmlkit_spark.functions.spans import span_text_concat
from xhtmlkit_spark.operators.dedup import (
    jaccard_verify,
    lsh_candidate_pairs,
    near_dup_groups,
    normalized_text,
    simhash_band_pairs,
)
from xhtmlkit_spark.operators.extract_stage import extract_spans
from xhtmlkit_spark.operators.lines import line_dedup, split_text_lines
from xhtmlkit_spark.operators.pii import with_pii_redaction
from xhtmlkit_spark.operators.sampling import hash_fraction
from xhtmlkit_spark.operators.text_stats import (
    tokens_col,
    with_lang_guess,
    with_quality,
    with_token_counts,
)
from xhtmlkit_spark.plans.pipeline import with_size_salt

__all__ = ["build_training_corpus"]


def _near_dup_keeper(docs: DataFrame, mode: str, jaccard_threshold: float) -> DataFrame:
    """(doc_id, group_id) for every doc: group_id = min id of the doc's
    near-dup connected component, singletons map to themselves.

    Pair sources: MinHash-LSH candidates verified with exact k-shingle
    Jaccard (LSH alone is a candidate generator — unverified false
    positives would transitively merge unrelated docs into one group),
    unioned with SimHash banded pairs (already Hamming-verified by
    construction). Both are bucket-bounded, never all-pairs.
    """
    sources = []
    if mode in ("lsh", "both"):
        cand = lsh_candidate_pairs(docs)
        sources.append(
            jaccard_verify(cand, docs)
            .where(F.col("jaccard_u") >= int(round(jaccard_threshold * 1e6)))
            .select("id_a", "id_b")
        )
    if mode in ("simhash", "both"):
        sources.append(simhash_band_pairs(docs).select("id_a", "id_b"))
    if not sources:
        raise ValueError(f"near_dup must be 'lsh', 'simhash', or 'both', got {mode!r}")
    pairs = sources[0]
    for s in sources[1:]:
        pairs = pairs.union(s)
    return near_dup_groups(docs, pairs.distinct())


def _excise_token_spans(docs, spans_df, tmp_col, n_spans_col, n_tokens_col):
    """Cut ``(tok_start, tok_len)`` token spans out of ``docs.text``
    (whitespace tokenization — identical to the span producers').
    Untouched docs pass through byte-identical (the rewrite only fires
    when spans exist); per-doc span/token counts land as columns so
    they can ride the observed write. Shared by the benchmark-excise
    and passage-dedup tiers."""
    per_doc = spans_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("tok_start", "tok_len")).alias(tmp_col),
        F.count(F.lit(1)).alias(n_spans_col),
        F.sum("tok_len").alias(n_tokens_col),
    )
    toks = tokens_col("text")  # = the span tokenization
    sp = F.col(tmp_col)
    kept = F.filter(
        F.transform(  # 2-param lambda = (element, index), 0-based
            toks,
            lambda x, i: F.when(
                F.exists(
                    sp,
                    lambda s: (s["tok_start"] <= i)
                    & (i < s["tok_start"] + s["tok_len"]),
                ),
                F.lit(None).cast("string"),
            ).otherwise(x),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .withColumn(
            "text",
            F.when(sp.isNotNull(), F.concat_ws(" ", kept)).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            n_spans_col, F.coalesce(F.col(n_spans_col), F.lit(0)).cast("long")
        )
        .withColumn(
            n_tokens_col, F.coalesce(F.col(n_tokens_col), F.lit(0)).cast("long")
        )
        .drop(tmp_col)
    )


def build_training_corpus(
    spark: SparkSession,
    corpus_path: str,
    output_path: str,
    langs: tuple = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 5,
    sample_rate: float = 1.0,
    salt: str = "train0",
    num_partitions: int | None = None,
    near_dup: str | None = "both",
    jaccard_threshold: float = 0.8,
    exclude_corpus_path: str | None = None,
    dedup_lines: bool = False,
    redact_pii: bool = False,
    ensemble_threshold: float | None = None,
    pack_context_len: int | None = None,
    emit_markdown: bool = False,
    benchmark_path: str | None = None,
    decontaminate: str | None = None,
    contamination_threshold: float = 0.05,
    decontam_k: int = 3,
    dedup_passages: bool = False,
    passage_k: int = 6,
) -> dict:
    """Extract, score, dedup, filter, sample, and write a training set;
    returns the funnel (docs surviving each successive stage).

    ``near_dup`` selects the near-duplicate keeper tier on top of the
    exact-md5 keeper: 'lsh' (MinHash-LSH candidates + exact Jaccard
    verify at ``jaccard_threshold``), 'simhash' (banded Hamming pairs),
    'both' (union, the default), or None (exact dedup only). Group
    resolution is iterative (connected components), so the extracted
    (doc_id, text) projection is materialized ONCE via localCheckpoint
    and every downstream consumer — pair generation, each propagation
    round, and the final write — reads the checkpoint instead of
    re-running extraction. On a real cluster swap localCheckpoint for a
    reliable checkpoint dir; the shape is otherwise unchanged.

    ``dedup_lines`` inserts corpus-level LINE deduplication between
    extraction and everything downstream: extracted spans join on
    newlines, so "lines" are exactly the extracted spans — the place
    cross-page boilerplate (nav/footer/cookie banners the density
    heuristics kept) repeats. Only the first occurrence of each
    normalized line survives (operators/lines.line_dedup — a
    partial-aggregatable min-struct hash agg, skew-safe for 10^9-
    occurrence boilerplate lines); a doc whose every line was seen
    earlier gets NULL text and dies at the quality gate, while still
    counting in ``extracted``. Funnel gains ``lines_total`` /
    ``lines_kept``.

    ``redact_pii`` scrubs emails / phones / IPv4s from the (possibly
    line-deduped) text before stats, dedup keys, and the write — all
    downstream consumers see clean text. Funnel gains ``pii_matches``
    (raw-text match count). Both tiers run BEFORE the near-dup
    localCheckpoint, so connected-components rounds never recompute
    them.

    ``ensemble_threshold`` swaps the scalar quality gate for the
    multi-signal ensemble (operators/text_stats.quality_ensemble —
    quality + repetition + unigram-NLL in exact integer micro-units):
    ``quality_ok`` becomes ensemble ≥ threshold AND the token floor.
    The ensemble's corpus LM is computed over the SAME post-line-dedup
    / post-redaction text the rest of the funnel sees, and the text is
    checkpointed first so its two explode passes never re-extract.

    ``pack_context_len`` finishes the funnel with TRAINING-READY
    examples: after the corpus lands, the deterministic-shuffled
    concat-and-chunk packing plan (operators/packing.pack_chunks,
    seed = ``{salt}-pack``) is written next to it at
    ``{output_path}_pack``. The plan is computed FROM the landed
    parquet — a column-pruned (doc_id, n_tokens) read, so the packing
    job never re-extracts or re-tokenizes anything — and its metrics
    (chunks, packed_tokens, plan_rows) ride the plan write via
    observe(). Funnel gains those keys plus ``pack_output_path``.

    ``emit_markdown`` lands a ``markdown`` column next to ``text`` in
    the output — the model-facing representation — rendered by the
    FUSED multi-projection stage (operators/project_stage), so the
    second view costs no extra parse/scan: stats, dedup keys, and
    every gate still run on the extracted text exactly as before.
    When ``redact_pii`` is on, the same redaction expressions scrub
    the markdown too (funnel ``pii_matches`` stays the raw-TEXT count
    — markdown counts the same entities rendered differently).

    ``decontaminate`` (requires ``benchmark_path``, a parquet with a
    ``text`` column — the eval benchmark) inserts benchmark hygiene:

    * ``"drop"`` — per-doc :func:`contamination_scores` (distinct
      k-shingle overlap fraction, ``k=decontam_k``); docs at or above
      ``contamination_threshold`` die at their own funnel stage
      (``decontam_kept``, between quality and the sampler). The
      benchmark collapses to its broadcast distinct-shingle set, so
      the corpus never shuffles for the probe.
    * ``"excise"`` — :func:`contamination_spans` finds the contiguous
      contaminated token runs and CUTS them from the text, keeping the
      document (the curation move when the doc merely quotes the
      benchmark). Excised docs are re-joined with single spaces
      (whitespace normalizes only where a cut happened; untouched docs
      pass through byte-identical); a fully-contaminated doc excises to
      empty text and dies at the token floor while still counting in
      ``extracted``. Funnel gains ``contam_spans_excised`` /
      ``contam_tokens_excised`` — per-doc counts ride the single write
      via observe(), never a second scan. Excision runs BEFORE stats,
      dedup keys, the ensemble, and the near-dup tier, so every gate
      sees the clean text; the doc projection is localCheckpointed
      first so span-finding + join-back never re-extract. Incompatible
      with ``emit_markdown`` (spans are text-token positions and don't
      map onto the markdown rendering — use ``"drop"`` there).

    ``dedup_passages`` inserts corpus-SELF passage hygiene: the
    remove-all-but-one discipline for cross-document boilerplate,
    licence blocks, and syndicated passages. Duplicated ``passage_k``-
    gram runs (:func:`duplicate_passages` with ``keep_first=True``)
    are CUT from every document except each gram's smallest-doc_id
    keeper, with the same span-excision mechanics as
    ``decontaminate="excise"`` (runs before stats/dedup/ensemble;
    incompatible with ``emit_markdown``). Composes with benchmark
    excision — the passage probe sees the already-decontaminated
    text. Funnel gains ``passage_spans_excised`` /
    ``passage_tokens_excised`` riding the same observed write.

    ``exclude_corpus_path`` makes the build INCREMENTAL: content
    already in that previously-built training set (the output of an
    earlier build) never re-enters. Two tiers, both folded into
    ``is_keeper`` before the funnel observes it: (1) exact — the
    prior set collapses to its DISTINCT content keys and anti-joins
    the new docs; (2) when the near-dup tier is LSH-enabled, the same
    banding runs over new ∪ prior and any new doc whose verified
    cross pair touches prior content drops — and with it any of its
    own group members it represented (the group is prior-adjacent by
    transitivity). A production deployment would persist the prior
    signatures instead of recomputing them; the join shape is
    identical either way.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2

    corpus = spark.read.parquet(corpus_path)
    if emit_markdown:
        from xhtmlkit_spark.operators.project_stage import project_docs

        extracted = project_docs(
            with_size_salt(corpus, num_partitions), passthrough=()
        )
    else:
        extracted = extract_spans(
            with_size_salt(corpus, num_partitions), passthrough=()
        )
    md_cols = ["markdown"] if emit_markdown else []
    # span_text_concat restricts to kind=='text' itself — wrapping its
    # argument in another F.filter would run two consecutive array
    # passes per document (Catalyst doesn't collapse them)
    docs = extracted.select(
        "doc_id", span_text_concat(F.col("spans"), "\n").alias("text"), *md_cols
    )
    if dedup_lines:
        # left join keeps every extracted doc in the funnel; a doc whose
        # lines were all seen earlier carries NULL text from here on
        ld = line_dedup(docs, split_text_lines("text")).select(
            "doc_id", "n_lines", "n_kept", "kept_text"
        )
        docs = (
            docs.join(ld, "doc_id", "left")
            .withColumn("n_lines", F.coalesce("n_lines", F.lit(0)))
            .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)))
            .select(
                "doc_id",
                F.col("kept_text").alias("text"),
                "n_lines",
                "n_kept",
                *md_cols,
            )
        )
    if redact_pii:
        if emit_markdown:
            # scrub the markdown view FIRST — its match counts are then
            # overwritten by the text pass below, which is the funnel's
            # authoritative pii_matches (raw-text facts)
            mred = with_pii_redaction(docs, text="markdown")
            docs = mred.drop(
                "markdown", "n_emails", "n_phones", "n_ips"
            ).withColumnRenamed("redacted", "markdown")
        red = with_pii_redaction(docs)
        docs = red.select(
            *[c for c in red.columns if c not in ("text", "redacted", "n_emails", "n_phones", "n_ips")],
            F.col("redacted").alias("text"),
            F.coalesce(
                F.col("n_emails") + F.col("n_phones") + F.col("n_ips"), F.lit(0)
            ).alias("n_pii"),
        )
    contam_flags = None
    if decontaminate is not None:
        if decontaminate not in ("drop", "excise"):
            raise ValueError(
                f"decontaminate must be 'drop' or 'excise', got {decontaminate!r}"
            )
        if benchmark_path is None:
            raise ValueError("decontaminate requires benchmark_path")
        if decontaminate == "excise" and emit_markdown:
            raise ValueError(
                "decontaminate='excise' cuts text-token spans, which do not "
                "map onto the markdown rendering — use decontaminate='drop' "
                "with emit_markdown"
            )
        from xhtmlkit_spark.operators.dedup import (
            contamination_scores,
            contamination_spans,
        )

        bench = spark.read.parquet(benchmark_path).select("text")
        # two consumers (span/score probe + join-back or downstream):
        # checkpoint once so neither re-runs extraction
        docs = docs.localCheckpoint(eager=True)
        if decontaminate == "drop":
            thr_u = int(round(contamination_threshold * 1e6))
            contam_flags = contamination_scores(docs, bench, k=decontam_k).select(
                "doc_id",
                (F.col("contamination_u") < thr_u).alias("__xk_contam_ok"),
            )
        else:
            docs = _excise_token_spans(
                docs,
                contamination_spans(docs, bench, k=decontam_k),
                "__xk_csp",
                "n_contam_spans",
                "n_contam_tokens",
            )
    if dedup_passages:
        if emit_markdown:
            raise ValueError(
                "dedup_passages cuts text-token spans, which do not map "
                "onto the markdown rendering — drop emit_markdown or skip "
                "the passage tier"
            )
        from xhtmlkit_spark.operators.dedup import duplicate_passages

        # the passage probe and the excision join-back both consume
        # docs — checkpoint (fresh when benchmark excision just
        # rewrote the text above; duplicate_passages additionally
        # checkpoints its own exploded gram stream, which the
        # distinct-doc count and the position join-back share)
        docs = docs.localCheckpoint(eager=True)
        docs = _excise_token_spans(
            docs,
            duplicate_passages(docs, k=passage_k, keep_first=True),
            "__xk_dsp",
            "n_passage_spans",
            "n_passage_tokens",
        )
    if (near_dup or ensemble_threshold is not None) and (
        decontaminate != "drop" or dedup_passages
    ):
        # in drop mode docs is already the (unmodified) checkpoint above
        docs = docs.localCheckpoint(eager=True)
    stats = with_quality(with_lang_guess(with_token_counts(docs)))

    # dedup keeper: one shuffle on the md5 content key; min doc_id wins
    w = Window.partitionBy("content_key").orderBy("doc_id")
    flagged = (
        stats.withColumn("content_key", F.md5(normalized_text("text")))
        .withColumn("is_keeper", F.row_number().over(w) == 1)
        .withColumn("lang_ok", F.col("lang_guess").isin(*langs))
        .withColumn(
            "quality_ok",
            (F.col("quality_score_u") >= int(round(min_quality * 1e4)))
            & (F.col("n_tokens") >= min_tokens),
        )
        .withColumn("sampled", hash_fraction("doc_id", salt) < F.lit(sample_rate))
    )
    if ensemble_threshold is not None:
        from xhtmlkit_spark.operators.text_stats import quality_ensemble

        ens = quality_ensemble(docs, keep_threshold=ensemble_threshold).select(
            "doc_id", F.col("keep").alias("__xk_ens_keep")
        )
        flagged = (
            flagged.join(ens, "doc_id", "left")
            .withColumn(
                "quality_ok",
                F.coalesce(F.col("__xk_ens_keep"), F.lit(False))
                & (F.col("n_tokens") >= min_tokens),
            )
            .drop("__xk_ens_keep")
        )
    if near_dup:
        # one keeper per near-dup GROUP: group_id is the component's min
        # doc id; docs untouched by any pair keep group_id = themselves.
        # The exact-md5 keeper stays AND-ed in — it also covers NULL-text
        # docs, which carry no signature and never enter the pair join.
        groups = _near_dup_keeper(docs, near_dup, jaccard_threshold)
        flagged = flagged.join(groups, "doc_id", "left").withColumn(
            "is_keeper",
            F.col("is_keeper")
            & (F.col("doc_id") == F.coalesce(F.col("group_id"), F.col("doc_id"))),
        )

    if exclude_corpus_path:
        prior = spark.read.parquet(exclude_corpus_path).select("doc_id", "text")
        prior_keys = (
            prior.select(F.md5(normalized_text("text")).alias("content_key"))
            .distinct()
            .withColumn("__xk_prior", F.lit(1))
        )
        flagged = (
            flagged.join(prior_keys, "content_key", "left")
            .withColumn("is_keeper", F.col("is_keeper") & F.col("__xk_prior").isNull())
            .drop("__xk_prior")
        )
        if near_dup in ("lsh", "both"):
            marker = "\x00prior\x00"
            tagged = docs.select("doc_id", "text").unionByName(
                prior.select(
                    F.concat(F.lit(marker), F.col("doc_id")).alias("doc_id"), "text"
                )
            )
            verified = jaccard_verify(lsh_candidate_pairs(tagged), tagged).where(
                F.col("jaccard_u") >= int(round(jaccard_threshold * 1e6))
            )
            a_prior = F.col("id_a").startswith(marker)
            b_prior = F.col("id_b").startswith(marker)
            hit_new = (
                verified.where(a_prior != b_prior)
                .select(
                    F.when(a_prior, F.col("id_b")).otherwise(F.col("id_a")).alias(
                        "doc_id"
                    )
                )
                .distinct()
                .withColumn("__xk_nd_prior", F.lit(1))
            )
            flagged = (
                flagged.join(hit_new, "doc_id", "left")
                .withColumn(
                    "is_keeper", F.col("is_keeper") & F.col("__xk_nd_prior").isNull()
                )
                .drop("__xk_nd_prior")
            )

    if contam_flags is not None:
        # NULL-text docs never produce a score row; they are "clean"
        # here and die at the quality gate instead
        flagged = (
            flagged.join(contam_flags, "doc_id", "left")
            .withColumn(
                "contam_ok", F.coalesce(F.col("__xk_contam_ok"), F.lit(True))
            )
            .drop("__xk_contam_ok")
        )

    one = F.lit(1).cast("long")
    keep = F.col("is_keeper")
    lang = keep & F.col("lang_ok")
    qual = lang & F.col("quality_ok")
    decon = qual & F.col("contam_ok") if contam_flags is not None else qual
    final = decon & F.col("sampled")
    obs = Observation("training_funnel")
    metrics = [
        F.sum(one).alias("extracted"),
        F.sum(F.when(keep, one)).alias("deduped"),
        F.sum(F.when(lang, one)).alias("lang_kept"),
        F.sum(F.when(qual, one)).alias("quality_kept"),
        F.sum(F.when(final, one)).alias("written"),
    ]
    if contam_flags is not None:
        metrics.append(F.sum(F.when(decon, one)).alias("decontam_kept"))
    if decontaminate == "excise":
        metrics += [
            F.sum("n_contam_spans").alias("contam_spans_excised"),
            F.sum("n_contam_tokens").alias("contam_tokens_excised"),
        ]
    if dedup_passages:
        metrics += [
            F.sum("n_passage_spans").alias("passage_spans_excised"),
            F.sum("n_passage_tokens").alias("passage_tokens_excised"),
        ]
    if dedup_lines:
        metrics += [
            F.sum(F.col("n_lines").cast("long")).alias("lines_total"),
            F.sum(F.col("n_kept").cast("long")).alias("lines_kept"),
        ]
    if redact_pii:
        metrics.append(F.sum(F.col("n_pii").cast("long")).alias("pii_matches"))
    out = flagged.observe(obs, *metrics)
    (
        out.where(final)
        .select(
            "doc_id", "text", *md_cols, "lang_guess", "quality_score_u", "n_tokens"
        )
        .write.mode("overwrite")
        .parquet(output_path)
    )
    m = obs.get
    funnel = {
        "extracted": m["extracted"] or 0,
        "deduped": m["deduped"] or 0,
        "lang_kept": m["lang_kept"] or 0,
        "quality_kept": m["quality_kept"] or 0,
        "written": m["written"] or 0,
        "output_path": output_path,
    }
    if dedup_lines:
        funnel["lines_total"] = m["lines_total"] or 0
        funnel["lines_kept"] = m["lines_kept"] or 0
    if redact_pii:
        funnel["pii_matches"] = m["pii_matches"] or 0
    if contam_flags is not None:
        funnel["decontam_kept"] = m["decontam_kept"] or 0
    if decontaminate == "excise":
        funnel["contam_spans_excised"] = m["contam_spans_excised"] or 0
        funnel["contam_tokens_excised"] = m["contam_tokens_excised"] or 0
    if dedup_passages:
        funnel["passage_spans_excised"] = m["passage_spans_excised"] or 0
        funnel["passage_tokens_excised"] = m["passage_tokens_excised"] or 0
    if pack_context_len:
        from xhtmlkit_spark.operators.packing import pack_chunks

        pack_path = output_path.rstrip("/") + "_pack"
        landed = spark.read.parquet(output_path)  # (doc_id, n_tokens) pruned
        pobs = Observation("pack_plan")
        plan = pack_chunks(
            landed,
            context_len=pack_context_len,
            shuffle_seed=f"{salt}-pack",
            count_col="n_tokens",
        ).observe(
            pobs,
            F.sum(one).alias("plan_rows"),
            F.sum("tok_len").alias("packed_tokens"),
            (F.max("chunk_id") + one).alias("chunks"),
        )
        plan.write.mode("overwrite").parquet(pack_path)
        pm = pobs.get
        funnel["plan_rows"] = pm["plan_rows"] or 0
        funnel["packed_tokens"] = pm["packed_tokens"] or 0
        funnel["chunks"] = pm["chunks"] or 0
        funnel["pack_output_path"] = pack_path
    return funnel
