"""Deterministic (hash-based) sampling and corpus mixing.

Training-data pipelines need REPRODUCIBLE sampling: `df.sample()` uses
partition-seeded RNG, so the selected rows change with partitioning,
cluster size, and Spark version — a silent nondeterminism in any
resumable 100 TB job. Hash-based sampling decides per ROW from a
stable key (md5(salt || key) as a uniform fraction), which makes the
sample: (1) identical across reruns/cluster sizes/engines — the DuckDB
oracle reproduces it bit-for-bit; (2) a pure filter — no shuffle, and
Catalyst pushes surviving-column pruning into the scan; (3) composable
— disjoint salts give independent samples, the same salt gives nested
samples (rate 0.1 ⊂ rate 0.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xhtmlkit_spark.operators.text_stats import tokens_col

__all__ = [
    "hash_fraction",
    "hash_sample",
    "stratified_sample",
    "temperature_mix",
    "dsir_weights",
]

_DENOM = float(1 << 32)


def hash_fraction(key: Column | str, salt: str = "s0") -> Column:
    """Uniform [0, 1) fraction from md5(salt || key) (first 8 hex =
    32 bits). Engine-portable: DuckDB computes the identical value."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8), 16, 10
        ).cast("double")
        / F.lit(_DENOM)
    )


def hash_sample(
    df: DataFrame, rate: float, key: str = "doc_id", salt: str = "s0"
) -> DataFrame:
    """Keep ~rate of rows, decided per row by the stable key hash."""
    return df.where(hash_fraction(key, salt) < rate)


def stratified_sample(
    df: DataFrame,
    rates: dict,
    stratum: str = "lang",
    key: str = "doc_id",
    salt: str = "s0",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (the corpus-mixing primitive: "keep
    30% of en, 100% of de, drop the rest" is exactly a stratified
    sample). Strata absent from ``rates`` get ``default_rate``."""
    rate_col = F.lit(float(default_rate))
    for value, rate in sorted(rates.items()):
        rate_col = F.when(F.col(stratum) == value, F.lit(float(rate))).otherwise(
            rate_col
        )
    return df.where(hash_fraction(key, salt) < rate_col)


def temperature_mix(
    df: DataFrame,
    stratum: str = "source",
    target_frac: float = 0.5,
    key: str = "doc_id",
    salt: str = "mix0",
) -> DataFrame:
    """Temperature-weighted corpus mixing (the GPT-3-style α=0.5
    upsampling of small sources): stratum *s* with n_s documents gets
    sampling rate ``min(1, (√n_s / Σ√n_t) · target_frac·N / n_s)`` —
    the sampled corpus approaches the n_s^0.5 distribution, flattening
    source skew while keeping ≈ ``target_frac`` of the corpus. α is
    fixed at 0.5 because ``sqrt`` is an exactly-rounded IEEE op, so
    the DuckDB oracle computes bit-identical rates (a general ``pow``
    is not exactly rounded). The rate ships as ``mix_rate_u`` — BIGINT
    millionths: each stratum's √n is quantized ONCE to micro-units
    (bit-identical: sqrt and the 1e6 scaling are correctly-rounded
    ops), their SUM is exact integer arithmetic in any order (the old
    float Σ√n was summation-order-dependent), and the final
    rate-per-stratum double chain runs on exactly-representable
    integer inputs in a fixed operand order, so round-to-INTEGER is
    exact cross-engine (functions/exactmath.py).

    Scale shape: one hash aggregation to |strata| rows, a broadcast
    1-row totals append, a broadcast rate join back, then the same
    pure-filter hash sampling as :func:`hash_sample` — the corpus
    itself never shuffles. Returns the sampled rows plus their
    ``mix_rate_u``.
    """
    from xhtmlkit_spark.functions.exactmath import round_u

    counts = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("__xk_n"))
    counts = counts.withColumn("__xk_sq_u", round_u(F.sqrt("__xk_n")))
    totals = counts.agg(
        F.sum("__xk_n").cast("double").alias("__xk_total"),
        F.sum("__xk_sq_u").alias("__xk_sum_sq_u"),
    )
    rate_scaled = (
        F.col("__xk_sq_u").cast("double")
        / F.col("__xk_sum_sq_u").cast("double")
        * (F.lit(float(target_frac)) * F.col("__xk_total"))
        / F.col("__xk_n")
        * F.lit(1e6)
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        stratum,
        F.least(F.lit(1_000_000), F.round(rate_scaled).cast("long")).alias(
            "mix_rate_u"
        ),
    )
    return df.join(F.broadcast(rates), stratum).where(
        hash_fraction(key, salt) * F.lit(1e6) < F.col("mix_rate_u").cast("double")
    )


def dsir_weights(
    df: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
    text: str = "text",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every NON-target document by
    how target-like its hashed n-gram profile is, so resampling by
    weight shifts the raw pool toward the target distribution — the
    standard cheap alternative to a trained quality classifier.

    Features are word uni+bigrams hashed into ``n_buckets`` via the
    engine-portable md5-prefix integer (same trick as
    :func:`hash_fraction`); bucket unigram models are fit with add-one
    smoothing on the target subset (rows matching ``is_target``) and
    the raw rest, and each raw doc scores

        log_w = Σ_k c_k(doc) · ( ln (t_k+1)/(T+K) − ln (r_k+1)/(R+K) )

    Output: ``(doc_id, n_feats, log_weight_u)`` for raw docs — BIGINT
    micro-log-units: each BUCKET's log-ratio is quantized ONCE to
    micro-units (≤ ``n_buckets`` quantizations total, each a ~1e-9
    midpoint window), then every per-doc weight is an exact integer
    dot product, order-free in both engines (the exactmath
    discipline; the r04 round-6 double shipped driver-red).

    Scale shape: ONE explode feeds every aggregation — per-(doc,
    bucket) counts first (the only full shuffle, keyed by doc), then
    bucket models (≤ n_buckets rows) and the 1-row totals both hang
    off that aggregate and come back as broadcasts; the corpus text
    itself crosses the wire once. n_buckets is a constant: the model
    is ~KBs at any corpus size.
    """
    from xhtmlkit_spark.functions.binding import bind

    toks = tokens_col(F.lower(F.col(text)))

    # let-bind the split: inside bind, ``t`` is a lambda VARIABLE, so
    # the size()/slice() multi-refs (and the per-bigram transform) see
    # it evaluated once per row — referenced as a plain column,
    # CollapseProject inlines the split per use site (3× measured)
    def body(t: Column) -> Column:
        uni = F.filter(t, lambda x: x != "")
        bi = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(uni, bi)

    feats = df.where(F.col(text).isNotNull()).select(
        "doc_id",
        is_target.alias("__tgt"),
        F.explode(bind(toks, body)).alias("__feat"),
    ).select(
        "doc_id",
        "__tgt",
        F.pmod(
            F.conv(F.substring(F.md5("__feat"), 1, 6), 16, 10).cast("long"),
            F.lit(n_buckets),
        ).alias("__bucket"),
    )
    # two consumers hang off ``per`` (the bucket model and the raw
    # side) — without a checkpoint the explode+md5 subtree runs twice
    # (the two-consumer lazy-subtree trap, PLANS.md); ``per`` is the
    # slim (docs × buckets-touched) aggregate, cheap to pin
    per = (
        feats.groupBy("doc_id", "__tgt", "__bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    model = per.groupBy("__bucket").agg(
        F.sum(F.when(F.col("__tgt"), F.col("__n")).otherwise(0)).alias("__tk"),
        F.sum(F.when(~F.col("__tgt"), F.col("__n")).otherwise(0)).alias("__rk"),
    )
    totals = model.agg(
        F.sum("__tk").cast("double").alias("__T"),
        F.sum("__rk").cast("double").alias("__R"),
    )
    k = F.lit(float(n_buckets))
    ratio = F.log((F.col("__tk") + 1) / (F.col("__T") + k)) - F.log(
        (F.col("__rk") + 1) / (F.col("__R") + k)
    )
    from xhtmlkit_spark.functions.exactmath import round_u

    ratio_micro = round_u(ratio)
    return (
        per.where(~F.col("__tgt"))
        .join(F.broadcast(model), "__bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("__n").alias("n_feats"),
            F.sum(F.col("__n") * ratio_micro).alias("log_weight_u"),
        )
    )
