"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — all
JVM-side (higher-order functions + hash built-ins; zero Python UDFs),
each designed to be ANSI-SQL-expressible so the DuckDB oracles in
__spark_entry__ verify them value-for-value.

Scale shapes (the part that matters at 10^12 docs):

* exact: one hash-aggregate on md5(normalized text) — a single shuffle
  on a short key, map-side partial aggregation free.
* MinHash+LSH: signatures are computed per-row (no shuffle), candidate
  generation is a groupBy on (band_idx, band_sig) — i.e. the classic
  shingle→minhash→band→bucket-join; only docs sharing a band bucket
  ever meet, so the join never goes quadratic.
* SimHash: per-row 64→60-bit signature via bit-vote over token hashes;
  near-dup = equal signature (or banded prefixes for Hamming<k).
* n-gram Jaccard: exact verification ONLY on LSH candidate pairs.

Hash choice: md5 (same bytes→same hex in every engine) rather than
Spark's xxhash64/hash, which DuckDB cannot reproduce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xhtmlkit_spark.functions.binding import bind
from xhtmlkit_spark.operators.text_stats import tokens_col

__all__ = [
    "normalized_text",
    "exact_dup_groups",
    "shingles_col",
    "minhash_signature",
    "lsh_candidate_pairs",
    "simhash_col",
    "simhash_band_pairs",
    "jaccard_verify",
    "containment_verify",
    "contamination_scores",
    "contamination_spans",
    "connected_components",
    "near_dup_groups",
    "snapshot_diff",
]


def normalized_text(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    # null-propagating (SQL string_agg semantics): null-skipping
    # concat_ws would hash NULL text to md5(''), grouping null docs as
    # exact duplicates of genuinely-empty docs and diverging from the
    # oracle (DuckDB's list_aggregate over NULL is NULL)
    return F.when(c.isNotNull(), F.lower(F.concat_ws(" ", tokens_col(c))))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    keeper (min id) and the duplicate count."""
    return (
        df.withColumn("content_key", F.md5(normalized_text(text)))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles_col(text: Column | str = "text", k: int = 3) -> Column:
    """Distinct k-word shingles (k consecutive whitespace tokens)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(_positional_shingles(c, k))


def _positional_shingles(c: Column, k: int) -> Column:
    """Every k-word shingle of ``c`` in token order, duplicates kept —
    the one shingle expression of :func:`shingles_col`,
    :func:`contamination_spans` and :func:`duplicate_passages`.

    The token array is let-bound (``bind``) before the positional
    transform references it — captured directly, Catalyst would re-run
    the regex split once per shingle (measured 6x cost on the sf0.1
    documents table).
    """

    def body(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        )

    # NULL text → NULL shingles (matching SQL semantics), not {""}:
    # greatest(NULL-k,1)=1 and the null-skipping concat_ws would give
    # every null doc the identical single empty shingle, making all of
    # them MinHash-collide into one quadratic LSH bucket
    return F.when(c.isNotNull(), bind(tokens_col(c), body))


_MINHASH_SENTINEL = "\uffff"  # sorts above any md5 hex digit


def minhash_signature(shingles: Column, n_hashes: int = 8) -> Column:
    """MinHash signature: for hash i, min over shingles of md5(i:shingle).

    min-of-md5-hex is a valid MinHash family (lexicographic order on a
    uniform hash); md5 keeps it engine-portable. Implemented as ONE
    fold over the shingle array carrying all n mins — n separate
    array_min(transform(...)) expressions made Catalyst re-evaluate the
    (expensive) shingle construction once per hash (measured ~4x cost).
    """
    init = F.array(*[F.lit(_MINHASH_SENTINEL) for _ in range(n_hashes)])

    def step(acc, s):
        # closures over i, NOT default-arg lambdas (pyspark reads 2-arg
        # lambdas as its (element, index) higher-order-function form)
        return F.array(
            *[
                F.least(acc[i], F.md5(F.concat(F.lit(f"{i}:"), s)))
                for i in range(n_hashes)
            ]
        )

    sig = F.aggregate(shingles, init, step)
    # empty shingle set -> null components (matches array_min over empty)
    return F.transform(
        sig, lambda x: F.when(x == F.lit(_MINHASH_SENTINEL), F.lit(None)).otherwise(x)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """shingle → minhash → band → bucket-join candidate pairs.

    Returns (band_idx, id_a, id_b) for every pair sharing a band
    bucket; downstream verifies with :func:`jaccard_verify`. The
    self-join is per-bucket (groupBy band value), so cost is
    Σ bucket_size² — bounded by construction, never all-pairs.
    """
    if n_hashes % band_size:
        raise ValueError("band_size must divide n_hashes evenly")
    n_bands = n_hashes // band_size

    def band_expr(s: Column, b: int) -> Column:
        # null-PROPAGATING concat (SQL || semantics), NOT concat_ws: an
        # empty doc has all-null signature components, and concat_ws
        # silently turns those into the SAME "" band signature for
        # every empty doc — one quadratic bucket at corpus scale, and a
        # divergence from the SQL oracle whose NULLs drop from the join
        parts: list[Column] = []
        for j in range(band_size):
            if j:
                parts.append(F.lit("|"))
            parts.append(s[b * band_size + j])
        return F.concat(*parts)

    sig = minhash_signature(shingles_col(text, k), n_hashes)
    # let-bind the signature: the n_bands band expressions would
    # otherwise each re-run the whole shingle+minhash fold
    bands = bind(
        sig,
        lambda s: F.array(*[band_expr(s, b) for b in range(n_bands)]),
    )
    banded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(bands).alias("band_idx", "band_sig"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.band_idx").alias("band_idx"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .distinct()
    )


def simhash_col(text: Column | str = "text", bits: int = 60) -> Column:
    """SimHash over whitespace tokens.

    token → 60-bit int via the first 15 hex chars of md5; bit b of the
    signature is 1 when more token-hashes have bit b set than not.
    60 bits (15 hex) keeps the value comfortably inside BIGINT in both
    engines (no unsigned/overflow edge cases).
    """
    toks = tokens_col(text)
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    # the hash array is let-bound: the 60 per-bit votes below reference
    # it 120 times, and every capture would re-run the md5 transform
    def body(hs: Column) -> Column:
        n = F.size(hs)

        # unrolled per-bit vote (shift amounts must be literals for
        # shiftright; NB: a default-arg lambda would read as pyspark's
        # 2-arg (elem, idx) higher-order-function form)
        def _bit_vote(bit: int):
            def pred(h):
                return F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1

            return F.when(
                F.size(F.filter(hs, pred)) * 2 > n, F.lit(1 << bit).cast("long")
            ).otherwise(F.lit(0).cast("long"))

        terms = [_bit_vote(bit) for bit in range(bits)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return bind(hashes, body)


def simhash_band_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    bits: int = 60,
    n_bands: int = 6,
    max_hamming: int = 5,
) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming join.

    The signature is split into ``n_bands`` equal bit-bands; two docs
    within Hamming distance ``max_hamming`` < n_bands must agree on at
    least one whole band (pigeonhole), so the band-bucket equi-join has
    100% recall while candidates only ever meet inside a bucket —
    the join never goes quadratic at corpus scale. Pairs are then
    verified exactly with ``bit_count(xor)``.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if bits % n_bands:
        raise ValueError("n_bands must divide bits evenly")
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole recall needs max_hamming < n_bands")
    width = bits // n_bands
    mask = (1 << width) - 1
    # null-text docs all evaluate to signature 0 (every bit vote is a
    # null→0 CASE) — without this filter they'd meet in one quadratic
    # band bucket at corpus scale while carrying no comparable content
    sigd = df.where(
        (F.col(text) if isinstance(text, str) else text).isNotNull()
    ).select(F.col(id_col).alias("id"), simhash_col(text, bits).alias("sig"))
    # sig is referenced once per band below — let-bound so the banding
    # array doesn't re-run the signature computation
    bands = bind(
        F.col("sig"),
        lambda s: F.array(
            *[
                F.shiftright(s, b * width).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ]
        ),
    )
    banded = sigd.select(
        "id", "sig", F.posexplode(bands).alias("band_idx", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = 64
) -> DataFrame:
    """Transitive closure of near-dup pairs → duplicate GROUPS.

    Pure-DataFrame iterative min-label propagation (no GraphX/GraphFrames
    — neither ships with PySpark): every node starts labeled with
    itself; each round, each node takes the min of its own label and
    its neighbors' labels; fixpoint when no label changes. The label is
    then the minimum id reachable — the canonical "keep" doc per group.

    Inputs: ``nodes`` with column ``id`` (every doc, so singletons
    resolve to themselves), ``pairs`` with ``id_a``/``id_b`` (any
    near-dup pair source: lsh_candidates, simhash_band_pairs,
    hyperplane_neardup_pairs, or their union).

    Scale shape: each round is one shuffle join on id + one min-agg;
    rounds = graph diameter. Near-dup graphs are overwhelmingly tiny
    cliques/chains (diameter ≤ ~3), so this beats the O(log n)
    large-star/small-star alternation in practice — at 10^12 docs the
    per-round cost, not the round count, dominates, and each round here
    shuffles only (id, label) longs, never text. ``localCheckpoint``
    truncates the growing lineage each round (an iterative join plan
    re-analyzed from scratch each round goes quadratic in planning
    time; checkpointing keeps planning O(1) per round).

    Returns (id, group_id).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # pair endpoints are nodes too: a pair id missing from `nodes`
    # (pairs computed before a filter/sample of the docs) would enter
    # the label table with a NULL own-label, never count as "changed"
    # (NULL comparison), and silently stall propagation one hop early
    all_nodes = (
        nodes.select("id")
        .union(edges.select(F.col("src").alias("id")))
        .distinct()
    )
    labels = all_nodes.select("id", F.col("id").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _ in range(max_iter):
        # each id's OWN label rides through the same union/groupBy
        # (own=1 marks it; every id has exactly one own row), so
        # convergence detection is a filter over the checkpointed
        # result instead of an extra per-round join
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "lbl", F.lit(0).alias("own")
        )
        own = labels.select("id", "lbl", F.lit(1).alias("own"))
        new = (
            own.union(prop)
            .groupBy("id")
            .agg(
                F.min("lbl").alias("lbl"),
                F.max(F.when(F.col("own") == 1, F.col("lbl"))).alias("old_lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.where(F.col("lbl") != F.col("old_lbl")).count()
        labels = new.select("id", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    return labels.select("id", F.col("lbl").alias("group_id"))


def near_dup_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Resolve near-dup PAIRS into per-doc groups: (doc_id, group_id)
    for every doc, group_id = min doc id in the doc's connected
    component (singletons map to themselves) — the answer to "which doc
    do I keep" that pair lists alone can't give."""
    nodes = docs.select(F.col(id_col).alias("id"))
    return connected_components(nodes, pairs).select(
        F.col("id").alias(id_col), "group_id"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    digest: str = "digest",
) -> DataFrame:
    """Diff two crawl snapshots by content digest: ``(key, old_digest,
    new_digest, change)`` with change ∈ added / removed / changed;
    unchanged keys are dropped. This is the incremental-crawl
    primitive — what to re-extract after a new crawl lands (changed +
    added), what to tombstone (removed) — and composes directly with
    :func:`xhtmlkit_spark.sources.io.warc_cdx` output (key=url,
    digest=digest) or any content_key projection.

    NULL digests compare null-safely (NULL vs NULL = unchanged, NULL
    vs value = changed); presence is tracked by marker literals, never
    by digest nullability, so a snapshot that stores NULL digests
    still diffs correctly.

    Scale shape: one hash-partition shuffle per side on ``key``, then
    a co-partitioned full-outer sort-merge join — only (key, digest)
    pairs move, never documents; AQE's skew handling covers a
    pathological hot key.
    """
    o = old.select(
        F.col(key).alias("__k"),
        F.col(digest).alias("old_digest"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(key).alias("__k"),
        F.col(digest).alias("new_digest"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, "__k", "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_digest").eqNullSafe(F.col("new_digest")), F.lit("changed")
        )
    )
    return j.select(
        F.col("__k").alias(key), "old_digest", "new_digest", change.alias("change")
    ).where(change.isNotNull())


def jaccard_verify(
    pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs (broadcast-friendly:
    pairs are few after LSH; docs join twice on the id).

    The docs side is semi-join-pruned to ids that appear in a candidate
    pair BEFORE shingling — after LSH, candidates are a small fraction
    of the corpus, so shingling everything would do ~|corpus|/|cands|
    times the needed work (the semi-join itself pushes into the scan)."""
    cand_ids = (
        pairs.select(F.col("id_a").alias("cid"))
        .union(pairs.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    pruned = docs.join(
        cand_ids, docs[id_col] == cand_ids["cid"], "left_semi"
    )
    sh = pruned.select(
        F.col(id_col).alias("id"), shingles_col(text, k).alias("sh")
    )
    out = (
        pairs.select("id_a", "id_b")
        .distinct()
        .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    from xhtmlkit_spark.functions.exactmath import ratio_u

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # BIGINT millionths, exact half-up integer rounding — a union size
    # with a 2^k k>6 factor lands round-6 exactly on a midpoint where
    # the engines' float rounding diverges (functions/exactmath.py)
    return out.select(
        "id_a",
        "id_b",
        ratio_u(inter.cast("long"), union.cast("long")).alias("jaccard_u"),
    )


def contamination_spans(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    text: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """WHERE a document is contaminated, not just how much: contiguous
    runs of benchmark-overlapping k-shingles as token spans ``(doc_id,
    span_idx, tok_start, tok_len, n_shingles)`` — the excision surface
    (curation pipelines cut the quoted benchmark passage and keep the
    document; :func:`contamination_scores` can only drop it whole).

    POSITIONAL shingles (no distinct — the position IS the payload):
    a run of hits at shingle positions p..p+n-1 covers tokens
    p..p+n+k-2, so ``tok_len = n_shingles + k - 1``. Runs found with
    the gaps-and-islands trick: group key = pos − row_number(pos),
    constant exactly while positions are consecutive.

    Scale shape: benchmark collapses to its distinct shingle set and
    broadcasts (corpus shingles never shuffle for the probe); only the
    HIT positions — benchmark-overlap-sized, tiny next to the corpus —
    enter the per-doc window shuffle.
    """
    positional = _positional_shingles(F.col(text), k)
    bench = (
        benchmark.where(F.col(text).isNotNull())
        .select(F.explode(shingles_col(text, k)).alias("g"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    ex = df.select("doc_id", F.posexplode(positional).alias("pos", "g"))
    hits = ex.join(bench, "g", "inner").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("doc_id", "__grp").agg(
        F.min("pos").alias("tok_start"), F.count(F.lit(1)).alias("n_shingles")
    )
    w2 = Window.partitionBy("doc_id").orderBy("tok_start")
    return spans.select(
        "doc_id",
        F.row_number().over(w2).alias("span_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        (F.col("n_shingles") + F.lit(k - 1)).cast("long").alias("tok_len"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


def duplicate_passages(
    df: DataFrame,
    k: int = 6,
    min_docs: int = 2,
    text: str = "text",
    checkpoint: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """Corpus-SELF duplicated passages — exact substring dedup at
    k-gram granularity (the "Deduplicating Training Data" surface):
    contiguous runs of k-token grams that occur in ≥ ``min_docs``
    DISTINCT documents, as per-doc token spans ``(doc_id, span_idx,
    tok_start, tok_len, n_grams)``. :func:`contamination_spans` is the
    corpus-vs-benchmark twin; this probes the corpus against ITSELF —
    cross-document boilerplate, licence blocks, syndicated passages.
    A run of hits at gram positions p..p+n-1 covers tokens
    p..p+n+k-2 (``tok_len = n_grams + k - 1``); runs via the same
    gaps-and-islands trick (group key = pos − row_number(pos)).

    Scale shape: gram occurrences shuffle as 32-char md5 keys, never
    gram text (the house cross-engine hash — Spark and DuckDB agree
    byte-for-byte, unlike xxhash64). Two consumers read the exploded
    gram stream (the distinct-doc count and the position join-back),
    so the slim (doc_id, pos, gk) projection is localCheckpointed
    ONCE by default — re-tokenizing the corpus per consumer costs
    more than spilling the token-sized projection (the ivf_ann_topk
    lesson; pass ``checkpoint=False`` to keep the plan lazy, e.g.
    under an outer checkpoint). The duplicated-gram set is usually
    corpus-small and AQE may broadcast the join-back side at runtime;
    only HIT positions enter the per-doc window shuffle.

    ``keep_first=True`` switches from REPORTING to EXCISION semantics:
    each duplicated gram's occurrence in its smallest-doc_id document
    (the deterministic keeper) is exempt, so cutting the returned
    spans removes every duplicated passage from the corpus EXCEPT one
    canonical copy (the remove-all-but-one discipline; with the
    default False, spans cover every occurrence — the reporting
    surface).
    """
    positional = _positional_shingles(F.col(text), k)
    ex = df.select("doc_id", F.posexplode(positional).alias("pos", "g")).select(
        "doc_id", "pos", F.md5("g").alias("gk")
    )
    if checkpoint:
        ex = ex.localCheckpoint(eager=False)
    gagg = ex.groupBy("gk").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("__keeper"),
    )
    dup = gagg.where(F.col("nd") >= min_docs).select("gk", "__keeper")
    hits = ex.join(dup, "gk", "inner")
    if keep_first:
        hits = hits.where(F.col("doc_id") != F.col("__keeper"))
    hits = hits.select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("doc_id", "__grp").agg(
        F.min("pos").alias("tok_start"), F.count(F.lit(1)).alias("n_grams")
    )
    w2 = Window.partitionBy("doc_id").orderBy("tok_start")
    return spans.select(
        "doc_id",
        F.row_number().over(w2).alias("span_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        (F.col("n_grams") + F.lit(k - 1)).cast("long").alias("tok_len"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def containment_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact ASYMMETRIC containment for candidate pairs:
    ``containment_ab = |sh(A) ∩ sh(B)| / |sh(A)|`` (and the reverse) —
    the quote/sub-document detector Jaccard misses: a page fully
    embedded in a 100× larger page has tiny Jaccard but
    containment_ab ≈ 1.

    Same plan shape as :func:`jaccard_verify` (semi-join-pruned docs
    shingled once, pairs joined twice on id); only candidate pairs —
    Σ bucket², never n² — ever reach the exact set arithmetic.
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias("cid"))
        .union(pairs.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    pruned = docs.join(cand_ids, docs[id_col] == cand_ids["cid"], "left_semi")
    sh = pruned.select(
        F.col(id_col).alias("id"), shingles_col(text, k).alias("sh")
    )
    out = (
        pairs.select("id_a", "id_b")
        .distinct()
        .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    from xhtmlkit_spark.functions.exactmath import ratio_u

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    # BIGINT millionths via exact integer rounding (exactmath)
    return out.select(
        "id_a",
        "id_b",
        ratio_u(inter, F.size("sh_a").cast("long")).alias("containment_ab_u"),
        ratio_u(inter, F.size("sh_b").cast("long")).alias("containment_ba_u"),
    )


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    text: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-document fraction of its distinct
    k-shingles that appear anywhere in ``benchmark``.

    The standard pre-training hygiene check — docs overlapping an eval
    benchmark must be dropped or the eval is compromised. Scale shape:
    the benchmark side collapses to its DISTINCT shingle set first
    (|benchmark vocabulary|, not |benchmark rows|), then a single
    shingle-keyed join + one hash aggregation per doc. Benchmark
    suites are small next to a training corpus, so the set is
    broadcast by default (no shuffle of the corpus shingles at all);
    pass broadcast_benchmark=False to fall back to a partitioned join
    when the benchmark itself is corpus-sized. NULL-text docs drop
    (nothing to score) on both sides.
    """
    from xhtmlkit_spark.functions.exactmath import ratio_u

    bench = (
        benchmark.where(F.col(text).isNotNull())
        .select(F.explode(shingles_col(text, k)).alias("g"))
        .distinct()
        .withColumn("__xk_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    ex = df.select("doc_id", F.explode(shingles_col(text, k)).alias("g"))
    return (
        ex.join(bench, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__xk_hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            # BIGINT millionths via exact integer rounding (exactmath)
            ratio_u(F.col("n_hits"), F.col("n_shingles")).alias("contamination_u"),
        )
    )
