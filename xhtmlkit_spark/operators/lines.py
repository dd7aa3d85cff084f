"""Line-level corpus operators (RefinedWeb / C4-style).

Web-scale training corpora are cleaned line-by-line, not just
doc-by-doc: boilerplate lines ("subscribe to our newsletter") repeat
across millions of pages, and C4's classic filters act on individual
lines before document-level scoring. Two operators:

* :func:`line_dedup` — corpus-level exact line deduplication keeping
  the FIRST occurrence (by ``(doc_id, line_idx)``) of every distinct
  normalized line, then reassembling each document from its surviving
  lines.
* :func:`c4_line_filter` — per-document line-quality filtering (min
  words per line, optional terminal-punctuation requirement) plus the
  C4 document flags (lorem-ipsum marker, ``{`` count), entirely as
  row-local array expressions — zero shuffle.

Both take an ``array<string>`` lines column so the segmentation is the
caller's choice: :func:`split_text_lines` for real newline-delimited
text, :func:`word_chunk_lines` for a deterministic fixed-width word
chunking (used by the contract queries — the synthetic corpus has no
newlines, and fixed 8-word chunks both exercise real cross-document
duplication and stay bit-identical in the DuckDB oracle twin).

Scale shape of :func:`line_dedup` (the only shuffling op here): the
first-occurrence computation is a ``min(struct(doc_id, line_idx))``
HASH AGGREGATION keyed on the line's md5 — partial aggregation
collapses hot keys map-side, so a boilerplate line occurring 10^9
times shuffles one row per input partition, not 10^9 rows into one
sorted window partition (a row_number() window over the line key —
the obvious formulation, and the one the DuckDB oracle uses — has no
partial step and would sort the hottest key in one task). The
first-occurrence aggregate shuffles only ``(md5, id, idx)`` triples;
the line text rides two exchanges (the key-join probe, then the
per-doc regroup) — verified 3 exchanges total, no broadcast-nested
-loop, in the executed plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xhtmlkit_spark.functions.binding import bind
from xhtmlkit_spark.functions.exactmath import ratio_u
from xhtmlkit_spark.operators.text_stats import tokens_col

__all__ = [
    "split_text_lines",
    "word_chunk_lines",
    "line_dedup",
    "c4_line_filter",
]

TERMINAL_PUNCT_RE = "[.!?\"']$"
LOREM_MARKER = "lorem ipsum"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def split_text_lines(text: Column | str = "text") -> Column:
    """Newline-split lines, trimmed, blanks dropped (NULL text → NULL)."""
    lines = F.transform(F.split(_col(text), "\\n"), lambda x: F.trim(x))
    return F.filter(lines, lambda x: x != F.lit(""))


def word_chunk_lines(text: Column | str = "text", k: int = 8) -> Column:
    """Deterministic segmentation: consecutive ``k``-word chunks of the
    whitespace-tokenized text (last chunk may be shorter), blanks
    dropped. The token array is let-bound (`bind`) — a captured outer
    column inside a higher-order-function lambda is otherwise
    re-evaluated per chunk."""
    toks = tokens_col(text)

    def chunks(t: Column) -> Column:
        n_chunks = F.ceil(F.size(t) / F.lit(float(k))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(t, i * k + 1, k), " "),
        )

    return F.filter(bind(toks, chunks), lambda x: x != F.lit(""))


def line_dedup(
    df: DataFrame, lines: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level exact line dedup, keep-first.

    A line occurrence survives iff it is the first occurrence (minimal
    ``(id, line_idx)``) of its normalized key — md5 of the lowercased,
    whitespace-collapsed, trimmed line — anywhere in the corpus. Returns one row per document that produced
    at least one line: ``(id, n_lines, n_kept, kept_text)`` where
    ``kept_text`` re-joins the surviving lines in original order with
    newlines — NULL when every line of the document was seen earlier.
    Documents with NULL/empty lines arrays vanish (nothing to emit),
    mirroring ``unnest`` in the SQL twin.
    """
    ex = (
        df.select(F.col(id_col), F.posexplode(lines).alias("line_idx", "line"))
        .withColumn(
            "line_key",
            F.md5(F.lower(F.trim(F.regexp_replace(F.col("line"), "\\s+", " ")))),
        )
    )
    firsts = ex.groupBy("line_key").agg(
        F.min(F.struct(F.col(id_col), F.col("line_idx"))).alias("first_occ")
    )
    joined = ex.join(firsts, "line_key")
    keep = (F.col(id_col) == F.col("first_occ")[id_col]) & (
        F.col("line_idx") == F.col("first_occ")["line_idx"]
    )
    n_kept = F.sum(keep.cast("long"))
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        keep,
                        F.struct(
                            F.col("line_idx").alias("i"), F.col("line").alias("l")
                        ),
                    )
                )
            ),
            lambda s: s["l"],
        ),
        "\n",
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        n_kept.alias("n_kept"),
        F.when(n_kept > 0, kept_text).alias("kept_text"),
    )


def c4_line_filter(
    df: DataFrame,
    lines: Column,
    min_words: int = 5,
    require_terminal_punct: bool = True,
    id_col: str = "doc_id",
    text: str = "text",
    passthrough: tuple = (),
) -> DataFrame:
    """C4-style per-document line filtering + document flags.

    A line is kept iff it has ≥ ``min_words`` whitespace words and
    (when ``require_terminal_punct``) ends in terminal punctuation.
    Output per document: ``n_lines``, ``n_kept``, ``kept_ratio_u``
    (BIGINT millionths via exact integer rounding — the exactmath
    midpoint-lottery fix; 0 for line-less docs), ``has_lorem`` (case-folded
    "lorem ipsum" marker on the full text), ``n_braces`` (count of
    ``{`` — C4's code-page signal), and ``kept_text`` (surviving lines
    re-joined, NULL when none survive). Pure row-local expressions —
    no shuffle at any corpus size. NULL-text documents are dropped
    (nothing to filter), like the other text operators.
    """
    c = F.col(text)

    def kept_of(ls: Column) -> Column:
        cond = lambda x: F.size(F.split(x, "\\s+")) >= min_words  # noqa: E731
        if require_terminal_punct:
            inner = cond
            cond = lambda x: inner(x) & (  # noqa: E731
                F.regexp_extract(x, TERMINAL_PUNCT_RE, 0) != F.lit("")
            )
        return F.filter(ls, cond)

    out = df.where(c.isNotNull()).withColumn(
        "__xk_stats",
        bind(
            lines,
            lambda ls: bind(
                kept_of(ls),
                lambda kept: F.struct(
                    F.size(ls).alias("n_lines"),
                    F.size(kept).alias("n_kept"),
                    F.when(F.size(kept) > 0, F.array_join(kept, "\n")).alias(
                        "kept_text"
                    ),
                ),
            ),
        ),
    )
    st = F.col("__xk_stats")
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        st["n_lines"].cast("long").alias("n_lines"),
        st["n_kept"].cast("long").alias("n_kept"),
        F.when(
            st["n_lines"] > 0,
            ratio_u(st["n_kept"].cast("long"), st["n_lines"].cast("long")),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("kept_ratio_u"),
        F.lower(c).contains(LOREM_MARKER).alias("has_lorem"),
        (F.length(c) - F.length(F.replace(c, F.lit("{"), F.lit(""))))
        .cast("long")
        .alias("n_braces"),
        st["kept_text"].alias("kept_text"),
    )
