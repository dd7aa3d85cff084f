"""Distributed BPE token counting (train-on-sample, encode-everywhere).

The scale shape for a merges-table tokenizer at 10^12 docs:

* **train** reads a BOUNDED, deterministic sample on the driver (BPE
  training is inherently global — pair counts over the corpus — and is
  done on a sample in every production pipeline);
* **encode** is the distributed pass: the merges table (a few KB)
  ships inside the row function's closure (Spark broadcasts task
  binaries; Arrow-batched on the run_row_stage kernel).

No SQL twin exists — rank-greedy merge application is not expressible
in DuckDB — so the contract query is rows-only; value-level
correctness is pinned by unit tests (hand-verified merges, Spark ≡
pure-Python equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import run_row_stage
from xkit.bpe import BPE, train_bpe

__all__ = ["train_bpe_on_sample", "bpe_token_counts"]


def train_bpe_on_sample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_rows: int = 64,
    n_merges: int = 200,
) -> list:
    """Train merges on a deterministic sample: the ``sample_rows``
    smallest ids (NOT .limit(), whose row choice is partition-order
    dependent — a resume or repartition would silently retrain a
    different tokenizer). Driver-side collect is bounded by
    sample_rows."""
    rows = (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    return train_bpe([r[text_col] for r in rows], n_merges=n_merges)


def bpe_token_counts(
    df: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bpe_real) per doc: real merges-table BPE token counts.

    NULL text → NULL count (SQL semantics, matching every other
    text operator here).
    """
    enc = BPE(merges)  # unpickled once per task: one word cache per task
    id_field = df.select(id_col).schema[0]

    def count(doc_id, text):
        return [(doc_id, enc.count_tokens(text) if text is not None else None)]

    out = ((id_field.name, id_field.dataType), ("n_bpe_real", T.LongType()))
    return run_row_stage(df, [id_col, text_col], count, out)
