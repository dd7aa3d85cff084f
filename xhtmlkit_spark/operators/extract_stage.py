"""THE hot-path operator: mapInArrow extraction stage (SURVEY.md B26).

Wraps the golden-validated per-document extractor (xkit.doc.extract_doc)
in a ``DataFrame.mapInArrow`` stage. Contract points (BASELINE.json
"no per-row Python anywhere in the hot path"):

* I/O crosses the JVM↔Python boundary as Arrow RecordBatches only;
  no row-wise ``@udf`` exists anywhere in this repo.
* Inside a batch, span columns are accessed as *flat* child arrays
  (one ``to_pylist`` per column per batch — a C-level columnar copy),
  sliced per document by the list offsets; output spans are assembled
  as flat arrays + list offsets via ``pa.ListArray.from_arrays`` —
  no per-row list-of-dict materialization in either direction.
* Passthrough columns (e.g. ``part`` for checkpointing) are copied
  column-wise, untouched by Python.
* Every per-document stage of the package (select, normalize,
  markdown, project, harvest) is a ``doc_fn`` plus an output spec run
  by the one kernel here, :func:`make_doc_stage_fn`. Every other
  Python stage (file and WARC ingest, CDX, media, BPE) is a ``row_fn``
  plus the same kind of spec, run by :func:`run_row_stage`.

Column pruning: :func:`extract_spans` selects only
``doc_id, *passthrough, spans`` before the stage, so Catalyst prunes
everything else out of the parquet scan (SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from xkit.doc import extract_doc
from xkit.options import DEFAULT_OPTIONS, ExtractOptions

__all__ = [
    "SPAN_STRUCT",
    "SPANS_TYPE",
    "extract_spans",
    "make_doc_stage_fn",
    "make_extract_fn",
    "run_doc_stage",
    "run_row_stage",
    "span_metrics",
    "unpack_spans",
]

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

_PA_SPAN = to_arrow_type(SPAN_STRUCT)
_PA_SPANS = pa.list_(_PA_SPAN)
# the default output spec: one spans column, the extract_spans layout
_SPANS_OUT = (("spans", SPANS_TYPE),)


def unpack_spans(batch: pa.RecordBatch, spans_idx: int):
    """Flat-column view of a batch's spans ListArray: returns
    ``(offs, kind_l, text_l, ref_l, off_l, nulls, n_rows)``. Handles
    the sliced-batch case (``lists.offset != 0`` — re-materialized so
    ``.offsets`` indexes ``.values``) and the row-validity mask."""
    lists = batch.column(spans_idx)
    if lists.offset != 0:
        lists = pa.concat_arrays([lists])
    vals = lists.values
    return (
        lists.offsets.to_pylist(),
        vals.field("kind").to_pylist(),
        vals.field("text").to_pylist(),
        vals.field("media_ref").to_pylist(),
        vals.field("offset").to_pylist(),
        lists.is_valid().to_pylist() if lists.null_count else None,
        len(lists),
    )


def _spans_array(values) -> pa.ListArray:
    """One ``(k, t, m, o)`` parallel-list tuple (or None) per row → a
    list<span> column, assembled as flat child arrays + list offsets."""
    ok: list = []
    ot: list = []
    om: list = []
    oo: list = []
    # a None start offset marks the row's output list as NULL (pyarrow
    # reads the row's end from the next non-null offset) — NULL input
    # spans stay NULL, not []
    list_offs: list = []
    for v in values:
        if v is None:
            list_offs.append(None)
            continue
        list_offs.append(len(ok))
        k, t, m, o = v
        ok += k
        ot += t
        om += m
        oo += o
    list_offs.append(len(ok))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(ok, pa.string()),
            pa.array(ot, pa.string()),
            pa.array(om, pa.string()),
            pa.array(oo, pa.int32()),
        ],
        fields=list(_PA_SPAN),
    )
    return pa.ListArray.from_arrays(pa.array(list_offs, pa.int32()), struct)


def _out_columns(out: tuple):
    """An output spec's Arrow fields and its column builder, shared by
    both kernels. ``out`` lists the columns as ``(name, Spark DataType)``
    pairs; the Arrow types are derived here, on the driver. The builder
    turns one batch's output rows (one tuple per row) into its Arrow
    columns, each built once: a ``SPANS_TYPE`` value is a ``(k, t, m,
    o)`` parallel-list tuple (or None), assembled flat; any other column
    is built by ``pa.array``."""
    # None marks a spans column (flat assembly)
    types = [None if dt == SPANS_TYPE else to_arrow_type(dt) for _, dt in out]
    fields = [
        pa.field(name, _PA_SPANS if t is None else t)
        for (name, _), t in zip(out, types)
    ]

    def build(rows: list) -> list:
        columns = list(zip(*rows)) or [()] * len(types)
        return [
            _spans_array(c) if t is None else pa.array(c, t)
            for c, t in zip(columns, types)
        ]

    return fields, build


def make_doc_stage_fn(doc_fn, n_passthrough: int, out: tuple = _SPANS_OUT):
    """Build an Arrow-batch mapper around any per-doc parallel-list
    function ``doc_fn(kinds, texts, refs, offsets)`` — THE kernel of
    every per-document stage (extract, select, markdown, harvest, ...).

    ``out`` lists the output columns as ``(name, Spark DataType)``
    pairs (see :func:`_out_columns`); the default is one ``spans``
    column. ``doc_fn`` returns one value per output column (a tuple;
    with a one-column ``out``, the value itself). A NULL spans row
    gives NULL in every output column.

    Expects batches with columns ``[doc_id, <n_passthrough cols>, spans]``
    (enforced by :func:`run_doc_stage`'s select) and emits
    ``[doc_id, <n_passthrough cols>, <out columns>]``.
    """
    spans_idx = n_passthrough + 1
    single = len(out) == 1
    null_row = (None,) * len(out)
    fields, build = _out_columns(out)

    def doc_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            offs, kind_l, text_l, ref_l, off_l, nulls, n_rows = unpack_spans(
                batch, spans_idx
            )
            rows: list = []
            for i in range(n_rows):
                if nulls is None or nulls[i]:
                    s, e = offs[i], offs[i + 1]
                    r = doc_fn(kind_l[s:e], text_l[s:e], ref_l[s:e], off_l[s:e])
                    rows.append((r,) if single else r)
                else:
                    rows.append(null_row)
            cols = [batch.column(j) for j in range(spans_idx)] + build(rows)
            yield pa.RecordBatch.from_arrays(cols, schema=pa.schema(
                [batch.schema.field(j) for j in range(spans_idx)] + fields
            ))

    return doc_batches


def run_row_stage(df: DataFrame, cols, row_fn, out: tuple) -> DataFrame:
    """THE kernel of every Python stage that is not a per-document
    stage (file and WARC ingest, CDX, media, BPE): prune ``df`` to
    ``cols`` and call ``row_fn(*values)`` once per input row, with the
    row's values as Python objects (NULL is None, binary is bytes).
    ``row_fn`` returns (or yields) that row's output rows, 0..N tuples
    in ``out`` order; ``out`` is the same ``(name, Spark DataType)``
    spec as :func:`make_doc_stage_fn`'s. Each batch's output rows
    become one output batch — an empty one when no row yields any."""
    fields, build = _out_columns(out)
    schema = pa.schema(fields)

    def row_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list = []
            for values in zip(*[c.to_pylist() for c in batch.columns]):
                rows += row_fn(*values)
            yield pa.RecordBatch.from_arrays(build(rows), schema=schema)

    out_schema = T.StructType([T.StructField(name, dt) for name, dt in out])
    return df.select(*cols).mapInArrow(row_batches, out_schema)


def make_extract_fn(options: ExtractOptions, n_passthrough: int):
    """Arrow-batch mapper for main-content extraction (the flagship
    doc_fn); see :func:`make_doc_stage_fn` for the batch contract."""

    def doc_fn(kinds, texts, refs, offsets):
        return extract_doc(kinds, texts, refs, offsets, options)

    return make_doc_stage_fn(doc_fn, n_passthrough)


def run_doc_stage(
    df: DataFrame, batch_fn, passthrough: tuple, out: tuple = _SPANS_OUT
) -> DataFrame:
    """Prune to ``doc_id, *passthrough, spans`` (Catalyst pushes the
    column pruning into the scan) and run an Arrow-batch mapper built
    by :func:`make_doc_stage_fn` over it; ``out`` is the mapper's
    output spec (the same one passed to :func:`make_doc_stage_fn`)."""
    pt = [c for c in passthrough if c in df.columns]
    pruned = df.select("doc_id", *pt, "spans")
    out_schema = T.StructType(
        [T.StructField("doc_id", T.StringType())]
        + [pruned.schema[c] for c in pt]
        + [T.StructField(name, dt) for name, dt in out]
    )
    return pruned.mapInArrow(batch_fn(len(pt)), out_schema)


def extract_spans(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """Run main-content extraction over a corpus DataFrame.

    Input: ``doc_id string, spans array<struct<...>>`` (+ any extra
    columns; those named in ``passthrough`` survive, everything else
    is pruned before the Python boundary). Output: same shape with
    extracted spans (kind ∈ {text, media}).
    """
    return run_doc_stage(
        df, lambda n_pt: make_extract_fn(options, n_pt), passthrough
    )


def span_metrics(df: DataFrame) -> DataFrame:
    """JVM-side per-doc metrics over a spans column (no Python):
    n_spans, n_text_spans, n_media_spans, n_chars."""
    spans = F.col("spans")
    zero = F.lit(0).cast("long")
    return df.withColumns(
        {
            "n_spans": F.size(spans),
            "n_text_spans": F.size(F.filter(spans, lambda s: s["kind"] == F.lit("text"))),
            "n_media_spans": F.size(F.filter(spans, lambda s: s["kind"] == F.lit("media"))),
            "n_chars": F.aggregate(
                spans, zero, lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), zero)
            ),
        }
    )
