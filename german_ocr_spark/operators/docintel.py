"""Document-intelligence template (reference v2 ``document-intelligence``).

The reference README documents a v2 structured-extraction template
"Bounding box extraction — field coordinates for visual annotation"
(``/root/reference/README.md:241-252``) as a contract only — no
reference code implements it. This operator is the Spark re-expression:
one output row per layout BLOCK carrying its page, bounding box, and
XY-cut reading rank — the coordinates a viewer overlays on the original
document. The XY-cut kernel already computes every one of these values
for the text pipeline (``kernels/xycut.reading_order``) and then discards
them after the reading-order sort; here they become output columns.

Block text is emitted RAW (no German normalization): the annotation
use-case highlights the document as it is, while the normalized text
lives in the extraction pipeline's span output.

Scale shape: identical to the flagship extraction stage — in-row span
ordering (zero shuffles), one mapInPandas over Arrow batches, optional
salt repartition for pathologically heavy multi-page documents. The
golden twin runs the same pure kernels in plain pandas with none of the
Spark plumbing (FIXTURES.md golden discipline).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..kernels import parse, xycut
from .extract import ordered_span_rows

DOCINTEL_DDL = (
    "doc_id string, `order` int, page bigint, block_rank int, "
    "x0 double, y0 double, x1 double, y1 double, text string"
)

_EMPTY = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype=object),
        "order": pd.Series([], dtype="int32"),
        "page": pd.Series([], dtype="int64"),
        "block_rank": pd.Series([], dtype="int32"),
        "x0": pd.Series([], dtype="float64"),
        "y0": pd.Series([], dtype="float64"),
        "x1": pd.Series([], dtype="float64"),
        "y1": pd.Series([], dtype="float64"),
        "text": pd.Series([], dtype=object),
    }
)


def docintel_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of pdf-kind span rows (doc_id, order, text) →
    block rows (DOCINTEL_DDL). Malformed block tables contribute no
    rows here — the extraction pipeline already reports their
    PARSE_PDF error per span."""
    pdf = pdf.reset_index(drop=True)
    blocks, _bad = parse.parse_pdf_blocks(pdf["text"])
    if blocks.empty:
        return _EMPTY.copy()
    ordered = xycut.reading_order(blocks)
    si = ordered["span_idx"].to_numpy()
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(object)[si],
            "order": pdf["order"].to_numpy("int32")[si],
            "page": ordered["page"].to_numpy("int64"),
            "block_rank": ordered["rank"].to_numpy("int64").astype("int32"),
            "x0": ordered["x0"].to_numpy("float64"),
            "y0": ordered["y0"].to_numpy("float64"),
            "x1": ordered["x1"].to_numpy("float64"),
            "y1": ordered["y1"].to_numpy("float64"),
            "text": ordered["text"].fillna("").to_numpy(object),
        }
    )


def _docintel_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf):
            yield docintel_pandas(pdf)


def document_intelligence(
    docs: DataFrame, salt_partitions: int | None = None
) -> DataFrame:
    """docs (doc_id, spans) → per-block bounding-box rows.

    Span ``order`` is assigned in-row over ALL of a document's spans
    (same total order as the extraction pipeline), THEN non-pdf spans
    drop out — so a block row's ``order`` identifies the same span the
    pipeline's text output carries, and joining the two surfaces
    (text + coordinates) is a plain (doc_id, order) equi-join."""
    rows = ordered_span_rows(docs).filter("kind = 'pdf'").select(
        "doc_id", "order", "text"
    )
    if salt_partitions:
        from pyspark.sql import functions as F

        rows = rows.repartition(
            salt_partitions, "doc_id", F.pmod(F.col("order"), F.lit(64))
        )
    return rows.mapInPandas(_docintel_iter, schema=DOCINTEL_DDL)


def golden_docintel(
    docs: list[tuple[str, list[tuple[str, str, str, int]]]]
) -> pd.DataFrame:
    """Single-node golden twin (same pure kernels, zero Spark plumbing):
    enumerate each document's spans in the pipeline's total order, keep
    the pdf ones, parse + reading-order in one plain-pandas pass."""
    rows = []
    for doc_id, spans in docs:
        for order, (kind, text, media_ref, offset) in enumerate(
            sorted(spans, key=lambda s: (s[3], s[0], s[2], s[1]))
        ):
            if kind == "pdf":
                rows.append((doc_id, np.int32(order), text))
    if not rows:
        return _EMPTY.copy()
    pdf = pd.DataFrame(rows, columns=["doc_id", "order", "text"])
    out = docintel_pandas(pdf)
    return out.sort_values(
        ["doc_id", "order", "block_rank"]
    ).reset_index(drop=True)
