"""Unit tests for the boilerplate (B5) and XY-cut (B6) kernels on tiny
hand-written frames — independent of the synthesizer and of Spark."""

from __future__ import annotations

import pandas as pd

from german_ocr_spark.kernels import boilerplate, parse, xycut
from german_ocr_spark.kernels.boilerplate import (
    BOILER_TAGS,
    MAX_LINK_DENSITY,
    MIN_TEXT_LEN,
)
from german_ocr_spark.kernels.parse import RS, US
from german_ocr_spark.synth import synth_docs


def _nodes(rows):
    return pd.DataFrame(rows, columns=["span_idx", "node_id", "tag", "block_id", "text"])


def score_blocks(nodes: pd.DataFrame) -> pd.DataFrame:
    """Block-label oracle: node frame (span_idx, node_id, tag, block_id,
    text) → block frame with features, the block's text (non-empty node
    texts joined by ' ') and the is_content label, one groupby with a
    Python join per block."""
    df = nodes.copy()
    df["text"] = df["text"].fillna("")
    df["text_len"] = df["text"].str.len().astype("int64")
    df["link_len"] = df["text_len"].where(df["tag"] == "a", 0)
    df = df.sort_values(["span_idx", "block_id", "node_id"], kind="mergesort")

    grp = df.groupby(["span_idx", "block_id"], sort=True)
    blocks = grp.agg(
        text_len=("text_len", "sum"),
        link_len=("link_len", "sum"),
        n_nodes=("node_id", "size"),
        block_tag=("tag", "first"),  # first node in node_id order
        text=("text", lambda s: " ".join(x for x in s if x)),
    ).reset_index()

    dens = blocks["link_len"] / blocks["text_len"].where(blocks["text_len"] > 0, 1)
    blocks["link_density"] = dens
    blocks["is_content"] = (
        ~blocks["block_tag"].isin(BOILER_TAGS)
        & (blocks["text_len"] >= MIN_TEXT_LEN)
        & (dens < MAX_LINK_DENSITY)
    )
    return blocks


def _content_by_oracle(nodes: pd.DataFrame) -> dict:
    """Main content from the oracle's labels: content block texts joined
    by newline in block_id order; '' for spans without content."""
    blocks = score_blocks(nodes)
    return {
        span: "\n".join(g.loc[g["is_content"], "text"])
        for span, g in blocks.groupby("span_idx", sort=True)
    }


def test_boilerplate_drops_nav_and_linkdense():
    nodes = _nodes(
        [
            (0, 0, "nav", 0, ""),
            (0, 1, "a", 0, "Home"),
            (0, 2, "a", 0, "Kontakt"),
            (0, 3, "p", 1, "Dies ist ein langer Artikelabsatz mit viel Inhalt."),
            (0, 4, "p", 2, "kurz"),  # below MIN_TEXT_LEN
            (0, 5, "div", 3, "Ein weiterer langer Absatz voller echtem Inhalt hier."),
            (0, 6, "a", 3, "x"),  # tiny link inside content block: ok
            (0, 7, "footer", 4, "Impressum Datenschutz AGB Impressum Datenschutz"),
        ]
    )
    blocks = score_blocks(nodes)
    by_id = blocks.set_index("block_id")["is_content"].to_dict()
    assert by_id == {0: False, 1: True, 2: False, 3: True, 4: False}

    content = boilerplate.extract_main_content(nodes)
    assert content.loc[0] == (
        "Dies ist ein langer Artikelabsatz mit viel Inhalt.\n"
        "Ein weiterer langer Absatz voller echtem Inhalt hier. x"
    )
    assert content.to_dict() == _content_by_oracle(nodes)


def test_boilerplate_link_density_threshold():
    # block text 60 chars, 30 of them link text → density 0.5 ≥ 1/3 → boiler
    nodes = _nodes(
        [
            (0, 0, "div", 0, "x" * 30),
            (0, 1, "a", 0, "y" * 30),
            (1, 0, "div", 0, "x" * 50),
            (1, 1, "a", 0, "y" * 10),  # density 1/6 → content
        ]
    )
    blocks = score_blocks(nodes)
    got = blocks.set_index(["span_idx", "block_id"])["is_content"].to_dict()
    assert got == {(0, 0): False, (1, 0): True}


def test_main_content_equals_oracle_labels_joined():
    """The Arrow-joined main content equals the oracle's content blocks
    joined in block_id order, on the synthesizer's HTML spans (some of
    them all boilerplate) plus a span of empty and missing node texts."""
    spans = [
        text for _, doc in synth_docs(300, seed=11) for kind, text, _, _ in doc
        if kind == "html"
    ]
    nodes, _bad = parse.parse_html_nodes(pd.Series(spans, dtype=object))
    extra = _nodes([(len(spans), 0, "p", 0, None), (len(spans), 1, "p", 0, "")])
    nodes = pd.concat([nodes, extra], ignore_index=True)
    want = _content_by_oracle(nodes)
    assert sum(v == "" for v in want.values()) > 0
    assert boilerplate.extract_main_content(nodes).to_dict() == want


def _blocks(rows):
    return pd.DataFrame(
        rows, columns=["span_idx", "page", "x0", "y0", "x1", "y1", "text"]
    )


def test_xycut_two_columns():
    """A naive (y, x) sort interleaves columns; XY-cut must not."""
    blocks = _blocks(
        [
            (0, 1, 50, 20, 550, 35, "HEADER"),
            (0, 1, 50, 60, 290, 100, "L1"),
            (0, 1, 50, 110, 290, 150, "L2"),
            (0, 1, 310, 60, 550, 100, "R1"),
            (0, 1, 310, 110, 550, 150, "R2"),
            (0, 1, 50, 780, 550, 795, "FOOTER"),
        ]
    )
    ordered = xycut.reading_order(blocks)
    texts = ordered.sort_values("rank")["text"].tolist()
    assert texts == ["HEADER", "L1", "L2", "R1", "R2", "FOOTER"]


def test_xycut_multipage_and_join():
    blocks = _blocks(
        [
            (0, 2, 50, 60, 550, 100, "page2"),
            (0, 1, 50, 60, 550, 100, "Versiche-"),
            (0, 1, 50, 110, 550, 150, "rung"),
        ]
    )
    joined = xycut.extract_pdf_text(blocks)
    assert joined.loc[0] == "Versiche-\nrung\npage2"


def test_parse_malformed_isolation():
    good = US.join(["0", "p", "0", "hello world this is long enough"])
    bad = "not-enough-fields"
    s = pd.Series([good, RS.join([good, bad]), ""], index=[10, 11, 12])
    rows, bad_spans = parse.parse_html_nodes(s)
    assert bad_spans.tolist() == [11]
    assert set(rows["span_idx"]) == {10}


def test_boilerplate_all_boiler_batch_yields_empty_strings():
    """A batch whose every block is boilerplate (nav/footer/link-dense)
    must yield '' per span, not crash — small or streaming micro-batches
    hit this shape on clean data."""
    nodes = _nodes(
        [
            (0, 0, "nav", 0, "Home Kontakt"),
            (0, 1, "footer", 1, "Impressum Datenschutz AGB"),
            (1, 0, "a", 0, "nur Links hier"),
        ]
    )
    content = boilerplate.extract_main_content(nodes)
    assert list(content.index) == [0, 1]
    assert list(content) == ["", ""]


def test_boilerplate_empty_frame():
    content = boilerplate.extract_main_content(_nodes([]))
    assert len(content) == 0
