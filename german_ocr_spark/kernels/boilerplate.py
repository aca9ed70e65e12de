"""HTML boilerplate stripping (SURVEY B5) — Boilerpipe/Readability-style
text-density + link-density block scoring, fully vectorized.

Generalizes the reference's "document → main text" extraction for
``kind='html'`` spans (the reference delegates this to a vision model
per image, ``german_ocr/ollama_backend.py:103-150``; here it is a pure,
deterministic classifier over serialized DOM-node tables so output is
bitwise-identical across cluster sizes).

Algorithm (pandas groupby/agg and Arrow joins — no per-row Python, no
tree recursion):
  1. node features: text_len; link_len = text_len where tag == 'a'
  2. block rollup (groupby block): total text, total link text, node
     count, block tag = tag of the block's first node (min node_id)
  3. classify: content ⇔ tag not boilerplate ∧ text_len ≥ MIN_TEXT_LEN
     ∧ link_density < MAX_LINK_DENSITY
  4. content text = block texts (nodes joined by ' ', ordered by
     node_id) of content blocks, joined by '\\n', ordered by block_id —
     integer orderings everywhere, so ties are impossible (determinism).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .join import join_runs

BOILER_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "script", "style", "form", "button"}
)
MIN_TEXT_LEN = 30
MAX_LINK_DENSITY = 1.0 / 3.0


def extract_main_content(nodes: pd.DataFrame) -> pd.Series:
    """Node frame → Series indexed by span_idx with the main-content text:
    content blocks in block_id order joined by newline, each block's
    non-empty node texts in node_id order joined by ' '. A span whose
    blocks are all boilerplate yields ''.

    Block classification is a cython groupby; the text is assembled by
    two Arrow run joins (``join_runs``: nodes into blocks, blocks into
    spans), with no Python per block or span."""
    if nodes.empty:
        return pd.Series([], dtype=object)
    df = nodes.copy()
    df["text"] = df["text"].fillna("")
    df["text_len"] = df["text"].str.len().astype("int64")
    df["link_len"] = df["text_len"].where(df["tag"] == "a", 0)
    df = df.sort_values(
        ["span_idx", "block_id", "node_id"], kind="mergesort"
    ).reset_index(drop=True)

    grp = df.groupby(["span_idx", "block_id"], sort=True)
    blocks = grp.agg(
        text_len=("text_len", "sum"),
        link_len=("link_len", "sum"),
        n=("node_id", "size"),
        block_tag=("tag", "first"),
    ).reset_index()
    dens = blocks["link_len"] / blocks["text_len"].where(blocks["text_len"] > 0, 1)
    is_content = (
        ~blocks["block_tag"].isin(BOILER_TAGS)
        & (blocks["text_len"] >= MIN_TEXT_LEN)
        & (dens < MAX_LINK_DENSITY)
    )

    # broadcast the block label back to nodes positionally (both frames
    # share the (span_idx, block_id) sort)
    node_block = np.repeat(np.arange(len(blocks)), blocks["n"].to_numpy())
    keep = is_content.to_numpy()[node_block] & (df["text_len"].to_numpy() > 0)
    kept_block = node_block[keep]
    block_starts = np.flatnonzero(np.diff(kept_block, prepend=-1))
    block_text = join_runs(df["text"].to_numpy()[keep], block_starts, " ")
    # a span without content blocks gets an empty run, which joins to ''
    block_span = blocks["span_idx"].to_numpy()[kept_block[block_starts]]
    all_spans = blocks["span_idx"].drop_duplicates().to_numpy()
    content = join_runs(block_text, np.searchsorted(block_span, all_spans), "\n")
    return pd.Series(content.to_numpy(zero_copy_only=False), index=all_spans)
