"""XY-cut reading order (B6) against a recursive scalar oracle.

The oracle below is the straightforward per-page recursion: a Python
sweep for the widest gap, one call per segment and depth. The product
kernel (``kernels/xycut.py``) cuts every pending segment of a batch at
once, level by level; these tests require the two to give the
identical frame (row order and ``rank``) on random layouts, and pin the
number of level passes so that per-page Python cannot come back
unnoticed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from german_ocr_spark.kernels import parse, xycut
from german_ocr_spark.kernels.xycut import MAX_DEPTH, MIN_GAP
from german_ocr_spark.synth import synth_docs


# ------------------------------------------------------------ the oracle
def _widest_gap(lo: np.ndarray, hi: np.ndarray) -> tuple[float, float]:
    """(width, midpoint) of the widest uncovered interval between merged
    [lo, hi) spans; (0, nan) if none."""
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    best_w, best_mid = 0.0, float("nan")
    cur_hi = hi[0]
    for i in range(1, len(lo)):
        w = float(lo[i] - cur_hi)
        if w >= MIN_GAP and w > best_w:
            best_w, best_mid = w, float((cur_hi + lo[i]) / 2.0)
        cur_hi = max(cur_hi, hi[i])
    return best_w, best_mid


def _xycut(idx: np.ndarray, x0, y0, x1, y1, depth: int) -> list[int]:
    if len(idx) <= 1 or depth >= MAX_DEPTH:
        order = np.lexsort((idx, x0[idx], y0[idx]))
        return [int(i) for i in idx[order]]
    yw, ycut = _widest_gap(y0[idx], y1[idx])
    xw, xcut = _widest_gap(x0[idx], x1[idx])
    if yw >= xw and yw > 0:
        top = idx[y0[idx] < ycut]
        bot = idx[y0[idx] >= ycut]
        if len(top) and len(bot):
            return _xycut(top, x0, y0, x1, y1, depth + 1) + _xycut(
                bot, x0, y0, x1, y1, depth + 1
            )
    if xw > 0:
        left = idx[x0[idx] < xcut]
        right = idx[x0[idx] >= xcut]
        if len(left) and len(right):
            return _xycut(left, x0, y0, x1, y1, depth + 1) + _xycut(
                right, x0, y0, x1, y1, depth + 1
            )
    order = np.lexsort((idx, x0[idx], y0[idx]))
    return [int(i) for i in idx[order]]


def oracle_reading_order(blocks: pd.DataFrame) -> pd.DataFrame:
    """Per (span, page) group: vertically disjoint groups keep the
    (y0, x0, idx) order, the others recurse through ``_xycut``."""
    df = blocks.reset_index(drop=True)
    x0, y0, x1, y1 = (df[c].to_numpy(float) for c in ("x0", "y0", "x1", "y1"))
    span, page = df["span_idx"].to_numpy(), df["page"].to_numpy()
    n = len(df)
    order0 = np.lexsort((np.arange(n), x0, y0, page, span))
    keys = list(zip(span[order0], page[order0]))
    out: list[int] = []
    b0 = 0
    for b1 in range(1, n + 1):
        if b1 < n and keys[b1] == keys[b0]:
            continue
        seg = order0[b0:b1]
        gy0, gy1 = y0[seg], y1[seg]
        if len(seg) > 1 and not np.all(gy0[1:] >= np.maximum.accumulate(gy1)[:-1]):
            seg = np.asarray(_xycut(seg, x0, y0, x1, y1, 0), dtype=np.int64)
        out.extend(int(i) for i in seg)
        b0 = b1
    ordered = df.take(out)
    ospan = ordered["span_idx"].to_numpy()
    rank = np.zeros(n, dtype=np.int64)
    for i in range(1, n):
        rank[i] = rank[i - 1] + 1 if ospan[i] == ospan[i - 1] else 0
    ordered["rank"] = rank
    return ordered


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        rows, columns=["span_idx", "page", "x0", "y0", "x1", "y1", "text"]
    )


def _assert_matches_oracle(blocks: pd.DataFrame) -> None:
    pd.testing.assert_frame_equal(
        xycut.reading_order(blocks), oracle_reading_order(blocks)
    )


# ------------------------------------------------------- random layouts
# grid-snapped coordinates make duplicate coordinates and equal gap
# widths common; negative extents make inverted boxes (x1 < x0)
_COORD = st.one_of(
    st.integers(0, 12).map(lambda v: v * 5.0),
    st.floats(0.0, 100.0, allow_nan=False),
)
_EXTENT = st.one_of(
    st.integers(-1, 9).map(lambda v: v * 5.0),
    st.floats(-10.0, 60.0, allow_nan=False),
)
_TEXT = st.sampled_from(["a", "Versiche-", "rung", "", None])


@st.composite
def _random_layout(draw):
    rows = []
    for _ in range(draw(st.integers(1, 30))):
        x0, y0 = draw(_COORD), draw(_COORD)
        rows.append((
            draw(st.integers(0, 2)), draw(st.integers(1, 2)),
            x0, y0, x0 + draw(_EXTENT), y0 + draw(_EXTENT), draw(_TEXT),
        ))
    return _frame(rows)


def _staircase(n: int, step: float = 10.0) -> pd.DataFrame:
    """n narrow columns side by side, equally spaced, all overlapping in
    y, each starting one unit above its left neighbour: every cut peels
    off the leftmost column, so a page of n > MAX_DEPTH columns reaches
    the depth limit, where the terminal (y0, x0) order takes the rest
    top-down — i.e. right to left."""
    return _frame([
        (0, 1, i * step, 50.0 - i, i * step + step / 2, 200.0, f"c{i}")
        for i in range(n)
    ])


@st.composite
def _shuffled_staircase(draw):
    blocks = _staircase(draw(st.integers(MAX_DEPTH + 1, 3 * MAX_DEPTH)),
                        step=draw(st.sampled_from([2.0, 10.0, 37.5])))
    perm = draw(st.permutations(range(len(blocks))))
    return blocks.iloc[list(perm)]


@settings(max_examples=400, deadline=None)
@given(st.one_of(_random_layout(), _shuffled_staircase()))
def test_reading_order_equals_recursive_oracle(blocks):
    _assert_matches_oracle(blocks)


def test_staircase_deeper_than_max_depth():
    n = MAX_DEPTH + 5
    ordered = xycut.reading_order(_staircase(n))
    want = list(range(MAX_DEPTH)) + list(range(n - 1, MAX_DEPTH - 1, -1))
    assert ordered.index.tolist() == want
    _assert_matches_oracle(_staircase(n))


def test_synth_corpus_equals_recursive_oracle():
    spans = [
        text for _, doc in synth_docs(300, seed=7) for kind, text, _, _ in doc
        if kind == "pdf"
    ]
    blocks, _bad = parse.parse_pdf_blocks(pd.Series(spans, dtype=object))
    assert blocks["span_idx"].nunique() > 100
    _assert_matches_oracle(blocks)


def test_join_none_and_empty_block_texts():
    blocks = _frame([
        (0, 1, 0, 0, 10, 10, "Versiche-"),
        (0, 1, 0, 20, 10, 30, None),
        (0, 1, 0, 40, 10, 50, ""),
        (0, 1, 0, 60, 10, 70, "rung"),
        (3, 1, 0, 0, 10, 10, None),
        (5, 2, 0, 0, 10, 10, ""),
    ])
    joined = xycut.extract_pdf_text(blocks)
    assert joined.to_dict() == {0: "Versiche-\n\n\nrung", 3: "", 5: ""}
    want = oracle_reading_order(blocks).assign(
        text=lambda d: d["text"].fillna("")
    ).groupby("span_idx")["text"].agg("\n".join)
    pd.testing.assert_series_equal(joined, want)


# ---------------------------------------------------- structural guard
def _two_column_pages(n_pages: int) -> pd.DataFrame:
    page = [
        (50, 20, 550, 35), (50, 60, 290, 100), (50, 110, 290, 150),
        (310, 60, 550, 100), (310, 110, 550, 150), (50, 780, 550, 795),
    ]
    return _frame([
        (p // 4, p % 4, *box, f"{p}:{j}")
        for p in range(n_pages) for j, box in enumerate(page)
    ])


def test_level_passes_do_not_grow_with_pages(monkeypatch):
    """The cut runs one pass per depth for the whole batch: the pass
    count is bounded by the depth limit and independent of the number
    of pages (a per-page loop would make it grow with them)."""
    passes = []
    level = xycut._cut_level

    def counting(*args):
        passes[-1] += 1
        return level(*args)

    monkeypatch.setattr(xycut, "_cut_level", counting)
    for n_pages in (10, 2000):
        passes.append(0)
        ordered = xycut.reading_order(_two_column_pages(n_pages))
        texts = ordered["text"].tolist()[:6]
        assert [t.split(":")[1] for t in texts] == ["0", "1", "2", "3", "4", "5"]
    assert 0 < passes[0] <= MAX_DEPTH + 1
    assert passes[0] == passes[1]
