"""PDF layout parsing (SURVEY B6): XY-cut block segmentation with
(page, y, x) reading-order fallback.

Generalizes the reference's per-page PDF handling (page progress at
``german_ocr/cloud_client.py:100-102``) into a deterministic layout
sort: within each page, blocks are recursively split at horizontal
whitespace gaps (top→bottom), then vertical gaps (left→right) — the
classic XY-cut — which orders two-column layouts correctly where a
naive (y, x) sort interleaves the columns.

The recursion is level-synchronous: every pending (page, segment) of a
batch is cut at one depth by a single set of numpy passes, so a batch
costs at most ``MAX_DEPTH`` passes however many pages it holds, and no
Python runs per page or per segment. Ties are broken by integer block
index → bitwise-stable output across partition counts (BASELINE.json
determinism requirement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .join import join_runs

MAX_DEPTH = 16
MIN_GAP = 1.0  # minimum whitespace gap (page units) to cut at


def _dense_ranks(lo: np.ndarray, hi: np.ndarray):
    """(rank of lo, rank of hi, sorted distinct values) over both arrays:
    running maxima taken over ranks and mapped back stay exact for any
    float, ``inf`` and huge coordinates included."""
    vals, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
    return inv[: len(lo)], inv[len(lo) :], vals


def _segmented_cummax(seg: np.ndarray, rank: np.ndarray, stride: int) -> np.ndarray:
    """Running max of ``rank`` restarting at every segment (``seg``
    nondecreasing, ``stride`` > every rank): offsetting segment s by
    s × stride puts it above all earlier segments, so one global
    ``maximum.accumulate`` never carries a max across a boundary."""
    base = seg * stride
    return np.maximum.accumulate(base + rank) - base


def _widest_gaps(seg, nseg, lo, hi, vals):
    """Per segment (``seg`` nondecreasing, dense 0..nseg-1; ``lo``/``hi``
    dense ranks into ``vals``): (width, midpoint) of the widest uncovered
    interval between its merged [lo, hi) spans, the earliest gap in lo
    order winning ties; (0, nan) where no gap reaches MIN_GAP. Gap width
    and midpoint use the same float64 arithmetic as a scalar sweep."""
    stride = len(vals) + 1
    o = np.argsort(seg * stride + lo, kind="stable")
    s = seg[o]
    lo_v = vals[lo[o]]
    hi_max = vals[_segmented_cummax(s, hi[o], stride)]
    # gap[j] sits between sorted rows j-1 and j of one segment
    w = lo_v[1:] - hi_max[:-1]
    gap = np.r_[0.0, np.where((s[1:] == s[:-1]) & (w >= MIN_GAP), w, 0.0)]
    mid = np.r_[np.nan, (hi_max[:-1] + lo_v[1:]) / 2.0]
    best = np.maximum.reduceat(gap, np.flatnonzero(np.r_[True, s[1:] != s[:-1]]))
    hit = np.flatnonzero((gap == best[s]) & (best[s] > 0))
    hit_seg, first = np.unique(s[hit], return_index=True)
    cut = np.full(nseg, np.nan)
    cut[hit_seg] = mid[hit[first]]
    return best, cut


def _splits(side: np.ndarray, seg: np.ndarray, nseg: int) -> np.ndarray:
    """Per segment: does ``side`` put rows on both sides of the cut?"""
    n_after = np.bincount(seg, weights=side, minlength=nseg)
    return (n_after > 0) & (n_after < np.bincount(seg, minlength=nseg))


def _cut_level(seg, nseg, y, x):
    """One XY-cut depth for every open segment at once. ``y``/``x`` are
    (lo rank, hi rank, distinct values) per open row → (side per row,
    False = top/left; split flag per segment). Cut at the WIDEST
    whitespace gap in either direction (ties → horizontal, i.e.
    top-to-bottom wins): a two-column body has a wide vertical
    inter-column gap that must beat narrow horizontal inter-paragraph
    gaps, else columns interleave. A cut with an empty side falls
    through to the other axis, then to the terminal order."""
    yw, ycut = _widest_gaps(seg, nseg, *y)
    xw, xcut = _widest_gaps(seg, nseg, *x)
    bottom = y[2][y[0]] >= ycut[seg]  # y0 of the row at or below the cut
    right = x[2][x[0]] >= xcut[seg]
    horiz = (yw >= xw) & (yw > 0) & _splits(bottom, seg, nseg)
    vert = ~horiz & (xw > 0) & _splits(right, seg, nseg)
    return np.where(horiz[seg], bottom, right), horiz | vert


def reading_order(blocks: pd.DataFrame) -> pd.DataFrame:
    """Block frame (span_idx, page, x0, y0, x1, y1, text) → same frame
    with an ``rank`` column: 0-based reading order within span
    (pages in ascending order; XY-cut within page).

    Rows are sorted once by (span, page, y0, x0, idx). A page whose
    blocks are vertically disjoint (the common single-column case) keeps
    that order: with disjoint y-intervals every horizontal cut preserves
    y-order and the terminal order is the same (y0, x0, idx) lexsort.
    (An inverted box, y1 < y0, can make a cut disagree with that order;
    such a page still keeps it, as it always has.)
    The other pages are cut level by level (``_cut_level``). Each row
    carries a key, its page group's number shifted left by MAX_DEPTH,
    and a cut at depth d sets bit MAX_DEPTH-1-d on the bottom/right
    side, so one stable sort by key yields every page's segments in
    top/left-first order with the terminal (y0, x0, idx) order inside
    each. A segment of one row, one that no cut splits, or one at depth
    MAX_DEPTH is terminal."""
    if blocks.empty:
        out = blocks.copy()
        out["rank"] = pd.Series([], dtype="int64")
        return out
    df = blocks.reset_index(drop=True)
    x0 = df["x0"].to_numpy(float)
    y0 = df["y0"].to_numpy(float)
    x1 = df["x1"].to_numpy(float)
    y1 = df["y1"].to_numpy(float)
    span = df["span_idx"].to_numpy()
    page = df["page"].to_numpy()
    n = len(df)

    order0 = np.lexsort((np.arange(n), x0, y0, page, span))
    s_span, s_page = span[order0], page[order0]
    first = np.r_[True, (s_span[1:] != s_span[:-1]) | (s_page[1:] != s_page[:-1])]
    grp = np.cumsum(first) - 1
    ylo, yhi, yvals = _dense_ranks(y0[order0], y1[order0])
    xlo, xhi, xvals = _dense_ranks(x0[order0], x1[order0])

    # fast path: groups whose y-intervals are disjoint in (y0, x0) order
    y_max = yvals[_segmented_cummax(grp, yhi, len(yvals) + 1)]
    overlap = ~first[1:] & ~(y0[order0][1:] >= y_max[:-1])
    cut_grp = np.zeros(grp[-1] + 1, dtype=bool)
    cut_grp[grp[1:][overlap]] = True

    key = grp.astype(np.int64) << MAX_DEPTH
    rows = np.flatnonzero(cut_grp[grp])  # open rows, sorted by (key, row)
    for depth in range(MAX_DEPTH):
        if not len(rows):
            break
        k = key[rows]
        seg = np.cumsum(np.r_[True, k[1:] != k[:-1]]) - 1
        side, split = _cut_level(
            seg, seg[-1] + 1,
            (ylo[rows], yhi[rows], yvals), (xlo[rows], xhi[rows], xvals),
        )
        keep = split[seg]
        rows = rows[keep]
        key[rows] += side[keep].astype(np.int64) << (MAX_DEPTH - 1 - depth)
        rows = rows[np.argsort(key[rows], kind="stable")]
    out_positions = order0[np.argsort(key, kind="stable")]

    # per-span 0-based rank over the global (span, page, in-page) order
    ospan = span[out_positions]
    starts = np.flatnonzero(np.r_[True, ospan[1:] != ospan[:-1]])
    counts = np.diff(np.r_[starts, n])
    within = np.arange(n) - np.repeat(starts, counts)
    out = df.take(out_positions)
    out["rank"] = within
    return out


def extract_pdf_text(blocks: pd.DataFrame) -> pd.Series:
    """Block frame → Series indexed by span_idx: block texts joined by
    '\\n' in reading order (hyphenation '-\\n' joints survive for the
    German de-hyphenation pass, SURVEY B7); a missing block text joins
    as ''."""
    if blocks.empty:
        return pd.Series([], dtype=object)
    ordered = reading_order(blocks)
    starts = np.flatnonzero(ordered["rank"].to_numpy() == 0)
    text = join_runs(ordered["text"], starts, "\n")
    span = pd.Index(ordered["span_idx"].to_numpy()[starts], name="span_idx")
    return pd.Series(text.to_numpy(zero_copy_only=False), index=span, name="text")
