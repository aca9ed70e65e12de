"""Join runs of strings in one Arrow pass (shared by the PDF and HTML
kernels): the list-of-strings view over run offsets is built without
copying and ``binary_join`` concatenates every run in C++, so no Python
runs per run. ``large_string``/``LargeList`` keep 64-bit offsets, so a
batch carrying more than 2 GiB of text cannot overflow."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def join_runs(values, starts: np.ndarray, sep: str) -> pa.Array:
    """Strings ``values`` (sequence or Arrow array; nulls join as '')
    split into consecutive runs beginning at the ascending positions
    ``starts`` (the last run ends at ``len(values)``; equal starts make
    an empty run, which joins to '') → one ``large_string`` per run,
    its strings joined by ``sep``."""
    arr = pc.fill_null(pa.array(values, type=pa.large_string()), "")
    offsets = pa.array(np.append(starts, len(arr)), type=pa.int64())
    lists = pa.LargeListArray.from_arrays(offsets, arr)
    return pc.binary_join(lists, pa.scalar(sep, pa.large_string()))
