"""The grouped-kernel scaffold (udafs/kernel.py): its sort and segmentation
checked against pandas ``groupby(dropna=False)`` without Spark, plus a guard
that keeps it the only grouped applyInPandas in udafs/."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from byconity_spark.udafs.kernel import _bucket_kernel, rows_per_key, sort_segments

_UDAFS = Path(__file__).resolve().parent.parent / "byconity_spark" / "udafs"

rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.one_of(st.none(), st.sampled_from(["a", "b", "ab", ""])),
        st.integers(min_value=0, max_value=3),  # order column: many ties
    ),
    max_size=40,
)


def _bucket(rows: list[tuple]) -> pd.DataFrame:
    """A bucket as Arrow hands it to pandas: an int key with NULLs arrives
    as float64/NaN, a string key as object/None; ``pos`` is arrival order."""
    return pd.DataFrame(
        {
            "k_int": pd.Series([np.nan if r[0] is None else r[0] for r in rows],
                               dtype=np.float64),
            "k_str": pd.Series([r[1] for r in rows], dtype=object),
            "pos": pd.Series(range(len(rows)), dtype=np.int64),
            "o": pd.Series([r[2] for r in rows], dtype=np.int64),
        }
    )


def _canon(key) -> tuple:
    return tuple(None if pd.isna(k) else k for k in key)


def _expected(pdf: pd.DataFrame, keys: list[str], ordered: bool) -> dict:
    """key -> arrival positions, from pandas groupby(dropna=False)."""
    if pdf.empty:
        return {}
    if not keys:
        groups = [((), pdf)]
    else:
        groups = pdf.groupby(keys, dropna=False, sort=False)
    out = {}
    for key, g in groups:
        if ordered:
            g = g.sort_values("o", kind="stable")
        out[_canon(key if isinstance(key, tuple) else (key,))] = list(g["pos"])
    return out


@settings(max_examples=300, deadline=None)
@given(
    rows=rows_strategy,
    keys=st.sampled_from([[], ["k_int"], ["k_str"], ["k_int", "k_str"]]),
    ordered=st.booleans(),
)
def test_sort_segments_matches_pandas_groupby(rows, keys, ordered):
    pdf = _bucket(rows)
    frame = pdf[keys + ["pos", "o"]]
    sorted_, bounds = sort_segments(frame, len(keys), ["o"] if ordered else [])
    assert bounds[0] == 0 and bounds[-1] == len(frame)
    assert np.all(np.diff(bounds) > 0)
    pos = sorted_["pos"].to_numpy()
    got = {}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        key = _canon(sorted_.iloc[lo][keys]) if keys else ()
        assert key not in got  # each key is ONE contiguous segment
        got[key] = list(pos[lo:hi])
    assert got == _expected(pdf, keys, ordered)


@settings(max_examples=200, deadline=None)
@given(
    rows=rows_strategy,
    keys=st.sampled_from([[], ["k_int"], ["k_int", "k_str"]]),
    ordered=st.booleans(),
)
def test_bucket_kernel_attaches_keys_to_rows(rows, keys, ordered):
    """End to end over one bucket (columns as Spark passes them: keys,
    values, order, __b): every key gets its own rows back, keyed right."""
    pdf = _bucket(rows)
    n = len(keys)
    frame = pdf[keys + ["pos", "o"]].assign(__b=0)
    fn = _bucket_kernel(
        n, 1, [n + 1] if ordered else [], 2,
        rows_per_key(lambda p: [(len(p), list(p))]),
    )
    out = fn(frame)
    assert list(out.columns) == list(range(n + 2))
    got = {_canon(r[:n]): r[n + 1] for r in out.itertuples(index=False)}
    assert len(got) == len(out)
    assert got == _expected(pdf, keys, ordered)
    assert all(r[n] == len(r[n + 1]) for r in out.itertuples(index=False))


def test_bucket_kernel_rows_per_key_may_be_empty():
    frame = pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0], "__b": [0, 0, 0]})
    fn = _bucket_kernel(1, 1, [], 2, rows_per_key(lambda v: []))
    out = fn(frame)
    assert out.shape == (0, 3)


def test_only_the_scaffold_runs_grouped_kernels():
    """udafs/ has ONE grouped applyInPandas and one bucket layout — in
    kernel.py.  Any other module calling applyInPandas or _kernel_layout is
    a parallel copy of the scaffold."""
    offenders = []
    for path in sorted(_UDAFS.glob("*.py")):
        if path.name == "kernel.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            if name in ("applyInPandas", "_kernel_layout"):
                offenders.append(f"{path.name}:{node.lineno} {name}")
            if isinstance(node, ast.ImportFrom) and any(
                a.name == "_kernel_layout" for a in node.names
            ):
                offenders.append(f"{path.name}:{node.lineno} import _kernel_layout")
    assert offenders == []
