"""Re-mergeable cardinality sketches: HyperLogLog -State/-Merge as binary
columns.

ByConity's `uniq` family keeps a serialized sketch as an aggregate STATE that
partial inserts and merges both understand (reference:
src/AggregateFunctions/AggregateFunctionUniq.h — HLL + linear counting,
src/DataTypes/DataTypeSketchBinary.h for the binary state type,
registerAggregateFunctions.cpp for the -State/-Merge combinator pair).  This
module mirrors `udafs/bitmaps.py`'s pattern with an approximate sketch:

- `uniq_state(df, group_cols, value_col)` -> one 2^p-byte HLL register array
  per group (BinaryType), built from JVM-side xxhash64 hashes;
- `uniq_merge(df, group_cols)` -> register-wise max of partial states
  (associative + commutative + idempotent, so any re-grouping works);
- `uniq_estimate(col)` -> the classic bias-corrected HLL estimate with
  linear counting for the small range (Flajolet et al. 2007 constants).

Scale shape: states are fixed 16 KiB blobs; a rollup re-aggregation shuffles
#groups × 16 KiB regardless of the raw cardinality — the
AggregatingMergeTree pattern.  Every grouped sketch here runs on the
grouped-kernel scaffold (``udafs/kernel.py``); all register math is
vectorized numpy over Arrow batches, and the value hashing stays in
whole-stage codegen (xxhash64).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byconity_spark.udafs.kernel import per_key

HLL_P = 14  # 2^14 registers = 16 KiB per state, ~0.81% standard error
HLL_M = 1 << HLL_P
# bias-correction constant alpha_m for m >= 128 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _rho(w: np.ndarray, width: int) -> np.ndarray:
    """Position of the first 1-bit from the MSB of `w` within `width` bits
    (1-based); width+1 when w == 0.  Exact integer bit-math (no float log —
    float64 rounding misplaces the exponent near powers of two)."""
    w = w.astype(np.uint64, copy=False)
    pos = np.zeros(w.shape, dtype=np.int64)  # highest-set-bit index accum
    v = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        gt = v >= np.uint64(1 << s)
        pos += gt * s
        v = np.where(gt, v >> np.uint64(s), v)
    bit_length = pos + (w > 0)
    return width - bit_length + 1


def _registers_from_hashes(h: np.ndarray) -> np.ndarray:
    """Dense uint8 register array from int64 xxhash64 values."""
    u = h.astype(np.int64).view(np.uint64)
    idx = (u >> np.uint64(64 - HLL_P)).astype(np.int64)
    w = u & np.uint64((1 << (64 - HLL_P)) - 1)
    rho = _rho(w, 64 - HLL_P).astype(np.uint8)
    regs = np.zeros(HLL_M, dtype=np.uint8)
    np.maximum.at(regs, idx, rho)
    return regs


def _estimate(regs: np.ndarray) -> int:
    m = float(HLL_M)
    est = HLL_ALPHA * m * m / float(np.sum(np.ldexp(1.0, -regs.astype(np.int64))))
    zeros = int(np.count_nonzero(regs == 0))
    if est <= 2.5 * m and zeros > 0:  # small-range: linear counting
        est = m * np.log(m / zeros)
    return int(round(est))


def _hash_cols(value_col: str) -> list[Column]:
    # JVM-side 64-bit hashing — only the hashes cross into Arrow batches.
    # xxhash64(NULL) returns the SEED (42), which would count NULL as one
    # extra distinct; ClickHouse uniq skips NULLs, so a validity column
    # travels alongside (a NULL hash would turn the whole batch's int64
    # hashes into lossy float64 on the pandas side).
    c = F.col(value_col)
    return [F.xxhash64(c), c.isNotNull()]


def _sketch(
    df: DataFrame, group_cols: list[str], value_col: str, fold, schema: str
) -> DataFrame:
    """Run ``fold(hashes) -> state`` over each group's non-NULL value hashes."""
    return per_key(
        df, group_cols, _hash_cols(value_col),
        lambda h, ok: [(fold(h[ok]),)], schema,
    )


def uniq_state(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """uniqState: one serialized HLL per group over value_col."""
    return _sketch(
        df, group_cols, value_col,
        lambda h: _registers_from_hashes(h).tobytes(), "uniq_state binary",
    )


def uniq_merge(
    df: DataFrame, group_cols: list[str], state_col: str = "uniq_state"
) -> DataFrame:
    """uniqMerge: register-wise max of partial HLL states per group."""

    def merge(states: np.ndarray) -> list:
        stacked = np.stack([np.frombuffer(b, dtype=np.uint8) for b in states])
        return [(np.max(stacked, axis=0).tobytes(),)]

    return per_key(df, group_cols, [state_col], merge, f"{state_col} binary")


@F.pandas_udf(T.LongType())
def uniq_estimate(states: pd.Series) -> pd.Series:
    """uniqMergeFinal: HLL estimate from a serialized state."""
    return states.map(
        lambda b: _estimate(np.frombuffer(b, dtype=np.uint8)) if b is not None else 0
    ).astype("int64")


# ------------------------------------------------------------------ theta
# KMV (k-minimum-values) theta sketch: keep the k smallest distinct hash
# values; estimate = (k-1) / normalized k-th minimum.  Reference:
# AggregateFunctionThetaSketchEstimate.h / DataTypeSketchBinary.h (the
# reference wraps DataSketches theta; KMV is the same estimator family —
# re-mergeable by union-then-truncate, documented ~1/sqrt(k) error).

THETA_K = 1024
_U64_SPAN = float(1 << 64)


def _theta_from_hashes(h: np.ndarray, k: int = THETA_K) -> bytes:
    u = np.unique(h.astype(np.int64).view(np.uint64))
    return np.sort(u)[:k].tobytes()


def _theta_merge_arrays(states: list[np.ndarray], k: int = THETA_K) -> bytes:
    u = np.unique(np.concatenate(states))
    return np.sort(u)[:k].tobytes()


def _theta_estimate(state: np.ndarray, k: int = THETA_K) -> int:
    n = len(state)
    if n < k:
        return int(n)
    kth = float(state[k - 1]) / _U64_SPAN
    return int(round((k - 1) / kth))


def theta_state(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """thetaSketchState: per group, the KMV sketch of distinct value hashes."""
    return _sketch(
        df, group_cols, value_col, _theta_from_hashes, "theta_state binary"
    )


def theta_merge(
    df: DataFrame, group_cols: list[str], state_col: str = "theta_state"
) -> DataFrame:
    """thetaSketchMerge: union-then-truncate of KMV states per group."""

    def merge(states: np.ndarray) -> list:
        arrays = [np.frombuffer(b, dtype=np.uint64) for b in states]
        return [(_theta_merge_arrays(arrays),)]

    return per_key(df, group_cols, [state_col], merge, f"{state_col} binary")


@F.pandas_udf(T.LongType())
def theta_estimate(states: pd.Series) -> pd.Series:
    """thetaSketchEstimate: distinct-count estimate from a KMV state."""
    return states.map(
        lambda b: _theta_estimate(np.frombuffer(b, dtype=np.uint64))
        if b is not None
        else 0
    ).astype("int64")


def adaptive_histogram_core(
    values: np.ndarray, weights: np.ndarray, max_bins: int
) -> list[tuple[float, float]]:
    """histogram(n) core (reference AggregateFunctionHistogram.h
    compress()): maintain weighted mean points; while over n bins, merge
    the CLOSEST adjacent pair into its weighted mean.  Deterministic here
    because input is pre-sorted and ties merge leftmost — the streaming
    insertion order the reference depends on is pinned."""
    order = np.argsort(values, kind="stable")
    means = values[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    # collapse exact duplicates first
    uniq, inv = np.unique(means, return_inverse=True)
    wu = np.zeros(len(uniq))
    np.add.at(wu, inv, w)
    means, w = list(uniq), list(wu)
    while len(means) > max_bins:
        gaps = [means[i + 1] - means[i] for i in range(len(means) - 1)]
        i = int(np.argmin(gaps))  # leftmost minimal gap
        tw = w[i] + w[i + 1]
        means[i] = means[i] + w[i + 1] * (means[i + 1] - means[i]) / tw
        w[i] = tw
        del means[i + 1], w[i + 1]
    return list(zip(means, w))


def adaptive_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    max_bins: int = 10,
) -> DataFrame:
    """histogram(max_bins)(x) (reference AggregateFunctionHistogram.h):
    adaptive weighted-mean bins per group.  Kernel runs per group over a
    pre-aggregated (value, count) frame — the shuffle moves DISTINCT
    values with counts, not raw rows, so the Arrow batch is bounded by the
    value cardinality per group."""
    counted = (
        df.groupBy(*group_cols, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__w"))
    )

    def bins_of(v: np.ndarray, w: np.ndarray) -> list:
        bins = adaptive_histogram_core(
            np.asarray(v, dtype=np.float64), np.asarray(w, dtype=np.float64),
            max_bins,
        )
        return [(
            "|".join(f"{m:.6f}" for m, _ in bins),
            "|".join(f"{x:.1f}" for _, x in bins),
            len(bins),
        )]

    return per_key(
        counted, group_cols, ["__v", "__w"], bins_of,
        "bin_means string, bin_weights string, n_bins long",
    )


# ----------------------------------------------------- uniqCombined tiers
# uniqCombined(HLL_precision)(x) / uniqCombined64 (reference
# src/AggregateFunctions/AggregateFunctionUniqCombined.cpp:100-126 —
# precision K in [12, 20], default 17; the 64 variant hashes with UInt64).
# Our hashes are already 64-bit xxhash64, so this surface is the
# uniqCombined64 semantics at parameterized register counts; the reference
# additionally switches through array/hash-set modes below ~2^K items,
# which only changes the error curve near zero — linear counting covers
# the same regime here.


def _registers_p(h: np.ndarray, p: int) -> np.ndarray:
    m = 1 << p
    u = h.astype(np.int64).view(np.uint64)
    idx = (u >> np.uint64(64 - p)).astype(np.int64)
    w = u & np.uint64((1 << (64 - p)) - 1)
    rho = _rho(w, 64 - p).astype(np.uint8)
    regs = np.zeros(m, dtype=np.uint8)
    np.maximum.at(regs, idx, rho)
    return regs


def _estimate_p(regs: np.ndarray, p: int) -> int:
    m = float(1 << p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / float(np.sum(np.ldexp(1.0, -regs.astype(np.int64))))
    zeros = int(np.count_nonzero(regs == 0))
    if est <= 2.5 * m and zeros > 0:
        est = m * np.log(m / zeros)
    return int(round(est))


def uniq_combined(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    precision: int = 17,
    out_col: str = "uniq_combined",
) -> DataFrame:
    """uniqCombined64(precision)(value) per group — one fused
    state-build + estimate pass (use uniq_state/uniq_merge when the state
    itself must be stored/rolled up).  Standard error ~1.04/sqrt(2^K)."""
    if not 12 <= precision <= 20:
        raise ValueError("uniqCombined precision must be in [12, 20]")
    return _sketch(
        df, group_cols, value_col,
        lambda h: _estimate_p(_registers_p(h, precision), precision),
        f"{out_col} long",
    )


# ---------------------------------------------------- theta set algebra
# uniqThetaUnion / uniqThetaIntersect / uniqThetaNot (reference
# src/AggregateFunctions + src/Functions uniqTheta set operations over
# DataSketches states).  KMV set algebra needs an EXPLICIT theta once an
# intersection/difference shrinks the retained set, so these produce a
# prefixed state: 8-byte little-endian float64 theta, then the sorted
# uint64 retained hashes.  `theta_set_estimate` reads both formats (bare
# KMV arrays from theta_state/theta_merge have implicit theta).

_THETA_PREFIX_MAGIC = b"\x00THETA\x00\x01"


def _theta_parse(state: bytes) -> tuple[float, np.ndarray]:
    if state[:8] == _THETA_PREFIX_MAGIC:
        th = float(np.frombuffer(state[8:16], dtype=np.float64)[0])
        vals = np.frombuffer(state[16:], dtype=np.uint64)
        return th, vals
    vals = np.frombuffer(state, dtype=np.uint64)
    th = 1.0 if len(vals) < THETA_K else float(vals[THETA_K - 1]) / _U64_SPAN
    return th, vals


def _theta_pack(theta: float, vals: np.ndarray) -> bytes:
    return (_THETA_PREFIX_MAGIC
            + np.float64(theta).tobytes()
            + np.sort(vals.astype(np.uint64)).tobytes())


def _theta_binop(a: bytes, b: bytes, op: str) -> bytes:
    th_a, va = _theta_parse(a)
    th_b, vb = _theta_parse(b)
    th = min(th_a, th_b)
    if th < 1.0:
        # retained set = hashes strictly below theta (estimate = |set|/theta,
        # the (k-1)/theta KMV estimator when theta is the k-th minimum)
        cutoff = th * _U64_SPAN
        va = va[va.astype(np.float64) < cutoff]
        vb = vb[vb.astype(np.float64) < cutoff]
    if op == "union":
        vals = np.union1d(va, vb)
        if len(vals) > THETA_K:
            vals = np.sort(vals)[:THETA_K]
            th = float(vals[-1]) / _U64_SPAN
    elif op == "intersect":
        vals = np.intersect1d(va, vb)
    else:  # a_not_b
        vals = np.setdiff1d(va, vb)
    return _theta_pack(th, vals)


def theta_union_col(a: Column, b: Column) -> Column:
    @F.pandas_udf("binary")
    def k(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series([_theta_binop(x, y, "union") for x, y in zip(sa, sb)])
    return k(a, b)


def theta_intersect_col(a: Column, b: Column) -> Column:
    @F.pandas_udf("binary")
    def k(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series([_theta_binop(x, y, "intersect") for x, y in zip(sa, sb)])
    return k(a, b)


def theta_not_col(a: Column, b: Column) -> Column:
    @F.pandas_udf("binary")
    def k(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series([_theta_binop(x, y, "a_not_b") for x, y in zip(sa, sb)])
    return k(a, b)


def theta_set_estimate(states: Column) -> Column:
    """Distinct-count estimate for either state format: |retained| / theta
    (exact count when theta == 1.0, i.e. nothing was discarded)."""
    @F.pandas_udf("long")
    def k(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            th, vals = _theta_parse(bytes(b))
            out.append(int(round(len(vals) / th)) if th > 0 else 0)
        return pd.Series(out)
    return k(states)
