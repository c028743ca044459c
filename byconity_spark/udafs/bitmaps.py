"""Bitmap aggregate family — ByConity's audience-analytics workhorse.

Reference: BitMap64 type (src/DataTypes/DataTypeBitMap64.h:25,
src/Columns/ColumnBitMap64.h), aggregates
src/AggregateFunctions/AggregateFunctionGroupBitmap.h, scalar algebra
src/Functions/FunctionsBitmap.cpp (bitmapAnd/Or/Xor/Cardinality/Contains/
ToArray/SubsetInRange).

Encoding: a bitmap is a BinaryType column holding a ROARING container
layout (the same design as the reference's CRoaring dependency, rebuilt
here in numpy): values are bucketed by their high 48 bits; each bucket
stores the low 16 bits either as a sorted uint16 ARRAY container
(cardinality <= 4096, 2 B/value) or as a 65536-bit BITSET container
(8 KiB flat, <= 2 B/value beyond 4096).  Dense id ranges therefore cost
~1 bit/value instead of 8 B/value — the shuffle/storage win that makes
bitmap audiences viable at 100 TB.  Set algebra decodes to int64 arrays
and uses numpy merge ops (vectorized; a python-level containerwise walk
would be slower than one frombuffer + np.union1d).

Scale: bitmap state is bounded by the per-group member count; build is one
shuffle on the group keys (the grouped-kernel scaffold, ``udafs/kernel.py``,
runs every grouped bitmap aggregate here) with partial pre-aggregation
impossible for raw ids — so for 100 TB builds, pre-bucket ids (e.g. by id range) and OR the
bucket bitmaps, exactly the reference's BitMap64 sharding guidance
(SURVEY §7 hard parts)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byconity_spark.udafs.kernel import per_key


# Roaring layout (BitMap64 analogue, DataTypeBitMap64.h:25):
#   u8 magic 0xB4, u32 n_containers, then per container:
#   i64 key (value >> 16), u8 type (0=array, 1=bitset), u32 cardinality,
#   payload (sorted <u2 array | 8 KiB little-endian bitset).
_MAGIC = 0xB4
_MAGIC_PLAIN = 0xB5  # raw sorted <i8 array — wins when high-48-bit keys rarely repeat
_ARRAY_MAX = 4096
_BITSET_BYTES = 65536 // 8


def _encode(a: np.ndarray) -> bytes:
    a = np.asarray(a, dtype="<i8")
    if a.size == 0:
        return b""
    roaring = _encode_roaring(a)
    if len(roaring) <= 1 + 8 * a.size:
        return roaring
    return np.uint8(_MAGIC_PLAIN).tobytes() + a.tobytes()


def _encode_roaring(a: np.ndarray) -> bytes:
    keys = a >> 16
    lows = (a & 0xFFFF).astype("<u2")
    bounds = np.flatnonzero(np.diff(keys)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [a.size]))
    parts = [np.uint8(_MAGIC).tobytes(), np.uint32(len(starts)).tobytes()]
    for s, e in zip(starts, ends):
        low = lows[s:e]
        if low.size <= _ARRAY_MAX:
            typ, payload = 0, low.tobytes()
        else:
            bits = np.zeros(65536, dtype=np.uint8)
            bits[low] = 1
            typ, payload = 1, np.packbits(bits, bitorder="little").tobytes()
        parts += [
            np.int64(keys[s]).tobytes(),
            np.uint8(typ).tobytes(),
            np.uint32(low.size).tobytes(),
            payload,
        ]
    return b"".join(parts)


def _decode(b: bytes | None) -> np.ndarray:
    if b is None or len(b) == 0:
        return np.empty(0, dtype="<i8")
    buf = memoryview(b)
    if buf[0] == _MAGIC_PLAIN:
        return np.frombuffer(buf, "<i8", (len(b) - 1) // 8, 1)
    assert buf[0] == _MAGIC, "not a roaring bitmap payload"
    n = int(np.frombuffer(buf, "<u4", 1, 1)[0])
    off, out = 5, []
    for _ in range(n):
        key = int(np.frombuffer(buf, "<i8", 1, off)[0])
        typ = buf[off + 8]
        card = int(np.frombuffer(buf, "<u4", 1, off + 9)[0])
        off += 13
        if typ == 0:
            low = np.frombuffer(buf, "<u2", card, off).astype("<i8")
            off += 2 * card
        else:
            bits = np.unpackbits(
                np.frombuffer(buf, np.uint8, _BITSET_BYTES, off), bitorder="little"
            )
            low = np.flatnonzero(bits).astype("<i8")
            off += _BITSET_BYTES
        out.append((key << 16) | low)
    return np.concatenate(out) if out else np.empty(0, dtype="<i8")


def group_bitmap(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """groupBitmapState: per group, the bitmap of distinct values
    (reference AggregateFunctionGroupBitmap.h)."""

    def build(v: np.ndarray) -> list:
        return [(_encode(np.unique(v[~pd.isna(v)].astype(np.int64))),)]

    return per_key(df, group_cols, [value_col], build, "bm binary")


def _binary_op(op: str):
    @F.pandas_udf(T.BinaryType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            xa, ya = _decode(x), _decode(y)
            if op == "and":
                r = np.intersect1d(xa, ya)
            elif op == "or":
                r = np.union1d(xa, ya)
            elif op == "xor":
                r = np.setxor1d(xa, ya)
            else:  # andnot
                r = np.setdiff1d(xa, ya)
            out.append(_encode(r))
        return pd.Series(out)

    return f


bitmap_and: Column = _binary_op("and")
bitmap_or: Column = _binary_op("or")
bitmap_xor: Column = _binary_op("xor")
bitmap_andnot: Column = _binary_op("andnot")


@F.pandas_udf(T.LongType())
def bitmap_cardinality(a: pd.Series) -> pd.Series:
    return a.map(lambda b: len(_decode(b)))


@F.pandas_udf(T.LongType())
def bitmap_and_cardinality(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [len(np.intersect1d(_decode(x), _decode(y))) for x, y in zip(a, b)]
    )


@F.pandas_udf(T.LongType())
def bitmap_or_cardinality(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([len(np.union1d(_decode(x), _decode(y))) for x, y in zip(a, b)])


def bitmap_contains(bm: Column, value: int) -> Column:
    @F.pandas_udf(T.BooleanType())
    def f(a: pd.Series) -> pd.Series:
        return a.map(lambda b: bool(np.isin(value, _decode(b))))

    return f(bm)


@F.pandas_udf(T.ArrayType(T.LongType()))
def bitmap_to_array(a: pd.Series) -> pd.Series:
    return a.map(lambda b: _decode(b).tolist())


def bitmap_subset_in_range(bm: Column, lo: int, hi: int) -> Column:
    """bitmapSubsetInRange: members in [lo, hi)."""

    @F.pandas_udf(T.BinaryType())
    def f(a: pd.Series) -> pd.Series:
        def g(b):
            v = _decode(b)
            return _encode(v[(v >= lo) & (v < hi)])

        return a.map(g)

    return f(bm)


def group_bitmap_merge(
    df: DataFrame, group_cols: list[str], state_col: str = "bm"
) -> DataFrame:
    """-Merge combinator for bitmap states (groupBitmapMergeState,
    reference registerAggregateFunctions.cpp -State/-Merge pair): OR-merge
    partial bitmaps into one per group.  This is the AggregatingMergeTree
    pattern — build cheap per-(key, shard) states once, re-aggregate any
    coarser grouping from states instead of raw rows.  The merge shuffles
    only the compressed states (roaring bytes), never the member ids."""

    def merge(states: np.ndarray) -> list:
        return [(_encode(np.unique(np.concatenate([_decode(b) for b in states]))),)]

    return per_key(df, group_cols, [state_col], merge, f"{state_col} binary")


# ---------------------------------------------------------------------------
# Bitmap expression calculation (reference
# AggregateFunctionBitmapExpressionCalculation.h BitmapCount/BitmapExtract,
# expression analyzer over tag keys): evaluate a boolean tag algebra like
# "tag1&(tag2|tag3)~tag4" over a (tag, bitmap-state) frame.
# ---------------------------------------------------------------------------

class BitmapExprError(ValueError):
    pass


def _parse_bitmap_expr(expr: str) -> list:
    """'a&(b|c)~d' -> postfix token list.  ~ is ANDNOT, ',' a union alias
    (ByConity usage).  The reference analyzer
    (AggregateBitmapExpressionCommon.h subExpression) reduces EVERY operator
    left-to-right with EQUAL precedence — 'a|b&c' is (a|b)&c, not
    a|(b&c) — so all four operators share one precedence level here."""
    import re

    tokens = re.findall(r"\w+|[&|~(),]", expr)
    if "".join(tokens) != expr.replace(" ", ""):
        raise BitmapExprError(f"unparseable bitmap expression: {expr!r}")
    prec = {"~": 1, "&": 1, "|": 1, ",": 1}
    out: list = []
    ops: list[str] = []
    for t in tokens:
        if t == "(":
            ops.append(t)
        elif t == ")":
            while ops and ops[-1] != "(":
                out.append(ops.pop())
            if not ops:
                raise BitmapExprError("unbalanced parens")
            ops.pop()
        elif t in prec:
            while ops and ops[-1] != "(" and prec[ops[-1]] >= prec[t]:
                out.append(ops.pop())
            ops.append(t)
        else:
            out.append(("tag", t))
    while ops:
        op = ops.pop()
        if op == "(":
            raise BitmapExprError("unbalanced parens")
        out.append(op)
    n_tags = sum(1 for t in out if isinstance(t, tuple))
    n_ops = len(out) - n_tags
    if n_tags != n_ops + 1:
        raise BitmapExprError(f"malformed bitmap expression: {expr!r}")
    return out


def bitmap_expression(
    states: DataFrame,
    expr: str,
    tag_col: str = "tag",
    bm_col: str = "bm",
) -> DataFrame:
    """BitmapCount/BitmapExtract: evaluate a tag algebra over per-tag bitmap
    states; returns one row (bm binary, cardinality long) for the combined
    audience.

    Scale shape: only the referenced tags' states are collected into one
    task (a handful of compressed blobs — the reference's merge() does the
    same single-point combine, BitmapExpressionCalculation.h:272-291); the
    BUILD of the states stays fully distributed via group_bitmap."""
    postfix = _parse_bitmap_expr(expr)
    tags = sorted({t[1] for t in postfix if isinstance(t, tuple)})
    needed = states.filter(F.col(tag_col).isin(tags))

    def evaluate(tag_vals: np.ndarray, bms: np.ndarray) -> list:
        by_tag: dict[str, np.ndarray] = {}
        for t, b in zip(tag_vals, bms):
            arr = _decode(b)
            by_tag[t] = (
                np.union1d(by_tag[t], arr) if t in by_tag else arr
            )
        stack: list[np.ndarray] = []
        empty = np.empty(0, dtype="<i8")
        for tok in postfix:
            if isinstance(tok, tuple):
                stack.append(by_tag.get(tok[1], empty))
            else:
                b2 = stack.pop()
                a2 = stack.pop()
                if tok == "&":
                    stack.append(np.intersect1d(a2, b2))
                elif tok in ("|", ","):
                    stack.append(np.union1d(a2, b2))
                else:  # ~ ANDNOT
                    stack.append(np.setdiff1d(a2, b2))
        if len(stack) != 1:
            raise BitmapExprError("malformed bitmap expression")
        res = stack[0]
        return [(_encode(res), len(res))]

    return per_key(
        needed, [], [tag_col, bm_col], evaluate, "bm binary, cardinality long"
    )


def bitmap_max_level(
    states: DataFrame,
    level_col: str = "level",
    bm_col: str = "bm",
) -> DataFrame:
    """bitmapMaxLevel (reference AggregateFunctionBitmapMaxLevel.h:108-151):
    given per-level bitmap states, keep every member only at the HIGHEST
    level it occurs in (top-down ANDNOT sweep), then emit (level,
    cardinality) ascending.

    The sweep runs in one task over #levels compressed blobs (levels are
    bounded); the state build stays distributed via group_bitmap."""

    def sweep(level_vals: np.ndarray, bms: np.ndarray) -> list:
        by_level: dict[int, np.ndarray] = {}
        for lv, b in zip(level_vals, bms):
            arr = _decode(b)
            lv = int(lv)
            by_level[lv] = np.union1d(by_level[lv], arr) if lv in by_level else arr
        seen = np.empty(0, dtype="<i8")
        for lv in sorted(by_level, reverse=True):  # highest level wins its members
            uniq = np.setdiff1d(by_level[lv], seen)
            by_level[lv] = uniq
            seen = np.union1d(seen, uniq)
        return [(lv, len(by_level[lv])) for lv in sorted(by_level)]

    return per_key(
        states, [], [level_col, bm_col], sweep, "level long, cardinality long"
    )


_BITMAP_JOIN_OPS = {"AND", "OR", "XOR", "ANDNOT", "RANDNOT", "REVERSEANDNOT", "NONE"}


def bitmap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    logic_op: str = "AND",
    how: str = "inner",
    bm_col: str = "bm",
) -> DataFrame:
    """bitmapJoin / bitmapJoinAndCard (reference
    AggregateFunctionBitMapJoin.h:52-118, BitMapJoinAndCard.h): join two
    per-key bitmap-state frames on their join keys, combine the paired
    bitmaps with a logic operation (AND / OR / XOR / ANDNOT / RANDNOT),
    emit (keys..., bm, cardinality).

    The reference executes this INSIDE one aggregate via a sharded
    driver-local hash map (KVSharded) — single node by construction.  Here
    the join is a plain Spark equi-join (broadcast or shuffle, AQE's call)
    over compressed states, so it scales with the cluster; only the
    per-pair combine kernel is Python (Arrow-batched numpy set ops).
    LEFT join treats a missing right side as the empty bitmap."""
    op = logic_op.upper()
    if op not in _BITMAP_JOIN_OPS:
        raise ValueError(f"bitmapJoin: unknown logic op {logic_op!r}")
    if how not in ("inner", "left"):
        raise ValueError("bitmapJoin supports INNER and LEFT joins")

    l = left.select(*on, F.col(bm_col).alias("__bl"))
    r = right.select(*on, F.col(bm_col).alias("__br"))
    joined = l.join(r, on=on, how=how)

    key_schema = ", ".join(
        f"{c} {left.schema[c].dataType.simpleString()}" for c in on
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs, cards = [], []
            for bl, br in zip(pdf["__bl"], pdf["__br"]):
                a = _decode(bl)
                b = _decode(br) if br is not None else np.empty(0, dtype="<i8")
                if op == "AND":
                    res = np.intersect1d(a, b)
                elif op in ("OR", "NONE"):
                    res = np.union1d(a, b)
                elif op == "XOR":
                    res = np.setxor1d(a, b)
                elif op == "ANDNOT":
                    res = np.setdiff1d(a, b)
                else:  # RANDNOT / REVERSEANDNOT
                    res = np.setdiff1d(b, a)
                outs.append(_encode(res))
                cards.append(len(res))
            out = pdf[on].copy()
            out["bm"] = outs
            out["cardinality"] = cards
            yield out

    return joined.mapInPandas(
        kernel, schema=f"{key_schema}, bm binary, cardinality long"
    )


def bitmap_column_diff(
    states: DataFrame,
    key_col: str,
    bm_col: str = "bm",
    step: int = 1,
    direction: str = "forward",
) -> DataFrame:
    """bitmapColumnDiff (reference AggregateFunctionBitmapColumnDiff.h
    insertResultInto): sort the per-key bitmaps by key, emit for each key
    the ANDNOT against the key `step` positions away — FORWARD compares
    ascending (bm_i - bm_{i+step}: members lost by the later key), BACKWARD
    descending; keys without a partner emit the empty bitmap.  Output rows
    (key, cardinality) — result_type 0 (count) in the reference.

    Shape: the states frame is #keys rows (bounded — days/weeks), so the
    rank window and self-join are metadata-scale; only compressed blobs
    move.  The BUILD of the states stays distributed (group_bitmap)."""
    if direction not in ("forward", "backward"):
        raise ValueError("bitmapColumnDiff: direction is forward|backward")
    asc = direction == "forward"
    w = Window.orderBy(F.col(key_col).asc() if asc else F.col(key_col).desc())
    ranked = states.select(key_col, bm_col).withColumn(
        "__r", F.row_number().over(w)
    )
    other = ranked.select(
        (F.col("__r") - step).alias("__r"), F.col(bm_col).alias("__bm_other")
    )
    joined = ranked.join(other, "__r", "left")

    key_t = states.schema[key_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cards = []
            for bl, br in zip(pdf[bm_col], pdf["__bm_other"]):
                a = _decode(bl)
                if br is None:
                    cards.append(0)  # reference: empty bitmap for tail keys
                else:
                    cards.append(len(np.setdiff1d(a, _decode(br))))
            out = pdf[[key_col]].copy()
            out["cardinality"] = cards
            yield out

    return joined.mapInPandas(
        kernel, schema=f"{key_col} {key_t}, cardinality long"
    )


# ----------------------------------------- round-4 bitmap scalar breadth
# (FunctionsBitmap.cpp registrations not yet covered above)
@F.pandas_udf(T.LongType())
def bitmap_min(a: pd.Series) -> pd.Series:
    """bitmapMin: smallest member; 0 on an empty bitmap (reference
    FunctionBitmapMin semantics)."""
    return a.map(lambda b: int(v[0]) if len(v := _decode(b)) else 0)


@F.pandas_udf(T.LongType())
def bitmap_max(a: pd.Series) -> pd.Series:
    """bitmapMax: largest member; 0 on empty."""
    return a.map(lambda b: int(v[-1]) if len(v := _decode(b)) else 0)


@F.pandas_udf(T.BooleanType())
def bitmap_has_all(a: pd.Series, b: pd.Series) -> pd.Series:
    """bitmapHasAll(a, b): b is a subset of a."""
    return pd.Series(
        [bool(np.isin(_decode(y), _decode(x)).all()) for x, y in zip(a, b)]
    )


@F.pandas_udf(T.BooleanType())
def bitmap_has_any(a: pd.Series, b: pd.Series) -> pd.Series:
    """bitmapHasAny(a, b): the intersection is non-empty."""
    return pd.Series(
        [bool(np.isin(_decode(y), _decode(x)).any()) for x, y in zip(a, b)]
    )


@F.pandas_udf(T.LongType())
def bitmap_xor_cardinality(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [len(np.setxor1d(_decode(x), _decode(y))) for x, y in zip(a, b)]
    )


@F.pandas_udf(T.LongType())
def bitmap_andnot_cardinality(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [len(np.setdiff1d(_decode(x), _decode(y))) for x, y in zip(a, b)]
    )


def bitmap_transform(bm: Column, from_vals: list, to_vals: list) -> Column:
    """bitmapTransform(bm, from, to): replace each from[i] member with
    to[i] (FunctionBitmapTransform)."""
    if len(from_vals) != len(to_vals):
        raise ValueError("bitmapTransform needs equal-length mapping arrays")
    mapping = dict(zip(map(int, from_vals), map(int, to_vals)))

    @F.pandas_udf(T.BinaryType())
    def f(a: pd.Series) -> pd.Series:
        def g(b):
            v = _decode(b)
            out = np.unique(
                np.array([mapping.get(int(x), int(x)) for x in v], dtype=np.int64)
            )
            return _encode(out)

        return a.map(g)

    return f(bm)


def bitmap_subset_limit(bm: Column, start: int, limit: int) -> Column:
    """bitmapSubsetLimit(bm, start, limit): at most `limit` members with
    value >= start (reference FunctionBitmapSubsetLimit)."""

    @F.pandas_udf(T.BinaryType())
    def f(a: pd.Series) -> pd.Series:
        def g(b):
            v = _decode(b)
            return _encode(v[v >= start][:limit])

        return a.map(g)

    return f(bm)


def sub_bitmap(bm: Column, offset: int, limit: int) -> Column:
    """subBitmap(bm, offset, limit): `limit` members starting at 1-based
    member OFFSET (positional, not value-based —
    FunctionSubBitmapStartsFromOne)."""

    @F.pandas_udf(T.BinaryType())
    def f(a: pd.Series) -> pd.Series:
        def g(b):
            v = _decode(b)
            return _encode(v[max(offset - 1, 0) : max(offset - 1, 0) + limit])

        return a.map(g)

    return f(bm)


def empty_bitmap() -> Column:
    """emptyBitmap()."""
    blob = _encode(np.array([], dtype=np.int64))
    return F.lit(bytearray(blob)).cast("binary")


# ---------------------------------------------------------------------------
# BitMapColumn* logical folds (reference
# AggregateFunctionBitmapLogic.h/.cpp: bitMapColumnOr/And/Xor fold a
# BitMap64 COLUMN with the op; bitMapColumnCardinality = cardinality of the
# OR-fold; bitMapColumnHas = whether ANY bitmap in the group contains the
# key).  Same grouped-kernel shape as group_bitmap_merge — only the
# compressed states shuffle.
# ---------------------------------------------------------------------------

def bitmap_column_fold(
    df: DataFrame, group_cols: list[str], state_col: str, op: str,
) -> DataFrame:
    """BitMapColumnAnd/Or/Xor(state_col) per group → one folded state.
    ``op`` ∈ {"and", "or", "xor"}."""
    reducers = {
        "or": lambda arrs: np.unique(np.concatenate(arrs)),
        "and": lambda arrs: __import__("functools").reduce(np.intersect1d, arrs),
        "xor": lambda arrs: __import__("functools").reduce(np.setxor1d, arrs),
    }
    reduce_fn = reducers[op]

    def fold(states: np.ndarray) -> list:
        return [(_encode(np.asarray(reduce_fn([_decode(b) for b in states]))),)]

    return per_key(df, group_cols, [state_col], fold, f"{state_col} binary")


def bitmap_column_cardinality(
    df: DataFrame, group_cols: list[str], state_col: str = "bm",
    out_col: str = "cardinality",
) -> DataFrame:
    """BitMapColumnCardinality: cardinality of the OR-fold per group."""
    folded = bitmap_column_fold(df, group_cols, state_col, "or")
    return folded.select(
        *group_cols, bitmap_cardinality(F.col(state_col)).alias(out_col)
    )


def bitmap_column_has(
    df: DataFrame, group_cols: list[str], state_col: str, key,
    out_col: str = "has",
) -> DataFrame:
    """BitMapColumnHas(bitmap, key): 1 if ANY bitmap in the group contains
    the key — short-circuit OR over per-row contains."""
    per_row = df.select(
        *group_cols, bitmap_contains(F.col(state_col), key).alias("__c")
    )
    return per_row.groupBy(*group_cols).agg(
        F.max(F.col("__c").cast("int")).alias(out_col)
    )


def bitmap_logic_names() -> dict[str, str]:
    """Exact reference names covered by the folds above plus the existing
    kernels, for the parity inventory."""
    return {
        "BitMapColumnOr": "bitmap_column_fold(op='or')",
        "BitMapColumnAnd": "bitmap_column_fold(op='and')",
        "BitMapColumnXor": "bitmap_column_fold(op='xor')",
        "BitMapColumnCardinality": "bitmap_column_cardinality",
        "BitMapColumnHas": "bitmap_column_has",
        "BitMapFromColumn": "group_bitmap",
        "BitmapCount": "bitmap_expression(count=True)",
        "BitmapExtract": "bitmap_expression(count=False)",
        "BitMapJoin": "bitmap_join",
        "BitMapJoinAndCard": "bitmap_join(cardinality_only=True)",
        "BitMapMaxLevel": "bitmap_max_level",
        "BitmapColumnDiff": "bitmap_column_diff",
        "groupBitmap": "group_bitmap + bitmap_cardinality",
        "BitmapCountV2": "bitmap_expression (v2 = container encoding rev)",
        "BitmapExtractV2": "bitmap_expression",
        "BitmapMultiCountV2": "bitmap_expression (multi exprs)",
        "BitmapMultiExtractV2": "bitmap_expression (multi exprs)",
        "BitmapMultiCountWithDate": "bitmap_expression_with_date",
        "BitmapMultiCountWithDateV2": "bitmap_expression_with_date",
        "BitmapMultiExtractWithDate": "bitmap_expression_with_date",
        "BitmapMultiExtractWithDateV2": "bitmap_expression_with_date",
        "bitmapBuild": "bitmap_build",
        "arrayToBitmap": "bitmap_build",
        "groupBitmapAnd": "bitmap_column_fold(op='and') + cardinality",
        "groupBitmapOr": "bitmap_column_fold(op='or') + cardinality",
        "groupBitmapXor": "bitmap_column_fold(op='xor') + cardinality",
    }


def bitmap_build(arr_col: Column) -> Column:
    """bitmapBuild / arrayToBitmap (FunctionsBitmap.h): array<long> ->
    serialized bitmap state (same container encoding as group_bitmap, so
    the scalar algebra above composes with it)."""
    @F.pandas_udf("binary")
    def k(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None
            else _encode(np.unique(np.asarray(list(v), dtype="<i8")))
        )

    return k(arr_col)


def bitmap_expression_with_date(
    states: DataFrame,
    expr: str,
    date_col: str = "p_date",
    tag_col: str = "tag",
    bm_col: str = "bm",
) -> DataFrame:
    """BitmapMultiCountWithDate/-ExtractWithDate (+V2)
    (AggregateBitmapExpressionCommon.h:990 BitMapExpressionWithDateMultiAnalyzer):
    expression tokens are '{date}_{tag}' composites — the analyzer keys
    each bitmap by date+tag before running the same algebra.  Subset note:
    the reference's bare-tag tokens (keys_without_date + global_index
    resolution) are not supported — qualify every token with its date."""
    keyed = states.select(
        F.concat_ws("_", F.col(date_col).cast("string"),
                    F.col(tag_col).cast("string")).alias(tag_col),
        F.col(bm_col),
    )
    return bitmap_expression(keyed, expr, tag_col=tag_col, bm_col=bm_col)
