"""The grouped-kernel scaffold: the one ``groupBy(...).applyInPandas`` behind
every Python aggregate in ``udafs/`` (behavioral, attribution, bitmap and
sketch kernels).

A caller names the key columns, the value columns, an optional sort order
within each key and the per-key math; this module owns everything else:

* **Layout.** Keys hash (``hash`` over all key columns) into B buckets; an
  explicit ``repartition(P, __b)`` pins the kernel stage to P tasks and
  satisfies ``groupBy(__b)``, so the plan is ONE ``Exchange
  hashpartitioning(__b, P)`` feeding ``FlatMapGroupsInPandas``.  B and P
  follow the input size (``_kernel_layout``).  Without keys the whole frame
  is one group: one bucket, one task.
* **Segments.** Inside a bucket one stable sort by (keys, order) makes every
  key a contiguous row range; keys compare like Spark's ``groupBy`` (a NULL
  key is one group).  Rows keep their arrival order within a key unless the
  caller passes an order.
* **Output.** Each key's key values are attached to its output rows, so
  kernels return only their own columns.

``per_key`` hands a kernel one key's numpy arrays at a time; ``per_bucket``
hands it a whole bucket plus the key bounds, for kernels that stay
vectorised across keys (``session_split``).
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byconity_spark.engine.session import _default_parallelism

_BUCKET_TARGET_BYTES = 8 << 20  # ~8 MB of plan-estimated input per kernel bucket
_BUCKETS_PER_TASK = 4  # >=4 distinct bucket values per partition (guide §2.5)
_MIN_KERNEL_TASKS = _default_parallelism()  # floor for tiny inputs: one task per core
_UNKNOWN_SIZE_SENTINEL = 1 << 50  # >=1 PiB estimate == "optimizer has no idea"


def _kernel_layout(df: DataFrame) -> tuple[int, int]:
    """(bucket count, partition count) for the hash-bucketed applyInPandas
    scaffold, both scale-adaptive.

    Partition count P: AQE's byte-based partition coalescing collapses
    these tiny (<few MB at bench scale) kernel shuffles to ONE task, so a
    CPU-heavy Python kernel runs every bucket serially (measured: the
    xirr kernel's 1.5 s of per-bucket CPU showed up 1:1 in wall time; an
    explicit repartition cut the query 2.9 -> 0.9 s warm).  Bytes are the
    wrong coalescing currency for Python kernels — 2 MB of cashflows is
    1.5 s of root-finding.  An explicit ``repartition(P, __b)`` pins the
    stage's parallelism: AQE never changes a user-specified partition
    count, and ``groupBy(__b)`` reuses the partitioning (no second
    exchange).  P = max(cores, estimated-input / 32 MB), capped at 2**18
    tasks: size-proportional, with a floor of one task per core of the
    local session so a CPU-heavy kernel over a small input still spreads
    over every core, but in ONE wave of tasks.  Tasks past the core count
    are not free: on a 4-vCPU VM (sf0.1, warm, median of 4) a trivial
    grouped pandas stage took 0.51 / 0.77 / 1.46 s at P = 4 / 8 / 16, and
    the per-user kernels ran faster at P=4 than at the former fixed floor
    of 8 (window_funnel 0.52 vs 0.96 s, xirr 1.25 vs 1.64 s,
    attribution 0.80 vs 1.27 s); past ~32 MB of input per core the size
    term takes over regardless of the floor.

    Bucket count B = 4·P distinct values, so the bucket hash spreads over
    the P partitions without collision gaps (guide §2.5: use several
    distinct key values per partition), each bucket targeting ~8 MB of
    input so per-task kernel state stays bounded at any scale.
    """
    try:
        par = int(df.sparkSession.sparkContext.defaultParallelism)
    except Exception:
        par = 32
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = -1
    if size < 0 or size >= _UNKNOWN_SIZE_SENTINEL:
        # the optimizer reports ~Long.MaxValue when it cannot estimate a
        # subtree (spark.sql.defaultSizeInBytes) — never turn that into a
        # partition count, fall back to one task per core
        return _BUCKETS_PER_TASK * par, par
    ptasks = int(
        max(
            _MIN_KERNEL_TASKS,
            min(1 << 18, size // (_BUCKETS_PER_TASK * _BUCKET_TARGET_BYTES)),
        )
    )
    return _BUCKETS_PER_TASK * ptasks, ptasks


def sort_segments(
    pdf: pd.DataFrame, n_keys: int, order: Sequence = ()
) -> tuple[pd.DataFrame, np.ndarray]:
    """Stable-sort ``pdf`` by its first ``n_keys`` columns, then by the
    ``order`` column labels, and return it with the key bounds: key i owns
    rows ``bounds[i]:bounds[i + 1]``.  NULL keys compare equal (one group,
    as in Spark's ``groupBy``); with no keys the frame is one group."""
    keys = list(pdf.columns[:n_keys])
    if keys or order:
        pdf = pdf.sort_values([*keys, *order], kind="stable")
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for k in keys:
        v = pdf[k].to_numpy()
        na = pd.isna(v)
        change[1:] |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    return pdf, np.append(np.flatnonzero(change), n)


def _bucket_kernel(
    n_keys: int, n_values: int, order: Sequence[int], n_out: int, run: Callable
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The pandas function applied to one bucket: columns arrive as
    (keys, values, order, __b); ``run(bounds, *arrays)`` returns
    ``(owner, columns)`` — the key index of every output row and the
    kernel's ``n_out`` output columns (may be empty when it emits no
    rows)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf.columns = range(pdf.shape[1])
        pdf, bounds = sort_segments(pdf, n_keys, order)
        arrays = [pdf[c].to_numpy() for c in range(n_keys, n_keys + n_values)]
        owner, columns = run(bounds, *arrays)
        rows = bounds[:-1][np.asarray(owner, dtype=np.int64)]
        out = {k: pdf[k].to_numpy()[rows] for k in range(n_keys)}
        for j, c in enumerate(columns or [[]] * n_out):
            out[n_keys + j] = c
        # integer labels: Spark matches the output schema by position
        return pd.DataFrame(out)

    return kernel


def per_bucket(
    df: DataFrame,
    keys: Sequence[str | Column],
    values: Sequence[str | Column],
    fn: Callable,
    schema: str,
    order: Sequence[str | Column] = (),
) -> DataFrame:
    """Run ``fn(bounds, *arrays)`` once per hash bucket of keys.

    ``arrays`` are the bucket's value columns sorted by (keys, order); key i
    owns rows ``bounds[i]:bounds[i + 1]``.  ``fn`` returns ``(owner,
    columns)``: the key index of each output row and one sequence per
    column of ``schema``.  The result is the key columns (names and types
    as selected from ``df``) followed by ``schema``."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (*keys, *values, *order)]
    n_keys, n_values = len(keys), len(values)
    if n_keys:
        n_buckets, n_parts = _kernel_layout(df)
        bucket = F.pmod(F.hash(*cols[:n_keys]), F.lit(n_buckets))
    else:
        n_parts, bucket = 1, F.lit(0)
    # ONE projection with positional names: repeated or unnamed inputs never
    # clash, and every Dataset step costs the builder an analysis pass
    framed = df.select(
        *[c.alias(f"__c{i}") for i, c in enumerate(cols)], bucket.alias("__b")
    )
    names = [k if isinstance(k, str) else None for k in keys]
    if None in names:
        names = df.select(*keys).columns
    key_fields = [
        T.StructField(name, f.dataType, f.nullable)
        for name, f in zip(names, framed.schema.fields)
    ]
    value_fields = T.DataType.fromDDL(schema).fields
    order_pos = list(range(n_keys + n_values, len(cols)))
    return (
        framed.repartition(n_parts, "__b")
        .groupBy("__b")
        .applyInPandas(
            _bucket_kernel(n_keys, n_values, order_pos, len(value_fields), fn),
            schema=T.StructType(key_fields + value_fields),
        )
    )


def rows_per_key(fn: Callable) -> Callable:
    """Adapt a per-key ``fn(*arrays) -> rows`` to ``per_bucket``'s
    ``(bounds, *arrays) -> (owner, columns)`` contract."""

    def run(bounds: np.ndarray, *arrays: np.ndarray) -> tuple[list, list]:
        owner: list = []
        rows: list = []
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            out = fn(*(a[lo:hi] for a in arrays))
            owner.extend([i] * len(out))
            rows.extend(out)
        return owner, [list(c) for c in zip(*rows)]

    return run


def per_key(
    df: DataFrame,
    keys: Sequence[str | Column],
    values: Sequence[str | Column],
    fn: Callable,
    schema: str,
    order: Sequence[str | Column] = (),
) -> DataFrame:
    """Run ``fn(*arrays)`` once per distinct key: ``arrays`` are that key's
    value columns as numpy arrays, sorted by ``order`` (arrival order when
    empty).  ``fn`` returns the key's output rows, each a tuple matching
    ``schema``; the key columns are prepended to every row."""
    return per_bucket(df, keys, values, rows_per_key(fn), schema, order)
