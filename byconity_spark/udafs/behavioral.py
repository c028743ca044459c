"""Behavioral-analytics aggregates (ByteDance-specific ByConity value).

Reference kernels (C++):
  * windowFunnel  — src/AggregateFunctions/AggregateFunctionWindowFunnel.cpp
  * retention     — src/AggregateFunctions/AggregateFunctionRetention.cpp
  * sequenceMatch — src/AggregateFunctions/AggregateFunctionSequenceMatch.cpp
  * sessionSplit  — src/AggregateFunctions/AggregateFunctionSessionSplit.cpp

Spark-first design: the Python kernels run on the grouped-kernel scaffold
(``udafs/kernel.py``): Arrow-batched group transforms over HASH BUCKETS of
users, with bucket and partition counts adaptive to input size — not one
group per user, so per-group scheduling overhead amortizes across many
users per call.  Each kernel here keeps only its per-user math over numpy
arrays.  ``retention`` needs no kernel at all (it is a conjunction of
boolean aggregates, expressed as JVM-side ``max(when(...))``).

Semantics notes:
  * ``window_funnel`` implements the deterministic FIRST-ANCHOR variant:
    the chain starts at the user's earliest step-1 event; each later step is
    the earliest strictly-later event of that type within ``window`` of the
    anchor.  ClickHouse's DEFAULT mode (anchor slides to later step-1
    events) is available as ``window_funnel_modes(..., sliding=True)`` —
    ``funnel_level_sliding_core`` replicates the reference walk, with ties
    resolved by the documented (ts, event_id) sort.
  * ``sequence_match`` supports the '(?1).*(?2).*...(?k)' pattern family
    (ordered subsequence); greedy earliest-match is exact for subsequence
    existence.
  * ``session_split`` splits on silence gaps > ``gap_us``, emitting one row
    per session with start/end/count/sum.

Scale: one shuffle on user_id; group state is O(events-per-user).  Hot users
are bounded by product reality (a user produces thousands, not billions, of
events); for truly pathological keys pre-split by (user_id, day) first.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from byconity_spark.udafs.kernel import per_bucket, per_key

_MICRO = 1_000_000


def _user_key(user_col: str) -> Column:
    """The per-user kernels' key: declared ``long`` whatever the input width."""
    return F.col(user_col).cast("long").alias(user_col)


def _micros(ts_col: str) -> Column:
    return F.unix_micros(F.col(ts_col))


def funnel_level_from_arrays(per_step: list[np.ndarray], window_us: int) -> int:
    """Pure first-anchor funnel core (property-tested without Spark):
    per_step[i] = sorted event times of step i; returns reached level."""
    if len(per_step[0]) == 0:
        return 0
    anchor = per_step[0][0]
    deadline = anchor + window_us
    prev = anchor
    level = 1
    for arr in per_step[1:]:
        i = np.searchsorted(arr, prev, side="right")  # strictly later
        if i < len(arr) and arr[i] <= deadline:
            prev = arr[i]
            level += 1
        else:
            break
    return level


def funnel_level_modes_core(
    types: np.ndarray,
    ts: np.ndarray,
    steps: list,
    window_us: int,
    strict_order: bool = False,
    strict_dedup: bool = False,
    strict_increase: bool = False,
) -> int:
    """First-anchor funnel walk with the ClickHouse strictness flags
    (reference AggregateFunctionWindowFunnel.h:140-215).  Input events are
    sorted by (ts, event_id); events at or before the anchor timestamp are
    skipped (tie policy, documented).

    Deterministic variant pinned here (first-anchor; CH slides the anchor):
      * strict_order  — after the anchor, every event must be EXACTLY the
        expected next step; any other event (untracked, repeated, or
        out-of-order) stops the search at the current level.
      * strict_dedup  — a repeat of an already-matched step stops the
        search; other non-expected events are ignored.
      * strict_increase — advancing requires a strictly greater timestamp
        than the previous matched step (default allows equal timestamps).
    """
    step_rank = {s: i for i, s in enumerate(steps)}
    k = len(steps)
    level = 0
    anchor = prev = deadline = 0
    for t, tp in zip(ts, types):
        if level == 0:
            if tp == steps[0]:
                level = 1
                anchor = prev = t
                deadline = anchor + window_us
            continue
        if level == k:
            break
        if t <= anchor:
            continue
        r = step_rank.get(tp, -1)
        if r == level:  # the expected next step
            if t <= deadline and (t > prev if strict_increase else True):
                level += 1
                prev = t
        elif 0 <= r < level:  # repeat of an already-matched step
            if strict_dedup or strict_order:
                break
        elif r > level:  # future step out of order
            if strict_order:
                break
        else:  # untracked event type
            if strict_order:
                break
    return level


def funnel_level_sliding_core(
    types: np.ndarray,
    ts: np.ndarray,
    steps: list,
    window_us: int,
    strict_order: bool = False,
    strict_dedup: bool = False,
    strict_increase: bool = False,
) -> int:
    """ClickHouse's DEFAULT windowFunnel walk (sliding anchor) — replica of
    AggregateFunctionWindowFunnel.h getEventLevel(): every step-1 event
    RE-ANCHORS the chain (events_timestamp[0] is overwritten), and each
    level stores (chain_anchor_ts, last_matched_ts); a step-k event extends
    whichever chain state level k-1 currently holds iff it falls within
    window of THAT chain's anchor.  Final level = deepest level with state.

    Differences from the first-anchor variant above: a late signup can
    rescue a funnel the first signup's window already missed.  Tie policy:
    callers sort by (ts, event_id); CH sorts by bare ts with insertion
    order on ties (nondeterministic cross-engine), documented deviation.

    Flag replicas (same branch ORDER as the reference):
      * strict_order — an untracked event type breaks the scan once any
        step-1 event has been seen (and is skipped before);
      * strict_dedup — an event matching a step whose state is already set
        returns the PREVIOUS tracked event's step number (CH returns
        events_list[i-1].second);
      * strict_increase — extending requires ts strictly greater than the
        chain's last matched ts.
    """
    step_rank = {s: i for i, s in enumerate(steps)}
    k = len(steps)
    et: list = [None] * k  # (chain_anchor_ts, last_matched_ts) per level
    first_event = False
    prev_rank = 0  # 1-based step of the previous TRACKED event
    for t, tp in zip(ts, types):
        r = step_rank.get(tp, -1)
        if strict_order and r == -1:
            if first_event:
                break
            continue
        if r == -1:
            continue
        if r == 0:
            et[0] = (t, t)
            first_event = True
        elif strict_dedup and et[r] is not None:
            return prev_rank
        elif et[r - 1] is not None:
            anchor, last = et[r - 1]
            ok = t <= anchor + window_us
            if ok and strict_increase:
                ok = last < t
            if ok:
                et[r] = (anchor, t)
                if r + 1 == k:
                    return k
        prev_rank = r + 1
    for lev in range(k, 0, -1):
        if et[lev - 1] is not None:
            return lev
    return 0


def window_funnel_modes(
    events: DataFrame,
    window_us: int,
    steps: Sequence[str],
    strict_order: bool = False,
    strict_dedup: bool = False,
    strict_increase: bool = False,
    sliding: bool = False,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """windowFunnel with CH strictness flags — per-user (user_id,
    funnel_level) via a sequential walk over the (ts, event_id)-sorted
    stream.  Unlike the vectorized base ``window_funnel`` (per-step
    searchsorted), strict modes depend on EVERY intervening event, so the
    kernel scans the stream; work is O(events-per-user).

    ``sliding=True`` selects the ClickHouse-default sliding-anchor walk
    (``funnel_level_sliding_core``); the default pins the deterministic
    first-anchor variant this engine has always shipped."""
    steps = list(steps)
    core = funnel_level_sliding_core if sliding else funnel_level_modes_core

    def level(ts: np.ndarray, tp: np.ndarray) -> list:
        return [(core(tp, ts, steps, window_us, strict_order=strict_order,
                      strict_dedup=strict_dedup, strict_increase=strict_increase),)]

    return per_key(
        events, [_user_key(user_col)], [_micros(ts_col), type_col], level,
        "funnel_level int", order=[ts_col, id_col],
    )


def subsequence_matched(per_cond: list[np.ndarray]) -> bool:
    """Pure ordered-subsequence core: per_cond[i] = sorted event times
    satisfying condition i; TRUE iff a strictly increasing chain exists.
    Greedy earliest-match is exact for existence."""
    prev = -np.inf
    for arr in per_cond:
        i = np.searchsorted(arr, prev, side="right")
        if i >= len(arr):
            return False
        prev = arr[i]
    return True


def subsequence_matched_gaps(
    per_cond: list[np.ndarray], max_gaps: list[int]
) -> bool:
    """Existence of a strictly increasing chain with per-step gap bounds
    (ClickHouse ``(?1)(?t<=g1)(?2)...``): step i+1 must satisfy
    t_i < t_{i+1} <= t_i + max_gaps[i].

    Greedy earliest-match is NOT exact here (an earlier step-i time can
    make a later gap infeasible while a later one succeeds), so we carry
    the FULL frontier of feasible step times: feas_{i+1} = all times of
    cond i+1 that fall in (t, t+g] for some feasible t.  Vectorized via
    searchsorted interval checks; frontier size is bounded by the per-user
    event count."""
    assert len(max_gaps) == len(per_cond) - 1
    feas = per_cond[0]
    for nxt, g in zip(per_cond[1:], max_gaps):
        if len(feas) == 0 or len(nxt) == 0:
            return False
        # candidate time c is feasible iff some t in feas has c-g <= t < c
        lo = np.searchsorted(feas, nxt - g, side="left")
        hi = np.searchsorted(feas, nxt, side="left")
        feas = nxt[hi > lo]
    return len(feas) > 0


def window_funnel(
    events: DataFrame,
    window_us: int,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel depth: (user_id, funnel_level) with level in [0, len(steps)].

    Level k means steps[0..k-1] occurred in strictly increasing time order,
    all within ``window_us`` of the first step-1 event.
    """
    steps = list(steps)

    def level(ts: np.ndarray, tp: np.ndarray) -> list:
        per_step = [np.sort(ts[tp == s]) for s in steps]
        return [(funnel_level_from_arrays(per_step, window_us),)]

    return per_key(
        events, [_user_key(user_col)], [_micros(ts_col), type_col], level,
        "funnel_level int",
    )


def retention(
    events: DataFrame,
    conds: Sequence[Column],
    user_col: str = "user_id",
) -> DataFrame:
    """ClickHouse ``retention(cond1, ..., condN)``: per user, r1 = cond1 ever
    held; r_i = cond1 AND cond_i (i>1).  Pure JVM-side boolean aggregation —
    no kernel, no shuffle beyond the single groupBy."""
    flags = [
        F.max(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(f"__c{i}")
        for i, c in enumerate(conds)
    ]
    agg = events.groupBy(user_col).agg(*flags)
    out = [F.col("__c0").alias("r1")] + [
        (F.col("__c0") * F.col(f"__c{i}")).alias(f"r{i + 1}")
        for i in range(1, len(conds))
    ]
    return agg.select(user_col, *out)


def sequence_match(
    events: DataFrame,
    conds: Sequence[Column],
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_gaps_us: Sequence[int] | None = None,
) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2)...')(ts, cond1, ..., condk)``:
    per user, TRUE iff events satisfying cond1..condk occur as a strictly
    time-ordered subsequence.  With ``max_gaps_us`` (length k-1) the
    pattern carries per-step time bounds — CH ``(?t<=N)`` — solved with
    the feasible-frontier core (greedy is not exact under gap bounds)."""

    def matched(ts: np.ndarray, *masks: np.ndarray) -> list:
        # a NULL condition is not a match (object None -> False)
        per_cond = [ts[m.astype(bool)] for m in masks]
        if max_gaps_us is None:
            return [(bool(subsequence_matched(per_cond)),)]
        return [(bool(subsequence_matched_gaps(per_cond, list(max_gaps_us))),)]

    return per_key(
        events, [_user_key(user_col)],
        [_micros(ts_col), *[c.cast("boolean") for c in conds]], matched,
        "matched boolean", order=[ts_col],
    )


def sequence_count_core(types: np.ndarray, pattern: list) -> int:
    """Greedy non-overlapping ordered-chain counter over a time-sorted
    event-type array.  Greedy earliest-advance is optimal for the maximum
    number of disjoint chains (property-tested vs exhaustive DP)."""
    stage = 0
    count = 0
    k = len(pattern)
    for t in types:
        if t == pattern[stage]:
            stage += 1
            if stage == k:
                count += 1
                stage = 0
    return count


def sequence_count(
    events: DataFrame,
    pattern: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1).*(?2)...')``: per user, how many
    NON-OVERLAPPING ordered chains of the pattern occur."""
    pattern = list(pattern)

    def count(tp: np.ndarray) -> list:
        return [(sequence_count_core(tp, pattern),)]

    return per_key(
        events, [_user_key(user_col)], [type_col], count, "n_matches long",
        order=[ts_col, id_col],
    )


def auc(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Rank-sum AUC (reference: AggregateFunctionAuc / FastAuc family):
    AUC = (sum of positive ranks - P(P+1)/2) / (P*N), ranks by ascending
    score with a deterministic tiebreak (documented variant: ties broken by
    id, not averaged — both engines use the identical ordering).

    Distributed exact rank, no global single-partition sort: range-partition
    by (score, tiebreak) so partition i holds keys strictly below partition
    i+1, sort within partitions (local, no shuffle), and read the
    in-partition row index off monotonically_increasing_id (pid<<33 | row).
    The global rank of a row is its local index plus the total row count of
    the partitions before it, so sum-of-positive-ranks decomposes into one
    per-partition partial aggregate plus an offset correction computed on a
    #partitions-sized frame.  Every full-data pass stays parallel; only the
    per-partition partials (one row each) meet a single task."""
    projected = events.select(
        score_col.alias("score"),
        label_col.cast("int").alias("label"),
        F.col(tiebreak_col).alias("__tb"),
    )
    ranged = projected.repartitionByRange(
        F.col("score").asc(), F.col("__tb").asc()
    ).sortWithinPartitions("score", "__tb")
    local = ranged.select(
        "label",
        F.spark_partition_id().alias("__pid"),
        # monotonically_increasing_id = pid * 2^33 + in-partition row index;
        # mask off the pid to get the 0-based local index
        F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)).alias("__idx"),
    )
    per_part = local.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("p"),
        F.sum(F.when(F.col("label") == 1, F.col("__idx") + 1).otherwise(0)).alias(
            "local_rank_sum"
        ),
    )
    # exclusive prefix-sum of partition sizes: ≤ shuffle-partition-count rows,
    # trivially single-task at any data scale
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    with_off = per_part.withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)))
    return with_off.agg(
        (
            (
                F.sum(F.col("local_rank_sum") + F.col("off") * F.col("p")).cast("double")
                - F.sum("p").cast("double") * (F.sum("p") + 1) / 2.0
            )
            / (F.sum("p").cast("double") * (F.sum("n") - F.sum("p")).cast("double"))
        ).alias("auc")
    )


def sequence_next_node(
    events: DataFrame,
    base_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """sequenceNextNode-style: distribution of the event type that
    immediately FOLLOWS ``base_type`` per user stream (lead over the
    user-time order, then a count per next type)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    nxt = events.select(
        F.col(type_col), F.lead(type_col).over(w).alias("next_type")
    )
    return (
        nxt.filter((F.col(type_col) == base_type) & F.col("next_type").isNotNull())
        .groupBy("next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def interval_length_sum(
    events: DataFrame,
    length_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """intervalLengthSum (reference AggregateFunctionIntervalLengthSum):
    per user, the total length of the UNION of [ts, ts+length) intervals —
    overlaps merged via the islands pattern (running max of interval end),
    all window/aggregate ops, no kernel."""
    start = F.unix_micros(F.col(ts_col))
    with_end = events.select(
        user_col, F.col(id_col), start.alias("s"), (start + length_us).alias("e")
    )
    w = Window.partitionBy(user_col).orderBy(F.col("s").asc(), F.col(id_col).asc())
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = with_end.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy(user_col, "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per_island.groupBy(user_col).agg(F.sum("len").alias("total_us"))


def session_split(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Split each user's event stream into sessions at silence gaps >
    ``gap_us``; one output row per session (vectorized diff+cumsum kernel)."""

    def sessions(bounds: np.ndarray, ts, us, value) -> tuple:
        n = len(us)
        new_user = np.zeros(n, dtype=bool)
        new_user[bounds[:-1]] = True
        # sessions are CONTIGUOUS runs in (user, ts) order — one reduceat
        # pass over the whole bucket instead of a 95k-group pandas
        # groupby-agg (4.8s -> <1s)
        start_flag = new_user.copy()
        start_flag[1:] |= np.diff(us) > gap_us
        starts = np.flatnonzero(start_flag)
        counts = np.diff(np.append(starts, n))
        idx = np.arange(len(starts))
        user_first = new_user[starts]
        base = np.maximum.accumulate(np.where(user_first, idx, -1))
        return np.cumsum(user_first) - 1, [
            (idx - base + 1).astype("int32"),
            ts[starts],
            ts[starts + counts - 1],
            counts.astype(np.int64),
            np.add.reduceat(np.asarray(value, dtype=np.float64), starts),
        ]

    return per_bucket(
        events, [_user_key(user_col)], [ts_col, _micros(ts_col), value_col],
        sessions,
        "session_id int, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double",
        order=[ts_col, id_col],
    )


def path_split(
    events: DataFrame,
    gap_us: int,
    max_session_events: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """pathSplit (reference AggregateFunctionPathSplit.h): split each
    user's stream into sessions at silence gaps > ``gap_us`` and emit the
    ordered event-type path per session (optionally truncated to the first
    ``max_session_events`` types).

    Pure JVM plan — sessionize with a lag/cumsum window, then an ordered
    array aggregate (sort_array over (ts, id)-keyed structs); no Python
    kernel, so the whole path stays in whole-stage codegen."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    brk = F.when(
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w)) > gap_us,
        1,
    ).otherwise(0)
    sess = events.withColumn(
        "session_id",
        (F.lit(1) + F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))).cast(
            "int"
        ),
    )
    ordered_path = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col(ts_col)).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("e"),
                )
            )
        ),
        lambda s: s["e"],
    )
    if max_session_events is not None:
        ordered_path = F.slice(ordered_path, 1, max_session_events)
    return sess.groupBy(user_col, "session_id").agg(
        ordered_path.alias("path"), F.count(F.lit(1)).alias("n_events")
    )


def attribution_multi_touch(
    events: DataFrame,
    touch_types: Sequence[str],
    conv_type: str,
    model: str = "linear",
    window_us: int = 30 * 86_400_000_000,
    halflife_us: int = 7 * 86_400_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Multi-touch attribution (reference AggregateFunctionAttribution.h:
    windowed touch chains credited to a target event).  Each conversion
    distributes its value over the user's touches in the lookback window:

      * ``linear``     — equal 1/n per touch
      * ``position``   — U-shaped 40/20/40 (n=1 -> 1.0, n=2 -> .5/.5,
                          else first/last 0.4 and middles share 0.2)
      * ``time_decay`` — weight 2^(-(t_conv - t_touch)/halflife), normalized

    Conversions with no touch in the window credit the 'direct' channel.
    Returns (channel, attributed_value, n_conversions) where n_conversions
    is the fractional credit sum.

    Scale: one equi-join on user_id with a range predicate (bounded by the
    lookback window) plus per-conversion windows — shuffles on user_id and
    conversion id only; no cross join."""
    convs = events.filter(F.col(type_col) == conv_type).select(
        F.col(id_col).alias("conv_id"),
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("conv_ts"),
        F.col(value_col).alias("conv_value"),
    )
    touches = (
        events.filter(F.col(type_col).isin(*touch_types))
        .groupBy(user_col, ts_col)
        .agg(F.max_by(type_col, id_col).alias("channel"))
        .select(F.col(user_col).alias("u"), F.col(ts_col).alias("touch_ts"), "channel")
    )
    joined = convs.join(
        touches,
        on=(
            (convs["u"] == touches["u"])
            & (touches["touch_ts"] <= convs["conv_ts"])
            & (
                F.unix_micros(convs["conv_ts"]) - F.unix_micros(touches["touch_ts"])
                < window_us
            )
        ),
        how="left",
    ).select("conv_id", "conv_ts", "conv_value", "touch_ts", "channel")
    wc = Window.partitionBy("conv_id")
    wo = wc.orderBy(F.col("touch_ts").asc())
    n = F.count("touch_ts").over(wc)
    if model == "linear":
        weight = F.lit(1.0) / n
    elif model == "position":
        rn = F.row_number().over(wo)
        weight = (
            F.when(n == 1, F.lit(1.0))
            .when(n == 2, F.lit(0.5))
            .when(rn == 1, F.lit(0.4))
            .when(rn == n, F.lit(0.4))
            .otherwise(F.lit(0.2) / (n - 2))
        )
    elif model == "time_decay":
        raw = F.pow(
            F.lit(2.0),
            -(
                (F.unix_micros(F.col("conv_ts")) - F.unix_micros(F.col("touch_ts")))
                / F.lit(float(halflife_us))
            ),
        )
        weight = raw / F.sum(raw).over(wc)
    else:
        raise ValueError(f"unknown attribution model: {model}")
    credited = joined.withColumn(
        "w", F.when(F.col("touch_ts").isNull(), F.lit(1.0)).otherwise(weight)
    )
    return credited.groupBy(
        F.coalesce("channel", F.lit("direct")).alias("channel")
    ).agg(
        F.sum(F.col("w") * F.col("conv_value")).alias("attributed_value"),
        F.sum("w").alias("n_conversions"),
    )


def xirr_core(amounts: np.ndarray, days: np.ndarray) -> float:
    """Internal rate of return for dated cashflows (reference
    AggregateFunctionXirr.h: NPV(r) = sum a_i/(1+r)^(d_i/365) = 0, 365-day
    year).  Deterministic bracketed bisection (no Newton path dependence):
    scan (-0.999..., 10] for a sign change, then bisect to 1e-10.
    Returns NaN when all flows share a sign or no root is bracketed."""
    if len(amounts) == 0 or np.all(amounts >= 0) or np.all(amounts <= 0):
        return float("nan")
    years = (days - days.min()) / 365.0

    def npv(rate: float) -> float:
        return float(np.sum(amounts / np.power(1.0 + rate, years)))

    grid = np.concatenate(
        [np.linspace(-0.999999, 0.0, 64, endpoint=False), np.linspace(0.0, 10.0, 64)]
    )
    vals = [npv(r) for r in grid]
    lo = hi = None
    for i in range(len(grid) - 1):
        if vals[i] == 0.0:
            return float(grid[i])
        if vals[i] * vals[i + 1] < 0:
            lo, hi = float(grid[i]), float(grid[i + 1])
            break
    if lo is None:
        return float("nan")
    flo = npv(lo)
    for _ in range(200):
        mid = (lo + hi) / 2.0
        fm = npv(mid)
        if abs(fm) < 1e-10 or (hi - lo) < 1e-12:
            return mid
        if flo * fm < 0:
            hi = mid
        else:
            lo, flo = mid, fm
    return (lo + hi) / 2.0


def xirr(
    cashflows: DataFrame,
    group_col: str,
    amount_col: str = "amount",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group xirr over (amount, date) cashflows via an Arrow-batched
    kernel (groups hash-bucketed like the funnel kernels; flows stay in
    arrival order, which the float sums depend on)."""

    def rate(us: np.ndarray, amount: np.ndarray) -> list:
        days = (us // 86_400_000_000).astype(np.float64)
        return [(xirr_core(np.asarray(amount, dtype=np.float64), days),)]

    return per_key(
        cashflows, [_user_key(group_col)], [_micros(ts_col), amount_col], rate,
        "rate double",
    )


def funnel_rep(
    levels: DataFrame,
    slot_cols: list[str],
    level_col: str = "funnel_level",
    event_numbers: int = 3,
) -> DataFrame:
    """funnelRep (reference AggregateFunctionFunnelRep.h): convert per-user
    funnel levels into per-slot step-reach counts — counts[e] = # users whose
    level exceeds e, one array per watch slot (the add() rule
    output[watch][e] += input[watch] > e, FunnelRep.h:40-66).  Pure JVM
    conditional sums; one map-side-combinable aggregate."""
    return levels.groupBy(*slot_cols).agg(
        F.array(
            *[
                F.sum((F.col(level_col) > e).cast("long"))
                for e in range(event_numbers)
            ]
        ).alias("funnel_counts")
    )


def user_distribution(
    events: DataFrame,
    registrations: DataFrame,
    start_us: int,
    granularity_us: int,
    num_slots: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    reg_ts_col: str = "register_ts",
) -> DataFrame:
    """userDistribution (reference AggregateFunctionUserDistribution.h):
    per time slot [start + i*g, start + (i+1)*g), the count of ARRIVE users
    (any event in the slot) and NEWONE users (registered in that same slot,
    UserDistribution.h:47-68).  Distinct-(user,slot) then one aggregate —
    both shuffles on bounded keys; empty slots emitted with zero counts."""
    spark = events.sparkSession
    ev_us = F.unix_micros(F.col(ts_col))
    arrivals = (
        events.select(
            F.col(user_col).alias("u"),
            F.floor((ev_us - F.lit(start_us)) / F.lit(granularity_us)).alias("slot"),
        )
        .filter((F.col("slot") >= 0) & (F.col("slot") < num_slots))
        .distinct()
    )
    reg = registrations.select(
        F.col(user_col).alias("u"),
        F.floor(
            (F.unix_micros(F.col(reg_ts_col)) - F.lit(start_us))
            / F.lit(granularity_us)
        ).alias("reg_slot"),
    )
    flagged = arrivals.join(reg, "u", "left").select(
        "slot",
        (F.col("reg_slot") == F.col("slot")).cast("long").alias("is_new"),
    )
    per_slot = flagged.groupBy("slot").agg(
        F.count(F.lit(1)).alias("n_arrive"),
        F.coalesce(F.sum("is_new"), F.lit(0)).alias("n_new"),
    )
    slots = spark.range(num_slots).select(F.col("id").alias("slot"))
    return (
        slots.join(per_slot, "slot", "left")
        .select(
            "slot",
            F.coalesce("n_arrive", F.lit(0)).alias("n_arrive"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )


def max_intersections(
    intervals: DataFrame, start_col: str, end_col: str
) -> DataFrame:
    """maxIntersections / maxIntersectionsPosition (reference
    AggregateFunctionMaxIntersections.h): maximum number of simultaneously
    overlapping [start, end] intervals and the leftmost point where it is
    reached.  Ends sort before starts at equal points (the (point, ±1)
    pair-sort in MaxIntersections.h:40), so touching intervals don't count
    as intersecting.

    Distributed sweep, same shape as the AUC rank: range-partition the ±1
    delta stream by (point, delta), cumsum per partition in one Arrow pass,
    then combine per-partition (total, local-max, argmax-point) rows with a
    prefix-sum offset on a #partitions-sized frame.  No global sort task."""
    d_plus = intervals.select(
        F.col(start_col).cast("long").alias("p"), F.lit(1).alias("d")
    )
    d_minus = intervals.select(
        F.col(end_col).cast("long").alias("p"), F.lit(-1).alias("d")
    )
    ranged = (
        d_plus.unionAll(d_minus)
        .repartitionByRange("p", "d")
        .sortWithinPartitions("p", "d")
        .withColumn("__pid", F.spark_partition_id())
    )

    def kernel(batches):
        pid, total, best, best_p = None, 0, None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            run = np.cumsum(pdf["d"].to_numpy(np.int64)) + total
            i = int(np.argmax(run))
            if best is None or int(run[i]) > best:
                best = int(run[i])
                best_p = int(pdf["p"].iloc[i])
            total = int(run[-1])
        if pid is not None:
            yield pd.DataFrame(
                {"pid": [pid], "total": [total], "mx": [best], "mp": [best_p]}
            )

    per_part = ranged.mapInPandas(
        kernel, schema="pid int, total long, mx long, mp long"
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    candidates = per_part.withColumn(
        "cand", F.col("mx") + F.coalesce(F.sum("total").over(w_off), F.lit(0))
    )
    # leftmost global max: best candidate, earliest partition on ties
    return (
        candidates.orderBy(F.col("cand").desc(), F.col("pid").asc())
        .limit(1)
        .select(
            F.col("cand").alias("max_intersections"),
            F.col("mp").alias("position"),
        )
    )


def gen_array(
    events: DataFrame,
    group_cols: list[str],
    time_col: str,
    start: int,
    step: int,
    num_steps: int,
) -> DataFrame:
    """genArray (reference AggregateFunctionGenArray.h:268-312): per group,
    a presence bitmask over ``num_steps`` time slots of width ``step``
    starting at ``start``, packed into 64-bit words (bit i of word w set iff
    the group has an event in slot w*64+i; out-of-frame events ignored).

    Pure JVM: slot set per group via collect_set, then per-word OR-fold with
    F.aggregate — merge semantics (bitwise OR, GenArray.h:315) fall out of
    set union.  State is ceil(num_steps/64) longs per group."""
    n_words = (num_steps + 63) // 64
    slot = F.floor((F.col(time_col) - F.lit(start)) / F.lit(step))
    slotted = events.select(
        *group_cols,
        slot.alias("__slot"),
    ).filter((F.col("__slot") >= 0) & (F.col("__slot") < num_steps))
    grouped = slotted.groupBy(*group_cols).agg(
        F.collect_set("__slot").alias("__slots")
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.aggregate(
            F.filter(F.col("__slots"), lambda s: (s / 64).cast("long") == w),
            F.lit(0).cast("long"),
            lambda acc, s: acc.bitwiseOR(
                # python F.shiftleft takes only literal bit counts; the SQL
                # function accepts a column expression
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (s % 64).cast("int")
                )
            ),
        ),
    )
    return grouped.select(*group_cols, words.alias("gen_array"))


def count_by_granularity(
    df: DataFrame, value_col: str, granule_col: str
) -> DataFrame:
    """countByGranularity (reference AggregateFunctionCountByGranularity.h):
    per distinct value, the number of distinct granules it appears in.  The
    reference's granule is the physical 8192-row block (row position /
    granularity); Spark has no stable row position, so the granule is a
    DECLARED column (day, file, bucket) — documented divergence, same
    index-statistics use.  One count-distinct aggregate."""
    return (
        df.groupBy(F.col(value_col).alias("value"))
        .agg(F.countDistinct(granule_col).alias("n_granules"))
    )


def mann_whitney_u(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    label_col: Column,
) -> DataFrame:
    """mannWhitneyUTest (reference AggregateFunctionMannWhitney.h): U
    statistic of the labeled sample with average ranks on ties, plus the
    tie-corrected normal z-score.

    Distributed shape: ONE shuffle to per-(group, value) counts (t, t1) —
    the whole-sample rank sum collapses to avg_rank(v) = before(v) + 1 +
    (t-1)/2 over the DISTINCT-value frame, so no window ever sees raw
    rows.  With groups the prefix runs partition-parallel per group; the
    ungrouped case range-partitions distinct values and computes the
    prefix from per-partition totals (the same two-level decomposition as
    auc() — every full-data pass stays parallel)."""
    g = (
        df.select(
            *group_cols,
            F.col(value_col).alias("__v"),
            label_col.cast("int").alias("__lab"),
        )
        .groupBy(*group_cols, "__v")
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.sum("__lab").alias("t1"),
        )
    )
    if group_cols:
        w_pre = (
            Window.partitionBy(*group_cols)
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        g = g.withColumn("before", F.coalesce(F.sum("t").over(w_pre), F.lit(0)))
    else:
        ranged = g.repartitionByRange(F.col("__v").asc()).sortWithinPartitions(
            "__v"
        ).withColumn("__pid", F.spark_partition_id())
        w_loc = (
            Window.partitionBy("__pid")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        local = ranged.withColumn(
            "local_before", F.coalesce(F.sum("t").over(w_loc), F.lit(0))
        )
        totals = local.groupBy("__pid").agg(F.sum("t").alias("pt"))
        w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
        offs = totals.withColumn(
            "off", F.coalesce(F.sum("pt").over(w_off), F.lit(0))
        ).select("__pid", "off")
        g = local.join(F.broadcast(offs), "__pid").withColumn(
            "before", F.col("local_before") + F.col("off")
        )
    avg_rank = F.col("before") + 1 + (F.col("t") - 1) / 2.0
    j = g.groupBy(*group_cols).agg(
        F.sum(F.col("t1") * avg_rank).alias("r1"),
        F.sum("t1").alias("n1"),
        F.sum("t").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n") - F.col("n1")).cast("double")
    n = F.col("n").cast("double")
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    mean_u = n1 * n2 / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - F.col("tie3").cast("double") / (n * (n - 1)))
    )
    return j.select(
        *group_cols,
        u1.alias("u_stat"),
        ((u1 - mean_u) / sigma).alias("z_score"),
    )


def finder_funnel(
    events: DataFrame,
    watch_start_us: int,
    watch_step_us: int,
    watch_numbers: int,
    window_us: int,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    emit_times: bool = False,
) -> DataFrame:
    """finderFunnel (reference AggregateFunctionFinderFunnel.h): funnel
    level per (user, watch slot).  Deterministic first-anchor-per-slot
    variant (consistent with this engine's window_funnel pinning): the
    anchor is the user's EARLIEST step-1 event inside each watch slot;
    each later step is the earliest strictly-later event of its type
    within ``window_us`` of the anchor (the window may extend past the
    slot end, as in the reference's relative-window mode).

    Spark-first: one aggregate for the anchors, then one equi-join on
    user per later step — every pass is a hash shuffle on user_col, no
    Python.  Output: (user, slot, funnel_level >= 1)."""
    steps = list(steps)
    us = F.unix_micros(F.col(ts_col))
    ev = events.select(
        F.col(user_col).alias("u"), us.alias("t"), F.col(type_col).alias("tp")
    )
    slot = F.floor((F.col("t") - F.lit(watch_start_us)) / F.lit(watch_step_us))
    anchors = (
        ev.filter(F.col("tp") == steps[0])
        .withColumn("slot", slot)
        .filter((F.col("slot") >= 0) & (F.col("slot") < watch_numbers))
        .groupBy("u", "slot")
        .agg(F.min("t").alias("t1"))
    )
    frame = anchors.withColumn("level", F.lit(1))
    prev = "t1"
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            frame.join(
                ev.filter(F.col("tp") == step).select("u", F.col("t").alias("__et")),
                "u",
            )
            .filter(
                (F.col("__et") > F.col(prev))
                & (F.col("__et") <= F.col("t1") + F.lit(window_us))
            )
            .groupBy("u", "slot")
            .agg(F.min("__et").alias(f"t{i}"))
        )
        frame = frame.join(nxt, ["u", "slot"], "left").withColumn(
            "level",
            F.when(F.col(f"t{i}").isNotNull(), F.lit(i)).otherwise(F.col("level")),
        )
        prev = f"t{i}"
    out_cols = [
        F.col("u").alias(user_col),
        F.col("slot"),
        F.col("level").cast("long").alias("funnel_level"),
    ]
    if emit_times:
        out_cols += [
            F.col(f"t{i}") if i > 1 else F.col("t1")
            for i in range(1, len(steps) + 1)
        ]
    return frame.select(*out_cols)


def finder_funnel_by_times(
    events: DataFrame,
    watch_start_us: int,
    watch_step_us: int,
    watch_numbers: int,
    window_us: int,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """finderFunnelByTimes (reference
    AggregateFunctionFinderFunnelByTimes.h calculateFunnel — fixed-window
    mode, no attr correlation): unlike finderFunnel (ONE level per
    (user, slot)), EVERY step-1 event anchors its own chain, each chain
    adds +1 to the reach count of every level it passed, and step-2+
    events are CONSUMED (each joins at most one chain,
    ``events[index].event = 0`` in the reference's count_funnel).

    Loop equivalence (derived, not copied): with distinct step types and a
    fixed window, the reference's last_start / window-expiry / same-slot
    re-anchor bookkeeping reduces to — walk step-1 events in time order;
    each one whose slot lies in [0, watch_numbers) anchors a chain; the
    chain greedily takes, per later step, the EARLIEST not-yet-consumed
    event of that type strictly after the previous matched time and within
    ``window_us`` of the ANCHOR.  (Every scanned step-1 event becomes
    last_start of the round before it and so anchors exactly one round;
    events timestamped before watch_start are dropped at add().)

    Output: (user, slot, reach1..reachK) — reach_k = chains in that slot
    reaching at least level k; the reference's per-slot output sections
    (its leading total section is just the sum over slots).  Bucketed
    grouped kernel, O(events-per-user)."""
    steps = list(steps)
    k = len(steps)

    def reach(t: np.ndarray, tp: np.ndarray) -> list:
        step_times = []
        step_used = []
        for s_name in steps:
            m = tp == s_name
            step_times.append(t[m])
            step_used.append(np.zeros(int(m.sum()), dtype=bool))
        counts: dict = {}
        for ta in step_times[0]:
            slot = (ta - watch_start_us) // watch_step_us
            if slot < 0 or slot >= watch_numbers:
                continue
            level = 1
            prev = ta
            deadline = ta + window_us
            for si in range(1, k):
                arr = step_times[si]
                used = step_used[si]
                j = int(np.searchsorted(arr, prev, side="right"))
                while j < len(arr) and used[j]:
                    j += 1
                if j < len(arr) and arr[j] <= deadline:
                    used[j] = True
                    prev = arr[j]
                    level += 1
                else:
                    break
            c = counts.setdefault(int(slot), np.zeros(k, dtype=np.int64))
            c[:level] += 1
        return [(slot, *c) for slot, c in counts.items()]

    filtered = events.filter(F.unix_micros(F.col(ts_col)) >= watch_start_us)
    return per_key(
        filtered, [_user_key(user_col)], [_micros(ts_col), type_col], reach,
        ", ".join(["slot long"] + [f"reach{i} long" for i in range(1, k + 1)]),
        order=[ts_col, id_col],
    )


def session_analysis(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """sessionAnalysis (reference AggregateFunctionSessionAnalysis.h:196-205:
    per session (session_duration, session_depth, end_event, ...)): split
    each user's stream on silence gaps > gap_us, then per session emit
    duration, depth (event count), and the entry/exit event types.

    Pure JVM islands: one lag window flags session breaks, a running sum
    numbers sessions, min_by/max_by pick the boundary events — a single
    shuffle on user_col, no Python kernel."""
    us = F.unix_micros(F.col(ts_col))
    w_seq = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    flagged = events.select(
        F.col(user_col),
        us.alias("__t"),
        F.col(type_col).alias("__tp"),
        F.col(id_col).alias("__id"),
    ).withColumn(
        "__brk",
        F.when(
            F.col("__t") - F.lag("__t").over(
                Window.partitionBy(user_col).orderBy("__t", "__id")
            )
            > gap_us,
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy(user_col)
        .orderBy("__t", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessioned = flagged.withColumn("__sid", F.sum("__brk").over(w_run))
    return (
        sessioned.groupBy(user_col, "__sid")
        .agg(
            ((F.max("__t") - F.min("__t")) / 1_000_000.0).alias("duration_s"),
            F.count(F.lit(1)).cast("long").alias("depth"),
            F.min_by("__tp", F.struct("__t", "__id")).alias("entry_event"),
            F.max_by("__tp", F.struct("__t", "__id")).alias("exit_event"),
            F.timestamp_micros(F.min("__t")).alias("session_start"),
        )
        .drop("__sid")
    )


def fast_auc(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
    n_bins: int = 100_000,
    lo: float = 0.0,
    hi: float = 1000.0,
) -> DataFrame:
    """fastAuc (reference AggregateFunctionFastAuc.h family): histogram-
    bucketed AUC — scores quantize to n_bins fixed-width bins; the rank sum
    comes from per-bin positive/total counts in closed form (ties within a
    bin use the average-rank convention).  Error is bounded by the bin
    width; with enough bins over the score range it is exact for discrete
    scores.

    Scale shape: ONE map-side-combinable aggregate (groupBy bin), a
    #bins-bounded frame for the prefix sums, no range partition and no
    per-row rank — cheaper than the exact distributed-rank `auc` when
    scores are dense."""
    bin_col = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((score_col - F.lit(lo)) / F.lit((hi - lo) / n_bins)).cast("int"),
        ),
    )
    per_bin = (
        events.select(bin_col.alias("bin"), label_col.cast("long").alias("lab"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lab").alias("p"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    with_prefix = per_bin.withColumn(
        "before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    # average rank of a bin's rows = before + (n+1)/2; positives in the bin
    # contribute p * that
    rank_sum = F.sum(
        F.col("p") * (F.col("before") + (F.col("n") + 1) / 2.0)
    )
    return with_prefix.agg(
        (
            (rank_sum - F.sum("p") * (F.sum("p") + 1) / 2.0)
            / (F.sum("p") * (F.sum("n") - F.sum("p"))).cast("double")
        ).alias("auc")
    )


def retention_loss(
    events: DataFrame,
    start_type: str,
    return_type: str,
    start_date: str,
    window_days: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """retentionLoss (reference AggregateFunctionRetentionLoss.h:60-95):
    the cumulative cohort-return matrix — cell (i, j) for j > i counts
    users who did the start event on day i AND whose FIRST return event
    after day i happened on day <= j; the diagonal (i, i) is the cohort
    size.  Users with no return never contribute past the diagonal
    (RetentionLoss.h: `current = window` when the scan finds no bit).

    Shape: two distinct-day frames, one min-aggregate for the first
    return, then cumulative sums over a window_days² grid (a constant-size
    frame at any data scale)."""
    spark = events.sparkSession
    day = F.datediff(F.to_date(ts_col), F.to_date(F.lit(start_date)))
    base = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("tp"), day.alias("d")
    ).filter((F.col("d") >= 0) & (F.col("d") < window_days))
    starts = base.filter(F.col("tp") == start_type).select("u", F.col("d").alias("i")).distinct()
    rets = base.filter(F.col("tp") == return_type).select("u", F.col("d").alias("r")).distinct()
    first_ret = (
        starts.join(rets, "u")
        .filter(F.col("r") > F.col("i"))
        .groupBy("u", "i")
        .agg(F.min("r").alias("j0"))
    )
    cohort = starts.groupBy("i").agg(F.count(F.lit(1)).alias("n_start"))
    arrivals = first_ret.groupBy("i", "j0").agg(F.count(F.lit(1)).alias("n_first"))
    # grid: all (i, j) with i <= j < window; cumulative over j
    grid = (
        spark.range(window_days)
        .select(F.col("id").alias("i"))
        .join(
            spark.range(window_days).select(F.col("id").alias("j")),
            F.col("j") >= F.col("i"),
        )
    )
    w_cum = (
        Window.partitionBy("i")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        grid.join(
            arrivals,
            (grid.i == arrivals.i) & (grid.j == arrivals.j0),
            "left",
        )
        .select(grid.i, grid.j, F.coalesce("n_first", F.lit(0)).alias("nf"))
        .withColumn("cum_returned", F.sum("nf").over(w_cum))
    )
    return (
        filled.join(cohort, "i", "left")
        .select(
            "i",
            "j",
            F.when(F.col("i") == F.col("j"), F.coalesce("n_start", F.lit(0)))
            .otherwise(F.col("cum_returned"))
            .cast("long")
            .alias("n"),
        )
    )


ARRIVE = 1
NEWONE = 2


def user_slot_states(
    events: DataFrame,
    registrations: DataFrame,
    start_us: int,
    granularity_us: int,
    num_slots: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    reg_ts_col: str = "register_ts",
) -> DataFrame:
    """Per-(user, slot) ARRIVE|NEWONE state flags — the userDistribution
    state array (UserDistributionCommon.h:27-33) as rows."""
    ev_us = F.unix_micros(F.col(ts_col))
    arrivals = (
        events.select(
            F.col(user_col).alias("u"),
            F.floor((ev_us - F.lit(start_us)) / F.lit(granularity_us)).alias("slot"),
        )
        .filter((F.col("slot") >= 0) & (F.col("slot") < num_slots))
        .distinct()
    )
    reg = registrations.select(
        F.col(user_col).alias("u"),
        F.floor(
            (F.unix_micros(F.col(reg_ts_col)) - F.lit(start_us))
            / F.lit(granularity_us)
        ).alias("reg_slot"),
    )
    return arrivals.join(reg, "u", "left").select(
        "u",
        "slot",
        (
            F.lit(ARRIVE)
            + F.when(F.col("reg_slot") == F.col("slot"), F.lit(NEWONE)).otherwise(0)
        ).alias("state"),
    )


def slide_match_count(
    slot_states: DataFrame,
    pattern: list[int],
    start_index: int,
    num_slides: int,
    total_slots: int,
) -> DataFrame:
    """slideMatchCount (reference AggregateFunctionSlideMatchCount.h:88-122):
    for each slide i, count users whose state window ENDING at
    start_index + i matches `pattern` — pattern cell 0 and ARRIVE|NEWONE
    demand exact equality, a bare ARRIVE cell demands the arrive bit.

    Shape: one conditional-max aggregate builds each user's dense state
    array (total_slots bounded), then num_slides boolean conjunctions sum
    map-side — no Python, one shuffle on the user."""
    p = len(pattern)
    # reference guards (SlideMatchCount.h add()): a window that would start
    # before slot 0 or end past the state array contributes NOTHING — the
    # result is all-zero counts, not an error
    if start_index + num_slides > total_slots or start_index + 1 < p:
        spark = slot_states.sparkSession
        return spark.range(1).select(
            F.array(*[F.lit(0).cast("long") for _ in range(num_slides)]).alias(
                "match_counts"
            )
        )
    dense = slot_states.groupBy("u").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("slot") == s, F.col("state"))), F.lit(0)
            ).alias(f"s{s}")
            for s in range(total_slots)
        ]
    )

    def cell_matches(slot_idx: int, pat: int) -> Column:
        c = F.col(f"s{slot_idx}")
        if pat == 0 or pat == (ARRIVE | NEWONE):
            return c == pat
        if pat == ARRIVE:
            return c.bitwiseAND(F.lit(ARRIVE)) != 0
        return F.lit(False)  # reference: any other pattern cell never hits

    slides = []
    for i in range(num_slides):
        end = start_index + i
        conds = [cell_matches(end + 1 - p + j, pattern[j]) for j in range(p)]
        hit = conds[0]
        for c in conds[1:]:
            hit = hit & c
        slides.append(F.sum(hit.cast("long")).alias(f"slide{i}"))
    counted = dense.agg(*slides)
    return counted.select(
        F.array(*[F.col(f"slide{i}") for i in range(num_slides)]).alias(
            "match_counts"
        )
    )


def last_range_count(
    slot_states: DataFrame,
    duration: int,
    start_index: int,
    num_slides: int,
    total_slots: int,
) -> DataFrame:
    """lastRangeCount (reference AggregateFunctionLastRangeCount.h:78-96):
    per slide i, the count of users with ANY arrival in the closed slot
    window [start+i+1-duration, start+i] — rolling active users (the
    WAU/MAU-from-daily-states shape).  Same dense-state conditional
    aggregate as slide_match_count; booleans OR across the window."""
    # reference guards (LastRangeCount.h add()): out-of-range windows
    # contribute nothing — all-zero counts
    if start_index + num_slides > total_slots or start_index + 1 < duration:
        spark = slot_states.sparkSession
        return spark.range(1).select(
            F.array(*[F.lit(0).cast("long") for _ in range(num_slides)]).alias(
                "range_counts"
            )
        )
    dense = slot_states.groupBy("u").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("slot") == s, F.col("state"))), F.lit(0)
            ).alias(f"s{s}")
            for s in range(total_slots)
        ]
    )
    slides = []
    for i in range(num_slides):
        end = start_index + i
        lo = end + 1 - duration
        active = F.lit(False)
        for s in range(lo, end + 1):
            active = active | (F.col(f"s{s}").bitwiseAND(F.lit(ARRIVE)) != 0)
        slides.append(F.sum(active.cast("long")).alias(f"slide{i}"))
    counted = dense.agg(*slides)
    return counted.select(
        F.array(*[F.col(f"slide{i}") for i in range(num_slides)]).alias(
            "range_counts"
        )
    )


def debias_auc(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
    sample_rate_col: Column | None = None,
    n_bins: int = 100_000,
    lo: float = 0.0,
    hi: float = 1000.0,
) -> DataFrame:
    """debiasAuc (reference AggregateFunctionDebiasAuc.h:50-83): bucketed
    AUC in the pairwise-probability form with per-row 1/sample_rate
    weights — undoes negative downsampling: each retained row stands for
    1/rate originals.  auc = sum_b P_b * (cumN_before + N_b/2) / (P * N);
    with rate = 1 this equals the tie-averaged histogram AUC.

    Same scale shape as fast_auc: one weighted conditional aggregate per
    bin + a bins-bounded prefix frame."""
    w = (
        F.lit(1.0) / sample_rate_col
        if sample_rate_col is not None
        else F.lit(1.0)
    )
    bin_col = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((score_col - F.lit(lo)) / F.lit((hi - lo) / n_bins)).cast("int"),
        ),
    )
    lab = label_col.cast("int")
    per_bin = (
        events.select(bin_col.alias("bin"), lab.alias("lab"), w.alias("w"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("lab") == 1, F.col("w")).otherwise(0.0)).alias("p"),
            F.sum(F.when(F.col("lab") == 0, F.col("w")).otherwise(0.0)).alias("neg"),
        )
    )
    w_pre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    pre = per_bin.withColumn(
        "cum_neg_before", F.coalesce(F.sum("neg").over(w_pre), F.lit(0.0))
    )
    return pre.agg(
        (
            F.sum(F.col("p") * (F.col("cum_neg_before") + F.col("neg") / 2.0))
            / (F.sum("p") * F.sum("neg"))
        ).alias("auc")
    )


def funnel_path_split(
    events: DataFrame,
    anchor_type: str,
    window_us: int,
    max_depth: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """funnelPathSplit (reference AggregateFunctionFunnelPathSplit.h:
    paths anchored at a funnel event, bounded by window + max depth): for
    each user's FIRST anchor event, the ordered event-type path from the
    anchor until window_us later, truncated to max_depth types.

    One aggregate for the anchors, one window-free filtered ordered-array
    aggregate for the path — all JVM, no Python kernel."""
    us = F.unix_micros(F.col(ts_col))
    anchors = (
        events.filter(F.col(type_col) == anchor_type)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(us).alias("t0"))
    )
    joined = events.select(
        F.col(user_col).alias("u"),
        us.alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("e"),
    ).join(anchors, "u")
    in_window = joined.filter(
        (F.col("t") >= F.col("t0")) & (F.col("t") <= F.col("t0") + F.lit(window_us))
    )
    ordered_path = F.slice(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("t"), F.col("i"), F.col("e")))
            ),
            lambda s: s.e,
        ),
        1,
        max_depth,
    )
    return (
        in_window.groupBy("u")
        .agg(ordered_path.alias("path"))
        .select(F.col("u").alias(user_col), "path")
    )


def funnel_path_split_by_times(
    events: DataFrame,
    anchor_type: str,
    window_us: int,
    max_depth: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """funnelPathSplitByTimes (reference
    AggregateFunctionFunnelPathSplitByTimes.h insertResultInto): unlike the
    base funnelPathSplit (one path anchored at the user's FIRST anchor),
    EVERY anchor event opens a new path bucket; each later event joins the
    most recent bucket while inside its window/depth, so paths never
    overlap.  Emits one row per (user, path_no) with the ordered type path.

    Shape: the "most recent anchor at-or-before me" assignment is a
    per-user last_value window (partitioned by user — no global window),
    then one grouped ordered-array aggregate per bucket.  All JVM."""
    us = F.unix_micros(F.col(ts_col))
    e = events.select(
        F.col(user_col).alias("u"),
        us.alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("e"),
    )
    w = Window.partitionBy("u").orderBy("t", "i")
    is_anchor = F.col("e") == anchor_type
    tagged = e.select(
        "u", "t", "i", "e",
        F.last(F.when(is_anchor, F.col("t")), ignorenulls=True).over(w).alias("a_t"),
        F.last(F.when(is_anchor, F.col("i")), ignorenulls=True).over(w).alias("a_i"),
    )
    in_win = tagged.filter(
        F.col("a_t").isNotNull() & (F.col("t") <= F.col("a_t") + F.lit(window_us))
    )
    ordered_path = F.slice(
        F.transform(
            F.sort_array(F.collect_list(F.struct("t", "i", "e"))), lambda s: s.e
        ),
        1,
        max_depth,
    )
    per_bucket = in_win.groupBy("u", "a_t", "a_i").agg(ordered_path.alias("path"))
    wn = Window.partitionBy("u").orderBy("a_t", "a_i")
    return per_bucket.select(
        F.col("u").alias(user_col),
        F.row_number().over(wn).cast("long").alias("path_no"),
        "path",
    )


def reg_auc_core(preds: np.ndarray, labels: np.ndarray) -> float:
    """regAuc default-flag core (reference AggregateFunctionRegAuc.h
    calc_correct_pairs): correct pairs = strictly concordant pairs
    {p_a > p_b and l_a > l_b} plus identical pairs {p_a == p_b and
    l_a == l_b}; rate over all C(n,2) pairs; -1.0 when no pairs.

    Counting is O(n log n): Fenwick tree over compressed labels, scanning
    pred-ties as blocks (query before inserting the block so equal preds
    never count as concordant) — the same totals as the reference's
    mergesort pair counter plus run corrections."""
    n = len(preds)
    if n < 2:
        return -1.0
    order = np.lexsort((labels, preds))
    p, l = preds[order], labels[order]
    _, lr = np.unique(l, return_inverse=True)
    m = lr.max() + 1
    tree = np.zeros(m + 1, dtype=np.int64)

    def bit_add(i):
        i += 1
        while i <= m:
            tree[i] += 1
            i += i & (-i)

    def bit_sum(i):  # count of inserted labels with rank < i
        s = 0
        while i > 0:
            s += tree[i]
            i -= i & (-i)
        return s

    concordant = 0
    start = 0
    while start < n:
        stop = start
        while stop < n and p[stop] == p[start]:
            stop += 1
        for j in range(start, stop):  # query before inserting the pred block
            concordant += bit_sum(lr[j])
        for j in range(start, stop):
            bit_add(lr[j])
        start = stop
    # identical (p, l) pairs
    pl = np.stack([p, l], axis=1)
    _, counts = np.unique(pl, axis=0, return_counts=True)
    identical = int((counts * (counts - 1) // 2).sum())
    total = n * (n - 1) // 2
    return float(concordant + identical) / total


def reg_auc(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
) -> DataFrame:
    """regAuc (reference AggregateFunctionRegAuc.h): regression-AUC
    concordance rate, EXACT deterministic path (the reference samples
    randomly above num_reg_sample pairs — non-deterministic, so the exact
    path is the contract here; the state is a single collected pair array
    in the reference too, max 4096 per block)."""

    def rate(p: np.ndarray, l: np.ndarray) -> list:
        v = reg_auc_core(
            np.asarray(p, dtype=np.float64), np.asarray(l, dtype=np.float64)
        )
        return [(round(v, 6),)]

    return per_key(events, [], [score_col, label_col], rate, "reg_auc double")


def ecpm_auc(
    events: DataFrame,
    ecpm_col: Column,
    adv_value_col: Column,
    precision: float = 0.00001,
    lo: float = -2.5,
    hi: float = 2.5,
) -> DataFrame:
    """ecpmAuc (reference AggregateFunctionEcpmAuc.h): bucket rows by
    quantized -log10(ecpm) (bucket 0 = highest ecpm), accumulate
    (count, sum adv_value) per bucket, then
    auc = (sum_i n_i*cum_adv_before_i + sum_i n_i*cum_adv_through_i)
          / (2 * N * total_adv)  — the trapezoidal area under the
    ecpm-ranked advertiser-value curve.

    Scale shape mirrors fast_auc: ONE map-side-combinable bucket aggregate
    plus a bounded (#occupied buckets <= 1/precision) prefix frame."""
    interval = hi - lo
    bucket_num = int(np.ceil(1.0 / precision))
    bucket = F.least(
        F.lit(bucket_num - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.lit(hi) - F.log10(ecpm_col)) / F.lit(precision * interval))
            .cast("int"),
        ),
    )
    per_bucket = (
        events.select(bucket.alias("bucket"), adv_value_col.alias("adv"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("adv").alias("a"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    pref = per_bucket.withColumn(
        "before", F.coalesce(F.sum("a").over(w), F.lit(0.0))
    )
    lb = F.sum(F.col("n") * F.col("before"))
    ub = F.sum(F.col("n") * (F.col("before") + F.col("a")))
    return pref.agg(
        F.round(
            (lb + ub) / (2.0 * F.sum("n") * F.sum("a")), 6
        ).alias("ecpm_auc")
    )


def finder_group_funnel(
    events: DataFrame,
    user_props: DataFrame,
    watch_start_us: int,
    watch_step_us: int,
    watch_numbers: int,
    window_us: int,
    steps: Sequence[str],
    user_col: str = "user_id",
    prop_col: str = "prop",
    **kw,
) -> DataFrame:
    """finderGroupFunnel (reference AggregateFunctionFinderGroupFunnel.h):
    finderFunnel levels split by a USER property — output one funnel-level
    row per (user, slot, prop).  ``user_props`` carries (user_col,
    prop_col); the reference's [(prop, [level-counts...])...] array shape
    is the funnel_rep aggregation of this frame grouped by (slot, prop).

    Composition, not a new kernel: the per-slot level walk is
    finder_funnel verbatim; the group dimension is one broadcast-friendly
    equi-join on the user key."""
    levels = finder_funnel(
        events, watch_start_us, watch_step_us, watch_numbers, window_us,
        steps, user_col=user_col, **kw,
    )
    return levels.join(
        user_props.select(user_col, prop_col), user_col
    ).select(user_col, "slot", prop_col, "funnel_level")


def gen_array_month(
    events: DataFrame,
    group_cols: list[str],
    ts_col: str,
    start_date: str,
    num_steps: int,
) -> DataFrame:
    """genArrayMonth (reference AggregateFunctionGenArrayMonth.h:156-210):
    genArray with CALENDAR-MONTH slots — slot = relative month number of
    the event minus the start date's month (lut.toRelativeMonthNum), so
    slot widths follow the calendar, not a fixed step.  Same 64-bit word
    packing and OR-merge as gen_array."""
    n_words = (num_steps + 63) // 64
    start = F.lit(start_date).cast("date")
    slot = (
        (F.year(F.col(ts_col)) - F.year(start)) * 12
        + (F.month(F.col(ts_col)) - F.month(start))
    ).cast("long")
    slotted = events.select(*group_cols, slot.alias("__slot")).filter(
        (F.col("__slot") >= 0) & (F.col("__slot") < num_steps)
    )
    grouped = slotted.groupBy(*group_cols).agg(
        F.collect_set("__slot").alias("__slots")
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.aggregate(
            F.filter(F.col("__slots"), lambda s: (s / 64).cast("long") == w),
            F.lit(0).cast("long"),
            lambda acc, s: acc.bitwiseOR(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (s % 64).cast("int")
                )
            ),
        ),
    )
    return grouped.select(*group_cols, words.alias("gen_array"))


def retention2(
    events: DataFrame,
    start_type: str,
    end_type: str,
    start_us: int,
    window_days: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """retention2 (reference AggregateFunctionRetention2.h addImpl): the
    cohort-retention TRIANGLE — for every (start day s, offset o >= 0)
    inside the window, the count of users with a start event on day s and
    an end event on day s+o.  The reference walks per-user start/end day
    bitmasks and accumulates a flat window*window array; each flat cell
    [s*window + o] equals this frame's (start_slot=s, offset=o) row — rows
    instead of the packed array, the natural relational shape.

    Scale: two slot-distinct projections and ONE equi-join on the user key,
    partial-aggregated map-side; no per-user kernel."""
    day = F.floor(
        (F.unix_micros(F.col(ts_col)) - F.lit(start_us)) / F.lit(86_400_000_000)
    ).cast("long")
    base = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("tp"), day.alias("d")
    ).filter((F.col("d") >= 0) & (F.col("d") < window_days))
    starts = base.filter(F.col("tp") == start_type).select("u", F.col("d").alias("s")).distinct()
    ends = base.filter(F.col("tp") == end_type).select("u", F.col("d").alias("e")).distinct()
    pairs = starts.join(ends, "u").filter(F.col("e") >= F.col("s"))
    return (
        pairs.groupBy(
            F.col("s").alias("start_slot"),
            (F.col("e") - F.col("s")).alias("offset"),
        )
        .agg(F.countDistinct("u").alias("n_users"))
    )


def user_distribution_monthly(
    events: DataFrame,
    registrations: DataFrame,
    start_date: str,
    num_slots: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    reg_ts_col: str = "register_ts",
) -> DataFrame:
    """userDistributionMonthly (reference
    AggregateFunctionUserDistributionMonthly.h): userDistribution with
    CALENDAR-MONTH slots — slot i covers the i-th month after start_date's
    month (convertTimeToIndex walks month boundaries); ARRIVE = any event
    in the month, NEWONE = registered in the same month."""
    spark = events.sparkSession
    start = F.lit(start_date).cast("date")

    def month_slot(c):
        return (
            (F.year(c) - F.year(start)) * 12 + (F.month(c) - F.month(start))
        ).cast("long")

    arrivals = (
        events.select(
            F.col(user_col).alias("u"), month_slot(F.col(ts_col)).alias("slot")
        )
        .filter((F.col("slot") >= 0) & (F.col("slot") < num_slots))
        .distinct()
    )
    reg = registrations.select(
        F.col(user_col).alias("u"),
        month_slot(F.col(reg_ts_col)).alias("reg_slot"),
    )
    flagged = arrivals.join(reg, "u", "left").select(
        "slot",
        (F.col("reg_slot") == F.col("slot")).cast("long").alias("is_new"),
    )
    per_slot = flagged.groupBy("slot").agg(
        F.count(F.lit(1)).alias("n_arrive"),
        F.coalesce(F.sum("is_new"), F.lit(0)).alias("n_new"),
    )
    slots = spark.range(num_slots).select(F.col("id").alias("slot"))
    return slots.join(per_slot, "slot", "left").select(
        "slot",
        F.coalesce("n_arrive", F.lit(0)).alias("n_arrive"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )


def funnel_rep2(
    levels_with_times: DataFrame,
    n_steps: int,
    interval_group_us: list[int],
    slot_col: str = "slot",
) -> DataFrame:
    """funnelRep2 (reference AggregateFunctionFunnelRep2.h — "TEA format"):
    per watch slot, the distribution of funnel CONVERSION TIME (t_last -
    t_1 for users who completed all steps): counts per interval group
    [g_i, g_{i+1}) plus count/sum/min/max of the interval.  The reference
    also keeps a tdigest per slot; this form computes EXACT quantiles
    downstream instead (documented deviation — tdigest is an approximation
    of what one more exact aggregate gives on Spark).

    One conditional aggregate per slot over the finder_funnel(emit_times=
    True) frame — no kernel."""
    t1, tk = F.col("t1"), F.col(f"t{n_steps}")
    conv = levels_with_times.filter(tk.isNotNull()).select(
        F.col(slot_col), (tk - t1).alias("iv")
    )
    buckets = [
        F.sum(
            (
                (F.col("iv") >= F.lit(lo)) & (F.col("iv") < F.lit(hi))
            ).cast("long")
        ).alias(f"g{i}")
        for i, (lo, hi) in enumerate(
            zip(interval_group_us[:-1], interval_group_us[1:])
        )
    ]
    agg = conv.groupBy(slot_col).agg(
        *buckets,
        F.count(F.lit(1)).alias("n_conv"),
        F.sum("iv").alias("iv_sum"),
        F.min("iv").alias("iv_min"),
        F.max("iv").alias("iv_max"),
    )
    gcols = [F.col(f"g{i}") for i in range(len(interval_group_us) - 1)]
    return agg.select(
        slot_col,
        F.array_join(F.array(*[g.cast("string") for g in gcols]), "|").alias(
            "interval_counts"
        ),
        "n_conv",
        "iv_sum",
        "iv_min",
        "iv_max",
    )


def fast_auc2(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
    precision: float = 0.00001,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """fastAuc2 / fastAuc3 / fastPrevAuc2 (reference
    AggregateFunctionFastAuc2.h, FastAuc3.h, FastPrevAuc2.h): all three
    compute the IDENTICAL bucketed average-rank AUC — bucket =
    clamp(floor((pred - min) / precision), 0, ceil((max-min)/precision)-1),
    rank sums from per-bucket (pos, neg) counts, and
    (sum_pos_rank - P(P+1)/2) / (P*N); they differ only in STATE LAYOUT
    (dense pair array vs sparse unordered_map vs quoted-string
    serialization), which has no Spark analogue — the shuffle format is
    Tungsten rows either way.  Returns 1.0 when either class is empty
    (FastAuc2.h:56-57).

    Scale shape: one map-side-combinable groupBy(bucket) plus a
    #buckets-bounded prefix frame — same as fast_auc."""
    bucket_num = int(np.ceil((hi - lo) / precision))
    bin_col = F.least(
        F.lit(bucket_num - 1),
        F.greatest(
            F.lit(0),
            F.floor((score_col - F.lit(lo)) / F.lit(precision)).cast("long"),
        ),
    )
    per_bin = (
        events.select(bin_col.alias("bin"), (label_col > 0).cast("long").alias("lab"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lab").alias("p"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    pre = per_bin.withColumn("before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    rank_sum = F.sum(F.col("p") * (F.col("before") + (F.col("n") + 1) / 2.0))
    P, N = F.sum("p"), F.sum("n") - F.sum("p")
    return pre.agg(
        F.when((P == 0) | (N == 0), F.lit(1.0))
        .otherwise((rank_sum - P * (P + 1) / 2.0) / (P * N).cast("double"))
        .alias("auc")
    )


# State-layout-only siblings — same math, kept as named aliases so the
# registry mirrors the reference surface one-to-one.
fast_auc3 = fast_auc2
fast_prev_auc2 = fast_auc2


def regression_auc2(
    events: DataFrame,
    score_col: Column,
    label_col: Column,
) -> DataFrame:
    """regressionAuc2 (reference AggregateFunctionRegAucV2.h): concordant-
    pair rate with FOUR tie-handling flags, computed in closed form from
    (pred, label) group counts instead of the reference's O(n log n)
    mergesort over a collected pair array:

      C = strictly concordant pairs  {p_a < p_b and l_a < l_b}
      E = identical pairs            {p_a == p_b and l_a == l_b}
      D = label-equal pairs          {l_a == l_b}
      T = n(n-1)/2

      flag 1 -> (C + E) / T        (RegAucV2.h:144, res = pairs + 2*cnt1
      flag 2 -> (C + D) / T         - cnt0 etc. algebraically reduce to
      flag 3 ->  C / T              these — derivation in the oracle SQL)
      flag 4 ->  C / (T - D)

    each returning -1.0 on a zero denominator (:60-62).  The exact path is
    the contract; the reference's random pair-sampling path above
    num_reg_sample is non-deterministic by construction.

    Scale: ONE shuffle to group counts; C is a non-equi join over the
    GROUP table (pred x label distinct combinations) — bounded for
    discretized scores, which is the intended regime (the reference's
    state itself is a collected array).  For unbounded real-valued scores,
    discretize first (as fastAuc does) or use reg_auc's Fenwick kernel."""
    g = (
        events.select(score_col.alias("pr"), label_col.alias("lb"))
        .groupBy("pr", "lb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = g.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("e"),
    )
    dd = (
        g.groupBy("lb")
        .agg(F.sum("c").alias("cl"))
        .agg(F.sum(F.col("cl") * (F.col("cl") - 1) / 2).alias("d"))
    )
    a, b = g.alias("a"), g.alias("b")
    cc = (
        a.join(
            b,
            (F.col("a.pr") < F.col("b.pr")) & (F.col("a.lb") < F.col("b.lb")),
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("cc"))
        .select(F.coalesce("cc", F.lit(0)).alias("cc"))
    )
    t = (F.col("n") * (F.col("n") - 1) / 2).cast("double")

    def rate(num, den):
        return F.when(den <= 0, F.lit(-1.0)).otherwise(num / den)

    return (
        tot.crossJoin(F.broadcast(dd))
        .crossJoin(F.broadcast(cc))
        .select(
            rate(F.col("cc") + F.col("e"), t).alias("auc_flag1"),
            rate(F.col("cc") + F.col("d"), t).alias("auc_flag2"),
            rate(F.col("cc").cast("double"), t).alias("auc_flag3"),
            rate(F.col("cc").cast("double"), t - F.col("d")).alias("auc_flag4"),
        )
    )


def retention4(
    events: DataFrame,
    first_type: str,
    return_type: str,
    start_date: str,
    end_date: str,
    window_days: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """retention4 (reference AggregateFunctionRetention4.h): cohort
    matrix keyed by each user's FIRST first-event day within
    [start_date, end_date] — slot 0 counts the cohort
    (add():109-135), slot k (1 <= k < window) counts users whose
    return-event bitmap has day first+k set (:141-165; return days may
    extend past end_date — only the window bounds them).  Output: one row
    per cohort date with the '|'-joined window-slot counts, matching the
    reference's Array(Tuple(Date, Array(UInt64))) shape.

    Scale: two day-distinct frames + one min-aggregate + one bounded
    (dates x window) grid; no kernel, no window function."""
    import datetime as _dt

    spark = events.sparkSession
    ndays = (
        _dt.date.fromisoformat(end_date) - _dt.date.fromisoformat(start_date)
    ).days + 1
    d = F.datediff(F.to_date(ts_col), F.to_date(F.lit(start_date)))
    fd = (
        events.filter(F.col(type_col) == first_type)
        .select(F.col(user_col).alias("u"), d.alias("d"))
        .filter(F.col("d") >= 0)
        .groupBy("u")
        .agg(F.min("d").alias("fd"))
        .filter(F.col("fd") < ndays)
    )
    base = fd.groupBy("fd").agg(F.count(F.lit(1)).alias("cnt")).select(
        "fd", F.lit(0).alias("slot"), "cnt"
    )
    ret = (
        events.filter(F.col(type_col) == return_type)
        .select(F.col(user_col).alias("u"), d.alias("d"))
        .filter(F.col("d") >= 0)
        .distinct()
        .join(fd, "u")
        .filter((F.col("d") > F.col("fd")) & (F.col("d") - F.col("fd") < window_days))
        .groupBy("fd", (F.col("d") - F.col("fd")).alias("slot"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells = base.unionByName(ret)
    grid = (
        spark.range(0, ndays)
        .select(F.col("id").cast("int").alias("fd"))
        .crossJoin(
            spark.range(0, window_days).select(
                F.col("id").cast("int").alias("slot")
            )
        )
    )
    filled = grid.join(cells, ["fd", "slot"], "left").select(
        "fd", "slot", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return (
        filled.groupBy("fd")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("slot", "cnt"))
                    ),
                    lambda s: s["cnt"].cast("string"),
                ),
                "|",
            ).alias("slots")
        )
        .select(
            F.date_add(F.to_date(F.lit(start_date)), F.col("fd")).alias(
                "cohort_date"
            ),
            "slots",
        )
    )


def cross_tab_stats(
    events: DataFrame, a_col: Column, b_col: Column
) -> DataFrame:
    """cramersV / cramersVBiasCorrected / contingency / theilsU (reference
    src/AggregateFunctions/CrossTab.h + the four AggregateFunction*.cpp
    wrappers): association statistics over the (a, b) contingency table.

    Reference formulas, reproduced EXACTLY (note phi^2 sums only the
    OBSERVED pairs — CrossTab.h getPhiSquared iterates count_ab, so cells
    with zero observed count contribute nothing, unlike the textbook
    chi^2):

      phi2        = (1/n) * sum_ab (c_ab - c_a*c_b/n)^2 / (c_a*c_b/n)
      cramersV    = sqrt(phi2 / (min(|A|, |B|) - 1))
      biasCorr    = sqrt(max(0, phi2 - (|A|-1)(|B|-1)/(n-1))
                         / (min(|A| - (|A|-1)^2/(n-1),
                                |B| - (|B|-1)^2/(n-1)) - 1))
      contingency = sqrt(phi2 / (phi2 + n))
      theilsU     = (sum_ab (c_ab/n) ln(c_ab/c_b) - h_a) / h_a,
                    h_a = sum_a (c_a/n) ln(c_a/n)

    One row out; NaN when n < 2.  Shape: one groupBy to the pair-count
    table (bounded by |A|x|B|), two tiny re-aggregations, broadcast joins
    of single-row frames — no kernel, fully map-side combinable."""
    pairs = (
        events.select(a_col.alias("a"), b_col.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .persist()
    )
    ca = pairs.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    cb = pairs.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    tot = pairs.agg(
        F.sum("c_ab").alias("n"),
        F.countDistinct("a").alias("na"),
        F.countDistinct("b").alias("nb"),
    )
    cell = (
        pairs.join(ca, "a").join(cb, "b").crossJoin(F.broadcast(tot))
    )
    e = F.col("c_a") * F.col("c_b") / F.col("n")
    chi = F.sum((F.col("c_ab") - e) * (F.col("c_ab") - e) / e)
    dep = F.sum(
        (F.col("c_ab") / F.col("n")) * F.log(F.col("c_ab") / F.col("c_b"))
    )
    agg1 = cell.groupBy("n", "na", "nb").agg(
        chi.alias("chi"), dep.alias("dep")
    )
    ha = (
        ca.crossJoin(F.broadcast(tot.select("n")))
        .agg(
            F.sum(
                (F.col("c_a") / F.col("n")) * F.log(F.col("c_a") / F.col("n"))
            ).alias("h_a")
        )
    )
    out = agg1.crossJoin(F.broadcast(ha))
    phi2 = F.col("chi") / F.col("n")
    n1 = F.col("n") - 1
    corr_a = F.col("na") - (F.col("na") - 1) * (F.col("na") - 1) / n1
    corr_b = F.col("nb") - (F.col("nb") - 1) * (F.col("nb") - 1) / n1
    res_bc = F.greatest(
        F.lit(0.0),
        phi2 - (F.col("na") - 1) * (F.col("nb") - 1) / n1,
    ) / (F.least(corr_a, corr_b) - 1)
    nan = F.lit(float("nan"))
    small = F.col("n") < 2
    return out.select(
        F.when(small, nan)
        .otherwise(F.sqrt(phi2 / (F.least("na", "nb") - 1)))
        .alias("cramers_v"),
        F.when(small, nan).otherwise(F.sqrt(res_bc)).alias("cramers_v_bc"),
        F.when(small, nan)
        .otherwise(F.sqrt(phi2 / (phi2 + F.col("n"))))
        .alias("contingency"),
        F.when(small, nan)
        .otherwise((F.col("dep") - F.col("h_a")) / F.col("h_a"))
        .alias("theils_u"),
    )


def exponential_moving_average(
    events: DataFrame,
    value_col: Column,
    time_col: Column,
    half_decay: float,
    group_cols: Optional[list[str]] = None,
) -> DataFrame:
    """exponentialMovingAverage(half_decay)(value, time) — reference
    AggregateFunctionExponentialMovingAverage.cpp over
    Common/ExponentiallySmoothedCounter.h: every value decays by
    2^(-dt/half_decay) toward the LATEST time in the group, and the sum
    divides by the constant weight sum 1/(1 - 2^(-1/half_decay)).
    Order-independent (merge remaps to max time), hence expressible as
    max(t) + one weighted sum — no window, no kernel."""
    groups = group_cols or []
    base = events.select(
        *groups, value_col.alias("v"), time_col.cast("double").alias("t")
    )
    tmax = base.groupBy(*groups).agg(F.max("t").alias("t_max"))
    joined = (
        base.join(F.broadcast(tmax), groups) if groups
        else base.crossJoin(F.broadcast(tmax))
    )
    w_sum = 1.0 / (1.0 - 2.0 ** (-1.0 / half_decay))
    num = F.sum(
        F.col("v") * F.pow(F.lit(2.0), (F.col("t") - F.col("t_max")) / half_decay)
    )
    return joined.groupBy(*groups).agg((num / F.lit(w_sum)).alias("ema"))


def funnel_rep3(
    levels_with_times: DataFrame,
    n_steps: int,
    slot_col: str = "slot",
) -> DataFrame:
    """funnelRep3 (reference AggregateFunctionFunnelRep3.h — the per-step
    "TEA format" report): for each watch slot and step e, the count of
    users whose funnel level EXCEEDS e, plus interval statistics
    (count/sum/min/max/avg and the 0.25/0.5/0.75 quantiles) of the time
    from step 1 to step e+1 for users who reached it.  The reference keeps
    a tdigest per cell; this form computes EXACT percentiles (the same
    documented deviation as funnel_rep2 — an approximation of what one
    exact aggregate gives on Spark).

    Input: the finder_funnel(emit_times=True) frame (slot, level, t1..tN).
    Output: one row per (slot, step) with scalar columns."""
    rows = []
    for e in range(n_steps):
        te = F.col(f"t{e + 1}")
        iv = (te - F.col("t1")).cast("double")
        rows.append(
            levels_with_times.select(
                F.col(slot_col),
                F.lit(e).alias("step"),
                (F.col("funnel_level") > e).cast("long").alias("reached"),
                F.when(te.isNotNull(), iv).alias("iv"),
            )
        )
    cells = rows[0]
    for r in rows[1:]:
        cells = cells.unionByName(r)
    return cells.groupBy(slot_col, "step").agg(
        F.sum("reached").alias("cnt"),
        F.count("iv").alias("iv_count"),
        F.coalesce(F.sum("iv"), F.lit(0.0)).alias("iv_sum"),
        F.min("iv").alias("iv_min"),
        F.max("iv").alias("iv_max"),
        F.percentile("iv", 0.25).alias("q25"),
        F.percentile("iv", 0.5).alias("q50"),
        F.percentile("iv", 0.75).alias("q75"),
    )


def path_split_reverse(
    events: DataFrame,
    gap_us: int,
    max_session_events: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """pathSplitR (reference AggregateFunctionPathSplit.cpp template
    <reversed=true>; PathSplitData::sort(reverse) orders time DESC): the
    stream is scanned newest-to-oldest, sessions split where the BACKWARD
    step exceeds ``gap_us``, and each session's path lists event types in
    reverse-chronological order.  Same pure-JVM window+sort shape as
    path_split."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    brk = F.when(
        F.unix_micros(F.lag(ts_col).over(w)) - F.unix_micros(F.col(ts_col)) > gap_us,
        1,
    ).otherwise(0)
    sess = events.withColumn(
        "session_id",
        (F.lit(1) + F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .cast("int"),
    )
    ordered_path = F.transform(
        F.reverse(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros(F.col(ts_col)).alias("t"),
                        F.col(id_col).alias("i"),
                        F.col(type_col).alias("e"),
                    )
                )
            )
        ),
        lambda s: s["e"],
    )
    if max_session_events is not None:
        ordered_path = F.slice(ordered_path, 1, max_session_events)
    return sess.groupBy(user_col, "session_id").agg(
        ordered_path.alias("path"), F.count(F.lit(1)).alias("n_events")
    )


def session_split_r2(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    param_col: str = "event_type",
) -> DataFrame:
    """sessionSplitR2 (reference AggregateFunctionSessionSplit.h:234-275):
    per-session (duration, depth, entry_param, exit_param) tuples — the
    type=2 flavor (entry from the FIRST event, exit from the LAST).  The
    reference's page-view event taxonomy (BeActive/...) reduces to plain
    sessionization over this engine's event rows.  Pure JVM: lag/cumsum
    sessionize + min_by/max_by endpoints."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    brk = F.when(
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w)) > gap_us,
        1,
    ).otherwise(0)
    sess = events.withColumn(
        "session_id",
        (F.lit(1) + F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .cast("int"),
    )
    key = F.struct(F.unix_micros(F.col(ts_col)).alias("t"), F.col(id_col).alias("i"))
    return sess.groupBy(user_col, "session_id").agg(
        (
            (F.max(F.unix_micros(F.col(ts_col))) - F.min(F.unix_micros(F.col(ts_col))))
            / 1_000_000
        ).cast("long").alias("duration_sec"),
        F.count(F.lit(1)).cast("long").alias("depth"),
        F.min_by(F.col(param_col), key).alias("entry_param"),
        F.max_by(F.col(param_col), key).alias("exit_param"),
    )


def page_time(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    url_col: str = "event_type",
) -> DataFrame:
    """pageTime (reference AggregateFunctionSessionSplit.h:794): per page
    URL, the visit count and total dwell duration across sessions.  The
    reference reads explicit be_active start/end columns from its
    page-view taxonomy; this engine derives dwell as the gap to the NEXT
    event inside the same session (the standard next-hit approximation —
    a session's last page contributes 0; documented).  Pure JVM:
    lag/cumsum sessionize + lead dwell + one groupBy(url)."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    brk = F.when(
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w)) > gap_us,
        1,
    ).otherwise(0)
    sess = events.withColumn(
        "__sid",
        (F.lit(1) + F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .cast("int"),
    )
    ws = Window.partitionBy(user_col, "__sid").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    dwell_us = F.coalesce(
        F.unix_micros(F.lead(ts_col).over(ws)) - F.unix_micros(F.col(ts_col)),
        F.lit(0),
    )
    return (
        sess.withColumn("__dwell", dwell_us)
        .groupBy(F.col(url_col).alias("url"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            (F.sum("__dwell") / 1_000_000).cast("long").alias("total_duration_sec"),
        )
    )
