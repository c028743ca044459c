"""Property tests for the behavioral kernel cores (pure numpy — no Spark in
the hypothesis loop) plus one Spark round-trip sanity check per kernel."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from byconity_spark.udafs.behavioral import (
    funnel_level_from_arrays,
    subsequence_matched,
)

events_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50), st.sampled_from("ABC")),
    max_size=30,
)


def _brute_funnel(events: list[tuple[int, str]], steps: str, window: int) -> int:
    """Reference semantics: anchor = earliest step-1 event; each next step is
    the earliest strictly-later event of its type within window of anchor."""
    s0 = sorted(t for t, e in events if e == steps[0])
    if not s0:
        return 0
    anchor = s0[0]
    prev, level = anchor, 1
    for step in steps[1:]:
        nxt = sorted(t for t, e in events if e == step and prev < t <= anchor + window)
        if not nxt:
            break
        prev = nxt[0]
        level += 1
    return level


def _brute_subseq(events: list[tuple[int, str]], pattern: str) -> bool:
    """Exists a strictly increasing chain matching pattern (exhaustive DP)."""
    times = sorted(events)

    def rec(i: int, prev: float) -> bool:
        if i == len(pattern):
            return True
        return any(
            rec(i + 1, t) for t, e in times if e == pattern[i] and t > prev
        )

    return rec(0, float("-inf"))


@settings(max_examples=300, deadline=None)
@given(events=events_strategy, window=st.integers(min_value=0, max_value=60))
def test_funnel_matches_reference(events, window):
    per_step = [
        np.sort(np.array([t for t, e in events if e == s], dtype=np.int64))
        for s in "ABC"
    ]
    assert funnel_level_from_arrays(per_step, window) == _brute_funnel(
        events, "ABC", window
    )


@settings(max_examples=300, deadline=None)
@given(events=events_strategy)
def test_subsequence_matches_exhaustive(events):
    """Greedy earliest-match equals exhaustive search for subsequence
    existence."""
    per_cond = [
        np.sort(np.array([t for t, e in events if e == s], dtype=np.int64))
        for s in "AB"
    ]
    assert subsequence_matched(per_cond) == _brute_subseq(events, "AB")


def _brute_gap_chain_exists(events, pattern, gaps) -> bool:
    """Exhaustive search for a strictly increasing chain with per-step gap
    bounds."""
    times = sorted(events)

    def rec(stage: int, prev_t: float) -> bool:
        if stage == len(pattern):
            return True
        for t, e in times:
            if e != pattern[stage]:
                continue
            if stage == 0:
                if rec(1, t):
                    return True
            elif prev_t < t <= prev_t + gaps[stage - 1]:
                if rec(stage + 1, t):
                    return True
        return False

    return rec(0, float("-inf"))


@settings(max_examples=300, deadline=None)
@given(
    events=events_strategy,
    g1=st.integers(min_value=0, max_value=20),
    g2=st.integers(min_value=0, max_value=20),
)
def test_gap_constrained_match_vs_bruteforce(events, g1, g2):
    from byconity_spark.udafs.behavioral import subsequence_matched_gaps

    per_cond = [
        np.sort(np.array([t for t, e in events if e == s], dtype=np.int64))
        for s in "ABC"
    ]
    assert subsequence_matched_gaps(per_cond, [g1, g2]) == _brute_gap_chain_exists(
        events, "ABC", [g1, g2]
    )


def _brute_max_disjoint_chains(types: list[str], pattern: list[str]) -> int:
    """Exhaustive DP: maximum number of disjoint ordered chains."""
    from functools import lru_cache

    n, k = len(types), len(pattern)

    @lru_cache(maxsize=None)
    def rec(i: int, stage: int, done: int) -> int:
        if i == n:
            return done
        best = rec(i + 1, stage, done)  # skip event
        if types[i] == pattern[stage]:
            if stage + 1 == k:
                best = max(best, rec(i + 1, 0, done + 1))
            else:
                best = max(best, rec(i + 1, stage + 1, done))
        return best

    return rec(0, 0, 0)


@settings(max_examples=300, deadline=None)
@given(events=events_strategy)
def test_sequence_count_greedy_is_optimal(events):
    import numpy as np

    from byconity_spark.udafs.behavioral import sequence_count_core

    types = [e for _, e in sorted(events)]
    greedy = sequence_count_core(np.array(types, dtype=object), ["A", "B"])
    assert greedy == _brute_max_disjoint_chains(tuple(types), ["A", "B"])


# ------------------------------------------------------------- Spark sanity
def test_session_split_roundtrip(spark):
    from byconity_spark.udafs.behavioral import session_split

    rows = [
        (1, 100, "2024-01-01 10:00:00", 1.0),
        (2, 100, "2024-01-01 10:10:00", 2.0),
        (3, 100, "2024-01-01 11:30:00", 3.0),  # 80-min gap -> new session
        (4, 200, "2024-01-01 09:00:00", 4.0),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.user_id, r.session_id): (r.n_events, r.sum_value)
        for r in session_split(df, gap_us=1_800_000_000).collect()
    }
    assert out == {(100, 1): (2, 3.0), (100, 2): (1, 3.0), (200, 1): (1, 4.0)}


# ---------------------------------------------------------------- strict modes

def _modes(events, window=100, **flags):
    """events: list of (t, type) in given order; id = list index."""
    from byconity_spark.udafs.behavioral import funnel_level_modes_core

    order = sorted(range(len(events)), key=lambda i: (events[i][0], i))
    ts = np.array([events[i][0] for i in order], dtype=np.int64)
    tp = np.array([events[i][1] for i in order])
    return funnel_level_modes_core(tp, ts, ["A", "B", "C"], window, **flags)


def test_strict_order_breaks_on_intervening_event():
    ev = [(0, "A"), (1, "B"), (2, "D"), (3, "C")]
    assert _modes(ev) == 3
    assert _modes(ev, strict_order=True) == 2  # D interrupts before C


def test_strict_dedup_breaks_on_repeat():
    ev = [(0, "A"), (1, "A"), (2, "B"), (3, "C")]
    assert _modes(ev) == 3
    assert _modes(ev, strict_dedup=True) == 1  # repeated A freezes level
    assert _modes(ev, strict_order=True) == 1
    ev2 = [(0, "A"), (1, "B"), (2, "A"), (3, "C")]
    assert _modes(ev2, strict_dedup=True) == 2


def test_strict_dedup_ignores_future_step():
    # a not-yet-expected C between A and B is ignored under dedup
    ev = [(0, "A"), (1, "C"), (2, "B"), (3, "C")]
    assert _modes(ev, strict_dedup=True) == 3
    assert _modes(ev, strict_order=True) == 1


def test_strict_increase_and_anchor_ties():
    # B tied with the anchor timestamp is skipped entirely
    assert _modes([(0, "A"), (0, "B"), (1, "C")]) == 1
    # B and C share t=1: default advances on ties, strict_increase stops
    ev = [(0, "A"), (1, "B"), (1, "C")]
    assert _modes(ev) == 3
    assert _modes(ev, strict_increase=True) == 2
    # window still binds
    assert _modes([(0, "A"), (10, "B")], window=5) == 1


def test_finder_funnel_by_times_counts_every_pass(spark):
    from byconity_spark.udafs.behavioral import finder_funnel_by_times

    # user 1, all inside slot 0 (day 0), window 100 s:
    #   A@10 -> B@20 -> C@30   (complete chain, consumes B@20/C@30)
    #   A@15 -> B@40           (B@20 already consumed; no C left in window)
    #   A@400                  (alone: level 1)
    # => slot 0: reach1=3, reach2=2, reach3=1
    rows = [
        (1, 10, "A"), (1, 15, "A"), (1, 20, "B"), (1, 30, "C"),
        (1, 40, "B"), (1, 400, "A"),
        # user 2: signup before watch_start is dropped entirely
        (2, -5, "A"), (2, 3, "B"),
    ]
    df = spark.createDataFrame(
        [(u, t * 1_000_000, f"t{i}") for i, (u, t, tp) in enumerate(rows)],
        "user_id long, us long, event_id string",
    ).selectExpr(
        "user_id", "timestamp_micros(us) AS ts", "event_id"
    )
    types = spark.createDataFrame(
        [(f"t{i}", tp) for i, (u, t, tp) in enumerate(rows)],
        "event_id string, event_type string",
    )
    ev = df.join(types, "event_id")
    out = {
        (r.user_id, r.slot): (r.reach1, r.reach2, r.reach3)
        for r in finder_funnel_by_times(
            ev,
            watch_start_us=0,
            watch_step_us=86_400_000_000,
            watch_numbers=10,
            window_us=100_000_000,
            steps=["A", "B", "C"],
        ).collect()
    }
    assert out == {(1, 0): (3, 2, 1)}


# ---------------------------------------------------------------- sliding

def _sliding(events, window=100, **flags):
    from byconity_spark.udafs.behavioral import funnel_level_sliding_core

    order = sorted(range(len(events)), key=lambda i: (events[i][0], i))
    ts = np.array([events[i][0] for i in order], dtype=np.int64)
    tp = np.array([events[i][1] for i in order])
    return funnel_level_sliding_core(tp, ts, ["A", "B", "C"], window, **flags)


def test_sliding_anchor_rescues_late_start():
    # first A's window misses B entirely; the second A re-anchors (CH
    # default) and completes — the pinned first-anchor variant stays at 1
    ev = [(0, "A"), (200, "A"), (250, "B"), (260, "C")]
    assert _modes(ev) == 1
    assert _sliding(ev) == 3


def test_sliding_chain_window_binds_to_own_anchor():
    # B chains from A@0 (within window), but C@150 is outside A@0+100;
    # no later A->B chain exists, so level stays 2
    ev = [(0, "A"), (50, "B"), (150, "C")]
    assert _sliding(ev) == 2
    # re-anchor at 120 without a following B does not help
    assert _sliding(ev + [(120, "A")]) == 2
    # ...but a B after the re-anchor completes via the NEW chain
    assert _sliding(ev + [(120, "A"), (140, "B")]) == 3


def test_sliding_strict_flags():
    # strict_increase: ties on the chain's last matched ts stop the extend
    assert _sliding([(0, "A"), (1, "B"), (1, "C")]) == 3
    assert _sliding([(0, "A"), (1, "B"), (1, "C")], strict_increase=True) == 2
    # strict_order: untracked event after the first A breaks the walk
    assert _sliding([(0, "A"), (1, "X"), (2, "B")], strict_order=True) == 1
    # strict_dedup: re-matching an already-set step returns the previous
    # tracked event's step number (CH events_list[i-1].second replica)
    assert _sliding([(0, "A"), (1, "B"), (2, "B"), (3, "C")], strict_dedup=True) == 2


def _sliding_bruteforce(events, window):
    """Max k with an existing chain A->..->step_k inside one window, over
    the (ts, idx)-sorted stream — the EXISTS formulation the DuckDB oracle
    of beh_window_funnel_sliding uses."""
    order = sorted(range(len(events)), key=lambda i: (events[i][0], i))
    ts = [events[i][0] for i in order]
    tp = [events[i][1] for i in order]
    n = len(order)
    steps = ["A", "B", "C"]
    best = 0
    import itertools

    for k in range(1, 4):
        for combo in itertools.combinations(range(n), k):
            if [tp[i] for i in combo] != steps[:k]:
                continue
            if ts[combo[-1]] <= ts[combo[0]] + window:
                best = max(best, k)
                break
    return best


@settings(max_examples=300, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.sampled_from("ABCXY")),
        max_size=12,
    ),
    window=st.integers(min_value=0, max_value=40),
)
def test_sliding_default_equals_chain_existence(events, window):
    """The CH sliding walk (default flags) returns exactly the deepest level
    for which a chain exists inside one window — the equivalence the SQL
    oracle relies on."""
    assert _sliding(events, window) == _sliding_bruteforce(events, window)


modes_events = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), st.sampled_from("ABCXY")),
    max_size=25,
)


@settings(max_examples=300, deadline=None)
@given(events=modes_events, window=st.integers(min_value=0, max_value=40))
def test_strict_mode_level_ordering(events, window):
    """Monotone strictness: order <= dedup <= default, increase <= default,
    and all levels in [0, 3]."""
    base = _modes(events, window)
    dedup = _modes(events, window, strict_dedup=True)
    order = _modes(events, window, strict_order=True)
    incr = _modes(events, window, strict_increase=True)
    assert 0 <= order <= dedup <= base <= 3
    assert 0 <= incr <= base


@settings(max_examples=300, deadline=None)
@given(events=modes_events, window=st.integers(min_value=0, max_value=40))
def test_strict_increase_equals_searchsorted_core(events, window):
    """The sequential walk with strict_increase must agree with the
    vectorized per-step searchsorted core (both = strictly-later chain
    anchored at the first step-1 event)."""
    from byconity_spark.udafs.behavioral import funnel_level_from_arrays

    per_step = [
        np.sort(np.array([t for t, e in events if e == s], dtype=np.int64))
        for s in "ABC"
    ]
    assert _modes(events, window, strict_increase=True) == funnel_level_from_arrays(
        per_step, window
    )


# ------------------------------------------------------------------ xirr

def test_xirr_known_values():
    from byconity_spark.udafs.behavioral import xirr_core

    # classic example: invest 1000, receive 1100 one year later -> 10%
    assert abs(xirr_core(np.array([-1000.0, 1100.0]), np.array([0.0, 365.0])) - 0.10) < 1e-6
    # two-year doubling -> sqrt(2)-1
    r = xirr_core(np.array([-1000.0, 2000.0]), np.array([0.0, 730.0]))
    assert abs(r - (2 ** 0.5 - 1)) < 1e-6
    # all-positive flows -> NaN
    assert np.isnan(xirr_core(np.array([10.0, 20.0]), np.array([0.0, 365.0])))
    # multi-flow: NPV at returned rate is ~0
    a = np.array([-5000.0, 1000.0, 1500.0, 2000.0, 1800.0])
    d = np.array([0.0, 90.0, 180.0, 270.0, 360.0])
    r = xirr_core(a, d)
    npv = np.sum(a / (1.0 + r) ** (d / 365.0))
    assert abs(npv) < 1e-6


def test_attribution_value_conserved(spark):
    """Every model distributes exactly the total conversion value."""
    from byconity_spark.udafs.behavioral import attribution_multi_touch
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, evs in {
        1: [("view", 0), ("click", 24), ("purchase", 48)],
        2: [("purchase", 0)],                      # no touch -> direct
        3: [("click", 0), ("view", 1), ("click", 2), ("purchase", 3)],
    }.items():
        for tp, hours in evs:
            rows.append((eid, u, base + dt.timedelta(hours=hours), tp, 100.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    total = 3 * 100.0
    for model in ["linear", "position", "time_decay"]:
        out = attribution_multi_touch(
            df, touch_types=["click", "view"], conv_type="purchase", model=model
        ).collect()
        assert abs(sum(r.attributed_value for r in out) - total) < 1e-9
        assert abs(sum(r.n_conversions for r in out) - 3.0) < 1e-9
    # position model, user 3: first(click)=.4, last(click)=.4, middle(view)=.2
    pos = {
        r.channel: r.attributed_value
        for r in attribution_multi_touch(
            df, touch_types=["click", "view"], conv_type="purchase", model="position"
        ).collect()
    }
    # view credit: u1 first-of-two (0.5*100) + u3 middle (0.2*100) = 70
    assert abs(pos["view"] - 70.0) < 1e-9


def test_debias_auc_undoes_downsampling(spark):
    """Downsampling negatives at rate r with weight 1/r must reproduce the
    full-data AUC (the whole point of debiasAuc)."""
    import numpy as np
    from pyspark.sql import functions as F

    from byconity_spark.udafs.behavioral import debias_auc

    rng = np.random.default_rng(5)
    n = 20_000
    labels = (rng.random(n) < 0.1).astype(int)
    scores = rng.random(n) * 0.2 + labels * rng.random(n) * 0.8
    rows = [(float(s), int(l)) for s, l in zip(scores, labels)]
    df = spark.createDataFrame(rows, "score double, label int")
    full = debias_auc(
        df, F.col("score"), F.col("label") == 1, n_bins=50_000, lo=0.0, hi=1.0
    ).collect()[0].auc

    rate = 0.25  # keep 25% of negatives
    keep = df.filter(
        (F.col("label") == 1) | (F.xxhash64("score") % 100 < 25)
    ).withColumn(
        "sr", F.when(F.col("label") == 1, F.lit(1.0)).otherwise(F.lit(rate))
    )
    debiased = debias_auc(
        keep, F.col("score"), F.col("label") == 1, F.col("sr"),
        n_bins=50_000, lo=0.0, hi=1.0,
    ).collect()[0].auc
    assert abs(debiased - full) < 0.01


def test_slide_and_range_guards_return_zero_arrays(spark):
    """Reference SlideMatchCount.h / LastRangeCount.h add(): out-of-range
    windows contribute nothing — the result is zero counts, never an
    unresolved-column crash (ADVICE r03)."""
    from byconity_spark.udafs.behavioral import last_range_count, slide_match_count

    states = spark.createDataFrame(
        [(1, 0, 3), (1, 1, 1)], "u long, slot long, state int"
    )
    # pattern longer than start_index+1 → all-zero
    r = slide_match_count(states, pattern=[3, 1, 1], start_index=1,
                          num_slides=2, total_slots=4).collect()
    assert r[0][0] == "0|0" or list(r[0][0]) == [0, 0]
    # window runs past total_slots → all-zero
    r = slide_match_count(states, pattern=[1], start_index=2,
                          num_slides=5, total_slots=4).collect()
    assert r[0][0] == "0|0|0|0|0" or list(r[0][0]) == [0, 0, 0, 0, 0]
    # duration exceeds start_index+1 → all-zero
    r = last_range_count(states, duration=4, start_index=1,
                         num_slides=2, total_slots=4).collect()
    assert r[0][0] == "0|0" or list(r[0][0]) == [0, 0]


def test_funnel_path_split_by_times_multi_anchor(spark):
    """ByTimes variant: every anchor opens a NEW path; later events join the
    most recent open path inside its window (reference
    AggregateFunctionFunnelPathSplitByTimes.h insertResultInto)."""
    from byconity_spark.udafs.behavioral import funnel_path_split_by_times
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # first anchor + two events, second anchor + one event, late event
        (1, t0, 1, "signup"),
        (1, t0 + dt.timedelta(minutes=1), 2, "click"),
        (1, t0 + dt.timedelta(minutes=2), 3, "view"),
        (1, t0 + dt.timedelta(hours=1), 4, "signup"),
        (1, t0 + dt.timedelta(hours=1, minutes=5), 5, "purchase"),
        # outside the 30-minute window of the second anchor -> dropped
        (1, t0 + dt.timedelta(hours=2), 6, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {
        r.path_no: list(r.path)
        for r in funnel_path_split_by_times(
            ev, anchor_type="signup", window_us=30 * 60 * 1_000_000
        ).collect()
    }
    assert out == {
        1: ["signup", "click", "view"],
        2: ["signup", "purchase"],
    }


def test_adaptive_buckets_scale_with_input_size(spark, monkeypatch):
    """Bucket/partition counts derive from the optimizer's size estimate
    (guide §2: scale-adaptive partitioning): partitions floored at one
    per core (a tiny kernel shuffle must not serialize a CPU-heavy Python
    kernel),
    growing with input past ~32 MB/task; buckets = 4x partitions so the
    bucket hash spreads — and the bucketed result set is identical at
    any count."""
    from byconity_spark.engine.catalog import load_table
    from byconity_spark.udafs import kernel
    from byconity_spark.udafs.behavioral import window_funnel
    from byconity_spark.udafs.kernel import (
        _BUCKET_TARGET_BYTES,
        _BUCKETS_PER_TASK,
        _MIN_KERNEL_TASKS,
        _kernel_layout,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    nb, nparts = _kernel_layout(ev)
    est = int(ev._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    want_parts = max(
        _MIN_KERNEL_TASKS,
        min(1 << 18, est // (_BUCKETS_PER_TASK * _BUCKET_TARGET_BYTES)),
    )
    assert nparts == want_parts
    assert nb == _BUCKETS_PER_TASK * nparts
    # tiny test inputs sit on the task floor
    assert nparts == _MIN_KERNEL_TASKS

    day = 86_400_000_000
    adaptive = sorted(
        map(tuple, window_funnel(
            ev, window_us=7 * day, steps=["signup", "click", "purchase"]
        ).collect())
    )
    # a 16-task floor lays the same input out over 64 buckets
    monkeypatch.setattr(kernel, "_MIN_KERNEL_TASKS", 16)
    assert _kernel_layout(ev) == (64, 16)
    fixed64 = sorted(
        map(tuple, window_funnel(
            ev, window_us=7 * day, steps=["signup", "click", "purchase"],
        ).collect())
    )
    assert adaptive == fixed64


def test_kernel_layout_unknown_estimate_falls_back_to_parallelism(spark):
    """An RDD-backed frame (LogicalRDD) reports spark.sql.defaultSizeInBytes
    (~Long.MaxValue) as its size estimate — the layout must treat that as
    'unknown' and fall back to the parallelism floor, never turn it into
    a quarter-million-task shuffle."""
    from byconity_spark.udafs.kernel import _BUCKETS_PER_TASK, _kernel_layout

    df = spark.createDataFrame(
        [(1, 100)], "event_id long, user_id long"
    )
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= (1 << 50)  # precondition: the estimate really is bogus
    nb, nparts = _kernel_layout(df)
    par = spark.sparkContext.defaultParallelism
    assert (nb, nparts) == (_BUCKETS_PER_TASK * par, par)


def _window_funnel_entry(ev):
    from byconity_spark.udafs.behavioral import window_funnel

    return window_funnel(ev, window_us=7 * 86_400_000_000, steps=["signup", "click"])


def _attribution_entry(ev):
    from byconity_spark.udafs.attribution import attribution_analysis_partials

    return attribution_analysis_partials(
        ev, target_event="purchase", touch_events=["click"], back_time_ms=1000
    )


def _group_bitmap_entry(ev):
    from byconity_spark.udafs.bitmaps import group_bitmap

    return group_bitmap(ev, ["event_type"], "user_id")


def _uniq_state_entry(ev):
    from byconity_spark.udafs.sketches import uniq_state

    return uniq_state(ev, ["event_type"], "user_id")


@pytest.mark.parametrize(
    "entry",
    [_window_funnel_entry, _attribution_entry, _group_bitmap_entry, _uniq_state_entry],
    ids=["behavioral", "attribution", "bitmaps", "sketches"],
)
def test_bucketed_kernel_single_exchange_pinned_parallelism(spark, entry):
    """The bucketed kernel scaffold must shuffle exactly once: the explicit
    repartition(P, __b) both pins the kernel stage's parallelism (AQE's
    byte-based coalescing would run CPU-heavy Python kernels in ONE task)
    and satisfies groupBy(__b)'s clustering, so no second exchange."""
    from byconity_spark.engine.catalog import load_table
    from byconity_spark.udafs.kernel import _kernel_layout
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    df = entry(ev)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan
    _, nparts = _kernel_layout(ev)
    assert f"hashpartitioning(__b#" in plan and f", {nparts})" in plan
