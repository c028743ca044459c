"""Attribution-analysis family — the last big behavioral block from the
reference:

* ``attributionAnalysis``      — reference src/AggregateFunctions/
  AggregateFunctionAttributionAnalysis.h (journey split at each target
  event, backward scan with back-time window + procedure gating, five
  contribution modes, ``$other_conversions`` bucket).
* ``attributionAnalysisFuse``  — AggregateFunctionAttributionAnalysisFuse.h
  (second-stage merge: ratio, contribution = value/total, 10-bucket
  time/step distributions, top-N by value keeping ``$other``).
* ``attributionCorrelation``   — AggregateFunctionAttributionCorrelation.h
  (per-touch Spearman rank correlation over per-group (total, valid)
  feature pairs + the same distributions).
* ``attributionCorrelationFuse`` — AggregateFunctionAttributionCorrelationFuse.h
  is the partial-merge stage of the same computation (it consumes and
  re-merges correlation states); attribution_correlation() computes the
  fused result directly from the partial frame, so no separate entry
  point is needed — Spark's aggregate already IS the two-stage merge.

Spark-first shape: ONE pass of the grouped-kernel scaffold
(``udafs/kernel.py``) per user produces per-(user, touch) partial rows (the equivalent of the reference's
per-place state); everything downstream — integration, ratios,
distributions, Spearman — is plain DataFrame algebra (map-side combinable
aggregates + bounded 10-slot frames), so the plan scales with the number
of distinct touch keys, not with raw events.

Semantics notes (mirroring the reference exactly):

* Events sort by (time, name) — AttrAnalysisEvent::operator< (we add
  event_id as a final tie-break for determinism; the reference's
  std::sort is unstable on exact duplicates).
* Journeys split AFTER each target event; a trailing journey with no
  target contributes nothing (getAndProcessValidEvents early-returns).
* The backward scan BREAKS at the first out-of-window touch
  (AttributionAnalysis.h:464); ``back_time == 0`` means "same calendar
  day (UTC)" — date_lut.toDayNum comparison at :462.
* A touch is valid only when every procedure type was seen between it and
  the target (the backward scan accumulates procedure types; :467).
* Contribution modes (calculateContribution, :505-580):
    0 — earliest valid touch gets 1.0 (scan of valid_events from the end)
    1 — latest valid touch gets 1.0
    2 — proportional to per-type valid counts
    3 — position (o, p, q); falls back to mode 2 when all_cnt < 3; the
        LATEST occurrence gets q, the EARLIEST gets o, middles share p
    4 — time decay 0.5^(Δms DIV t_ms) (integer division — transform_time
        and t are both UInt64 in the reference), normalized per journey
* value[i] = total_value * contribution[i] when the target's value is
  positive, else the raw contribution (:493-502).
* ``$other_conversions`` exists whenever other_transform is set (even
  all-zero, getMultipleEvents:394-398); a journey with no valid touch
  adds click_cnt 1 and value (total_value if > 0 else 1.0) to it.
* The reference's final attributionAnalysis ``contribution`` output array
  is all zeros (integrateResult never sums it) — we therefore do not
  expose a contribution column from attribution_analysis(); Fuse defines
  the meaningful contribution = value / total_value.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from byconity_spark.udafs.kernel import per_key

_DAY_MS = 86_400_000

_PARTIAL_SCHEMA = (
    "touch_event string, touch_attr string, "
    "click_cnt long, valid_cnt long, value double, "
    "times array<long>, steps array<long>"
)


def attribution_analysis_partials(
    events: DataFrame,
    target_event: str,
    touch_events: Sequence[str],
    procedure_events: Optional[Sequence[str]] = None,
    back_time_ms: int = 0,
    mode: int = 0,
    other_transform: bool = False,
    t_ms: int = 3_600_000,
    o: float = 0.4,
    p: float = 0.2,
    q: float = 0.4,
    procedure_attr_match: bool = False,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    attr_col: Optional[str] = None,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-(user, touch) partial attribution state — one row per touch key
    the user hit, with click_cnt (ALL touch occurrences), valid_cnt,
    attributed value, and the transform time (ms) / step gap lists.

    This is the distributed analogue of the reference's per-place
    AggregateFunctionAttributionAnalysisData; every downstream surface
    (analysis / fuse / correlation) is an aggregate over these rows.
    ``times`` entries are milliseconds (the reference's event_time unit).
    """
    touch_list = list(touch_events)
    procs = list(procedure_events or [])
    relevant = [target_event] + procs + touch_list
    sel = events.filter(F.col(type_col).isin(relevant)).select(
        F.col(user_col).cast("long").alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(type_col).alias("name"),
        (F.col(attr_col) if attr_col else F.lit("")).cast("string").alias("attr"),
        F.col(value_col).cast("double").alias("value"),
        F.col(id_col).cast("long").alias("eid"),
    )
    back_us = back_time_ms * 1000
    proc_set = set(procs)
    n_procs = len(procs)
    touch_set = set(touch_list) - proc_set - {target_event}

    def _user_partials(ts, names, attrs, vals) -> list[tuple]:
        res: dict[tuple, list] = {}

        def ent(key: tuple) -> list:
            e = res.get(key)
            if e is None:
                e = [0, 0, 0.0, [], []]
                res[key] = e
            return e

        if other_transform:
            ent(("$other_conversions", ""))

        is_target = names == target_event
        for nm, at in zip(names, attrs):
            if nm in touch_set:
                ent((nm, at))[0] += 1

        start = 0
        for pos in np.flatnonzero(is_target):
            pos = int(pos)
            tgt_t = ts[pos]
            tgt_attr = attrs[pos]
            tv = vals[pos] if vals[pos] >= 0 else -1.0
            seen: set = set()
            all_proc = n_procs == 0
            occs: list[tuple] = []  # (key, dt_us, step), latest touch first
            for i in range(pos - 1, start - 1, -1):
                nm = names[i]
                if nm in proc_set:
                    if not all_proc and (
                        not procedure_attr_match or attrs[i] == tgt_attr
                    ):
                        seen.add(nm)
                        all_proc = len(seen) == n_procs
                elif nm in touch_set:
                    dt = int(tgt_t - ts[i])
                    if back_us > 0:
                        out = dt > back_us
                    else:
                        out = (tgt_t // 1000) // _DAY_MS != (ts[i] // 1000) // _DAY_MS
                    if out:
                        break
                    if all_proc:
                        key = (nm, attrs[i])
                        e = ent(key)
                        e[1] += 1
                        e[3].append(dt // 1000)
                        e[4].append(pos - i)
                        occs.append((key, dt, pos - i))
            start = pos + 1

            if not occs:
                if other_transform:
                    e = ent(("$other_conversions", ""))
                    e[0] += 1
                    e[2] += tv if tv > 0 else 1.0
                continue

            contrib: dict[tuple, float] = {}
            all_cnt = len(occs)
            if mode == 0:
                contrib[occs[-1][0]] = 1.0
            elif mode == 1:
                contrib[occs[0][0]] = 1.0
            elif mode == 2 or (mode == 3 and all_cnt < 3):
                for key, _, _ in occs:
                    contrib[key] = contrib.get(key, 0.0) + 1.0 / all_cnt
            elif mode == 3:
                avg = p / (all_cnt - 2)
                for cnt, (key, _, _) in enumerate(occs):
                    extra = (
                        (q - avg)
                        if cnt == 0
                        else (o - avg) if cnt == all_cnt - 1 else 0.0
                    )
                    contrib[key] = contrib.get(key, 0.0) + avg + extra
            elif mode == 4:
                raws = [
                    (key, 0.5 ** ((dt // 1000) // t_ms)) for key, dt, _ in occs
                ]
                tot = sum(r for _, r in raws)
                if tot > 0:
                    for key, r in raws:
                        contrib[key] = contrib.get(key, 0.0) + r / tot
            else:
                raise ValueError(f"unknown attribution mode: {mode}")
            for key, c in contrib.items():
                e = ent(key)
                e[2] += tv * c if tv > 0 else c

        return [
            (k[0], k[1], e[0], e[1], e[2], e[3], e[4])
            for k, e in res.items()
        ]

    # one kernel call per user bucket, events in (ts, name, eid) order
    return per_key(
        sel, ["user_id"], ["ts_us", "name", "attr", "value"], _user_partials,
        _PARTIAL_SCHEMA, order=["ts_us", "name", "eid"],
    )


def attribution_analysis(events: DataFrame, **kwargs) -> DataFrame:
    """attributionAnalysis final surface: per (touch_event, touch_attr) —
    click_cnt, valid_transform_cnt, attributed value, and the transform
    time/step totals (the reference returns the raw per-occurrence arrays;
    their flattened sums are the scalar projection — full arrays stay
    available from attribution_analysis_partials).

    Reference quirk reproduced by omission: the analysis-level
    ``contribution`` output is always zero (integrateResult never sums
    it), so no contribution column is exposed here.
    """
    parts = attribution_analysis_partials(events, **kwargs)
    return parts.groupBy("touch_event", "touch_attr").agg(
        F.sum("click_cnt").alias("click_cnt"),
        F.sum("valid_cnt").alias("valid_transform_cnt"),
        F.sum("value").alias("value"),
        F.sum(F.aggregate("times", F.lit(0).cast("long"), lambda a, x: a + x)).alias(
            "gap_ms_sum"
        ),
        F.sum(F.aggregate("steps", F.lit(0).cast("long"), lambda a, x: a + x)).alias(
            "steps_sum"
        ),
    )


def _dist10(occ: DataFrame, key_cols: list, val_col: str) -> DataFrame:
    """AttributionAnalysisFuse.h getDistributionByOriginal: 10 fixed
    buckets over [min, max] with gap = (max-min) DIV 10 + 1 (UInt64
    arithmetic), counting only items > 0 at slot (item-min) DIV gap.
    Returns one '|'-joined 10-slot string per key; keys with no
    occurrences at all are handled by callers (reference emits [0]).
    Bounded shape: one groupBy for min/max, one for slot counts — both
    map-side combinable."""
    stats = occ.groupBy(*key_cols).agg(
        F.min(val_col).alias("mn"), F.max(val_col).alias("mx")
    )
    gap = ((F.col("mx") - F.col("mn")) / 10).cast("long") + 1
    cnts = (
        occ.join(stats, key_cols)
        .filter(F.col(val_col) > 0)
        .withColumn("b", ((F.col(val_col) - F.col("mn")) / gap).cast("long"))
        .groupBy(*key_cols, "b")
        .count()
    )
    slots = cnts.groupBy(*key_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("b", "count"))).alias("m")
    )
    dist = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda i: F.coalesce(F.element_at("m", i.cast("long")), F.lit(0)),
        ),
        "|",
    )
    return stats.join(slots, key_cols, "left").select(
        *key_cols,
        F.when(F.col("m").isNull(), F.lit("0|0|0|0|0|0|0|0|0|0"))
        .otherwise(dist)
        .alias(f"{val_col}_dist"),
    )


def _dist10_pair(partials: DataFrame, keys: list) -> DataFrame:
    """Both 10-bucket distributions (times -> t_dist, steps -> s_dist) in
    ONE tagged _dist10 pass: the two occurrence frames union with a tag
    column and the tag rides the grouping key, so min/max, slot counts and
    slot assembly run as one aggregate chain instead of two (same
    per-(key, tag) bucket math — results identical, half the exchanges).
    Output: one row per key present in either array, columns t_dist/s_dist
    (NULL when that key has no occurrences for the tag, exactly like the
    unfused left joins)."""
    occ = partials.select(
        *keys, F.lit("t").alias("__tag"), F.explode("times").alias("v")
    ).unionByName(
        partials.select(
            *keys, F.lit("s").alias("__tag"), F.explode("steps").alias("v")
        )
    )
    d = _dist10(occ, keys + ["__tag"], "v")
    return d.groupBy(*keys).agg(
        F.max(F.when(F.col("__tag") == "t", F.col("v_dist"))).alias("t_dist"),
        F.max(F.when(F.col("__tag") == "s", F.col("v_dist"))).alias("s_dist"),
    )


def attribution_analysis_fuse(
    partials: DataFrame, top_n: int = 0, need_others: bool = False
) -> DataFrame:
    """attributionAnalysisFuse (AggregateFunctionAttributionAnalysisFuse.h
    insertResultInto): integrate per-group analysis rows per touch key,
    then — only when total value > 0, :326-335 — ratio = valid/click and
    contribution = value/total; 10-bucket time and step distributions;
    optional top-N by value that always keeps ``$other_conversions`` when
    need_others (getTopByValue:353-387; reference tie-break is internal
    map order, we use (value desc, touch_event, touch_attr) — documented
    deterministic deviation).

    Scale: aggregates per touch key + a broadcast single-row total; the
    distributions are 10-slot bounded frames.  The partial frame feeds
    three consumers (sums, time dist, step dist) — persist it so the
    applyInPandas kernel runs once."""
    partials = partials.persist()
    agg = partials.groupBy("touch_event", "touch_attr").agg(
        F.sum("click_cnt").alias("click_cnt"),
        F.sum("valid_cnt").alias("valid_transform_cnt"),
        F.sum("value").alias("value"),
    )
    keys = ["touch_event", "touch_attr"]
    total = agg.agg(F.sum("value").alias("total_value"))
    out = (
        agg.crossJoin(F.broadcast(total))
        .withColumn(
            "valid_transform_ratio",
            F.when(
                (F.col("total_value") > 0) & (F.col("click_cnt") != 0),
                F.col("valid_transform_cnt") / F.col("click_cnt"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "contribution",
            F.when(
                F.col("total_value") > 0, F.col("value") / F.col("total_value")
            ).otherwise(F.lit(0.0)),
        )
        .drop("total_value")
        .join(_dist10_pair(partials, keys), keys, "left")
        .withColumn("time_dist", F.coalesce("t_dist", F.lit("0")))
        .withColumn("step_dist", F.coalesce("s_dist", F.lit("0")))
        .drop("t_dist", "s_dist")
    )
    if top_n:
        w = Window.orderBy(
            F.col("value").desc(), F.col("touch_event"), F.col("touch_attr")
        )
        ranked = out.filter(F.col("touch_event") != "$other_conversions").withColumn(
            "_rn", F.row_number().over(w)
        )
        kept = ranked.filter(F.col("_rn") <= top_n).drop("_rn")
        if need_others:
            kept = kept.unionByName(
                out.filter(F.col("touch_event") == "$other_conversions")
            )
        out = kept
    return out


def attribution_correlation(partials: DataFrame) -> DataFrame:
    """attributionCorrelation (AggregateFunctionAttributionCorrelation.h):
    per touch key — summed clicks/valid/value, valid ratio, 10-bucket
    time/step distributions, and the Spearman rank correlation over the
    per-GROUP (total_click, valid_click) feature pairs.  A group (user)
    contributes its pairs for ALL its touch keys iff ANY of its touch
    keys has a valid click (mergeContribResultMap:88-108).

    The reference's Spearman (getRankCorrelation:233-327) uses average
    ranks for ties and 1 - 6Σd²/(n(n²-1)) — technically the no-ties
    formula, reproduced as-is; returns 0 when the valid-click sum is 0 or
    n < 2 (the NaN guard).  NOTE: the reference result depends on the
    partial-merge tree (features accumulate per merged state); we compute
    the canonical per-group pairs, which is what a single final merge
    yields.

    Scale: ranks are per-touch-key windows over per-user rows (bounded by
    users-per-touch), never a global sort.  Five consumers (sums,
    features, correlation, two distributions) — persist the kernel output
    once."""
    partials = partials.persist()
    keys = ["touch_event", "touch_attr"]
    agg = partials.groupBy(*keys).agg(
        F.sum("click_cnt").alias("click_cnt"),
        F.sum("valid_cnt").alias("valid_transform_cnt"),
        F.sum("value").alias("value"),
    )
    uv = partials.groupBy("user_id").agg(
        (F.max("valid_cnt") > 0).alias("has_valid")
    )
    feats = (
        partials.join(uv, "user_id")
        .filter("has_valid")
        .select(
            *keys,
            F.col("click_cnt").cast("double").alias("fx"),
            F.col("valid_cnt").cast("double").alias("fy"),
        )
    )
    wt = Window.partitionBy(*keys)
    rx = F.rank().over(wt.orderBy("fx")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*keys, "fx")) - 1
    ) / 2.0
    ry = F.rank().over(wt.orderBy("fy")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*keys, "fy")) - 1
    ) / 2.0
    ranked = feats.select(
        *keys, "fy", (rx - ry).alias("d")
    )
    corr = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("fy").alias("sumy"),
        F.sum(F.col("d") * F.col("d")).alias("d2"),
    ).select(
        *keys,
        F.when(
            (F.col("sumy") == 0) | (F.col("n") < 2), F.lit(0.0)
        )
        .otherwise(
            1.0
            - 6.0 * F.col("d2") / (F.col("n") * (F.col("n") * F.col("n") - 1))
        )
        .alias("correlation"),
    )
    return (
        agg.join(corr, keys, "left")
        .withColumn("correlation", F.coalesce("correlation", F.lit(0.0)))
        .withColumn(
            "valid_transform_ratio",
            F.when(
                F.col("click_cnt") != 0,
                F.col("valid_transform_cnt") / F.col("click_cnt"),
            ).otherwise(F.lit(0.0)),
        )
        .join(_dist10_pair(partials, keys), keys, "left")
        .withColumn("time_dist", F.coalesce("t_dist", F.lit("0")))
        .withColumn("step_dist", F.coalesce("s_dist", F.lit("0")))
        .drop("t_dist", "s_dist")
    )
