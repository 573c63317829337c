"""Funnel analysis — per-key ordered-step conversion depth over an
events table (the classic product-analytics query: how far along
view -> click -> purchase did each user get?).

Semantics: GREEDY earliest-match subsequence scan per key — step 1
matches the key's earliest step-1 event, each later step the earliest
STRICTLY-later event of its type, optionally all within ``within``
seconds of the matched step-1 time. Greedy-earliest is the streaming
definition (each event either advances the funnel or doesn't, no
lookback) and what the SQL min-after-t formulation computes, so the
oracle can recompute it with one CTE per step.

Scale: ONE shuffle (groupBy key), each key's events folded by a single
``F.aggregate`` higher-order expression over its time-sorted event
array — whole-stage codegen, no UDF, state is a 3-field struct. Key
cardinality bounds the output. Hot-key hygiene: only STEP-typed events
enter the collected array — non-step events are nulled before the
aggregate and ``collect_list`` ignores nulls, so they are dropped
MAP-SIDE by the partial aggregation (semantically free: an event whose
type is not a step can never advance the fold; often a 10x+ shuffle
payload cut) while every key keeps its output row (depth 0 on an empty
array). ``max_events_per_key`` bounds the worst key's collected array,
mirroring the dedup layer's hot-bucket caps.

(For contrast, the sessionize path — ``F.session_window`` in
queries.q_events_sessionize — needs no such cap: session_window is a
partial-aggregatable builtin whose per-key state is the merged session
bounds, never the event list.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..scope import generation, pin


@generation
def funnel(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within: float | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Per-key funnel depth: (key, depth, t1_us) where ``depth`` is the
    number of ``steps`` completed in order (greedy earliest match,
    strictly increasing timestamps) and ``t1_us`` the matched step-1
    time (epoch micros; null at depth 0). ``within``: seconds from the
    matched step-1 event that every later step must fall inside.

    ``max_events_per_key``: skew guard for degenerate keys (a bot with
    10^7 step-typed events concentrates one task's payload at 100 TB).
    Keys holding more than this many STEP events (after the free
    step-set pre-filter) are dropped from the output entirely — a
    truncated fold would be a silently wrong depth, dropping is honest —
    and the drop count is logged at WARNING. Costs one extra
    map-side-combinable count aggregation; None (default) disables.
    Its two pins belong to the caller's :func:`~prague_spark.scope.scope`."""
    if not steps:
        raise ValueError("steps must be non-empty")
    base = events.select(
        F.col(key_col).alias("key"),
        # null for non-step events: collect_list ignores nulls, and the
        # partial (map-side) aggregation drops them before the shuffle —
        # keys with ONLY non-step events still emit a row (depth 0)
        F.when(
            F.col(type_col).isin(list(steps)),
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
                F.col(type_col).alias("y"),
            ),
        ).alias("e"),
    )
    if max_events_per_key is not None:
        import logging

        base = pin(base)
        # count("e") counts non-null = step events only
        hot = pin(
            base.groupBy("key")
            .agg(F.count("e").alias("_n"))
            .filter(F.col("_n") > max_events_per_key)
        )
        n_hot = hot.count()
        if n_hot:
            logging.getLogger("prague_spark.funnel").warning(
                "funnel: dropping %d keys with > %d step events "
                "(degenerate hot keys; their rows are omitted from the "
                "output rather than folded over a truncated event list)",
                n_hot, max_events_per_key,
            )
        base = base.join(F.broadcast(hot.select("key")), "key", "left_anti")
    evs = base.groupBy("key").agg(
        F.sort_array(F.collect_list("e")).alias("es")
    )
    n_steps = len(steps)
    w_us = None if within is None else int(float(within) * 1_000_000)
    step_arr = F.array(*[F.lit(s) for s in steps])
    zero = F.struct(
        F.lit(0).alias("d"),
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("last"),
    )

    def step_fn(acc, e):
        wanted = F.element_at(step_arr, acc["d"] + 1)
        in_window = (
            F.lit(True)
            if w_us is None
            else (e["t"] <= acc["t1"] + F.lit(w_us))
        )
        start = (acc["d"] == 0) & (e["y"] == wanted)
        advance = (
            (acc["d"] > 0)
            & (acc["d"] < n_steps)
            & (e["y"] == wanted)
            & (e["t"] > acc["last"])
            & in_window
        )
        return (
            F.when(
                start,
                F.struct(
                    F.lit(1).alias("d"),
                    e["t"].alias("t1"),
                    e["t"].alias("last"),
                ),
            )
            .when(
                advance,
                F.struct(
                    (acc["d"] + 1).alias("d"),
                    acc["t1"].alias("t1"),
                    e["t"].alias("last"),
                ),
            )
            .otherwise(acc)
        )

    folded = evs.withColumn("_f", F.aggregate("es", zero, step_fn))
    return folded.select(
        F.col("key").alias(key_col),
        F.col("_f.d").cast("int").alias("depth"),
        F.col("_f.t1").alias("t1_us"),
    )
