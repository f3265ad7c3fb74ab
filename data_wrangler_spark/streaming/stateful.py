"""Custom stateful streaming: applyInPandasWithState.

The arbitrary-state operator Structured Streaming exposes to Python —
per-key state that survives across micro-batches, with Arrow-batched
group slices. Used here for a per-user running aggregate; the same
skeleton carries sessionization-with-side-outputs, CDC folding, or
feature back-fill at scale (state store shards = shuffle partitions;
RocksDB provider at 100 TB).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_wrangler_spark.registry import register
from data_wrangler_spark.streaming.windows import _event_parts, _run_stream


def _update_user_totals(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold (count, cents) per user across micro-batches; emit the
    running totals after each batch that touches the user. Money is
    accumulated as integer cents so the result is exact regardless of
    fold order (float sums are batch-order dependent)."""
    (user_id,) = key
    if state.exists:
        n_events, cents = state.get
    else:
        n_events, cents = 0, 0
    for pdf in pdf_iter:
        n_events += len(pdf)
        # floor, not a bare int64 cast: the cast truncates toward zero
        # and would diverge from the oracle's floor() for negative
        # values (-1.235 → -123 vs floor's -124) — same parity rule as
        # _asof_enrich below
        cents += int(np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum())
    state.update((n_events, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n_events], "total_cents": [cents]}
    )


@register(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("stream", "stateful"),
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime totals via arbitrary stateful processing: the
    events table streamed in two micro-batches, state folded with
    applyInPandasWithState, and the LAST emission per user taken as
    the final state. Because the fold is exact integer arithmetic,
    the final state provably equals the batch GROUP BY — giving this
    streaming-only operator a SQL oracle."""
    out = _run_stream(
        "q_stream_stateful",
        _event_parts(spark, sf_dir, split_frac=0.5),
        lambda src: src.groupBy("user_id").applyInPandasWithState(
            _update_user_totals,
            outputStructType="user_id bigint, n_events bigint, total_cents bigint",
            stateStructType="n_events bigint, total_cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        output_mode="update",
    )
    # one emission per touched batch → keep the final (max) state
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"),
                                       F.max("total_cents").alias("tc"))
    return final.select(
        "user_id",
        "n_events",
        (F.col("tc").cast("double") / 100).alias("total_value"),
    )


def _asof_enrich(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stream as-of enrichment: per user, carry the latest reference
    row (a 'purchase') across micro-batches and stamp it onto every
    target row (a 'click') with event-time ≥ the reference. Within a
    batch the group's rows are concatenated and walked in ts order
    (chunk order inside one batch is not time-ordered); ACROSS
    batches correctness comes from the ts-split staging — later
    micro-batches hold strictly later event times, so a reference can
    never arrive after a target it should have enriched. Money is
    carried as integer cents (exact)."""
    (user_id,) = key
    if state.exists:
        ref_id, ref_cents = state.get
    else:
        ref_id, ref_cents = None, None
    pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values("ts")
    out_id, out_ref, out_cents = [], [], []
    for row in pdf.itertuples(index=False):
        if row.event_type == "purchase":
            ref_id = int(row.event_id)
            # floor, not int(): int() truncates toward zero and would
            # diverge from the oracle's floor() for negative values
            ref_cents = math.floor(row.value * 100 + 0.5)
        else:  # click → emit with the as-of state
            out_id.append(int(row.event_id))
            out_ref.append(ref_id)
            out_cents.append(ref_cents)
    state.update((ref_id, ref_cents))
    yield pd.DataFrame(
        {
            "event_id": pd.array(out_id, dtype="Int64"),
            "user_id": pd.array([user_id] * len(out_id), dtype="Int64"),
            "ref_event_id": pd.array(out_ref, dtype="Int64"),
            "last_purchase_cents": pd.array(out_cents, dtype="Int64"),
        }
    )


@register(
    "q_stream_asof_enrich",
    oracle="""
    SELECT e.event_id, e.user_id,
           r.event_id AS ref_event_id,
           CAST(floor(r.value * 100 + 0.5) AS BIGINT) AS last_purchase_cents
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON e.user_id = r.user_id AND e.ts >= r.ts
    """,
    tags=("stream", "stateful", "asof"),
)
def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AS-OF enrichment — the feature-store pattern batch
    q_join_asof covers, done ONLINE: every click is stamped with the
    user's most recent purchase at or before its event time, via
    per-user state that survives micro-batches
    (applyInPandasWithState). Spark has no native stream-stream as-of
    join; this is the custom-stateful form the engine contract calls
    for.

    Exactness: the input stream is staged split-by-ts (later batches
    = strictly later event times), so arrival order respects event
    time and the emitted rows equal DuckDB's batch ASOF LEFT JOIN
    exactly — a streaming-only operator with a full SQL oracle.
    (user_id, ts) is unique in the fixture, so no tiebreak ambiguity
    exists; state is two bigints per user — at 100 TB this is the
    RocksDB-provider state-store case (streaming/windows.py notes),
    sharded by the user_id shuffle."""
    return _run_stream(
        "q_stream_asof_enrich",
        _event_parts(spark, sf_dir, split_frac=0.5),
        lambda src: src.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _asof_enrich,
            outputStructType=(
                "event_id bigint, user_id bigint, "
                "ref_event_id bigint, last_purchase_cents bigint"
            ),
            stateStructType="ref_event_id bigint, ref_cents bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
    )
