"""J9/J10: subscription-routed change push.

Reference chain: AFTER INSERT trigger -> pg_notify -> registry lookup
(skip unwatched) -> latest-1 re-read -> WebSocket fan-out
(utility/marketDataNotify_utility.py, api/marketDataStream.py).

Spark-first: the sink table IS the change feed. Each micro-batch of
newly-appended rows inner-joins a broadcast subscriptions DataFrame —
unwatched keys prune naturally (the reference's short-circuit) — and
per-stream delta shaping picks latest-1-point for append streams vs
full-snapshot for histogram/activity (J10), matching the batch readers
byte-for-byte because both use the same latest-per-key definition.

The subscriptions side is static, as in a stream-static join: it is
read once per DataFrame object and held as a JVM-local relation, so
routing a batch does not re-read it and its broadcast runs no job
(`_local_subscriptions`).
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Streams whose WS delta is a single latest point vs a full snapshot row
# (reference api/main.py:358-428).
POINT_DELTA_STREAMS = ("priceoverview", "pricehistory")
SNAPSHOT_STREAMS = ("histogram", "activity")


def latest_per_key(df: DataFrame, key_cols: list[str], ts_col: str = "time") -> DataFrame:
    """THE latest-1 definition — shared by batch readers and the push
    plane so payload shapes agree (SURVEY §7 hard-part #5).

    Ties on the timestamp break on every remaining column (descending),
    mirroring e1_latest_per_key's event_id tiebreak: without it the
    surviving row on equal timestamps depends on partition scan order and
    the push payload would not be byte-for-byte reproducible vs batch.
    """
    tiebreak = [
        F.col(c).desc() for c in df.columns if c not in key_cols and c != ts_col
    ]
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc(), *tiebreak)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


_subs_lock = threading.Lock()
# (weakref to the caller's subscriptions DataFrame, its JVM-local copy)
_subs_slot: tuple[weakref.ref, DataFrame] | None = None


def _local_subscriptions(subscriptions: DataFrame) -> DataFrame:
    """A ``LocalRelation`` copy of ``subscriptions``, read once while the
    caller keeps passing the same object. The slot holds one copy and a
    weak reference to its source, so a new object replaces it and the
    caller's DataFrame is never kept alive."""
    global _subs_slot
    with _subs_lock:
        slot = _subs_slot
        if slot is None or slot[0]() is not subscriptions:
            local = subscriptions.sparkSession.createDataFrame(
                subscriptions.toArrow(), subscriptions.schema
            )
            slot = _subs_slot = (weakref.ref(subscriptions), local)
        return slot[1]


def route_batch(
    batch_df: DataFrame,
    subscriptions: DataFrame,
    emit: Callable[[list], None],
) -> int:
    """One micro-batch of appended rows -> frames for subscribed keys.

    subscriptions: (market_hash_name, stream) pairs with subscriber ids,
    taken as a snapshot: the first call with a DataFrame object reads
    it, and later calls with the SAME object reuse that read. To route
    against a changed registry, pass a new DataFrame.
    emit: transport callback (the WebSocket seam); receives collected
    frames — the ONLY driver-side materialization of the batch, already
    pruned to subscribed keys and latest-1 per key.
    """
    affected = latest_per_key(
        batch_df, ["market_hash_name", "stream"], "time"
    )
    routed = affected.join(
        F.broadcast(_local_subscriptions(subscriptions)),
        ["market_hash_name", "stream"],
        "inner",
    )
    frames = (
        routed.withColumn(
            "frame",
            F.to_json(
                F.struct(
                    F.lit("delta").alias("type"),
                    F.col("stream"),
                    F.col("market_hash_name").alias("name"),
                    F.struct(
                        F.col("time"), F.col("value"),
                    ).alias("data"),
                )
            ),
        )
        .select("subscriber_id", "frame")
        .collect()
    )
    emit(frames)
    return len(frames)


def start_push(
    sink_stream: DataFrame,
    subscriptions: DataFrame,
    emit: Callable[[list], None],
    checkpoint_path: str,
):
    """Streaming read over the sink table -> foreachBatch routing.

    ``subscriptions`` is read once for the life of the query (see
    `route_batch`): restart the push to pick up a changed registry."""
    return (
        sink_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(lambda df, _id: route_batch(df, subscriptions, emit))
        .start()
    )
