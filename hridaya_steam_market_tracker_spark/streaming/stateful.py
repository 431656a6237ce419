"""J4 in-stream: per-key backoff/health state as a custom stateful
streaming operator (applyInPandasWithState).

The driver-side dict in streaming/scheduler.py is correct at the
reference's scale (thousands of tracked items). This module is the
100 TB posture for the SAME state machine: when the keyed control state
outgrows one process (millions of keys), it moves into the stream —
Arrow-batched, checkpointed, partitioned by key — with identical
semantics: consecutive failures grow an exponential cooldown
(factor capped at 8, reference src/snoozerScheduler.py:206-212), any
success resets it.

Input rows:  (market_hash_name, stream, ok boolean, event_time)
Output rows: one per (key, batch): the post-batch backoff state.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "market_hash_name string, stream string, "
    "consecutive_backoffs int, cooldown_factor int, healthy boolean"
)
STATE_SCHEMA = "consecutive_backoffs int"

MAX_BACKOFF_FACTOR = 8


def track_backoff_state(poll_results: DataFrame) -> DataFrame:
    """Wire the stateful operator over a streaming DataFrame of poll
    outcomes. One state row per (name, stream); update-mode output.

    The update function is a CLOSURE (not a module-level function) on
    purpose: cloudpickle then serializes it by value, so executors do
    not need this package importable — module-level functions are
    pickled by reference and break on workers whose PYTHONPATH lacks
    the repo (any non-repo-cwd driver, any real cluster without
    addPyFile).
    """
    max_factor = MAX_BACKOFF_FACTOR

    def update_backoff(
        key: tuple[str, str],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: PLC0415 — resolve on the worker

        (n_backoffs,) = state.get if state.exists else (0,)
        for pdf in batches:
            # order within the batch by event time — replays deterministic
            for ok in pdf.sort_values("event_time")["ok"]:
                n_backoffs = 0 if ok else n_backoffs + 1
        state.update((n_backoffs,))
        factor = min(2 ** (n_backoffs - 1), max_factor) if n_backoffs else 0
        yield pd.DataFrame(
            {
                "market_hash_name": [key[0]],
                "stream": [key[1]],
                "consecutive_backoffs": [n_backoffs],
                "cooldown_factor": [factor],
                "healthy": [n_backoffs == 0],
            }
        )

    return poll_results.groupBy("market_hash_name", "stream").applyInPandasWithState(
        update_backoff,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

