"""Custom stateful streaming: per-key decayed running scores.

The one capability in the reference that stock streaming aggregation
doesn't express directly: *cross-batch mutable state with custom update
logic* (the driver-resident CMS matrix, ``cms_stream.py:69,94-97``).
The Spark-native answer is ``applyInPandasWithState``: state lives in
the checkpointed state store, partitioned by key across executors,
updated with an arbitrary pandas function per micro-batch.

The operator here keeps, per token, an exponentially-decayed running
score (each batch: ``score ← score·decay + batch_count``) — the
"exponential decaying window" idea from the reference's README applied
to keyword frequency, with fault-tolerant distributed state instead of
a driver matrix lost on restart.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("token", StringType()),
        StructField("decayed_score", DoubleType()),
        StructField("total_count", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("score", DoubleType()),
        StructField("count", LongType()),
    ]
)


def _advance(
    state: GroupState, batches: Iterable[pd.DataFrame], decay: float
) -> tuple[float, int]:
    """Fold one micro-batch into a key's state: score ← score·decay +
    batch_count, total ← total + batch_count. Returns the new state."""
    batch_count = sum(len(pdf) for pdf in batches)
    score, total = state.get if state.exists else (0.0, 0)
    score = score * decay + batch_count
    total = total + batch_count
    state.update((score, total))
    return score, total


def _score_row(key: tuple, score: float, total: int, **extra: list) -> pd.DataFrame:
    """One output row (token, decayed_score, total_count, *extra)."""
    return pd.DataFrame(
        {
            "token": [key[0]],
            "decayed_score": [float(score)],
            "total_count": [int(total)],
            **extra,
        }
    )


def decayed_token_scores(
    tokens: DataFrame,
    decay: float = 0.9,
    token_col: str = "token",
) -> DataFrame:
    """Streaming per-token decayed running score via keyed state.

    Input: a *streaming* DataFrame with a token column. Each trigger,
    every token's state decays by ``decay`` and absorbs the batch's
    count; emits (token, decayed_score, total_count) rows in update
    mode. State is per-key in the state store: scales with distinct
    tokens per executor, not with throughput.
    """

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        yield _score_row(key, *_advance(state, batches, decay))

    return (
        tokens.groupBy(token_col)
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def tokens_from_text_stream(texts: DataFrame, text_col: str = "text") -> DataFrame:
    """Explode a streaming text column into tokens (A4 semantics)."""
    return texts.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))


EXPIRING_OUTPUT_SCHEMA = StructType(
    [
        StructField("token", StringType()),
        StructField("decayed_score", DoubleType()),
        StructField("total_count", LongType()),
        StructField("expired", BooleanType()),
    ]
)


def expiring_token_scores(
    tokens: DataFrame,
    decay: float = 0.9,
    ttl_ms: int = 60_000,
    token_col: str = "token",
) -> DataFrame:
    """``decayed_token_scores`` with state EXPIRY: idle keys evict.

    The unbounded-key-space answer ``NoTimeout`` lacks: a token that
    stops arriving would otherwise hold state-store space forever (at
    100 TB/day of text the key space only grows). A processing-time
    timeout of ``ttl_ms`` per key lets the store self-clean — when a
    key sees no data for a full TTL, the next micro-batch fires its
    timeout branch, which emits a final ``expired=true`` tombstone row
    (the downstream signal to persist/drop the key) and removes the
    state. Live updates re-arm the clock.
    """

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            score, total = state.get
            state.remove()
            yield _score_row(key, score, total, expired=[True])
        else:
            score, total = _advance(state, batches, decay)
            state.setTimeoutDuration(ttl_ms)
            yield _score_row(key, score, total, expired=[False])

    return tokens.groupBy(token_col).applyInPandasWithState(
        update,
        outputStructType=EXPIRING_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
