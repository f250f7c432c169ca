"""ST4: keyed processing state (SURVEY.md §2.9).

The reference tracks per-record processing context in a Redis hash
``processing:{id}`` holding ``{state, timestamp, retries}``
(reference/README.md:280-289) plus Kafka Streams "state stores for
maintaining processing context" (reference/README.md:65-69). The
Spark-native form is Structured Streaming GroupState:
``applyInPandasWithState`` keyed the same way, with the state persisted
in the checkpointed state store (RocksDB-able via
``spark.sql.streaming.stateStore.providerClass``) instead of an
external cache — no extra network hop, exactly-once with the sink.

Scale note: state is partitioned by key across executors; the per-key
payload here is O(1) (counters + last-seen), so 100 TB of traffic costs
state proportional to |keys|, not |records|.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_records", LongType()),
        StructField("n_invalid", LongType()),
        StructField("state", StringType()),
        StructField("last_ts", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_records", LongType()),
        StructField("n_invalid", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)


def track_processing_state(
    records: DataFrame,
    key_col: str = "machine",
    ts_col: str = "ts",
    value_col: str = "value",
    invalid_above: float = 100.0,
) -> DataFrame:
    """Per-key running processing status: record/invalid counters and a
    derived state label (``processing`` / ``degraded`` when >10% of the
    key's records breach the validity bound — the DLQ-alert analogue of
    reference/README.md:102-104). Emits one updated row per key per
    micro-batch (update output mode)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, bad, last_us = state.get
        else:
            n, bad, last_us = 0, 0, None
        for pdf in pdfs:
            n += len(pdf)
            bad += int((pdf[value_col] > invalid_above).sum())
            if len(pdf):
                batch_max = pdf[ts_col].max()
                batch_us = int(batch_max.value // 1000)
                last_us = batch_us if last_us is None else max(last_us, batch_us)
        state.update((n, bad, last_us))
        label = "degraded" if n and bad * 10 > n else "processing"
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_records": [n],
                "n_invalid": [bad],
                "state": [label],
                "last_ts": [pd.Timestamp(last_us * 1000) if last_us is not None else pd.NaT],
            }
        )

    return records.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
