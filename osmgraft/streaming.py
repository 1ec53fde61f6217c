"""Structured Streaming operators: micro-batch incremental apply and
event-time aggregation.

The reference's replication loop (download diff -> apply -> advance
checkpoint, ``osmc/osmc.c:451-525``) is micro-batch streaming.  Here it
becomes ``readStream`` over a changes directory + ``foreachBatch``
running the same MERGE/re-cut as the batch path (one code path for both,
the idiomatic Spark shape), with the snapshot store as the sink and its
manifest as the exactly-once checkpoint.

Also provides event-time windowed aggregation with a watermark for late
data — the Spark-native generalization of the reference's
publication-lag handling (``MINUTE_SLOWNESS`` etc., ``osmc.c:304-311``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .store import SnapshotStore, merge_changes


def tumbling_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type.

    Works identically on a batch or streaming DataFrame; on a streaming
    one the watermark bounds state for late data.  A watermark needs a
    TIMESTAMP event time, so a streaming TIMESTAMP_NTZ ``ts`` (the
    events parquet's type) is windowed as a TIMESTAMP in the session
    time zone and ``window_start`` is cast back to the input's type.
    """
    ts_type = events.schema["ts"].dataType
    src = events
    if events.isStreaming:
        src = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return (
        src.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").cast(ts_type).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# Catch-up planner constants (osmc.c:304-311): the *_SLOWNESS margins
# keep a publication-lag safety buffer — never plan a diff the publisher
# may not have finished writing yet.
MINUTE, HOUR, DAY = 1, 60, 60 * 24
MINUTE_SLOWNESS, HOUR_SLOWNESS, DAY_SLOWNESS = 5, 1, 1


def catchup_plan(lag_minutes: int) -> list[tuple[str, int]]:
    """Convert replication lag into a daily -> hourly -> minute batch
    plan (reference ``updateLFromWeb``, osmc.c:451-492): consume the lag
    with the coarsest diffs first, each granularity holding back its
    publication-lag slowness margin.

    Returns [(granularity, n_batches), ...]; an EMPTY plan means the
    store is up to date (lag within the minute slowness margin) — the
    reference's "DB is up to date" early exit: with no minute batches
    due, coarser ones are never planned either.
    """
    lag = int(lag_minutes)
    plan: list[tuple[str, int]] = []
    n_daily = n_hourly = 0
    if lag // DAY > DAY_SLOWNESS:
        n_daily = lag // DAY - DAY_SLOWNESS
        lag -= n_daily * DAY
    if lag // HOUR > HOUR_SLOWNESS:
        n_hourly = lag // HOUR - HOUR_SLOWNESS
        lag -= n_hourly * HOUR
    if lag // MINUTE > MINUTE_SLOWNESS:
        n_minute = lag - MINUTE_SLOWNESS
    else:
        return []  # up to date -> nothing to apply at all
    if n_daily:
        plan.append(("daily", n_daily))
    if n_hourly:
        plan.append(("hourly", n_hourly))
    plan.append(("minute", n_minute))
    return plan


_PERIOD_FMT = {"minute": "%Y%m%d%H%M", "hourly": "%Y%m%d%H", "daily": "%Y%m%d"}


def next_change_file_name(epoch_s: int, period: str) -> tuple[str, int]:
    """P17 diff-URL naming arithmetic (reference ``nextChangeFileName``,
    osmc/osmc.c:127-166), as a pure unit-tested function — the network
    fetch itself stays out of scope in this sandbox.

    Given the checkpoint timestamp (UTC epoch seconds) and a period
    (``minute`` / ``hourly`` / ``daily``), returns
    ``(file_name, next_epoch_s)`` where the name is
    ``{period}/{start}-{end}.osc.gz`` with both stamps strftime'd at
    the period's granularity (start truncated by the coarse format;
    end = start + 1 unit, zeroed below the period before the timestamp
    advances — exactly the reference's tm-struct arithmetic)."""
    from datetime import datetime, timedelta, timezone

    if period not in _PERIOD_FMT:
        raise ValueError(f"unknown period {period!r}")
    start = datetime.fromtimestamp(int(epoch_s), tz=timezone.utc)
    if period == "minute":
        end = (start + timedelta(minutes=1)).replace(second=0)
    elif period == "hourly":
        end = (start + timedelta(hours=1)).replace(minute=0, second=0)
    else:
        end = (start + timedelta(days=1)).replace(hour=0, minute=0, second=0)
    fmt = _PERIOD_FMT[period]
    name = f"{period}/{start.strftime(fmt)}-{end.strftime(fmt)}.osc.gz"
    return name, int(end.timestamp())


def files_per_trigger_for_plan(plan: list[tuple[str, int]]) -> int:
    """Map a catch-up plan onto micro-batch sizing: when days of lag are
    queued, coalesce a day's worth of diff files per trigger; hours of
    lag coalesce an hour's worth; near-real-time applies one file per
    trigger (minimum end-to-end latency)."""
    gran = {g for g, _ in plan}
    if "daily" in gran:
        return 24
    if "hourly" in gran:
        return 4
    return 1


def stateful_first_seen(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: emit each key's FIRST row
    across micro-batches, drop later duplicates (the streaming form of
    the U2 first-write-wins dedup / Tree16 first-offset-kept semantics,
    ``osmc/Tree16.c:33-35``) — ``applyInPandasWithState`` with one
    boolean state slot per key group.

    Input must carry (fp, doc_id).  Output: (key, doc_id) of first
    arrivals only.  State grows with distinct keys; bound it upstream by
    bucketing keys per time window when the stream is unbounded.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain; already seen
                pass
            return
        # accumulate the min across ALL pandas chunks — a key group
        # spanning multiple Arrow batches arrives as several chunks
        first = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                first = m if first is None else min(first, m)
        state.update((True,))
        if first is not None:
            yield pd.DataFrame({"key": [key[0]], "doc_id": [first]})

    return stream.groupBy(F.col("fp")).applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_changes_into_store(
    spark: SparkSession,
    changes_dir: str,
    schema: str,
    store: SnapshotStore,
    polys,
    lag_minutes: int | None = None,
) -> None:
    """Micro-batch replication: each file batch of point changes is
    merged into the snapshot store with spatial re-cut, committing one
    snapshot per non-empty batch (checkpoint advances only on success —
    the T6 contract).  Runs with availableNow semantics and returns when
    the backlog is drained.

    ``lag_minutes`` (watermark age) engages the catch-up planner: a
    large backlog coalesces many diff files per trigger (fewer, bigger
    snapshots while far behind — the reference's daily->hourly->minute
    laddering), dropping back to one file per trigger near real time."""
    from .store import apply_geo_changes

    per_trigger = 1
    if lag_minutes is not None:
        per_trigger = files_per_trigger_for_plan(catchup_plan(lag_minutes))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(changes_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wm = batch_df.agg(F.max("batch_id")).collect()[0][0]
        apply_geo_changes(
            spark, store, batch_df, polys, watermark=f"batch:{wm}"
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option(
            "checkpointLocation", f"{store.root}/_stream_checkpoint"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
