"""Streaming operators: tumbling aggregation with watermark, hash-key
dedup, session windows.

Batch↔stream parity (SURVEY.md §2.9 table):
- 5 s tumbling window agg (05_cpd_orchestrator_polars.py:262-276) →
  identical groupBy(window(...)) under readStream + watermark.
- idempotent incremental ingest via deterministic hash key
  (02_raw_telemetry_transform.py:345-378) → withWatermark + dropDuplicates.
- gaps-and-islands stationary blocks (04_worker_script.sql:30-37) →
  session_window is the idiomatic streaming analog (rows-semantics parity
  still via the batch window-function form; ship both).

Scale notes: watermarks bound state; without one, streaming aggregation
state grows forever. Session-window state is per (key, open session).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint


def streaming_tumbling_agg(
    stream: DataFrame,
    ts: str,
    duration: str,
    aggs: Sequence[Column],
    watermark: str = "10 seconds",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Left-closed tumbling aggregation over an event-time column with a
    late-data watermark. Works on batch DataFrames too (watermark is a
    no-op there) — same code path for both."""
    src = stream.withWatermark(ts, watermark) if stream.isStreaming else stream
    return (
        src.groupBy(*extra_keys, F.window(ts, duration).alias("w"))
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )


def streaming_hopping_agg(
    stream: DataFrame,
    ts: str,
    duration: str,
    slide: str,
    aggs: Sequence[Column],
    watermark: str = "10 seconds",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Sliding (hopping) windows over event time with a late-data
    watermark — the streaming twin of
    :func:`operators.aggregates.hopping_agg`: identical
    ``F.window(ts, duration, slide)`` bucketing, so a micro-batch
    rollup and the batch rollup agree window-for-window."""
    src = stream.withWatermark(ts, watermark) if stream.isStreaming else stream
    return (
        src.groupBy(*extra_keys, F.window(ts, duration, slide).alias("w"))
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )


def streaming_dedup(
    stream: DataFrame, key_cols: Sequence[str], ts: str, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: the streaming
    form of the hash-key anti-join dedup.

    ``dropDuplicatesWithinWatermark`` — NOT plain dropDuplicates(keys):
    Spark only evicts dedup state when the event-time column is part of
    the subset, so the plain form retains every key ever seen (unbounded
    state growth) while the WithinWatermark form ages keys out once the
    watermark passes them, which is also the documented semantic here."""
    if stream.isStreaming:
        return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            [*key_cols]
        )
    return stream.dropDuplicates([*key_cols])


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    order_col: str,
    checkpoint_path: str,
):
    """Exactly-once-per-key streaming merge into a parquet table: each
    micro-batch is upserted (union + keep-newest-per-key) into the target
    (the streaming form of the reference's hash-key ON CONFLICT DO UPDATE
    — SURVEY.md §2.9 'foreachBatch MERGE').

    Plain-parquet caveat: the batch rewrite is read-modify-overwrite and
    relies on the streaming checkpoint for at-least-once + idempotent
    batches; on a transactional table format (Delta/Iceberg) the body
    becomes a real MERGE INTO with the same keys."""
    from datamine_v2_0_spark.operators.joins import upsert

    spark = stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # existence check, not a blanket except: a transient read error or
        # corrupt target must FAIL the batch (and be retried from the
        # checkpoint), never be mistaken for "first batch" — that branch
        # overwrites the table with this batch alone
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(target_path)
        fs = jvm_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            current = spark.read.parquet(target_path)
            merged = upsert(current, batch, list(key_cols), F.col(order_col))
        else:
            merged = upsert(
                batch.limit(0), batch, list(key_cols), F.col(order_col)
            )
        # break lineage from the files about to be overwritten —
        # executor-side materialization, never a driver collect
        merged = iter_checkpoint(merged)
        # stage-then-swap, NOT a direct overwrite: overwrite deletes the
        # target before writing, so a crash in between makes the next
        # retry's existence check read "first batch" and silently rebuild
        # the table from one micro-batch. Write the merged result to a
        # sibling temp dir, then delete+rename (both metadata ops) — the
        # vulnerable window shrinks from the full write to the swap.
        tmp_path = target_path.rstrip("/") + "._staging"
        jvm_tmp = spark._jvm.org.apache.hadoop.fs.Path(tmp_path)
        merged.write.mode("overwrite").parquet(tmp_path)
        if fs.exists(jvm_path):
            fs.delete(jvm_path, True)
        fs.rename(jvm_tmp, jvm_path)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_state_changes(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts: str,
    state_col: str,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    state-change event detection across micro-batches.

    The streaming form of the batch change-flag window (W10,
    04_worker_script.sql:52-57 — ``value <> lag(value)``): the last seen
    state per key persists in ``GroupState`` between micro-batches, so a
    change that straddles a batch boundary is still detected exactly once.
    Emits one row per transition: (keys..., ts, prev_state, new_state);
    the first observed value per key is a transition from NULL.

    Scale notes: state is one scalar per key (bounded, no growth); rows
    are processed in event-time order WITHIN a batch by a pandas sort —
    cross-batch ordering is the source's responsibility (per-key ordered
    ingest, the same contract a Kafka keyed partition gives you)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_type = stream.schema[state_col].dataType.simpleString()
    key_fields = ", ".join(
        f"{k} {stream.schema[k].dataType.simpleString()}" for k in key_cols
    )
    out_schema = (
        f"{key_fields}, ts timestamp, "
        f"prev_state {state_type}, new_state {state_type}"
    )

    def detect(key, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(ts)
        rows = []
        for t, s in zip(pdf[ts], pdf[state_col]):
            if pd.isna(s):
                continue
            if last is None or s != last:
                rows.append((*key, t, last, s))
                last = s
        state.update((last,))
        if rows:
            yield pd.DataFrame(
                rows, columns=[*key_cols, "ts", "prev_state", "new_state"]
            )

    src = stream.withWatermark(ts, watermark) if stream.isStreaming else stream
    return src.groupBy(*key_cols).applyInPandasWithState(
        detect,
        out_schema,
        f"last_state {state_type}",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_session_windows(
    stream: DataFrame,
    ts: str,
    keys: Sequence[str],
    gap: str,
    aggs: Sequence[Column],
    watermark: str = "10 seconds",
) -> DataFrame:
    """Session windows (gap-closed activity periods) per key — the
    streaming analog of gaps-and-islands blocks."""
    src = stream.withWatermark(ts, watermark) if stream.isStreaming else stream
    return (
        src.groupBy(*keys, F.session_window(ts, gap).alias("w"))
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w")
    )


def streaming_ewma(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts: str,
    value_col: str,
    alpha: float,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Stateful streaming EWMA via ``applyInPandasWithState``: the
    per-key smoothed value persists in ``GroupState`` between
    micro-batches, so the recurrence y_t = α·x_t + (1-α)·y_{t-1}
    continues seamlessly across batch boundaries — the streaming form of
    the batch ``timeseries.ewma_smooth`` fold, and the two agree row for
    row when events arrive per-key in order (the same keyed-partition
    ordering contract as ``streaming_state_changes``).

    Emits one row per input row: (keys..., ts, value, ewma). State is
    one scalar per key — bounded, no growth. Rows are sorted by event
    time within each batch; NULL values pass through without advancing
    the state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    a = float(alpha)
    key_fields = ", ".join(
        f"{k} {stream.schema[k].dataType.simpleString()}" for k in key_cols
    )
    out_schema = f"{key_fields}, {ts} timestamp, {value_col} double, ewma double"

    def fold(key, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(ts)
        rows = []
        for t, x in zip(pdf[ts], pdf[value_col]):
            if pd.isna(x):
                rows.append((*key, t, None, None))
                continue
            last = float(x) if last is None else a * float(x) + (1.0 - a) * last
            rows.append((*key, t, float(x), last))
        state.update((last,))
        if rows:
            yield pd.DataFrame(rows, columns=[*key_cols, ts, value_col, "ewma"])

    src = stream.withWatermark(ts, watermark) if stream.isStreaming else stream
    return src.groupBy(*key_cols).applyInPandasWithState(
        fold,
        out_schema,
        "last double",
        "append",
        GroupStateTimeout.NoTimeout,
    )
