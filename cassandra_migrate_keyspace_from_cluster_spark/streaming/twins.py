"""Structured Streaming twins of the Part E batch queries.

The t2 oracle is batch SQL, so these twins are smoke-tested (file-source
micro-batch replay through a memory sink must reproduce the batch
answer) rather than oracle-hashed — SURVEY.md §5.3.5.

At production scale the source would be Kafka (`readStream.format(
"kafka")`) and the sink a transactional store via ``foreachBatch``; the
transformation layer is identical, which is the point of keeping the
batch and streaming forms textually parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of the events table, opened like the batch
    loader (``sources/parquet_keyspace.load_path``): the schema is the
    first part file's footer (streaming sources require an explicit
    one, and reading it submits no Spark job), and ``ts`` is normalized
    to a µs ``TimestampType`` whether the fixtures carry nanos-since-
    epoch (r1/r2) or TIMESTAMP_NTZ (r3) — watermarks and windows see
    the same event-time type as the batch twin either way.
    """
    from ..sources.parquet_keyspace import _open

    return _open(spark.readStream, src_dir)


def tumbling_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of e1_tumbling: 1h tumbling window x event_type
    with a 10-minute watermark bounding state."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of e2_sliding: 1h windows advancing every 15min
    (each event lands in 4 open windows; watermark bounds how long each
    stays open)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of e3_session: native session_window + watermark.
    State per (user, open session) is bounded by the watermark — the
    100-TB-stream shape."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of e5_stream_dedup: dropDuplicates within the
    watermark horizon (state = seen keys inside the watermark)."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(
        ["user_id", "event_type", "value"]
    )


def running_spend_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of e6_stateful_runagg with CUSTOM state:
    per-user cumulative purchase spend via ``applyInPandasWithState``.

    The built-in twin is ``groupBy(user).agg(sum)`` in update mode; this
    form exists to exercise arbitrary stateful processing — the state
    (one running double per user) survives across micro-batches, which
    is exactly the shape of a 100-TB streaming enrichment operator
    (state size O(distinct keys), bounded; no watermark interplay since
    the aggregate never expires).

    Within a micro-batch, rows are folded in (ts, event_id) order so the
    emitted per-event cumulative values are deterministic and equal to
    the batch window ``sum ... ROWS UNBOUNDED PRECEDING``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0.0
        # a group's batch rows can arrive as several Arrow chunks —
        # concatenate before sorting so the fold order is global
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        cum = pdf["value"].cumsum() + total
        if len(cum):
            state.update((float(cum.iloc[-1]),))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "cum_spend": cum.round(2),
            }
        )

    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="event_id bigint, user_id bigint, cum_spend double",
            stateStructType="total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_completion(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a bounded file-source stream to completion through a memory
    sink (complete mode for aggregates, append for row streams) and
    return the materialized result as a batch DataFrame."""
    mode = "complete" if _has_aggregate(stream_df) else "append"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {name}")


def _has_aggregate(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()  # type: ignore[attr-defined]
    return "Aggregate" in plan


def stream_stream_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Streaming twin of e10: a real stream-stream inner join. Both
    sides carry watermarks and the join condition bounds how far apart
    matching events can be — together these let Spark EXPIRE buffered
    rows (state stays O(watermark window), the property that makes
    stream-stream joins viable on unbounded streams)."""
    c = clicks.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", "10 minutes")
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
    ).withWatermark("purchase_ts", "10 minutes")
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "user_id", "click_id", "purchase_id",
        "click_ts", "purchase_ts", "purchase_value",
    )


def running_spend_stream_tws(events: DataFrame) -> DataFrame:
    """running_spend_stream on the Spark 4 ``transformWithStateInPandas``
    API (StatefulProcessor + typed ValueState) — the successor to
    applyInPandasWithState: explicit named state handles, timers, and
    TTL support, backed by the RocksDB state store (the store that
    scales streaming state past executor memory at the 100-TB design
    point; tests set the provider conf).

    Same semantics as the applyInPandasWithState form: one running
    double per user, batch rows folded in (ts, event_id) order.
    NOTE: the API's Python driver worker imports protobuf at stream
    start; the pytest twin-equality check importorskips when protobuf
    is absent from the environment (as in this container)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningSpend(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._total = handle.getValueState("total", "total double")

        def handleInputRows(self, key, rows, timerValues):
            total = self._total.get()[0] if self._total.exists() else 0.0
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            cum = pdf["value"].cumsum() + total
            if len(cum):
                self._total.update((float(cum.iloc[-1]),))
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "cum_spend": cum.round(2),
                }
            )

        def close(self) -> None:
            pass

    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningSpend(),
            outputStructType="event_id bigint, user_id bigint, cum_spend double",
            outputMode="Append",
            timeMode="None",
        )
    )


def enrich_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Streaming twin of e22_stream_enrich: stream-STATIC join. The
    static side is re-broadcast per micro-batch; no watermark and no
    state store are involved (contrast stream_stream_join below/above:
    two streams must buffer within watermark). This is the enrichment
    shape that stays O(batch) regardless of stream history length."""
    cust = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return events.join(F.broadcast(cust), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        "segment",
        "nationkey",
    )
