"""Structured Streaming event analytics (EXTENSION X6 stretch; SURVEY.md §2.7).

The batch operators in operators/events.py re-expressed as streams:

- ``stream_events``: file-source stream over the events parquet (the fixture
  stands in for a Kafka topic; swap ``readStream.format("kafka")`` and the
  same downstream plan works unchanged).
- ``windowed_counts``: watermarked tumbling-window aggregation — the
  canonical late-data-tolerant rollup. Watermark bounds state: windows older
  than (max event time - delay) are finalized and evicted.
- ``sessionize_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session accumulation with timeout,
  the pattern for operators Spark's built-ins can't express.
- ``run_available_now``: drives any of these to completion over the bounded
  fixture (Trigger.AvailableNow) into a memory sink and returns the result
  as a plain DataFrame — which is how the streaming path gets the SAME
  DuckDB oracle as its batch twin.

Scale notes: streaming state lives in the state store (RocksDB-backed in
prod config); watermark delay bounds it. The file source here reads one
static file; on a real bus, partitions = topic partitions.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.frames import local_frame

#: probe cache keyed on (path, mtime_ns, size) — the footer read happens
#: once per on-disk file VERSION, so a fixture regenerated at the same path
#: with a different ts encoding (e.g. tests rewriting an sf_dir) re-probes
#: instead of silently reusing a stale schema
_TS_TYPE_CACHE: dict[tuple[str, int, int], object] = {}


def _events_file_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """events schema as the parquet file stores it. A stream read needs the
    schema declared up front, but the fixture's on-disk ts type differs by
    driver generation (µs TIMESTAMP_NTZ today; nanosecond INT64 in round 1,
    surfaced as long via the nanosAsLong conf) — so probe it with a one-file
    batch footer read (cached per path) instead of hardcoding either.

    Pins the session zone to UTC like the batch reader (read_fixture): the
    NTZ→TimestampType cast below is zone-dependent, and naive == UTC is
    what the DuckDB oracle assumes."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    stat = os.stat(path)
    key = (path, stat.st_mtime_ns, stat.st_size)
    if key not in _TS_TYPE_CACHE:
        _TS_TYPE_CACHE[key] = spark.read.parquet(path).schema["ts"].dataType
    ts_type = _TS_TYPE_CACHE[key]
    # derive from the canonical fixture schema with only the ts field
    # swapped to the probed on-disk type (review finding, r8: the
    # hand-duplicated field list could silently drift from schemas.py,
    # and a drifted stream schema returns nulls instead of failing)
    from ..schemas import FIXTURE_SCHEMAS

    return StructType(
        [
            StructField("ts", ts_type) if f.name == "ts" else f
            for f in FIXTURE_SCHEMAS["events"].fields
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, ts normalized to µs
    session-zoned timestamps exactly like the batch reader
    (sources/readers.py read_fixture)."""
    from ..sources.readers import normalize_events_ts

    schema = _events_file_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def windowed_counts(
    events: DataFrame,
    *,
    duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming twin of
    operators.events.tumbling_window_agg — identical output schema).

    Money sums go through money_sum (exact DECIMAL — review finding, r8:
    the r5 float-determinism conversion updated the batch twin but
    missed this one; round(sum(double), 2) can flip across task
    orderings, breaking the byte-identical-with-batch claim)."""
    from ..functions.money import money_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    result: DataFrame, *, query_name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Drive a (bounded) streaming DataFrame to completion into a memory
    sink and return the materialized result.

    Uses Trigger.AvailableNow — process everything currently available,
    then stop — so the call is synchronous and deterministic. Aggregations
    use ``complete``; custom stateful operators emit with ``append``.
    """
    name = query_name or f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize and DROP the memory-sink table (review finding, r8):
    # leaving the uuid-named table registered leaks the full result in
    # driver memory for the session's lifetime, and the verify sweeps
    # drive hundreds of these per session. Results here are bounded
    # (windowed aggregates / fixture-scale event sets), so the local
    # relation is cheap; it also freezes the result against any later
    # writer reusing the name.
    spark = result.sparkSession
    sink = spark.table(name)
    table = sink.toArrow()
    schema = sink.schema
    spark.catalog.dropTempView(name)
    return local_frame(spark, table, schema)


def sliding_counts(
    events: DataFrame,
    *,
    duration: str = "3600 seconds",
    slide: str = "1800 seconds",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window aggregation (streaming twin of
    operators.events.sliding_window_agg — same output schema, no
    per-type grouping; exact-DECIMAL money sum like the batch twin)."""
    from ..functions.money import money_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming sliding windows over the bounded fixture —
    byte-identical to the batch events_sliding_1h_30m, so it shares that
    DuckDB oracle."""
    return run_available_now(sliding_counts(stream_events(spark, sf_dir)))


def streaming_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restoration under at-least-once delivery: the event
    stream UNIONED WITH A SECOND READ OF ITSELF (every event delivered
    twice — the redelivery worst case) → watermarked
    ``dropDuplicatesWithinWatermark`` on event_id → memory sink.

    This is the canonical streaming-ingest dedup: the state store holds one
    entry per event_id and the watermark bounds how long it is retained, so
    state is O(events within the watermark horizon), not O(all history) —
    the property that makes it run forever on an unbounded source. On the
    bounded fixture the deduped stream equals the original event set
    exactly, which is what the shared DuckDB oracle checks.
    """
    doubled = stream_events(spark, sf_dir).unionByName(stream_events(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return run_available_now(deduped, output_mode="append")


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream source → watermarked hourly windows → memory sink.

    Over the bounded fixture this produces byte-identical results to the
    batch events_tumbling_hourly, so it shares that DuckDB oracle — the
    driver verifies a *streaming* pipeline against plain SQL.
    """
    return run_available_now(windowed_counts(stream_events(spark, sf_dir)))


def stream_stream_purchase_click_join(
    events: DataFrame,
    *,
    max_gap_sec: int = 3600,
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same user's
    clicks from the preceding ``max_gap_sec``.

    Both sides carry watermarks; the range condition bounds how long click
    state is retained (Spark evicts clicks older than the watermark minus
    the interval). This is THE canonical streaming enrichment join; on
    bounded input it equals the batch banded_range_join formulation, which
    is how the test verifies it.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap_sec} SECONDS")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "click_value")


def foreach_batch_upsert_sink(
    result: DataFrame,
    *,
    target_path: str,
    key: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming → lake-table sink via foreachBatch + merge_upsert: each
    micro-batch MERGEs into the parquet target instead of blind-appending —
    the streaming upsert pattern (Iceberg: MERGE INTO inside foreachBatch).
    Runs to completion with AvailableNow.

    ``checkpoint_dir`` persists source offsets + batch ids across runs —
    REQUIRED for incremental/exactly-once semantics on a growing source
    (review finding, r8: without it Spark uses a throwaway temp
    checkpoint, so every invocation reprocesses ALL input and a crash
    replays already-merged batches). The bounded single-shot fixture
    replays are idempotent through the MERGE, which is why the default
    stays None for them; production callers must pass a stable dir.
    """
    from ..plans.maintenance import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        spark = batch_df.sparkSession
        # Crash recovery (ADVICE r1): a crash between rename(target→aside)
        # and rename(tmp→target) leaves the full history in the aside dir
        # and NO target — without this check the run would silently rebuild
        # the table from one micro-batch. aside+target both present means
        # the crash was after the swap (target is newer) — drop the aside.
        aside = target_path.rstrip("/") + "__prev"
        if os.path.exists(aside):
            if os.path.exists(target_path):
                shutil.rmtree(aside)
            else:
                os.rename(aside, target_path)
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch_df, key=key)
        else:
            merged = batch_df
        # Write to a side dir, then swap via rename-ASIDE (never
        # delete-then-rename: a crash in that window leaves no target, and
        # the next run would silently rebuild from one micro-batch). Real
        # table formats make this a metadata commit; this ordering fails
        # recoverable instead of failing open.
        tmp = target_path.rstrip("/") + f"__b{batch_id}"
        try:
            merged.write.mode("overwrite").parquet(tmp)
            had_target = os.path.exists(target_path)
            if had_target:
                os.rename(target_path, aside)
            os.rename(tmp, target_path)
            if had_target:
                shutil.rmtree(aside)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    w = (
        result.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def make_session_updater(gap_sec: int):
    """Build the per-key state-update function sessionize_stream hands to
    ``applyInPandasWithState``. Module-level factory (r9) so the
    zero-chunk / state-only invocation path — what an EventTimeTimeout
    config delivers on a group timeout (ADVICE r8) — is unit-testable
    directly, without orchestrating a streaming timeout."""
    import pandas as pd  # local import: only the executors need it

    def update(key, pdfs, state):
        (user_id,) = key
        sessions: list[tuple] = []
        # state carries value as exact integer CENTS (events.value is an
        # exact 2-decimal money column): float accumulation + Python
        # round() is half-EVEN over an order-dependent sum, while the
        # DECIMAL oracle rounds HALF_UP — integer cents make the fold
        # exact and order-independent (review finding, r8)
        cur = list(state.get) if state.exists else None
        # one GLOBAL sort across the key's chunks (review finding, r8):
        # applyInPandasWithState delivers a key's rows as multiple Arrow
        # chunks in shuffle-arrival order, and the fold state carries
        # across chunks — per-chunk sorting let a later chunk's earlier
        # timestamps fold into the wrong session.
        # Materialize BEFORE concat (ADVICE r8): a state-only invocation
        # (zero chunks — what an EventTimeTimeout config delivers on a
        # group timeout) must not crash pd.concat; it just re-persists the
        # open session unchanged.
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("es")
            rows = zip(batch["es"], batch["value"])
        else:
            rows = ()
        for es, value in rows:
            es = int(es)
            cents = int(round(float(value) * 100))
            if cur is None:
                cur = [es, es, 0, 0]
            elif es - cur[1] > gap_sec:
                sessions.append((int(user_id), cur[0], cur[2], cur[3] / 100.0))
                cur = [es, es, 0, 0]
            cur[1] = es
            cur[2] += 1
            cur[3] += cents
        if cur is not None:
            state.update(tuple(cur))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([s[0] for s in sessions], dtype="int64"),
                "session_start_es": pd.Series([s[1] for s in sessions], dtype="int64"),
                "n_events": pd.Series([s[2] for s in sessions], dtype="int64"),
                "session_value": pd.Series([s[3] for s in sessions], dtype="float64"),
            }
        )

    return update


def sessionize_stream(
    events: DataFrame,
    *,
    gap_sec: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator: per-user gap-based sessions via
    ``applyInPandasWithState`` (state = open session aggregate; a session
    closes when the inactivity gap exceeds ``gap_sec`` or the group times
    out at a watermark).

    Emits closed sessions (user_id, session_start_es, n_events,
    session_value). This is the template for any custom per-key streaming
    state machine that Spark's built-in windows can't express.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_es", LongType()),
            StructField("n_events", LongType()),
            StructField("session_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_es", LongType()),
            StructField("last_es", LongType()),
            StructField("n", LongType()),
            # exact integer cents, not a float accumulator (see update)
            StructField("val_cents", LongType()),
        ]
    )
    update = make_session_updater(gap_sec)
    prepared = events.select(
        "user_id", F.unix_timestamp("ts").alias("es"), "value"
    )
    # NoTimeout: a session is emitted when the same user's next event
    # arrives past the gap. (Prod pattern adds EventTimeTimeout + watermark
    # to flush idle users; with a bounded AvailableNow replay the timeout
    # micro-batch loop never converges, so the bounded path closes sessions
    # on successor events only.)
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user lifetime totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-stateful API that supersedes applyInPandasWithState:
    state is DECLARED (named ValueState/ListState/MapState handles with
    schemas, optional TTL, timers) instead of one opaque tuple, so complex
    operators compose state primitives and the store can evolve them
    independently.

    The processor keeps one ValueState (n, total, max_value, first_es,
    last_es) per user and, each micro-batch, emits the user's UPDATED
    lifetime row — the classic upsert-feed shape. Over the bounded
    AvailableNow replay every user emits once, which is exactly the batch
    per-user aggregate: that equivalence is this operator's oracle
    (value accumulates as exact integer cents, so the emitted total is
    bit-identical to the oracle's DECIMAL sum).

    Scale: state is one fixed-width row per user, RocksDB-backed in prod
    config; rows arrive grouped by user so the update is a per-key fold —
    no shuffle beyond the groupBy exchange."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("max_value", DoubleType()),
            StructField("first_es", LongType()),
            StructField("last_es", LongType()),
        ]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals",
                "n bigint, total_cents bigint, max_value double, "
                "first_es bigint, last_es bigint",
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            if self._state.exists():
                n, total_cents, mx, first_es, last_es = self._state.get()
            else:
                n, total_cents, mx, first_es, last_es = 0, 0, float("-inf"), None, None
            for pdf in rows:
                n += len(pdf)
                # exact integer cents (2-decimal money column) — a float
                # accumulator + round() is half-even over an
                # order-dependent sum, diverging from the DECIMAL oracle
                total_cents += int(
                    sum(int(round(float(v) * 100)) for v in pdf["value"])
                )
                mx = max(mx, float(pdf["value"].max()))
                lo, hi = int(pdf["es"].min()), int(pdf["es"].max())
                first_es = lo if first_es is None else min(first_es, lo)
                last_es = hi if last_es is None else max(last_es, hi)
            self._state.update((n, total_cents, mx, first_es, last_es))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([int(user_id)], dtype="int64"),
                    "n_events": pd.Series([n], dtype="int64"),
                    "total_value": pd.Series([total_cents / 100.0], dtype="float64"),
                    "max_value": pd.Series([mx], dtype="float64"),
                    "first_es": pd.Series([first_es], dtype="int64"),
                    "last_es": pd.Series([last_es], dtype="int64"),
                }
            )

        def close(self) -> None:
            pass

    prepared = events.select("user_id", F.unix_timestamp("ts").alias("es"), "value")
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
