"""Event-log driven incremental maintenance (SURVEY §2.8 U1-U5).

The reference has no streaming engine — it has a transactional event log
(``site:add`` / ``site:update`` / ``same-as:update``) consumed by listeners
that incrementally patch the KG (`services/sync/kgsync_listener.py:20-118`).
The Spark-native analog:

- the event log is an append-only table (EVENT_LOG schema);
- a micro-batch of events is applied by one chain: ``events_to_ingest``
  turns site events into ingest rows (normalized like any ingest, by
  ``extract.normalize_sites``), ``upsert_sites`` merges them into the
  sites table, and ``touched_groups`` finds the **touched dedup groups**;
- ``recompute_touched_groups`` re-runs the A3/A5 merge for touched groups
  only (semi-join pushdown — the 100 TB property: an update to one site
  re-aggregates one group, not the corpus);
- ``triple_diff`` computes the DELETE/INSERT triple sets between the old
  and new graph of the touched sites (U5's set diff, as ``exceptAll``);
- ``stream_events`` wires the same logic into Structured Streaming via
  ``foreachBatch`` (micro-batch upsert is exactly the reference's listener
  loop, with checkpointing for resume).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import INGEST


def events_to_ingest(events: DataFrame) -> DataFrame:
    """site:add / site:update events → ingest-shaped rows (the ``data``
    payload is the raw site JSON)."""
    return (
        events.filter(F.col("type").isin("site:add", "site:update"))
        .select(
            F.lit("eventlog").alias("repo"),
            F.concat(F.lit("events/"), F.col("id").cast("string")).alias("path"),
            F.sha2(F.col("data"), 256).alias("commit"),
            F.lit("json").alias("lang"),
            F.col("data").alias("content"),
        )
    )


def upsert_sites(existing_sites: DataFrame, new_sites: DataFrame) -> DataFrame:
    """U4 MERGE semantics: new rows win on site_id (latest modified_at)."""
    cols = existing_sites.columns
    unioned = existing_sites.unionByName(new_sites.select(*cols))
    from pyspark.sql import Window

    w = Window.partitionBy("site_id").orderBy(F.desc("modified_at"))
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def touched_groups(membership: DataFrame, touched_site_ids: DataFrame) -> DataFrame:
    """dedup ids of groups containing any touched site (semi-join)."""
    return (
        membership.join(
            touched_site_ids.select("site_id"), "site_id", "left_semi"
        )
        .select("dedup_site_id")
        .distinct()
    )


def recompute_touched_groups(
    sites_with_dedup: DataFrame,
    inv_views: DataFrame,
    touched: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Targeted A3+A5 re-run: only sites of touched groups shuffle."""
    from ..operators import dedup

    affected_sites = sites_with_dedup.join(
        touched, "dedup_site_id", "left_semi"
    )
    new_dedup = dedup.merge_dedup_sites(affected_sites)
    new_invs = dedup.select_dedup_inventories(
        affected_sites,
        inv_views.join(
            affected_sites.select("site_id"), "site_id", "left_semi"
        ),
    )
    return new_dedup, new_invs


def triple_diff(old_triples: DataFrame, new_triples: DataFrame) -> dict:
    """U5: DELETE = old∖new, INSERT = new∖old (normalized literal text)."""
    key = ["subj", "pred", "obj"]
    return {
        "delete": old_triples.select(key).exceptAll(new_triples.select(key)),
        "insert": new_triples.select(key).exceptAll(old_triples.select(key)),
    }


def stream_events(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    on_batch,
):
    """Structured Streaming consumption of the event log directory.

    ``on_batch(batch_df, batch_id)`` receives each micro-batch (run the
    ``events_to_ingest`` → ``upsert_sites`` → ``touched_groups`` →
    ``recompute_touched_groups`` → ``triple_diff`` chain inside).
    Checkpointing makes the consumer resume-exactly-once across restarts —
    the streaming analog of the reference's ``kg_synced`` flags.
    """
    from ..schemas import EVENT_LOG

    stream = (
        spark.readStream.schema(EVENT_LOG)
        .json(events_dir)
    )
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Watermarked sliding-window aggregate over the events stream table —
    the standard late-data-tolerant rollup (works on batch DF too)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# -- custom stateful operator: streaming sessionization ------------------------

SESSION_STATE_SCHEMA = "session_start timestamp, last_ts timestamp, n_events int, session_no int"
SESSION_OUT_SCHEMA = (
    "user_id string, session_no int, n_events int, "
    "session_start timestamp, session_end timestamp, closed boolean"
)


def _sessionize_state_fn(gap_seconds: int):
    """applyInPandasWithState kernel: per-user open-session state, emit a
    closed-session row when the gap exceeds ``gap_seconds`` (or the event-
    time timeout fires), plus the live session's running row."""
    import pandas as pd

    def fn(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            (start, last, n, sess_no) = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_no": sess_no,
                        "n_events": n,
                        "session_start": start,
                        "session_end": last,
                        "closed": True,
                    }
                ]
            )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start, last, n, sess_no = state.get
        else:
            start = last = None
            n, sess_no = 0, 0

        out = []
        for ts in rows["ts"]:
            ts = ts.to_pydatetime()
            if last is not None and (ts - last).total_seconds() > gap_seconds:
                out.append(
                    {
                        "user_id": user_id,
                        "session_no": sess_no,
                        "n_events": n,
                        "session_start": start,
                        "session_end": last,
                        "closed": True,
                    }
                )
                sess_no += 1
                start, n = ts, 0
            if start is None:
                start = ts
            last = ts
            n += 1

        state.update((start, last, n, sess_no))
        # event-time timeout: close the session if no event arrives within
        # the gap past the watermark.  The pandas timestamps are tz-naive
        # UTC wall times — naive datetime.timestamp() would reinterpret
        # them in the host's local timezone, shifting the timeout by the
        # UTC offset on non-UTC hosts; calendar.timegm treats the tuple as
        # UTC unconditionally.
        import calendar

        epoch_ms = (
            calendar.timegm(last.timetuple()) * 1000
            + last.microsecond // 1000
        )
        state.setTimeoutTimestamp(epoch_ms + gap_seconds * 1000)
        out.append(
            {
                "user_id": user_id,
                "session_no": sess_no,
                "n_events": n,
                "session_start": start,
                "session_end": last,
                "closed": False,
            }
        )
        yield pd.DataFrame(out)

    return fn


def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator (SURVEY §2.8 surface): per-user
    sessionization via ``applyInPandasWithState`` — open sessions live in
    the state store (checkpointed, resumable), close on gap or event-time
    timeout.  The batch analog is plans/queries.py:events_sessionized; the
    session-cut semantics match it (gap > gap_seconds starts a new one).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_state_fn(gap_seconds),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# -- streaming exact dedup (training-pipeline surface) -------------------------


def dedup_stream(
    events_stream: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival per key,
    bounded state via ``dropDuplicatesWithinWatermark`` — duplicates
    arriving within the watermark horizon are suppressed, and state for
    keys older than the watermark is evicted (the unbounded-state trap
    ``dropDuplicates`` alone would hit on an infinite stream).

    The batch analog is ``operators/text_dedup.exact_duplicates``; this
    is its continuous form for an ingest firehose.
    """
    return events_stream.withWatermark(
        watermark_col, watermark
    ).dropDuplicatesWithinWatermark(key_cols)
