"""M4 — Structured Streaming: foreachBatch MERGE ingestion, streaming dedup,
session windows vs the batch gaps-and-islands formulation."""

from __future__ import annotations

import datetime as dt
import shutil

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark import schemas
from data_ingestion_pipeline_spark.plans.merge import merge_upsert
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.csv_reader import read_orders_csv
from data_ingestion_pipeline_spark.streaming.ingest import (
    run_stream_to_completion,
    stream_orders_csv,
)
from data_ingestion_pipeline_spark.streaming.windows import (
    dedup_events_stream,
    session_window_stats,
    sessionize_gaps_and_islands,
)
from tests.fixtures import ORDERS_HEADER


def _write_orders_csv(path, rows):
    with open(path, "w") as f:
        f.write(ORDERS_HEADER + "\n")
        for r in rows:
            f.write(r + "\n")


def test_stream_ingest_foreachbatch_merge(spark, tmp_path):
    """Two files dropped into the watched dir: second updates the first's
    key (later event time) and inserts a new one — exactly the batch MERGE
    semantics, driven through a real streaming query with checkpointing."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = ManagedTable(spark, str(tmp_path / "orders_tbl"))

    _write_orders_csv(
        inbox / "batch1.csv",
        [
            'o1,p1,SEK,1,0,100.0,direct,direct,"",2023-02-01T10:00:00Z',
            'o2,p2,SEK,2,0,200.0,google,sem,"c1",2023-02-01T11:00Z',
        ],
    )
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    got = {(r.order_id, r.product_id): r for r in table.read().collect()}
    assert len(got) == 2
    assert got[("o2", "p2")].campaign == "c1"
    assert got[("o2", "p2")].date_time == dt.datetime(2023, 2, 1, 11, 0)  # minute-precision parsed

    _write_orders_csv(
        inbox / "batch2.csv",
        [
            'o1,p1,SEK,5,0,150.0,bing,sem,"",2023-02-02T09:00:00Z',  # update (later ts)
            'o3,p1,SEK,1,0,300.0,direct,direct,"",2023-02-02T10:00:00Z',  # insert
        ],
    )
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    got = {(r.order_id, r.product_id): r for r in table.read().collect()}
    assert len(got) == 3
    assert got[("o1", "p1")].quantity == 5 and got[("o1", "p1")].amount == 150.0

    # replaying the same inbox with a FRESH checkpoint converges (MERGE idempotent)
    shutil.rmtree(tmp_path / "ckpt")
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    assert table.read().count() == 3


def test_stream_and_batch_ingest_drop_the_same_malformed_line(spark, tmp_path):
    """Both ingest paths share one CSV reader: a malformed line (a
    non-integer quantity) is dropped by the stream exactly as by the batch
    read, so the two tables are identical."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _write_orders_csv(
        inbox / "batch1.csv",
        [
            'o1,p1,SEK,1,0,100.0,direct,direct,"",2023-02-01T10:00:00Z',
            'o2,p2,SEK,notanint,0.0,xx,direct,direct,"",2023-02-01T11:00:00Z',
            'o3,p3,SEK,3,0,300.0,google,sem,"c1",2023-02-01T12:00Z',
        ],
    )
    streamed = ManagedTable(spark, str(tmp_path / "streamed"))
    q = stream_orders_csv(spark, str(inbox), streamed, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    (progress,) = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert progress["numInputRows"] == 2

    batched = ManagedTable(spark, str(tmp_path / "batched"))
    merge_upsert(
        batched,
        read_orders_csv(spark, str(inbox / "batch1.csv")),
        keys=schemas.ORDERS_KEY,
        order_col="date_time",
    )
    got = sorted(tuple(r) for r in streamed.read().collect())
    assert got == sorted(tuple(r) for r in batched.read().collect())
    assert [r[0] for r in got] == ["o1", "o3"]


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_streaming_dedup_drops_replayed_ids(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, 1.0),
        (1, t0 + dt.timedelta(minutes=1), 7, 1.0),  # replay of id 1
        (2, t0 + dt.timedelta(minutes=2), 7, 2.0),
    ]
    src = tmp_path / "events_src"
    _mk_events(spark, rows).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).parquet(str(src))
    deduped = dedup_events_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.table("dedup_out").collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_session_window_matches_gaps_and_islands(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 7: two sessions (gap 10 min > 5 min threshold)
    for i in range(3):
        rows.append((i, t0 + dt.timedelta(minutes=i), 7, 1.0))
    for i in range(3, 5):
        rows.append((i, t0 + dt.timedelta(minutes=13 + i), 7, 1.0))
    # user 8: one session
    rows.append((10, t0, 8, 2.0))
    events = _mk_events(spark, rows)

    gi = sessionize_gaps_and_islands(events, gap_minutes=5)
    sw = session_window_stats(events, gap="5 minutes")

    gi_sessions = {
        (r.user_id, r.session_start, r.n_events) for r in gi.collect()
    }
    sw_sessions = {
        (r.user_id, r.session_start, r.n_events) for r in sw.collect()
    }
    assert gi_sessions == sw_sessions
    assert len(gi_sessions) == 3


def test_interval_join_batch_stream_parity(spark):
    """The same purchases_with_recent_views plan over batch frames equals
    the drained stream-stream join output (row multiset)."""
    from pyspark.sql import functions as F

    from data_ingestion_pipeline_spark.operators.streaming_checks import (
        streaming_interval_join_events,
    )
    from data_ingestion_pipeline_spark.sources.catalog import load_table
    from data_ingestion_pipeline_spark.streaming.joins import (
        purchases_with_recent_views,
    )
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    batch = purchases_with_recent_views(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "view"),
    )
    streamed = streaming_interval_join_events(spark, SF_SMOKE)
    a = sorted(tuple(r) for r in batch.collect())
    b = sorted(tuple(r) for r in streamed.collect())
    assert a == b and len(a) > 0


def test_chained_window_rollup_seals_complete_days_only(spark):
    from data_ingestion_pipeline_spark.operators.streaming_checks import (
        streaming_chained_window_rollup_events,
    )

    from tests.conftest import SF_SMOKE

    got = {
        r.day_start: r
        for r in streaming_chained_window_rollup_events(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    import pyspark.sql.functions as F

    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("tv"),
        )
        .select(F.col("d.start").alias("s"), F.col("d.end").alias("e"), "n", "tv")
        .collect()
    )
    sealed = {r.s: r for r in batch if r.e <= max_ts - dt.timedelta(hours=2)}
    assert set(got) == set(sealed)
    for day, r in got.items():
        assert r.n_events == sealed[day].n
        assert r.total_value == sealed[day].tv
