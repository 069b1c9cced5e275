"""applyInPandasWithState sessionization over a replayed events stream."""

import shutil

import pyspark.sql.functions as F
import pytest

from geocode_spark.streaming.sessionize import sessionize


def test_sessionize_stream(spark, tmp_path):
    # stage sf0.001 events as a file stream
    src = tmp_path / "ev_in"
    src.mkdir()
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    schema = df.schema
    stream = (spark.readStream.schema(schema).parquet(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))

    out = sessionize(stream, gap_seconds=600)
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("sessions")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
        rows = spark.sql("select * from sessions").collect()
    finally:
        q.stop()
    # sessions only close when a later event exceeds the gap; the stream has
    # enough users/time-spread that some must close
    assert len(rows) > 0
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1

    # batch-equivalent oracle: sessionization via window lag in SQL
    batch = df.withColumn("ts", F.col("ts").cast("timestamp"))
    batch.createOrReplaceTempView("ev")
    oracle = spark.sql("""
      WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN unix_micros(ts) - unix_micros(
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                    > 600000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM ev),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
            FROM g)
      SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM s GROUP BY user_id, sess
    """)
    # every CLOSED streaming session must match an oracle session exactly
    oracle_keys = {(r.user_id, r.session_start, r.session_end, r.n_events)
                   for r in oracle.collect()}
    for r in rows:
        assert (r.user_id, r.session_start, r.session_end, r.n_events) \
            in oracle_keys
