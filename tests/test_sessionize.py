"""applyInPandasWithState sessionization over a replayed events stream."""

import os
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from geocode_spark.streaming.sessionize import sessionize


@pytest.fixture(scope="module")
def events(spark):
    """The sf0.001 events table (one parquet file)."""
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return df


def _closed_sessions(spark, events):
    """Batch oracle: sessions by window lag in SQL, minus each user's last
    session (it stays open in the operator's state)."""
    batch = events.withColumn("ts", F.col("ts").cast("timestamp"))
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
            FROM g),
      c AS (SELECT user_id, sess, min(ts) AS session_start,
                   max(ts) AS session_end, count(*) AS n_events,
                   sum(value) AS total_value,
                   max(sess) OVER (PARTITION BY user_id) AS last_sess
            FROM s GROUP BY user_id, sess)
      SELECT user_id, session_start, session_end, n_events, total_value
      FROM c WHERE sess < last_sess
    """)
    return _keys(oracle.collect())


def _keys(rows):
    return sorted((r.user_id, r.session_start, r.session_end, r.n_events,
                   round(r.total_value, 6)) for r in rows)


@pytest.mark.parametrize("n_files", [1, 3],
                         ids=["one_batch", "three_batches"])
def test_sessionize_stream(spark, events, tmp_path, n_files):
    """The events as ``n_files`` time-ordered files, read one per trigger:
    with three, sessions open in one batch close in a later one, from the
    state carried between them."""
    src = tmp_path / "ev_in"
    src.mkdir()
    table = pq.read_table(urlparse(events.inputFiles()[0]).path).sort_by("ts")
    cuts = [i * table.num_rows // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        path = src / f"part-{i}.parquet"
        pq.write_table(table[cuts[i]:cuts[i + 1]], path)
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
    name = f"sessions_{n_files}"
    q = (sessionize(stream, gap_seconds=600).writeStream
         .outputMode("append").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120), f"stream {name!r} did not end"
        rows = spark.sql(f"select * from {name}").collect()
    finally:
        q.stop()
    assert len(q.recentProgress) == n_files
    # the stream has enough users and time spread that some sessions close
    assert len(rows) > 0
    assert _keys(rows) == _closed_sessions(spark, events)
