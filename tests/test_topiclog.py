"""Integration tests: the reference's broker end-to-end scenarios executed
against the in-repo durable log transport (streaming/topiclog.py).

The container has no Kafka broker or connector jar (ADVICE.md), so these run
the SAME consumer/producer/duplex surface over ``transport="topiclog"`` —
real persisted topics, partitions, offsets, checkpointed restarts. Scenario
mapping:

- count-through with envelope:   test/test_Consumer.coffee:55-69
- bursty produce, offsets go on: test/test_Producer.coffee:52-64
- filtered same-topic loop-back: test/test_getDuplex.coffee:57-76
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from rdkafka_streams_spark.streaming.consumer import KConsumer
from rdkafka_streams_spark.streaming.duplex import get_duplex
from rdkafka_streams_spark.streaming.producer import KProducer
from rdkafka_streams_spark.streaming.topiclog import (
    TopicLog,
    _publish_segment,
    read_topic,
)

# the admin CLI of this checkout, loaded by path
_ADMIN_CLI = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "topiclog_admin.py",
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "broker")


def _drain_to_memory(spark, df, name, checkpoint):
    """Drain a finite topiclog stream into an in-memory table.

    Python micro-batch sources don't implement Trigger.AvailableNow (Spark
    falls back to one single batch), so the faithful multi-batch drain is
    processAllAvailable() — it blocks until the source is exhausted across
    however many capped triggers that takes — then a graceful stop at the
    idle boundary."""
    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    return spark.sql(f"SELECT * FROM {name}")


def _drain_to_parquet(spark, df, path, checkpoint):
    """Checkpoint-recoverable drain (memory sink can't restart from a
    checkpoint): parquet sink + processAllAvailable + graceful stop.
    Returns the rows written across ALL drains into ``path`` so far."""
    import glob

    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    q = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)
    if not glob.glob(f"{path}/*.parquet"):
        return None
    return spark.read.parquet(path)


def test_count_through_with_envelope(spark, root, tmp_path):
    """Reference Consumer scenario: produce N JSON messages, consume them
    all, and get the full envelope (topic/partition/offset/timestamp/size)
    alongside the decoded value (src/Consumer.coffee:96)."""
    log = TopicLog(root)
    log.create_topic("events", partitions=3)
    log.append_json("events", [{"count": i, "source": "origin"} for i in range(30)])

    c = KConsumer(
        host=root, topic="events", from_offset="earliest",
        schema="count long, source string", transport="topiclog",
    )
    got = _drain_to_memory(spark, c.stream(spark), "ct", str(tmp_path / "ck")).collect()

    assert len(got) == 30
    assert {r["value"]["count"] for r in got} == set(range(30))
    assert all(r["topic"] == "events" and r["value"]["source"] == "origin" for r in got)
    # size = value byte length, like node-rdkafka's message.size
    one = next(r for r in got if r["value"]["count"] == 7)
    assert one["size"] == len(json.dumps({"count": 7, "source": "origin"}, separators=(",", ":")))
    # offsets are dense per partition, starting at 0 — real log semantics
    by_part: dict[int, list[int]] = {}
    for r in got:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    assert set(by_part) <= {0, 1, 2}
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_bursty_produce_offsets_continue(spark, root, tmp_path):
    """Reference Producer scenario: bursts of writes land, offsets continue
    monotonically across bursts, and a checkpointed consumer restart picks
    up ONLY the new burst (no replay, no loss)."""
    log = TopicLog(root)
    log.create_topic("burst", partitions=2)
    p = KProducer(host=root, topic="burst", transport="topiclog")

    burst1 = spark.range(10).select(F.col("id").alias("count"), F.lit("origin").alias("source"))
    p.write_batch(burst1)
    ends1 = log.end_offsets("burst")
    assert sum(ends1.values()) == 10

    c = KConsumer(
        host=root, topic="burst", from_offset="earliest",
        schema="count long, source string", transport="topiclog",
    )
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    got1 = _drain_to_parquet(spark, c.stream(spark), out, ck).collect()
    assert {r["value"]["count"] for r in got1} == set(range(10))

    burst2 = spark.range(10, 25).select(F.col("id").alias("count"), F.lit("origin").alias("source"))
    p.write_batch(burst2)
    ends2 = log.end_offsets("burst")
    assert sum(ends2.values()) == 25
    assert all(ends2[k] >= ends1.get(k, 0) for k in ends2)  # offsets only grow

    # same checkpoint → second drain resumes from committed offsets: the
    # sink dir now holds exactly both bursts, no replay of burst 1
    got2 = _drain_to_parquet(spark, c.stream(spark), out, ck).collect()
    assert len(got2) == 25
    assert {r["value"]["count"] for r in got2} == set(range(25))


def test_duplex_loopback_converges(spark, root, tmp_path):
    """Reference getDuplex scenario: read the bus, transform records tagged
    source='origin' into source='processed', write them back to the SAME
    topic. The guard filter is what terminates the loop — after one hop the
    bus holds originals + processed copies, and a second hop produces
    nothing new."""
    log = TopicLog(root)
    log.create_topic("bus", partitions=2)
    log.append_json("bus", [{"count": i, "source": "origin"} for i in range(12)])

    dup = get_duplex(
        host=root, topic="bus", schema="count long, source string",
        from_offset="earliest", checkpoint=str(tmp_path / "ck"),
        transport="topiclog",
    )

    def retag(df):
        return df.select(
            F.col("value.count").alias("count"), F.lit("processed").alias("source")
        )

    guard = F.col("value.source") == "origin"

    q = dup.pipe(spark, retag, guard, available_now=True)
    assert q.awaitTermination(120)
    vals = [
        json.loads(bytes(r["value"]).decode())
        for r in read_topic(spark, root, "bus").collect()
    ]
    assert len(vals) == 24
    assert sum(v["source"] == "origin" for v in vals) == 12
    assert sum(v["source"] == "processed" for v in vals) == 12
    assert sorted(v["count"] for v in vals if v["source"] == "processed") == list(range(12))

    # hop 2: the 12 'processed' records fail the guard; the 12 'origin' ones
    # are behind the committed offset — the loop has converged
    q2 = dup.pipe(spark, retag, guard, available_now=True)
    assert q2.awaitTermination(120)
    assert read_topic(spark, root, "bus").count() == 24


def test_multi_topic_and_pattern_subscribe(spark, root, tmp_path):
    """S5: list subscribe and regex-pattern subscribe over the transport."""
    log = TopicLog(root)
    log.create_topic("sensor-1")
    log.create_topic("sensor-2")
    log.create_topic("other")
    log.append_json("sensor-1", [{"count": 1, "source": "a"}] * 3)
    log.append_json("sensor-2", [{"count": 2, "source": "b"}] * 4)
    log.append_json("other", [{"count": 3, "source": "c"}] * 5)

    c = KConsumer(
        host=root, topic=["sensor-1", "sensor-2"], from_offset="earliest",
        schema="count long, source string", transport="topiclog",
    )
    got = _drain_to_memory(spark, c.stream(spark), "mt", str(tmp_path / "ck1")).collect()
    assert len(got) == 7 and {r["topic"] for r in got} == {"sensor-1", "sensor-2"}

    cp = KConsumer(
        host=root, topic="sensor-.*", pattern=True, from_offset="earliest",
        schema="count long, source string", transport="topiclog",
    )
    gotp = _drain_to_memory(spark, cp.stream(spark), "pt", str(tmp_path / "ck2")).collect()
    assert len(gotp) == 7 and {r["topic"] for r in gotp} == {"sensor-1", "sensor-2"}


def test_batch_size_caps_each_trigger(spark, root, tmp_path):
    """F1: the ≤batch_size pull loop (src/Consumer.coffee:57) — with a cap
    of 5 on a 20-message partition, the drain needs ≥4 micro-batches and no
    batch exceeds the cap."""
    log = TopicLog(root)
    log.create_topic("capped", partitions=1)
    log.append_json("capped", [{"count": i, "source": "x"} for i in range(20)])

    c = KConsumer(
        host=root, topic="capped", from_offset="earliest", batch_size=5,
        schema="count long, source string", transport="topiclog",
    )
    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    q = (
        c.stream(spark)
        .writeStream.format("memory").queryName("capq")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    shutdown(q, 60)
    assert spark.sql("SELECT count(*) c FROM capq").first()["c"] == 20
    assert sizes and max(sizes) <= 5 and len(sizes) >= 4


def test_partition_routing(spark, root):
    """Producer partition semantics: explicit partition column wins
    (intended src/Producer.coffee:71 behavior); keyed records of the same
    key land in the same partition; keys round-trip."""
    log = TopicLog(root)
    log.create_topic("routed", partitions=4)
    df = spark.createDataFrame(
        [(i, f"user{i % 3}", i % 4) for i in range(20)], "count long, k string, part int"
    )
    p = KProducer(host=root, topic="routed", key="k", partition_col="part", transport="topiclog")
    p.write_batch(df)

    rows = read_topic(spark, root, "routed").collect()
    assert len(rows) == 20
    for r in rows:
        v = json.loads(bytes(r["value"]).decode())
        assert r["partition"] == v["count"] % 4  # explicit routing respected
        assert bytes(r["key"]).decode() == f"user{v['count'] % 3}"  # key round-trip

    # keyed-only routing: same key → same partition
    log.create_topic("keyed", partitions=4)
    pk = KProducer(host=root, topic="keyed", key="k", transport="topiclog")
    pk.write_batch(df.drop("part"))
    by_key: dict[str, set[int]] = {}
    for r in read_topic(spark, root, "keyed").collect():
        by_key.setdefault(bytes(r["key"]).decode(), set()).add(r["partition"])
    assert all(len(parts) == 1 for parts in by_key.values())


def test_offset_reset_latest_vs_earliest(spark, root, tmp_path):
    """S4: fromOffset semantics (src/Consumer.coffee:26) — 'latest' skips
    history; the checkpointed continuation then sees only post-start data."""
    log = TopicLog(root)
    log.create_topic("hist", partitions=1)
    log.append_json("hist", [{"count": i, "source": "old"} for i in range(5)])

    c = KConsumer(
        host=root, topic="hist", from_offset="latest",
        schema="count long, source string", transport="topiclog",
    )
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    first = _drain_to_parquet(spark, c.stream(spark), out, ck)
    assert first is None or first.count() == 0  # history skipped

    log.append_json("hist", [{"count": i, "source": "new"} for i in range(5, 8)])
    got = _drain_to_parquet(spark, c.stream(spark), out, ck).collect()
    assert {r["value"]["count"] for r in got} == {5, 6, 7}
    assert all(r["value"]["source"] == "new" for r in got)


def test_windowed_agg_over_topiclog_matches_batch(spark, root, tmp_path):
    """Composition: a tumbling-window event-time aggregate (T1) runs over
    the topiclog transport like over any Kafka-shaped stream, and the
    streaming replay equals the batch computation on the same records."""
    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    log = TopicLog(root)
    log.create_topic("evt", partitions=2)
    base = 1_700_000_000  # epoch seconds
    objs = [
        {"user": f"u{i % 3}", "ts": base + i * 37, "v": i}  # spans ~6 minutes
        for i in range(100)
    ]
    log.append_json("evt", objs)

    c = KConsumer(
        host=root, topic="evt", from_offset="earliest",
        schema="user string, ts long, v long", transport="topiclog",
    )
    evt = c.stream(spark).select(
        F.col("value.user").alias("user"),
        F.timestamp_seconds(F.col("value.ts")).alias("ts"),
        F.col("value.v").alias("v"),
    )
    agg = (
        evt.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "2 minutes"), "user")
        .agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory").queryName("tl_win").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    shutdown(q, 60)

    got = {
        (r["window"]["start"], r["user"]): (r["sv"], r["n"])
        for r in spark.sql("SELECT * FROM tl_win").collect()
    }
    batch = spark.createDataFrame(
        [(o["user"], o["ts"], o["v"]) for o in objs], "user string, ts long, v long"
    ).select("user", F.timestamp_seconds("ts").alias("ts"), "v")
    expect = {
        (r["window"]["start"], r["user"]): (r["sv"], r["n"])
        for r in batch.groupBy(F.window("ts", "2 minutes"), "user")
        .agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_new_topic_discovered_mid_stream_reads_from_zero(spark, root, tmp_path):
    """Kafka new-partition semantics: under startingOffsets=latest, a topic
    that appears AFTER the stream starts (pattern subscription) is consumed
    from offset 0 — 'latest' describes the subscription start, it must not
    silently drop a new partition's history."""
    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    log = TopicLog(root)
    log.create_topic("sensor-1")
    log.append_json("sensor-1", [{"count": i, "source": "old"} for i in range(4)])

    c = KConsumer(
        host=root, topic="sensor-.*", pattern=True, from_offset="latest",
        schema="count long, source string", transport="topiclog",
    )
    q = (
        c.stream(spark)
        .writeStream.format("memory").queryName("dyn")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0.2 seconds")
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT count(*) c FROM dyn").first()["c"] == 0  # history skipped

    log.create_topic("sensor-2")
    log.append_json("sensor-2", [{"count": i, "source": "new"} for i in range(3)])
    q.processAllAvailable()
    shutdown(q, 60)

    rows = spark.sql("SELECT * FROM dyn").collect()
    assert {(r["topic"], r["value"]["count"]) for r in rows} == {
        ("sensor-2", 0), ("sensor-2", 1), ("sensor-2", 2)
    }


def test_dlq_split_over_topiclog(spark, root, tmp_path):
    """R3+T8 over the transport: one poisoned message on a real topic routes
    to the dead-letter frame (raw bytes + envelope intact) while good
    records decode and flow — the reference would abort the whole stream
    (src/Consumer.coffee:106-108)."""
    from rdkafka_streams_spark.streaming.consumer import decode_with_dlq
    from rdkafka_streams_spark.streaming.lifecycle import shutdown

    log = TopicLog(root)
    log.create_topic("dirty", partitions=1)
    log.append("dirty", [json.dumps({"count": i, "source": "x"}) for i in range(5)]
               + ["{not json", "also-not-json"])

    c = KConsumer(host=root, topic="dirty", from_offset="earliest", transport="topiclog")
    raw = c.stream(spark)  # no schema → raw envelope frame
    good, bad = decode_with_dlq(raw, "count long, source string")

    qs = []
    for name, df in (("dlq_good", good), ("dlq_bad", bad)):
        qs.append(
            df.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(processingTime="0.2 seconds").start()
        )
    for q in qs:
        q.processAllAvailable()
        shutdown(q, 60)

    good_rows = spark.sql("SELECT * FROM dlq_good").collect()
    bad_rows = spark.sql("SELECT * FROM dlq_bad").collect()
    assert {r["value"]["count"] for r in good_rows} == set(range(5))
    assert sorted(bytes(r["value"]).decode() for r in bad_rows) == [
        "also-not-json", "{not json"
    ]
    assert all(r["topic"] == "dirty" and r["offset"] >= 0 for r in bad_rows)


def test_delivery_listener_counts_real_produce(spark, root, tmp_path):
    """F7 over a real sink: the DeliveryListener's total equals the number
    of records actually persisted to the topic by a streaming produce — the
    reference's total-delivered event (src/Producer.coffee:42-61, intended
    semantics) verified against durable output, not just progress events."""
    from rdkafka_streams_spark.streaming.lifecycle import shutdown
    from rdkafka_streams_spark.streaming.listeners import DeliveryListener

    log = TopicLog(root)
    log.create_topic("in", partitions=1)
    log.create_topic("out", partitions=1)
    log.append_json("in", [{"count": i, "source": "x"} for i in range(25)])

    listener = DeliveryListener()
    spark.streams.addListener(listener)
    try:
        c = KConsumer(
            host=root, topic="in", from_offset="earliest",
            schema="count long, source string", transport="topiclog",
        )
        p = KProducer(
            host=root, topic="out", checkpoint=str(tmp_path / "ck"),
            transport="topiclog",
        )
        q = p.write(
            c.stream(spark).select(
                F.col("value.count").alias("count"), F.col("value.source").alias("source")
            ),
            trigger="0.2 seconds",
        )
        q.processAllAvailable()
        qid = str(q.id)
        shutdown(q, 60)

        persisted = sum(log.end_offsets("out").values())
        assert persisted == 25
        # listener events are delivered asynchronously on the listener bus —
        # poll until the total catches up with the durable output
        import time

        deadline = time.monotonic() + 30
        while listener.totals.get(qid, 0) < persisted and time.monotonic() < deadline:
            time.sleep(0.2)
        assert listener.totals.get(qid) == persisted
    finally:
        spark.streams.removeListener(listener)


def test_consume_n_take_and_destroy(spark, root, tmp_path):
    """R6 over the transport: the reference's take-N-and-destroy loop
    (test_Consumer.coffee:65-66) — consume exactly N records from a live
    topic, stop, and leave the stream stoppable cleanly."""
    from rdkafka_streams_spark.streaming.consumer import consume_n

    log = TopicLog(root)
    log.create_topic("firehose", partitions=2)
    log.append_json("firehose", [{"count": i, "source": "x"} for i in range(50)])

    c = KConsumer(
        host=root, topic="firehose", from_offset="earliest",
        schema="count long, source string", transport="topiclog",
    )
    got = consume_n(c.stream(spark), 7, checkpoint=str(tmp_path / "ck"))
    assert len(got) == 7
    assert all(r["topic"] == "firehose" for r in got)
    assert len({r["value"]["count"] for r in got}) == 7  # distinct records
    assert not spark.streams.active  # destroyed, not leaked


def test_stream_writer_commit_abort_protocol(root):
    """Engine-free protocol check: staged files become visible segments only
    on commit; abort leaves the log untouched; a replayed (re-written) batch
    appends after the committed one (at-least-once, like the reference's
    cb-on-enqueue)."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog,
        _TopicLogStreamArrowWriter,
    )

    TopicLog(root).create_topic("proto", partitions=1)
    schema = StructType([StructField("value", StringType())])
    w = _TopicLogStreamArrowWriter({"path": root, "topic": "proto"}, schema)

    def batches():
        return iter([pa.RecordBatch.from_pylist([{"value": "a"}, {"value": "b"}])])

    # abort path: stage then abort → nothing visible, staging cleaned
    msg = w.write(batches())
    assert all(os.path.exists(p) for _pid, p in msg.files)
    assert TopicLog(root).end_offsets("proto") == {0: 0}
    w.abort([msg], batchId=0)
    assert not any(os.path.exists(p) for _pid, p in msg.files)
    assert TopicLog(root).end_offsets("proto") == {0: 0}

    # commit path: stage then commit → segment visible, staging cleaned
    msg1 = w.write(batches())
    w.commit([msg1], batchId=0)
    assert TopicLog(root).end_offsets("proto") == {0: 2}
    assert not any(os.path.exists(p) for _pid, p in msg1.files)

    # replay of the same batch appends (at-least-once, never lost)
    msg2 = w.write(batches())
    w.commit([msg2], batchId=0)
    assert TopicLog(root).end_offsets("proto") == {0: 4}


def test_sink_option_checks_and_arrow_selection(root):
    """Engine-free sink contract: both sinks reject a frame without a
    ``value`` column, the batch sink rejects ``txnId`` (streaming-only), a
    null-value tombstone needs a key, and the datasource hands the engine
    Arrow writers only — there is no Row-iterator produce path."""
    import pyarrow as pa
    from pyspark.sql.datasource import (
        DataSourceArrowWriter,
        DataSourceStreamArrowWriter,
    )
    from pyspark.sql.types import StringType, StructField, StructType

    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLogDataSource,
        _TopicLogArrowWriter,
        _TopicLogStreamArrowWriter,
    )

    TopicLog(root).create_topic("sink", partitions=1)
    opts = {"path": root, "topic": "sink"}
    no_value = StructType([StructField("key", StringType())])
    kv = StructType([StructField("key", StringType()),
                     StructField("value", StringType())])
    for cls in (_TopicLogArrowWriter, _TopicLogStreamArrowWriter):
        with pytest.raises(ValueError, match="requires a 'value' column"):
            cls(opts, no_value)

    with pytest.raises(ValueError, match="atomic/txnId are streaming-only"):
        _TopicLogArrowWriter({**opts, "txnid": "p"}, kv)

    w = _TopicLogArrowWriter({**opts, "tombstones": "true"}, kv)
    orphan = pa.RecordBatch.from_pylist(
        [{"key": None, "value": None}],
        schema=pa.schema([("key", pa.string()), ("value", pa.string())]),
    )
    with pytest.raises(ValueError, match="tombstone requires a key"):
        w.write(iter([orphan]))
    assert TopicLog(root).end_offsets("sink") == {0: 0}

    ds = TopicLogDataSource(opts)
    assert isinstance(ds.writer(kv, False), DataSourceArrowWriter)
    assert isinstance(ds.streamWriter(kv, False), DataSourceStreamArrowWriter)


def test_concurrent_appends_offsets_dense(root):
    """The os.link publish protocol serializes concurrent producers per
    partition: 8 threads × 5 segments land with dense, non-overlapping
    offsets (broker-free analog of a multi-producer topic)."""
    log = TopicLog(root)
    log.create_topic("hot", partitions=1)

    def pump(t: int) -> None:
        for i in range(5):
            log.append_json("hot", [{"count": t * 100 + i, "source": "x"}], partition=0)

    threads = [threading.Thread(target=pump, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert log.end_offsets("hot") == {0: 40}

    # offsets are exactly 0..39 with no gaps or duplicates
    from rdkafka_streams_spark.streaming.topiclog import _part_dir, _read_range

    offs = [rec[4] for rec in _read_range(root, "hot", 0, 0, 40)]
    assert sorted(offs) == list(range(40))
    counts = [json.loads(rec[1].decode())["count"] for rec in _read_range(root, "hot", 0, 0, 40)]
    assert len(set(counts)) == 40


# One rival producer: publishes ``n`` records to a partition directory,
# meeting its twin on two file barriers — once before publishing (both are
# started), once between reading the end offset and linking the segment.
_RIVAL_PRODUCER = r"""
import os, sys, time
from rdkafka_streams_spark.streaming import topiclog

pdir, sync, me, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])

def meet(stage, wait_s):
    open(os.path.join(sync, f"{stage}-{me}"), "w").close()
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline and sum(
        f.startswith(stage + "-") for f in os.listdir(sync)
    ) < 2:
        time.sleep(0.005)

read_end = topiclog._end_offset

def end_then_meet(part_dir):
    topiclog._end_offset = read_end
    start = read_end(part_dir)
    meet("claim", 2.0)
    return start

topiclog._end_offset = end_then_meet
meet("start", 60.0)
topiclog._publish_segment(pdir, ['{"vs":"%s","ts":0}' % me] * n)
"""


def test_two_producer_processes_claim_disjoint_ranges(tmp_path):
    """Two producer PROCESSES publishing to one partition at the same
    moment get disjoint offset ranges. Each reads the end offset, then
    waits (up to 2 s) for the other to read it too before linking: with
    a claim that is exclusive only on the full segment name, both read
    0 and link seg-0-3 and seg-0-5, an overlap. The claim lock makes the
    second producer read the end offset only after the first linked."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pdir = tmp_path / "t" / "p0"
    sync = tmp_path / "sync"
    pdir.mkdir(parents=True)
    sync.mkdir()
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               [repo, os.environ.get("PYTHONPATH", "")])}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RIVAL_PRODUCER, str(pdir), str(sync),
             me, str(n)],
            env=env,
        )
        for me, n in (("a", 3), ("b", 5))
    ]
    assert [p.wait(timeout=120) for p in procs] == [0, 0]
    from rdkafka_streams_spark.streaming.topiclog import _list_segments

    spans = [(start, count) for start, count, _ in _list_segments(str(pdir))]
    assert spans in ([(0, 3), (3, 5)], [(0, 5), (5, 3)]), spans


def test_streaming_scd2_merge_matches_batch_rebuild(spark, root, tmp_path):
    """CDC over the bus, incrementally: change bursts stream off a topiclog
    topic in micro-batches; scd2_foreach_batch merges each into a versioned
    dimension snapshot. After two separately-produced-and-drained bursts
    (the second resuming from the checkpoint), the final snapshot must
    equal a from-scratch scd2_build over the full change log."""
    from rdkafka_streams_spark.operators.cdc import (
        read_scd2,
        scd2_build,
        scd2_foreach_batch,
    )

    log = TopicLog(root)
    log.create_topic("cdc", partitions=2)
    p = KProducer(host=root, topic="cdc", key="k", transport="topiclog")

    schema = "k long, ts_us long, eid long, v string"
    burst1 = [(1, 1000, 1, "A"), (1, 2000, 2, "A"), (1, 3000, 3, "B"), (2, 1500, 4, "X")]
    burst2 = [(1, 9000, 5, "C"), (2, 7000, 6, "X"), (3, 8000, 7, "N")]
    dim_root = str(tmp_path / "dim")
    ck = str(tmp_path / "ck")
    c = KConsumer(
        host=root, topic="cdc", from_offset="earliest", schema=schema,
        transport="topiclog",
    )

    def drain():
        decoded = c.stream(spark).select(
            F.col("value.k").alias("k"),
            F.timestamp_micros(F.col("value.ts_us")).alias("ts"),
            F.col("value.eid").alias("eid"),
            F.col("value.v").alias("v"),
        )
        (
            decoded.writeStream.foreachBatch(
                scd2_foreach_batch(dim_root, key="k", ts="ts", attrs=["v"], tiebreak="eid")
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    p.write_batch(spark.createDataFrame(burst1, schema))
    drain()
    p.write_batch(spark.createDataFrame(burst2, schema))
    drain()

    full = spark.createDataFrame(burst1 + burst2, schema).select(
        "k", F.timestamp_micros("ts_us").alias("ts"), "eid", "v"
    )
    want = {tuple(r) for r in scd2_build(full, "k", "ts", ["v"], tiebreak="eid").collect()}
    got_df = read_scd2(spark, dim_root, "k long, v string, valid_from timestamp, valid_to timestamp, is_current boolean")
    got = {tuple(r) for r in got_df.collect()}
    assert got == want
    # the no-op image (2, "X") must not have forked a second version
    assert sum(1 for r in got if r[0] == 2) == 1


def test_compaction_keeps_latest_and_drops_tombstones(spark, root):
    """Kafka cleaner semantics: latest record per key survives with its
    ORIGINAL offset; keys whose latest record is a tombstone vanish;
    consumers positioned by offset still read correctly post-compaction."""
    log = TopicLog(root)
    log.create_topic("state", partitions=2)
    # three generations of updates for k0/k1/k2, then tombstone k1
    log.append("state", ["v0", "v1", "v2"], keys=["k0", "k1", "k2"], partition=0)
    log.append("state", ["v0b", "v1b"], keys=["k0", "k1"], partition=0)
    log.append("state", ["v0c", None], keys=["k0", "k1"], partition=0)
    log.append("state", ["w0"], keys=["z0"], partition=1)
    stats = log.compact("state")
    assert stats == {"kept": 3, "superseded": 4, "tombstoned": 1, "aborted": 0}

    rows = read_topic(spark, root, "state").collect()
    got = {
        bytes(r["key"]).decode(): (bytes(r["value"]).decode(), r["offset"], r["partition"])
        for r in rows
    }
    # k0's latest was offset 5 (3rd gen), k2 kept its original offset 2
    assert got == {"k0": ("v0c", 5, 0), "k2": ("v2", 2, 0), "z0": ("w0", 0, 1)}
    # end offsets unchanged — compaction never rewinds the log's clock
    assert log.end_offsets("state") == {0: 7, 1: 1}
    # offset-bounded re-read honours the preserved (gapped) offsets
    sub = read_topic(spark, root, "state").where(
        (F.col("partition") == 0) & (F.col("offset") >= 3)
    )
    assert {bytes(r["key"]).decode() for r in sub.collect()} == {"k0"}


def test_compaction_crash_recovery(spark, root):
    """A crash mid-swap (old segments unlinked, marker not yet promoted)
    loses nothing: the cleaner- marker holds the complete compacted state
    and the next compact() finishes the swap from it."""
    import os

    from rdkafka_streams_spark.streaming.topiclog import (
        _list_segments,
        _part_dir,
    )

    log = TopicLog(root)
    log.create_topic("state", partitions=1)
    log.append("state", ["v0", "v1"], keys=["k0", "k1"], partition=0)
    log.append("state", ["v0b"], keys=["k0"], partition=0)
    pdir = _part_dir(root, "state", 0)

    # simulate the worst crash point by hand: marker linked, ALL old
    # segments unlinked, final segment never published
    segs = _list_segments(pdir)
    lines = []
    for seg_start, _c, path in segs:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f):
                import json as _json

                rec = _json.loads(line)
                rec["o"] = rec.get("o", seg_start + i)
                lines.append(_json.dumps(rec, separators=(",", ":")))
    with open(os.path.join(pdir, f"cleaner-{3:020d}.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for _s, _c, path in segs:
        os.unlink(path)
    assert _list_segments(pdir) == []  # the partition LOOKS empty...

    # ...but compact() recovers the marker, then re-compacts normally
    stats = log.compact("state")
    assert stats == {"kept": 2, "superseded": 1, "tombstoned": 0, "aborted": 0}
    rows = {
        bytes(r["key"]).decode(): bytes(r["value"]).decode()
        for r in read_topic(spark, root, "state").collect()
    }
    assert rows == {"k0": "v0b", "k1": "v1"}
    assert log.end_offsets("state") == {0: 3}
    assert not any(n.startswith("cleaner-") for n in os.listdir(pdir))


def test_compaction_requires_keys(root):
    log = TopicLog(root)
    log.create_topic("plain", partitions=1)
    log.append("plain", ["a", "b"])  # keyless
    with pytest.raises(ValueError, match="keyed"):
        log.compact("plain")


def test_tombstone_sink_roundtrip(spark, root, tmp_path):
    """The sink persists null-value tombstones only when opted in; the
    envelope surfaces them as null values (Kafka source parity)."""
    log = TopicLog(root)
    log.create_topic("kv", partitions=1)
    df = spark.createDataFrame(
        [("k0", "x"), ("k1", None)], "key string, value string"
    )
    from rdkafka_streams_spark.streaming.topiclog import register

    register(spark)
    with pytest.raises(Exception, match="tombstones"):
        df.write.format("topiclog").option("path", root).option("topic", "kv").mode(
            "append"
        ).save()
    df.write.format("topiclog").option("path", root).option("topic", "kv").option(
        "tombstones", "true"
    ).mode("append").save()
    rows = {
        bytes(r["key"]).decode(): r["value"]
        for r in read_topic(spark, root, "kv").collect()
    }
    assert rows["k0"] is not None and rows["k1"] is None
    # after compaction the tombstoned key is gone
    log.compact("kv")
    left = {bytes(r["key"]).decode() for r in read_topic(spark, root, "kv").collect()}
    assert left == {"k0"}


def test_wire_format_legacy_binary_and_mixed_segments(spark, root):
    """The r5 fast wire fields (``ks``/``vs``) interop with everything the
    log can contain: legacy base64-only segments (pre-r5 data on disk),
    non-UTF-8 binary payloads (b64 fallback), and segments mixing both —
    all through the Arrow read path, byte-for-byte."""
    from rdkafka_streams_spark.streaming.topiclog import _part_dir

    log = TopicLog(root)
    log.create_topic("mix", partitions=1)
    pdir = _part_dir(root, "mix", 0)

    # segment 1: legacy base64-only lines, written by hand (old format)
    import base64 as b64

    legacy = [
        '{"k":"%s","v":"%s","ts":1000}'
        % (b64.b64encode(b"k0").decode(), b64.b64encode(b"v0").decode()),
        '{"k":null,"v":"%s","ts":1001}' % b64.b64encode(b"v1").decode(),
    ]
    _publish_segment(pdir, legacy)

    # segment 2: current producer — UTF-8 (fast fields), raw binary
    # (b64 fallback), and a unicode + JSON-escaping stress value
    binary = bytes([0xFF, 0x00, 0x9C])  # invalid UTF-8
    stress = 'line\nbreak "quoted" café'
    log.append("mix", values=[b"v2", binary, stress.encode()],
               keys=[b"k2", binary, "café"], partition=0)

    rows = sorted(
        [
            (
                (None if r["key"] is None else bytes(r["key"])),
                bytes(r["value"]),
                r["offset"],
            )
            for r in read_topic(spark, root, "mix").collect()
        ],
        key=lambda t: t[2],
    )
    assert rows == [
        (b"k0", b"v0", 0),
        (None, b"v1", 1),
        (b"k2", b"v2", 2),
        (binary, binary, 3),
        ("café".encode(), stress.encode(), 4),
    ]

    # compaction on a fully keyed topic preserves every representation
    # (binary keys/values round-trip through the compacted rewrite)
    log.create_topic("mixkv", partitions=1)
    log.append("mixkv", values=[b"a", binary, stress.encode(), b"a2"],
               keys=[b"ka", binary, "café", b"ka"], partition=0)
    stats = log.compact("mixkv")
    assert stats == {"kept": 3, "superseded": 1, "tombstoned": 0, "aborted": 0}
    compacted = {
        bytes(r["key"]): (bytes(r["value"]), r["offset"])
        for r in read_topic(spark, root, "mixkv").collect()
    }
    assert compacted == {
        b"ka": (b"a2", 3),
        binary: (binary, 1),
        "café".encode(): (stress.encode(), 2),
    }


def test_txn_sink_dedups_replayed_batch(spark, root):
    """Transactional produce (txnId option): a replayed micro-batch commit
    with an already-seen (txnId, batchId) must discard its staged files
    instead of appending duplicates; a different txnId sharing the topic
    must NOT dedup against it (markers are per-producer)."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog,
        _TopicLogStreamArrowWriter,
        read_topic,
    )

    log = TopicLog(root)
    log.create_topic("tx", partitions=2)
    schema = StructType.fromDDL("key string, value string")
    opts = {"path": root, "topic": "tx", "txnid": "prod-A"}
    w = _TopicLogStreamArrowWriter(opts, schema)

    def stage(rows):
        return w.write(iter([pa.RecordBatch.from_pylist(
            [{"key": k, "value": v} for k, v in rows])]))

    # epoch 0 commits once...
    w.commit([stage([("k0", "a"), ("k1", "b")])], 0)
    assert sum(log.end_offsets("tx").values()) == 2
    # ...and its replay (same txnId + batchId) is a no-op
    w.commit([stage([("k0", "a"), ("k1", "b")])], 0)
    assert sum(log.end_offsets("tx").values()) == 2
    # a later epoch appends normally
    w.commit([stage([("k2", "c")])], 1)
    assert sum(log.end_offsets("tx").values()) == 3
    # a DIFFERENT producer id re-using batchId 0 is not deduped
    w2 = _TopicLogStreamArrowWriter({**opts, "txnid": "prod-B"}, schema)
    w2.commit([stage([("k3", "d")])], 0)
    assert sum(log.end_offsets("tx").values()) == 4
    # no staged leftovers, and the data reads back exactly once
    import os

    staging = os.path.join(root, "tx", ".staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)
    vals = sorted(
        bytes(r["value"]).decode() for r in read_topic(spark, root, "tx").collect()
    )
    assert vals == ["a", "b", "c", "d"]


def test_delete_records_truncates_and_preserves_offsets(spark, root):
    """deleteRecords: whole segments below the cutoff unlink; the spanning
    segment trims in place; end offsets never move; a compacted (gapped)
    segment trims by its explicit offsets; reads from earliest start at
    the cutoff."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    # three segments of 3: offsets 0-8
    for base in range(3):
        log.append("t", [f"v{base * 3 + i}" for i in range(3)],
                   keys=[f"k{base * 3 + i}" for i in range(3)], partition=0)
    stats = log.delete_records("t", {0: 4})  # drops seg-0 fully, trims seg-1
    assert stats == {"deleted": 4, "kept": 5}
    assert log.end_offsets("t") == {0: 9}
    got = [(r["offset"], bytes(r["value"]).decode())
           for r in read_topic(spark, root, "t").collect()]
    assert sorted(got) == [(o, f"v{o}") for o in range(4, 9)]
    # now compact (gapped explicit offsets) and truncate inside the gap
    log.append("t", ["v4b"], keys=["k4"], partition=0)  # supersede k4 @9
    log.compact("t")
    log.delete_records("t", {0: 6})
    assert log.end_offsets("t") == {0: 10}
    left = sorted(
        (r["offset"], bytes(r["value"]).decode())
        for r in read_topic(spark, root, "t").collect()
    )
    # offsets 4 (superseded -> gone), 5 (< cutoff -> deleted); survivors:
    # 6,7,8 originals + k4's latest at 9
    assert left == [(6, "v6"), (7, "v7"), (8, "v8"), (9, "v4b")]


def test_delete_records_empty_spanning_segment_stays_readable(spark, root):
    """VERDICT r6 regression (a): a tombstone-compacted TAIL gap means every
    survivor of the spanning segment sits below the cutoff — the rewrite
    must produce a readable EMPTY segment (no poison blank line), the end
    offset must hold, and subsequent appends must land past it."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [f"v{i}" for i in range(4)],
               keys=[f"k{i}" for i in range(4)], partition=0)
    # tombstone the two HIGHEST keys -> after compact the segment spans
    # [0, 6) but its surviving records sit only at offsets 0 and 1
    log.append("t", [None, None], keys=["k2", "k3"], partition=0)
    log.compact("t")
    stats = log.delete_records("t", {0: 3})  # cutoff inside the tail gap
    assert stats == {"deleted": 2, "kept": 0}
    assert log.end_offsets("t") == {0: 6}
    assert read_topic(spark, root, "t").count() == 0  # readable, just empty
    log.append("t", ["v6"], keys=["k6"], partition=0)
    got = [(r["offset"], bytes(r["value"]).decode())
           for r in read_topic(spark, root, "t").collect()]
    assert got == [(6, "v6")]


def test_delete_records_recovers_stale_cleaner_marker_first(spark, root):
    """VERDICT r6 regression (b): a stale ``cleaner-`` marker (interrupted
    compact swap) must be recovered BEFORE truncation, else the next
    compact() resurrects the deleted records from the marker."""
    import os

    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog,
        _encode_line,
        read_topic,
    )

    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [f"v{i}" for i in range(6)],
               keys=[f"k{i}" for i in range(6)], partition=0)
    log.append("t", ["v0b"], keys=["k0"], partition=0)  # supersede k0 @6
    pdir = os.path.join(root, "t", "p0")
    # fabricate exactly what an interrupted compact() leaves behind: the
    # complete compacted snapshot under the reader-invisible marker name,
    # with the old segments still on disk
    lines = [_encode_line(f"k{i}".encode(), f"v{i}".encode(), 1, off=i)
             for i in range(1, 6)] + [_encode_line(b"k0", b"v0b", 1, off=6)]
    with open(os.path.join(pdir, f"cleaner-{7:020d}.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    log.delete_records("t", {0: 4})
    log.compact("t")  # must NOT resurrect offsets 1-3 from the stale marker
    got = sorted((r["offset"], bytes(r["value"]).decode())
                 for r in read_topic(spark, root, "t").collect())
    assert got == [(4, "v4"), (5, "v5"), (6, "v0b")]
    assert log.end_offsets("t") == {0: 7}


def test_delete_records_stats_are_record_accurate_on_gapped_segments(root):
    """VERDICT r6 regression (c) + ADVICE r6: {deleted, kept} must equal
    ACTUAL record counts even when compaction opened offset gaps (segment
    names carry the logical span, which then exceeds the line count) — and
    the count must come from the fast path (name count) for dense append
    segments, falling back to a scan only for gapped ones."""
    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog,
        _list_segments,
        _segment_record_count,
    )

    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [f"v{i}" for i in range(6)],
               keys=[f"k{i}" for i in range(6)], partition=0)
    log.append("t", [None, None], keys=["k0", "k1"], partition=0)  # tombstones
    log.compact("t")  # seg-0-8, 4 records at offsets 2..5
    log.append("t", [f"w{i}" for i in range(4)],
               keys=[f"m{i}" for i in range(4)], partition=0)  # seg-8-4 dense
    import os
    pdir = os.path.join(root, "t", "p0")
    spans = {s: (c, _segment_record_count(p, c)) for s, c, p in _list_segments(pdir)}
    assert spans == {0: (8, 4), 8: (4, 4)}  # gapped scans, dense trusts name
    # cutoff 0: nothing deleted; kept must be 8 actual records, not 12 spans
    assert log.delete_records("t", {0: 0}) == {"deleted": 0, "kept": 8}
    # cutoff 9: gapped seg fully below (4 actual records), dense seg trims 1
    assert log.delete_records("t", {0: 9}) == {"deleted": 5, "kept": 3}
    assert log.end_offsets("t") == {0: 12}


def test_segment_record_count_fast_path(tmp_path):
    """_segment_record_count: dense append segments return the name's count
    WITHOUT scanning; gapped (explicit-"o") segments scan; empty files are 0;
    payloads containing the literal string '"o"' don't fool the probe."""
    import os

    from rdkafka_streams_spark.streaming.topiclog import (
        _encode_line,
        _segment_record_count,
    )

    dense = str(tmp_path / "seg-00000000000000000000-3.jsonl")
    with open(dense, "w") as f:
        f.write("\n".join(_encode_line(b"k", b'has "o" inside', 1) for _ in range(3)) + "\n")
    gapped = str(tmp_path / "seg-00000000000000000000-9.jsonl")
    with open(gapped, "w") as f:
        f.write("\n".join(_encode_line(b"k", b"v", 1, off=o) for o in (2, 5)) + "\n")
    empty = str(tmp_path / "seg-00000000000000000005-0.jsonl")
    open(empty, "w").close()
    assert _segment_record_count(dense, 3) == 3
    assert _segment_record_count(gapped, 9) == 2
    assert _segment_record_count(empty, 0) == 0


def test_group_offsets_commit_fetch_roundtrip(tmp_path):
    """__consumer_offsets analog: commit/fetch roundtrip, per-partition
    merge across commits, rewind allowed, fresh group empty."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=3)
    assert log.committed("g1", "t") == {}
    assert log.groups() == []

    log.commit_offsets("g1", "t", {0: 10, 1: 20})
    assert log.committed("g1", "t") == {0: 10, 1: 20}
    # merge: a later commit for p2 keeps p0/p1
    log.commit_offsets("g1", "t", {2: 5})
    assert log.committed("g1", "t") == {0: 10, 1: 20, 2: 5}
    # rewind is a replay, not an error (commitSync with an earlier position)
    log.commit_offsets("g1", "t", {0: 3})
    assert log.committed("g1", "t")[0] == 3
    # groups are isolated
    log.commit_offsets("g2", "t", {0: 99})
    assert log.committed("g1", "t")[0] == 3
    assert log.groups() == ["g1", "g2"]
    # the dot-dir holding group state is not a topic
    assert log.topics() == ["t"]
    # no stray tmp files from the atomic writes
    gdir = tmp_path / ".groups" / "g1"
    assert not [p for p in gdir.iterdir() if ".tmp-" in p.name]


def test_group_offsets_validation(tmp_path):
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t")
    with pytest.raises(ValueError, match="negative"):
        log.commit_offsets("g", "t", {0: -1})
    for bad in ("", ".hidden", "a/b"):
        with pytest.raises(ValueError, match="invalid group"):
            log.commit_offsets(bad, "t", {0: 0})
    # advisor r7: topic is a path component too — "../x" used to escape the
    # group directory as <root>/.groups/<group>/../x.json
    for bad in ("", "../x", ".hidden", "a/b", "a\\b"):
        with pytest.raises(ValueError, match="invalid topic"):
            log.commit_offsets("g", bad, {0: 0})


def test_consumer_lag_per_partition(tmp_path):
    """lag = end - committed; an uncommitted partition lags by its whole
    log with committed None (earliest-reset posture)."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c"], partition=0)
    log.append("t", [b"x", b"y"], partition=1)
    log.commit_offsets("g", "t", {0: 2})
    lag = log.consumer_lag("g", "t")
    assert lag[0] == {"end_offset": 3, "committed": 2, "lag": 1}
    assert lag[1] == {"end_offset": 2, "committed": None, "lag": 2}
    # fully caught-up after committing the ends
    log.commit_offsets("g", "t", {0: 3, 1: 2})
    assert all(v["lag"] == 0 for v in log.consumer_lag("g", "t").values())
    # advisor r7: a commit past the log end (stale state after a log reset)
    # clamps to lag 0 — Kafka's clamped semantics, never negative
    log.commit_offsets("g", "t", {0: 99})
    assert log.consumer_lag("g", "t")[0] == {
        "end_offset": 3, "committed": 99, "lag": 0,
    }


def test_offsets_for_times(tmp_path):
    """Kafka offsetsForTimes contract: earliest offset with record ts >=
    target; None when every record precedes the target or the partition is
    empty; non-monotonic CreateTime still returns the EARLIEST qualifying
    offset, not the first in time order."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=3)
    log.append("t", [b"a", b"b", b"c", b"d"], partition=0,
               timestamps=[100, 200, 300, 400])
    # non-monotonic CreateTime on p1: offsets 0..3 carry 100, 500, 150, 600
    log.append("t", [b"w", b"x", b"y", b"z"], partition=1,
               timestamps=[100, 500, 150, 600])
    # p2 stays empty

    assert log.offsets_for_times("t", 250) == {0: 2, 1: 1, 2: None}
    assert log.offsets_for_times("t", 100) == {0: 0, 1: 0, 2: None}
    # beyond every record -> None everywhere (caller picks reset strategy)
    assert log.offsets_for_times("t", 10_000) == {0: None, 1: None, 2: None}
    # per-partition targets; unlisted partitions are omitted
    assert log.offsets_for_times("t", {0: 400, 1: 501}) == {0: 3, 1: 3}


def test_sink_timestamp_column_create_time(spark, tmp_path):
    """The sink's optional ``timestamp`` column (Kafka CreateTime): read
    back, the envelope's timestamp equals the produced event time, not the
    produce wall-clock; offsets_for_times seeks against it."""
    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = str(tmp_path / "bus")
    TopicLog(root).create_topic("t", partitions=1)
    df = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00"), (2, "2024-01-10 00:00:00"),
         (3, "2024-01-20 00:00:00")],
        "id long, evt string",
    ).select("id", F.to_timestamp("evt").alias("evt"))
    KProducer(
        host=root, topic="t", transport="topiclog", timestamp_col="evt",
    ).write_batch(df.repartition(1).sortWithinPartitions("id"))
    got = {
        r["offset"]: r["timestamp"].strftime("%Y-%m-%d")
        for r in read_topic(spark, root, "t").collect()
    }
    assert got == {0: "2024-01-05", 1: "2024-01-10", 2: "2024-01-20"}
    cutoff_ms = 1704931200000  # 2024-01-11 UTC
    assert TopicLog(root).offsets_for_times("t", cutoff_ms) == {0: 2}


def test_headers_roundtrip_and_arrow_path_tolerance(spark, tmp_path):
    """Kafka record headers: ordered, duplicate keys and null values legal,
    record without headers reads back None; a reader WITHOUT includeHeaders
    still parses a headers-bearing topic through the Arrow fast path."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append(
        "t", [b"v0", b"v1", b"v2"], partition=0,
        headers=[
            [("trace", b"abc"), ("trace", b"def"), ("nul", None)],  # dup + null
            None,                                                   # no headers
            [("enc", "gzip")],                                      # str value ok
        ],
    )
    rows = {r["offset"]: r["headers"]
            for r in read_topic(spark, root, "t", include_headers=True).collect()}
    assert [(h["key"], bytes(h["value"]) if h["value"] is not None else None)
            for h in rows[0]] == [("trace", b"abc"), ("trace", b"def"), ("nul", None)]
    assert rows[1] is None
    assert [(h["key"], bytes(h["value"])) for h in rows[2]] == [("enc", b"gzip")]

    # reader without includeHeaders: no headers column, values intact (arrow path)
    plain = read_topic(spark, root, "t")
    assert "headers" not in plain.columns
    assert {bytes(r["value"]) for r in plain.collect()} == {b"v0", b"v1", b"v2"}


def test_headers_survive_compaction(tmp_path):
    """compact() keeps the latest record PER KEY with ITS headers."""
    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog, _read_range,
    )

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"old", b"other"], keys=[b"k1", b"k2"], partition=0,
               headers=[[("gen", b"1")], [("gen", b"x")]])
    log.append("t", [b"new"], keys=[b"k1"], partition=0,
               headers=[[("gen", b"2")]])
    log.compact("t")
    got = {
        row[0]: (row[1], row[7])
        for row in _read_range(root, "t", 0, 0, 3, include_headers=True)
    }
    assert got[b"k1"][0] == b"new" and got[b"k1"][1] == [("gen", b"2")]
    assert got[b"k2"][1] == [("gen", b"x")]


def test_producer_headers_col_streaming_consume(spark, tmp_path):
    """KProducer.headers_col -> sink headers column -> streaming consumer
    with include_headers: the envelope column arrives through the stream
    reader too (not just the batch path)."""
    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown

    root = str(tmp_path / "bus")
    ck = str(tmp_path / "ck")
    TopicLog(root).create_topic("t", partitions=2)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string").select(
        "id",
        F.array(F.struct(
            F.lit("tag").alias("key"), F.col("tag").cast("binary").alias("value"),
        )).alias("hdr"),
    )
    KProducer(
        host=root, topic="t", key="id", headers_col="hdr", transport="topiclog",
    ).write_batch(df)
    dec = KConsumer(
        host=root, topic="t", from_offset="earliest", include_headers=True,
        schema="id long", transport="topiclog",
    ).stream(spark)
    name = "hdr_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    shutdown(q, 30)
    got = {
        r["value"]["id"]: [(h["key"], bytes(h["value"])) for h in r["headers"]]
        for r in spark.table(name).collect()
    }
    assert got == {1: [("tag", b"a")], 2: [("tag", b"b")]}


def test_assign_partition_subset(spark, tmp_path):
    """Kafka 'assign' subscription mode: batch and streaming readers
    consume exactly the assigned partitions."""
    from rdkafka_streams_spark.streaming import KConsumer, TopicLog, read_topic, shutdown

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=4)
    for pid in range(4):
        log.append("t", [f"p{pid}r{i}".encode() for i in range(3)], partition=pid)

    batch = read_topic(spark, root, "t", assign='{"t": [0, 2]}')
    assert {r["partition"] for r in batch.collect()} == {0, 2}
    assert batch.count() == 6

    dec = KConsumer(
        host=root, topic="t", assign='{"t": [1]}', from_offset="earliest",
        transport="topiclog",
    ).stream(spark)
    name = "assign_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    shutdown(q, 30)
    rows = spark.table(name).collect()
    assert {r["partition"] for r in rows} == {1}
    assert len(rows) == 3


def test_batch_read_offset_and_timestamp_bounds(spark, tmp_path):
    """Kafka batch source bounds: startingOffsets/endingOffsets JSON with
    -2/-1 sentinels, and startingTimestamp/endingTimestamp resolved via
    offsetsForTimes (the daily-window batch ETL shape)."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [f"a{i}".encode() for i in range(10)], partition=0,
               timestamps=[100 * (i + 1) for i in range(10)])  # 100..1000
    log.append("t", [f"b{i}".encode() for i in range(4)], partition=1,
               timestamps=[100, 200, 300, 400])

    # offsets: p0 [2, 5); p1 earliest..latest
    df = read_topic(
        spark, root, "t",
        startingOffsets='{"t": {"0": 2, "1": -2}}',
        endingOffsets='{"t": {"0": 5, "1": -1}}',
    )
    got = {(r["partition"], r["offset"]) for r in df.collect()}
    assert got == {(0, 2), (0, 3), (0, 4), (1, 0), (1, 1), (1, 2), (1, 3)}

    # timestamps: [250, 650) -> p0 offsets 2..5 (ts 300..600), p1 offsets 2..3
    df = read_topic(spark, root, "t", startingTimestamp="250", endingTimestamp="650")
    got = {(r["partition"], r["offset"]) for r in df.collect()}
    assert got == {(0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (1, 3)}

    # start timestamp beyond every record -> empty; end beyond -> to log end
    assert read_topic(spark, root, "t", startingTimestamp="5000").count() == 0
    assert read_topic(spark, root, "t", startingTimestamp="950").count() == 1


def test_min_partitions_splits_offset_ranges(spark, tmp_path):
    """Kafka source minPartitions: a 2-partition topic read with
    minPartitions=8 produces >=8 Spark input partitions, complete and
    duplicate-free data, and per-(partition,offset) integrity."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [f"a{i}".encode() for i in range(100)], partition=0)
    log.append("t", [f"b{i}".encode() for i in range(20)], partition=1)

    df = read_topic(spark, root, "t", minPartitions="8")
    assert df.rdd.getNumPartitions() >= 8
    rows = df.collect()
    assert len(rows) == 120
    assert len({(r["partition"], r["offset"]) for r in rows}) == 120
    # proportional splitting: the 100-record partition gets more slices
    plain = read_topic(spark, root, "t")
    assert plain.rdd.getNumPartitions() == 2


def test_commit_query_progress_bridges_lag(spark, tmp_path):
    """enable.auto.commit analog: a streaming consumer's processed
    positions land in the group store, so consumer_lag reports 0 for a
    caught-up Spark query and the true deficit after more produces."""
    from rdkafka_streams_spark.streaming import (
        KConsumer, TopicLog, commit_query_progress, shutdown,
    )

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c"], partition=0)
    log.append("t", [b"x"], partition=1)

    dec = KConsumer(host=root, topic="t", from_offset="earliest",
                    transport="topiclog").stream(spark)
    name = "cqp_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = commit_query_progress(q, root, "spark-app")
    shutdown(q, 30)
    assert got == {"t": {0: 3, 1: 1}}
    assert all(v["lag"] == 0 for v in log.consumer_lag("spark-app", "t").values())

    log.append("t", [b"d", b"e"], partition=0)
    lag = log.consumer_lag("spark-app", "t")
    assert lag[0]["lag"] == 2 and lag[1]["lag"] == 0

    # a query with no progress yet commits nothing
    assert commit_query_progress(None, root, "spark-app") == {}


def test_from_timestamp_with_pattern_seeks_not_replays(spark, tmp_path):
    """Review fix: pattern subscription + from_timestamp must expand the
    regex to real topics before the time->offset lookup; the old code
    seeked on the raw pattern string, resolved nothing, and silently
    replayed from earliest."""
    from rdkafka_streams_spark.streaming import KConsumer, TopicLog, shutdown

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    for t in ("ev_a", "ev_b"):
        log.create_topic(t, partitions=1)
        log.append(t, [b"old1", b"old2"], partition=0, timestamps=[100, 200])
        log.append(t, [b"new1"], partition=0, timestamps=[900])

    dec = KConsumer(
        host=root, topic="ev_.*", pattern=True, from_timestamp=500,
        transport="topiclog",
    ).stream(spark)
    name = "patseek_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    shutdown(q, 30)
    rows = [(r["topic"], r["offset"], bytes(r["value"])) for r in spark.table(name).collect()]
    assert sorted(rows) == [("ev_a", 2, b"new1"), ("ev_b", 2, b"new1")]


def test_batch_read_invalid_offset_options_raise(spark, tmp_path):
    """Review fix: endingOffsets=-2 and startingOffsets=latest must raise
    (Kafka batch-source contract), not silently drop partitions / read the
    full range."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"a"], partition=0)
    with pytest.raises(Exception, match="endingOffsets"):
        read_topic(spark, root, "t", endingOffsets='{"t": {"0": -2}}').collect()
    with pytest.raises(Exception, match="startingOffsets=latest"):
        read_topic(spark, root, "t", startingOffsets="latest").collect()
    # advisor r7: a startingOffset below -2 (e.g. -5) used to be treated as a
    # literal start via min(raw, end) and silently read the whole partition;
    # the Kafka batch source rejects it
    with pytest.raises(Exception, match="startingOffsets"):
        read_topic(spark, root, "t", startingOffsets='{"t": {"0": -5}}').collect()


def test_delete_records_before_timestamp(spark, tmp_path):
    """retention.ms one-shot: records older than the cutoff vanish, the
    boundary record survives, end offsets never rewind, and a partition
    whose records are ALL older empties without losing its clock."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [b"a0", b"a1", b"a2", b"a3"], partition=0,
               timestamps=[100, 200, 300, 400])
    log.append("t", [b"b0", b"b1"], partition=1, timestamps=[100, 150])

    stats = log.delete_records_before_timestamp("t", 250)
    assert stats == {"deleted": 4, "kept": 2}  # a0,a1 + all of p1
    rows = {(r["partition"], r["offset"]): bytes(r["value"])
            for r in read_topic(spark, root, "t").collect()}
    assert rows == {(0, 2): b"a2", (0, 3): b"a3"}
    # clocks preserved: p1 is empty but its end offset did not rewind
    assert log.end_offsets("t") == {0: 4, 1: 2}
    # appended-after-retention records land at the preserved end offset
    log.append("t", [b"b2"], partition=1, timestamps=[900])
    rows = {(r["partition"], r["offset"]) for r in read_topic(spark, root, "t").collect()}
    assert (1, 2) in rows


def test_offsets_for_times_after_compaction_gaps(tmp_path):
    """offsetsForTimes over a compacted (gapped, explicit-'o') segment:
    surviving records keep their ORIGINAL offsets, so a time seek lands on
    the preserved offset, not a renumbered one."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    # k1 written twice (only the later survives), k2 once
    log.append("t", [b"v0", b"v1"], keys=[b"k1", b"k2"], partition=0,
               timestamps=[100, 200])
    log.append("t", [b"v2"], keys=[b"k1"], partition=0, timestamps=[300])
    log.compact("t")
    # survivors: k2@offset1(ts200), k1@offset2(ts300)
    assert log.offsets_for_times("t", 150) == {0: 1}
    assert log.offsets_for_times("t", 250) == {0: 2}
    assert log.offsets_for_times("t", 301) == {0: None}


def test_from_timestamp_with_assign(spark, tmp_path):
    """from_timestamp + assign: the seek resolves over the assigned
    topic's partitions (not the subscribe list)."""
    from rdkafka_streams_spark.streaming import KConsumer, TopicLog, shutdown

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [b"old", b"new"], partition=0, timestamps=[100, 900])
    log.append("t", [b"old", b"new"], partition=1, timestamps=[100, 900])

    dec = KConsumer(
        host=root, topic="ignored", assign='{"t": [0]}', from_timestamp=500,
        transport="topiclog",
    ).stream(spark)
    name = "tsassign_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        dec.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    shutdown(q, 30)
    rows = [(r["partition"], r["offset"], bytes(r["value"]))
            for r in spark.table(name).collect()]
    assert rows == [(0, 1, b"new")]


def test_beginning_offsets_and_describe_topic(tmp_path):
    """beginningOffsets tracks logStartOffset through retention; describe
    reports start/end/records/bytes per partition, record-accurate on
    compacted (gapped) logs."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c", b"d"], partition=0,
               keys=[b"ka", b"kb", b"kc", b"kd"])
    log.append("t", [b"x"], keys=[b"k"], partition=1)
    log.append("t", [b"y"], keys=[b"k"], partition=1)

    assert log.beginning_offsets("t") == {0: 0, 1: 0}
    d = log.describe_topic("t")
    assert d[0] == {"start": 0, "end": 4, "records": 4, "bytes": d[0]["bytes"]}
    assert d[0]["bytes"] > 0

    log.compact("t")                  # collapse p1 to its latest k
    log.delete_records("t", {0: 2})   # then reap the head of p0
    assert log.beginning_offsets("t") == {0: 2, 1: 0}
    d = log.describe_topic("t")
    assert (d[0]["start"], d[0]["end"], d[0]["records"]) == (2, 4, 2)
    # compaction preserves the span (end=2) but only 1 record survives
    assert (d[1]["start"], d[1]["end"], d[1]["records"]) == (0, 2, 1)


def test_full_envelope_composite_avro_headers_timestamp(spark, tmp_path):
    """All envelope features through ONE producer: Avro binary value,
    record headers, CreateTime from an event-time column, explicit
    partition routing — none leaks into the serialized value, every piece
    survives the wire."""
    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = str(tmp_path / "bus")
    TopicLog(root).create_topic("t", partitions=2)
    df = spark.createDataFrame(
        [(1, "a", "2024-03-01 00:00:00", 0), (2, "b", "2024-03-02 00:00:00", 1)],
        "id long, tag string, evt string, part int",
    ).select(
        "id", "tag", F.to_timestamp("evt").alias("evt"), "part",
        F.array(F.struct(F.lit("h").alias("key"),
                         F.col("tag").cast("binary").alias("value"))).alias("hdr"),
    )
    prod = KProducer(
        host=root, topic="t", key="id", partition_col="part",
        timestamp_col="evt", headers_col="hdr", value_format="avro",
        transport="topiclog",
    )
    # the avro schema derives from the PAYLOAD only — partition, the
    # CreateTime column, and headers are envelope metadata and must NOT
    # leak into the serialized value
    enc = prod.encode(df)
    assert sorted(enc.columns) == ["headers", "key", "partition", "timestamp", "value"]
    prod.write_batch(df)

    raw = read_topic(spark, root, "t", include_headers=True)
    from rdkafka_streams_spark.streaming.avro_codec import spark_to_avro_schema

    schema = spark_to_avro_schema(df.select("id", "tag").schema, name="value")
    dec = KConsumer(host=root, topic="t", schema=schema, value_format="avro",
                    transport="topiclog").decode(raw)
    rows = {
        r["value"]["id"]: (
            r["value"]["tag"], r["partition"],
            r["timestamp"].strftime("%Y-%m-%d"),
            [(h["key"], bytes(h["value"])) for h in r["headers"]],
        )
        for r in dec.collect()
    }
    assert rows == {
        1: ("a", 0, "2024-03-01", [("h", b"a")]),
        2: ("b", 1, "2024-03-02", [("h", b"b")]),
    }


# ------------------------------------------- group coordination (r8: fencing,
# commit metadata, admin reset — the kafka-consumer-groups.sh surface)
def test_generation_fencing_zombie_commit(tmp_path):
    """Kafka's ILLEGAL_GENERATION contract: a commit carrying a superseded
    generation id is rejected; standalone (generation=None, Kafka's -1)
    commits always pass; an id from the future is equally illegal."""
    from rdkafka_streams_spark.streaming.topiclog import (
        IllegalGenerationError,
        TopicLog,
    )

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c"], partition=0)

    assert log.group_generation("g") == 0
    g1 = log.join_group("g")
    assert g1 == 1
    log.commit_offsets("g", "t", {0: 1}, generation=g1)
    assert log.committed("g", "t") == {0: 1}

    # rebalance: generation bumps, the old member becomes a zombie
    g2 = log.join_group("g")
    assert g2 == 2
    with pytest.raises(IllegalGenerationError, match="generation 1"):
        log.commit_offsets("g", "t", {0: 3}, generation=g1)
    assert log.committed("g", "t") == {0: 1}  # fenced commit left no trace
    log.commit_offsets("g", "t", {0: 3}, generation=g2)
    assert log.committed("g", "t") == {0: 3}

    # a generation the coordinator never issued is illegal too
    with pytest.raises(IllegalGenerationError):
        log.commit_offsets("g", "t", {0: 9}, generation=99)
    # standalone/assign() posture (generation None = Kafka's -1) still works
    log.commit_offsets("g", "t", {1: 7})
    assert log.committed("g", "t") == {0: 3, 1: 7}
    # generations are per group
    assert log.group_generation("other") == 0


def test_commit_metadata_roundtrip_and_legacy_format(tmp_path):
    """Per-partition commit metadata (OffsetCommit's opaque string) rides
    beside the offset, survives plain offset-only commits, and the reader
    still accepts the pre-r8 bare-int file layout."""
    import json as _json

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.commit_offsets("g", "t", {0: 5, 1: 2}, metadata={0: "ckpt=abc"})
    full = log.committed_full("g", "t")
    assert full[0] == {"o": 5, "m": "ckpt=abc"}
    assert full[1] == {"o": 2}
    # a later offset-only commit does not erase metadata
    log.commit_offsets("g", "t", {0: 6})
    assert log.committed_full("g", "t")[0] == {"o": 6, "m": "ckpt=abc"}
    # but a new metadata value replaces it
    log.commit_offsets("g", "t", {0: 7}, metadata={0: "ckpt=def"})
    assert log.committed_full("g", "t")[0] == {"o": 7, "m": "ckpt=def"}
    assert log.committed("g", "t") == {0: 7, 1: 2}

    # legacy bare-int layout written by pre-r8 code reads identically
    legacy = tmp_path / ".groups" / "old" / "t.json"
    legacy.parent.mkdir(parents=True)
    legacy.write_text(_json.dumps({"0": 11, "1": 12}))
    assert log.committed("old", "t") == {0: 11, 1: 12}
    assert log.committed_full("old", "t") == {0: {"o": 11}, 1: {"o": 12}}
    log.commit_offsets("old", "t", {1: 13})  # upgrade-in-place merge
    assert log.committed("old", "t") == {0: 11, 1: 13}


def test_reset_offsets_admin_surface(tmp_path):
    """kafka-consumer-groups.sh --reset-offsets semantics: to-earliest /
    to-latest / to-datetime (null -> latest fallback) / to-offset (clamped
    to the valid range) / shift-by (clamped), and the fence: a reset bumps
    the generation so a straggler's in-flight commit fails instead of
    clobbering the reset."""
    from rdkafka_streams_spark.streaming.topiclog import (
        IllegalGenerationError,
        TopicLog,
    )

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c", b"d"], partition=0,
               timestamps=[100, 200, 300, 400])
    log.append("t", [b"x", b"y"], partition=1, timestamps=[100, 150])

    gen = log.join_group("g")
    log.commit_offsets("g", "t", {0: 4, 1: 2}, generation=gen)  # caught up

    # --to-datetime: p0 seeks into the log, p1 (all records older) -> latest
    assert log.reset_offsets("g", "t", to=250) == {0: 2, 1: 2}
    assert log.committed("g", "t") == {0: 2, 1: 2}
    # the straggler that was caught up at the old generation is now fenced
    with pytest.raises(IllegalGenerationError):
        log.commit_offsets("g", "t", {0: 4}, generation=gen)

    # --to-earliest / --to-latest
    assert log.reset_offsets("g", "t", to="earliest") == {0: 0, 1: 0}
    assert log.reset_offsets("g", "t", to="latest") == {0: 4, 1: 2}
    # --shift-by (negative), then clamped at the range edges both ways
    assert log.reset_offsets("g", "t", shift_by=-1) == {0: 3, 1: 1}
    assert log.reset_offsets("g", "t", shift_by=-99) == {0: 0, 1: 0}
    assert log.reset_offsets("g", "t", shift_by=99) == {0: 4, 1: 2}
    # --to-offset, out-of-range values clamp like checkOffsetsRange
    assert log.reset_offsets("g", "t", to={0: 1, 1: 99}) == {0: 1, 1: 2}
    # after retention reaped the head, earliest respects logStartOffset
    log.delete_records("t", {0: 2})
    assert log.reset_offsets("g", "t", to="earliest")[0] == 2
    assert log.reset_offsets("g", "t", to={0: 0})[0] == 2  # clamped up

    # fence=False leaves the generation alone (observe-only reset flows)
    before = log.group_generation("g")
    log.reset_offsets("g", "t", to="latest", fence=False)
    assert log.group_generation("g") == before
    with pytest.raises(ValueError, match="unsupported reset"):
        log.reset_offsets("g", "t", to="yesterday")


# ------------------------------------------------- producer transactions (r8)
def test_txn_state_machine(tmp_path):
    """begin/commit/abort lifecycle: append requires an OPEN txn; finishing
    a non-open txn raises; re-begin of a COMPLETED id starts fresh (epoch
    bump) while re-begin of an OPEN id is the zombie error."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    with pytest.raises(ValueError, match="unknown"):
        log.append("t", [b"a"], partition=0, txn="tx")
    with pytest.raises(ValueError, match="unknown"):
        log.commit_txn("tx")
    log.begin_txn("tx")
    with pytest.raises(ValueError, match="already open"):
        log.begin_txn("tx")
    log.append("t", [b"a", b"b"], partition=0, txn="tx")
    log.append("t", [b"c"], partition=1, txn="tx")
    assert log.txn_state("tx")["partitions"] == {"t": [0, 1]}
    log.commit_txn("tx")
    assert log.txn_state("tx")["state"] == "commit"
    with pytest.raises(ValueError, match="commit"):
        log.abort_txn("tx")
    with pytest.raises(ValueError, match="commit"):
        log.append("t", [b"z"], partition=0, txn="tx")
    # completed id can be re-begun (same transactional.id, new txn)
    log.begin_txn("tx")
    log.abort_txn("tx")
    assert log.txn_state("tx")["state"] == "abort"
    for bad in ("", "../x", ".hidden", "a/b"):
        with pytest.raises(ValueError, match="invalid transactional id"):
            log.begin_txn(bad)


def _txn_fixture(root):
    """One partition, four generations of records:
    offsets 0-1 plain, 2-3 committed txn, 4 aborted txn, 5 open txn,
    plus commit/abort control markers (offsets 6 and 7)."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"p0", b"p1"], partition=0)
    log.begin_txn("good")
    log.begin_txn("bad")
    log.begin_txn("pending")
    log.append("t", [b"c0", b"c1"], partition=0, txn="good")
    log.append("t", [b"a0"], partition=0, txn="bad")
    log.append("t", [b"o0"], partition=0, txn="pending")
    log.commit_txn("good")   # marker at offset 6
    log.abort_txn("bad")     # marker at offset 7
    return log


def test_txn_isolation_batch_arrow_path(spark, tmp_path):
    """read_committed hides aborted+open txn records; read_uncommitted
    shows all DATA records; control markers are invisible at both levels
    but consume offsets (end_offset counts them); surviving offsets keep
    their true, gapped positions."""
    from rdkafka_streams_spark.streaming.topiclog import read_topic

    log = _txn_fixture(str(tmp_path))
    assert log.end_offsets("t") == {0: 8}  # 6 data + 2 markers
    assert log.unresolved_txn_ids() == frozenset({"bad", "pending"})

    rows = read_topic(spark, str(tmp_path), "t").selectExpr(
        "offset", "cast(value as string) v").collect()
    assert {(r.offset, r.v) for r in rows} == {
        (0, "p0"), (1, "p1"), (2, "c0"), (3, "c1"), (4, "a0"), (5, "o0"),
    }
    rows = read_topic(
        spark, str(tmp_path), "t", isolation="read_committed"
    ).selectExpr("offset", "cast(value as string) v").collect()
    assert {(r.offset, r.v) for r in rows} == {
        (0, "p0"), (1, "p1"), (2, "c0"), (3, "c1"),
    }
    # late commit of the pending txn becomes visible on the next scan
    log.commit_txn("pending")
    rows = read_topic(
        spark, str(tmp_path), "t", isolation="read_committed"
    ).selectExpr("offset", "cast(value as string) v").collect()
    assert (5, "o0") in {(r.offset, r.v) for r in rows}
    with pytest.raises(Exception, match="isolation"):
        read_topic(spark, str(tmp_path), "t", isolation="serializable").collect()


def test_txn_isolation_row_path_and_compaction(spark, tmp_path):
    """The per-row (headers) read path applies the same txn filter, and
    compaction resolves transactions like the broker's cleaner: aborted
    records and resolved control markers are removed outright."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.append("t", [b"v1"], keys=[b"k1"], partition=0)
    log.begin_txn("bad")
    log.append("t", [b"evil"], keys=[b"k2"], partition=0, txn="bad")
    log.abort_txn("bad")

    def committed_rows():
        return {
            (r.offset, r.v)
            for r in read_topic(
                spark, str(tmp_path), "t",
                include_headers=True,  # forces the tuple read path
                isolation="read_committed",
            ).selectExpr("offset", "cast(value as string) v").collect()
        }

    assert committed_rows() == {(0, "v1")}
    stats = log.compact("t")
    # the cleaner removes k2's aborted record outright (it must never
    # supersede — or stand in for — a committed value) and drops the
    # resolved abort marker; only k1's committed record survives
    assert stats["kept"] == 1 and stats["aborted"] == 1
    assert committed_rows() == {(0, "v1")}
    uncommitted = read_topic(spark, str(tmp_path), "t").selectExpr(
        "offset", "cast(value as string) v").collect()
    # post-cleaning, read_uncommitted agrees: the aborted write is GONE
    assert {(r.offset, r.v) for r in uncommitted} == {(0, "v1")}


def test_txn_isolation_streaming_consumer(spark, tmp_path):
    """KConsumer(isolation='read_committed') filters per micro-batch plan:
    records committed before the batch is planned are delivered, aborted
    and still-open ones are not."""
    from rdkafka_streams_spark.streaming.consumer import KConsumer

    root = str(tmp_path / "broker")
    ck = str(tmp_path / "ck")
    _txn_fixture(root)
    c = KConsumer(
        host=root, topic="t", from_offset="earliest",
        transport="topiclog", isolation="read_committed",
    )
    name = "txn_stream_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        c.stream(spark).selectExpr("offset", "cast(value as string) v")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.offset, r.v) for r in spark.table(name).collect()}
    assert got == {(0, "p0"), (1, "p1"), (2, "c0"), (3, "c1")}


# ------------------------------------------- atomic micro-batch sink (r8 EOS)
def test_atomic_sink_streaming_end_to_end(spark, tmp_path):
    """atomic=true: every micro-batch publishes as one sealed transaction —
    a read_committed consumer sees all records, per-batch commit markers
    consume offsets, and each batch's txn state is 'commit'."""
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.streaming.producer import KProducer
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    root = str(tmp_path / "broker")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    spark.range(40).select(
        F.col("id").alias("count"), F.lit("origin").alias("source")
    ).repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("count long, source string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = KProducer(host=root, topic="t", transport="topiclog",
                  atomic=True, checkpoint=ck).write(stream, trigger="0.1 seconds")
    q.processAllAvailable()
    q.stop()

    committed = read_topic(spark, root, "t", isolation="read_committed")
    vals = sorted(
        int(r["count"])
        for r in committed.select(
            F.from_json(F.col("value").cast("string"),
                        "count long, source string").alias("v")
        ).select("v.*").collect()
    )
    assert vals == list(range(40))
    # markers consumed offsets: end_offsets exceed the data-record count
    data_rows = committed.count()
    assert sum(log.end_offsets("t").values()) > data_rows
    # every batch txn sealed
    states = [log.txn_state(t)["state"] for t in log.unresolved_txn_ids()] or []
    assert states == []  # nothing unresolved


def test_atomic_sink_replay_and_rollback(spark, tmp_path):
    """The crash-replay ladder: (a) a replay of a COMMITTED batch discards
    its staging (no dupes); (b) a crash mid-publish (state open, WAL with
    linked segments) is rolled back by the replay — read_committed sees
    exactly one copy; (c) an unflipped txn's records are invisible to
    read_committed but visible to read_uncommitted."""
    import json as _json
    import os as _os

    from rdkafka_streams_spark.streaming.topiclog import (
        TopicLog,
        _commit_staged_atomic,
        _encode_line,
        _part_dir,
        _write_staged,
        read_topic,
    )

    root = str(tmp_path / "broker")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)

    def stage(vals, tag):
        lines = [_encode_line(None, v.encode(), 1000, txn=tag) for v in vals]
        return _write_staged(root, "t", {0: lines}, txn=tag)

    def committed_vals():
        return sorted(
            r.v for r in read_topic(
                spark, root, "t", isolation="read_committed"
            ).selectExpr("cast(value as string) v").collect()
        )

    tag = "__sink-q-0"
    _commit_staged_atomic([stage(["a", "b"], tag)], root, "t")
    assert committed_vals() == ["a", "b"]
    # (a) replay of the committed batch: staged files discarded, log unchanged
    ends0 = log.end_offsets("t")
    _commit_staged_atomic([stage(["a", "b"], tag)], root, "t")
    assert committed_vals() == ["a", "b"]
    assert log.end_offsets("t") == ends0
    assert not _os.listdir(_os.path.join(root, "t", ".staging"))

    # (b) simulate a crash right before the visibility flip of batch 1:
    # publish fully, then rewind its state to open with the WAL entries
    tag1 = "__sink-q-1"
    _commit_staged_atomic([stage(["c", "d"], tag1)], root, "t")
    st = log.txn_state(tag1)
    pdir = _part_dir(root, "t", 0)
    segs = sorted(_os.listdir(pdir))
    # the batch-1 data segment is the one holding "c" (offset after b's 3)
    data_seg = [s for s in segs if '"c"' in open(_os.path.join(pdir, s)).read()]
    assert len(data_seg) == 1
    wal = [[
        _os.path.join(pdir, data_seg[0]),
        _os.stat(_os.path.join(pdir, data_seg[0])).st_ino,
    ]]
    log._txn_write(tag1, {"state": "open", "partitions": {}, "wal": wal})
    assert committed_vals() == ["a", "b"]  # unresolved again -> hidden
    # replay rolls the crashed attempt back and republishes exactly once
    _commit_staged_atomic([stage(["c", "d"], tag1)], root, "t")
    assert committed_vals() == ["a", "b", "c", "d"]

    # (c) an open (unflipped) batch stays invisible to read_committed only
    tag2 = "__sink-q-2"
    staged = stage(["e"], tag2)
    log._txn_write(tag2, {"state": "open", "partitions": {}, "wal": []})
    # link it manually, as a crashed attempt would have
    path = staged.files[0][1]
    import rdkafka_streams_spark.streaming.topiclog as tl
    start = tl._end_offset(pdir)
    _os.link(path, _os.path.join(pdir, f"seg-{start:020d}-1.jsonl"))
    assert committed_vals() == ["a", "b", "c", "d"]
    allv = sorted(
        r.v for r in read_topic(spark, root, "t").selectExpr(
            "cast(value as string) v").collect()
    )
    assert allv == ["a", "b", "c", "d", "e"]

    # mixed tags are a protocol violation
    with pytest.raises(RuntimeError, match="mixed"):
        _commit_staged_atomic(
            [stage(["x"], "__sink-q-8"), stage(["y"], "__sink-q-9")],
            root, "t",
        )


def test_atomic_requires_topiclog_transport(tmp_path):
    from rdkafka_streams_spark.streaming.producer import KProducer

    with pytest.raises(ValueError, match="atomic=True is topiclog-only"):
        KProducer(host="broker:9092", topic="t", atomic=True)._sink_format(None)


# ----------------------------------------- topic configs + retention reaper
def test_alter_describe_configs_validation(tmp_path):
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t")
    assert log.describe_configs("t") == {}
    got = log.alter_configs("t", {"retention.ms": 1000, "cleanup.policy": "delete"})
    assert got == {"retention.ms": "1000", "cleanup.policy": "delete"}
    # merge semantics + delete-to-default via None
    got = log.alter_configs("t", {"retention.bytes": 4096, "retention.ms": None})
    assert got == {"cleanup.policy": "delete", "retention.bytes": "4096"}
    assert log.describe_configs("t") == got
    with pytest.raises(ValueError, match="unsupported config"):
        log.alter_configs("t", {"min.insync.replicas": 1})
    with pytest.raises(ValueError, match="positive"):
        log.alter_configs("t", {"retention.ms": 0})
    with pytest.raises(ValueError, match="delete|compact"):
        log.alter_configs("t", {"cleanup.policy": "bogus"})
    with pytest.raises(ValueError, match="unknown topic"):
        log.alter_configs("missing", {"retention.ms": 1})
    # config dot-file is not a partition and not a topic
    assert log.partitions("t") == [0]
    assert log.topics() == ["t"]


def test_delete_records_to_size_per_partition(tmp_path):
    """retention.bytes keeps the newest whole segments per PARTITION whose
    cumulative size fits the cap; the active segment always survives."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, _part_dir, _list_segments
    import os as _os

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    # three segments of 10 records each on p0, one on p1
    for _ in range(3):
        log.append("t", [b"x" * 20] * 10, partition=0)
    log.append("t", [b"y" * 20] * 10, partition=1)
    seg_size = _os.path.getsize(_list_segments(_part_dir(str(tmp_path), "t", 0))[0][2])

    # cap = 1.5 segments -> newest 1 whole segment survives on p0
    stats = log.delete_records_to_size("t", int(seg_size * 1.5))
    # kept counts records in AFFECTED partitions (delete_records contract);
    # p1 fits its cap and is untouched/uncounted
    assert stats["deleted"] == 20 and stats["kept"] == 10
    assert log.beginning_offsets("t") == {0: 20, 1: 0}
    assert log.end_offsets("t") == {0: 30, 1: 10}
    # a cap below one segment still keeps the newest (active) segment
    stats = log.delete_records_to_size("t", 1)
    assert log.beginning_offsets("t")[0] == 20
    assert log.end_offsets("t")[0] == 30


def test_run_retention_policies(tmp_path):
    """The one-shot cleaner applies each topic's configured policy:
    time reap, size reap, and compact — with a pinned clock."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("timed", partitions=1)
    log.create_topic("compacted", partitions=1)
    log.append("timed", [b"old1", b"old2"], partition=0, timestamps=[1000, 2000])
    log.append("timed", [b"new1"], partition=0, timestamps=[9000])
    log.alter_configs("timed", {"retention.ms": 5000})
    log.append("compacted", [b"v1", b"v2"], keys=[b"k", b"k"], partition=0)
    log.alter_configs("compacted", {"cleanup.policy": "compact"})

    out = log.run_retention(now_ms=10_000)
    assert out["timed"]["reaped_by_time"] == {"deleted": 2, "kept": 1}
    assert log.beginning_offsets("timed") == {0: 2}
    assert out["compacted"]["compacted"]["superseded"] == 1
    # unconfigured topics are untouched, and a second sweep is idempotent
    assert log.run_retention(now_ms=10_000)["timed"]["reaped_by_time"]["deleted"] == 0


# --------------------------- minOffsetsPerTrigger / maxTriggerDelay (r8)
def test_parse_duration_ms():
    from rdkafka_streams_spark.streaming.topiclog import _parse_duration_ms

    assert _parse_duration_ms("500ms") == 500
    assert _parse_duration_ms("30s") == 30_000
    assert _parse_duration_ms("15m") == 900_000
    assert _parse_duration_ms("1h") == 3_600_000
    assert _parse_duration_ms(250) == 250
    assert _parse_duration_ms("250") == 250
    with pytest.raises(ValueError, match="duration"):
        _parse_duration_ms("soon")


def test_min_offsets_per_trigger_hold_and_release(spark, tmp_path):
    """Kafka source small-batch suppression: with minOffsetsPerTrigger the
    trigger HOLDS while fewer offsets are available, releases as soon as
    the threshold is crossed, and maxTriggerDelay bounds the hold for a
    trickle that never crosses it."""
    import time as _time

    from rdkafka_streams_spark.streaming.consumer import KConsumer
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    root = str(tmp_path / "broker")
    ck = str(tmp_path / "ck")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [f"r{i}".encode() for i in range(10)], partition=0)

    name = "min_offsets_rows"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    c = KConsumer(
        host=root, topic="t", from_offset="earliest", transport="topiclog",
        options={"minOffsetsPerTrigger": "50", "maxTriggerDelay": "6s"},
    )
    q = (
        c.stream(spark).selectExpr("cast(value as string) v")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds").start()
    )
    try:
        def rows():
            return spark.table(name).count()

        def wait_for(n, timeout_s):
            deadline = _time.monotonic() + timeout_s
            while rows() < n and _time.monotonic() < deadline:
                _time.sleep(0.2)
            return rows()

        _time.sleep(3)           # several trigger cycles, still < threshold
        assert rows() == 0       # held: 10 < 50
        log.append("t", [f"s{i}".encode() for i in range(45)], partition=0)
        assert wait_for(55, 20) == 55  # 55 available >= 50 -> releases
        # a trickle below the threshold still lands once the delay expires
        log.append("t", [b"late"], partition=0)
        assert wait_for(56, 20) == 56
    finally:
        q.stop()


def test_describe_group_overview(tmp_path):
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c"], partition=0)
    gen = log.join_group("g")
    log.commit_offsets("g", "t", {0: 2}, generation=gen,
                       metadata={0: "ckpt=xyz"})
    d = log.describe_group("g")
    assert d["group"] == "g" and d["generation"] == 1
    assert d["topics"]["t"][0] == {
        "offset": 2, "metadata": "ckpt=xyz", "end_offset": 3, "lag": 1,
    }
    assert d["topics"]["t"][1] == {
        "offset": None, "metadata": None, "end_offset": 0, "lag": 0,
    }
    # a group with no commits still describes (generation only)
    assert log.describe_group("fresh") == {
        "group": "fresh", "generation": 0, "topics": {},
    }


def test_txn_spans_topics(spark, tmp_path):
    """A Kafka transaction is producer-scoped, not topic-scoped: one txn
    writes two topics; abort hides BOTH sides from read_committed, and
    markers land on every touched partition of every topic."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("orders", partitions=1)
    log.create_topic("audit", partitions=1)
    log.append("orders", [b"keep"], partition=0)
    log.begin_txn("x")
    log.append("orders", [b"o1"], partition=0, txn="x")
    log.append("audit", [b"a1", b"a2"], partition=0, txn="x")
    log.abort_txn("x")
    assert log.txn_state("x")["partitions"] == {"orders": [0], "audit": [0]}
    # markers consumed one offset on each touched partition
    assert log.end_offsets("orders") == {0: 3}
    assert log.end_offsets("audit") == {0: 3}

    def vals(topic, iso):
        return sorted(
            r.v for r in read_topic(spark, root, topic, isolation=iso)
            .selectExpr("cast(value as string) v").collect()
        )

    assert vals("orders", "read_committed") == ["keep"]
    assert vals("audit", "read_committed") == []
    assert vals("orders", "read_uncommitted") == ["keep", "o1"]
    assert vals("audit", "read_uncommitted") == ["a1", "a2"]


def test_send_offsets_to_txn(tmp_path):
    """sendOffsetsToTransaction: input offsets ride the producer txn —
    commit applies them to the group store, abort discards them, and a
    non-open txn refuses the staging."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("in", partitions=2)
    log.create_topic("out", partitions=1)
    log.append("in", [b"a", b"b", b"c"], partition=0)

    log.begin_txn("cycle")
    log.append("out", [b"A", b"B", b"C"], partition=0, txn="cycle")
    log.send_offsets_to_txn("cycle", "etl", "in", {0: 3})
    assert log.committed("etl", "in") == {}  # nothing until the seal
    log.commit_txn("cycle")
    assert log.committed("etl", "in") == {0: 3}  # offsets landed with output

    # aborted cycle: neither output nor offsets
    log.begin_txn("crash")
    log.append("out", [b"X"], partition=0, txn="crash")
    log.send_offsets_to_txn("crash", "etl", "in", {0: 0})
    log.abort_txn("crash")
    assert log.committed("etl", "in") == {0: 3}  # rewind discarded

    with pytest.raises(ValueError, match="crash"):
        log.send_offsets_to_txn("crash", "etl", "in", {0: 1})

    # generation fencing: an admin reset mid-txn fences the staged
    # offsets at commit (output seals; the position does NOT clobber the
    # reset) — Kafka's TxnOffsetCommit generation check
    from rdkafka_streams_spark.streaming.topiclog import IllegalGenerationError
    gen = log.join_group("etl")
    log.begin_txn("cycle2")
    log.append("out", [b"D"], partition=0, txn="cycle2")
    log.send_offsets_to_txn("cycle2", "etl", "in", {0: 9}, generation=gen)
    log.reset_offsets("etl", "in", to="earliest")  # bumps generation
    log.commit_txn("cycle2")
    assert log.committed("etl", "in") == {0: 0, 1: 0}  # reset survives
    assert log.txn_state("cycle2")["state"] == "commit"  # output sealed
    # staging against a stale generation is rejected up front too
    log.begin_txn("cycle3")
    with pytest.raises(IllegalGenerationError):
        log.send_offsets_to_txn("cycle3", "etl", "in", {0: 5}, generation=gen)
    log.abort_txn("cycle3")
    with pytest.raises(ValueError, match="unknown"):
        log.send_offsets_to_txn("never", "etl", "in", {0: 1})
    log.begin_txn("v")
    with pytest.raises(ValueError, match="negative"):
        log.send_offsets_to_txn("v", "etl", "in", {0: -1})
    with pytest.raises(ValueError, match="invalid topic"):
        log.send_offsets_to_txn("v", "etl", "../x", {0: 1})


def test_create_partitions_grow_only(tmp_path):
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b", b"c", b"d"])  # keyless: routed by value
    log.create_partitions("t", 4)
    assert log.partitions("t") == [0, 1, 2, 3]
    assert log.end_offsets("t")[2] == 0 and log.end_offsets("t")[3] == 0
    # next produce routes across the NEW count
    log.append("t", [f"x{i}".encode() for i in range(40)])
    assert sum(log.end_offsets("t").values()) == 44
    assert any(log.end_offsets("t")[p] > 0 for p in (2, 3))
    with pytest.raises(ValueError, match="only grow"):
        log.create_partitions("t", 4)
    with pytest.raises(ValueError, match="only grow"):
        log.create_partitions("t", 2)
    with pytest.raises(ValueError, match="unknown topic"):
        log.create_partitions("missing", 4)


def test_gc_sink_txn_state(tmp_path):
    """One committed state file per micro-batch forever = unbounded
    metadata; GC keeps the newest keep_last per query id and never touches
    open/aborted states (the visibility filter needs them)."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t")
    qid = "__sink-aaaa-bbbb"
    for b in range(10):
        st = ({"state": "open", "partitions": {}, "wal": []} if b == 1
              else {"state": "commit", "partitions": {}})
        log._txn_write(f"{qid}-{b}", st)
    log._txn_write("__sink-other-0", {"state": "commit", "partitions": {}})
    log._txn_write("user-txn", {"state": "abort", "partitions": {}})

    removed = log.gc_sink_txn_state(keep_last=3)
    # prune range = batches 0..6; the OPEN batch 1 is skipped even inside
    # it (visibility filter depends on non-commit states); 7,8,9 kept;
    # other-query single batch kept within its own keep_last; user txns
    # untouched
    assert removed == 6
    assert log.txn_state(f"{qid}-0") is None
    assert log.txn_state(f"{qid}-6") is None
    assert log.txn_state(f"{qid}-1")["state"] == "open"
    assert log.txn_state(f"{qid}-7") is not None
    assert log.txn_state("__sink-other-0") is not None
    assert log.txn_state("user-txn")["state"] == "abort"
    # full-sweep retention runs the GC automatically
    out = log.run_retention()
    assert "__txn_gc__" in out


def test_delete_topic_and_describe_log_dirs(tmp_path):
    """AdminClient deleteTopics/describeLogDirs parity: sizes and segment
    counts from directory stats; deletion removes data but not group
    offsets (Kafka's offsets.retention split)."""
    log = TopicLog(str(tmp_path))
    log.create_topic("a", partitions=2)
    log.append("a", [f"v{i}" for i in range(10)], partition=0)
    log.append("a", ["w"], partition=1)
    d = log.describe_log_dirs("a")["a"]
    assert d[0]["n_segments"] == 1 and d[1]["n_segments"] == 1
    assert d[0]["size_bytes"] > d[1]["size_bytes"] > 0
    log.append("a", ["x"], partition=0)  # second segment
    assert log.describe_log_dirs()["a"][0]["n_segments"] == 2
    gen = log.join_group("g")
    log.commit_offsets("g", "a", {0: 5}, generation=gen)
    log.delete_topic("a")
    assert "a" not in log.topics()
    assert log.committed("g", "a") == {0: 5}  # offsets expire separately
    with pytest.raises(ValueError, match="unknown topic"):
        log.delete_topic("a")
    with pytest.raises(ValueError, match="invalid topic"):
        log.delete_topic(".groups")
    with pytest.raises(ValueError, match="unknown topic"):
        log.describe_log_dirs("nope")


def test_expire_group_offsets_retention(tmp_path):
    """offsets.retention.ms: stale (group, topic) commits expire as a
    unit off the file-level last-commit stamp (KIP-211 group-activity
    semantics); the group itself disappears with its last offset; legacy
    stamp-less files are grandfathered, never silently dropped."""
    import json as _json
    import os
    import time as _time

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.append("t", ["a", "b", "c"], partition=0)
    log.commit_offsets("fresh", "t", {0: 3})
    log.commit_offsets("stale", "t", {0: 1})
    # age the stale group's commit stamp far past retention
    path = log._group_file("stale", "t")
    raw = _json.load(open(path))
    raw["__meta"]["ts"] = 1000
    _json.dump(raw, open(path, "w"))
    # a legacy file with no stamp at all (pre-stamp layout)
    log.commit_offsets("legacy", "t", {0: 2})
    lpath = log._group_file("legacy", "t")
    lraw = _json.load(open(lpath))
    del lraw["__meta"]
    _json.dump(lraw, open(lpath, "w"))

    now = int(_time.time() * 1000)
    out = log.expire_group_offsets(retention_ms=60_000, now_ms=now)
    assert out == {"stale": ["t"]}
    assert "stale" not in log.groups()  # last offset gone -> group gone
    assert log.committed("fresh", "t") == {0: 3}
    # legacy grandfathered: stamped at this run, expires one window later
    assert log.committed("legacy", "t") == {0: 2}
    # activity extends life (the KIP-211 point): push fresh's stamp to
    # "recent activity" while legacy's grandfather stamp ages out
    fraw = _json.load(open(log._group_file("fresh", "t")))
    fraw["__meta"]["ts"] = now + 100_000
    _json.dump(fraw, open(log._group_file("fresh", "t"), "w"))
    out2 = log.expire_group_offsets(
        retention_ms=60_000, now_ms=now + 120_000
    )
    assert out2 == {"legacy": ["t"]}
    assert "legacy" not in log.groups()
    assert log.committed("fresh", "t") == {0: 3}


def test_idempotent_producer_dedup_and_chain(tmp_path):
    """enable.idempotence: a replayed batch (same sequence range) is acked
    with its ORIGINAL base offset and appended nowhere; a batch continuing
    the chain appends; a gap raises OutOfOrderSequence."""
    from rdkafka_streams_spark.streaming.topiclog import (
        OutOfOrderSequenceError,
    )

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    pid, epoch = log.init_producer_id("app-1")
    assert (pid, epoch) == (0, 0)

    r1 = log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, base_seq=0)
    assert r1 == {"base_offset": 0, "duplicate": False}
    # the network-retry storm: the client resends the SAME batch
    r1b = log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, base_seq=0)
    assert r1b == {"base_offset": 0, "duplicate": True}
    r2 = log.produce_idempotent("t", ["c"], 0, pid, epoch, base_seq=2)
    assert r2 == {"base_offset": 2, "duplicate": False}
    # replay of an OLDER cached batch still answers from the cache
    assert log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, 0) == {
        "base_offset": 0, "duplicate": True,
    }
    # sequences are per PARTITION: partition 1 starts its own chain at 0
    assert log.produce_idempotent("t", ["z"], 1, pid, epoch, 0) == {
        "base_offset": 0, "duplicate": False,
    }
    # a gap (lost request) is not safely dedupable
    with pytest.raises(OutOfOrderSequenceError, match="expected 3"):
        log.produce_idempotent("t", ["d"], 0, pid, epoch, base_seq=7)
    assert log.end_offsets("t") == {0: 3, 1: 1}


def test_idempotent_producer_epoch_fence_and_reset(tmp_path):
    """init_producer_id bumps the epoch: the old session is fenced, the
    new epoch's sequences restart at 0, and a transactional re-init
    aborts the fenced session's dangling open transaction."""
    from rdkafka_streams_spark.streaming.topiclog import ProducerFencedError

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    pid, e0 = log.init_producer_id("app")
    log.produce_idempotent("t", ["a"], 0, pid, e0, 0)
    pid2, e1 = log.init_producer_id("app")  # same name -> same pid, epoch+1
    assert (pid2, e1) == (pid, e0 + 1)
    with pytest.raises(ProducerFencedError):
        log.produce_idempotent("t", ["zombie"], 0, pid, e0, 1)
    # fresh epoch: chain restarts at 0 (old cached batches unreplayable)
    assert log.produce_idempotent("t", ["b"], 0, pid, e1, 0) == {
        "base_offset": 1, "duplicate": False,
    }
    # distinct names get distinct pids
    assert log.init_producer_id("other") == (1, 0)
    with pytest.raises(ValueError, match="ahead of issued"):
        log.produce_idempotent("t", ["x"], 0, pid, e1 + 5, 1)
    with pytest.raises(ValueError, match="unknown producer id"):
        log.produce_idempotent("t", ["x"], 0, 99, 0, 0)

    # transactional re-init aborts the dangling txn (KIP-98 InitProducerId)
    log.begin_txn("app")
    log.produce_idempotent("t", ["in-txn"], 0, pid, e1, 1, txn="app")
    pid3, e2 = log.init_producer_id("app", transactional=True)
    assert (pid3, e2) == (pid, e1 + 1)
    assert log.txn_state("app")["state"] == "abort"


def test_idempotent_producer_through_reader(spark, tmp_path):
    """The dedupe is end-to-end: a retry storm (every batch sent twice)
    leaves exactly one copy of every record visible to the Spark reader."""
    root = str(tmp_path / "broker")
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    pid, epoch = log.init_producer_id("etl")
    seqs = {0: 0, 1: 0}
    for batch in (["a", "b"], ["c"], ["d", "e", "f"]):
        for p in (0, 1):
            log.produce_idempotent("t", batch, p, pid, epoch, seqs[p])
            log.produce_idempotent("t", batch, p, pid, epoch, seqs[p])  # retry
            seqs[p] += len(batch)
    vals = sorted(
        r.value.decode() for r in read_topic(spark, root, "t").collect()
    )
    assert vals == sorted(["a", "b", "c", "d", "e", "f"] * 2)


def test_static_membership_rejoin_without_rebalance(tmp_path):
    """KIP-345: a bounced static member gets its assignment back with no
    generation bump; its previous incarnation is fenced on heartbeat;
    a NEW instance still triggers a normal rebalance."""
    from rdkafka_streams_spark.streaming.topiclog import FencedInstanceIdError

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=6)
    j1 = log.static_join("g", "t", "pod-a")
    assert j1["rebalanced"] is True
    assert [t for t, _ in map(tuple, j1["assignment"])] == ["t"] * 6
    j2 = log.static_join("g", "t", "pod-b")  # new instance -> rebalance
    assert j2["rebalanced"] is True and j2["generation"] == j1["generation"] + 1
    gen = j2["generation"]
    a_before = log.describe_group("g")["assignment"]["pod-a"]

    # rolling restart: pod-a bounces and rejoins
    j3 = log.static_join("g", "t", "pod-a")
    assert j3["rebalanced"] is False
    assert j3["generation"] == gen  # no bump
    assert j3["assignment"] == a_before  # same partitions straight back
    # the pre-bounce incarnation is fenced; the new one heartbeats fine
    log.heartbeat("g", "pod-a", j3["member_token"])
    with pytest.raises(FencedInstanceIdError, match="fenced"):
        log.heartbeat("g", "pod-a", j1["member_token"])
    with pytest.raises(ValueError, match="unknown group.instance.id"):
        log.heartbeat("g", "nope", 1)


def test_static_membership_admin_removal(tmp_path):
    """Static members leave only via the admin removal, which DOES
    rebalance: remaining members absorb the partitions, the departed
    instance's token dies, and a later rejoin is a fresh rebalance."""
    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=4)
    log.static_join("g", "t", "pod-a")
    jb = log.static_join("g", "t", "pod-b")
    gen = jb["generation"]

    sync = log.remove_member("g", "pod-b")
    assert sync["generation"] == gen + 1
    assert sorted(sync["assignment"]) == ["pod-a"]
    assert len(sync["assignment"]["pod-a"]) == 4  # absorbed everything
    with pytest.raises(ValueError, match="unknown group.instance.id"):
        log.heartbeat("g", "pod-b", jb["member_token"])
    with pytest.raises(ValueError, match="unknown group.instance.id"):
        log.remove_member("g", "pod-b")
    # rejoin after removal is a cold join again
    assert log.static_join("g", "t", "pod-b")["rebalanced"] is True
    # removing the last members empties the group
    log.remove_member("g", "pod-a")
    final = log.remove_member("g", "pod-b")
    assert final["assignment"] == {}
    assert log.describe_group("g")["members"] == []


def test_static_membership_topic_change_rebalances(tmp_path):
    """A static rejoin subscribing to a DIFFERENT topic set cannot reuse
    the stored assignment — it must rebalance (metadata change)."""
    log = TopicLog(str(tmp_path))
    log.create_topic("t1", partitions=2)
    log.create_topic("t2", partitions=2)
    g1 = log.static_join("g", "t1", "pod-a")["generation"]
    j = log.static_join("g", ["t1", "t2"], "pod-a")
    assert j["rebalanced"] is True and j["generation"] == g1 + 1
    assert sorted({t for t, _ in map(tuple, j["assignment"])}) == ["t1", "t2"]


def test_rebuild_producer_state_from_log(tmp_path):
    """Unclean-shutdown recovery: sequence state wiped entirely, then
    rebuilt from the (pid, epoch, seq, batch-base) metadata the records
    carry — a pre-crash retry still dedupes against its ORIGINAL offset
    and the chain continues where it left off."""
    import shutil

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    pid, epoch = log.init_producer_id("app")
    log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, 0)
    log.produce_idempotent("t", ["c"], 0, pid, epoch, 2)
    log.produce_idempotent("t", ["z1", "z2"], 1, pid, epoch, 0)

    shutil.rmtree(str(tmp_path / ".pids" / "seq"))  # the crash
    assert log.rebuild_producer_state("t") == 2  # one file per partition

    # pre-crash retries dedupe against their original base offsets
    assert log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, 0) == {
        "base_offset": 0, "duplicate": True,
    }
    assert log.produce_idempotent("t", ["c"], 0, pid, epoch, 2) == {
        "base_offset": 2, "duplicate": True,
    }
    # and the chains continue exactly where they left off
    assert log.produce_idempotent("t", ["d"], 0, pid, epoch, 3) == {
        "base_offset": 3, "duplicate": False,
    }
    assert log.produce_idempotent("t", ["z3"], 1, pid, epoch, 2) == {
        "base_offset": 2, "duplicate": False,
    }


def test_rebuild_producer_state_crash_window(tmp_path):
    """The publish->state-write crash window is CLOSED by recovery: a
    batch whose state write was lost (state file rolled back) would be
    re-appended on retry — rebuild_producer_state restores the truth
    from the log first, so the retry dedupes."""
    import shutil

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    pid, epoch = log.init_producer_id("app")
    log.produce_idempotent("t", ["a"], 0, pid, epoch, 0)
    sdir = str(tmp_path / ".pids" / "seq")
    snap = str(tmp_path / "seq-snap")
    shutil.copytree(sdir, snap)
    log.produce_idempotent("t", ["b", "c"], 0, pid, epoch, 1)
    shutil.rmtree(sdir)
    shutil.copytree(snap, sdir)  # crash between publish and state write
    log.rebuild_producer_state("t")
    assert log.produce_idempotent("t", ["b", "c"], 0, pid, epoch, 1) == {
        "base_offset": 1, "duplicate": True,
    }
    assert log.end_offsets("t") == {0: 3}


def test_rebuild_producer_state_epoch_and_compaction(tmp_path):
    """Only the HIGHEST epoch per pid is restored (older epochs are
    pre-fence history), and the producer metadata survives compaction so
    the chain head stays log-recoverable after cleaning."""
    import shutil

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    pid, e0 = log.init_producer_id("app")
    log.produce_idempotent("t", ["v1"], 0, pid, e0, 0, keys=["k1"])
    pid, e1 = log.init_producer_id("app")
    log.produce_idempotent("t", ["v2", "v3"], 0, pid, e1, 0,
                           keys=["k1", "k2"])
    log.compact("t")  # k1 -> v2 survives (offset 1), k2 -> v3 (offset 2)
    shutil.rmtree(str(tmp_path / ".pids" / "seq"))
    log.rebuild_producer_state("t")
    # chain head (seq 1 at epoch 1) recovered from the compacted segment
    assert log.produce_idempotent("t", ["v4"], 0, pid, e1, 2, keys=["k3"]) \
        == {"base_offset": 3, "duplicate": False}


def test_compact_delete_retention_two_phase(tmp_path):
    """delete.retention.ms set -> the broker's two-phase tombstone
    removal (KIP-534): the first cleaning stamps a delete horizon and
    KEEPS the tombstone (lagging bootstrappers still learn about the
    deletion); only a pass after the horizon removes it. Unset keeps the
    legacy immediate drop."""
    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"delete.retention.ms": 60_000})
    log.append("t", ["v1"], keys=["k1"], partition=0)
    log.append("t", [None, "v2"], keys=["k1", "k2"], partition=0)

    t0 = 1_000_000
    r1 = log.compact("t", now_ms=t0)
    assert r1 == {"kept": 2, "superseded": 1, "tombstoned": 0, "aborted": 0}
    recs = {}
    pdir = os.path.join(root, "t", "p0")
    for name in os.listdir(pdir):
        with open(os.path.join(pdir, name)) as f:
            for line in f:
                rec = json.loads(line)
                recs[rec.get("ks")] = rec
    assert recs["k1"]["v"] is None  # tombstone retained...
    assert recs["k1"]["dh"] == t0 + 60_000  # ...stamped with its horizon

    # a second pass INSIDE the horizon keeps it (and keeps the stamp)
    assert log.compact("t", now_ms=t0 + 30_000)["tombstoned"] == 0
    # a pass PAST the horizon finally removes it
    r3 = log.compact("t", now_ms=t0 + 60_001)
    assert r3 == {"kept": 1, "superseded": 0, "tombstoned": 1, "aborted": 0}

    # unset config: same-pass drop, the legacy default
    log2 = TopicLog(str(tmp_path / "legacy"))
    log2.create_topic("t", partitions=1)
    log2.append("t", ["v", None], keys=["k", "k"], partition=0)
    assert log2.compact("t")["tombstoned"] == 1


def test_time_index_sidecar_built_once_and_reused(tmp_path, monkeypatch):
    """KIP-33 analog: the first seek lazily builds one ``.timeindex``
    sidecar per segment; later seeks answer from the sidecars (segments
    whose max_ts precedes the target are skipped without a data read)."""
    import rdkafka_streams_spark.streaming.topiclog as tl

    log = tl.TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    # three segments (one per append), non-monotonic within the second
    log.append("t", [b"a", b"b"], partition=0, timestamps=[100, 200])
    log.append("t", [b"c", b"d"], partition=0, timestamps=[500, 300])
    log.append("t", [b"e"], partition=0, timestamps=[900])

    builds = []
    real = tl._build_time_index
    monkeypatch.setattr(tl, "_build_time_index",
                        lambda p: builds.append(p) or real(p))
    assert log.offsets_for_times("t", 250) == {0: 2}  # max-so-far: c@500
    assert len(builds) == 2  # seg 1 + seg 2; seg 3 never consulted
    pdir = os.path.join(str(tmp_path), "t", "p0")
    assert sum(n.endswith(".timeindex") for n in os.listdir(pdir)) == 2

    assert log.offsets_for_times("t", 600) == {0: 4}
    # segs 1-2 answered from cached sidecars; only seg 3's index is new
    assert len(builds) == 3
    assert log.offsets_for_times("t", 901) == {0: None}
    assert len(builds) == 3  # fully warm: no rebuilds at all


def test_time_index_staleness_by_size(tmp_path):
    """A rewritten segment (delete_records trims in place) must not serve
    its old sidecar: staleness is keyed on source byte size, and the
    admin sweeps sidecars whose segment was unlinked."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.append("t", [b"a", b"b", b"c", b"d"], partition=0,
               timestamps=[100, 200, 300, 400])
    assert log.offsets_for_times("t", 150) == {0: 1}  # builds the index
    log.delete_records("t", {0: 2})  # trims below offset 2, new segment name
    assert log.offsets_for_times("t", 150) == {0: 2}  # earliest survivor
    assert log.offsets_for_times("t", 350) == {0: 3}
    pdir = os.path.join(str(tmp_path), "t", "p0")
    stale = [n for n in os.listdir(pdir) if n.endswith(".timeindex")
             and not os.path.exists(os.path.join(pdir, n[:-10]))]
    assert stale == []  # orphan sidecars swept with their segments


def test_time_index_matches_bruteforce_scan(tmp_path):
    """Property-style: for adversarial timestamp shapes (spikes, plateaus,
    descents) across several segments, the indexed seek equals a
    brute-force earliest-offset-with-ts>=target reference at every probe."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    ts = [50, 700, 60, 70, 700, 80, 90, 650, 100, 100, 100, 710, 40, 720]
    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    for i in range(0, len(ts), 3):  # several small segments
        chunk = ts[i:i + 3]
        log.append("t", [b"x"] * len(chunk), partition=0, timestamps=chunk)

    def brute(target):
        for off, t in enumerate(ts):
            if t >= target:
                return off
        return None

    for target in sorted({t for t in ts} | {0, 55, 99, 101, 649, 651, 701,
                                            711, 715, 721, 10_000}):
        assert log.offsets_for_times("t", target) == {0: brute(target)}, target


def test_compression_gzip_topic_config_roundtrip(spark, tmp_path):
    """compression.type=gzip as a topic config: appends publish ``.jsonl.gz``
    segments; plain and compressed segments coexist in one partition and a
    batch read returns every record bit-identically; seek-by-timestamp,
    trim, and compaction all work through the codec."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"plain0", b"plain1"], partition=0,
               timestamps=[100, 200])  # pre-config: stays plain
    log.alter_configs("t", {"compression.type": "gzip"})
    log.append("t", ["snappy is a lie " * 40, "gz1"], partition=0,
               timestamps=[300, 400])

    pdir = os.path.join(root, "t", "p0")
    names = sorted(os.listdir(pdir))
    assert any(n.endswith(".jsonl") for n in names)
    assert any(n.endswith(".jsonl.gz") for n in names)
    gz = next(n for n in names if n.endswith(".jsonl.gz"))
    # the codec actually compresses: 640 repetitive chars well under 1:1
    assert os.path.getsize(os.path.join(pdir, gz)) < 400

    got = {r.offset: (bytes(r.value), int(r.timestamp.timestamp() * 1000))
           for r in read_topic(spark, root, "t").collect()}
    assert got == {0: (b"plain0", 100), 1: (b"plain1", 200),
                   2: (("snappy is a lie " * 40).encode(), 300),
                   3: (b"gz1", 400)}
    # time index + seek read through the codec
    assert log.offsets_for_times("t", 250) == {0: 2}
    # trim through a compressed spanning segment (rewritten plain)
    log.delete_records("t", {0: 3})
    assert [bytes(r.value) for r in
            read_topic(spark, root, "t").collect()] == [b"gz1"]


def test_compression_gzip_sink_option_and_compaction(spark, tmp_path):
    """Producer-side codec: the sink option ``compression.type=gzip``
    compresses at publish regardless of topic config (Kafka's
    'producer' default honors the sender); compaction reads through the
    codec and keyed last-writer-wins still holds."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    TopicLog(root).create_topic("t", partitions=1)
    df = spark.createDataFrame(
        [("k1", "v0"), ("k2", "v1"), ("k1", "v2")], "key string, value string"
    )
    (df.repartition(1).write.format("topiclog").mode("append")
       .option("path", root).option("topic", "t")
       .option("compression.type", "gzip").save())
    pdir = os.path.join(root, "t", "p0")
    assert all(n.endswith(".jsonl.gz") for n in os.listdir(pdir)
               if n.startswith("seg-"))
    log = TopicLog(root)
    log.compact("t")
    vals = sorted(bytes(r.value) for r in read_topic(spark, root, "t").collect())
    assert vals == [b"v1", b"v2"]  # k1's v0 superseded through the codec


def test_compression_rejects_unknown_codec(tmp_path):
    """snappy/lz4/zstd are real Kafka codecs with no library here: both the
    topic config and the append path fail loudly instead of writing plain."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    with _pytest.raises(ValueError, match="unsupported"):
        log.alter_configs("t", {"compression.type": "snappy"})
    with _pytest.raises(ValueError, match="unsupported"):
        log.append("t", [b"x"], partition=0, compression="zstd")
    # 'producer' and 'none' are accepted aliases for plain
    log.alter_configs("t", {"compression.type": "producer"})
    log.append("t", [b"x"], partition=0, compression="none")
    assert log.end_offsets("t") == {0: 1}


def test_compression_idempotent_producer_state_rebuild(tmp_path):
    """Idempotent-produce sequence state is recoverable from COMPRESSED
    log segments alone (the batch header fields ride inside the gzip'd
    lines like any other field)."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"compression.type": "gzip"})
    pid, epoch = log.init_producer_id("app")
    log.produce_idempotent("t", ["a", "b"], 0, pid, epoch, base_seq=0)
    log.produce_idempotent("t", ["c"], 0, pid, epoch, base_seq=2)
    # wipe the sequence files and recover them from the gz segments
    import shutil
    shutil.rmtree(os.path.join(str(tmp_path), ".pids", "seq"))
    assert log.rebuild_producer_state("t") >= 1
    # a pre-crash replay still dedupes against its ORIGINAL offset
    assert log.produce_idempotent("t", ["c"], 0, pid, epoch, base_seq=2) == {
        "base_offset": 2, "duplicate": True,
    }


def test_segment_bytes_roll(spark, tmp_path):
    """segment.bytes: a publish larger than the bound rolls into multiple
    dense contiguous segments, each at most the bound (an oversize single
    record still lands alone); reads, offsets, and seeks are unchanged."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"segment.bytes": 2048})
    vals = [f"v{i:04d}" + "x" * 90 for i in range(100)]  # ~130B lines
    log.append("t", vals, partition=0, timestamps=list(range(100)))

    pdir = os.path.join(root, "t", "p0")
    segs = sorted(n for n in os.listdir(pdir) if n.startswith("seg-"))
    assert len(segs) > 4  # ~13KB of lines over a 2KB bound
    for n in segs:
        assert os.path.getsize(os.path.join(pdir, n)) <= 2048
    # contiguous dense offsets across the rolled segments
    spans = [(int(n[4:24]), int(n.split("-")[2].split(".")[0])) for n in segs]
    pos = 0
    for start, count in spans:
        assert start == pos
        pos += count
    assert pos == 100
    got = [bytes(r.value).decode() for r in
           read_topic(spark, root, "t").orderBy("offset").collect()]
    assert got == vals
    assert log.offsets_for_times("t", 42) == {0: 42}

    # the sink path rolls too
    log.create_topic("s", partitions=1)
    log.alter_configs("s", {"segment.bytes": 2048})
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    (df.repartition(1).write.format("topiclog").mode("append")
       .option("path", root).option("topic", "s").save())
    sdir = os.path.join(root, "s", "p0")
    ssegs = [n for n in os.listdir(sdir) if n.startswith("seg-")]
    assert len(ssegs) > 4
    assert read_topic(spark, root, "s").count() == 100

    # floor validation, like the broker's INVALID_CONFIG
    import pytest as _pytest
    with _pytest.raises(ValueError, match="segment.bytes"):
        log.alter_configs("t", {"segment.bytes": 100})


def test_tiered_storage_stitched_reads(spark, tmp_path):
    """KIP-405 analog, two-phase lifecycle (r9): EVERY closed segment is
    copied to the remote tier eagerly (at the tiering pass, not at
    expiry — opening the broker's dual-copy window), local copies are
    reaped only past local.retention.ms; reads stitch both tiers into
    one continuous log, seeks and offsets are tier-transparent, and the
    active segment never tiers."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"remote.storage.enable": "true",
                            "local.retention.ms": 60_000})
    t0 = 1_700_000_000_000
    log.append("t", [b"w1a", b"w1b"], partition=0, timestamps=[t0, t0 + 1])
    log.append("t", [b"w2a", b"w2b"], partition=0,
               timestamps=[t0 + 120_000, t0 + 120_001])
    log.append("t", [b"w3"], partition=0, timestamps=[t0 + 240_000])

    # at now = t0+130s: wave1 (max_ts t0+1) is past local retention;
    # wave2 is inside it; wave3 is the active segment (never tiers)
    moved = log.tier_segments("t", now_ms=t0 + 130_000)
    assert moved == {0: 1}  # only wave1's LOCAL copy was reaped
    assert log.beginning_offsets("t") == {0: 0}       # logStartOffset
    assert log.local_log_start_offset("t") == {0: 2}  # local tier starts late
    rdir = os.path.join(root, ".remote", "t", "p0")
    # eager copy: BOTH closed segments are remote; wave2 is the dual-copy
    # window (uploaded, local copy still inside local retention)
    assert len([n for n in os.listdir(rdir) if n.startswith("seg-")
                and not n.endswith(".timeindex")]) == 2

    # stitched read: one continuous log across tiers
    got = [(r.offset, bytes(r.value)) for r in
           read_topic(spark, root, "t").orderBy("offset").collect()]
    assert got == [(0, b"w1a"), (1, b"w1b"), (2, b"w2a"), (3, b"w2b"),
                   (4, b"w3")]
    # seeks are tier-transparent (the answer lives in the remote tier)
    assert log.offsets_for_times("t", t0 + 1) == {0: 1}
    # remote tier and the dual-copy window are visible to capacity metrics
    dl = log.describe_log_dirs("t")["t"][0]
    assert dl["n_remote_segments"] == 2 and dl["remote_size_bytes"] > 0
    assert dl["n_dual_segments"] == 1  # wave2: both tiers hold it
    # the dual segment is served from LOCAL (no double-read)
    assert read_topic(spark, root, "t").count() == 5
    # once wave2 passes local retention, only its local copy is reaped
    # (the remote upload already happened — nothing is re-copied)
    assert log.tier_segments("t", now_ms=t0 + 260_000) == {0: 1}
    assert log.local_log_start_offset("t") == {0: 4}
    assert log.describe_log_dirs("t")["t"][0]["n_dual_segments"] == 0
    # appends continue the offset clock unchanged
    log.append("t", [b"w4"], partition=0, timestamps=[t0 + 300_000])
    assert log.end_offsets("t") == {0: 6}
    # truncation reaps the remote tier too: wave1's remote copy goes;
    # wave2 (offsets 2-3, remote-only now) survives and still serves
    log.delete_records("t", {0: 2})
    assert log.beginning_offsets("t") == {0: 2}
    assert [n for n in os.listdir(rdir) if n.startswith("seg-")
            and not n.endswith(".timeindex")] == [
        "seg-00000000000000000002-2.jsonl"
    ]
    assert read_topic(spark, root, "t").count() == 4


def test_tiered_storage_guards_and_retention(tmp_path):
    """Config exclusivity with compaction (Kafka's own KIP-405
    restriction), local.retention.bytes tiering, the run_retention tier
    leg with TOTAL retention spanning both tiers, and remote cleanup on
    topic deletion."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming import TopicLog

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    with _pytest.raises(ValueError, match="remote.storage.enable"):
        log.tier_segments("t")  # not enabled
    log.alter_configs("t", {"cleanup.policy": "compact"})
    with _pytest.raises(ValueError, match="KIP-405"):
        log.alter_configs("t", {"remote.storage.enable": "true"})
    log.alter_configs("t", {"cleanup.policy": None,
                            "remote.storage.enable": "true"})
    with _pytest.raises(ValueError, match="KIP-405"):
        log.alter_configs("t", {"cleanup.policy": "compact"})
    with _pytest.raises(ValueError, match="KIP-405"):
        log.compact("t")

    # size-based local retention: oldest closed segments tier out until
    # the local tier fits the budget
    t0 = 1_700_000_000_000
    for i in range(4):
        log.append("t", [b"x" * 200], partition=0, timestamps=[t0 + i])
    pdir = os.path.join(root, "t", "p0")
    seg_sz = max(os.path.getsize(os.path.join(pdir, n))
                 for n in os.listdir(pdir) if n.startswith("seg-"))
    log.alter_configs("t", {"local.retention.bytes": 2 * seg_sz + 10})
    moved = log.tier_segments("t", now_ms=t0 + 10)
    assert moved == {0: 2}  # two newest stay local, two tier out
    assert log.local_log_start_offset("t") == {0: 2}

    # run_retention: tier leg runs, then TOTAL retention.ms reaps across
    # both tiers (wave 0/1 live remote — they still expire)
    log.alter_configs("t", {"local.retention.bytes": None,
                            "local.retention.ms": 1,
                            "retention.ms": 7})
    acts = log.run_retention("t", now_ms=t0 + 10)["t"]
    assert "tiered" in acts
    # cutoff = now - 7 = t0+3: only the ts=t0+3 record survives, even
    # though the expired ones lived in the REMOTE tier
    assert log.beginning_offsets("t") == {0: 3}
    assert log.end_offsets("t") == {0: 4}

    # topic deletion removes the remote tier with it
    log.delete_topic("t")
    assert not os.path.isdir(os.path.join(root, ".remote", "t"))


def test_session_timeout_eviction(tmp_path):
    """session.timeout.ms: a member that stops heartbeating is evicted by
    the coordinator sweep — survivors rebalance ONCE (one generation bump
    for the whole cascade), the evictee's token dies with it, and a member
    that never heartbeated is grandfathered one window, not insta-evicted."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    t0 = 1_700_000_000_000
    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=6)
    ja = log.static_join("g", "t", "pod-a")
    jb = log.static_join("g", "t", "pod-b")
    jc = log.static_join("g", "t", "pod-c")
    gen0 = jc["generation"]

    # a and c keep beating; b goes dark
    log.heartbeat("g", "pod-a", ja["member_token"], now_ms=t0 + 50_000)
    log.heartbeat("g", "pod-c", jc["member_token"], now_ms=t0 + 50_000)
    log.heartbeat("g", "pod-b", jb["member_token"], now_ms=t0)

    # inside the window: nobody expires, generation unchanged
    r = log.expire_members("g", session_timeout_ms=45_000, now_ms=t0 + 40_000)
    assert r == {"expired": [], "generation": gen0}

    # past b's window: b evicted, ONE rebalance, a+c absorb the partitions
    r = log.expire_members("g", session_timeout_ms=45_000, now_ms=t0 + 50_001)
    assert r["expired"] == ["pod-b"] and r["generation"] == gen0 + 1
    rejoin_a = log.static_join("g", "t", "pod-a")
    rejoin_c = log.static_join("g", "t", "pod-c")
    assert rejoin_a["rebalanced"] is False and rejoin_c["rebalanced"] is False
    held = sorted(tuple(p) for j in (rejoin_a, rejoin_c)
                  for p in j["assignment"])
    assert held == [("t", i) for i in range(6)]  # nothing orphaned
    # the dark member's token is dead
    with _pytest.raises(ValueError, match="unknown"):
        log.heartbeat("g", "pod-b", jb["member_token"])

    # never-heartbeated member (legacy state): stamped, not evicted...
    import shutil

    log2 = TopicLog(str(tmp_path / "g2"))
    log2.create_topic("t", partitions=2)
    log2.static_join("g", "t", "solo")
    # simulate pre-session-clock state: drop the member's stamp file
    shutil.rmtree(os.path.dirname(log2._hb_file("g", "solo")))
    assert log2.expire_members("g", 1000, now_ms=t0)["expired"] == []
    # ...but the granted window is real: one timeout later it goes
    r = log2.expire_members("g", 1000, now_ms=t0 + 1001)
    assert r["expired"] == ["solo"]
    assert log2._group_state("g")["assignment"] == {}

    # a heartbeat never rewrites the SHARED state file (a read-modify-
    # write there could clobber a concurrent join's token bump); only the
    # member's own stamp file moves
    sf = log._state_file("g")
    before = open(sf).read()
    log.heartbeat("g", "pod-a", rejoin_a["member_token"], now_ms=t0 + 60_000)
    assert open(sf).read() == before

    # grandfather stamps survive a sweep that evicts OTHERS: the stamp
    # lives in the member's own file, untouched by the rebalance write
    log3 = TopicLog(str(tmp_path / "g3"))
    log3.create_topic("t", partitions=4)
    log3.static_join("g", "t", "legacy")
    jy = log3.static_join("g", "t", "dying")
    os.unlink(log3._hb_file("g", "legacy"))  # pre-clock member
    log3.heartbeat("g", "dying", jy["member_token"], now_ms=t0)
    r = log3.expire_members("g", 1000, now_ms=t0 + 5000)
    assert r["expired"] == ["dying"]  # legacy grandfathered at t0+5000...
    r = log3.expire_members("g", 1000, now_ms=t0 + 6001)
    assert r["expired"] == ["legacy"]  # ...and expires ONE window later


def test_client_quotas_throttle_math(tmp_path):
    """KIP-13 client quotas: byte-rate accounting against a pinned clock —
    throttle_time stretches the window until realized rate == quota;
    default-entity fallback; idle clients start a fresh sample window."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.alter_client_quotas("etl", {"producer_byte_rate": 1000})
    log.alter_client_quotas("<default>", {"consumer_byte_rate": 2000})
    assert log.describe_client_quotas() == {
        "etl": {"producer_byte_rate": 1000},
        "<default>": {"consumer_byte_rate": 2000},
    }

    t0 = 1_700_000_000_000
    # token bucket, capacity = one window (1000 B here), refill at the
    # quota rate: a burst within the allowance never throttles (Kafka's
    # multi-sample Rate has the same burst tolerance)
    assert log.record_quota_usage("etl", "produce", 500, now_ms=t0 + 1) == 0
    # +399 ms refill (399 tokens) -> 899 available, 300 spent -> fine
    assert log.record_quota_usage("etl", "produce", 300, now_ms=t0 + 400) == 0
    # SUSTAINED overage pays the deficit: 699 available, 1500 spent ->
    # 801 tokens short = 801 ms at 1000 B/s
    assert log.record_quota_usage("etl", "produce", 1500,
                                  now_ms=t0 + 500) == 801
    # the idle gap refills to capacity (never beyond: no unbounded
    # banking), so a capacity-sized burst is free again
    assert log.record_quota_usage("etl", "produce", 500,
                                  now_ms=t0 + 10_000) == 0

    # unknown client falls back to <default>; produce default unset -> 0
    assert log.record_quota_usage("other", "produce", 10**9, now_ms=t0) == 0
    # consume tracks its own bucket (separate kind, fresh at this call):
    # 4000 B against a full 2000-token bucket -> 2000 short -> 1000 ms
    # at the 2000 B/s default
    assert log.record_quota_usage("other", "consume", 4000,
                                  now_ms=t0 + 1000) == 1000
    # a path-escaping id is rejected only when a quota actually resolves
    # (Kafka's client.id allows any string; a quota-less pipeline must
    # never start failing at its commit boundary) — here the <default>
    # consume quota resolves, so the consume call raises and the
    # produce call (no produce default) stays a no-op
    with _pytest.raises(ValueError, match="clean path component"):
        log.record_quota_usage("../esc", "consume", 1)
    assert log.record_quota_usage("../esc", "produce", 1) == 0
    with _pytest.raises(ValueError, match="invalid client id"):
        log.alter_client_quotas("a/b", {"producer_byte_rate": 1})

    # unset deletes; empty entity drops
    log.alter_client_quotas("etl", {"producer_byte_rate": None})
    assert "etl" not in log.describe_client_quotas()
    with _pytest.raises(ValueError, match="unsupported quota"):
        log.alter_client_quotas("x", {"request_percentage": 50})

    # end-to-end: a quota'd append backs off for real (one ~1.5 KB
    # request against 1 KB/s = ~0.5 s of throttle on the SECOND call,
    # where the window shows sustained overage)
    import time as _time
    log.alter_client_quotas("slow", {"producer_byte_rate": 4000})
    t1 = _time.perf_counter()
    log.append("t", [b"x" * 4000], partition=0, client_id="slow")
    log.append("t", [b"x" * 4000], partition=0, client_id="slow")
    waited = _time.perf_counter() - t1
    assert waited >= 0.5  # ~8KB against 4KB/s: ~1s of combined window


def test_client_quota_sink_option(spark, tmp_path):
    """The distributed sink meters its commit against the client.id's
    produce quota — a quota'd write_batch backs off for real."""
    import time as _time

    from rdkafka_streams_spark.streaming import KProducer, TopicLog

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.alter_client_quotas("etl", {"producer_byte_rate": 10_000})
    df = spark.createDataFrame(
        [("x" * 100,) for _ in range(400)], "value string"
    )  # ~40KB of values against 10KB/s
    t0 = _time.perf_counter()
    KProducer(host=root, topic="t", transport="topiclog",
              options={"client.id": "etl"}).write_batch(df)
    KProducer(host=root, topic="t", transport="topiclog",
              options={"client.id": "etl"}).write_batch(df)
    assert _time.perf_counter() - t0 >= 3.0  # ~80KB needs ~8s of window


def test_max_message_bytes(spark, tmp_path):
    """max.message.bytes (MESSAGE_TOO_LARGE): an oversize record is
    rejected whole at produce — client append, idempotent produce, and
    the distributed sink all fail fast, and nothing partial lands."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming import KProducer, TopicLog
    from rdkafka_streams_spark.streaming.topiclog import RecordTooLargeError

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"max.message.bytes": 256})
    log.append("t", [b"small"], partition=0)  # under the bound: fine
    with _pytest.raises(RecordTooLargeError, match="max.message.bytes=256"):
        log.append("t", [b"ok", b"x" * 300], partition=0)
    assert log.end_offsets("t") == {0: 1}  # the whole request was rejected

    pid, epoch = log.init_producer_id("app")
    with _pytest.raises(RecordTooLargeError):
        log.produce_idempotent("t", ["y" * 300], 0, pid, epoch, base_seq=0)

    df = spark.createDataFrame([("z" * 300,)], "value string")
    with _pytest.raises(Exception, match="max.message.bytes"):
        KProducer(host=root, topic="t", transport="topiclog").write_batch(df)
    assert log.end_offsets("t") == {0: 1}


def test_tiered_crash_twin_cannot_resurrect_deleted_records(spark, tmp_path):
    """A segment caught mid-tier (remote copy written, local unlink
    crashed) exists in both tiers under one name; truncation must reap
    BOTH copies or the twin resurrects the deleted records."""
    import shutil

    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"a", b"b"], partition=0, timestamps=[100, 101])
    log.append("t", [b"c"], partition=0, timestamps=[200])
    # simulate the crash window: copy seg-0 to remote WITHOUT local unlink
    pdir = os.path.join(root, "t", "p0")
    rdir = os.path.join(root, ".remote", "t", "p0")
    os.makedirs(rdir)
    seg0 = sorted(n for n in os.listdir(pdir) if n.startswith("seg-"))[0]
    shutil.copyfile(os.path.join(pdir, seg0), os.path.join(rdir, seg0))

    log.delete_records("t", {0: 2})  # reap below offset 2 (all of seg-0)
    assert not os.path.exists(os.path.join(rdir, seg0))  # twin reaped too
    assert [bytes(r.value) for r in
            read_topic(spark, root, "t").collect()] == [b"c"]
    assert log.beginning_offsets("t") == {0: 2}


def test_tiering_is_prefix_under_nonmonotonic_createtime(tmp_path):
    """Non-monotonic CreateTime: tiering stops at the first SURVIVING
    segment (take-while), never leaving a remote segment above a local
    one — localLogStartOffset stays the exact tier boundary."""
    from rdkafka_streams_spark.streaming import TopicLog

    t0 = 1_700_000_000_000
    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=1)
    log.alter_configs("t", {"remote.storage.enable": "true",
                            "local.retention.ms": 60_000})
    log.append("t", [b"old"], partition=0, timestamps=[t0])
    log.append("t", [b"FRESH"], partition=0, timestamps=[t0 + 200_000])
    log.append("t", [b"older-ts"], partition=0, timestamps=[t0 + 1])
    log.append("t", [b"active"], partition=0, timestamps=[t0 + 2])
    # cutoff t0+140s: seg0 (max t0) qualifies; seg1 (max t0+200s) does
    # NOT -> the walk stops there even though seg2's CreateTime is older
    assert log.tier_segments("t", now_ms=t0 + 200_000) == {0: 1}
    assert log.local_log_start_offset("t") == {0: 1}


def test_atomic_sink_rejects_compression_and_quota_options(spark, tmp_path):
    """atomic=true hard-links staged files (WAL/inode protocol), so it can
    neither recompress nor meter at commit: the incompatible options fail
    loudly instead of silently dropping."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming import KProducer, TopicLog

    root = str(tmp_path)
    TopicLog(root).create_topic("t", partitions=1)
    df = spark.readStream.format("rate").option("rowsPerSecond", 1).load() \
        .selectExpr("cast(value as string) as value")
    with _pytest.raises(Exception, match="atomic=true is incompatible"):
        KProducer(host=root, topic="t", transport="topiclog", atomic=True,
                  checkpoint=str(tmp_path / "ck"),
                  options={"compression.type": "gzip"}).write(df)


def test_gzip_segments_byte_deterministic(tmp_path):
    """Identical content gzips to identical bytes (no FNAME from the
    random tmp file, no mtime) — the property content-hash dedup and
    byte-count certs rely on."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    log = TopicLog(str(tmp_path))
    for t in ("a", "b"):
        log.create_topic(t, partitions=1)
        log.alter_configs(t, {"compression.type": "gzip"})
        log.append(t, [b"same payload"], partition=0, timestamps=[123])
    read = {}
    for t in ("a", "b"):
        pdir = os.path.join(str(tmp_path), t, "p0")
        seg = next(n for n in os.listdir(pdir) if n.endswith(".jsonl.gz"))
        with open(os.path.join(pdir, seg), "rb") as f:
            read[t] = f.read()
    assert read["a"] == read["b"]


def test_delete_group_and_verify_log(tmp_path):
    """delete_group refuses live members (GROUP_NOT_EMPTY) and unknown
    groups, then drops offsets + state + stamps whole; verify_log audits
    a healthy multi-tier, compacted, compressed log clean and pinpoints
    planted corruption."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"a", b"b", b"c"], partition=0, timestamps=[1, 2, 3])
    with _pytest.raises(ValueError, match="unknown group"):
        log.delete_group("g")
    j = log.static_join("g", "t", "pod-a")
    log.commit_offsets("g", "t", {0: 2})
    with _pytest.raises(ValueError, match="GROUP_NOT_EMPTY"):
        log.delete_group("g")
    log.remove_member("g", "pod-a")
    assert log.delete_group("g") == ["t"]
    assert "g" not in log.groups()
    assert log.committed("g", "t") == {}

    # verify_log: clean across gzip'd + compacted + tiered segments
    log2 = TopicLog(str(tmp_path / "b"))
    log2.create_topic("t", partitions=1)
    t0 = 1_700_000_000_000
    log2.append("t", [b"x1", b"x2"], keys=[b"k", b"k"], partition=0,
                timestamps=[t0, t0 + 1])
    log2.compact("t")  # gapped, explicit-"o" segment
    log2.alter_configs("t", {"compression.type": "gzip",
                             "remote.storage.enable": None})
    log2.append("t", [b"y"], partition=0, timestamps=[t0 + 2])  # gz segment
    log2.offsets_for_times("t", t0)  # build sidecars
    rep = log2.verify_log("t")
    assert rep == {0: {"records": 2, "segments": 2, "issues": []}}

    # planted corruption: a record whose offset escapes the name's span
    pdir = os.path.join(str(tmp_path / "b"), "t", "p0")
    bad = os.path.join(pdir, f"seg-{3:020d}-1.jsonl")
    with open(bad, "w", encoding="utf-8") as f:
        f.write('{"vs":"z","ts":5,"o":99}\n')
    rep = log2.verify_log("t")
    assert any("outside the name's span" in i for i in rep[0]["issues"])

    # a DENSE segment that lost a line: dense offsets are synthesized, so
    # only the line-count-vs-name check can catch the silent renumbering
    log3 = TopicLog(str(tmp_path / "c"))
    log3.create_topic("t", partitions=1)
    log3.append("t", [b"a", b"b", b"c"], partition=0, timestamps=[1, 2, 3])
    pdir3 = os.path.join(str(tmp_path / "c"), "t", "p0")
    seg = next(n for n in os.listdir(pdir3) if n.startswith("seg-"))
    with open(os.path.join(pdir3, seg), encoding="utf-8") as f:
        lines = f.readlines()
    with open(os.path.join(pdir3, seg), "w", encoding="utf-8") as f:
        f.writelines(lines[:1] + lines[2:])  # drop the middle record
    rep = log3.verify_log("t")
    assert any("holds 2 lines but its name claims 3" in i
               for i in rep[0]["issues"])


def test_estate_drill_all_features_compose(spark, tmp_path):
    """Day-in-the-life composition: a topic with segment.bytes roll +
    gzip compression + tiered storage + group commits runs produce →
    consume → retention → seek across every feature at once — the
    cross-feature interactions (tiering gz segments with their
    sidecars, seeks through compressed remote segments, lag against a
    tiered log, total retention across tiers) all hold, and verify_log
    audits the result clean."""
    from rdkafka_streams_spark.streaming import KProducer, TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("ev", partitions=2)
    log.alter_configs("ev", {
        "segment.bytes": 4096,
        "compression.type": "gzip",
        "remote.storage.enable": "true",
        "local.retention.ms": 60_000,
        "retention.ms": 600_000,
    })
    t0 = 1_700_000_000_000

    # two produce waves through the DISTRIBUTED sink, CreateTime-stamped
    def wave(lo, hi, ts):
        df = spark.createDataFrame(
            [(f"v{i:03d}" + "x" * 120, str(i % 2), ts) for i in range(lo, hi)],
            "value string, partition_hint string, ts long",
        ).selectExpr("value", "cast(partition_hint as int) as partition",
                     "timestamp_millis(ts) as evt")
        KProducer(host=root, topic="ev", transport="topiclog",
                  partition_col="partition", timestamp_col="evt",
                  ).write_batch(df.drop("ts"))

    wave(0, 120, t0)            # cold wave
    wave(120, 200, t0 + 120_000)  # hot wave

    # roll + codec: every partition has >1 segment, all gzip'd
    for p in (0, 1):
        pdir = os.path.join(root, "ev", f"p{p}")
        segs = [n for n in os.listdir(pdir) if n.startswith("seg-")
                and not n.endswith(".timeindex")]
        assert len(segs) > 1 and all(n.endswith(".jsonl.gz") for n in segs)

    # a consumer group commits mid-log
    ends = log.end_offsets("ev")
    log.rebalance_group("g", "ev", ["m1"])
    gen = log.group_generation("g")
    log.commit_offsets("g", "ev", {0: 30, 1: 30}, generation=gen)

    # the retention sweep tiers the cold wave (gz segments + sidecars
    # move together); total retention keeps everything (600s window)
    log.offsets_for_times("ev", t0)  # build some sidecars pre-tier
    acts = log.run_retention("ev", now_ms=t0 + 200_000)["ev"]
    assert sum(acts["tiered"].values()) > 0
    lls = log.local_log_start_offset("ev")
    assert all(v > 0 for v in lls.values())
    assert log.beginning_offsets("ev") == {0: 0, 1: 0}

    # stitched read over gz local + gz remote equals everything produced
    got = read_topic(spark, root, "ev").count()
    assert got == 200
    # seek through compressed remote segments lands on the hot wave
    s = log.offsets_for_times("ev", t0 + 1)
    assert all(v is not None and v > 0 for v in s.values())
    # lag measured against the tiered log's true end
    lag = log.consumer_lag("g", "ev")
    assert {p: v["lag"] for p, v in lag.items()} == {
        p: ends[p] - 30 for p in (0, 1)
    }

    # total retention finally reaps the cold wave from the REMOTE tier
    log.run_retention("ev", now_ms=t0 + 120_000 + 600_000 - 1)
    assert read_topic(spark, root, "ev").count() == 80  # hot wave only
    # the whole thing audits clean
    rep = log.verify_log("ev")
    assert all(v["issues"] == [] for v in rep.values()), rep


def test_offsets_for_max_timestamp(tmp_path):
    """ListOffsets MAX_TIMESTAMP (KIP-734): the newest record by
    CreateTime, not the last offset — non-monotonic stamps, ties to the
    earliest holder, empty partitions None, and the answer reads through
    gzip'd and tiered segments alike."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    t0 = 1_700_000_000_000
    log = TopicLog(str(tmp_path))
    log.create_topic("t", partitions=2)
    # p0: the max (t0+500) sits MID-log, duplicated later (tie -> offset 1)
    log.append("t", [b"a", b"B", b"c"], partition=0,
               timestamps=[t0, t0 + 500, t0 + 100])
    log.append("t", [b"B2", b"d"], partition=0,
               timestamps=[t0 + 500, t0 + 200])
    # p1 stays empty
    got = log.offsets_for_max_timestamp("t")
    assert got == {0: {"offset": 1, "timestamp": t0 + 500}, 1: None}

    # through compression + tiering: the winning segment lives REMOTE
    log.alter_configs("t", {"compression.type": "gzip",
                            "remote.storage.enable": "true",
                            "local.retention.ms": 1})
    log.append("t", [b"late-but-old"], partition=0, timestamps=[t0 + 50])
    log.tier_segments("t", now_ms=t0 + 10_000_000)
    assert log.local_log_start_offset("t")[0] > 0
    assert log.offsets_for_max_timestamp("t")[0] == {
        "offset": 1, "timestamp": t0 + 500,
    }

    # txn CONTROL markers carry produce wall-clock stamps (far above the
    # event-time data); the freshness answer must ignore them — they are
    # never delivered to applications
    log.begin_txn("x")
    log.append("t", [b"txn"], partition=0, timestamps=[t0 + 10], txn="x")
    log.commit_txn("x")  # marker stamped with REAL wall clock >> t0
    assert log.offsets_for_max_timestamp("t")[0] == {
        "offset": 1, "timestamp": t0 + 500,
    }


def test_compaction_txn_visibility(spark, tmp_path):
    """The cleaner resolves transactions BEFORE dedup, like a broker:
    an ABORTED record never supersedes the committed value of its key
    (it is removed outright), and cleaning stops at the first record of
    a still-OPEN transaction — the unstable tail is retained verbatim,
    so a later commit still delivers it to read_committed."""
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"committed"], keys=[b"K"], partition=0)  # off 0
    log.begin_txn("bad")
    log.append("t", [b"aborted-overwrite"], keys=[b"K"], partition=0,
               txn="bad")                                      # off 1
    log.abort_txn("bad")                                       # marker @2
    stats = log.compact("t")
    assert stats["aborted"] == 1 and stats["kept"] == 1
    # K's value is the COMMITTED one, for both isolation levels
    for iso in ("read_uncommitted", "read_committed"):
        vals = [bytes(r.value) for r in
                read_topic(spark, root, "t", isolation=iso).collect()]
        assert vals == [b"committed"], (iso, vals)

    # open txn: the tail from its first record on is NOT cleaned
    log.append("t", [b"v2"], keys=[b"K"], partition=0)         # off 3
    log.begin_txn("inflight")
    log.append("t", [b"pending"], keys=[b"K"], partition=0,
               txn="inflight")                                 # off 4
    log.append("t", [b"v3"], keys=[b"K"], partition=0)         # off 5
    stats = log.compact("t")
    # below the unstable floor: committed@0 superseded by v2@3; the tail
    # (pending@4, v3@5) retained verbatim awaiting the txn's fate
    assert stats == {"kept": 3, "superseded": 1, "tombstoned": 0,
                     "aborted": 0}
    got = {r.offset: bytes(r.value) for r in
           read_topic(spark, root, "t", isolation="read_committed").collect()}
    assert got == {3: b"v2", 5: b"v3"}  # pending invisible, NOT lost
    log.commit_txn("inflight")
    got = {r.offset: bytes(r.value) for r in
           read_topic(spark, root, "t", isolation="read_committed").collect()}
    assert got == {3: b"v2", 4: b"pending", 5: b"v3"}


def test_streaming_read_committed_lso_gate(spark, tmp_path):
    """LSO gate: a read_committed STREAM never plans past an open
    transaction's first record — records of a txn that commits after a
    micro-batch are delivered by a later batch instead of being filtered
    once and skipped forever by the checkpoint."""
    import tempfile

    from rdkafka_streams_spark.streaming import KConsumer, TopicLog, shutdown

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append_json("t", [{"n": 1}], partition=0)              # off 0
    log.begin_txn("x")
    log.append("t", ['{"n": 2}'], partition=0, txn="x")        # off 1
    log.append_json("t", [{"n": 3}], partition=0)              # off 2

    sink = str(tmp_path / "out")
    ck = tempfile.mkdtemp(prefix="lso_ck_")
    q = (
        KConsumer(host=root, topic="t", from_offset="earliest",
                  schema="n long", transport="topiclog",
                  isolation="read_committed")
        .stream(spark).selectExpr("value.n as n")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0.2 seconds").start()
    )
    q.processAllAvailable()
    # gate holds: only the record BELOW the open txn's floor delivered
    assert sorted(r.n for r in spark.read.parquet(sink).collect()) == [1]
    log.commit_txn("x")
    q.processAllAvailable()
    shutdown(q, 60)
    # the commit lifts the gate; NOTHING was lost to the checkpoint
    assert sorted(r.n for r in spark.read.parquet(sink).collect()) == [1, 2, 3]


def test_review_fixes_group_and_guard_semantics(spark, tmp_path):
    """Round-8 self-review regressions: (a) expire_group_offsets never
    wipes a group with live membership just because it has no commits;
    (b) commit_offsets fences a stale static-member token
    (FENCED_INSTANCE_ID) even though the generation is unchanged;
    (c) reset_offsets rejects contradictory specs; (d) the BATCH sink
    rejects the streaming-only atomic/txnId options loudly."""
    import pytest as _pytest

    from rdkafka_streams_spark.streaming import KProducer, TopicLog
    from rdkafka_streams_spark.streaming.topiclog import FencedInstanceIdError

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=2)
    log.append("t", [b"a", b"b"], partition=0)

    # (a) live group with zero commits survives the offsets sweep
    j1 = log.static_join("g", "t", "pod-a")
    log.expire_group_offsets(retention_ms=1, now_ms=10**15)
    assert "g" in log.groups()
    log.heartbeat("g", "pod-a", j1["member_token"])  # state intact

    # (b) the bounced member's replacement gets a new token; the zombie's
    # commit is fenced even at the same generation
    j2 = log.static_join("g", "t", "pod-a")
    assert j2["generation"] == j1["generation"]
    gen = j2["generation"]
    log.commit_offsets("g", "t", {0: 1}, generation=gen,
                       instance_id="pod-a", member_token=j2["member_token"])
    with _pytest.raises(FencedInstanceIdError):
        log.commit_offsets("g", "t", {0: 2}, generation=gen,
                           instance_id="pod-a",
                           member_token=j1["member_token"])
    assert log.committed("g", "t") == {0: 1}

    # (c) contradictory reset specs
    with _pytest.raises(ValueError, match="mutually exclusive"):
        log.reset_offsets("g", "t", to="latest", shift_by=-1)

    # (d) batch sink + streaming-only options
    df = spark.createDataFrame([("x",)], "value string")
    with _pytest.raises(Exception, match="streaming-only"):
        KProducer(host=root, topic="t", transport="topiclog",
                  options={"atomic": "true"}).write_batch(df)


def test_admin_cli_roundtrip(tmp_path, capsys):
    """scripts/topiclog_admin.py — the kafka-topics.sh/-consumer-groups.sh
    analog: drive a create → configure → produce → commit → lag →
    reset → verify → retention lifecycle through main(argv) and check
    the JSON output at each step; verify-log's exit code doubles as the
    health signal."""
    import importlib.util
    import json as _json

    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    spec = importlib.util.spec_from_file_location(
        "topiclog_admin", _ADMIN_CLI)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    root = str(tmp_path)

    def run(*argv):
        rc = cli.main(["--root", root, *argv])
        return rc, _json.loads(capsys.readouterr().out)

    assert run("create-topic", "t", "--partitions", "2") == (
        0, {"created": "t", "partitions": 2})
    rc, cfg = run("alter-config", "t", "retention.ms=86400000",
                  "compression.type=gzip")
    assert (rc, cfg) == (0, {"retention.ms": "86400000",
                             "compression.type": "gzip"})
    assert run("topics")[1] == ["t"]

    log = TopicLog(root)
    log.append("t", [b"a", b"b", b"c"], partition=0, timestamps=[1, 2, 3])
    rc, desc = run("describe-topic", "t")
    assert desc["0"]["end"] == 3 and desc["1"]["end"] == 0

    log.commit_offsets("g", "t", {0: 2})
    rc, lag = run("lag", "g", "t")
    assert lag["0"] == {"end_offset": 3, "committed": 2, "lag": 1}
    rc, reset = run("reset-offsets", "g", "t", "--to", "earliest")
    assert reset == {"0": 0, "1": 0}
    assert run("offsets-for-times", "t", "--timestamp", "2")[1] == {
        "0": 1, "1": None}
    rc, mx = run("max-timestamp", "t")
    assert mx["0"] == {"offset": 2, "timestamp": 3}

    rc, rep = run("verify-log", "t")
    assert rc == 0 and all(v["issues"] == [] for v in rep.values())
    rc, acts = run("run-retention", "t")
    assert "t" in acts
    rc, q = run("alter-quota", "etl", "producer_byte_rate=1000")
    assert (rc, q) == (0, {"producer_byte_rate": 1000})
    assert run("quotas")[1] == {"etl": {"producer_byte_rate": 1000}}
    rc, dg = run("delete-group", "g")
    assert dg == {"deleted": "g", "topics": ["t"]}


def test_epoch_allocation_is_exclusive_not_rmw(tmp_path):
    """ADVICE r8: the epoch bump was a read-modify-write of the name
    file — two concurrent re-inits could both read epoch N and both be
    issued N+1, so neither fenced the other.  Epochs are now claimed
    with an open(x) marker: simulate the race by pre-claiming the epoch
    a re-init would compute; the loser must take the NEXT epoch (and
    the stale winner's epoch stays fenced)."""
    import os

    root = str(tmp_path / "log")
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    pid, e0 = log.init_producer_id("app")
    assert e0 == 0
    # a rival re-init claims epoch 1 concurrently (marker only — it
    # crashed before publishing the name file)
    open(os.path.join(root, ".pids", ".app.epoch-1"), "w").close()
    pid2, e1 = log.init_producer_id("app")
    assert pid2 == pid
    assert e1 == 2  # NOT 1: the claimed epoch is never reissued
    # and the fencing ladder still holds: the old epoch is rejected
    from rdkafka_streams_spark.streaming.topiclog import ProducerFencedError

    with pytest.raises(ProducerFencedError):
        log.produce_idempotent("t", ["x"], 0, pid, e0, base_seq=0)


def test_kip664_transaction_admin_unwedges_share_fetch(tmp_path, capsys):
    """KIP-664 analog (list/describe/abort-transaction): a crashed
    producer leaves an OPEN transaction that wedges read_committed
    share-fetch (the LSO gate raises with no client-side remedy). The
    operator lists it by duration, describes the partitions it holds,
    force-aborts it — behind the min-age interlock — and the fetch
    proceeds with the aborted records correctly filtered."""
    import importlib.util
    import json as _json

    from rdkafka_streams_spark.streaming.sharegroups import ShareGroup
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.append("t", [b"plain0", b"plain1"], partition=0)
    log.begin_txn("etl", now_ms=1_000_000)
    log.append("t", [b"orphan"], partition=0, txn="etl")
    # producer crashes here — txn stays open, LSO floor held at offset 2

    sg = ShareGroup(root, "workers", isolation="read_committed")
    with pytest.raises(ValueError, match="open transaction"):
        sg.fetch("t", "m1", now_ms=2_000_000)

    # list: the hung txn shows up under the duration filter; a sealed
    # one would not
    rows = log.list_transactions(older_than_ms=60_000, now_ms=1_500_000)
    assert [r["txn_id"] for r in rows] == ["etl"]
    assert rows[0]["state"] == "open" and rows[0]["age_ms"] == 500_000
    assert rows[0]["n_partitions"] == 1
    assert log.list_transactions(state="commit") == []

    # describe: the partitions and LSO floor the txn holds down
    d = log.describe_transaction("etl")
    assert d["partitions"] == {"t": [0]}
    assert d["lso_floors"] == {"t": {"0": 2}}
    assert d["began_ms"] == 1_000_000 and d["ended_ms"] is None

    # interlock: refuse to abort under a possibly-live producer
    with pytest.raises(ValueError, match="refusing to abort"):
        log.force_abort_txn("etl", min_age_ms=10**9, now_ms=1_500_000)

    # forceful abort through the CLI (kafka-transactions.sh abort)
    spec = importlib.util.spec_from_file_location(
        "topiclog_admin", _ADMIN_CLI)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    rc = cli.main(["--root", root, "list-transactions", "--state", "open"])
    assert rc == 0
    assert _json.loads(capsys.readouterr().out)[0]["txn_id"] == "etl"
    rc = cli.main(["--root", root, "abort-transaction", "etl",
                   "--min-age-ms", "60000"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["aborted"] is True

    st = log.describe_transaction("etl")
    assert st["state"] == "abort" and st["forced"] is True
    # a sealed txn cannot be force-aborted again
    with pytest.raises(ValueError, match="only an OPEN"):
        log.force_abort_txn("etl")

    # the wedge is gone: read_committed share-fetch serves the plain
    # records and never the aborted orphan
    got = sg.fetch("t", "m1", max_records=10, now_ms=2_000_000)
    assert [bytes(r["value"]) for r in got] == [b"plain0", b"plain1"]
    sg.ack("t", "m1", {0: [r["offset"] for r in got]}, now_ms=2_000_001)
    d0 = sg.describe("t")[0]
    assert d0["lag"] == 0 and sg.state_size("t") == 0


def test_estate_drill_round9_surface_composes(spark, tmp_path):
    """r10 estate drill (pattern of r8's): an ACL-protected,
    gzip-compressed, TIERED topic carrying schema-REFERENCE Avro values
    is MIRRORED to a second root byte-faithfully, drained by a SHARE
    GROUP under read_committed, wedged by a hung TRANSACTION, unwedged
    through the KIP-664 CLI, and finally reset via the
    reset-share-offsets CLI — which FENCES the live drainer. Every
    round-9/10 admin surface is consulted in one scenario."""
    import importlib.util
    import json as _json

    from rdkafka_streams_spark.streaming import read_topic
    from rdkafka_streams_spark.streaming.acl import (
        AclBinding,
        AclStore,
        AuthorizationError,
    )
    from rdkafka_streams_spark.streaming.avro_codec import (
        encode_value,
        parse_schema,
    )
    from rdkafka_streams_spark.streaming.mirror import mirror_topic
    from rdkafka_streams_spark.streaming.schema_registry import (
        SchemaRegistry,
        frame,
        unframe,
        resolve_read,
    )
    from rdkafka_streams_spark.streaming.sharegroups import (
        FencedShareCoordinatorError,
        ShareGroup,
    )
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src)

    # --- ACLs: etl may do everything; default-deny covers the intern
    store = AclStore(src)
    for rtype, rname in (("topic", "*"), ("group", "*"),
                         ("cluster", "kafka-cluster"),
                         ("transactional_id", "*")):
        store.add(AclBinding(
            resource_type=rtype, resource_name=rname,
            pattern_type="literal", principal="User:etl",
            operation="ALL", permission="allow",
        ))
    log = TopicLog(src, "User:etl")
    log.create_topic("pay", partitions=2)
    log.alter_configs("pay", {
        "segment.bytes": 2048,
        "compression.type": "gzip",
        "remote.storage.enable": "true",
        "local.retention.ms": 60_000,
    })

    # --- schema references: envelope composes Money across subjects
    reg = SchemaRegistry(os.path.join(src, ".schema_registry"))
    money = _json.dumps({
        "type": "record", "name": "Money",
        "fields": [{"name": "cents", "type": "long"}],
    })
    envelope = _json.dumps({
        "type": "record", "name": "Payout",
        "fields": [{"name": "event_id", "type": "long"},
                   {"name": "amount", "type": "Money"}],
    })
    reg.register("shared-money", money)
    refs = [{"name": "Money", "subject": "shared-money", "version": 1}]
    sid = reg.register("pay-value", envelope, references=refs)
    resolved = parse_schema(reg.resolved_schema(envelope, refs))

    t0 = 1_700_000_000_000
    def rec(i):
        return frame(sid, encode_value(
            {"event_id": i, "amount": {"cents": i * 10}}, resolved))

    # two CreateTime waves so the retention sweep tiers the cold one
    for lo, hi, ts in ((0, 40, t0), (40, 80, t0 + 120_000)):
        for p in (0, 1):
            vals = [rec(i) for i in range(lo, hi) if i % 2 == p]
            log.append("pay", vals, partition=p,
                       timestamps=[ts] * len(vals))
    expected_sum = sum(i * 10 for i in range(80))

    # the intern is refused at the door (default-deny once ACLs exist)
    with pytest.raises(AuthorizationError):
        TopicLog(src, "User:intern").append("pay", [b"x"], partition=0)

    # --- tiering: the cold wave leaves the local tier; describe-log-dirs
    # reports both tiers; gzip'd segments move with their sidecars
    log.offsets_for_times("pay", t0)  # build sidecars pre-tier
    acts = log.run_retention("pay", now_ms=t0 + 200_000)["pay"]
    assert sum(acts["tiered"].values()) > 0
    assert all(v > 0 for v in log.local_log_start_offset("pay").values())
    dirs = log.describe_log_dirs("pay")["pay"]
    assert all("remote_size_bytes" in d and d["n_remote_segments"] > 0
               for d in dirs.values())

    # --- mirror to the second root: byte-faithful, tiered source read
    info = mirror_topic(spark, src, dst, "pay", alias="primary",
                        principal="User:etl")
    assert info["topic"] == "primary.pay"

    def snap(root, topic):
        return sorted(
            (r["partition"], r["offset"], bytes(r["value"]))
            for r in read_topic(spark, root, topic, principal="User:etl")
            .select("partition", "offset", "value").collect()
        )
    src_rows = snap(src, "pay")
    dst_rows = snap(dst, "primary.pay")
    assert len(src_rows) == 80
    assert [(p, o, v) for p, o, v in src_rows] == dst_rows

    # --- a crashed producer leaves a HUNG transaction: read_committed
    # share-fetch on the source wedges (LSO gate)
    log.begin_txn("batch-etl", now_ms=t0 + 300_000)
    log.append("pay", [rec(999)], partition=0, txn="batch-etl")
    sg = ShareGroup(src, "payout", principal="User:etl",
                    isolation="read_committed")
    with pytest.raises(ValueError, match="open transaction"):
        sg.fetch("pay", "m1", now_ms=t0 + 400_000)

    # --- KIP-664 unwedge through the CLI as the etl operator
    spec = importlib.util.spec_from_file_location(
        "topiclog_admin", _ADMIN_CLI)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    def run(*argv):
        assert cli.main(
            ["--root", src, "--principal", "User:etl", *argv]) == 0

    run("list-transactions", "--state", "open")
    run("abort-transaction", "batch-etl", "--min-age-ms", "1")
    assert log.txn_state("batch-etl")["state"] == "abort"

    # --- the share group drains the ACL'd, gzip'd, tiered, transactional
    # topic; values decode through the registry's reference closure
    writer = reg.get_by_id_resolved(sid)
    got_sum, got_n = 0, 0
    now = t0 + 500_000
    while True:
        batch = sg.fetch("pay", "m1", max_records=32, now_ms=now)
        if not batch:
            break
        for r in batch:
            wid, body = unframe(bytes(r["value"]))
            assert wid == sid
            v, _ = resolve_read(body, writer, writer)
            got_sum += v["amount"]["cents"]
            got_n += 1
        sg.ack("pay", "m1",
               {p: [r["offset"] for r in batch if r["partition"] == p]
                for p in {r["partition"] for r in batch}}, now_ms=now)
        now += 1
    assert (got_n, got_sum) == (80, expected_sum)  # aborted rec excluded
    assert sg.state_size("pay") == 0

    run("describe-share-group", "payout", "pay")
    # --- reset-share-offsets CLI fences the live drainer, then a fresh
    # coordinator replays the whole topic with fresh delivery counts
    run("reset-share-offsets", "payout", "pay", "--to", "earliest")
    with pytest.raises(FencedShareCoordinatorError):
        sg.fetch("pay", "m1", now_ms=now)
    sg2 = ShareGroup(src, "payout", principal="User:etl",
                     isolation="read_committed")
    replay = sg2.fetch("pay", "m1", max_records=200, now_ms=now)
    assert len(replay) == 80
    assert all(r["delivery_count"] == 1 for r in replay)

    # --- both roots audit clean
    for root, topic in ((src, "pay"), (dst, "primary.pay")):
        rep = TopicLog(root, "User:etl").verify_log(topic)
        assert all(v["issues"] == [] for v in rep.values()), rep


def test_list_transactions_surfaces_unreadable_state(tmp_path):
    """Review r10: a corrupt txn state file may be the very transaction
    holding the LSO floor down — it must SURFACE in the operator sweep
    as state='unreadable', never silently vanish from it."""
    from rdkafka_streams_spark.streaming.topiclog import TopicLog

    root = str(tmp_path)
    log = TopicLog(root)
    log.create_topic("t", partitions=1)
    log.begin_txn("ok", now_ms=1_000)
    with open(os.path.join(root, ".txns", "broken.json"), "w") as f:
        f.write("{not json")
    rows = log.list_transactions(now_ms=2_000)
    by_id = {r["txn_id"]: r for r in rows}
    assert by_id["ok"]["state"] == "open"
    assert by_id["broken"]["state"] == "unreadable"
    # it survives every filter — hiding it would defeat the sweep
    sweep = log.list_transactions(older_than_ms=10**9, now_ms=2_000)
    assert [r["txn_id"] for r in sweep] == ["broken"]


def test_incremental_dedup_drill_over_transport(spark, tmp_path):
    """r11 drill: the daily-ingest dedup posture end to end over the
    transport — the standing corpus indexes are built ONCE and SAVED to
    parquet (the contract the q284/q302 docstrings promise), an
    increment arrives on an ingest topic as JSON, the consumer probes
    the SAVED indexes with the base corpus never rescanned
    (``base=None``), near-dup docs drop, duplicated spans are excised,
    and the surviving clean docs land on a clean topic byte-exact."""
    from rdkafka_streams_spark.llm.dedup import (
        exact_substring_anchor_index,
        exact_substring_spans_incremental,
        minhash_index,
        minhash_near_dups_incremental,
    )
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    ix = str(tmp_path / "ix")
    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight"),
        ],
        "doc_id bigint, text string",
    )

    # ---- index-build day: computed once, SAVED (parquet)
    sig, buckets = minhash_index(base)
    sig.write.parquet(f"{ix}/sig")
    buckets.write.parquet(f"{ix}/buckets")
    exact_substring_anchor_index(base, n=8).write.parquet(f"{ix}/anchors")

    # ---- ingest day: the increment arrives over the transport
    uniq = " ".join(f"u{i}" for i in range(24))
    delta_rows = [
        # near-dup of base doc 1 (identical text) -> dropped whole
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # embeds base doc 2's 8-token window -> span excised, rest kept
        (102, f"p1 p2 one two three four five six seven eight {uniq}"),
        # fresh content -> untouched
        (103, "entirely fresh content with no overlap at all"),
    ]
    log = TopicLog(root)
    log.create_topic("ingest", partitions=1)
    log.create_topic("clean", partitions=1)
    inc = spark.createDataFrame(delta_rows, "doc_id bigint, text string")
    KProducer(
        host=root, topic="ingest", key="doc_id", transport="topiclog"
    ).write_batch(inc)
    delta = (
        read_topic(spark, root, "ingest")
        .select(
            F.from_json(
                F.col("value").cast("string"), "doc_id bigint, text string"
            ).alias("v")
        )
        .select("v.doc_id", "v.text")
    )

    # ---- probe the SAVED indexes; the base corpus is NOT an input
    saved = (
        spark.read.parquet(f"{ix}/sig"),
        spark.read.parquet(f"{ix}/buckets"),
    )
    near = minhash_near_dups_incremental(
        None, delta, threshold=0.5, index=saved
    )
    drop = {r["delta_id"] for r in near.select("delta_id").distinct().collect()}
    assert drop == {101}

    kept = delta.where(~F.col("doc_id").isin([int(d) for d in drop]))
    anchors = spark.read.parquet(f"{ix}/anchors")
    spans = exact_substring_spans_incremental(None, kept, n=8, index=anchors)
    got_spans = {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in spans.collect()
    }
    assert got_spans == {(102, 3, 10)}

    # ---- excise the spans (q300's rebuild) and publish the clean docs
    cov = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("j")
    )
    toks = kept.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("j0", "tok")
    ).select("doc_id", (F.col("j0") + 1).alias("j"), "tok")
    cleaned = (
        toks.join(cov, ["doc_id", "j"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("text")
        )
    )
    KProducer(
        host=root, topic="clean", key="doc_id", transport="topiclog"
    ).write_batch(cleaned)
    out = {
        r["v"]["doc_id"]: r["v"]["text"]
        for r in read_topic(spark, root, "clean")
        .select(
            F.from_json(
                F.col("value").cast("string"), "doc_id bigint, text string"
            ).alias("v")
        )
        .collect()
    }
    assert out == {
        102: "p1 p2 " + uniq,
        103: "entirely fresh content with no overlap at all",
    }
    # the drill audits clean end to end
    rep = log.verify_log("ingest") | log.verify_log("clean")
    assert all(v["issues"] == [] for v in rep.values()), rep

def test_incremental_curation_funnel_over_transport(spark, tmp_path):
    """r12 drill — the r11 dedup drill extended into the FULL q310 funnel
    in daily-ingest posture: every stage's standing state is built ONCE
    from the base corpus and SAVED (minhash index, ExactSubstr anchor
    index, bigram-LM counts via ``bigram_lm_index``, and the calibrated
    perplexity cutoff — the most-perplexing BASE doc's score, i.e. keep
    increments that score within the base corpus's observed range). An
    increment arrives on an ingest topic, runs near-dedup → span
    excision → repetition filter → saved-LM perplexity cut → temperature
    mixture with the base corpus NEVER rescanned, and the survivors land
    on a clean topic with the per-stage funnel published to a funnel
    topic. Each increment doc exercises exactly one stage."""
    from rdkafka_streams_spark.llm.dedup import (
        exact_substring_anchor_index,
        exact_substring_spans_incremental,
        minhash_index,
        minhash_near_dups_incremental,
    )
    from rdkafka_streams_spark.llm.text import (
        bigram_lm_index,
        bigram_lm_score_with_index,
        repetition_stats,
    )
    from rdkafka_streams_spark.operators.sampling import temperature_sample
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    ix = str(tmp_path / "ix")
    # rich repeated-bigram base (the LM must price in-domain increments
    # LOW) with per-doc vocabularies wide enough that a 10-token
    # increment reusing base words still has token-set Jaccard < 0.8
    # against every single base doc (the near-dup estimator is
    # token-set MinHash)
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox ran across the wide field in the "
                "morning light", "web"),
            (2, "the lazy dog sat on the warm mat in the morning light",
             "web"),
            (3, "the quick brown fox sat on the warm mat and ran across "
                "the wide field", "web"),
            (4, "one two three four five six seven eight nine ten eleven "
                "twelve", "books"),
            (5, "the lazy dog ran across the wide field and the quick "
                "brown fox slept", "web"),
            (6, "alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu", "books"),
            (7, "a small cat sat on the warm mat in the morning light "
                "yesterday", "books"),
            (8, "the quick brown fox slept in the morning light near the "
                "oak tree", "books"),
        ],
        "doc_id bigint, text string, source string",
    )

    # ---- index-build day: EVERY stage's standing state computed once, SAVED
    # 32-hash signatures: at n_hashes=8 the estimator's 1/8 granularity
    # lets a J~0.5 in-domain doc cross 0.8 by md5 luck; 32 hashes put
    # that tail below 1e-4 while the index stays 4 longs per band
    sig, buckets = minhash_index(base, n_hashes=32, n_bands=8)
    sig.write.parquet(f"{ix}/sig")
    buckets.write.parquet(f"{ix}/buckets")
    exact_substring_anchor_index(base, n=8).write.parquet(f"{ix}/anchors")
    cbg, cctx, vocab = bigram_lm_index(base)
    cbg.write.parquet(f"{ix}/lm_cbg")
    cctx.write.parquet(f"{ix}/lm_cctx")
    vocab.write.parquet(f"{ix}/lm_vocab")
    cutoff = int(
        bigram_lm_score_with_index(base, cbg, cctx, vocab)
        .agg(F.max("score_micro")).first()[0]
    )
    spark.createDataFrame([(cutoff,)], "cutoff bigint").write.parquet(
        f"{ix}/lm_cutoff"
    )

    # ---- ingest day
    uniq = " ".join(f"u{i}" for i in range(24))
    delta_rows = [
        # 201: identical to base doc 1 -> near-dup drop (stage 1)
        (201, "the quick brown fox ran across the wide field in the "
              "morning light", "web"),
        # 202: embeds base doc 4's 8-token prefix window -> span excised
        # (stage 2); its unique tail is then all-unseen bigrams, so the
        # perplexity cut prices it OOD (stage 4) — both by design
        (202, f"p1 p2 one two three four five six seven eight {uniq}",
         "web"),
        # 203: >10% duplicate bigrams -> repetition drop (stage 3)
        (203, "spam ham spam ham spam ham spam ham spam ham", "web"),
        # 204: token soup the base LM never saw -> perplexity drop (stage 4)
        (204, "zx qv wq jk pl mn bv cx dz fw", "web"),
        # 205/206: in-domain fresh docs — novel PHRASE COMBINATIONS of
        # heavily repeated base phrases, so bigram counts are high (low
        # perplexity) while no single base doc shares enough of the
        # token set to near-dup -> survive to the mixture
        # ("sat in" / "quietly" / "mat near" break every 8-token window
        # that a verbatim phrase run would otherwise share with base)
        (205, "the lazy dog sat in the morning light and ran across the "
              "wide field", "web"),
        (206, "the quick brown fox quietly sat on the warm mat near the "
              "oak tree", "books"),
    ]
    log = TopicLog(root)
    for t in ("ingest", "clean", "funnel"):
        log.create_topic(t, partitions=1)
    inc = spark.createDataFrame(
        delta_rows, "doc_id bigint, text string, source string"
    )
    KProducer(
        host=root, topic="ingest", key="doc_id", transport="topiclog"
    ).write_batch(inc)
    delta = (
        read_topic(spark, root, "ingest")
        .select(F.from_json(
            F.col("value").cast("string"),
            "doc_id bigint, text string, source string",
        ).alias("v"))
        .select("v.doc_id", "v.text", "v.source")
    )

    funnel = [("ingest", delta.count())]

    # ---- stage 1: near-dedup against the SAVED minhash index
    saved = (
        spark.read.parquet(f"{ix}/sig"),
        spark.read.parquet(f"{ix}/buckets"),
    )
    near = minhash_near_dups_incremental(None, delta, threshold=0.8,
                                         n_hashes=32, n_bands=8,
                                         index=saved)
    drop = [int(r["delta_id"])
            for r in near.select("delta_id").distinct().collect()]
    assert drop == [201], drop
    s1 = delta.where(~F.col("doc_id").isin(drop))
    funnel.append(("near_dedup", s1.count()))

    # ---- stage 2: ExactSubstr excision against the SAVED anchor index
    anchors = spark.read.parquet(f"{ix}/anchors")
    spans = exact_substring_spans_incremental(None, s1, n=8, index=anchors)
    assert {(r["doc_id"], r["span_start"], r["span_end"])
            for r in spans.collect()} == {(202, 3, 10)}
    cov = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("j")
    )
    toks = s1.select(
        "doc_id", "source",
        F.posexplode(F.split("text", " ")).alias("j0", "tok"),
    ).select("doc_id", "source", (F.col("j0") + 1).alias("j"), "tok")
    s2 = (
        toks.join(cov, ["doc_id", "j"], "left_anti")
        .groupBy("doc_id", "source")
        .agg(F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("j", "tok"))),
            lambda x: x["tok"],
        )).alias("text"))
    )
    # the excision is byte-exact: duplicated window cut, unique tail kept
    assert {r["text"] for r in s2.where("doc_id = 202").collect()} == {
        f"p1 p2 {uniq}"
    }
    funnel.append(("exactsubstr_excise", s2.count()))

    # ---- stage 3: repetition filter (stateless — no standing state)
    keep3 = repetition_stats(s2, n=2).where(
        ~F.col("is_repetitive")
    ).select("doc_id")
    s3 = s2.join(keep3, "doc_id")
    assert 203 not in {r["doc_id"] for r in s3.collect()}
    funnel.append(("repetition_filter", s3.count()))

    # ---- stage 4: perplexity cut against the SAVED LM + SAVED cutoff
    lm = (spark.read.parquet(f"{ix}/lm_cbg"),
          spark.read.parquet(f"{ix}/lm_cctx"),
          spark.read.parquet(f"{ix}/lm_vocab"))
    scores = bigram_lm_score_with_index(s3, *lm)
    cut = spark.read.parquet(f"{ix}/lm_cutoff")
    keep4 = scores.crossJoin(F.broadcast(cut)).where(
        F.col("score_micro") <= F.col("cutoff")
    ).select("doc_id")
    s4 = s3.join(keep4, "doc_id")
    got4 = {r["doc_id"] for r in s4.collect()}
    assert got4 == {205, 206}, (
        got4, {r["doc_id"]: r["score_micro"] for r in scores.collect()},
        cutoff,
    )
    funnel.append(("ppl_cut", s4.count()))

    # ---- stage 5: temperature mixture over the surviving increment
    samp = temperature_sample(
        s4, group_col="source", id_col="doc_id", total=2, tau=0.5
    ).select("doc_id")
    s5 = s4.join(samp, "doc_id")
    funnel.append(("temperature_mix", s5.count()))

    # ---- publish: clean docs + the per-increment funnel
    KProducer(
        host=root, topic="clean", key="doc_id", transport="topiclog"
    ).write_batch(s5.select("doc_id", "text", "source"))
    fdf = spark.createDataFrame(
        [(i, n, int(c)) for i, (n, c) in enumerate(funnel)],
        "stage int, stage_name string, n_docs bigint",
    )
    KProducer(
        host=root, topic="funnel", key="stage", transport="topiclog"
    ).write_batch(fdf)

    out = {
        r["v"]["doc_id"]: r["v"]["text"]
        for r in read_topic(spark, root, "clean")
        .select(F.from_json(
            F.col("value").cast("string"),
            "doc_id bigint, text string, source string",
        ).alias("v"))
        .collect()
    }
    # one web + one books survivor (quota 1 each: 2 sources, equal mass)
    assert set(out) == {205, 206}, out
    got_funnel = {
        r["v"]["stage_name"]: r["v"]["n_docs"]
        for r in read_topic(spark, root, "funnel")
        .select(F.from_json(
            F.col("value").cast("string"),
            "stage int, stage_name string, n_docs bigint",
        ).alias("v"))
        .collect()
    }
    assert got_funnel == {
        "ingest": 6, "near_dedup": 5, "exactsubstr_excise": 5,
        "repetition_filter": 4, "ppl_cut": 2, "temperature_mix": 2,
    }, got_funnel
    rep = (log.verify_log("ingest") | log.verify_log("clean")
           | log.verify_log("funnel"))
    assert all(v["issues"] == [] for v in rep.values()), rep


def test_multimodal_pairs_over_transport(spark, tmp_path):
    """r12 multimodal-ingest drill: REAL encoded images (binary blobs)
    ride the transport losslessly — ``to_json`` base64s the content on
    produce, ``from_json(.. content binary)`` decodes it on consume —
    and the consumer-side REAL decode + content fingerprint equals the
    direct (no-transport) path byte for byte, so pixel-level dedup
    downstream of an ingest topic behaves exactly like batch. Also pins
    that cross-container duplicates (same raster as BMP and PNG) still
    dedup together after the trip."""
    from rdkafka_streams_spark.llm.multimodal import (
        decode_fingerprint_stdlib,
        generate_image_caption_pairs,
    )
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    docs = spark.createDataFrame(
        [(i, f"caption for item {i} with enough words", f"s{i % 2}")
         for i in range(12)],
        "doc_id bigint, text string, source string",
    )
    # dup_mod=4 over 12 ids: raster key = doc_id % 4, container =
    # doc_id % 3 -> e.g. ids 0 (BMP), 4 (PPM), 8 (PNG) share a raster
    pairs = generate_image_caption_pairs(docs, dup_mod=4)
    direct = {
        r["doc_id"]: (r["width"], r["height"], r["px_sum"], r["px_wsum"])
        for r in decode_fingerprint_stdlib(pairs).collect()
    }

    log = TopicLog(root)
    log.create_topic("media", partitions=2)
    KProducer(
        host=root, topic="media", key="doc_id", transport="topiclog"
    ).write_batch(pairs)
    schema = ("doc_id bigint, media_type string, source string, "
              "caption string, byte_len int, content binary")
    consumed = (
        read_topic(spark, root, "media")
        .select(F.from_json(F.col("value").cast("string"), schema)
                .alias("v"))
        .select("v.*")
    )
    via = {
        r["doc_id"]: (r["width"], r["height"], r["px_sum"], r["px_wsum"])
        for r in decode_fingerprint_stdlib(consumed).collect()
    }
    assert via == direct and len(via) == 12

    from pyspark.sql import Window

    fp = decode_fingerprint_stdlib(consumed)
    wd = Window.partitionBy("width", "height", "px_sum", "px_wsum").orderBy(
        "doc_id"
    )
    kept = (
        fp.withColumn("__rn", F.row_number().over(wd))
        .where("__rn = 1")
        .select("doc_id", "media_type")
        .collect()
    )
    # 4 raster classes survive, keeper = min doc_id per class — and the
    # dropped copies include OTHER containers than the keeper's
    assert sorted(r["doc_id"] for r in kept) == [0, 1, 2, 3]
    mts = {r["doc_id"]: r["media_type"] for r in kept}
    assert mts[0] == "image/bmp" and mts[1] == "image/x-portable-pixmap"


def test_ann_query_serving_over_transport(spark, tmp_path, sf_dir):
    """r13 drill — the q318/q319 saved-artifact posture applied to L3
    (the q326 contract, end to end over the transport): index-build day
    trains the coarse quantizer + SQ8 state ONCE on the standing corpus
    and ships them as the save_ann_index JSON artifact; at serve time,
    query doc-ids arrive on an `ann-queries` topic (item-to-item shape:
    the client names a vector already in the corpus), the serving job
    loads the few-KB artifact — NO retraining, no corpus rescan — runs
    the q322-geometry IVF+SQ search, and publishes (q_id, id, sdist) to
    `ann-answers`. The answers read back from the topic equal the
    in-session train→search results row for row."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.similarity import (
        ivfsq_search_integer,
        kmeans_integer,
        load_ann_index,
        save_ann_index,
        sq8_train_integer,
    )
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    art = str(tmp_path / "ann_artifact")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )

    # ---- index-build day: train once, save the artifact
    _a, cents = kmeans_integer(emb, k=4, n_iters=2)
    save_ann_index(art, scale=1000, coarse_centroids=cents,
                   sq_state=sq8_train_integer(emb))

    # ---- serve day: query ids arrive over the transport
    log = TopicLog(root)
    for t in ("ann-queries", "ann-answers"):
        log.create_topic(t, partitions=1)
    q_ids = [0, 60, 120, 180, 240]
    qdf = spark.createDataFrame([(i,) for i in q_ids], "q_id bigint")
    KProducer(host=root, topic="ann-queries", key="q_id",
              transport="topiclog").write_batch(qdf)

    incoming = (
        read_topic(spark, root, "ann-queries")
        .select(F.from_json(F.col("value").cast("string"),
                            "q_id bigint").alias("v"))
        .select("v.q_id")
    )
    # item-to-item: join the named ids back to their corpus vectors
    queries = emb.join(
        incoming.withColumnRenamed("q_id", "vec_id"), "vec_id"
    )
    idx = load_ann_index(art)
    served = ivfsq_search_integer(
        emb, queries, k=3, nprobe=2,
        scale=idx["scale"], state=idx["sq"], coarse=idx["coarse"],
    )
    KProducer(host=root, topic="ann-answers", key="q_id",
              transport="topiclog").write_batch(served)

    # ---- the answers on the wire == direct train-and-search
    got = sorted(
        (int(r["q_id"]), int(r["vec_id"]), int(r["sdist"]))
        for r in read_topic(spark, root, "ann-answers")
        .select(F.from_json(
            F.col("value").cast("string"),
            "q_id bigint, vec_id bigint, sdist bigint").alias("v"))
        .select("v.*").collect()
    )
    direct = sorted(
        (int(r["q_id"]), int(r["vec_id"]), int(r["sdist"]))
        for r in ivfsq_search_integer(
            emb, emb.where(F.col("vec_id").isin(q_ids)),
            k=3, nprobe=2, n_cells=4, coarse_iters=2,
        ).collect()
    )
    assert got == direct and len(got) == 3 * len(q_ids)


def test_multimodal_increment_funnel(spark, tmp_path):
    """r13 drill — the q329 contract end to end over the transport
    (saved fingerprint-index for L5+L1): index-build day decodes the
    standing image-caption corpus ONCE and saves only the 4-long
    fingerprint keys as parquet; image-caption increments arrive on an
    ingest topic, decode, and run pixel-dedup-against-the-index →
    within-delta dedup → dims floor → caption floor; survivors land on
    a clean topic, the funnel on a funnel topic, and the survivors'
    keys APPEND to the index — so re-ingesting the same increment
    dedups to zero (idempotent daily ingest). Each increment doc
    exercises exactly one stage; the cross-container drops prove the
    dedup is content-level (an incoming BMP of a standing PPM's raster
    drops), which byte hashing cannot do."""
    from rdkafka_streams_spark.llm.multimodal import (
        decode_fingerprint_stdlib,
        fingerprint_dedup_incremental,
        generate_image_caption_pairs,
    )
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    ix = str(tmp_path / "ix")
    long_cap = " ".join(f"w{i}" for i in range(22))
    base = spark.createDataFrame(
        [(i, long_cap, "web") for i in range(1, 9)],
        "doc_id bigint, text string, source string",
    )
    # ---- index-build day: decode once, save ONLY the fingerprint keys
    decode_fingerprint_stdlib(
        generate_image_caption_pairs(base, dup_mod=20)
    ).select("width", "height", "px_sum", "px_wsum").write.parquet(
        f"{ix}/fp0"
    )

    # ---- ingest day: each delta doc exercises exactly one stage
    # (raster key = doc_id % 20, container = doc_id % 3; base rasters
    # are keys 1..8)
    delta_rows = [
        # 321: key 1 = base doc 1's raster, but BMP vs the base's PPM
        # -> cross-container INDEX dup (stage 1)
        (321, long_cap, "web"),
        # 316/336: both key 16 (dims pass), PPM vs BMP -> within-delta
        # cross-container dup; min doc_id 316 survives, 336 drops
        (316, long_cap, "web"),
        (336, long_cap, "web"),
        # 340: key 0 -> 8x8 raster, fails the dims floor (stage 2)
        (340, long_cap, "web"),
        # 355: key 15 (14x9 passes dims), 5-word caption -> stage 3 drop
        (355, "too short a caption here", "web"),
    ]
    log = TopicLog(root)
    for t in ("mm-ingest", "mm-clean", "mm-funnel"):
        log.create_topic(t, partitions=1)
    inc = spark.createDataFrame(
        delta_rows, "doc_id bigint, text string, source string"
    )
    KProducer(host=root, topic="mm-ingest", key="doc_id",
              transport="topiclog").write_batch(inc)

    def run_ingest(index_paths: list[str]) -> tuple[list, int]:
        delta = (
            read_topic(spark, root, "mm-ingest")
            .select(F.from_json(
                F.col("value").cast("string"),
                "doc_id bigint, text string, source string").alias("v"))
            .select("v.doc_id", "v.text", "v.source")
        )
        fp = decode_fingerprint_stdlib(
            generate_image_caption_pairs(delta, dup_mod=20)
        )
        index = spark.read.parquet(*index_paths)
        s1 = fingerprint_dedup_incremental(index, fp)
        s2 = s1.where((F.col("width") >= 10) & (F.col("height") >= 9))
        s3 = s2.where(F.size(F.split(F.col("caption"), " ")) >= 20)
        funnel = [
            ("delta_decoded", fp.count()),
            ("index_and_delta_dedup", s1.count()),
            ("dims_filter", s2.count()),
            ("caption_quality", s3.count()),
        ]
        return funnel, s3

    funnel, survivors = run_ingest([f"{ix}/fp0"])
    assert funnel == [("delta_decoded", 5), ("index_and_delta_dedup", 3),
                      ("dims_filter", 2), ("caption_quality", 1)]
    assert [int(r["doc_id"]) for r in survivors.collect()] == [316]

    # survivors to the clean topic, the funnel to the funnel topic
    KProducer(host=root, topic="mm-clean", key="doc_id",
              transport="topiclog").write_batch(
        survivors.select("doc_id", "media_type", "source", "caption"))
    KProducer(host=root, topic="mm-funnel", transport="topiclog"
              ).write_batch(spark.createDataFrame(
                  funnel, "stage string, n bigint"))
    clean = (
        read_topic(spark, root, "mm-clean")
        .select(F.from_json(F.col("value").cast("string"),
                            "doc_id bigint, media_type string").alias("v"))
        .collect()
    )
    assert [(r["v"]["doc_id"], r["v"]["media_type"]) for r in clean] == [
        (316, "image/x-portable-pixmap")
    ]
    # ---- the incremental contract: survivors' keys APPEND to the index,
    # so re-ingesting the same increment dedups everything dedupable
    survivors.select("width", "height", "px_sum", "px_wsum"
                     ).write.parquet(f"{ix}/fp1")
    funnel2, survivors2 = run_ingest([f"{ix}/fp0", f"{ix}/fp1"])
    assert funnel2 == [("delta_decoded", 5), ("index_and_delta_dedup", 2),
                       ("dims_filter", 1), ("caption_quality", 0)]
    assert survivors2.count() == 0


def test_sketch_monitoring_over_transport(spark, tmp_path, sf_dir):
    """r13 drill — the ship-only-sketches posture end to end: each
    'day' builds its HDR doc-length table (q327's sketch) close to the
    data and publishes the FEW-HUNDRED-CELL table to a sketches topic;
    the monitor consumes ONLY the wire sketches — never the corpora —
    merges them by cell-wise add (the mergeability contract), reads
    quantiles off the merged table, and computes the per-band drift
    between the two days (q328's comparison). Everything computed from
    the wire equals the same computation on locally-built tables."""
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.llm.text import (
        hdr_histogram_table,
        hdr_quantiles,
    )
    from rdkafka_streams_spark.streaming import TopicLog, read_topic

    root = str(tmp_path / "log")
    log = TopicLog(root)
    log.create_topic("sketches", partitions=1)

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    # ---- producer side: per-day sketch built near the data, published
    days = {0: d.where("doc_id % 2 = 0"), 1: d.where("doc_id % 2 = 1")}
    for day, dd in days.items():
        tbl = hdr_histogram_table(dd, "n").withColumn("day", F.lit(day))
        KProducer(host=root, topic="sketches", key="idx",
                  transport="topiclog").write_batch(tbl)

    # ---- monitor side: consumes ONLY the topic
    wire = (
        read_topic(spark, root, "sketches")
        .select(F.from_json(
            F.col("value").cast("string"),
            "idx bigint, cnt bigint, day int").alias("v"))
        .select("v.*")
    )
    merged = wire.groupBy("idx").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    est_wire = sorted(
        tuple(r) for r in hdr_quantiles(merged, [500, 900]).collect()
    )
    est_direct = sorted(
        tuple(r)
        for r in hdr_quantiles(hdr_histogram_table(d, "n"), [500, 900])
        .collect()
    )
    assert est_wire == est_direct  # merged wire tables == whole corpus

    def drift(tblA, tblB):
        j = (
            tblA.withColumnRenamed("cnt", "a")
            .join(tblB.withColumnRenamed("cnt", "b"), ["idx"],
                  "full_outer")
            .select(
                F.expr("CASE WHEN idx < 32 THEN CAST(0 AS BIGINT) "
                       "ELSE (idx - 32) DIV 16 + 1 END").alias("band"),
                F.coalesce("a", F.lit(0)).alias("a"),
                F.coalesce("b", F.lit(0)).alias("b"),
            )
            .groupBy("band")
            .agg(F.sum(F.abs(F.col("a") - F.col("b"))).cast("bigint")
                 .alias("l1"))
        )
        return sorted(tuple(r) for r in j.collect())

    wa = wire.where("day = 0").select("idx", "cnt")
    wb = wire.where("day = 1").select("idx", "cnt")
    assert drift(wa, wb) == drift(
        hdr_histogram_table(days[0], "n"),
        hdr_histogram_table(days[1], "n"),
    )


def test_gc_share_epochs_cli(tmp_path, capsys):
    """The r13 offline GC admin op through the CLI: claim a few
    coordinator epochs, `gc-share-epochs` reaps all but the max and
    reports the count, the floor file survives, and post-GC claims
    continue strictly above the floor with fencing intact."""
    import importlib.util
    import json as _json
    import os

    from rdkafka_streams_spark.streaming.sharegroups import ShareGroup

    root = str(tmp_path / "bus")
    log = TopicLog(root)
    log.create_topic("q", partitions=1)
    log.append("q", ["r0", "r1"], partition=0)
    holders = [ShareGroup(root, "workers") for _ in range(4)]
    for h in holders:
        h._ensure_coordinator("q")  # epochs 0..3

    spec = importlib.util.spec_from_file_location(
        "topiclog_admin", _ADMIN_CLI)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    rc = cli.main(["--root", root, "gc-share-epochs", "workers", "q"])
    assert rc == 0
    assert _json.loads(capsys.readouterr().out) == {"reaped": 3}

    gdir = os.path.dirname(holders[0]._state_path("q"))
    left = sorted(n for n in os.listdir(gdir) if n.startswith(".q.epoch-"))
    assert left == [".q.epoch-3"]
    assert holders[0]._read_floor("q") == 2
    fresh = ShareGroup(root, "workers")
    fresh._ensure_coordinator("q")
    assert fresh._epochs["q"] == 4
    assert len(fresh.fetch("q", "m", max_records=1, now_ms=1_000)) == 1


def test_dataloader_resume_drill_over_transport(spark, tmp_path):
    """r14 drill: CHECKPOINT-RESTART of a training dataloader over the
    transport (the q339 contract end to end) — the shard manifest's
    deterministic order is produced to a topic with one PARTITION PER
    SHARD (each shard's docs appended in ordinal order, so topiclog
    offset o holds ordinal o+1), a trainer group consumes mid-shard and
    COMMITS its per-partition positions, and the restarted run resumes
    from the committed offsets. The resumed stream must equal
    ``operators/ranking.py dataloader_resume``'s remainder ROW FOR ROW
    per shard — including a fully-consumed shard resuming to empty —
    proving the operator's deterministic skip is the same contract the
    transport's committed offsets express."""
    from rdkafka_streams_spark.operators.ranking import (
        dataloader_resume,
        global_rank,
    )

    root = str(tmp_path / "log")
    n_shards = 4
    d = spark.createDataFrame(
        [(i,) for i in range(1, 38)], "doc_id bigint"
    ).select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("o"))
    ranked = global_rank(d, ["o", "doc_id"], rank_col="pos")
    full = sorted(
        (r["pos"], r["doc_id"]) for r in ranked.collect()
    )

    # ---- manifest day: each shard's docs land on ITS partition in order
    log = TopicLog(root)
    log.create_topic("shards", partitions=n_shards)
    for shard in range(n_shards):
        seq = [doc for pos, doc in full if (pos - 1) % n_shards == shard]
        log.append_json(
            "shards", [{"doc_id": doc} for doc in seq], partition=shard
        )

    # ---- the trainer consumes mid-shard and commits its positions
    # (shard 3's commit sits at the end offset: fully consumed)
    ends = log.end_offsets("shards")
    consumed = {0: 0, 1: 3, 2: 5, 3: ends[3]}
    log.commit_offsets("trainer", "shards", consumed)

    # ---- restart: resume from COMMITTED offsets, nothing else
    committed = log.committed("trainer", "shards")
    floor = F.create_map(
        *[F.lit(x) for p, o in sorted(committed.items()) for x in (p, o)]
    )
    resumed = (
        read_topic(spark, root, "shards")
        .where(F.col("offset") >= F.element_at(floor, F.col("partition")))
        .select(
            F.col("partition").cast("bigint").alias("shard"),
            (F.col("offset") + 1).alias("ordinal"),
            F.from_json(F.col("value").cast("string"), "doc_id bigint")[
                "doc_id"
            ].alias("doc_id"),
        )
    )
    got = sorted(tuple(r) for r in resumed.collect())

    want_df = dataloader_resume(ranked, n_shards, consumed)
    want = sorted(
        (r["shard"], r["ordinal"], r["doc_id"]) for r in want_df.collect()
    )
    assert got == want and len(want) > 0
    # the fully-consumed shard resumes to EMPTY on both sides
    assert not [t for t in want if t[0] == 3]
    # shard 1 resumes exactly at its 4th ordinal
    assert min(t[1] for t in want if t[0] == 1) == 4
    # and the union of consumed-prefix + remainder is the full order
    assert len(want) == len(full) - sum(consumed.values())


def test_nb_scoring_drill_over_transport(spark, tmp_path):
    """r14 drill: the trained-filter artifact over the transport (the
    q345 contract in the daily-ingest posture) — NB weights train ONCE
    on the static corpus and persist as parquet (4096 + 1 rows); a doc
    increment arrives over the topiclog, is decoded from the stream,
    and scores against the RELOADED artifact. Scores must equal direct
    in-session scoring of the same docs row for row — the saved-table
    path and the transport hop change nothing."""
    from rdkafka_streams_spark.llm.text import nb_score, nb_train

    train_rows = [
        (i, "good clean prose here" if i % 2 == 0 else "junk spam noise blob",
         "en" if i % 2 == 0 else "xx")
        for i in range(40)
    ]
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, lang string")
    w, prior = nb_train(train, F.col("lang") == "en")
    art = str(tmp_path / "nb_art")
    w.write.parquet(art + "/w")
    prior.write.parquet(art + "/prior")

    inc_rows = [(100 + i, "good clean prose arrives" if i % 3 == 0
                 else "spam junk blob noise") for i in range(9)]
    root = str(tmp_path / "log")
    log = TopicLog(root)
    log.create_topic("docs", partitions=2)
    log.append_json(
        "docs",
        [{"doc_id": i, "text": t} for i, t in inc_rows],
        partition=0,
    )

    streamed = (
        read_topic(spark, root, "docs")
        .select(F.from_json(F.col("value").cast("string"),
                            "doc_id bigint, text string").alias("r"))
        .select("r.doc_id", "r.text")
    )
    w2 = spark.read.parquet(art + "/w")
    prior2 = spark.read.parquet(art + "/prior")
    got = sorted(
        tuple(r) for r in nb_score(streamed, w2, prior2).collect()
    )
    direct = spark.createDataFrame(inc_rows, "doc_id long, text string")
    want = sorted(tuple(r) for r in nb_score(direct, w, prior).collect())
    assert got == want and len(got) == 9
    # the artifact separates the increment's classes
    preds = {r[0]: r[3] for r in got}
    assert all(preds[100 + i] == (1 if i % 3 == 0 else 0) for i in range(9))
