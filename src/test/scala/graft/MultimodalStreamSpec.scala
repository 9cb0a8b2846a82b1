package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalStreamSpec extends SparkSpec {
  import spark.implicits._

  test("decodeMeta: deterministic stub decode, batched per partition") {
    val payloads = Seq(
      (1L, Array.fill[Byte](100)(10)),
      (2L, Array.fill[Byte](65)(20)),
      (3L, Array.empty[Byte]))
    val got = Multimodal.decodeMeta(payloads.toDF("id", "bin"), "id", "bin")
      .collect().map(m => m.id -> m).toMap
    assert(got(1L).width == 37 && got(1L).height == 27 && got(1L).channels == 2)
    assert(got(1L).mean_byte == 10.0)
    assert(got(2L).width == 2 && got(2L).n_bytes == 65)
    assert(got(3L).mean_byte == 0.0 && got(3L).width == 1)
  }

  test("sampleFrames: every 4th 16-byte window, exploded with frame_no") {
    val bytes = Array.tabulate[Byte](16 * 9)(i => i.toByte)
    val got = Multimodal.sampleFrames(Seq((7L, bytes)).toDF("id", "bin"), "id", "bin")
      .select("id", "frame_no", "frame")
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(got.length == 3) // windows 0, 4, 8 of 9
    assert(got.map(_._2).toSeq == Seq(0, 1, 2))
    assert(got(0)._3.toSeq == bytes.slice(0, 16).toSeq)
    assert(got(1)._3.toSeq == bytes.slice(64, 80).toSeq)
  }

  test("file stream processes incrementally arriving batches") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("increm")
    val batch1 = spark.read.parquet(s"$sf0/events.parquet").limit(400)
    batch1.coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val name = s"t_increm_${System.nanoTime()}"
    val q = spark.readStream.schema(schema).parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    q.processAllAvailable()
    val n1 = spark.table(name).agg(sum("n")).head().getLong(0)
    assert(n1 == 400)
    // second batch arrives while the query runs
    spark.read.parquet(s"$sf0/events.parquet")
      .orderBy(col("event_id").desc).limit(250)
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    val n2 = spark.table(name).agg(sum("n")).head().getLong(0)
    q.stop()
    assert(n2 == 650, s"incremental batch not picked up: $n2")
  }

  test("stateful streaming sessionization equals batch sessionization") {
    val batch = graft.streaming.Sessionize.sessionizeBatch(
      spark.read.parquet(s"$sf0/events.parquet"), 30)
    val streamed = graft.streaming.Sessionize.sessionizeStream(
      spark, s"$sf0/events.parquet", 30, s"t_sess_${System.nanoTime()}")
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
    assertSameRows(streamed, batch)
  }

  test("multi-batch streaming dedup equals batch DISTINCT when horizon covers the span") {
    val got = graft.streaming.EventStream.runDedupAvailableNow(spark,
        s"$sf0/events.parquet", Seq("user_id", "event_type"), "ts",
        horizon = "35 days", queryName = s"t_dedup_${System.nanoTime()}",
        nFiles = 4)
      .select("user_id", "event_type")
    val exp = spark.read.parquet(s"$sf0/events.parquet")
      .select("user_id", "event_type").distinct()
    assertSameRows(got, exp)
  }

  test("streaming dedup state is bounded: key re-emitted after horizon eviction") {
    // A@day1, fillers@day2/day3 (two batches so the lagging watermark
    // provably passes A's expiry), A@day4: with a 1-hour horizon A's
    // state is evicted before its duplicate arrives, so A is (correctly,
    // by the bounded-state contract) emitted twice — where an unbounded
    // DISTINCT would emit it once.
    val dir = tempDir("dedup-evict")
    Seq(
      ("A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("B", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("C", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
      ("A", java.sql.Timestamp.valueOf("2024-01-04 00:00:00"))
    ).toDF("k", "ts").write.mode("overwrite").parquet(dir)
    val got = graft.streaming.EventStream.runDedupAvailableNow(spark,
        dir, Seq("k"), "ts", horizon = "1 hour",
        queryName = s"t_evict_${System.nanoTime()}", nFiles = 4)
      .select("k").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("A", "A", "B", "C"),
      s"expected per-horizon first-seen semantics, got $got")
  }

  test("stream -> versioned table: one snapshot per micro-batch, incremental reads the delta") {
    val root = tempDir("stream-vt") + "/t"
    val vt = graft.streaming.EventStream.streamToVersionedTable(spark,
      s"$sf0/events.parquet", "ts", root, nFiles = 4,
      queryName = s"t_ingest_${System.nanoTime()}")
    val snaps = vt.snapshots()
    assert(snaps.size == 4, s"expected one snapshot per micro-batch, got $snaps")
    // HEAD read reproduces the full input
    val full = spark.read.parquet(s"$sf0/events.parquet")
    assert(vt.read(spark).count() == full.count())
    assertSameRows(vt.read(spark).select("event_id"), full.select("event_id"))
    // incremental after snapshot 1 = exactly the later micro-batches
    val delta = vt.readIncremental(spark, fromExclusive = 1L).count()
    val snap1 = vt.read(spark, asOf = Some(1L)).count()
    assert(snap1 + delta == full.count(),
      s"snapshot-1 rows ($snap1) + delta ($delta) must equal total ${full.count()}")
    assert(delta > 0 && snap1 > 0)
  }

  test("streaming hourly agg (AvailableNow) equals batch aggregation") {
    val batch = spark.read.parquet(s"$sf0/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    val streamed = graft.streaming.EventStream.runHourlyAvailableNow(
      spark, s"$sf0/events.parquet", s"t_stream_${System.nanoTime()}")
    assertSameRows(streamed, batch)
  }
}
