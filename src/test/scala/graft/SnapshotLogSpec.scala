package graft

import graft.input.{PartitionMetric, SnapshotLog}

class SnapshotLogSpec extends TempDirs {

  test("commit / head / resume round-trip") {
    val dir = tempDir("snaplog")
    val log = new SnapshotLog(dir)
    assert(log.head.isEmpty)

    val m1 = Seq(PartitionMetric(0, 100, 4096, "AA00", "SZ99"))
    val s1 = log.commit("ingest", 100, s"$dir/pages", m1, 1234)
    assert(s1.snapshotId == 0 && s1.parentId == -1)

    val s2 = log.commit("index", 100, s"$dir/indexed",
      Seq(PartitionMetric(0, 60, 100), PartitionMetric(1, 40, 80)), 55)
    assert(s2.snapshotId == 1 && s2.parentId == 0)

    // Reopen (resume): head is the index snapshot; stage lookup works.
    val log2 = new SnapshotLog(dir)
    assert(log2.head.map(_.stage).contains("index"))
    assert(log2.committed("ingest").map(_.rowCount).contains(100L))
    assert(log2.committed("tiles").isEmpty)
    val metrics = log2.committed("index").get.partitionMetrics
    assert(metrics.map(_.rows).sum == 100)
  }

  test("versioned table: append/overwrite commits, snapshot isolation, time travel") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    import spark.implicits._
    val dir = tempDir("vtable")
    val t = new graft.input.VersionedTable(dir)
    assert(t.headId.isEmpty)

    val v0 = t.commit(graft.input.WebTable.synthesize(spark, 100, seed = 1).toDF(), "append")
    val v1 = t.commit(graft.input.WebTable.synthesize(spark, 50, seed = 2)
      .toDF().withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v1-"),
        org.apache.spark.sql.functions.col("url"))), "append")
    assert(v0 == 0 && v1 == 1)
    assert(t.read(spark, Some(v0)).count() == 100)   // time travel
    assert(t.read(spark).count() == 150)             // HEAD = append
    assert(t.snapshots() == Seq(0L, 1L))

    val v2 = t.commit(graft.input.WebTable.synthesize(spark, 10, seed = 3).toDF(),
      "overwrite")
    assert(t.read(spark).count() == 10)
    assert(t.read(spark, Some(v1)).count() == 150)   // old snapshots intact
    assert(t.manifest(v2).parent == v1)

    // incremental (CDC-style) scan: only the delta files between snapshots
    assert(t.readIncremental(spark, v0, Some(v1)).count() == 50)
    assert(t.readIncremental(spark, v0, Some(v0)).count() == 0)
    // the empty delta still carries the table schema
    assert(t.readIncremental(spark, v0, Some(v0)).columns.contains("url"))
    // an overwrite inside the range breaks lineage: everything is new
    assert(t.readIncremental(spark, v1, Some(v2)).count() == 10)
    // delta rows are exactly the v1-prefixed batch, not a re-read of v0
    val delta = t.readIncremental(spark, v0, Some(v1))
    assert(delta.filter(org.apache.spark.sql.functions
      .col("url").startsWith("v1-")).count() == 50)
  }

  test("pipeline resume skips committed stages") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val dir = tempDir("pipeck")
    val out1 = graft.run.Pipeline.runCheckpointed(spark, 300, dir)
    val n1 = out1.count()
    val log = new SnapshotLog(dir)
    val headAfterFirst = log.head.get.snapshotId
    // Second run: nothing recomputed, same result, HEAD unchanged.
    val out2 = graft.run.Pipeline.runCheckpointed(spark, 300, dir)
    assert(out2.count() == n1)
    assert(new SnapshotLog(dir).head.get.snapshotId == headAfterFirst)
  }
}
