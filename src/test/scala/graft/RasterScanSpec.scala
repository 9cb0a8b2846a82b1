package graft.raster

import java.nio.file.{Files, Paths}
import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSpec
import graft.geo.Wkb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

/** The raster cell scan ([[CellScan]]) and its word-at-a-time nodata
  * skip ([[Samples.nonNodata]]): the skip agrees with a per-sample
  * reference, and the three readers keep their schemas, read in one job
  * with no exchange, and still read every region encoding.
  */
class RasterScanSpec extends SparkSpec {

  /** The NaN-safe per-sample reference: decode everything, keep what is
    * not nodata.
    */
  private def reference(bb: ByteBuffer, dtype: String, n: Int, nodata: Double): Seq[(Int, Long)] = {
    val all = Samples.decode(bb, dtype, n)
    all.indices.filter(i => !(all(i) == nodata || (all(i).isNaN && nodata.isNaN)))
      .map(i => (i, java.lang.Double.doubleToRawLongBits(all(i))))
  }

  /** (dtype, nodata, stored bits of other nodata samples, stored bits of
    * data samples). A NaN sentinel's other NaNs are nodata too; a
    * sentinel whose stored bits do not decode as nodata (int64 or uint8
    * under NaN, uint8 under -1) leaves those stored bits as data.
    */
  private val cases: Seq[(String, Double, Seq[Long], Seq[Long])] = {
    def f32(v: Float) = java.lang.Float.floatToRawIntBits(v) & 0xffffffffL
    def f64(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    Seq(
      ("uint8", 255d, Nil, Seq(0L, 1L, 0xfeL)),
      ("uint8", 0d, Nil, Seq(1L, 0xffL)),
      ("uint8", Double.NaN, Nil, Seq(0L, 7L)),
      ("uint8", -1d, Nil, Seq(0xffL, 3L)),
      ("int8", -128d, Nil, Seq(0x7fL, 0L, 0xffL)),
      ("uint16", 65535d, Nil, Seq(0L, 0xfffeL, 0x0100L)),
      ("int16", 32767d, Nil, Seq(0x8000L, 0xffffL, 0L)),
      ("uint32", 4294967295d, Nil, Seq(0L, 0xfffffffeL)),
      ("int32", 2147483647d, Nil, Seq(0x80000000L, 0L, 0xffffffffL)),
      ("int64", -9.223372036854775808e18, Nil, Seq(0L, -1L, Long.MaxValue)),
      ("int64", Double.NaN, Nil, Seq(0L, 5L)),
      ("float32", Double.NaN, Seq(0x7fc00001L, 0xffc00000L, 0x7f800001L),
        Seq(f32(0f), f32(-0f), f32(1.5f), f32(Float.PositiveInfinity))),
      ("float32", 0d, Seq(f32(-0f)), Seq(f32(Float.NaN), f32(2f))),
      ("float64", Double.NaN, Seq(0x7ff8000000000001L, 0xfff8000000000000L),
        Seq(f64(0d), f64(-1e300), f64(Double.NegativeInfinity))),
      ("float64", -9999d, Nil, Seq(f64(Double.NaN), f64(0d), f64(9999d))))
  }

  test("nonNodata's word skip agrees with the per-sample test: every dtype, both byte orders, lengths 0-17") {
    val rnd = new scala.util.Random(11)
    var checked = 0
    for {
      (dtype, nodata, otherNodata, data) <- cases
      order <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)
      n <- 0 to 17
      layout <- 0 until 6
    } {
      val width = Samples.bytesPer(dtype)
      val perWord = 8 / width
      // burned cells: none, all, each word's first and last sample, the
      // tail past the last whole word, and a random scatter
      val burned: Int => Boolean = layout match {
        case 0 => _ => false
        case 1 => _ => true
        case 2 => i => i % perWord == 0
        case 3 => i => i % perWord == perWord - 1
        case 4 => i => i >= n / perWord * perWord
        case _ => _ => rnd.nextInt(4) == 0
      }
      // two trailing samples past n must never be read as cells
      val bb = ByteBuffer.allocate((n + 2) * width).order(order)
      val sentinel = Samples.bits(Samples.code(dtype), nodata)
      (0 until n + 2).foreach { i =>
        val bits =
          if (i >= n || burned(i)) data(rnd.nextInt(data.length))
          else if (otherNodata.nonEmpty && rnd.nextInt(3) == 0) otherNodata(rnd.nextInt(otherNodata.length))
          else sentinel
        Samples.put(bb, width, i, bits)
      }
      val got = Samples.nonNodata(bb, dtype, n, nodata)
      val exp = reference(bb, dtype, n, nodata)
      assert(got.index.toSeq.zip(got.value.map(java.lang.Double.doubleToRawLongBits)) == exp,
        s"$dtype nodata=$nodata $order n=$n layout=$layout")
      checked += 1
    }
    assert(checked == cases.size * 2 * 18 * 6)
  }

  test("a cell box is byte for byte the JTS box WKB, degenerate extents included") {
    val boxes = Seq((10d, 20d, 5d, 5d), (-3.5, 1e6, 0.25, 0.5), (0d, 0d, 10d, -10d), (1d, 1d, 0d, 4d))
    val out = new CellRows(1)
    val got = out.rows(boxes.size) { k =>
      val (minx, maxy, cx, cy) = boxes(k)
      out.box(0, minx, maxy, cx, cy)
      true
    }.map(_.getBinary(0).toSeq).toSeq
    assert(got == boxes.map { case (minx, maxy, cx, cy) =>
      Wkb.write(Wkb.box(minx, maxy - cy, minx + cx, maxy)).toSeq
    })
  }

  test("units are dealt round-robin into min(units, parallelism) input partitions") {
    val n = spark.sparkContext.defaultParallelism
    val parts = CellScan.partitions(spark, 0 until 2 * n + 1).glom().collect().map(_.toSeq).toSeq
    assert(parts == (0 until n).map(p => Range(p, 2 * n + 1, n)))
    assert(CellScan.partitions(spark, Seq("a")).getNumPartitions == 1)
    assert(CellScan.partitions(spark, Seq.empty[String]).collect().isEmpty)
  }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** Collects `df` and returns its rows with the number of jobs it ran. A
    * fence job after it orders the status listener's events: once the
    * fence shows, every job of the read does too.
    */
  private def collectJobs(df: DataFrame, tag: String): (Array[org.apache.spark.sql.Row], Int) = {
    val sc = spark.sparkContext
    val group = s"scan-$tag-${System.nanoTime()}"
    sc.setJobGroup(group, tag)
    val rows = try df.collect() finally sc.clearJobGroup()
    sc.setJobGroup(group + "-fence", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(group + "-fence").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    (rows, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def field(name: String, t: DataType, nullable: Boolean) = StructField(name, t, nullable)

  private def assertScan(df: DataFrame, tag: String, schema: StructType, rows: Int): Unit = {
    assert(df.schema == schema, tag)
    val (got, jobs) = collectJobs(df, tag)
    assert(got.length == rows, tag)
    assert(jobs == 1, s"$tag ran $jobs jobs")
    val exchanges = unwrap(df.queryExecution.executedPlan).collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"$tag: ${df.queryExecution.executedPlan}")
  }

  test("the three readers keep their schemas, read in one job and plan no exchange") {
    val dir = tempDir("scan")
    // tile store: one uint8 column, two tiles of 10 x 10 cells
    val store = s"$dir/store"
    val st = new TileStore(store)
    st.init(StoreHeader("EPSG:27700", 10000, 0, 0, 700000, 1300000, 100000,
      Seq(ColumnSpec("v", "uint8", 255d)), Map.empty), overwrite = true)
    st.writeRegion("SE", "v", "uint8", Array.tabulate(100)(i => if (i % 3 == 0) 7d else 255d), 255d)
    st.writeRegion("NT", "v", "uint8", Array.tabulate(100)(i => if (i < 5) 1d else 255d), 255d)
    assertScan(RasterPipeline.fromTileStore(spark, store, "v"), "fromTileStore",
      StructType(Seq(field("tile", StringType, true), field("cell_e", LongType, false),
        field("cell_n", LongType, false), field("value", DoubleType, false),
        field("geometry", BinaryType, true))), 34 + 5)

    val tif = s"$dir/g.tif"
    Tiff.write(tif, 9, 7, Array.tabulate(63)(i => (i % 4).toDouble), "uint8",
      deflate = true, rowsPerStrip = 2)
    assertScan(Tiff.cells(spark, tif, nodata = 0d), "Tiff.cells",
      StructType(Seq(field("row", LongType, false), field("col", LongType, false),
        field("value", DoubleType, false), field("geometry", BinaryType, true))), 63 - 16)

    val zarr = s"$dir/zarr"
    Zarr.export(spark, store, zarr)
    assertScan(Zarr.cells(spark, s"$zarr/v"), "Zarr.cells",
      StructType(Seq(field("row", IntegerType, false), field("col", IntegerType, false),
        field("value", DoubleType, false))), 34 + 5)
  }

  test("streamed Zstd and DEFLATE regions read back through the scan") {
    val path = tempDir("scan-codecs")
    val st = new TileStore(path)
    st.init(StoreHeader("EPSG:27700", 50000, 0, 0, 700000, 1300000, 100000,
      Seq(ColumnSpec("v", "int16", -1d)), Map.empty), overwrite = true)
    def region(tile: String, samples: Seq[Int], stream: java.io.OutputStream => java.io.OutputStream): Unit = {
      val dir = Paths.get(path, s"tile=$tile")
      Files.createDirectories(dir)
      val out = stream(Files.newOutputStream(dir.resolve("v.bin")))
      val bb = ByteBuffer.allocate(samples.size * 2).order(ByteOrder.LITTLE_ENDIAN)
      samples.indices.foreach(i => bb.putShort(i * 2, samples(i).toShort))
      out.write(bb.array()); out.close()
    }
    region("SE", Seq(-1, 4, -1, 9), new com.github.luben.zstd.ZstdOutputStream(_, 1))
    region("NT", Seq(3, -1, -1, -1), o => new java.util.zip.DeflaterOutputStream(o))
    st.writeRegion("TQ", "v", "int16", Array(-1d, -1d, -1d, 2d), -1d)
    // the streamed frame records no content size, so it takes the stream
    // path; a written region records it and decodes in one call
    def contentSize(tile: String) = com.github.luben.zstd.Zstd.getFrameContentSize(
      Files.readAllBytes(Paths.get(path, s"tile=$tile", "v.bin")))
    assert(contentSize("SE") < 0 && contentSize("TQ") == 8)
    val got = RasterPipeline.fromTileStore(spark, path, "v").collect()
      .map(r => (r.getString(0), r.getDouble(3))).sorted.toSeq
    assert(got == Seq(("NT", 3d), ("SE", 4d), ("SE", 9d), ("TQ", 2d)))
  }
}
