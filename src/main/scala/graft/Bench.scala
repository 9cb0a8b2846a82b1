package graft

import graft.index.IndexExpressions._
import graft.geo.GeoExpressions._
import graft.input.WebTable
import graft.ops.SpatialJoin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: one JSON line with the headline metric
  * (spatial-join + tile-assignment throughput, rows/sec — BASELINE.md)
  * plus per-query wall seconds for every SparkEntry query.
  */
object Bench {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-bench")
    .config("spark.sql.shuffle.partitions", cpus)
    // Fine-grained scan splits: Spark's default split sizing targets
    // ~defaultParallelism partitions, so task counts land NEAR the
    // thread count and one straggler wave idles half the cores (at 16
    // threads the ~1.2 GB bench table packed into 18 tasks: one full
    // wave + a 2-task second wave = a measured 42% throughput dip that
    // looked like a scaling wall). 2-4+ waves per core at every level
    // amortizes the quantization — the same tasks-per-core rule of
    // thumb a real cluster job is sized by.
    .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
    .config("spark.sql.files.openCostInBytes", (1024L * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One-time (untimed) materialization of the synthetic web table —
    * generator cost (HTML bytes + text extraction) must not pollute the
    * join/tile throughput metric. Returns the parquet path.
    */
  /** One-time (untimed) materialization of the geocoded url table —
    * generator cost (HTML synthesis, text extraction) must not pollute
    * the join/tile throughput metric, and the metric's input is the
    * narrow (url, x, y) projection a column-pruned scan would deliver.
    */
  def materializeWebTable(spark: SparkSession, n: Long): String = {
    val path = s"/tmp/graft-bench-webtable-$n"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val parts = 256
      import spark.implicits._
      spark.range(0L, n, 1L, parts).map { i =>
        val url = WebTable.urlFor(i)
        val (x, y) = WebTable.geocode(url)
        (url, x, y)
      }.toDF("url", "x", "y")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The north-rule kernel: web table (parquet) -> H3 + S2 + BNG 10 km
    * cell encoders -> cell-indexed spatial join against polygon dims ->
    * per-tile aggregation. Returns rows/sec over `n` input rows.
    */
  def spatialPipelineThroughput(spark: SparkSession, n: Long): Double = {
    val path = materializeWebTable(spark, n)
    val polys = polygonDims(spark)
    val t0 = System.nanoTime()
    // Scalar LONG encoders sharing ONE memoized datum transform per row
    // (round 4): no struct materialization, no boxed longs — the
    // struct-shape kernel allocated ~100 B/row, real GC pressure with
    // all 32 hardware threads saturated.
    val pages = spark.read.parquet(path)
      .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
    val joined = SpatialJoin.pointInPolygon(
      pages, "x", "y",
      polys, "geometry", resolution = 10000L,
      broadcastPolys = true, predicate = "covers")
    val tiles = joined
      .withColumn("bng10", bng_index_point(col("x"), col("y"), 10000L))
      .groupBy(col("bng10"))
      .agg(count(lit(1)).as("rows_in_tile"),
        approx_count_distinct(col("h3_9"), 0.15).as("h3_cells"),
        approx_count_distinct(col("s2_12"), 0.15).as("s2_cells"))
    tiles.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    n / secs
  }

  /** North-star-width variant of the kernel: every record indexed into
    * H3 at EVERY res 7-12 (finest direct, parents derived) plus S2
    * level 12 — the indexing width the north rule names — then the same
    * cell join + per-tile aggregation (distinct cells at coarsest and
    * finest res). This is the SCALING-GATE kernel: its per-row compute
    * reflects the real pipeline's full indexing work.
    */
  def spatialPipelineThroughputMultiRes(spark: SparkSession, n: Long): Double = {
    val path = materializeWebTable(spark, n)
    val polys = polygonDims(spark)
    val t0 = System.nanoTime()
    // Full-width indexing as flat LONG columns: the finest id from ONE
    // fused transform+encode, each coarser id one table-trig parent step
    // from the previous (round-4 rework: the struct<array> shape paid a
    // per-row UnsafeArrayData allocation + copy — pure memory-bandwidth
    // pressure, exactly what the saturated 8->32 pair is short of; flat
    // longs ride the UnsafeRow with zero extra allocation, and codegen's
    // subexpression elimination computes each chain step once).
    val pages = spark.read.parquet(path)
      .withColumn("h3_12", h3_index_point(col("x"), col("y"), 12))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
      .withColumn("h3_11", h3_parent(col("h3_12"), 11))
      .withColumn("h3_10", h3_parent(col("h3_11"), 10))
      .withColumn("h3_9", h3_parent(col("h3_10"), 9))
      .withColumn("h3_8", h3_parent(col("h3_9"), 8))
      .withColumn("h3_7", h3_parent(col("h3_8"), 7))
    val joined = SpatialJoin.pointInPolygon(
      pages, "x", "y",
      polys, "geometry", resolution = 10000L,
      broadcastPolys = true, predicate = "covers")
    // The aggregation CONSUMES every resolution (mid-res ids fold into
    // one xor guard column) so Catalyst cannot column-prune any of the
    // six H3 levels — the kernel provably does the full indexing work.
    val tiles = joined
      .withColumn("bng10", bng_index_point(col("x"), col("y"), 10000L))
      .groupBy(col("bng10"))
      .agg(count(lit(1)).as("rows_in_tile"),
        approx_count_distinct(col("h3_7"), 0.15).as("h3_coarse"),
        approx_count_distinct(col("h3_12"), 0.15).as("h3_fine"),
        approx_count_distinct(col("s2_12"), 0.15).as("s2_cells"),
        // bit_xor, not sum: ids reach 2^62, ANSI sum would overflow (and
        // pays an addExact branch per row); xor folds are total
        org.apache.spark.sql.functions.expr("bit_xor(h3_8 ^ h3_9 ^ h3_10 ^ h3_11)").as("mid_res_guard"))
    tiles.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    n / secs
  }

  /** Rasterization throughput: N small polygons burned through the full
    * tile pipeline (stats job, tile shuffle, scanline burn at 10 m cells,
    * region writes). The reference runs this kernel through Python
    * workers + rasterio per tile; here it is pure JVM — geometries/sec is
    * the comparable single-node number.
    */
  def rasterizeThroughput(spark: SparkSession, n: Long): Double = {
    import spark.implicits._
    // geometries clustered in a 300x300 km area (real geo data clusters;
    // uniform-over-the-canvas would measure empty-tile file IO instead
    // of the burn kernel)
    val boxes = spark.range(0L, n, 1L, 64).map { i =>
      val h = WebTable.splitmix64(i * 131L)
      val x = 200000.0 + java.lang.Long.remainderUnsigned(h, 298000L).toDouble
      val y = 400000.0 + java.lang.Long.remainderUnsigned(WebTable.splitmix64(h), 298000L).toDouble
      ((i % 250).toDouble,
        graft.geo.Wkb.write(graft.geo.Wkb.box(x, y, x + 200, y + 200)))
    }.toDF("v", "geometry")
    boxes.write.mode("overwrite").parquet("/tmp/graft-bench-boxes")
    val src = spark.read.parquet("/tmp/graft-bench-boxes")
    val out = java.nio.file.Files.createTempDirectory("graft-bench-raster").toString
    val t0 = System.nanoTime()
    graft.raster.RasterPipeline.toTileStore(src, "geometry", Seq("v"), out,
      cellSize = 10.0, tileSize = 10000.0, overwrite = true)
    val rps = n / ((System.nanoTime() - t0) / 1e9)
    deleteRecursively(java.nio.file.Paths.get(out))
    rps
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p))
      java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Near-dup dedup throughput (docs/sec): synthetic corpus with a
    * planted 5% boilerplate cluster and 10% near-duplicates, through the
    * full skew-safe pipeline (exact pre-pass -> MinHash signatures ->
    * banded LSH with bucket cap -> exact shingle-Jaccard verify).
    */
  def dedupThroughput(spark: SparkSession, n: Long): Double = {
    import spark.implicits._
    val words = Array("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "sort", "window", "join")
    def docFor(i: Long): String = {
      var r = WebTable.splitmix64(i * 6151L)
      val sb = new StringBuilder
      var k = 0
      while (k < 40) {
        r = WebTable.splitmix64(r)
        sb.append(words(java.lang.Long.remainderUnsigned(r, words.length.toLong).toInt))
        sb.append(' ')
        k += 1
      }
      sb.toString
    }
    val docs = spark.range(0L, n, 1L, 64).map { i =>
      val text =
        if (i % 20 == 0) docFor(0L) // 5% identical boilerplate
        else if (i % 10 == 0) docFor(i - 1) + "tail" // 10% near-dup of neighbour
        else docFor(i)
      (i, text)
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/graft-bench-dedup")
    val src = spark.read.parquet("/tmp/graft-bench-dedup")
    val t0 = System.nanoTime()
    graft.ops.Dedup.minhashDedupSkewSafe(src, "doc_id", "text",
        threshold = 0.7, bucketCap = 64)
      .write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** ANN over a synthetic embedding corpus: brute-force cosine top-10 vs
    * IVF (nlist=64, nprobe=8, distributed Lloyd training) for 64 queries.
    * Returns (brute qps, ivf qps) — the IVF ratio is the scale story: at
    * 10^12 vectors only the bucketed path is viable.
    */
  def annThroughput(spark: SparkSession, n: Long): (Double, Double) = {
    import spark.implicits._
    val dim = 64
    val corpus = spark.range(0L, n, 1L, 64).map { i =>
      (i, Array.tabulate(dim) { d =>
        val h = WebTable.splitmix64(i * 131L + d)
        (java.lang.Long.remainderUnsigned(h, 2000L) / 1000.0f) - 1.0f
      })
    }.toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet("/tmp/graft-bench-ann")
    val src = spark.read.parquet("/tmp/graft-bench-ann")
    val qs = src.filter(col("vec_id") < 64)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nq = 64.0
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tb = time {
      graft.ops.Similarity.bruteForceTopK(qs, "qid", "qvec", src, "vec_id",
        "embedding", k = 10).write.format("noop").mode("overwrite").save()
    }
    val ti = time {
      graft.ops.Similarity.ivfTopK(qs, "qid", "qvec", src, "vec_id",
          "embedding", k = 10, nlist = 64, nprobe = 8,
          distributedTraining = true)
        .write.format("noop").mode("overwrite").save()
    }
    (nq / tb, nq / ti)
  }

  /** Random-hyperplane sign-key throughput (rows/sec): the row-local LSH
    * kernel of the embedding near-dup path — 16 bits x 4 tables over a
    * dim-64 float corpus, measuring the cached-weight-matrix expression
    * (round 3: matrix materialized once per JVM instead of splitmix64
    * bits*dim calls per row).
    */
  def rhpThroughput(spark: SparkSession, n: Long): Double = {
    import spark.implicits._
    val dim = 64
    val corpus = spark.range(0L, n, 1L, 64).map { i =>
      (i, Array.tabulate(dim) { d =>
        val h = WebTable.splitmix64(i * 2099L + d)
        (java.lang.Long.remainderUnsigned(h, 2000L) / 1000.0f) - 1.0f
      })
    }.toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet("/tmp/graft-bench-rhp")
    val src = spark.read.parquet("/tmp/graft-bench-rhp")
    val t0 = System.nanoTime()
    src.select(col("vec_id"),
        posexplode(array((0 until 4).map(t =>
          graft.ops.Dedup.rhp_sign(col("embedding"), 16, 1000L + t)): _*))
          .as(Seq("t", "key")))
      .groupBy(col("t")).agg(count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Corpus-level line-dedup throughput (lines/sec): a heavy-dup line
    * table (~10k distinct boilerplate lines across n rows, CCNet shape)
    * through [[graft.ops.LineDedup]] — measures the narrow winner
    * aggregate + hash-keyed tag join end to end.
    */
  def lineDedupThroughput(spark: SparkSession, nLines: Long): Double = {
    val lines = spark.range(0L, nLines, 1L, 64).select(
        (col("id") / 50L).cast("long").as("doc_id"),
        (col("id") % 50L).cast("long").as("line_no"),
        concat(lit("boilerplate line "),
          pmod(xxhash64(col("id")), lit(10000L)).cast("string"),
          lit(" shared across pages")).as("line"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    graft.ops.LineDedup.dedupLines(lines, "doc_id", "line_no", "line")
      .write.format("noop").mode("overwrite").save()
    nLines / ((System.nanoTime() - t0) / 1e9)
  }

  /** Row-local web-clean kernel throughput (rows/sec): repetition
    * signals + PII scrub + URL canonicalization fused in one projection
    * over ~45-word docs with planted PII — the per-row cleaning cost a
    * crawl ingest pays before any shuffle.
    */
  def webCleanThroughput(spark: SparkSession, n: Long): Double = {
    val docs = spark.range(0L, n, 1L, 64).select(
        col("id"),
        concat(
          array_join(transform(sequence(lit(0L), lit(44L)),
            i => pmod(xxhash64(col("id") * 45L + i), lit(80L)).cast("string")), " "),
          lit(" mail u"), col("id"), lit("@ex"), pmod(col("id"), lit(9L)),
          lit(".org from 10.1."), pmod(col("id"), lit(200L)),
          lit("."), pmod(col("id"), lit(250L))).as("text"),
        concat(lit("HTTPS://WWW.Host"), pmod(col("id"), lit(500L)),
          lit(".COM:443/p/"), col("id"), lit("?z=1&a=2#x")).as("url"))
      .localCheckpoint(true)
    val t0 = System.nanoTime()
    docs.select(col("id"),
        graft.text.WebClean.repetition_signals(col("text")).as("r"),
        graft.text.WebClean.scrub_pii(col("text")).as("p"),
        graft.text.WebClean.canonicalize_url(col("url")).as("u"))
      .select(col("id"), col("r.dup_2gram_n"), col("p.n_email"), col("u"))
      .groupBy().agg(sum("dup_2gram_n"), sum("n_email"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Spawn [[BenchSolo]] in a FRESH child JVM (fork=true gives this
    * process a real classpath) and collect its steady-state numbers.
    * The stateful-streaming queries and the dedup kernel get solo
    * figures in every artifact so catalogue-JVM aging can never again
    * masquerade as an operator regression (round-3 "What's wrong" #3/#4).
    */
  def runSolo(sfDir: String, cpus: String, targets: Seq[String]): Map[String, Double] = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // ActiveProcessorCount = the child's task-thread count: a co-run
    // local[8] child models one executor JVM of an 8-core cluster
    // machine, so its JVM-internal pools (G1 GC workers, JIT compiler
    // threads, ForkJoinPool) must size for 8 CPUs, not the 32-CPU host.
    // Without this, each of the 4 co-run children spawned ~23 GC threads
    // (sized for the host), and GC-pause oversubscription collapsed the
    // loaded-box N side to 1/3 of its real rate (measured: per-instance
    // 1.33M rows/s vs 3.8M, an impossible-looking 2.37 pair efficiency).
    // Real cluster managers do the same via cgroup CPU limits, which the
    // JVM reads as its processor count.
    // Heap scales with the child's core budget (1.5 GB/core, floor 12 GB
    // for the established solo-kernel protocol): per-core executor memory
    // must be CONSTANT across the loaded-box pair or the comparison is
    // unfair — a flat 12 GB gave the 4 x local[8] side 48 GB aggregate
    // while the local[32] side ground through the same total work in 12 GB
    // and spent the sustained window in GC (measured: 6.6M rows/s vs
    // 19.1M idle-protocol on the same invocation).
    val heapGb = math.max(12, (cpus.toInt * 3) / 2)
    val cmd = Seq(java) ++ addOpens ++ Seq(s"-Xmx${heapGb}g",
      s"-XX:ActiveProcessorCount=$cpus",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, "graft.BenchSolo", sfDir, cpus) ++ targets
    try {
      val out = scala.sys.process.Process(cmd).!!
      out.linesIterator.collect {
        case l if l.startsWith("SOLO ") =>
          val parts = l.trim.split(' ')
          parts(1) -> parts(2).toDouble
      }.toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] solo child failed: ${e.getMessage}")
        Map.empty
    }
  }

  /** Single-thread host-state probe (splitmix64 Mops): the shared host
    * this sandbox runs on swings 3-7x on minute scales, and a catalogue
    * measured across a contended window reads as an operator regression
    * (round-5: total 78.5s vs round-4's 46.8s on unchanged code). The
    * probe brackets each measurement phase; an artifact whose probes sit
    * in one band was measured on one host state and is comparable
    * round-over-round, one that isn't is visibly tainted.
    */
  def hostProbe(): Double = {
    var x = 12345L; var i = 0L; val m = 200000000L
    val t0 = System.nanoTime()
    while (i < m) { x = WebTable.splitmix64(x); i += 1 }
    if (x == 42L) System.err.print("") // defeat dead-code elimination
    m / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** Disk-bandwidth probe (sequential 64 MB write + fsync, MB/s): the
    * host's write bandwidth swings independently of its CPU state
    * (measured: 36-47 MB/s in the same window where the CPU probes sat
    * in a healthy 226-244 Mops band), and it is the dimension the
    * disk-touching queries (streaming checkpoints, tile-store writes,
    * parquet stages) are exposed to. Recorded alongside the CPU probes
    * so a catalogue measured under I/O contention is visibly tainted.
    */
  def diskProbe(): Double = {
    val tmp = java.nio.file.Files.createTempFile("graft-diskprobe", ".bin")
    val buf = java.nio.ByteBuffer.allocate(8 * 1024 * 1024)
    java.util.Arrays.fill(buf.array(), 0xAB.toByte)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.WRITE)
    var i = 0
    while (i < 8) { buf.rewind(); ch.write(buf); i += 1 }
    ch.force(true); ch.close()
    val mbps = 64.0 / ((System.nanoTime() - t0) / 1e9)
    java.nio.file.Files.deleteIfExists(tmp)
    mbps
  }

  /** 40 deterministic 60 km boxes — the broadcastable polygon side. */
  def polygonDims(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val x0 = java.lang.Long.remainderUnsigned(WebTable.splitmix64(i * 77L), 640000L).toDouble
      val y0 = java.lang.Long.remainderUnsigned(WebTable.splitmix64(i * 99L), 1240000L).toDouble
      (i, x0, y0)
    }.toDF("poly_id", "x0", "y0")
      .withColumn("geometry", st_box(col("x0"), col("y0"),
        col("x0") + 60000d, col("y0") + 60000d))
      .select(col("poly_id"), col("geometry"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpusForSizing = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // size the headline run to ~4s of steady-state work per measurement
    // regardless of the parallelism the driver grants
    val benchRows = sys.env.get("SPARK_GRAFT_BENCH_ROWS").map(_.toLong)
      .getOrElse(cpusForSizing.toLong * 1000000L)
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Kernel phases and catalogue queries pin eager localCheckpoints;
    // the blocks are dead weight once a phase's measurement is done
    // (every phase/query is self-contained) and the accumulated
    // block-manager pressure was measured to triple the stateful-
    // streaming queries' times. Safe to free between phases:
    // localCheckpointed data is only unsafe to drop while a
    // still-referenced DataFrame needs it, and no measured DataFrame
    // outlives its measurement.
    def freeCheckpoints(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      // Terminated streaming queries leave their state-store providers
      // loaded (unloaded only by the 60 s maintenance tick); measured to
      // slow the NEXT streaming query ~3x once a few runs accumulate.
      // StateStore.stop() unloads them all and re-initializes lazily —
      // the same reset Spark's own streaming test harness performs.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      // Broadcast/accumulator cleanup is reference-queue driven: ~100
      // executed queries of debris wait on a driver GC before the
      // ContextCleaner releases their executor-side blocks. Nudge it so
      // long catalogue runs don't age the JVM into streaming slowdowns.
      System.gc()
    }

    // CATALOGUE FIRST, in a young JVM, stateful-streaming queries at
    // the very front (round-4 reorder): streaming micro-batch planning
    // is driver-heavy and was measured 3-4x slower after the kernel
    // phases aged the JVM, even with freeCheckpoints() between phases
    // (the fresh-JVM solo children below are the cross-check). Batch
    // queries are robust to ordering; the kernels below carry their own
    // warm-ups. Timings are best-of-2 — a single-shot number is noise-
    // prone (JIT, page cache, GC) and a one-off 15x outlier in the
    // recorded JSON sends later rounds chasing phantom regressions.
    // Host-state probes bracketing every phase (catalogue, headline
    // kernel, auxiliary kernels, solo children): recorded in the JSON so
    // a contended measurement window is visible IN the artifact instead
    // of reading as a phantom operator regression in the next round's
    // comparison. probe_band_ok is the admissibility band
    // (max <= 1.15 * min across all probes).
    val probes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val diskProbes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def probe(tag: String): Unit = {
      probes += (tag -> hostProbe())
      diskProbes += (tag -> diskProbe())
    }

    probe("pre_catalogue")
    val streamingFirst = Set("q29_stream_hourly", "q41_stream_dedup", "q58_stream_clean")
    val ordered = SparkEntry.queries.toSeq.sortBy { case (name, _) =>
      (if (streamingFirst(name)) 0 else 1, name)
    }
    // Failures are NOT swallowed: a broken query must not record a
    // plausible best-of-2 timing for a no-op. Correctness lives in the
    // separate driver compare, but the bench flags every query whose
    // every attempt threw so a timing row can never silently lie.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = ordered.map { case (name, fn) =>
      var ok = false
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ok = true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name attempt failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (!ok) failed += name
      freeCheckpoints() // queries are self-contained; keep the JVM lean
      name -> times.min
    }.sortBy(_._1)


    probe("post_catalogue")

    // headline metric: three full warm-up runs (C2 reaches steady state
    // after several passes over the generated code), best of three timed
    // (methodology matches BENCH.md)
    (1 to 3).foreach(_ => spatialPipelineThroughput(spark, benchRows))
    val rowsPerSec = (1 to 3).map(_ => spatialPipelineThroughput(spark, benchRows)).max

    // north-star-width variant (H3 res 7-12 + S2 per row) — the kernel of
    // BENCH.md's round 1-7 scaling record; kept for comparability
    spatialPipelineThroughputMultiRes(spark, benchRows) // warm
    val multiResRowsPerSec =
      (1 to 2).map(_ => spatialPipelineThroughputMultiRes(spark, benchRows)).max
    probe("post_headline")

    // rasterize kernel throughput (geometries/sec through the tile sink)
    rasterizeThroughput(spark, 20000L) // warm
    val rasterRowsPerSec = (1 to 2).map(_ =>
      rasterizeThroughput(spark, cpusForSizing.toLong * 10000L)).max

    // skew-safe near-dup dedup throughput (docs/sec)
    dedupThroughput(spark, 20000L) // warm
    val dedupDocsPerSec = (1 to 2).map(_ =>
      dedupThroughput(spark, cpusForSizing.toLong * 6000L)).max

    // ANN: brute-force vs IVF queries/sec on a synthetic corpus
    annThroughput(spark, 50000L) // warm
    val (bruteQps, ivfQps) = annThroughput(spark, cpusForSizing.toLong * 16000L)

    // row-local RHP sign-key kernel (cached weight matrix)
    rhpThroughput(spark, 100000L) // warm
    val rhpRowsPerSec = (1 to 2).map(_ =>
      rhpThroughput(spark, cpusForSizing.toLong * 30000L)).max

    // corpus line dedup (lines/sec) + row-local web-clean kernels (rows/sec)
    lineDedupThroughput(spark, 100000L) // warm
    val lineDedupPerSec = (1 to 2).map(_ =>
      lineDedupThroughput(spark, cpusForSizing.toLong * 60000L)).max
    webCleanThroughput(spark, 20000L) // warm
    val webCleanPerSec = (1 to 2).map(_ =>
      webCleanThroughput(spark, cpusForSizing.toLong * 6000L)).max
    probe("post_kernels")

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")

    // Fresh-JVM solo steady-state numbers — now for EVERY kernel phase
    // plus the stateful-streaming trio (round-4 finding: the
    // catalogue-first reorder moved JVM aging ONTO the kernel phases —
    // rasterize read 2.5x and IVF 2.8x below round 3 on unchanged kernel
    // code — so in-catalogue kernel figures alone are unattributable).
    // The streaming trio shares one young child; every kernel gets its
    // OWN child JVM (round-4's lone dedup solo ran in the SAME child
    // AFTER the three stateful streaming queries — an aged JVM again,
    // which with the single small warm-up produced the anomalous 8,694
    // docs/s vs 81,596 in-catalogue). Parent idles while children run.
    val soloStreaming = runSolo(sfDir, cpus, Seq(
      "q29_stream_hourly", "q41_stream_dedup", "q58_stream_clean"))
    val soloKernels = Seq("kernel:dedup", "kernel:rasterize", "kernel:ann",
        "kernel:rhp", "kernel:linededup", "kernel:webclean")
      .flatMap(t => runSolo(sfDir, cpus, Seq(t)).toSeq).toMap
    val soloKey = Map(
      "kernel:dedup" -> "dedup_docs_per_sec",
      "kernel:rasterize" -> "rasterize_geoms_per_sec",
      "kernel:ann:brute" -> "ann_brute_qps",
      "kernel:ann:ivf" -> "ann_ivf_qps",
      "kernel:rhp" -> "ann_rhp_rows_per_sec",
      "kernel:linededup" -> "linededup_lines_per_sec",
      "kernel:webclean" -> "webclean_rows_per_sec")
    val solo = soloStreaming ++ soloKernels
    val soloJson = solo.toSeq.sortBy(_._1).map {
      case (k, v) if soloKey.contains(k) => "\"" + soloKey(k) + "\":" + v.round
      case (k, v) => "\"" + k + f"\":$v%.3f"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    probe("post_solo")
    val probeVals = probes.map(_._2)
    val probeBandOk = probeVals.nonEmpty &&
      probeVals.max <= probeVals.min * 1.15
    // Disk bandwidth swings far wider than CPU on this shared host; a 2x
    // band separates "same I/O regime" from "one phase measured a
    // different disk" without flagging ordinary jitter.
    val diskVals = diskProbes.map(_._2)
    val diskBandOk = diskVals.nonEmpty && diskVals.max <= diskVals.min * 2.0
    val probesJson = probes.map { case (k, v) =>
      "\"" + k + f"\":${v}%.1f" }.mkString("{", ",", "}")
    val diskJson = diskProbes.map { case (k, v) =>
      "\"" + k + f"\":${v}%.0f" }.mkString("{", ",", "}")

    println(s"""{"metric":"spatial-join + tile-assignment throughput","value":${rowsPerSec.round},"unit":"rows/sec","bench_rows":$benchRows,"cpus":$cpus,"multires_rows_per_sec":${multiResRowsPerSec.round},"rasterize_geoms_per_sec":${rasterRowsPerSec.round},"dedup_docs_per_sec":${dedupDocsPerSec.round},"ann_brute_qps":${bruteQps.round},"ann_ivf_qps":${ivfQps.round},"ann_rhp_rows_per_sec":${rhpRowsPerSec.round},"linededup_lines_per_sec":${lineDedupPerSec.round},"webclean_rows_per_sec":${webCleanPerSec.round},"query_total_sec":${results.map(_._2).sum},"failed":$failedJson,"probes_mops":$probesJson,"probe_band_ok":$probeBandOk,"disk_probes_mbps":$diskJson,"disk_band_ok":$diskBandOk,"queries":$qs,"solo":$soloJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
