package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Correctness check outcome, run outside the timed passes. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload gives the runner. `pass` runs one closed-loop pass and
  * returns the wall seconds of its named parts (at least "total").
  */
trait Workload {
  def setup(): Unit
  def pass(label: String): Map[String, Double]
  /** Input rows one pass processes: points or polygons. */
  def inputRows: Long
  def checks(): Seq[Check]
  /** Per-layer metrics of a traced run; `fullPass` is the traced full-pass
    * tag whose Spark totals the runner reports itself, `warm` the medians of
    * the warm passes' named parts. */
  def layers(ctx: Ctx, fullPass: String, warm: Map[String, Double]): Map[String, Double]
}

/** Run context: the span recorder and, in traced runs only, the listener. */
final class Ctx(val spark: SparkSession, val seed: Long, val tiny: Boolean,
    val work: String, val tracer: Tracer) {
  var counters: Counters = null

  /** A span plus a listener tag around one call into a layer. */
  def section[T](name: String)(body: => T): T =
    if (counters == null) tracer.span(name)(body)
    else tracer.span(name)(counters.tagged(name)(body))

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Main {
  val SetupReps = 7
  /** Untimed passes after the cold one: JIT keeps compiling for a few. */
  val WarmupPasses = 3
  val MinWarmPasses = 3
  val TracedReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cpus = o("cpus").toInt
    val runId = s"$workload-seed$seed-trace${o("trace")}-${System.currentTimeMillis()}"
    val lines = Seq.newBuilder[String]
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def progress(what: String): Unit =
      System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s] $what")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    progress("session ready")
    val hostBefore = HostState.probe()
    progress("host probed")

    val ctx = new Ctx(spark, seed, o("scale") == "tiny", o("work"), new Tracer(traced, runId))
    val wl: Workload = workload match {
      case "tile_join" => new TileJoin(ctx)
      case "raster_tiles" => new RasterTiles(ctx)
    }

    var stageLog: () => Seq[Map[String, Any]] = () => Nil
    var attempted = 0
    var failed = 0
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"$what failed: $e")
          e.printStackTrace()
          None
      }
    }
    def timedPass(label: String): Option[Map[String, Double]] = attempt(label) {
      val gc0 = HostState.gcSeconds()
      val t0 = System.nanoTime()
      val parts = ctx.tracer.span(label)(wl.pass(label))
      parts + ("total" -> (System.nanoTime() - t0) / 1e9) + ("gc" -> (HostState.gcSeconds() - gc0))
    }

    val setupTimes = (1 to SetupReps).map(i => Stats.seconds(ctx.tracer.span(s"setup.$i")(wl.setup())))
    // JVM and Spark start-up (sessionReadyS) is left out: no graft code runs
    // in it, it happens once per JVM, and it swings with the host.
    val setupS = Stats.median(setupTimes)
    progress("set up")

    val cold = timedPass("cold")
    val warmup = (0 until WarmupPasses).flatMap(i => timedPass(s"warmup.$i"))
    val warm = Seq.newBuilder[Map[String, Double]]
    val warmStart = System.nanoTime()
    var n = 0
    while (n < MinWarmPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      timedPass(s"warm.$n").foreach(warm += _)
      n += 1
    }
    val warmPasses = warm.result()
    progress(s"${warmPasses.size} warm passes")
    // What the passes leave behind, after a full collection has let Spark's
    // cleaner drop everything no longer referenced.
    val liveHeapMb = HostState.liveHeapMb()
    val persistentRdds = spark.sparkContext.getPersistentRDDs.size
    val tmpBytesLeft = HostState.treeBytes(System.getProperty("java.io.tmpdir"))
    val partMedians: Map[String, Double] =
      if (warmPasses.isEmpty) Map.empty
      else warmPasses.head.keys.map(k => k -> Stats.median(warmPasses.map(_(k)))).toMap

    val checks = wl.checks()
    progress("checked")
    checks.foreach { c =>
      attempted += 1
      if (!c.ok) failed += 1
      lines += s"check $workload.${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", wl.inputRows / partMedians.getOrElse("total", Double.NaN), "rows/s"),
          ("live_heap_mb", liveHeapMb, "MB"))
      } else {
        // Overhead: traced passes (listener + tags + spans) alternate with
        // passes that have no listener, so JIT drift falls on both sides.
        val counters = new Counters(spark.sparkContext)
        stageLog = () => counters.stages
        val pairs = (0 until TracedReps).map { i =>
          val plain = timedPass(s"plain.$i").map(_("total"))
          counters.attach(); ctx.counters = counters
          val traced = timedPass(s"traced.$i").map(i -> _)
          counters.detach(); ctx.counters = null
          (plain, traced)
        }
        counters.attach(); ctx.counters = counters
        val reps = pairs.flatMap(_._2)
        val medRep = reps.sortBy(_._2("total")).apply(reps.size / 2)._1
        val tracedS = Stats.median(reps.map(_._2("total")))
        val plainS = Stats.median(pairs.flatMap(_._1))
        val layered = wl.layers(ctx, s"traced.$medRep", partMedians)
        counters.drain()
        val t = counters.totals(_.startsWith(s"traced.$medRep"))
        val common = Map(
          "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
          "spark.tasks" -> t.tasks.toDouble, "spark.task_cpu_s" -> t.cpuS,
          "spark.gc_s" -> t.gcS, "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
          "spark.spill_bytes" -> t.spillBytes.toDouble, "spark.peak_exec_mem_mb" -> t.peakExecMemMb,
          "spark.task_skew" -> t.taskSkew,
          "spark.persistent_rdds_left" -> persistentRdds.toDouble,
          "run.tmp_bytes_left" -> tmpBytesLeft.toDouble,
          "run.warm_passes" -> warmPasses.size.toDouble,
          "run.session_start_s" -> sessionReadyS,
          "run.cold_pass_s" -> cold.map(_("total")).getOrElse(Double.NaN),
          "run.peak_rss_mb" -> HostState.peakRssMb(),
          "run.traced_pass_s" -> tracedS,
          "run.trace_overhead" -> (tracedS / plainS - 1.0))
        val all = common ++ layered
        val unknown = all.keySet -- Layers.units.keySet
        require(unknown.isEmpty, s"unregistered per-layer metrics $unknown")
        // a layer this workload does not exercise does no work: 0
        Layers.units.toSeq.sortBy(_._1).map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    val hostAfter = HostState.probe()
    progress("done")

    metrics.foreach { case (k, v, u) => lines += f"metric $workload.$k = $v%.6g $u" }
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val record = Map(
      "run" -> runId, "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cpus" -> cpus, "scale" -> o("scale"),
      "peak_rss_mb" -> HostState.peakRssMb(), "live_heap_mb" -> liveHeapMb,
      "persistent_rdds_left" -> persistentRdds, "tmp_bytes_left" -> tmpBytesLeft,
      "host_before" -> hostBefore, "host_after" -> hostAfter,
      "setup_samples_s" -> setupTimes, "session_ready_s" -> sessionReadyS,
      "cold_pass" -> cold.getOrElse(Map.empty), "warmup_passes" -> warmup,
      "warm_passes" -> warmPasses,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "metrics" -> metrics.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "attempted" -> attempted, "failed" -> failed,
      "spans" -> ctx.tracer.toJson, "stages" -> stageLog())
    Files.write(Paths.get(o("record"), s"$runId.json"), Json(record).getBytes("UTF-8"))

    lines.result().foreach(println)
    println(Json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    spark.stop()
    System.exit(0)
  }
}

/** Names and units of every per-layer metric (BENCHMARK.json `per_layer`). */
object Layers {
  val units: Map[String, String] = Map(
    "input.scan_s" -> "s",
    "index.encode_s" -> "s",
    "index.h3_ns_per_point" -> "ns", "index.s2_ns_per_point" -> "ns",
    "index.bng_ns_per_point" -> "ns",
    "ops.cell_join_s" -> "s", "geo.refine_s" -> "s", "ops.tile_agg_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.matched_pairs" -> "count",
    "geo.refine_hit_ratio" -> "ratio",
    "geo.tester_miss_ratio" -> "ratio", "geo.test_ns" -> "ns",
    "raster.stats_s" -> "s", "raster.burn_write_s" -> "s",
    "raster.shuffle_write_bytes" -> "B",
    "raster.burn_ns_per_cell" -> "ns",
    "raster.region_write_ms" -> "ms", "raster.region_read_ms" -> "ms",
    "raster.region_bytes" -> "B", "raster.regions_written" -> "count",
    "raster.readback_s" -> "s", "raster.readback_cells_per_s" -> "cells/s",
    "raster.store_bytes_per_cell" -> "B/cell", "raster.burned_cells" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.peak_exec_mem_mb" -> "MB", "spark.task_skew" -> "ratio",
    "raster.burn_task_skew" -> "ratio", "spark.persistent_rdds_left" -> "count",
    "run.tmp_bytes_left" -> "B", "run.session_start_s" -> "s",
    "run.cold_pass_s" -> "s", "raster.burn_geoms_per_s" -> "geoms/s",
    "run.warm_passes" -> "count", "run.peak_rss_mb" -> "MB", "run.traced_pass_s" -> "s",
    "run.trace_overhead" -> "ratio")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Median wall seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: => Unit): Double = median((1 to reps).map(_ => seconds(body)))
}

/** Host-state context for the run record (not a gate): the repo's own CPU
  * and disk probes, load and CPU steal, plus the JVM's memory.
  */
object HostState {
  def probe(): Map[String, Any] =
    Map("cpu_mops" -> graft.Bench.hostProbe(), "disk_mb_per_s" -> graft.Bench.diskProbe(),
      "load_avg" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage,
      "cpu_steal_s" -> stealSeconds())

  /** Time the hypervisor gave this machine's CPUs to others since boot. */
  private def stealSeconds(): Any =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
    catch { case NonFatal(_) => null }

  /** Collection time of every JVM collector so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** Heap in use after a full collection: what the program retains. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def treeBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
