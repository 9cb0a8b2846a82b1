package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** One timed region around a call into a graft layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs that give the end-to-end metrics pay nothing for it.
  * Spans are kept until the run ends and then written with the run record.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.sortBy(_.startNs).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var end = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s)))
}

/** Totals of the Spark jobs that ran under one tag. */
final case class Totals(jobs: Int, stages: Int, tasks: Long, cpuS: Double, gcS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, peakExecMemMb: Double,
    /** Per SQL execution, in start order: wall seconds from its first job
      * start to its last job end. */
    executions: Seq[Double],
    /** Longest task over the median task of the stage with the most task
      * time: how unevenly the busiest stage's partitions split the work. */
    taskSkew: Double)

/** Spark's public listener, registered by the benchmark only in traced
  * runs and only around traced calls. Jobs are attributed to the benchmark tag set as a local property
  * on the calling thread before the action (see [[tagged]]).
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private final class Job(val tag: String, val execId: Long, val start: Long,
      var end: Long = -1L)
  private final class Acc(var stages: Int = 0, var tasks: Long = 0, var cpuNs: Long = 0,
      var gcMs: Long = 0, var shuffle: Long = 0, var spill: Long = 0, var peak: Long = 0)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, Acc]
  private val stageLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var marker: CountDownLatch = null

  def attach(): Unit = sc.addSparkListener(this)
  /** Drains first, so the events of the last traced action are all seen. */
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Counters.TagKey)
    sc.setLocalProperty(Counters.TagKey, tag)
    try body finally sc.setLocalProperty(Counters.TagKey, prev)
  }

  /** Listener events arrive asynchronously. A one-task marker job is
    * delivered after every event posted before it, so once its end is seen
    * the counters of all earlier actions are complete.
    */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    marker = latch
    tagged(Counters.Marker) { sc.parallelize(Seq(1), 1).count() }
    if (!latch.await(30, TimeUnit.SECONDS))
      throw new IllegalStateException("Spark listener bus did not drain")
  }

  def totals(tag: String => Boolean): Totals = synchronized {
    val ids = jobs.collect { case (id, j) if j.tag != null && tag(j.tag) => id }.toSeq
    val accs = ids.flatMap(perJob.get)
    val byExec = ids.map(jobs).groupBy(_.execId).values
      .map(js => (js.map(_.start).min, js.map(_.end).max)).toSeq.sortBy(_._1)
    val idSet = ids.toSet
    val busiest = taskMs.collect { case (st, ms) if stageJob.get(st).exists(idSet) => ms.toSeq }
      .filter(_.nonEmpty).maxByOption(_.sum)
    val skew = busiest.map(ms => ms.max / math.max(1.0, Stats.median(ms.map(_.toDouble))))
      .getOrElse(0.0)
    Totals(ids.size, accs.map(_.stages).sum, accs.map(_.tasks).sum,
      accs.map(_.cpuNs).sum / 1e9, accs.map(_.gcMs).sum / 1e3,
      accs.map(_.shuffle).sum, accs.map(_.spill).sum,
      if (accs.isEmpty) 0.0 else accs.map(_.peak).max / 1048576.0,
      byExec.map { case (a, b) => (b - a) / 1e3 }, skew)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Counters.TagKey))).orNull
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L - e.jobId)
    jobs(e.jobId) = new Job(tag, exec, e.time)
    perJob(e.jobId) = new Acc()
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val isMarker = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      jobs.get(e.jobId).exists(_.tag == Counters.Marker)
    }
    if (isMarker && marker != null) marker.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).flatMap(perJob.get).foreach(_.stages += 1)
    stageLog += Map("stage" -> i.stageId, "name" -> i.name, "tasks" -> i.numTasks,
      "tag" -> stageJob.get(i.stageId).flatMap(jobs.get).map(_.tag).orNull,
      "seconds" -> (for (a <- i.submissionTime; b <- i.completionTime) yield (b - a) / 1e3)
        .getOrElse(Double.NaN))
  }

  /** Every completed stage seen, for the run record. */
  def stages: Seq[Map[String, Any]] = synchronized(stageLog.toSeq)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    stageJob.get(e.stageId).flatMap(perJob.get).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
      }
    }
  }
}

object Counters {
  val TagKey = "graftbench.tag"
  val Marker = "graftbench.marker"
}
