package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters"):
  *
  *   spark-submit --class graft.Main engine.jar <command> [args]
  *
  * Commands:
  *   pipeline <nPages> <workDir>   checkpointed flagship pipeline (resumable)
  *   verify <sfDir> <outDir>       correctness dump (same as graft.Verify)
  *   bench                         headline throughput (same as graft.Bench)
  *
  * Under spark-submit the session inherits the cluster master/conf; the
  * local fallback mirrors the sandbox defaults.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("pipeline")
    cmd match {
      case "verify" => Verify.main(args.drop(1))
      case "bench" => Bench.main(args.drop(1))
      case "pipeline" =>
        val nPages = args.lift(1).map(_.toLong).getOrElse(100000L)
        val workDir = args.lift(2).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-pipeline").toString)
        val builder = SparkSession.builder().appName("graft-pipeline")
          .config("spark.sql.session.timeZone", "UTC")
        // masterless under spark-submit; local[32] in the sandbox
        val spark = (if (sys.props.contains("spark.master") ||
            sys.env.contains("SPARK_MASTER")) builder
          else builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        GraftFunctions.register(spark)
        graft.run.Metrics.register(spark)
        val tiles = graft.run.Pipeline.runCheckpointed(spark, nPages, workDir)
        val n = tiles.count()
        println(s"[graft] pipeline complete: $n tiles, workDir=$workDir " +
          s"(snapshots: ${new graft.input.SnapshotLog(workDir).snapshots().size})")
        spark.stop()
      case other =>
        System.err.println(s"unknown command '$other' (pipeline|verify|bench)")
        sys.exit(2)
    }
  }
}
