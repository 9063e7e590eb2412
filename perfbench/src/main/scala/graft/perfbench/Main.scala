package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM on local[4].
  * Prints human-readable lines to stderr and, as the last line of
  * stdout, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  *
  * {{{
  * Main --workload ann|pipeline_suite --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ann" -> Ann.run,
    "pipeline_suite" -> PipelineSuite.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = opts("work")
    val traced = opts.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val run = new Run(spark, tracer, work, opts("seed").toLong, opts("seconds").toDouble, traced)
    if (traced) tracer.enable()
    val trace =
      try { body(run); tracer.finish() }
      finally spark.stop()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (run.timedStartMs - jvmStartMs) / 1000.0
    val metrics =
      if (traced) Report.perLayer(run, trace._1, trace._2)
      else Report.endToEnd(run, setupS)
    Report.human(workload, run, metrics)
    println(Report.json(run, metrics))
  }
}
