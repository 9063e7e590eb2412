package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** State shared by a workload's set-up and timed passes: the session,
  * the tracer, the failure ledger and the operation latencies. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Double, val traced: Boolean) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Latency samples of the workload's headline operation, in seconds. */
  val opSeconds = mutable.ArrayBuffer[Double]()
  /** Wall time of each timed pass, in seconds. */
  val passes = mutable.ArrayBuffer[Double]()
  /** Extra per-layer figures a workload measures itself (storage, recall). */
  val layerExtras = mutable.LinkedHashMap[String, (Double, String)]()

  /** Wall-clock time the first timed pass started: the end of set-up. */
  var timedStartMs = 0L

  def failed: Long = failures.size.toLong

  def fail(op: String, why: String): Unit = {
    failures += s"$op: $why"
    System.err.println(s"[perfbench] FAILED $op: $why")
  }

  /** One operation: counted as attempted, and as failed if it throws. */
  def attempt[A](op: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(op, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** Note the end of a set-up phase on stderr, with seconds since JVM start. */
  def phase(name: String): Unit = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - start) / 1000.0}%.2fs $name")
  }

  def check(op: String, ok: Boolean, why: => String): Unit = if (!ok) fail(op, why)

  def span[A](name: String, layer: String)(f: => A): A = tracer.span(name, layer)(f)

  /** Run timed passes until the run's seconds are spent: a pass starts
    * only while the median pass so far still fits, and at least
    * `minPasses` run. In a traced run every pass is traced. `prepare`
    * runs before each pass, outside its timing. */
  def timedPasses(minPasses: Int, prepare: Int => Unit = _ => ())(pass: Int => Unit): Unit = {
    timedStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    def fits = {
      val elapsed = (System.nanoTime() - start) / 1e9
      elapsed + Report.median(passes.toSeq) <= seconds
    }
    if (traced) tracer.enable()
    var p = 0
    while (p < minPasses || fits) {
      tracer.op(s"pass-$p")
      prepare(p)
      val t0 = System.nanoTime()
      pass(p)
      passes += (System.nanoTime() - t0) / 1e9
      p += 1
    }
    tracer.disable()
  }

  def timeOp[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    opSeconds += (System.nanoTime() - t0) / 1e9
    r
  }
}

object Checks {
  /** A k-NN result (query_id, match_id, score, rank) is well formed for
    * `queries` when every query gets min(k, live) rows ranked 1..n with
    * ascending scores, and every id is live. Returns the problems. */
  def knn(rows: Array[Row], queries: Seq[Long], k: Int, live: Long => Boolean,
          liveCount: Long): Seq[String] = {
    val want = math.min(k.toLong, liveCount).toInt
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    val problems = mutable.ArrayBuffer[String]()
    for (q <- queries) {
      val rs = byQuery.getOrElse(q, Array.empty[Row]).sortBy(_.getAs[Long]("rank"))
      if (rs.length != want) problems += s"query $q returned ${rs.length} rows, want $want"
      val ranks = rs.map(_.getAs[Long]("rank")).toSeq
      if (ranks != (1L to rs.length.toLong)) problems += s"query $q ranks $ranks"
      val scores = rs.map(_.getAs[Double]("score"))
      if (scores.sliding(2).exists(w => w.length == 2 && w(0) > w(1)))
        problems += s"query $q scores not ascending"
      val dead = rs.map(_.getAs[Long]("match_id")).filterNot(live)
      if (dead.nonEmpty) problems += s"query $q returned ids not live: ${dead.take(5).mkString(",")}"
    }
    val extra = byQuery.keySet -- queries
    if (extra.nonEmpty) problems += s"rows for unknown queries ${extra.take(5).mkString(",")}"
    problems.toSeq
  }

  /** Collected result rows back as a frame, for [[recall]]. */
  def frame(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def recall(approx: DataFrame, exact: DataFrame, k: Int): Double =
    graft.operators.Recall.atK(approx, exact, k).collect().head.getAs[Double]("recall_at_k")
}
