package graft.perfbench

import scala.collection.mutable

/** Turns a finished run into metrics, the JSON result line and a
  * human-readable summary. */
object Report {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); the maximum when that percentile
    * would fall below the median (fewer than twenty samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 20) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def endToEnd(r: Run, setupS: Double): Metrics = {
    val m: Metrics = mutable.LinkedHashMap()
    m("setup_s") = (setupS, "s")
    m("pass_s") = (median(r.passes.toSeq), "s")
    m
  }

  /** Query-name families of the registry (`SparkEntry.<family>.s`);
    * queries outside the list count under `other`. */
  val Families = Seq("ann", "boilerplate", "chunk", "contamination", "dedup", "dq", "dsir",
    "events", "graph", "knn", "lifecycle", "lm", "maintenance", "multimodal", "pack",
    "pipeline", "quality", "retrieval", "sample", "scale", "score", "source", "split",
    "sql", "star", "text", "traversal", "validate", "vector", "versioned", "other")

  def family(query: String): String = {
    val f = query.takeWhile(_ != '_')
    if (Families.contains(f)) f else "other"
  }

  val Layers = Seq("KnnHnsw", "KnnIvf", "KnnTopK", "Recall", "SparkEntry", "Versioned")

  def perLayer(r: Run, spans: Seq[Span], groups: Map[String, Counters]): Metrics = {
    val m: Metrics = mutable.LinkedHashMap()
    val empty = new Counters
    def counters(s: Span) = groups.getOrElse(s.group, empty)
    def named(prefix: String) = spans.filter(s => s.name == prefix || s.name.startsWith(prefix + "."))
    def med(ss: Seq[Span])(f: Span => Double) = median(ss.map(f))
    def secs(name: String) = med(named(name))(_.seconds)

    val build = named("KnnHnsw.build")
    m("KnnHnsw.build.s") = (med(build)(_.seconds), "s")
    m("KnnHnsw.build.executor_cpu_s") = (med(build)(counters(_).executorCpuNs / 1e9), "s")
    m("KnnHnsw.build.tasks") = (med(build)(counters(_).tasks.toDouble), "count")
    for (q <- Seq(1, 8, 64)) m(s"KnnHnsw.search.q${q}_s") = (secs(s"KnnHnsw.search.q$q"), "s")
    val search = named("KnnHnsw.search")
    m("KnnHnsw.search.jobs") = (med(search)(counters(_).jobs.toDouble), "count")
    m("KnnHnsw.search.shuffle_write_bytes") =
      (med(search)(counters(_).shuffleWriteBytes.toDouble), "bytes")
    for (op <- Seq("appendToVersioned", "markDeletedVersioned", "compactVersioned"))
      m(s"KnnHnsw.$op.s") = (secs(s"KnnHnsw.$op"), "s")
    for (k <- Seq("KnnHnsw.recall_at_20", "KnnHnsw.churn_recall_at_20"))
      m(k) = r.layerExtras.getOrElse(k, (0.0, "ratio"))

    val ivfBuild = named("KnnIvf.build")
    m("KnnIvf.build.s") = (med(ivfBuild)(_.seconds), "s")
    m("KnnIvf.build.jobs") = (med(ivfBuild)(counters(_).jobs.toDouble), "count")
    val pruned = named("KnnIvf.searchPruned")
    m("KnnIvf.searchPruned.q64_s") = (secs("KnnIvf.searchPruned.q64"), "s")
    m("KnnIvf.searchPruned.jobs") = (med(pruned)(counters(_).jobs.toDouble), "count")
    val results = pruned.map(s => s.name.split('.').last.stripPrefix("q").toDouble * AnnBulk.K).sum
    m("KnnIvf.searchPruned.rows_scanned_per_result") =
      (if (results == 0) 0.0 else pruned.map(counters(_).recordsRead).sum / results, "ratio")
    m("KnnIvf.recall_at_20") = r.layerExtras.getOrElse("KnnIvf.recall_at_20", (0.0, "ratio"))

    for ((k, unit) <- Seq("Versioned.write_amp" -> "ratio", "Versioned.space_amp" -> "ratio",
                          "Versioned.files_per_version" -> "count"))
      m(k) = r.layerExtras.getOrElse(k, (0.0, unit))
    m("KnnTopK.knnExact.s") = (secs("KnnTopK.knnExact"), "s")
    m("Recall.atK.s") = (secs("Recall.atK"), "s")

    // Per traced pass: SparkEntry totals and engine counters.
    val tracedPasses = math.max(1, r.passes.size)
    val inPasses = spans.filter(_.op.startsWith("pass-"))
    def perPass(ss: Seq[Span])(f: Span => Double) = ss.map(f).sum / tracedPasses
    val construct = inPasses.filter(_.name.startsWith("SparkEntry.construct."))
    val action = inPasses.filter(_.name.startsWith("SparkEntry.action."))
    m("SparkEntry.construct.s") = (perPass(construct)(_.seconds), "s")
    m("SparkEntry.construct.jobs") = (perPass(construct)(counters(_).jobs.toDouble), "count")
    m("SparkEntry.action.s") = (perPass(action)(_.seconds), "s")
    val perQuery = (construct ++ action).groupBy(s => (s.op, s.name.split('.').last))
      .values.map(_.map(_.seconds).sum).toSeq
    m("SparkEntry.query_p50_s") = (median(perQuery), "s")
    for (f <- Families)
      m(s"SparkEntry.$f.s") = (perPass((construct ++ action)
        .filter(s => family(s.name.split('.').last) == f))(_.seconds), "s")

    val c = inPasses.map(counters)
    def total(f: Counters => Double) = c.map(f).sum / tracedPasses
    val tracedWall = r.passes.toSeq
    m("spark.jobs") = (total(_.jobs.toDouble), "count")
    m("spark.stages") = (total(_.stages.toDouble), "count")
    m("spark.tasks") = (total(_.tasks.toDouble), "count")
    m("spark.catalyst_s") = (total(_.catalystMs / 1e3), "s")
    m("spark.executor_run_s") = (total(_.executorRunMs / 1e3), "s")
    m("spark.executor_cpu_s") = (total(_.executorCpuNs / 1e9), "s")
    m("spark.shuffle_write_bytes") = (total(_.shuffleWriteBytes.toDouble), "bytes")
    m("spark.spill_bytes") = (total(_.spillBytes.toDouble), "bytes")
    m("spark.slot_utilization") =
      (if (tracedWall.isEmpty) 0.0 else total(_.executorRunMs / 1e3) / (median(tracedWall) * 4), "ratio")

    val self = Tracer.selfSeconds(inPasses)
    for (l <- Layers) m(s"trace.self_s.$l") = (self.getOrElse(l, 0.0) / tracedPasses, "s")
    val topLevel = inPasses.filter(_.parent < 0).map(_.seconds).sum / tracedPasses
    m("trace.unattributed_s") = (math.max(0.0, median(tracedWall) - topLevel), "s")
    // Direct cost of tracing (span bookkeeping plus listener callbacks)
    // as a share of the traced passes' wall time. The end-to-end cost
    // is the difference between traced and untraced runs' pass_s.
    m("trace.overhead_ratio") =
      (if (tracedWall.isEmpty) 0.0 else r.tracer.ownCostSeconds / tracedWall.sum, "ratio")
    m("trace.own_cost_s") = (r.tracer.ownCostSeconds, "s")
    val (repeatable, compared) = repeatability(inPasses, counters)
    m("trace.repeatable_counter_share") =
      (if (compared == 0) 0.0 else repeatable.toDouble / compared, "ratio")
    m
  }

  /** Counters that read the same on every call of one span name
    * (jobs, stages, tasks, shuffle bytes): (identical, compared). */
  def repeatability(spans: Seq[Span], counters: Span => Counters): (Int, Int) = {
    val kinds: Seq[(String, Counters => Long)] = Seq(
      "jobs" -> (_.jobs), "stages" -> (_.stages), "tasks" -> (_.tasks),
      "shuffle_write_bytes" -> (_.shuffleWriteBytes))
    var same = 0
    var compared = 0
    for ((name, ss) <- spans.groupBy(_.name).toSeq.sortBy(_._1) if ss.size >= 2;
         (kind, f) <- kinds) {
      val values = ss.map(s => f(counters(s))).distinct
      compared += 1
      if (values.size == 1) same += 1
      else System.err.println(s"[perfbench] varies: $name.$kind ${values.take(6).mkString(",")}")
    }
    (same, compared)
  }

  def human(workload: String, r: Run, m: Metrics): Unit = {
    val err = System.err
    err.println(s"[perfbench] workload=$workload seed=${r.seed} traced=${r.traced} " +
      s"attempted=${r.attempted} failed=${r.failed}")
    err.println(s"[perfbench] passes: " + r.passes.map(s => f"$s%.3fs").mkString(" "))
    val (t, pct, n) = tail(r.opSeconds.toSeq)
    err.println(f"[perfbench] op latency p50=${median(r.opSeconds.toSeq) * 1000}%.1fms " +
      f"p$pct%.1f=${t * 1000}%.1fms over $n samples")
    for ((k, (v, u)) <- m) err.println(f"[perfbench]   $k%-45s $v%.6f $u")
    r.failures.foreach(f => println(s"# failed: $f"))
  }

  def json(r: Run, m: Metrics): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val body = m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }
}
