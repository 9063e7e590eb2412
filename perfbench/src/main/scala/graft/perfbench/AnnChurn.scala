package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col

import graft.operators.{KnnHnsw, KnnTopK, Versioned}

/** The churn phase of the `ann` workload: writes beside reads. The HNSW
  * index starts from a freshly saved versioned base and takes one fixed
  * commit sequence: three ingests of new ids, one upsert of existing
  * ids, one delete, then a compact. After every commit a batch of 8
  * queries runs on the latest version, load included.
  *
  * The IVF index's versioned commits are not part of the sequence: on
  * this engine `KnnIvf.appendToVersioned` and `KnnIvf.deleteVersioned`
  * lose the rows of untouched cells that share a file with a touched
  * cell (see the benchmark's README), so no run of them is correct. */
object AnnChurn {
  val BaseRows = 512
  val IngestRows = 128
  val Ingests = 3
  val UpsertRows = 128
  val DeleteIds = 32
  val QueryBatch = 8
  /** User bytes of one row: an 8-byte id and a 768-float vector. */
  val RowBytes = 8L + 4L * Inputs.Dim

  sealed trait Step { def name: String }
  final case class Ingest(i: Int, ids: Seq[Long], rows: DataFrame) extends Step {
    def name = s"ingest-$i"
  }
  final case class Upsert(ids: Seq[Long], rows: DataFrame) extends Step { def name = "upsert" }
  final case class Delete(ids: Seq[Long], frame: DataFrame) extends Step { def name = "delete" }
  case object Compact extends Step { def name = "compact" }
}

final class AnnChurn(r: Run) {
  import AnnBulk.{Clusters, Ef, EfConstruction, K, M, Shards, Sigma}
  import AnnChurn._
  private val spark = r.spark
  import spark.implicits._
  private val plan = Inputs.churnPlan(r.seed, BaseRows, IngestRows, Ingests, UpsertRows, DeleteIds)
  private val mix = new Inputs.Mixture(r.seed ^ 0xc4c4L, Clusters, Sigma)
  // Every row the sequence writes, persisted once as one table; each
  // batch is a filter on it.
  private val batches: Seq[(String, Seq[Long])] =
    (("base", plan.baseIds) +: plan.ingests.zipWithIndex.map { case (ids, i) => (s"ingest-$i", ids) }) :+
      ("upsert", plan.upsert)
  private val rows = Inputs.persist(
    spark.createDataFrame(batches.flatMap { case (name, ids) =>
      ids.zip(mix.draw(ids.size)).map { case (id, v) => (name, id, v) }
    }).toDF("batch", "vec_id", "embedding"),
    s"${r.work}/churn-rows")
  private def frame(name: String): DataFrame = rows.filter(col("batch") === name).drop("batch")
  private val base = frame("base")
  private val steps: Seq[Step] =
    plan.ingests.zipWithIndex.map { case (ids, i) => Ingest(i, ids, frame(s"ingest-$i")) } ++
      Seq(Upsert(plan.upsert, frame("upsert")),
        Delete(plan.delete, plan.delete.toDF("vec_id")),
        Compact)
  private val queries = Inputs.persist(
    Inputs.queryFrame(spark, mix.draw(QueryBatch * steps.size).toSeq), s"${r.work}/churn-queries")
  /** Results of the read after the last compact, kept for recall. */
  private var lastHnsw: DataFrame = _
  private val lastQueries = queries.filter(col("query_id") >= QueryBatch * (steps.size - 1))

  private def dir(p: Int) = s"${r.work}/churn-pass-$p"

  /** Save the base of pass `p`; runs outside the pass's timing. */
  def prepare(p: Int): Unit = {
    KnnHnsw.saveVersioned(KnnHnsw.build(base, Shards, M, EfConstruction), s"${dir(p)}/hnsw", Shards)
  }

  def pass(p: Int): Unit = {
    val hPath = s"${dir(p)}/hnsw"
    var live = plan.baseIds.toSet
    val storage = new Storage(hPath)
    def commit(name: String, layer: String)(f: => Unit): Unit =
      r.attempt(name)(r.span(name, layer)(f))
    for ((step, i) <- steps.zipWithIndex) {
      val userBytes = step match {
        case Ingest(_, ids, rows) =>
          commit("KnnHnsw.appendToVersioned", "KnnHnsw") {
            KnnHnsw.appendToVersioned(spark, hPath, rows, Shards, M, EfConstruction)
          }
          live ++= ids
          ids.size * RowBytes
        case Upsert(ids, rows) =>
          commit("KnnHnsw.appendToVersioned", "KnnHnsw") {
            KnnHnsw.appendToVersioned(spark, hPath, rows, Shards, M, EfConstruction)
          }
          ids.size * RowBytes
        case Delete(ids, frame) =>
          commit("KnnHnsw.markDeletedVersioned", "KnnHnsw") {
            KnnHnsw.markDeletedVersioned(spark, hPath, frame)
          }
          live --= ids
          ids.size * 8L
        case Compact =>
          commit("KnnHnsw.compactVersioned", "KnnHnsw") {
            KnnHnsw.compactVersioned(spark, hPath, Shards, M, EfConstruction)
          }
          0L
      }
      val from = (i * QueryBatch).toLong
      val q = queries.filter(col("query_id") >= from && col("query_id") < from + QueryBatch)
      val ids = from until from + QueryBatch
      val isLive = live.contains _
      r.attempt("KnnHnsw.search.q8") {
        var schema: StructType = null
        val rows = r.span("KnnHnsw.search.q8", "KnnHnsw") {
          val result = KnnHnsw.search(KnnHnsw.loadVersioned(spark, hPath), q, K, Ef)
          schema = result.schema
          result.collect()
        }
        Checks.knn(rows, ids, K, isLive, live.size.toLong)
          .foreach(r.fail(s"KnnHnsw.search after ${step.name}", _))
        if (step == Compact) lastHnsw = Checks.frame(spark, rows, schema)
      }
      if (r.tracer.enabled) storage.afterCommit(userBytes)
    }
    // After the compact, the indexed count equals the live count.
    r.attempt("index counts") {
      val hnswRows = KnnHnsw.loadVersioned(spark, hPath)
      val hnswLive =
        if (hnswRows.columns.contains("deleted")) hnswRows.filter(!col("deleted")).count()
        else hnswRows.count()
      val hnswAll = hnswRows.count()
      r.check("index counts", hnswAll == live.size && hnswLive == live.size,
        s"after compact the live corpus has ${live.size} ids; HNSW indexes $hnswAll rows " +
          s"($hnswLive not deleted)")
    }
    if (r.tracer.enabled) storage.report(r, live.size * RowBytes)
  }

  /** Recall@20 of the read after the last compact against exact search
    * over the live corpus; outside the timed passes. */
  def verify(): Unit = {
    val upserted = steps.collect { case Upsert(_, f) => f }.head
    val removed = steps.collect { case Delete(_, f) => f }.head
    val liveCorpus = (Seq(base) ++ steps.collect { case Ingest(_, _, f) => f })
      .reduce(_ unionByName _)
      .join(upserted.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(upserted)
      .join(removed, Seq("vec_id"), "left_anti")
    val exact = r.span("KnnTopK.knnExact", "KnnTopK") {
      Inputs.persist(KnnTopK.knnExact(lastQueries, liveCorpus, K), s"${r.work}/churn-exact")
    }
    val hnswRecall = r.span("Recall.atK", "Recall")(Checks.recall(lastHnsw, exact, K))
    r.layerExtras("KnnHnsw.churn_recall_at_20") = (hnswRecall, "ratio")
    System.err.println(s"[perfbench] churn recall@20 hnsw=$hnswRecall")
  }

  /** Storage accounting of the versioned table under the index, from
    * the index directory and [[Versioned.history]]. */
  final class Storage(indexDir: String) {
    private def files(): Map[String, Long] = {
      val s = Files.walk(Paths.get(indexDir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
    private var seen = files()
    private var written = 0L
    private var user = 0L

    def afterCommit(userBytes: Long): Unit = {
      val now = files()
      written += now.collect { case (f, size) if !seen.contains(f) => size }.sum
      user += userBytes
      seen = now
    }

    def report(r: Run, liveBytes: Long): Unit = {
      val spark = r.spark
      val added = r.span("Versioned.history", "Versioned") {
        Versioned.history(spark, indexDir).filter(col("version") > 0)
          .select("files_added").collect().map(_.getInt(0))
      }
      val liveFiles = r.span("Versioned.detail", "Versioned") {
        Versioned.detail(spark, indexDir).select("num_files").collect().head.getInt(0)
      }
      r.layerExtras("Versioned.write_amp") = (written.toDouble / math.max(1L, user), "ratio")
      r.layerExtras("Versioned.space_amp") =
        (seen.values.sum.toDouble / math.max(1L, liveBytes), "ratio")
      r.layerExtras("Versioned.files_per_version") =
        (if (added.isEmpty) 0.0 else added.sum.toDouble / added.size, "count")
      System.err.println(s"[perfbench] live files of the index after compact: $liveFiles")
    }
  }
}
