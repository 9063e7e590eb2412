package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col

import graft.operators.{KnnHnsw, KnnIvf, KnnTopK}

/** The bulk phase of the `ann` workload, in the reference benchmark's
  * shape: build and persist both indexes over a clustered 768-d corpus,
  * reload them, and run query batches at k=20 (HNSW at 1, 8 and 64
  * queries, IVF at 64). The single-query HNSW search, timed through
  * `collect`, is the workload's headline operation. */
object AnnBulk {
  val N = 2048
  val Clusters = 16
  val Sigma = 0.6
  val Shards = 4
  val M = 16
  val EfConstruction = 200
  val Ef = 50
  val Cells = 32
  val NProbe = 4
  val K = 20
  val Queries = 64
  val SingleQueriesPerPass = 5
  /** Single-query searches run untimed on a freshly loaded index first,
    * as the reference benchmark discards its first run: the first
    * search after a build pays file opening and JIT, not the search. */
  val DiscardedQueriesPerPass = 1
}

final class AnnBulk(r: Run) {
  import AnnBulk._
  private val spark = r.spark
  private val mix = new Inputs.Mixture(r.seed, Clusters, Sigma)
  private val corpus = Inputs.persist(
    Inputs.corpusFrame(spark, (0 until N).map(_.toLong), mix.draw(N).toSeq), s"${r.work}/corpus")
  private val queries =
    Inputs.persist(Inputs.queryFrame(spark, mix.draw(Queries).toSeq), s"${r.work}/queries")
  private val exact = r.span("KnnTopK.knnExact", "KnnTopK") {
    Inputs.persist(KnnTopK.knnExact(queries, corpus, K), s"${r.work}/exact")
  }
  private val live = (id: Long) => id >= 0 && id < N
  /** The last pass's results for all held-out queries, kept for recall. */
  private var lastHnsw: DataFrame = _
  private var lastIvf: DataFrame = _

  private def batch(from: Int, size: Int): (DataFrame, Seq[Long]) =
    (queries.filter(col("query_id") >= from && col("query_id") < from + size),
      (from until from + size).map(_.toLong))

  /** One small build and search per index, so the first timed pass
    * does not pay class loading, JIT and codegen alone. */
  def warmUp(): Unit = {
    val slice = corpus.filter(col("vec_id") < 512)
    KnnHnsw.save(KnnHnsw.build(slice, Shards, M, EfConstruction), s"${r.work}/warm-hnsw")
    KnnIvf.save(KnnIvf.build(slice, Cells), s"${r.work}/warm-ivf")
    KnnHnsw.search(KnnHnsw.load(spark, s"${r.work}/warm-hnsw"), batch(0, 8)._1, K, Ef).collect()
    KnnIvf.searchPruned(KnnIvf.load(spark, s"${r.work}/warm-ivf"), batch(0, 8)._1, K, NProbe).collect()
  }

  def pass(p: Int): Unit = {
    val hPath = s"${r.work}/hnsw-$p"
    val iPath = s"${r.work}/ivf-$p"
    r.attempt("KnnHnsw.build") {
      r.span("KnnHnsw.build", "KnnHnsw") {
        KnnHnsw.save(KnnHnsw.build(corpus, Shards, M, EfConstruction), hPath)
      }
    }
    r.attempt("KnnIvf.build") {
      r.span("KnnIvf.build", "KnnIvf") { KnnIvf.save(KnnIvf.build(corpus, Cells), iPath) }
    }
    val graph = r.span("KnnHnsw.load", "KnnHnsw") { KnnHnsw.load(spark, hPath) }
    val ivf = r.span("KnnIvf.load", "KnnIvf") { KnnIvf.load(spark, iPath) }

    def hnswSearch(q: DataFrame, ids: Seq[Long], timed: Boolean): Unit = {
      val name = s"KnnHnsw.search.q${ids.size}"
      r.attempt(name) {
        var schema: StructType = null
        def search() = {
          val result = KnnHnsw.search(graph, q, K, Ef)
          schema = result.schema
          result.collect()
        }
        val rows = r.span(name, "KnnHnsw") { if (timed) r.timeOp(search()) else search() }
        Checks.knn(rows, ids, K, live, N).foreach(r.fail(name, _))
        if (ids.size == Queries) lastHnsw = Checks.frame(spark, rows, schema)
      }
    }
    for (i <- 0 until DiscardedQueriesPerPass + SingleQueriesPerPass) {
      val (q, ids) = batch(i % Queries, 1)
      hnswSearch(q, ids, timed = i >= DiscardedQueriesPerPass)
    }
    val (q8, ids8) = batch((p * 8) % Queries, 8)
    hnswSearch(q8, ids8, timed = false)
    hnswSearch(queries, 0L until Queries, timed = false)
    r.attempt("KnnIvf.searchPruned.q64") {
      var schema: StructType = null
      val rows = r.span("KnnIvf.searchPruned.q64", "KnnIvf") {
        val result = KnnIvf.searchPruned(ivf, queries, K, NProbe)
        schema = result.schema
        result.collect()
      }
      Checks.knn(rows, 0L until Queries, K, live, N).foreach(r.fail("KnnIvf.searchPruned.q64", _))
      lastIvf = Checks.frame(spark, rows, schema)
    }
  }

  /** Recall@20 of the last pass's results for all held-out queries,
    * against exact search; outside the timed passes. */
  def verify(): Unit = {
    val hnswRecall = r.span("Recall.atK", "Recall")(Checks.recall(lastHnsw, exact, K))
    val ivfRecall = r.span("Recall.atK", "Recall")(Checks.recall(lastIvf, exact, K))
    r.layerExtras("KnnHnsw.recall_at_20") = (hnswRecall, "ratio")
    r.layerExtras("KnnIvf.recall_at_20") = (ivfRecall, "ratio")
    System.err.println(s"[perfbench] bulk recall@20 hnsw=$hnswRecall ivf=$ivfRecall")
  }
}
