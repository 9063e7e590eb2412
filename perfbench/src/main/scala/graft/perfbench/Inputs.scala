package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every input the benchmark feeds graft, derived from the workload seed
  * alone: the same seed gives the same vectors, ids and query order. */
object Inputs {
  val Dim = 768

  /** A mixture of Gaussian clusters: `clusters` centres drawn N(0, 1) per
    * dimension, each vector its centre plus N(0, sigma^2) noise. Queries
    * drawn from the same mixture are held out of the corpus. Clustered
    * data keeps recall@20 informative: on isotropic noise every ANN
    * index scores low and changes in it are invisible. */
  final class Mixture(seed: Long, clusters: Int, sigma: Double) {
    private val rnd = new SplittableRandom(seed)
    private val centres = Array.fill(clusters)(Array.fill(Dim)(rnd.nextGaussian()))

    def draw(count: Int): Array[Array[Float]] = Array.fill(count) {
      val c = centres(rnd.nextInt(clusters))
      Array.tabulate(Dim)(i => (c(i) + sigma * rnd.nextGaussian()).toFloat)
    }
  }

  def corpusFrame(spark: SparkSession, ids: Seq[Long], vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(ids.zip(vecs)).toDF("vec_id", "embedding")

  def queryFrame(spark: SparkSession, vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vecs.indices.map(_.toLong).zip(vecs)).toDF("query_id", "query_vec")

  /** Write a frame once and hand graft the parquet-backed read, so plans
    * scan files instead of carrying megabytes of local rows. */
  def persist(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** The fixed commit sequence of the churn phase, as ids; vectors are
    * drawn for every ingested or upserted id. */
  final case class ChurnPlan(baseIds: IndexedSeq[Long], ingests: Seq[IndexedSeq[Long]],
                             upsert: IndexedSeq[Long], delete: IndexedSeq[Long])

  def churnPlan(seed: Long, base: Int, ingest: Int, ingests: Int, upsert: Int,
                delete: Int): ChurnPlan = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val baseIds = (0 until base).map(_.toLong)
    val batches = (0 until ingests).map(b =>
      (0 until ingest).map(i => (base + b * ingest + i).toLong))
    val live = (baseIds ++ batches.flatten).toArray
    def sample(n: Int, from: Array[Long]): IndexedSeq[Long] = {
      val a = from.clone()
      for (i <- 0 until n) {
        val j = i + rnd.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(n).sorted.toIndexedSeq
    }
    val ups = sample(upsert, live)
    val dels = sample(delete, live.filterNot(ups.toSet))
    ChurnPlan(baseIds, batches, ups, dels)
  }

  /** A seeded permutation of the suite's query names. */
  def suiteOrder(seed: Long, names: Seq[String]): Seq[String] = {
    val rnd = new SplittableRandom(seed ^ 0x0bd3L)
    val a = names.sorted.toArray
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private val Words = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window").split(' ')

  /** The star-schema, event, document and embedding tables the query
    * registry reads, at the row counts of the smallest test fixture
    * and with the same schemas, value domains and key relationships. */
  def writeSuiteFixture(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed ^ 0xf17eL)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(fromYear: Int, days: Int): Timestamp =
      Timestamp.valueOf(java.time.LocalDate.of(fromYear, 1, 1)
        .plusDays(rnd.nextInt(days).toLong).atStartOfDay())
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    write((0 until 10).map(i => (i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(500, 6100)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write((0 until 150).map(i => (i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999, 9999), pick(segments)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write((0 until 200).map(i => (i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50),
        math.round((900.0 + i * 0.1) * 100) / 100.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write((0 until 1500).map(i => (i.toLong, rnd.nextInt(150).toLong, pick(Seq("F", "O", "P")),
        money(1000, 500000), day(1995, 2400), pick(priorities)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), "orders")
    write((0 until 6000).map(_ => (rnd.nextInt(1500).toLong, rnd.nextInt(200).toLong,
        rnd.nextInt(10).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        money(900, 105000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("F", "O")), day(1995, 2500)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"), "lineitem")
    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val eventTimes = Array.fill(1000)(t0 + (rnd.nextDouble() * 30 * 86400000L).toLong).sorted
    write(eventTimes.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, new Timestamp(t),
        rnd.nextInt(15).toLong, pick(eventTypes), money(0, 330), s"""{"k": ${rnd.nextInt(100)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    write((0 until 500).map { i =>
        val text = Seq.fill(10 + rnd.nextInt(90))(pick(Words.toSeq)).mkString(" ")
        (i.toLong, text, pick(langs), s"src${i % 20}", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    write((0 until 500).map { i =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
      }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
