package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SyntheticVectors
import graft.queries.FusionQueries
import graft.search.{Fusion, Ivf, ServingFusion}
import graft.text.{Analyzer, Bm25}

/** The hybrid-serving corpus both serving phases run on: clustered
  * 64-d vectors and zipf text, with the memory-decay metadata the fused
  * ranking reads. Every salt derives from the run's seed.
  */
object Corpus {
  val Docs = 10000L
  val Dim = 64
  val Vocab = 30000
  val DocLen = 40
  val Clusters = 500L
  val K = 10
  val KVec = 10
  val NProbe = 8
  val Alpha = 0.6

  val params: Fusion.FusionParams = Fusion.FusionParams(alpha = Alpha, k = K,
    metric = "cosine", memory = FusionQueries.memCfg, now = FusionQueries.Now)

  /** Docs `[from, from + n)`: id, text, normalized vector, decay columns. */
  def docs(spark: SparkSession, from: Long, n: Long, salt: String): DataFrame = {
    val id = col("id")
    val base = FusionQueries.Base
    spark.range(from, from + n).select(
      id.as("doc_id"),
      SyntheticVectors.zipfText(id, DocLen, s"doc-$salt", Vocab).as("text"),
      SyntheticVectors.clusteredVec(id, Dim, Clusters, s"nz-$salt")
        .as("embedding"),
      (lit(base) + id % 720 * 3600).cast("double").as("_created_at"),
      (lit(base) + id % 720 * 3600 + (id % 5) * 86400)
        .cast("double").as("_last_accessed"),
      (id % 13 === 0).as("_pinned"),
      element_at(array(lit("episodic"), lit("semantic"), lit("procedural")),
        (id % 3 + 1).cast("int")).as("memory_layer"),
      element_at(array(lit("exponential"), lit("linear"), lit("step"),
        lit("ebbinghaus")), (id % 4 + 1).cast("int")).as("_decay_model"),
      (id % 7).cast("double").as("_access_count"))
  }

  /** `n` hybrid queries: a clustered query vector and three tail tokens
    * (zipf ranks 10,000 and up, so each term matches ~0.1% of docs).
    */
  def queries(spark: SparkSession, n: Int, salt: String)
      : Seq[ServingFusion.ServedQuery] = {
    val tail = Vocab - 10000
    def tok(j: Int): Column = concat(lit("tok"),
      pmod(xxhash64(col("id"), lit(j), lit(s"qt-$salt")), lit(tail.toLong)) +
        10000)
    val qs = spark.range(n).select(col("id").as("qid"),
      SyntheticVectors.clusteredVec(col("id") * 7919 + 11, Dim, Clusters,
        s"qv-$salt").as("qvec"),
      concat_ws(" ", tok(0), tok(1), tok(2)).as("qtext"))
    val qTokens = Analyzer.tokensDF(qs.select(col("qid"), col("qtext")),
        "qtext", "english")
      .groupBy(col("qid"), col("token")).agg(count(lit(1)).as("qn"))
    ServingFusion.collectServedQueries(qs.select(col("qid"), col("qvec")),
      qTokens)
  }

  /** Query-token rows `(qid, token, qn)` for the two-leg path. */
  def tokenFrame(spark: SparkSession, qs: Seq[ServingFusion.ServedQuery])
      : DataFrame = {
    import spark.implicits._
    qs.flatMap(q => q.tokens.map { case (t, n) => (q.qid, t, n.toLong) })
      .toDF("qid", "token", "qn")
  }

  /** Query-vector rows `(qid, qvec)` for the two-leg path. */
  def vectorFrame(spark: SparkSession, qs: Seq[ServingFusion.ServedQuery])
      : DataFrame = {
    import spark.implicits._
    qs.map(q => (q.qid, q.qvec.toSeq)).toDF("qid", "qvec")
  }

  /** The built serving state over one corpus. */
  final case class Built(
      table: DataFrame,
      post: DataFrame,
      tokenDf: DataFrame,
      docLengths: DataFrame,
      cents: Array[Array[Float]],
      assigned: DataFrame,
      combined: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) {
    def frozenStats: (Long, Double) = Bm25.corpusStats(docLengths)
  }

  /** Generate, index and build one corpus, each stage its own span. */
  def build(spark: SparkSession, trace: Trace, n: Long, salt: String): Built = {
    val table = trace.span("setup.corpus") {
      val t = docs(spark, 0, n, salt).cache(); t.count(); t
    }
    val (post, tdf, dls) = trace.span("setup.postings") {
      val p = Bm25.postings(table, "doc_id", "text").cache(); p.count()
      val d = Bm25.tokenDf(p).cache(); d.count()
      val l = Bm25.docLengthsFromPostings(table.select(col("doc_id")), p,
        "doc_id").cache()
      l.count()
      (p, d, l)
    }
    val vecs = table.select(col("doc_id").as("id"), col("embedding").as("vector"))
    val cents = trace.span("setup.kmeans") {
      Ivf.trainKMeansArrays(vecs, math.sqrt(n.toDouble).round.toInt, iters = 4)
    }
    val assigned = trace.span("setup.assign") {
      val a = Ivf.assignFast(vecs, cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket")).cache()
      a.count(); a
    }
    val combined = trace.span("setup.build_f32") {
      val c = ServingFusion.buildCombined(table.select(col("doc_id")), post,
        "doc_id", assigned, Fusion.decayFrame(table, "doc_id", params),
        prebuiltDocLengths = Some(dls), prebuiltTokenDf = Some(tdf)).cache()
      c.count(); c
    }
    Built(table, post, tdf, dls, cents, assigned, combined)
  }

  /** One fused answer, in its canonical order (score desc, id asc). */
  type Answer = Seq[(Long, Double)]

  def byQuery(rows: Array[(Long, Long, Double)]): Map[Long, Answer] =
    rows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)).toSeq
    }

  /** MB of Spark storage held by a served index: the RDD itself when it
    * is cached, else the nearest cached RDDs it reads (the base and every
    * appended segment of a live union).
    */
  def residentMb(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[_]): Double = {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Set(r.id)
      else r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set.empty[Int])(_ ++ _)
    val ids = lineage(rdd)
    spark.sparkContext.getRDDStorageInfo.filter(r => ids(r.id))
      .map(r => (r.memSize + r.diskSize) / 1e6).sum
  }
}
