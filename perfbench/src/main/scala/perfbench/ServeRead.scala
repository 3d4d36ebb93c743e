package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Fusion, Ivf, ServingFusion, VectorSearch}

/** The read-only phase of `serve_ingest`: hybrid serving over the
  * prebuilt corpus.
  *
  * Point phase: two closed-loop clients, one query per call to
  * `fusedTopKCombined`; every 8th call of a client is `mmrTopKCombined`
  * instead. Batch phase: one closed-loop client, 4,096-query calls that
  * alternate between the f32 and int8 combined indexes. Every point answer
  * and each batch's answers for a 512-query sample are checked afterwards
  * against the two-leg `fusedTopK` path, which the combined path is pinned
  * bit-identical to.
  */
object ServeRead {
  val Pool = 4096
  val RecallSample = 256
  /** Point calls draw from the first CheckSample pool queries, whose
    * two-leg reference answers are computed after the run. */
  val CheckSample = 512
  val MmrEvery = 8
  val MmrPool = 64
  val Lambda = 0.7

  /** The point phase takes this share of the window, the batch phase the
    * rest. */
  val PointShare = 0.6

  def run(spark: SparkSession, trace: Trace, checks: Checks, seed: Long,
          seconds: Double, built: Corpus.Built, salt: String,
          values: collection.mutable.Map[String, Double]): Unit = {
    import built._
    val combined8 = trace.span("setup.build_int8") {
      val c = ServingFusion.buildCombinedInt8(table.select(col("doc_id")),
        post, "doc_id", assigned, absMax = 1.0,
        Fusion.decayFrame(table, "doc_id", Corpus.params),
        prebuiltDocLengths = Some(docLengths), prebuiltTokenDf = Some(tokenDf))
        .cache()
      c.count(); c
    }
    // The recall reference: exact fusion (exact vector candidates, the
    // batch text leg) on a fixed query sample, computed once.
    val (pool, shards, exactAnswers) = trace.span("setup.exact_ref") {
      val qs = Corpus.queries(spark, Pool, salt)
      val sample = qs.take(RecallSample)
      val shards = ServingFusion.buildShards(table.select(col("doc_id")),
        post, "doc_id", Fusion.decayFrame(table, "doc_id", Corpus.params),
        prebuiltDocLengths = Some(docLengths), prebuiltTokenDf = Some(tokenDf))
        .cache()
      val vecTop = VectorSearch.topKBatch(
          assigned.select(col("doc_id").as("id"), col("vector")),
          Corpus.vectorFrame(spark, sample), k = Corpus.KVec,
          metric = "cosine", normalized = true)
        .select(col("qid"), col("id").as("doc_id"), col("distance"))
      val ex = Corpus.byQuery(ServingFusion.fusedTopK(shards,
          Corpus.tokenFrame(spark, sample), vecTop, Corpus.Alpha, Corpus.K,
          "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      (qs, shards, ex)
    }
    values("serving.resident_mb_f32") = Corpus.residentMb(spark, combined)
    values("serving.resident_mb_int8") = Corpus.residentMb(spark, combined8)

    // Point phase.
    val pointAnswers = new ConcurrentLinkedQueue[(Long, Corpus.Answer)]()
    val mmrAnswers = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val pointEnd = System.nanoTime() + (seconds * PointShare * 1e9).toLong
    val clients = (0 until 2).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 31 + c)
        var i = 0
        while (System.nanoTime() < pointEnd) {
          val q = pool(rnd.nextInt(CheckSample))
          i += 1
          // Odd calls run without the listener's job group: the two
          // halves price the tracing itself.
          val sampled = i % 2 == 0
          if (i % MmrEvery == 0) {
            checks.attempt("mmrTopKCombined") {
              trace.span("mmr.point", sampled = (i / MmrEvery) % 2 == 0) {
                ServingFusion.mmrTopKCombined(combined, cents,
                  Seq((q.qid, q.qvec)), k = Corpus.K, pool = MmrPool,
                  nProbe = Corpus.NProbe, lam = Lambda,
                  oneMinusLam = 1 - Lambda)
              }
            }.foreach(r => mmrAnswers.add(q.qid -> r.sortBy(_._2).map(_._3).toSeq))
          } else {
            checks.attempt("fusedTopKCombined") {
              trace.span("fused.point", sampled = sampled) {
                ServingFusion.fusedTopKCombined(combined, cents, Seq(q),
                  Corpus.Alpha, Corpus.K, Corpus.NProbe, Corpus.KVec)
              }
            }.foreach(r => pointAnswers.add(q.qid ->
              Corpus.byQuery(r).getOrElse(q.qid, Seq.empty)))
          }
        }
      }, s"serve-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())

    // Batch phase, after one untimed warm-up call per index.
    val batchAnswers = Array.fill(2)(
      new ConcurrentLinkedQueue[Map[Long, Corpus.Answer]]())
    def batch(codec: Int, layer: String): Unit =
      checks.attempt(if (codec == 0) "batch f32" else "batch int8") {
        trace.span(layer) {
          if (codec == 0) ServingFusion.fusedTopKCombined(combined, cents,
            pool, Corpus.Alpha, Corpus.K, Corpus.NProbe, Corpus.KVec)
          else ServingFusion.fusedTopKCombinedInt8(combined8, cents, pool,
            absMax = 1.0, Corpus.Alpha, Corpus.K, Corpus.NProbe, Corpus.KVec)
        }
      }.foreach(r => batchAnswers(codec).add(Corpus.byQuery(r)))
    batch(0, "warmup.batch")
    batch(1, "warmup.batch")
    val batchEnd = System.nanoTime() +
      (seconds * (1 - PointShare) * 1e9).toLong
    var call = 0
    // At least six calls per index, so each has a steady median.
    while (System.nanoTime() < batchEnd || call < 12) {
      batch(call % 2, if (call % 2 == 0) "fused.batch" else "fused_int8.batch")
      call += 1
    }
    values("batch_queries") = Pool

    // Checks. Recall of the combined answers against exact fusion.
    val sample = pool.take(RecallSample)
    val approx = Corpus.byQuery(ServingFusion.fusedTopKCombined(combined,
      cents, sample, Corpus.Alpha, Corpus.K, Corpus.NProbe, Corpus.KVec))
    val hits = sample.map { q =>
      val ex = exactAnswers.getOrElse(q.qid, Seq.empty).map(_._1).toSet
      (approx.getOrElse(q.qid, Seq.empty).count(a => ex(a._1)), ex.size)
    }
    val recall = hits.map(_._1).sum.toDouble / math.max(1, hits.map(_._2).sum)
    values("recall_at_10") = recall
    checks.record(recall >= 0.8, f"recall_at_10 $recall%.4f below 0.8")

    // The two-leg reference answers for the check sample, f32 and int8.
    val checked = pool.take(CheckSample)
    val qVecs = Corpus.vectorFrame(spark, checked).cache()
    val qToks = Corpus.tokenFrame(spark, checked).cache()
    def twoLeg(vecTop: DataFrame) =
      Corpus.byQuery(ServingFusion.fusedTopK(shards, qToks,
          vecTop.select(col("qid"), col("id").as("doc_id"), col("distance")),
          Corpus.Alpha, Corpus.K, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val serving = Ivf.servingIndex(assigned.withColumnRenamed("doc_id", "id"))
      .cache()
    val ref32 = twoLeg(Ivf.searchBatchedFast(serving, cents, qVecs,
      k = Corpus.KVec, nProbe = Corpus.NProbe))
    serving.unpersist()
    val serving8 = Ivf.servingIndexInt8(
      assigned.withColumnRenamed("doc_id", "id"), absMax = 1.0).cache()
    val ref8 = twoLeg(Ivf.searchBatchedFastInt8(serving8, cents, qVecs,
      k = Corpus.KVec, nProbe = Corpus.NProbe, absMax = 1.0))
    serving8.unpersist()
    def same(ref: Map[Long, Corpus.Answer], got: Map[Long, Corpus.Answer]) =
      got.size == Pool && ref.forall { case (q, a) => got.get(q).contains(a) }
    pointAnswers.asScala.foreach { case (q, a) =>
      checks.record(ref32.get(q).contains(a) && a.nonEmpty,
        s"point answer for qid $q differs from the two-leg path")
    }
    batchAnswers(0).asScala.foreach(got => checks.record(same(ref32, got),
      "f32 batch answers differ from the two-leg path"))
    batchAnswers(1).asScala.foreach(got => checks.record(same(ref8, got),
      "int8 batch answers differ from the two-leg int8 path"))
    // MMR: each single-query answer equals the batched call's answer.
    val mmrQids = mmrAnswers.asScala.map(_._1).toSeq.distinct
    val mmrRef = ServingFusion.mmrTopKCombined(combined, cents,
        pool.filter(q => mmrQids.contains(q.qid)).map(q => (q.qid, q.qvec)),
        k = Corpus.K, pool = MmrPool, nProbe = Corpus.NProbe, lam = Lambda,
        oneMinusLam = 1 - Lambda)
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    mmrAnswers.asScala.foreach { case (q, a) =>
      checks.record(mmrRef.get(q).contains(a) && a.size == Corpus.K,
        s"mmr answer for qid $q differs from the batched call")
    }
    qVecs.unpersist(); qToks.unpersist(); shards.unpersist()
    combined8.unpersist()
  }
}
