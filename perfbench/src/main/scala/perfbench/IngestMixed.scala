package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong,
  AtomicReference}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.ServingFusion
import graft.search.ServingFusion.{CombinedShard, ServedQuery}
import graft.streaming.Streams

/** The mixed phase of `serve_ingest`: live writes beside live reads on
  * the combined index the read-only phase served.
  *
  * A writer thread runs closed-loop cycles of three 1,024-doc
  * `Streams.ingestCombinedBatch` calls and one 256-doc
  * `Streams.upsertCombinedBatch` whose docs each replace a base doc; every
  * 8th appended segment triggers `Streams.compactCombinedServing`. Each
  * batch is logged to a local segment log through Spark's parquet writer
  * (no fsync). A reader thread runs closed-loop single-query
  * `fusedTopKCombined` calls over the live reference with the live
  * tombstones applied. After the measured window the writer compacts,
  * snapshots, ingests one more batch, and the index restarts from the
  * snapshot plus the segment log.
  */
object IngestMixed {
  val BatchDocs = 1024
  val UpsertDocs = 256
  val CompactEvery = 8
  val Probes = 16
  val ReaderPool = 512
  val TailBatches = 1

  def run(spark: SparkSession, trace: Trace, checks: Checks, seed: Long,
          seconds: Double, work: String, built: Corpus.Built, salt: String,
          values: collection.mutable.Map[String, Double]): Unit = {
    import built.{cents, tokenDf}
    val frozen = trace.span("setup.postings")(built.frozenStats)
    val ref = new AtomicReference[RDD[CombinedShard]](built.combined)
    val tombRef = new AtomicReference[Array[Long]](Array.emptyLongArray)
    val ovRef = new AtomicReference[Map[Long, (Double, Long)]](Map.empty)
    val watermark = new AtomicLong(Corpus.Docs - 1)
    val segmentsLive = new AtomicInteger(0)
    val log = s"$work/segment-log"
    val readerQs = trace.span("setup.queries") {
      Corpus.queries(spark, ReaderPool, s"live-$salt")
    }
    val probes = readerQs.take(Probes)
    val rnd = new scala.util.Random(seed)
    // Base docs an upsert replaces: distinct, in a seeded order.
    val replaceOrder = rnd.shuffle((0L until Corpus.Docs).toVector)
    var replaced = 0

    def serve(qs: Seq[ServedQuery], ix: RDD[CombinedShard],
              tomb: Array[Long]): Map[Long, Corpus.Answer] =
      Corpus.byQuery(ServingFusion.fusedTopKCombined(ix, cents, qs,
        Corpus.Alpha, Corpus.K, Corpus.NProbe, Corpus.KVec, tombstones = tomb))

    def probeFor(r: Row, qid: Long): ServedQuery =
      ServedQuery(qid, r.getSeq[Float](2).toArray, Array.empty)

    var nextId = Corpus.Docs
    var batchId = 0L
    var docsServable = 0L

    /** Hand one batch to Streams; returns once it serves. */
    def ingest(n: Int, upsert: Boolean): Unit = {
      val from = nextId
      nextId += n
      val gen = Corpus.docs(spark, from, n, salt)
        .select(col("doc_id"), col("text"), col("embedding"))
      val rows = gen.collect()
      val replaces = if (upsert) {
        val ids = replaceOrder.slice(replaced, replaced + n)
        replaced += n
        ids
      } else Vector.empty
      val batch: DataFrame = {
        import spark.implicits._
        val local = rows.toSeq.zipWithIndex.map { case (r, i) =>
          (r.getLong(0), r.getString(1), r.getSeq[Float](2),
            if (upsert) Some(replaces(i)) else None)
        }
        local.toDF("doc_id", "text", "embedding", "replaces")
      }
      val inputBytes = rows.map(r => 8.0 + r.getString(1).length + 4.0 *
        r.getSeq[Float](2).length).sum
      val probeRow = rows(rnd.nextInt(rows.length))
      val bid = batchId
      batchId += 1
      val layer = if (upsert) "upsert" else "ingest"
      // Freshness: from the hand-off until a probe built from one of the
      // batch's docs returns that doc.
      val served = trace.span("freshness") {
        checks.attempt(layer) {
          trace.span(layer, Map("input_bytes" -> inputBytes)) {
            if (upsert) Streams.upsertCombinedBatch(batch, bid, "doc_id",
              "replaces", "text", "embedding", cents, frozen, tokenDf, ref,
              tombRef, segmentLog = Some(log), idWatermark = Some(watermark))
            else Streams.ingestCombinedBatch(batch, bid, "doc_id", "text",
              "embedding", cents, frozen, tokenDf, ref,
              segmentLog = Some(log), idWatermark = Some(watermark))
          }
          segmentsLive.incrementAndGet()
          serve(Seq(probeFor(probeRow, 0L)), ref.get(), tombRef.get())
        }
      }
      served.foreach { got =>
        docsServable += n
        checks.record(
          got.getOrElse(0L, Seq.empty).exists(_._1 == probeRow.getLong(0)),
          s"$layer batch $bid: fresh doc ${probeRow.getLong(0)} not served")
        if (upsert) {
          // A replaced doc must be invisible to a probe built from itself.
          val old = replaces(0)
          val oldRow = built.table.filter(col("doc_id") === old)
            .select(col("doc_id"), col("text"), col("embedding")).head()
          val ans = serve(Seq(probeFor(oldRow, 0L)), ref.get(), tombRef.get())
          checks.record(!ans.getOrElse(0L, Seq.empty).exists(_._1 == old),
            s"upsert batch $bid: replaced doc $old still served")
        }
      }
    }

    /** Compact the live index; the probe answers must not change. */
    def compact(): Unit = {
      val before = serve(probes, ref.get(), tombRef.get())
      checks.attempt("compact") {
        trace.span("compact") {
          Streams.compactCombinedServing(ref, tombRef, ovRef,
            numPartitions = spark.sparkContext.defaultParallelism)
        }
      }.foreach { _ =>
        segmentsLive.set(0)
        val after = serve(probes, ref.get(), tombRef.get())
        checks.record(after == before, "probe answers changed across compaction")
      }
    }

    // Reader: closed-loop single-query reads over the live reference.
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      val rr = new scala.util.Random(seed * 17 + 3)
      var i = 0
      while (!stop.get()) {
        val q = readerQs(rr.nextInt(ReaderPool))
        val tomb = tombRef.get()
        val ix = ref.get()
        val attrs = Map("segments" -> segmentsLive.get().toDouble,
          "tombstones" -> tomb.length.toDouble)
        i += 1
        checks.attempt("live read") {
          trace.span("fused.live", attrs, sampled = i % 2 == 0) {
            ServingFusion.fusedTopKCombined(ix, cents, Seq(q), Corpus.Alpha,
              Corpus.K, Corpus.NProbe, Corpus.KVec, tombstones = tomb)
          }
        }.foreach { r =>
          val tset = tomb.toSet
          checks.record(r.nonEmpty && !r.exists(x => tset(x._2)),
            s"live read for qid ${q.qid} returned nothing or a tombstoned doc")
        }
      }
    }, "ingest-reader")

    // Writer: closed-loop cycles for the measured window.
    val windowEnd = System.nanoTime() + (seconds * 1e9).toLong
    val w0 = trace.now()
    reader.start()
    var segments = 0
    def appended(): Unit = {
      segments += 1
      if (segments % CompactEvery == 0) compact()
    }
    while (System.nanoTime() < windowEnd) {
      for (_ <- 0 until 3) { ingest(BatchDocs, upsert = false); appended() }
      ingest(UpsertDocs, upsert = true); appended()
    }
    values("ingest.window_s") = (trace.now() - w0) / 1000
    values("ingest.docs_servable") = docsServable.toDouble

    // Ending: compact, snapshot, one more batch, then restart.
    compact()
    val snapDir = s"$work/snapshot"
    checks.attempt("snapshot") {
      trace.span("snapshot") {
        Streams.snapshotCombined(ref.get(), snapDir, frozen, tokenDf, "doc_id",
          segmentLog = Some(log))
      }
    }.foreach(truncated => checks.record(truncated > 0,
      "snapshot truncated no segment-log batch"))
    values("snapshot.written_kb") = Main.dirBytes(snapDir) / 1024.0
    for (_ <- 0 until TailBatches) ingest(BatchDocs, upsert = false)
    stop.set(true)
    reader.join()
    val before = serve(probes, ref.get(), tombRef.get())
    values("serving.resident_mb_live") = Corpus.residentMb(spark, ref.get())

    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    checks.attempt("restart") {
      trace.span("restart") {
        val loaded = trace.span("load") {
          val l = ServingFusion.loadCombined(spark, snapDir)
          l.index.cache().count()
          l
        }
        val tomb2 = new AtomicReference[Array[Long]](Array.emptyLongArray)
        val recovered = trace.span("recover") {
          Streams.recoverCombinedSegments(spark, log, "doc_id", "text",
            "embedding", cents, loaded.frozenStats, loaded.tokenDf,
            loaded.index, minIdExclusive = Some(loaded.maxId),
            tombRef = Some(tomb2))
        }
        trace.span("restart.probe")(serve(probes.take(1), recovered, tomb2.get()))
        (recovered, tomb2)
      }
    }.foreach { case (recovered, tomb2) =>
      val after = serve(probes, recovered, tomb2.get())
      checks.record(after == before, "probe answers changed across restart")
    }
  }
}
