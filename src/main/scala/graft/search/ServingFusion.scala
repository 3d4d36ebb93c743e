package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.Bm25

/** Low-latency serving twin of the hybrid-fusion TEXT leg — the postings
  * analogue of [[Ivf.servingIndex]], closing the gap the reference serves
  * from RAM (`searchWithFusion` `pkg/engine/ops.go:896` over in-memory
  * postings `pkg/core/core.go:1965`, ~1 ms fused): the ANN leg already
  * served in one tight mapPartitions pass, but the BM25 leg still ran a
  * multi-stage join/aggregate plan per batch, so a fused single query
  * paid ~1 s of fixed plan cost.
  *
  * Layout ([[buildShards]]): the corpus is repartitioned DOC-major —
  * every posting of a document lands in one shard — and each partition
  * becomes one [[Shard]]: a partition-local inverted index (token → CSR
  * block of (local doc, w)) over PRECOMPUTED per-(token, doc) BM25 term
  * weights `w = idf·tfPart` ([[Bm25.termWeight]] — the same expression
  * the batch plan evaluates, so per-term contributions are
  * bit-identical), plus the per-doc decay factor baked at build time
  * (same [[Fusion.decayFrame]] the fused plan joins). This is exactly a
  * search-engine shard: doc-major means a document's score finishes
  * WITHIN one partition — no cross-partition sum, so only k-bounded
  * partials ever leave the executors.
  *
  * Serving ([[fusedTopK]]): ONE job. Each partition scores its shard for
  * every query (accumulator array over local docs, epoch-reset, query
  * tokens processed in sorted order for deterministic summation), keeps
  * a bounded per-query top-k of text candidates ranked by decayed
  * contribution (the same exact-pruning argument as the fused plan: a
  * text-only row beaten by k text rows on `tscore·dec` can never reach
  * the final top-k), hydrates text scores + decay for the ANN leg's ids,
  * and tracks the per-query raw max for normalization. Partials merge
  * through [[Ivf.reducePartials]]; the α-blend, max-normalization and
  * final (score desc, id asc) top-k are driver math over ≤ 2k candidates
  * per query. Semantics mirror [[Fusion.searchWithFusionBatch]]
  * term-for-term; only floating-point SUMMATION ORDER differs (the plan
  * sums a doc's term scores in partition order, the shard in sorted
  * query-token order), so scores agree to ~1 ulp per term, not bit-for-
  * bit — `ServingFusionSpec` pins equality at 1e-9.
  *
  * Scale shape: shards are the postings, partitioned like any 100 TB
  * table; per-batch network is nq×k candidate partials (reduce below
  * [[Ivf.reducePartials]]'s threshold, treeReduce above); driver work is
  * O(nq·k). Query batches are driver-bounded by contract, like every
  * serving entry point.
  *
  * The COMBINED family collapses even the two-leg pipeline's serial job
  * rounds: [[buildCombined]] co-locates each partition's postings CSR,
  * decay factors and bucket-major IVF vector blocks (f32, or int8 via
  * [[buildCombinedInt8]] with 4× less resident memory — one code path,
  * generic over a [[VecCodec]]), and [[fusedTopKCombined]] /
  * [[mmrTopKCombined]] serve a whole hybrid (or MMR-diversified) query
  * batch as ONE Spark job over driver-resident queries — the
  * architecture's latency floor (one job launch, ~30 ms at local[32]),
  * every path spec-pinned bit-identical to its multi-job counterpart
  * (the [[Ivf]] serving kernels, kept separate as the reference).
  */
object ServingFusion {

  /** One partition's inverted index over precomputed term weights.
    * `offsets` is CSR over token slots: slot `s` owns entries
    * `[offsets(s), offsets(s+1))` of `docIx`/`w`. `dec` is the per-local-
    * doc decay factor (1.0 when decay is disabled).
    */
  final case class Shard(
      ids: Array[Long],
      dec: Array[Double],
      tokens: Array[String],
      offsets: Array[Int],
      docIx: Array[Int],
      w: Array[Double]) {

    @transient lazy val tokenSlot: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](tokens.length * 2)
      var i = 0
      while (i < tokens.length) { m.put(tokens(i), i); i += 1 }
      m
    }

    @transient lazy val idSlot: scala.collection.mutable.LongMap[Int] = {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var i = 0
      while (i < ids.length) { m.update(ids(i), i); i += 1 }
      m
    }
  }

  /** Build the doc-major shard index — offline, one shuffle (the
    * repartition by doc id), cache the result like [[Ivf.servingIndex]].
    *
    * @param allIds one-`idCol`-column frame of EVERY doc (docs without
    *   postings still carry a decay factor the fused plan would apply to
    *   their vector-leg score).
    * @param dec    [[Fusion.decayFrame]] output; None = decay disabled.
    */
  def buildShards(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None): org.apache.spark.rdd.RDD[Shard] = {
    val (wp, decN) = weightedAndDecay(allIds, post, idCol, dec,
      prebuiltDocLengths, prebuiltTokenDf)
    val joined = decN
      .join(wp.select(col(idCol).cast("long").as("_id"), col("token"),
        col("w").cast("double").as("w")), Seq("_id"), "left")
    docMajor(joined, numShards).rdd.mapPartitions { it =>
      val b = new ShardBuilder[Nothing]
      val idIdx = scala.collection.mutable.LongMap.empty[Int]
      it.foreach { r =>
        val li = idIdx.getOrElseUpdate(r.getLong(0),
          b.addDoc(r.getLong(0), r.getDouble(1)))
        if (!r.isNullAt(2)) b.addPost(r.getString(2), li, r.getDouble(3))
      }
      if (b.ids.isEmpty) Iterator.empty else Iterator.single(b.text())
    }
  }

  /** The shared build prep: BM25 term weights over the (prebuilt or
    * derived) corpus statistics, plus the per-doc decay frame normalized
    * to `(_id: long, _dec: double coalesced to 1.0)` — one policy for
    * both serving layouts ([[buildShards]] / [[buildCombined]]).
    */
  private def weightedAndDecay(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      dec: Option[DataFrame],
      prebuiltDocLengths: Option[DataFrame],
      prebuiltTokenDf: Option[DataFrame],
      frozenStats: Option[(Long, Double)] = None): (DataFrame, DataFrame) = {
    val dls = prebuiltDocLengths.getOrElse(
      Bm25.docLengthsFromPostings(allIds, post, idCol))
    val tdf = prebuiltTokenDf.getOrElse(Bm25.tokenDf(post))
    val wp = Bm25.weightedPostings(post, dls, tdf, idCol, frozenStats)
    val decDf = dec.getOrElse(allIds.select(col(idCol), lit(1.0).as("_dec")))
    val decN = decDf.select(col(idCol).cast("long").as("_id"),
      coalesce(col("_dec").cast("double"), lit(1.0)).as("_dec"))
    (wp, decN)
  }

  /** Doc-major repartition shared by both layouts: hash on the doc id,
    * explicit shard count when given.
    */
  private def docMajor(joined: DataFrame, numShards: Int): DataFrame =
    if (numShards > 0) joined.repartition(numShards, col("_id"))
    else joined.repartition(col("_id"))

  /** One partition's doc-major build state — docs with their decay
    * factors, per-token posting builders and, for the combined layouts,
    * encoded vector rows grouped by IVF bucket. Every shard producer fills
    * one: [[buildShards]] (per-posting rows), [[buildCombinedOf]] and
    * [[loadCombinedOf]] (per-doc rows) and [[compactCombinedOf]] (the
    * surviving docs of resident shards), so the layout logic exists once.
    */
  private final class ShardBuilder[R] {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val decB = scala.collection.mutable.ArrayBuffer.empty[Double]
    val byTok = new java.util.HashMap[String,
      (scala.collection.mutable.ArrayBuilder.ofInt,
       scala.collection.mutable.ArrayBuilder.ofDouble)]()
    val byBucket = scala.collection.mutable.LongMap
      .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
              scala.collection.mutable.ArrayBuffer[R])]

    /** Appends a doc; returns its local index. */
    def addDoc(id: Long, dec: Double): Int = {
      ids += id; decB += dec; ids.length - 1
    }

    /** The (local docs, weights) posting builder of `token`. */
    def slot(token: String): (scala.collection.mutable.ArrayBuilder.ofInt,
        scala.collection.mutable.ArrayBuilder.ofDouble) = {
      var e = byTok.get(token)
      if (e == null) {
        e = (new scala.collection.mutable.ArrayBuilder.ofInt,
          new scala.collection.mutable.ArrayBuilder.ofDouble)
        byTok.put(token, e)
      }
      e
    }

    def addPost(token: String, li: Int, w: Double): Unit = {
      val e = slot(token)
      e._1 += li
      e._2 += w
    }

    def addVec(bucket: Long, li: Int, row: R): Unit = {
      val e = byBucket.getOrElseUpdate(bucket,
        (new scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuffer.empty[R]))
      e._1 += li
      e._2 += row
    }

    /** The token-CSR [[Shard]] over the docs and postings added so far. */
    def text(): Shard = {
      val nTok = byTok.size
      val toks = new Array[String](nTok)
      val slotEntries = new Array[(Array[Int], Array[Double])](nTok)
      val eIt = byTok.entrySet().iterator()
      var s = 0
      while (eIt.hasNext) {
        val e = eIt.next()
        toks(s) = e.getKey
        slotEntries(s) = (e.getValue._1.result(), e.getValue._2.result())
        s += 1
      }
      val offsets = new Array[Int](nTok + 1)
      var total = 0
      s = 0
      while (s < nTok) {
        offsets(s) = total; total += slotEntries(s)._1.length; s += 1
      }
      offsets(nTok) = total
      val docIx = new Array[Int](total)
      val w = new Array[Double](total)
      s = 0
      while (s < nTok) {
        System.arraycopy(slotEntries(s)._1, 0, docIx, offsets(s),
          slotEntries(s)._1.length)
        System.arraycopy(slotEntries(s)._2, 0, w, offsets(s),
          slotEntries(s)._2.length)
        s += 1
      }
      Shard(ids.toArray, decB.toArray, toks, offsets, docIx, w)
    }

    /** The partition's combined shard, or nothing when no doc was added:
      * the text shard plus bucket-major vector blocks — buckets sorted
      * ascending (a deterministic layout; scan results don't depend on it,
      * the (distance, id) total order handles ties), CSR offsets over the
      * rows, rows packed by the codec.
      */
    def finish[B, Q](codec: VecCodec[B, R, Q]): Iterator[CombinedShardOf[B]] =
      if (ids.isEmpty) Iterator.empty
      else {
        val bs = byBucket.keys.toArray.sorted
        val bOff = new Array[Int](bs.length + 1)
        val vecLocal = new scala.collection.mutable.ArrayBuilder.ofInt
        val rows = scala.collection.mutable.ArrayBuffer.empty[R]
        var b = 0
        while (b < bs.length) {
          bOff(b) = rows.length
          vecLocal ++= byBucket(bs(b))._1.result()
          rows ++= byBucket(bs(b))._2
          b += 1
        }
        bOff(bs.length) = rows.length
        Iterator.single(CombinedShardOf(text(), bs, bOff, vecLocal.result(),
          codec.pack(rows)))
      }
  }

  /** Score one query's tokens into a shard's epoch-tagged accumulators —
    * the BM25 hot loop shared by [[fusedTopK]], [[fusedTopKCombined]] and
    * [[textScores]]. For each (token, qn) with a posting slot, folds
    * `qn · w` into `acc` over the slot's CSR block, tagging first-touched
    * docs into `touched`. Returns the touched count; `acc(touched(i))` is
    * doc i's raw BM25 score for this query. Callers bump `epoch` per
    * query; tokens must be in sorted order for deterministic summation.
    */
  private def scoreTokens(
      sh: Shard,
      toks: Array[(String, Int)],
      acc: Array[Double],
      seen: Array[Int],
      touched: Array[Int],
      epoch: Int): Int = {
    var tn = 0
    var t = 0
    while (t < toks.length) {
      val slot = sh.tokenSlot.get(toks(t)._1)
      if (slot != null) {
        val s = slot.intValue
        val qn = toks(t)._2.toDouble
        var e = sh.offsets(s)
        val end = sh.offsets(s + 1)
        while (e < end) {
          val d = sh.docIx(e)
          if (seen(d) != epoch) {
            seen(d) = epoch; acc(d) = 0.0; touched(tn) = d; tn += 1
          }
          acc(d) += qn * sh.w(e)
          e += 1
        }
      }
      t += 1
    }
    tn
  }

  /** Per-partition fused-serving partial: per query, the raw-score max,
    * a k-bounded text-candidate list ranked by `-(raw·dec)` with
    * (key asc, id asc) ties — the same total order as the fused plan's
    * pruning TopK (normalization divides by a positive per-query max, so
    * ranking on raw·dec ≡ ranking on tscore·dec) — and the (raw, dec)
    * hydration for the vector leg's ids owned by this partition. Doc-
    * major sharding makes merges disjoint per doc, so `merge` is a plain
    * bounded union like [[Ivf.TopK.merge]].
    */
  private final class FusedPartial(nq: Int, k: Int) extends Serializable {
    val maxRaw: Array[Double] = Array.fill(nq)(0.0)
    val key: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(Double.MaxValue))
    val pid: Array[Array[Long]] = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
    val praw: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(0.0))
    val pdec: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(1.0))
    // id -> (raw text score or 0, dec, hasTextHit) for vector-leg ids.
    val hyd: Array[scala.collection.mutable.LongMap[(Double, Double, Boolean)]] =
      Array.fill(nq)(scala.collection.mutable.LongMap.empty)

    def insert(qi: Int, sortKey: Double, id: Long, raw: Double, dec: Double): Unit = {
      val kd = key(qi); val ki = pid(qi); val kr = praw(qi); val kc = pdec(qi)
      val last = kd.length - 1
      if (sortKey > kd(last) || (sortKey == kd(last) && id > ki(last))) return
      var j = last
      while (j > 0 && (kd(j - 1) > sortKey ||
        (kd(j - 1) == sortKey && ki(j - 1) > id))) {
        kd(j) = kd(j - 1); ki(j) = ki(j - 1); kr(j) = kr(j - 1); kc(j) = kc(j - 1)
        j -= 1
      }
      kd(j) = sortKey; ki(j) = id; kr(j) = raw; kc(j) = dec
    }

    def merge(o: FusedPartial): FusedPartial = {
      var qi = 0
      while (qi < maxRaw.length) {
        if (o.maxRaw(qi) > maxRaw(qi)) maxRaw(qi) = o.maxRaw(qi)
        val okd = o.key(qi)
        var j = 0
        while (j < okd.length && okd(j) < Double.MaxValue) {
          insert(qi, okd(j), o.pid(qi)(j), o.praw(qi)(j), o.pdec(qi)(j))
          j += 1
        }
        o.hyd(qi).foreach { case (id, v) => hyd(qi).update(id, v) }
        qi += 1
      }
      this
    }
  }

  /** Serve a fused hybrid batch: [[Fusion.searchWithFusionBatch]]
    * semantics (vector `1/(1+d)` ⨝ per-query max-normalized BM25,
    * α-blend, decay multiplier, per-query top-k by (score desc, id asc))
    * in ONE executor pass over the shards plus driver math.
    *
    * @param qTokens analyzed query tokens `(qid, token, qn)` — a
    *   driver-bounded batch.
    * @param vecTop  the ANN serving leg's `(qid, id, distance)` rows
    *   (e.g. [[Ivf.searchBatchedFast]] output) — per qid a top-k with
    *   distinct ids, per the fused plan's contract.
    * @return (qid, idCol, score) — per-qid top-k.
    */
  def fusedTopK(
      shards: org.apache.spark.rdd.RDD[Shard],
      qTokens: DataFrame,
      vecTop: DataFrame,
      alpha0: Double,
      k: Int,
      idCol: String = "id"): DataFrame = {
    val spark = qTokens.sparkSession
    import spark.implicits._
    val alpha = if (alpha0 < 0 || alpha0 > 1) 0.5 else alpha0

    // The two input legs are independent jobs — the ANN leg (vecTop is
    // usually an un-materialized probe-pruned scan) runs CONCURRENTLY
    // with the query-token collect instead of after it, shaving one
    // serial job round-trip off every call (most visible at batch size
    // 1, where job latency is the whole cost).
    // `blocking` marks the collect for ForkJoinPool's managed-blocking
    // compensation: N concurrent fusedTopK callers must not pin all of
    // global's workers and serialize each other's ANN legs — the exact
    // load this overlap exists for.
    val vFut = scala.concurrent.Future(scala.concurrent.blocking(vecTop
      .select(col("qid").cast("long"), col(idCol).cast("long"),
        col("distance").cast("double"))
      .collect()))(scala.concurrent.ExecutionContext.global)
    val qrows =
      try qTokens
        .select(col("qid").cast("long"), col("token"), col("qn").cast("int"))
        .collect()
      catch { case e: Throwable =>
        // Don't orphan the in-flight ANN job if the token leg fails.
        scala.concurrent.Await.ready(vFut,
          scala.concurrent.duration.Duration.Inf)
        throw e
      }
    val vrows = scala.concurrent.Await.result(vFut,
      scala.concurrent.duration.Duration.Inf)
    val qids = (qrows.map(_.getLong(0)) ++ vrows.map(_.getLong(0)))
      .distinct.sorted
    val qIndex = qids.zipWithIndex.toMap
    val nq = qids.length
    if (nq == 0) return Seq.empty[(Long, Long, Double)].toDF("qid", idCol, "score")

    // Sorted-token order fixes each doc's term-summation order.
    val qToks: Array[Array[(String, Int)]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[(String, Int)])
      qrows.foreach(r => b(qIndex(r.getLong(0))) += ((r.getString(1), r.getInt(2))))
      b.map(_.sortBy(_._1).toArray)
    }
    val vecIds: Array[Array[Long]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[Long])
      vrows.foreach(r => b(qIndex(r.getLong(0))) += r.getLong(1))
      b.map(_.toArray)
    }
    val vecDist: Array[Array[Double]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[Double])
      vrows.foreach(r => b(qIndex(r.getLong(0))) += r.getDouble(2))
      b.map(_.toArray)
    }

    val bc = shards.sparkContext.broadcast((qToks, vecIds))
    val partials = shards.mapPartitions { it =>
      val (toksByQ, vidsByQ) = bc.value
      val p = new FusedPartial(toksByQ.length, k)
      it.foreach { sh =>
        val n = sh.ids.length
        val acc = new Array[Double](n)
        val seen = new Array[Int](n)
        val touched = new Array[Int](n)
        var epoch = 0
        var qi = 0
        while (qi < toksByQ.length) {
          epoch += 1
          val tn = scoreTokens(sh, toksByQ(qi), acc, seen, touched, epoch)
          var i = 0
          while (i < tn) {
            val d = touched(i)
            val raw = acc(d)
            if (raw > p.maxRaw(qi)) p.maxRaw(qi) = raw
            p.insert(qi, -(raw * sh.dec(d)), sh.ids(d), raw, sh.dec(d))
            i += 1
          }
          val vi = vidsByQ(qi)
          var j = 0
          while (j < vi.length) {
            val d = sh.idSlot.getOrElse(vi(j), -1)
            if (d >= 0) {
              val hasText = seen(d) == epoch
              p.hyd(qi).update(vi(j),
                (if (hasText) acc(d) else 0.0, sh.dec(d), hasText))
            }
            j += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials, new FusedPartial(nq, k),
      (a: FusedPartial, b: FusedPartial) => a.merge(b))
    val out = blendTopK(qids, merged, vecIds, vecDist,
      (qi, id) => merged.hyd(qi).get(id), alpha, k)
    bc.destroy()
    out.toSeq.toDF("qid", idCol, "score")
  }

  /** Driver fusion over ≤ (k + |vec leg|) candidates per query — the
    * plan's full-outer join + α-blend + decay + rank, in plain math.
    * Shared by [[fusedTopK]] (hydration from the merged partial's id map)
    * and [[fusedTopKCombined]] (hydration attached to each vector
    * candidate at scan time): `hyd(qi, id)` returns the text raw score,
    * decay factor and has-text-hit flag the owning partition recorded for
    * a vector-leg id, None when no partition owns the id.
    */
  private def blendTopK(
      qids: Array[Long],
      merged: FusedPartial,
      vecIds: Array[Array[Long]],
      vecDist: Array[Array[Double]],
      hyd: (Int, Long) => Option[(Double, Double, Boolean)],
      alpha: Double,
      k: Int): scala.collection.mutable.ArrayBuffer[(Long, Long, Double)] = {
    final case class Cand(var tRaw: Double, var hasT: Boolean,
      var vdist: Double, var hasV: Boolean, var dec: Double)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var qi = 0
    while (qi < qids.length) {
      val mx = merged.maxRaw(qi)
      val cand = scala.collection.mutable.LongMap.empty[Cand]
      val kd = merged.key(qi)
      var j = 0
      while (j < kd.length && kd(j) < Double.MaxValue) {
        cand.update(merged.pid(qi)(j),
          Cand(merged.praw(qi)(j), hasT = true, 0.0, hasV = false,
            merged.pdec(qi)(j)))
        j += 1
      }
      val vi = vecIds(qi)
      j = 0
      while (j < vi.length) {
        val c = cand.getOrElseUpdate(vi(j),
          Cand(0.0, hasT = false, 0.0, hasV = false, 1.0))
        c.vdist = vecDist(qi)(j); c.hasV = true
        hyd(qi, vi(j)).foreach { case (raw, dec, hasText) =>
          c.dec = dec
          if (hasText && !c.hasT) { c.tRaw = raw; c.hasT = true }
        }
        j += 1
      }
      val scored = cand.iterator.map { case (id, c) =>
        val tscore =
          if (!c.hasT) 0.0
          else if (mx > 0) c.tRaw / mx
          else c.tRaw
        val vscore = if (c.hasV) 1.0 / (1.0 + c.vdist) else 0.0
        val fused = alpha * vscore + (1.0 - alpha) * tscore
        (id, fused * c.dec)
      }.toArray
      java.util.Arrays.sort(scored, new java.util.Comparator[(Long, Double)] {
        def compare(a: (Long, Double), b: (Long, Double)): Int = {
          val c = java.lang.Double.compare(b._2, a._2)
          if (c != 0) c else java.lang.Long.compare(a._1, b._1)
        }
      })
      val qid = qids(qi)
      var r = 0
      while (r < scored.length && r < k) {
        out += ((qid, scored(r)._1, scored(r)._2))
        r += 1
      }
      qi += 1
    }
    out
  }

  /** A [[Shard]] plus the SAME partition's vectors laid out bucket-major:
    * `buckets(b)` owns vector rows `[bOff(b), bOff(b+1))`; row `r` is the
    * local doc `vecLocal(r)` (an index into `text.ids`/`text.dec`), its
    * vector held in `vecs`, a [[F32Block]] or [[Int8Block]]. Doc-major
    * partitioning means a doc's postings, decay factor AND vector live in
    * ONE partition — the layout a search-engine shard uses, and what lets
    * a fused hybrid query run both legs plus hydration in a single
    * executor pass ([[fusedTopKCombined]]).
    */
  final case class CombinedShardOf[B](
      text: Shard,
      buckets: Array[Long],
      bOff: Array[Int],
      vecLocal: Array[Int],
      vecs: B) {

    @transient lazy val bucketBlock: scala.collection.mutable.LongMap[Int] = {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var i = 0
      while (i < buckets.length) { m.update(buckets(i), i); i += 1 }
      m
    }
  }

  /** The f32 combined shard. */
  type CombinedShard = CombinedShardOf[F32Block]

  /** The COMPRESSED combined shard: int8 vector blocks, 4× less resident
    * vector memory, same doc-major text/decay co-location.
    */
  type CombinedShardInt8 = CombinedShardOf[Int8Block]

  /** f32 vector rows: row `r`'s floats at `flat(r*dim, (r+1)*dim)`. */
  final case class F32Block(flat: Array[Float], dim: Int) {

    /** Per-row ‖x‖² for the L2 path, float-accumulated exactly like
      * [[Ivf.searchBatchedFast]]'s per-block scratch so L2 distances stay
      * bit-identical; computed once per shard on first L2 query.
      */
    @transient lazy val rowSq: Array[Float] = {
      val n = if (dim == 0) 0 else flat.length / dim
      val out = new Array[Float](n)
      var r = 0
      var off = 0
      while (r < n) {
        var s = 0f
        var j = 0
        while (j < dim) { val x = flat(off + j); s += x * x; j += 1 }
        out(r) = s
        r += 1
        off += dim
      }
      out
    }
  }

  /** int8 vector rows ([[Ivf.quantizeArray]] / [[Ivf.int8Norm]], the
    * reference's `DB.Compress` mode): row `r`'s codes at
    * `codes(r*dim, (r+1)*dim)`, its norm at `norms(r)`.
    */
  final case class Int8Block(codes: Array[Byte], norms: Array[Float], dim: Int)

  /** One query prepared for the f32 kernel; `sq` = ‖q‖² on the l2 path. */
  private[graft] final case class F32Query(v: Array[Float], l2: Boolean,
      sq: Double)

  /** One query prepared for the int8 kernel: its codes and their norm. */
  private[graft] final case class Int8Query(codes: Array[Byte], norm: Double)

  /** What the f32 and int8 combined layouts do differently, and nothing
    * else: row encoding, the block layout `B` (one encoded row is an `R`),
    * query preparation (`Q`) and the per-row distance kernel, the
    * persisted doc-row columns and meta scalars, and the MMR pool payload.
    * Assembly, append, compaction, persistence and both one-job serving
    * scans exist once, generic over the codec. The shared scans make one
    * [[dist]] call per candidate row — two implementations, so the call
    * site stays bimorphic and inlinable when f32 and int8 batches
    * alternate — and each `dim` loop runs over primitive arrays.
    */
  private[graft] sealed abstract class VecCodec[B, R, Q] extends Serializable {
    /** A normalized build vector, encoded. */
    def encode(v: Array[Float]): R
    /** A persisted doc row's vector, from its [[docFields]] cells starting
      * at column `at` — stored values verbatim, never re-encoded.
      */
    def stored(row: org.apache.spark.sql.Row, at: Int): R
    /** The [[docFields]] cells of one row, the inverse of [[stored]]. */
    def cells(r: R): Seq[Any]
    /** The persisted doc rows' vector columns. */
    def docFields: Seq[StructField]
    /** The `meta/` scalars a restore needs besides the frozen corpus stats. */
    def meta: Seq[(String, Double)]
    /** `rows`, in order, as one block (`dim` 0 when there are none). */
    def pack(rows: scala.collection.IndexedSeq[R]): B
    /** Row `r` of `b`, copied. */
    def row(b: B, r: Int): R
    /** Queries for [[dist]], once per batch on the driver; `metric` picks
      * f32's kernel (int8 is cosine-only).
      */
    def prepare(qvecs: Array[Array[Float]], metric: String): Array[Q]
    /** The ANN distance of row `r` of `b` to `q`. */
    def dist(b: B, r: Int, q: Q): Double
    /** Row `r`'s MMR pool payload, copied only for accepted candidates. */
    def poolRow(b: B, r: Int): AnyRef
    /** The vector the greedy MMR chain compares, from a pool payload. */
    def poolVec(p: AnyRef): Array[Float]
  }

  /** The f32 codec: rows stored as given; cosine = `1 − dot` over
    * pre-normalized vectors, l2 = squared euclidean via
    * `‖x‖² − 2x·q + ‖q‖²` — the metric contract and float accumulation of
    * [[Ivf.searchBatchedFast]], so the vector leg is bit-identical to the
    * two-leg pipeline's.
    */
  private[graft] object F32Codec
      extends VecCodec[F32Block, Array[Float], F32Query] {
    def encode(v: Array[Float]): Array[Float] = v
    def stored(row: org.apache.spark.sql.Row, at: Int): Array[Float] =
      row.getSeq[Float](at).toArray
    def cells(r: Array[Float]): Seq[Any] = Seq(r)
    def docFields: Seq[StructField] = Seq(StructField("_vec",
      ArrayType(FloatType, containsNull = false), nullable = true))
    def meta: Seq[(String, Double)] = Nil
    def pack(rows: scala.collection.IndexedSeq[Array[Float]]): F32Block = {
      val d = if (rows.isEmpty) 0 else rows(0).length
      val flat = new Array[Float](rows.length * d)
      var r = 0
      while (r < rows.length) {
        System.arraycopy(rows(r), 0, flat, r * d, d)
        r += 1
      }
      F32Block(flat, d)
    }
    def row(b: F32Block, r: Int): Array[Float] =
      java.util.Arrays.copyOfRange(b.flat, r * b.dim, (r + 1) * b.dim)
    def prepare(qvecs: Array[Array[Float]], metric: String): Array[F32Query] =
      qvecs.map { qv =>
        var s = 0.0; var j = 0
        if (metric == "l2")
          while (j < qv.length) { s += qv(j).toDouble * qv(j); j += 1 }
        F32Query(qv, metric == "l2", s)
      }
    def dist(b: F32Block, r: Int, q: F32Query): Double = {
      val flat = b.flat
      val qv = q.v
      val dim = b.dim
      val off = r * dim
      var dot = 0f
      var j = 0
      while (j < dim) { dot += flat(off + j) * qv(j); j += 1 }
      if (q.l2) b.rowSq(r).toDouble - 2.0d * dot + q.sq else 1.0d - dot
    }
    def poolRow(b: F32Block, r: Int): AnyRef = row(b, r)
    def poolVec(p: AnyRef): Array[Float] = p.asInstanceOf[Array[Float]]
  }

  /** The int8 codec: rows quantized against the index's trained `absMax`
    * ([[graft.search.Quantizer]]'s protocol), scored with the integer-dot
    * int8-cosine kernel — per candidate `1 − clamp(dot/(‖x‖·‖q‖))`, zero-
    * norm sides scoring 1.0, exactly as [[Ivf.searchBatchedFastInt8]]
    * scores, so the vector leg is bit-identical to the two-leg int8
    * pipeline. Cosine only, like the reference's int8 mode. `absMax` is a
    * frozen artifact of the index: encoding rows and preparing queries
    * read it; stored codes and norms are carried verbatim (load,
    * compaction, save), never re-quantized.
    */
  private[graft] final case class Int8Codec(absMax: Double)
      extends VecCodec[Int8Block, (Array[Byte], Float), Int8Query] {
    def encode(v: Array[Float]): (Array[Byte], Float) = {
      val q = Ivf.quantizeArray(v, absMax)
      (q, Ivf.int8Norm(q))
    }
    def stored(row: org.apache.spark.sql.Row, at: Int): (Array[Byte], Float) =
      (row.getAs[Array[Byte]](at), row.getFloat(at + 1))
    def cells(r: (Array[Byte], Float)): Seq[Any] = Seq(r._1, r._2)
    def docFields: Seq[StructField] = Seq(
      StructField("_codes", BinaryType, nullable = true),
      StructField("_norm", FloatType, nullable = true))
    def meta: Seq[(String, Double)] = Seq("abs_max" -> absMax)
    def pack(rows: scala.collection.IndexedSeq[(Array[Byte], Float)]): Int8Block = {
      val d = if (rows.isEmpty) 0 else rows(0)._1.length
      val codes = new Array[Byte](rows.length * d)
      val norms = new Array[Float](rows.length)
      var r = 0
      while (r < rows.length) {
        System.arraycopy(rows(r)._1, 0, codes, r * d, d)
        norms(r) = rows(r)._2
        r += 1
      }
      Int8Block(codes, norms, d)
    }
    def row(b: Int8Block, r: Int): (Array[Byte], Float) =
      (java.util.Arrays.copyOfRange(b.codes, r * b.dim, (r + 1) * b.dim),
        b.norms(r))
    def prepare(qvecs: Array[Array[Float]], metric: String): Array[Int8Query] =
      qvecs.map { qv =>
        val qc = Ivf.quantizeArray(qv, absMax)
        Int8Query(qc, Ivf.int8Norm(qc).toDouble)
      }
    def dist(b: Int8Block, r: Int, q: Int8Query): Double = {
      val codes = b.codes
      val qc = q.codes
      val dim = b.dim
      val off = r * dim
      var dot = 0
      var j = 0
      while (j < dim) { dot += codes(off + j).toInt * qc(j).toInt; j += 1 }
      val norm = b.norms(r)
      if (norm == 0f || q.norm == 0.0) 1.0
      else {
        var sim = dot.toDouble / (norm.toDouble * q.norm)
        if (sim > 1.0) sim = 1.0
        if (sim < -1.0) sim = -1.0
        1.0 - sim
      }
    }
    /** The candidate's CODES — 4× less pool network than f32 vectors. */
    def poolRow(b: Int8Block, r: Int): AnyRef =
      java.util.Arrays.copyOfRange(b.codes, r * b.dim, (r + 1) * b.dim)
    /** Codes mapped to floats: cosine is scale-invariant, so similarity
      * over raw code values IS the int8-domain cosine (the `absMax/127`
      * dequantization factor cancels in `dot/(‖a‖·‖b‖)`) — no dequantized
      * copy is ever materialized.
      */
    def poolVec(p: AnyRef): Array[Float] = {
      val c = p.asInstanceOf[Array[Byte]]
      val f = new Array[Float](c.length)
      var j = 0
      while (j < c.length) { f(j) = c(j).toFloat; j += 1 }
      f
    }
  }

  /** One driver-resident hybrid query for [[fusedTopKCombined]]: the
    * normalized query vector plus per-token analyzed counts (the `qTokens`
    * rows, already grouped — one entry per distinct token). Queries
    * originate at the driver in a serving path, so taking them as plain
    * values (not a DataFrame) removes the collect jobs the two-leg path
    * pays per call. `tokens` may be empty (vector-only query).
    */
  final case class ServedQuery(
      qid: Long,
      qvec: Array[Float],
      tokens: Array[(String, Int)])

  /** Collect a DataFrame-shaped query batch into driver-resident
    * [[ServedQuery]] values — the one conversion the bench and specs
    * share. `qVecs`: (qid, qvec); `qTokens`: (qid, token, qn), already
    * per-token grouped. A qid missing from `qTokens` serves vector-only
    * (empty tokens); a qid missing from `qVecs` is not emitted —
    * combined serving is hybrid by contract (route tokens-only work
    * through [[fusedTopK]]).
    */
  def collectServedQueries(
      qVecs: DataFrame,
      qTokens: DataFrame): Seq[ServedQuery] = {
    val vecByQ = qVecs.select(col("qid").cast("long"), col("qvec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val toksByQ = qTokens
      .select(col("qid").cast("long"), col("token"), col("qn").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt))
      .groupBy(_._1)
    vecByQ.keys.toSeq.sorted.map { qid =>
      ServedQuery(qid, vecByQ(qid),
        toksByQ.getOrElse(qid, Array.empty).map(x => (x._2, x._3)))
    }
  }

  /** The combined layouts' shared input frame, doc-major partitioned:
    * one row per doc — `(_id, _dec, _bucket, _post, _vec)` with postings
    * aggregated to a list (bounded by doc length) and vector + bucket
    * left-joined, so postings never replicate per-token with the vector
    * payload.
    *
    * PRECONDITION (ADVICE r15): `assigned` ⊆ the doc SPINE — the decay
    * frame when `dec` is given, `allIds` otherwise (the decay frame IS
    * the served doc universe: the vector and posting legs both LEFT-join
    * onto it). A doc present in `assigned` but absent from the spine
    * silently disappears from the combined vector leg — where the
    * two-leg path (a separately built [[Ivf.servingIndex]]) would still
    * return it, breaking the bit-identity the combined paths are
    * spec-pinned to. The builders assert it cheaply: extra `assigned`
    * rows surviving an anti-join against the spine fail the build loudly
    * instead of serving with silent recall loss.
    */
  private def combinedRows(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      dec: Option[DataFrame],
      numShards: Int,
      prebuiltDocLengths: Option[DataFrame],
      prebuiltTokenDf: Option[DataFrame],
      frozenStats: Option[(Long, Double)]): DataFrame = {
    val (wp, decN) = weightedAndDecay(allIds, post, idCol, dec,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats)
    val pAgg = wp.groupBy(col(idCol).cast("long").as("_id"))
      .agg(collect_list(struct(col("token"),
        col("w").cast("double").as("w"))).as("_post"))
    val vSel = assigned.select(col(idCol).cast("long").as("_id"),
      col("vector").cast("array<float>").as("_vec"),
      col("bucket").cast("long").as("_bucket"))
    // assigned ⊆ spine precondition check (see scaladoc): one anti-join
    // count against decN — the served doc universe — at build time.
    // Builds are offline/untimed, and a violation here is silent recall
    // loss at serve time.
    val orphans = vSel.join(decN.select(col("_id")), Seq("_id"), "left_anti")
      .count()
    require(orphans == 0,
      s"combined serving build: $orphans assigned doc(s) missing from " +
        "the doc spine (the decay frame, or allIds when decay is " +
        "disabled) — the vector leg would silently drop them")
    docMajor(decN.join(vSel, Seq("_id"), "left")
      .join(pAgg, Seq("_id"), "left")
      .select(col("_id"), col("_dec"), col("_bucket"), col("_post"),
        col("_vec")), numShards)
  }

  /** Build the combined doc-major serving state: ONE repartition by doc id
    * co-locates each doc's aggregated posting list, decay factor, vector
    * and IVF bucket, and each partition assembles its [[Shard]] plus
    * bucket-major vector blocks. Offline, cached like [[buildShards]] /
    * [[Ivf.servingIndex]] — at cluster scale the combined shard is the
    * natural persisted layout for a hybrid index (the reference keeps the
    * HNSW arena, postings and metadata of a collection on one node for
    * the same reason).
    *
    * @param assigned `(idCol, vector, bucket)` — [[Ivf.assignFast]] output
    *   over NORMALIZED vectors (the serving kernels' cosine contract).
    *   Docs missing from it (or with a null vector) still text-serve.
    */
  def buildCombined(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None,
      frozenStats: Option[(Long, Double)] = None): org.apache.spark.rdd.RDD[CombinedShard] =
    buildCombinedOf(F32Codec, allIds, post, idCol, assigned, dec, numShards,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats)

  /** [[buildCombined]] into the compressed layout: vector blocks quantized
    * at build time against the caller's trained `absMax` ([[Int8Codec]]).
    */
  def buildCombinedInt8(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      absMax: Double,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None,
      frozenStats: Option[(Long, Double)] = None): org.apache.spark.rdd.RDD[CombinedShardInt8] =
    buildCombinedOf(Int8Codec(absMax), allIds, post, idCol, assigned, dec,
      numShards, prebuiltDocLengths, prebuiltTokenDf, frozenStats)

  /** [[buildCombined]] for either codec. */
  private[graft] def buildCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      dec: Option[DataFrame],
      numShards: Int,
      prebuiltDocLengths: Option[DataFrame],
      prebuiltTokenDf: Option[DataFrame],
      frozenStats: Option[(Long, Double)]): org.apache.spark.rdd.RDD[CombinedShardOf[B]] =
    combinedRows(allIds, post, idCol, assigned, dec, numShards,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats).rdd
      .mapPartitions(assemble(codec,
        r => codec.encode(r.getSeq[Float](4).toArray)))

  /** Assemble one partition of `(_id, _dec, _bucket, _post, vector…)`
    * rows — the [[combinedRows]] frame, or a persisted snapshot's doc rows
    * ([[loadCombinedOf]]), positionally — into one combined shard. `vec`
    * encodes a row's vector from its cells at column 4 on; a null there
    * (or a null bucket) is a text-only doc.
    */
  private def assemble[B, R, Q](
      codec: VecCodec[B, R, Q],
      vec: org.apache.spark.sql.Row => R)(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[CombinedShardOf[B]] = {
    val b = new ShardBuilder[R]
    it.foreach { r =>
      val li = b.addDoc(r.getLong(0), r.getDouble(1))
      if (!r.isNullAt(2) && !r.isNullAt(4)) b.addVec(r.getLong(2), li, vec(r))
      if (!r.isNullAt(3))
        r.getSeq[org.apache.spark.sql.Row](3).foreach(p =>
          b.addPost(p.getString(0), li, p.getDouble(1)))
    }
    b.finish(codec)
  }

  /** Incremental ingest into the combined serving index (VERDICT r15
    * next-round #3) — the combined twin of [[graft.streaming.Streams]]'
    * `ivfIngest`: a micro-batch of NEW documents becomes a small
    * SEGMENT (its own doc-major `RDD[CombinedShard]` over just the batch)
    * unioned onto the live index. The union is still served by ONE Spark
    * job ([[fusedTopKCombined]] runs over partitions; a union only adds
    * partitions), the partials stay k-bounded, and no existing shard is
    * rewritten — exactly how `ivfIngest` appends parquet files the next
    * probe scan picks up, and how a search engine lands micro-batches as
    * fresh segments. Periodic offline compaction = a full
    * [[buildCombined]] rebuild, the analogue of refreshing `ivfIngest`'s
    * frozen centroids.
    *
    * Frozen-artifact discipline (the same contract as the frozen IVF
    * centroids and the streaming gates' frozen LMs): the segment's BM25
    * weights are computed against the base index's FROZEN corpus
    * statistics — `frozenStats` = [[Bm25.corpusStats]] at the last
    * rebuild, `prebuiltTokenDf` = that rebuild's token-df artifact — so
    * already-served documents' scores never drift as batches land. A
    * batch token absent from the frozen tdf stays unsearchable until the
    * next stats refresh (reference context: kektordb re-indexes postings
    * per insert, `pkg/engine/ops.go:268`; at 100 TB per-insert global-df
    * refresh is the part that cannot scale, frozen-stats segments are
    * the standard serving answer). With identical frozen artifacts,
    * `append(build(base), batch)` serves results equal to
    * `build(base ∪ batch)` — pinned by ServingFusionSpec.
    *
    * PRECONDITIONS: batch doc ids are DISJOINT from the base index's (an
    * id present in both would be scored twice — append-only segments, no
    * upsert; route updates through compaction), and `newAssigned` ⊆
    * `newIds` (checked by [[combinedRows]]). Pass `baseMaxId` — the base
    * index's maximum doc id, a driver-held scalar the builder records
    * once per rebuild — to CHECK the disjointness for pennies (VERDICT
    * r16 #3): ids at or below the watermark fail the append loudly
    * instead of silently double-scoring. The watermark shape assumes
    * monotone id assignment (the oplog's, and every ingest pipeline
    * here); id spaces that interleave need the compaction route anyway.
    *
    * Caching discipline: cache the SEGMENT (or let this method's result
    * stay lazy over an already-cached base) — caching the returned union
    * itself re-stores every base partition, the duplication a segment
    * architecture exists to avoid. [[graft.streaming.Streams]]'
    * `combinedIngest` shows the shape: materialize the segment, then
    * swap in the lazy union.
    */
  def appendCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      newIds: DataFrame,
      newPost: DataFrame,
      idCol: String,
      newAssigned: DataFrame,
      frozenStats: (Long, Double),
      prebuiltTokenDf: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      baseMaxId: Option[Long] = None): org.apache.spark.rdd.RDD[CombinedShard] =
    appendCombinedOf(F32Codec, index, newIds, newPost, idCol, newAssigned,
      frozenStats, prebuiltTokenDf, dec, numShards, baseMaxId)

  /** [[appendCombined]] onto the compressed layout: the segment quantizes
    * against the SAME `absMax` the base index was built with (another
    * frozen artifact — re-deriving it per batch would shift every code).
    */
  def appendCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      newIds: DataFrame,
      newPost: DataFrame,
      idCol: String,
      newAssigned: DataFrame,
      absMax: Double,
      frozenStats: (Long, Double),
      prebuiltTokenDf: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      baseMaxId: Option[Long] = None): org.apache.spark.rdd.RDD[CombinedShardInt8] =
    appendCombinedOf(Int8Codec(absMax), index, newIds, newPost, idCol,
      newAssigned, frozenStats, prebuiltTokenDf, dec, numShards, baseMaxId)

  /** [[appendCombined]] for either codec. The append-only id watermark
    * check (see [[appendCombined]]'s preconditions): every arriving id
    * must be STRICTLY above `baseMaxId` — one min-aggregate over the
    * batch-sized frame.
    */
  private def appendCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      index: org.apache.spark.rdd.RDD[CombinedShardOf[B]],
      newIds: DataFrame,
      newPost: DataFrame,
      idCol: String,
      newAssigned: DataFrame,
      frozenStats: (Long, Double),
      prebuiltTokenDf: DataFrame,
      dec: Option[DataFrame],
      numShards: Int,
      baseMaxId: Option[Long]): org.apache.spark.rdd.RDD[CombinedShardOf[B]] = {
    baseMaxId.foreach { watermark =>
      val r = newIds.agg(min(col(idCol).cast("long"))).head()
      require(r.isNullAt(0) || r.getLong(0) > watermark,
        s"appendCombined: arriving id ${r.getLong(0)} is <= the base " +
          s"index's id watermark $watermark — an id present in both base " +
          "and segment would be scored twice (append-only segments, no " +
          "upsert; route updates through compaction)")
    }
    index.union(buildCombinedOf(codec, newIds, newPost, idCol, newAssigned,
      dec, numShards, prebuiltDocLengths = None,
      prebuiltTokenDf = Some(prebuiltTokenDf),
      frozenStats = Some(frozenStats)))
  }

  /** COMPACTION (the operation [[appendCombined]]'s scaladoc and the
    * serve-time tombstone/override contracts defer to): physically rewrite
    * a served combined index so the live driver-side sets can be cleared —
    * tombstoned docs are DROPPED from every shard (the reference's vacuum
    * over soft-deleted HNSW nodes, `pkg/core/hnsw/optimizer.go` via
    * `hnsw_index.go:2292` tombstones), decay overrides are BAKED into the
    * stored per-doc factors (`pkg/engine/ops.go:697`'s in-place metadata
    * mutation, realized at rewrite time), and the base + K appended
    * micro-batch segments FOLD back into `numPartitions` doc-major shards
    * — one shard per partition, the fresh-build layout — so the fused
    * job's task count stops growing with batches since the last rebuild
    * (the serve-vs-segment-count curve in the bench artifact prices
    * exactly that growth).
    *
    * Score semantics: EXACT. Every stored term weight was computed under
    * frozen corpus stats, so a doc's text score is independent of which
    * other docs exist or where they live; the decay factor is per-doc
    * multiplicative; vector rows are copied bit-for-bit and both scan
    * kernels accumulate per-doc in query-token / per-row order — layout
    * never enters. So `serve(compact(ix, T, O))` == `serve(ix,
    * tombstones = T, decOverrides = O)` bit-identically
    * (CombinedServingSpec pins it), and compaction commutes with further
    * appends. Frozen stats are NOT refreshed here — that is the full
    * rebuild's job; compaction is the cheap in-family rewrite that never
    * touches the source tables (at 100 TB the difference is a cluster
    * scan vs a pass over the resident index).
    *
    * Durability: compaction rewrites the SERVED state only. Keep the
    * segment log — restart recovery (`Streams.recoverCombinedSegments`)
    * rebuilds the same docs from base-source + log and the tombstone set
    * re-derives from the oplog's soft-deletes, which stays consistent
    * with the compacted in-memory state. Truncate the log only when the
    * base SOURCE snapshot advances past its batches (the AOF-rewrite
    * coupling, SURVEY §2 S3: snapshot first, then truncate).
    *
    * The caller caches + materializes the result before swapping it in
    * ([[graft.streaming.Streams.compactCombinedServing]] orchestrates the
    * swap and the live-set clearing).
    */
  def compactCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty,
      numPartitions: Int = 1): org.apache.spark.rdd.RDD[CombinedShard] =
    compactCombinedOf(F32Codec, index, tombstones, decOverrides, numPartitions)

  /** [[compactCombined]] over the compressed layout. Codes and stored norms
    * are copied verbatim (recomputing norms would be exact too, but
    * copying keeps the invariant self-evident), so no `absMax` is read.
    */
  def compactCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty,
      numPartitions: Int = 1): org.apache.spark.rdd.RDD[CombinedShardInt8] =
    compactCombinedOf(Int8Codec(Double.NaN), index, tombstones, decOverrides,
      numPartitions)

  /** [[compactCombined]] for either codec. */
  private def compactCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      index: org.apache.spark.rdd.RDD[CombinedShardOf[B]],
      tombstones: Array[Long],
      decOverrides: Array[(Long, Double)],
      numPartitions: Int): org.apache.spark.rdd.RDD[CombinedShardOf[B]] = {
    val tomb = sortedTombstones(tombstones)
    val (ovI, ovD) = sortedOverrides(decOverrides)
    // Regroup whole shards into `numPartitions` partitions. `coalesce`
    // alone can only REDUCE partition count (ADVICE r17: asking for more
    // shards than the union currently has silently yielded fewer) —
    // growing needs the shuffle. Whole shard OBJECTS move, never doc rows,
    // so the output shard count is min(numPartitions, input shards): a
    // compaction cannot split one resident shard, only a fresh build
    // chooses finer granularity.
    val n = math.max(1, numPartitions)
    index.coalesce(n, shuffle = n > index.getNumPartitions).mapPartitions { it =>
      val b = new ShardBuilder[R]
      it.foreach { csh =>
        val remap = vacuumText(csh.text, tomb, ovI, ovD, b)
        var blk = 0
        while (blk < csh.buckets.length) {
          var r = csh.bOff(blk)
          val end = csh.bOff(blk + 1)
          while (r < end) {
            val nl = remap(csh.vecLocal(r))
            if (nl >= 0) b.addVec(csh.buckets(blk), nl, codec.row(csh.vecs, r))
            r += 1
          }
          blk += 1
        }
      }
      b.finish(codec)
    }
  }

  /** Compaction's text-side vacuum+merge step: appends `sh`'s SURVIVING
    * docs (not in `tomb`) into the partition's builder — decay overridden
    * where `ovI` says so — and folds each token slot's surviving postings
    * in with local indices remapped to the merged layout. Returns
    * old-local → new-local (−1 = tombstoned), which the caller uses to
    * vacuum the vector blocks.
    */
  private def vacuumText(
      sh: Shard,
      tomb: Array[Long],
      ovI: Array[Long],
      ovD: Array[Double],
      b: ShardBuilder[_]): Array[Int] = {
    val remap = new Array[Int](sh.ids.length)
    var li = 0
    while (li < sh.ids.length) {
      val id = sh.ids(li)
      if (tomb.length > 0 && java.util.Arrays.binarySearch(tomb, id) >= 0)
        remap(li) = -1
      else {
        val oi =
          if (ovI.length == 0) -1
          else java.util.Arrays.binarySearch(ovI, id)
        remap(li) = b.addDoc(id, if (oi >= 0) ovD(oi) else sh.dec(li))
      }
      li += 1
    }
    var s = 0
    while (s < sh.tokens.length) {
      var e = sh.offsets(s)
      val end = sh.offsets(s + 1)
      var slot: (scala.collection.mutable.ArrayBuilder.ofInt,
        scala.collection.mutable.ArrayBuilder.ofDouble) = null
      while (e < end) {
        val nl = remap(sh.docIx(e))
        if (nl >= 0) {
          if (slot == null) slot = b.slot(sh.tokens(s))
          slot._1 += nl
          slot._2 += sh.w(e)
        }
        e += 1
      }
      s += 1
    }
    remap
  }

  // ===== Persistence — the serving layer's snapshot (SURVEY §2 S2's
  // analogue for the combined index, reference: gob snapshots + mmap
  // arena under pkg/persistence/; here the snapshot is a parquet table
  // in the index's own doc-row shape). =====

  /** The persisted layout's doc-row schema,
    * `(_id, _dec, <codec vector columns>, _bucket, _post)`: stored term
    * weights and vector cells verbatim (int8 codes as binary — a load
    * must not re-quantize), so load is repartition + the same assembly
    * pass a build runs.
    */
  private def docSchema(codec: VecCodec[_, _, _]): StructType = StructType(
    Seq(StructField("_id", LongType, nullable = false),
      StructField("_dec", DoubleType, nullable = false)) ++
      codec.docFields ++
      Seq(StructField("_bucket", LongType, nullable = true),
        StructField("_post", ArrayType(StructType(Seq(
          StructField("token", StringType, nullable = false),
          StructField("w", DoubleType, nullable = false))),
          containsNull = false), nullable = true)))

  /** One shard exploded back into its [[docSchema]] rows, the inverse of
    * [[assemble]]: per local doc — id, decay factor, its vector cells
    * (nulls for text-only docs), owning bucket, and its (token, weight)
    * posting list transposed out of the CSR. Partition-local work,
    * bounded by the shard.
    */
  private def explodeDocRows[B, R, Q](
      codec: VecCodec[B, R, Q],
      csh: CombinedShardOf[B]): Iterator[org.apache.spark.sql.Row] = {
    val sh = csh.text
    // local doc → (vector row or −1, owning bucket)
    val vecRow = Array.fill(sh.ids.length)(-1)
    val bucketOf = new Array[Long](sh.ids.length)
    var blk = 0
    while (blk < csh.buckets.length) {
      var r = csh.bOff(blk)
      while (r < csh.bOff(blk + 1)) {
        vecRow(csh.vecLocal(r)) = r
        bucketOf(csh.vecLocal(r)) = csh.buckets(blk)
        r += 1
      }
      blk += 1
    }
    // local doc → (token, w) posting rows (null when the doc has none),
    // transposed out of the shard's token-major CSR
    val posts = new Array[scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]](sh.ids.length)
    var s = 0
    while (s < sh.tokens.length) {
      var e = sh.offsets(s)
      val end = sh.offsets(s + 1)
      while (e < end) {
        val d = sh.docIx(e)
        if (posts(d) == null)
          posts(d) = scala.collection.mutable.ArrayBuffer.empty
        posts(d) += org.apache.spark.sql.Row(sh.tokens(s), sh.w(e))
        e += 1
      }
      s += 1
    }
    val noVec = codec.docFields.map(_ => null)
    Iterator.tabulate(sh.ids.length) { li =>
      val r = vecRow(li)
      org.apache.spark.sql.Row.fromSeq(Seq[Any](sh.ids(li), sh.dec(li)) ++
        (if (r < 0) noVec else codec.cells(codec.row(csh.vecs, r))) ++
        Seq(if (r < 0) null else java.lang.Long.valueOf(bucketOf(li)),
          if (posts(li) == null) null else posts(li).toSeq))
    }
  }

  /** Persist a combined serving index with everything a restart needs to
    * SERVE and to keep APPENDING: `docs/` — one parquet row per doc in
    * the index's own row shape (stored term WEIGHTS, not text: the
    * tokenize+stem+weight pipeline over the raw corpus is the expensive
    * part of a build at 100 TB and is never re-run on load), `tokendf/` —
    * the frozen token-df artifact segments append under, `meta/` — the
    * frozen corpus scalars. One no-shuffle pass over the resident shards;
    * [[loadCombined]] restores with a partitioned scan + the build's own
    * doc-major repartition + assembly (no analyzer, no weighting, no
    * KMeans). Serve-exact round trip pinned by CombinedServingSpec. Save
    * AFTER compaction for the snapshot-then-truncate-log coupling
    * ([[compactCombined]]'s durability note); tombstones/overrides are
    * live driver state, deliberately NOT persisted (they re-derive from
    * the oplog, and a compacted save has none).
    */
  def saveCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      path: String,
      frozenStats: (Long, Double),
      tokenDf: DataFrame): Long =
    saveCombinedOf(F32Codec, index, path, frozenStats, tokenDf)

  /** [[saveCombined]] for the compressed layout: codes + norms stored
    * verbatim (never re-quantized), `absMax` rides the meta table — the
    * complete frozen-artifact set for int8 appends.
    */
  def saveCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      path: String,
      absMax: Double,
      frozenStats: (Long, Double),
      tokenDf: DataFrame): Long =
    saveCombinedOf(Int8Codec(absMax), index, path, frozenStats, tokenDf)

  /** [[saveCombined]] for either codec. */
  private def saveCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      index: org.apache.spark.rdd.RDD[CombinedShardOf[B]],
      path: String,
      frozenStats: (Long, Double),
      tokenDf: DataFrame): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    // The snapshot's id watermark: max doc id across shards in ONE job
    // (fold handles the empty index — MinValue, above which every id
    // sits, so recovery filters nothing).
    val maxId = index.map(csh =>
        if (csh.text.ids.isEmpty) Long.MinValue else csh.text.ids.max)
      .fold(Long.MinValue)(math.max)
    spark.createDataFrame(
        index.mapPartitions(_.flatMap(explodeDocRows(codec, _))),
        docSchema(codec))
      .write.mode("overwrite").parquet(s"$path/docs")
    tokenDf.select(col("token"), col("df").cast("long").as("df"))
      .write.mode("overwrite").parquet(s"$path/tokendf")
    codec.meta.foldLeft(
        spark.createDataFrame(Seq((frozenStats._1, frozenStats._2, maxId)))
          .toDF("total_docs", "avgdl", "max_id")) {
        case (m, (name, v)) => m.withColumn(name, lit(v))
      }
      .write.mode("overwrite").parquet(s"$path/meta")
    maxId
  }

  /** A restored [[saveCombined]] snapshot: the index plus every frozen
    * artifact appends need, and the snapshot's id watermark `maxId` — the
    * `minIdExclusive` recovery and restart ingest resume from
    * ([[graft.streaming.Streams.recoverCombinedSegments]]).
    */
  final case class LoadedCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      frozenStats: (Long, Double),
      tokenDf: DataFrame,
      maxId: Long)

  /** A restored [[saveCombinedInt8]] snapshot, with its frozen `absMax`. */
  final case class LoadedCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      absMax: Double,
      frozenStats: (Long, Double),
      tokenDf: DataFrame,
      maxId: Long)

  /** Restore a [[saveCombined]] snapshot — the full append-ready bundle.
    * The caller caches + materializes the index (and re-derives the
    * serve-time tombstone set from the oplog,
    * [[graft.streaming.Streams.tombstoneIngest]]'s restart contract).
    */
  def loadCombined(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numShards: Int = 0): LoadedCombined = {
    val (index, meta) = loadCombinedOf(spark, path, numShards, _ => F32Codec)
    LoadedCombined(index, frozenOf(meta), spark.read.parquet(s"$path/tokendf"),
      meta.getAs[Long]("max_id"))
  }

  /** Restore a [[saveCombinedInt8]] snapshot. */
  def loadCombinedInt8(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numShards: Int = 0): LoadedCombinedInt8 = {
    val (index, meta) = loadCombinedOf(spark, path, numShards,
      m => Int8Codec(m.getAs[Double]("abs_max")))
    LoadedCombinedInt8(index, meta.getAs[Double]("abs_max"), frozenOf(meta),
      spark.read.parquet(s"$path/tokendf"), meta.getAs[Long]("max_id"))
  }

  /** A snapshot's doc rows, assembled by the codec its `meta/` row names,
    * plus that row.
    */
  private def loadCombinedOf[B, R, Q](
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numShards: Int,
      codecOf: org.apache.spark.sql.Row => VecCodec[B, R, Q])
      : (org.apache.spark.rdd.RDD[CombinedShardOf[B]], org.apache.spark.sql.Row) = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val codec = codecOf(meta)
    val docs = spark.read.parquet(s"$path/docs").select(
      ("_id" +: "_dec" +: "_bucket" +: "_post" +: codec.docFields.map(_.name))
        .map(col): _*)
    (docMajor(docs, numShards).rdd.mapPartitions(
      assemble(codec, codec.stored(_, 4))), meta)
  }

  /** The frozen corpus scalars of a snapshot's `meta/` row. */
  private def frozenOf(meta: org.apache.spark.sql.Row): (Long, Double) =
    (meta.getAs[Long]("total_docs"), meta.getAs[Double]("avgdl"))

  /** Per-partition partial for the combined pass: the text-leg
    * [[FusedPartial]] plus a kVec-bounded vector top-k whose entries CARRY
    * their hydration — the owning partition's text raw score, decay factor
    * and has-text-hit flag, recorded at scan time (the text scan for a
    * query runs before its vector scan, so `acc`/`seen` hold that query's
    * scores when vector candidates insert). Insertion mirrors
    * [[Ivf.TopK.insert]] exactly, including the NaN-tolerant tail write,
    * so the merged vector leg is bit-identical to
    * [[Ivf.searchBatchedFast]]'s.
    */
  private final class CombinedPartial(nq: Int, kText: Int, kVec: Int)
      extends Serializable {
    val text = new FusedPartial(nq, kText)
    val vd: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(Double.MaxValue))
    val vid: Array[Array[Long]] = Array.fill(nq)(Array.fill(kVec)(Long.MaxValue))
    val vraw: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(0.0))
    val vdec: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(1.0))
    val vhasT: Array[Array[Boolean]] = Array.fill(nq)(Array.fill(kVec)(false))

    def insertVec(qi: Int, d: Double, id: Long, raw: Double, dec: Double,
        hasT: Boolean): Unit = {
      val hd = vd(qi); val hi = vid(qi); val hr = vraw(qi)
      val hc = vdec(qi); val hh = vhasT(qi)
      val last = hd.length - 1
      if (d > hd(last) || (d == hd(last) && id > hi(last))) return
      var j = last
      while (j > 0 && (hd(j - 1) > d || (hd(j - 1) == d && hi(j - 1) > id))) {
        hd(j) = hd(j - 1); hi(j) = hi(j - 1); hr(j) = hr(j - 1)
        hc(j) = hc(j - 1); hh(j) = hh(j - 1)
        j -= 1
      }
      hd(j) = d; hi(j) = id; hr(j) = raw; hc(j) = dec; hh(j) = hasT
    }

    def merge(o: CombinedPartial): CombinedPartial = {
      text.merge(o.text)
      var qi = 0
      while (qi < vd.length) {
        val od = o.vd(qi)
        var j = 0
        while (j < od.length && od(j) < Double.MaxValue) {
          insertVec(qi, od(j), o.vid(qi)(j), o.vraw(qi)(j), o.vdec(qi)(j),
            o.vhasT(qi)(j))
          j += 1
        }
        qi += 1
      }
      this
    }
  }

  /** Serve a fused hybrid batch in ONE Spark job: both legs of
    * [[Fusion.searchWithFusionBatch]] — the BM25 text scan AND the IVF
    * vector scan over the probed buckets — plus the vector-leg hydration
    * run in a single mapPartitions pass over the combined shards, with
    * only k-bounded partials leaving the executors; probe selection and
    * the α-blend are driver math, exactly like [[fusedTopK]]'s. The
    * two-leg path pays two serial job rounds (ANN + token collects, then
    * the shard pass); this is the latency floor for the architecture —
    * one job launch — completing VERDICT r14's serving-latency story.
    *
    * Semantics: identical to [[fusedTopK]] fed by
    * [[Ivf.searchBatchedFast]] over the same corpus with the same
    * `nProbe`/`kVec` — same probe selection ([[Ivf.probeAssignments]]),
    * same scalar dot kernel (float accumulation, `1 − dot` over
    * normalized vectors), same (distance, id) / (raw·dec) bounded top-ks,
    * same blend ([[blendTopK]] is shared code) — so results are
    * BIT-identical, pinned by CombinedServingSpec. Per-query the vector
    * scan is scalar (no 4-query tiling) — a trade the job fusion wins
    * anyway: at both bench points the combined pass also beats the
    * two-leg path on BATCH throughput ~2.5× (the probed scan is a small
    * fraction of a fused batch's cost; the serial job rounds and
    * per-call collect jobs were not).
    *
    * Returns driver-resident rows (qid, id, fused score), per-qid top-k
    * by (score desc, id asc) — a serving response, not a plan.
    *
    * `tombstones` (VERDICT r16 #2 — live deletes): doc ids in this set are
    * INVISIBLE to both legs — never inserted into a top-k, never counted
    * toward a query's max raw score — so serving with tombstones is
    * EXACTLY a frozen-stats rebuild without those docs (under frozen
    * corpus stats + token-df, every per-doc score is independent of the
    * other docs; CombinedServingSpec pins the equality bit-for-bit). This
    * is the reference's serve-visible delete (`pkg/engine/ops.go:401` →
    * tombstoned HNSW nodes skipped at search, `hnsw_index.go:2292`)
    * mapped to segments: the set is driver-resident and rides the query
    * broadcast (deletes are rare relative to corpus size by contract),
    * and COMPACTION — the periodic rebuild — physically drops the docs
    * and clears the set.
    *
    * `decOverrides` (VERDICT r16 #2 stretch — live metadata updates): the
    * reference's `VReinforce`/`VMETA` mutate a doc's decay-relevant
    * metadata in place and the next search sees it (`ops.go:697`); here a
    * driver-resident (id → new decay factor) map rides the same broadcast
    * and overrides the shard-baked factor at scan time — serving with an
    * override is EXACTLY a rebuild whose decay frame carried the new
    * value (the factor is per-doc multiplicative; frozen BM25 stats are
    * untouched). The caller recomputes the one doc's factor from its
    * updated metadata (driver math — [[Decay]]'s formulas over one row);
    * compaction bakes the current factors and clears the map.
    */
  def fusedTopKCombined(
      combined: org.apache.spark.rdd.RDD[CombinedShard],
      cents: Array[Array[Float]],
      queries: Seq[ServedQuery],
      alpha0: Double,
      k: Int,
      nProbe: Int,
      kVec: Int = 10,
      metric: String = "cosine",
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty): Array[(Long, Long, Double)] =
    fusedTopKCombinedOf(F32Codec, combined, cents, queries, alpha0, k,
      nProbe, kVec, metric, tombstones, decOverrides)

  /** [[fusedTopKCombined]] over the COMPRESSED layout: one job, text leg
    * identical, vector leg the [[Int8Codec]] kernel — queries quantized
    * once on the driver against the same trained `absMax`, so the vector
    * leg is bit-identical to the two-leg int8 pipeline (spec-pinned).
    */
  def fusedTopKCombinedInt8(
      combined: org.apache.spark.rdd.RDD[CombinedShardInt8],
      cents: Array[Array[Float]],
      queries: Seq[ServedQuery],
      absMax: Double,
      alpha0: Double,
      k: Int,
      nProbe: Int,
      kVec: Int = 10,
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty): Array[(Long, Long, Double)] =
    fusedTopKCombinedOf(Int8Codec(absMax), combined, cents, queries, alpha0,
      k, nProbe, kVec, "cosine", tombstones, decOverrides)

  /** [[fusedTopKCombined]] for either codec. */
  private def fusedTopKCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      combined: org.apache.spark.rdd.RDD[CombinedShardOf[B]],
      cents: Array[Array[Float]],
      queries: Seq[ServedQuery],
      alpha0: Double,
      k: Int,
      nProbe: Int,
      kVec: Int,
      metric: String,
      tombstones: Array[Long],
      decOverrides: Array[(Long, Double)]): Array[(Long, Long, Double)] = {
    val tomb = sortedTombstones(tombstones)
    val (ovIds, ovDec) = sortedOverrides(decOverrides)
    val alpha = if (alpha0 < 0 || alpha0 > 1) 0.5 else alpha0
    val qs = queries.sortBy(_.qid).toArray
    require(qs.map(_.qid).distinct.length == qs.length,
      "fusedTopKCombined: duplicate qids in the batch")
    require(qs.forall(_.qvec != null),
      "fusedTopKCombined: every ServedQuery needs a query vector " +
        "(combined serving is hybrid; pass tokens-only work to fusedTopK)")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_.qid)
    val qvecs = qs.map(_.qvec)
    val toksByQ = qs.map(_.tokens.sortBy(_._1))
    val bc = combined.sparkContext.broadcast((codec.prepare(qvecs, metric),
      toksByQ, probedBuckets(cents, metric, qvecs, nProbe), tomb, ovIds,
      ovDec))
    val partials = combined.mapPartitions { it =>
      val (prepared, toks, probed, tombB, ovI, ovD) = bc.value
      def decOf(id: Long, baked: Double): Double =
        if (ovI.length == 0) baked
        else {
          val i = java.util.Arrays.binarySearch(ovI, id)
          if (i >= 0) ovD(i) else baked
        }
      val p = new CombinedPartial(prepared.length, k, kVec)
      it.foreach { csh =>
        val sh = csh.text
        val n = sh.ids.length
        val acc = new Array[Double](n)
        val seen = new Array[Int](n)
        val touched = new Array[Int](n)
        var epoch = 0
        var qi = 0
        while (qi < prepared.length) {
          epoch += 1
          // Text leg — [[scoreTokens]], the same loop [[fusedTopK]] runs.
          val tn = scoreTokens(sh, toks(qi), acc, seen, touched, epoch)
          var i = 0
          while (i < tn) {
            val d = touched(i)
            if (tombB.length == 0 ||
                java.util.Arrays.binarySearch(tombB, sh.ids(d)) < 0) {
              val raw = acc(d)
              val dc = decOf(sh.ids(d), sh.dec(d))
              if (raw > p.text.maxRaw(qi)) p.text.maxRaw(qi) = raw
              p.text.insert(qi, -(raw * dc), sh.ids(d), raw, dc)
            }
            i += 1
          }
          // Vector leg over this partition's probed bucket blocks, with
          // hydration read off the text accumulators in the same epoch.
          val q = prepared(qi)
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val li = csh.vecLocal(r)
                val id = sh.ids(li)
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  val dist = codec.dist(csh.vecs, r, q)
                  val hasT = seen(li) == epoch
                  p.insertVec(qi, dist, id,
                    if (hasT) acc(li) else 0.0, decOf(id, sh.dec(li)), hasT)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials,
      new CombinedPartial(nq, k, kVec),
      (a: CombinedPartial, b: CombinedPartial) => a.merge(b))
    bc.destroy()
    blendCombined(qids, merged, alpha, k)
  }

  /** Defensive copy of a serve-time tombstone set, sorted for the scan
    * loops' binary search. Driver-resident, batch-call-sized work.
    */
  private def sortedTombstones(tombstones: Array[Long]): Array[Long] =
    if (tombstones.isEmpty) tombstones
    else {
      val t = tombstones.clone()
      java.util.Arrays.sort(t)
      t
    }

  /** Serve-time decay overrides as parallel (sorted ids, factors) arrays
    * for the scan loops' binary search. Duplicate ids rejected — which
    * factor wins would depend on sort stability otherwise.
    */
  private def sortedOverrides(
      overrides: Array[(Long, Double)]): (Array[Long], Array[Double]) =
    if (overrides.isEmpty) (Array.emptyLongArray, Array.emptyDoubleArray)
    else {
      val s = overrides.sortBy(_._1)
      var i = 1
      while (i < s.length) {
        require(s(i)._1 != s(i - 1)._1,
          s"duplicate decay override for id ${s(i)._1}")
        i += 1
      }
      (s.map(_._1), s.map(_._2))
    }

  /** Probe selection on the driver (the descent analogue,
    * [[Ivf.probeAssignments]] under [[Ivf.searchBatchedFast]]'s metric
    * contract), inverted to per-query ascending bucket lists for the
    * partition scans.
    */
  private def probedBuckets(
      cents: Array[Array[Float]],
      metric: String,
      qvecs: Array[Array[Float]],
      nProbe: Int): Array[Array[Int]] = {
    val bucketQs = Ivf.probeAssignments(cents, Ivf.bucketAdj(cents, metric),
      l2 = metric == "l2", qvecs, nProbe)
    val bufs = Array.fill(qvecs.length)(
      new scala.collection.mutable.ArrayBuilder.ofInt)
    var b = 0
    while (b < bucketQs.length) {
      val qsb = bucketQs(b)
      if (qsb != null) {
        var i = 0
        while (i < qsb.length) { bufs(qsb(i)) += b; i += 1 }
      }
      b += 1
    }
    bufs.map(_.result())
  }

  /** The combined paths' shared driver tail: read the merged vector leg
    * (the global top-kVec — doc-major partitions are disjoint) with its
    * attached hydration, and run the shared α-blend.
    */
  private def blendCombined(
      qids: Array[Long],
      merged: CombinedPartial,
      alpha: Double,
      k: Int): Array[(Long, Long, Double)] = {
    val nq = qids.length
    val vecIds = Array.tabulate(nq) { qi =>
      merged.vd(qi).zipWithIndex.takeWhile(_._1 < Double.MaxValue)
        .map { case (_, j) => merged.vid(qi)(j) }
    }
    val vecDist = Array.tabulate(nq) { qi =>
      merged.vd(qi).takeWhile(_ < Double.MaxValue)
    }
    val hydIx: Array[scala.collection.mutable.LongMap[(Double, Double, Boolean)]] =
      Array.tabulate(nq) { qi =>
        val m = scala.collection.mutable.LongMap.empty[(Double, Double, Boolean)]
        var j = 0
        val hd = merged.vd(qi)
        while (j < hd.length && hd(j) < Double.MaxValue) {
          m.update(merged.vid(qi)(j),
            (merged.vraw(qi)(j), merged.vdec(qi)(j), merged.vhasT(qi)(j)))
          j += 1
        }
        m
      }
    blendTopK(qids, merged.text, vecIds, vecDist,
      (qi, id) => hydIx(qi).get(id), alpha, k).toArray
  }

  /** Per-partition pool partial for [[mmrTopKCombined]]: a pool-bounded
    * (distance, id) top-k per query — [[Ivf.TopK]]'s insertion and tie
    * rules exactly — whose entries CARRY the candidate's pool payload
    * ([[VecCodec.poolRow]]: f32 vectors or int8 codes, hence `AnyRef`
    * slots), copied from the block at accepted inserts only. Doc-major
    * partitions are disjoint, so the merge is a plain bounded union.
    */
  private final class VecPoolPartial(nq: Int, pool: Int)
      extends Serializable {
    val pd: Array[Array[Double]] = Array.fill(nq)(Array.fill(pool)(Double.MaxValue))
    val pid: Array[Array[Long]] = Array.fill(nq)(Array.fill(pool)(Long.MaxValue))
    val pv: Array[Array[AnyRef]] = Array.fill(nq)(new Array[AnyRef](pool))

    /** Place (d, id), shifting payloads; returns the slot to write the
      * vector into, or -1 when rejected — so the scan only copies a
      * candidate's floats AFTER it wins a slot.
      */
    def slotFor(qi: Int, d: Double, id: Long): Int = {
      val hd = pd(qi); val hi = pid(qi); val hv: Array[AnyRef] = pv(qi)
      val last = hd.length - 1
      if (d > hd(last) || (d == hd(last) && id > hi(last))) return -1
      var j = last
      while (j > 0 && (hd(j - 1) > d || (hd(j - 1) == d && hi(j - 1) > id))) {
        hd(j) = hd(j - 1); hi(j) = hi(j - 1); hv(j) = hv(j - 1)
        j -= 1
      }
      hd(j) = d; hi(j) = id
      j
    }

    def merge(o: VecPoolPartial): VecPoolPartial = {
      var qi = 0
      while (qi < pd.length) {
        val od = o.pd(qi)
        var j = 0
        while (j < od.length && od(j) < Double.MaxValue) {
          val s = slotFor(qi, od(j), o.pid(qi)(j))
          if (s >= 0) pv(qi)(s) = o.pv(qi)(j)
          j += 1
        }
        qi += 1
      }
      this
    }
  }

  /** Diversity-aware serving in ONE Spark job: retrieve each query's
    * relevance pool (top-`pool` by the ANN metric over the probed bucket
    * blocks) WITH candidate vectors in the same mapPartitions pass, then
    * run the greedy MMR chain as driver math over ≤ pool candidates
    * ([[Mmr.selectLocal]] — bit-identical arithmetic to the v25/v26 plan
    * chain: rel = 1 − distance, λ-blend, wide-cosine max-sim penalty,
    * ties by id). The plan path pays ~3 jobs per greedy ROUND
    * ([[Mmr.select]]'s anti-join/sim-join/argmax chain); this is one job
    * total. Network per query is pool×(dim+3) values — driver-bounded
    * batches by the serving contract, `pool ≤ Mmr.MaxPoolPerQuery`
    * enforced on both sides.
    *
    * @param queries driver-resident (qid, query vector) rows.
    * @return (qid, rank, id, score) — rank is 1-based selection order.
    */
  def mmrTopKCombined(
      combined: org.apache.spark.rdd.RDD[CombinedShard],
      cents: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])],
      k: Int,
      pool: Int,
      nProbe: Int,
      lam: Double,
      oneMinusLam: Double,
      metric: String = "cosine",
      tombstones: Array[Long] = Array.emptyLongArray): Array[(Long, Long, Long, Double)] =
    mmrTopKCombinedOf(F32Codec, combined, cents, queries, k, pool, nProbe,
      lam, oneMinusLam, metric, tombstones)

  /** [[mmrTopKCombined]] over the COMPRESSED layout (VERDICT r15 stretch
    * #7): the pool retrieval scans with [[fusedTopKCombinedInt8]]'s exact
    * distance kernel, the pool carries int8 codes, and the greedy chain
    * runs over them mapped to floats ([[Int8Codec]]'s pool payload) —
    * rel = 1 − int8 distance, same λ-blend, same (score, id) tie-breaks.
    */
  def mmrTopKCombinedInt8(
      combined: org.apache.spark.rdd.RDD[CombinedShardInt8],
      cents: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])],
      absMax: Double,
      k: Int,
      pool: Int,
      nProbe: Int,
      lam: Double,
      oneMinusLam: Double,
      tombstones: Array[Long] = Array.emptyLongArray): Array[(Long, Long, Long, Double)] =
    mmrTopKCombinedOf(Int8Codec(absMax), combined, cents, queries, k, pool,
      nProbe, lam, oneMinusLam, "cosine", tombstones)

  /** [[mmrTopKCombined]] for either codec. */
  private def mmrTopKCombinedOf[B, R, Q](
      codec: VecCodec[B, R, Q],
      combined: org.apache.spark.rdd.RDD[CombinedShardOf[B]],
      cents: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])],
      k: Int,
      pool: Int,
      nProbe: Int,
      lam: Double,
      oneMinusLam: Double,
      metric: String,
      tombstones: Array[Long]): Array[(Long, Long, Long, Double)] = {
    require(pool > 0 && pool <= Mmr.MaxPoolPerQuery,
      s"pool=$pool outside (0, ${Mmr.MaxPoolPerQuery}]")
    val tomb = sortedTombstones(tombstones)
    val qs = queries.sortBy(_._1).toArray
    require(qs.map(_._1).distinct.length == qs.length,
      "mmrTopKCombined: duplicate qids in the batch")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_._1)
    val qvecs = qs.map(_._2)
    val bc = combined.sparkContext.broadcast((codec.prepare(qvecs, metric),
      probedBuckets(cents, metric, qvecs, nProbe), tomb))
    val partials = combined.mapPartitions { it =>
      val (prepared, probed, tombB) = bc.value
      val p = new VecPoolPartial(prepared.length, pool)
      it.foreach { csh =>
        var qi = 0
        while (qi < prepared.length) {
          val q = prepared(qi)
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val id = csh.text.ids(csh.vecLocal(r))
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  val s = p.slotFor(qi, codec.dist(csh.vecs, r, q), id)
                  if (s >= 0) p.pv(qi)(s) = codec.poolRow(csh.vecs, r)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials, new VecPoolPartial(nq, pool),
      (a: VecPoolPartial, b: VecPoolPartial) => a.merge(b))
    bc.destroy()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    var qi = 0
    while (qi < nq) {
      val hd = merged.pd(qi)
      var n = 0
      while (n < hd.length && hd(n) < Double.MaxValue) n += 1
      val ids = java.util.Arrays.copyOf(merged.pid(qi), n)
      val rel = new Array[Double](n)
      var i = 0
      while (i < n) { rel(i) = 1.0 - hd(i); i += 1 }
      val vecs = Array.tabulate(n)(i => codec.poolVec(merged.pv(qi)(i)))
      Mmr.selectLocal(ids, rel, vecs, k, lam, oneMinusLam).foreach {
        case (rank, id, score) => out += ((qids(qi), rank, id, score))
      }
      qi += 1
    }
    out.toArray
  }

  /** ALL raw BM25 hits `(qid, idCol, score)` from the shards — the
    * parity/test surface pinning served scores against
    * [[Bm25.searchPostingsBatch]] (the t6_bm25_stored plan). Unbounded
    * output (every hit row), so this is for corpora the caller knows are
    * small; serving uses [[fusedTopK]].
    */
  def textScores(
      shards: org.apache.spark.rdd.RDD[Shard],
      qTokens: DataFrame,
      idCol: String = "id"): DataFrame = {
    val spark = qTokens.sparkSession
    import spark.implicits._
    val qrows = qTokens
      .select(col("qid").cast("long"), col("token"), col("qn").cast("int"))
      .collect()
    val qids = qrows.map(_.getLong(0)).distinct.sorted
    val qIndex = qids.zipWithIndex.toMap
    val qToks: Array[Array[(String, Int)]] = {
      val b = Array.fill(qids.length)(
        scala.collection.mutable.ArrayBuffer.empty[(String, Int)])
      qrows.foreach(r => b(qIndex(r.getLong(0))) += ((r.getString(1), r.getInt(2))))
      b.map(_.sortBy(_._1).toArray)
    }
    val bc = shards.sparkContext.broadcast((qids, qToks))
    shards.flatMap { sh =>
      val (qs, toksByQ) = bc.value
      val n = sh.ids.length
      val acc = new Array[Double](n)
      val seen = new Array[Int](n)
      val touched = new Array[Int](n)
      var epoch = 0
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var qi = 0
      while (qi < toksByQ.length) {
        epoch += 1
        val tn = scoreTokens(sh, toksByQ(qi), acc, seen, touched, epoch)
        var i = 0
        while (i < tn) {
          rows += ((qs(qi), sh.ids(touched(i)), acc(touched(i))))
          i += 1
        }
        qi += 1
      }
      rows
    }.toDF("qid", idCol, "score")
  }
}
