package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `analytics`: registered `SparkEntry.queries` operators over generated
  * tables, run once each per pass in a seeded order.
  *
  * The first (cold) pass is part of set-up; it collects each result,
  * writes it to parquet for the DuckDB oracle compare, and keeps its
  * digest. Every later pass collects each result again and must reproduce
  * the cold digest.
  */
object Analytics {
  /** Short queries: bound by the per-job scheduling floor. */
  val Short: Seq[String] = Seq("q1_agg", "r1_retrieve", "v2_knn_filtered",
    "f7_hydrate", "e1_events_window", "g12_vacuum", "h8_evolution_chain")
  /** Heavy queries: shuffles, iterative joins, per-language exchanges. */
  val Heavy: Seq[String] = Seq("d8_dedup_components", "x41_perlang_gate",
    "x27_repeated_spans")
  val Queries: Seq[String] = Short ++ Heavy

  /** Order-insensitive digest of a result: row count plus a hash of the
    * sorted rendered rows.
    */
  def digest(rows: Array[Row]): String = {
    val rendered = rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    s"${rows.length}:${scala.util.hashing.MurmurHash3.seqHash(rendered.toSeq)}"
  }

  def run(spark: SparkSession, trace: Trace, checks: Checks, seed: Long,
          seconds: Double, data: String, work: String,
          values: collection.mutable.Map[String, Double]): Unit = {
    val rnd = new scala.util.Random(seed)
    val queries = SparkEntry.queries
    // A pass span never tags its jobs; each query span does when `sampled`
    // says so for its position, so a query's jobs are attributed to it or
    // run untagged.
    def pass(layer: String, sampled: String => Boolean)(
        onResult: (String, Array[Row], org.apache.spark.sql.types.StructType) => Unit)
        : Unit = trace.span(layer, sampled = false) {
      rnd.shuffle(Queries).foreach { name =>
        checks.attempt(name) {
          trace.span(s"q.$name", sampled = sampled(name)) {
            val df = queries(name)(spark, data)
            (df.collect(), df.schema)
          }
        }.foreach { case (rows, schema) => onResult(name, rows, schema) }
      }
    }

    val cold = collection.mutable.Map.empty[String, String]
    trace.span("setup.cold_pass") {
      pass("analytics.cold", _ => true) { (name, rows, schema) =>
        cold(name) = digest(rows)
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/results/$name")
      }
    }
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 1
    // At least three warm passes: the first is still warming up, and the
    // median of three sets it aside. Each query is tagged in every other
    // pass, half of them in the first, so every query has traced and
    // untraced runs and warm-up order does not favour either side.
    while (System.nanoTime() < end || n <= 3) {
      pass("analytics.pass", q => (n + Queries.indexOf(q)) % 2 == 0) {
          (name, rows, _) =>
        checks.record(cold.get(name).contains(digest(rows)),
          s"$name: warm pass $n result differs from the cold pass")
      }
      n += 1
    }
    val sqlOut = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      Json.obj(sqlOut.map { case (k, v) => k -> Json.str(v) }))
  }
}
