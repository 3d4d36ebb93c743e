package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload, drive it for the
  * measured window, check its answers, and write the raw records (spans,
  * jobs, checks, values) as JSON for `run.py` to turn into metrics.
  *
  * Arguments: `--workload serve_ingest|analytics --seed N
  * --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]`.
  */
object Main {
  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong((p: Path) => Files.size(p)).sum()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - t0) / 1e6

    val trace = new Trace(spark.sparkContext, traced)
    val checks = new Checks
    val values = collection.mutable.LinkedHashMap[String, Double](
      "setup.session_ms" -> sessionMs)
    try workload match {
      case "serve_ingest" =>
        // One corpus and one base index serve both phases.
        val salt = s"serve-$seed"
        val built = Corpus.build(spark, trace, Corpus.Docs, salt)
        ServeRead.run(spark, trace, checks, seed, seconds, built, salt, values)
        IngestMixed.run(spark, trace, checks, seed, seconds, work, built, salt,
          values)
      case "analytics" =>
        Analytics.run(spark, trace, checks, seed, seconds, opts("data"), work, values)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Exception =>
        checks.record(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    }
    trace.drain()
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "checks" -> checks.toJson,
      "values" -> Json.obj(values.map { case (k, v) => k -> Json.num(v) }),
      "trace" -> trace.toJson))
    Files.writeString(Paths.get(opts("out")), json)
    spark.stop()
  }
}
