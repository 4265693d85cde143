package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Failures are reported in an `errors` map instead
  * of masquerading as fast timings; a small warm-up query runs first so
  * the first timed query doesn't pay JVM/session start-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Cpus.fromEnv(default = 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions",
        "graft.iceberg.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // codegen+exec warm-up
    // FS + parquet warm-up; a broken data dir must still yield the JSON
    // line (with every query in `errors`), not a silent crash
    try Tables.load(spark, sfDir, "lineitem").count()
    catch { case _: Throwable => () }
    // Two full passes, min per query. Round-over-round comparisons showed
    // per-query times on this shared box carry a GLOBAL multiplicative
    // noise factor (back-to-back full runs differ uniformly by ~±20%) plus
    // rare per-query transients (r4 measured 2-3x on queries whose code
    // and plans were byte-identical across rounds; r5 recovered them
    // untouched). The min of two spaced passes cancels transient
    // interference and first-pass JIT/codegen warmup, making per-query
    // numbers trustworthy for regression detection. See BENCH_NOTES.md.
    val passes = 2
    val timed: Seq[Seq[(String, Double, Option[String])]] =
      (1 to passes).map { _ =>
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val t0 = System.nanoTime()
          val err =
            try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable => Some(e.getClass.getSimpleName) }
          (name, (System.nanoTime() - t0) / 1e9, err)
        }
      }
    val results: Seq[(String, Double, Option[String])] =
      timed.flatten.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, runs) =>
        val ok = runs.filter(_._3.isEmpty)
        if (ok.nonEmpty) (name, ok.map(_._2).min, None)
        else (name, runs.map(_._2).min, runs.head._3)
      }
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // cpus + the session's effective parallelism ride along so the
    // driver's scaling harness can VERIFY the core-count setting took
    // (r20's suspect_cpus_ignored flag: ratios ≈1 at sf0.1 are
    // overhead-bound physics, not an ignored env var — now provable
    // from the artifact alone). Additions only; the timed protocol and
    // every existing key are unchanged.
    val par = spark.sparkContext.defaultParallelism
    val line = s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"timing":"min","cpus":$cpus,"parallelism":$par,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only a truncated tail of this process's stdout
    // (BENCH_r11/r12 lost per-query times for q1–q43 three rounds
    // running) — persist the COMPLETE artifact to a stable repo path so
    // round-over-round comparison always has every entry. Overwritten
    // per run; BENCH_NOTES references it.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
          "BENCH_FULL.json")), line + "\n") // cwd-relative: any checkout
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist BENCH_FULL.json: $e") }
    spark.stop()
  }
}
