package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It builds one workload's tables once
  * untimed, prepares expected results, warms the loop up, builds the
  * tables again several times (timing each build), runs one more warm-up
  * round, runs the closed loop for the given seconds, and writes every raw
  * sample to `--out` as JSON. With `--trace 1` it then
  * runs the loop a second time with span recording on. `perfbench/run.py`
  * turns the raw file into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *             --work DIR --out FILE
  */
object Main {
  final case class Loop(wallS: Double, harnessS: Double, samples: Seq[Sample],
                        gcMs: Double, gcCount: Long, jitMs: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.iceberg.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val started = System.nanoTime()
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")
    phase("session")
    val b = new Bench(spark, seed, work, traceable = trace)
    val tracer = b.tracer
    val execEvents = new ExecutionEvents(tracer)
    val planEvents = new PlanningEvents(tracer)
    def tracing(on: Boolean): Unit = if (trace && tracer.enabled != on) {
      if (on) {
        spark.sparkContext.addSparkListener(execEvents)
        spark.listenerManager.register(planEvents)
      } else {
        org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(execEvents)
        spark.listenerManager.unregister(planEvents)
      }
      tracer.enabled = on
    }

    var round = 0
    def loop(secs: Double, minRounds: Int): Loop = {
      val (gc0, n0) = Jvm.gc()
      val jit0 = Jvm.jitMs()
      val samples = ArrayBuffer.empty[Sample]
      var afterNs = 0L
      val t0 = System.nanoTime()
      // Whole rounds: every round holds each of the workload's op kinds.
      // The loop's clock skips the harness's own work after each op
      // (checks, probes), so it counts the ops and the gaps between them.
      val round0 = round
      do {
        workload.round(b, round).foreach { op =>
          val (s, after) = b.run(op)
          samples += s
          afterNs += after
        }
        round += 1
      } while (round - round0 < minRounds || System.nanoTime() - t0 - afterNs < secs * 1e9)
      val wall = (System.nanoTime() - t0 - afterNs) / 1e9
      val (gc1, n1) = Jvm.gc()
      Loop(wall, afterNs / 1e9, samples.toSeq, gc1 - gc0, n1 - n0, Jvm.jitMs() - jit0)
    }

    /** One warm-up round. Returns its wall seconds, JIT milliseconds and
      * median op latency, to show whether compilation had levelled off. */
    def warmRound(): (Double, Double, Double) = {
      val l = loop(0, 1)
      val ms = l.samples.map(_.ms).sorted
      (l.wallS, l.jitMs, ms(ms.size / 2))
    }

    workload.generate(b)
    phase("generate")
    def build(c: String): (Double, Seq[Sample]) = {
      b.useCatalog(c)
      val t0 = System.nanoTime()
      val ops = workload.setup(b)
      ((System.nanoTime() - t0) / 1e9, ops)
    }
    def drop(c: String): Unit =
      b.fs.delete(new org.apache.hadoop.fs.Path(b.warehouse(c)), true)
    // The first build pays the JVM's cold start and is not timed. The
    // loop's warm-up runs on it, so the timed builds, whose median is
    // setup_s, run on a warm JVM. The last warm-up round comes after the
    // builds, so that the measured loop, which runs on the first build's
    // tables too, follows a round of its own workload.
    val (warmBuildS, _) = build("bench0")
    workload.prepare(b)
    phase(f"warm-up build $warmBuildS%.2f s, prepare")
    val warmup = ArrayBuffer.fill(workload.warmupRounds - 1)(warmRound())
    val n = workload.timedBuilds
    val setupOps = ArrayBuffer.empty[Sample]
    val buildS = (1 to n).map { rep =>
      tracing(rep == n) // the last build's commits are traced
      val (s, ops) = build(s"bench$rep")
      if (rep == n) setupOps ++= ops else drop(s"bench$rep")
      s
    }
    tracing(false)
    phase(s"timed builds ${buildS.map(x => f"$x%.2f").mkString(" ")}")
    drop(s"bench$n")
    b.useCatalog("bench0", fresh = false)
    // The live heap and storage are measured here, after a fixed number
    // of rounds: tables that change in the loop are then measured in the
    // same state in every run, and the measured loop does not follow the
    // measurement's own Spark jobs.
    val heap = Jvm.liveHeapMb()
    val (stored, user, liveRows) = b.storage(workload.tables)
    warmup += warmRound()
    phase(s"warm-up (${warmup.size} rounds)")
    val measured = loop(seconds, Workloads.MinRounds)
    phase("loop")
    val traced = if (trace) {
      tracing(true)
      val l = loop(seconds, Workloads.MinRounds)
      tracing(false)
      Some(l)
    } else None
    phase("end")

    def loopJson(l: Loop) = Map(
      "wall_s" -> l.wallS, "harness_s" -> l.harnessS,
      "gc_ms" -> l.gcMs, "gc_count" -> l.gcCount, "jit_ms" -> l.jitMs,
      "ops" -> l.samples.map(sampleJson))
    val out = Map(
      "meta" -> Map(
        "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cpus" -> cpus,
        "parallelism" -> spark.sparkContext.defaultParallelism,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "setup_warmup_s" -> warmBuildS,
      "setup_s" -> buildS,
      "warmup" -> warmup.map { case (w, j, p50) =>
        Map("wall_s" -> w, "jit_ms" -> j, "op_p50_ms" -> p50) },
      "setup_ops" -> setupOps.map(sampleJson),
      "live_heap_mb" -> heap,
      "storage" -> Map("stored_bytes" -> stored, "user_bytes" -> user, "live_rows" -> liveRows),
      "loops" -> (Map("measure" -> loopJson(measured)) ++
        traced.map(l => "traced" -> loopJson(l))),
      "spans" -> tracer.all.map(s =>
        Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs, s.attrs)))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(a("out")), out)
    spark.stop()
    phase("stop")
  }

  private def sampleJson(s: Sample) =
    Seq(s.id, s.kind, s.cls, s.ms, s.error, s.rowsChanged, s.rowsOut, s.tables.mkString(","))
}
