package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger

import graft.iceberg.IcebergWriter
import graft.iceberg.connector.{GraftCatalog, IcebergJson}

/** The streaming Iceberg SOURCE (`spark.readStream.table(...)` →
  * [[graft.iceberg.connector.GraftMicroBatchStream]]): micro-batches are
  * snapshot-frontier diffs, so each batch reads exactly the appended
  * files; a checkpoint restart resumes at the committed frontier without
  * re-emitting. The pair to the round-4 streaming SINK.
  */
class IcebergStreamSourceSpec extends SparkSpec {

  private val warehouse = "/root/repo/target/test-streamsrc-warehouse"

  private def createTable(name: String): String = {
    import spark.implicits._
    val tableDir = s"$warehouse/ns/$name"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tableDir).getFileSystem(conf)
    fs.delete(new Path(tableDir), true)
    val schema = Seq((0L, "x")).toDF("id", "tag").schema
    val metaJson = IcebergJson.tableMetadata(
      new com.fasterxml.jackson.databind.ObjectMapper(), tableDir,
      schema, Nil, Map.empty)
    val out = fs.create(new Path(s"$tableDir/metadata/v1.metadata.json"), true)
    try out.write(metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    spark.conf.set("spark.sql.catalog.strcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.strcat.warehouse", warehouse)
    tableDir
  }

  private def ids(n: Int, m: Int) = {
    import spark.implicits._
    (n until m).map(i => (i.toLong, s"row$i")).toDF("id", "tag")
  }

  test("micro-batches are snapshot diffs; restart resumes at the frontier") {
    val dir = createTable("src1")
    IcebergWriter.append(spark, dir, ids(0, 3)) // pre-stream history

    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt")
    val outDir = new File("/root/repo/target/test-streamsrc-out1")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)

    // parquet sink: supports checkpoint recovery (memory sink does not),
    // so stopping and restarting exercises the offset frontier for real
    def run(): Unit = {
      val q = spark.readStream.table("strcat.ns.src1")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }

    run() // batch 0: the full pre-stream table
    def got(): Seq[Long] =
      spark.read.parquet(outDir.toString).collect().map(_.getLong(0)).sorted.toSeq
    assert(got() == (0L until 3L))

    IcebergWriter.append(spark, dir, ids(3, 7))
    IcebergWriter.append(spark, dir, ids(7, 9))
    run() // resumes from the checkpointed frontier: appends only
    assert(got() == (0L until 9L),
      "restart must emit exactly the two appended snapshots, no re-emits")

    run() // nothing new
    assert(got() == (0L until 9L))
  }

  test("a snapshot-pinned read refuses to stream (no frontier to follow)") {
    val dir = createTable("srcpin")
    val snap = IcebergWriter.append(spark, dir, ids(0, 3))
    IcebergWriter.append(spark, dir, ids(3, 6))
    // snapshot-id / as-of-timestamp pin a FIXED state; the micro-batch
    // planner follows the live lineage, so honoring the pin is
    // impossible — the stream must refuse, not silently read everything
    val q = spark.readStream.option("snapshot-id", snap.toString)
      .table("strcat.ns.srcpin")
      .writeStream.format("memory").queryName("pin_refused")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("snapshot-id / as-of-timestamp")),
      s"expected the pin refusal, got: ${msgs(e).mkString(" | ")}")
  }

  test("projection prunes the streamed scan") {
    val dir = createTable("src2")
    IcebergWriter.append(spark, dir, ids(0, 4))
    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt2")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    val q = spark.readStream.table("strcat.ns.src2")
      .select("tag")
      .writeStream.format("memory").queryName("src2_out")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.table("src2_out").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == (0 until 4).map(i => s"row$i"))
  }

  /** Renumber snapshot id `from` → `to` in the latest metadata.json —
    * simulates an EXTERNAL writer, which per the Iceberg spec picks
    * random 64-bit ids (no monotonic order). Touches every id-bearing
    * field; manifest-list paths are stored as strings so the avro files
    * need no rewrite. */
  private def renumber(tableDir: String, from: Long, to: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val p = graft.iceberg.TableMetadata.latestMetadataPath(tableDir, conf)
    val fs = p.getFileSystem(conf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val root = try mapper.readTree(in)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    finally in.close()
    import scala.jdk.CollectionConverters._
    def patch(n: com.fasterxml.jackson.databind.node.ObjectNode,
              field: String): Unit =
      if (Option(n.get(field)).exists(v => !v.isNull && v.asLong == from)) {
        n.put(field, to); ()
      }
    patch(root, "current-snapshot-id")
    Option(root.get("snapshots")).toSeq.flatMap(_.elements.asScala).foreach { s =>
      val o = s.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      patch(o, "snapshot-id"); patch(o, "parent-snapshot-id")
    }
    Option(root.get("snapshot-log")).toSeq.flatMap(_.elements.asScala).foreach {
      e => patch(e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode],
        "snapshot-id")
    }
    Option(root.get("refs")).toSeq.flatMap(_.properties.asScala).foreach { e =>
      patch(e.getValue.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode],
        "snapshot-id")
    }
    val out = fs.create(p, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter.writeValueAsString(root)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  test("non-monotonic snapshot ids (external writer) stream correctly") {
    val dir = createTable("src4")
    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt4")
    val outDir = new File("/root/repo/target/test-streamsrc-out4")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.table("strcat.ns.src4")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    def got(): Seq[Long] =
      spark.read.parquet(outDir.toString).collect().map(_.getLong(0)).sorted.toSeq

    IcebergWriter.append(spark, dir, ids(0, 3)) // snap 1
    renumber(dir, from = 1L, to = 9000000000L)  // frontier id is now HUGE
    run()
    assert(got() == (0L until 3L))

    // external writer commits a snapshot whose id is SMALLER than the
    // checkpointed frontier: raw id ordering would see "no new data" and
    // silently skip it; log-position ordering must emit it
    IcebergWriter.append(spark, dir, ids(3, 6)) // snap max+1 = 9000000001
    renumber(dir, from = 9000000001L, to = 42L)
    run()
    assert(got() == (0L until 6L),
      "a smaller-id later snapshot must still be emitted (log order, not id order)")

    run() // idle
    assert(got() == (0L until 6L))
  }

  test("an expired checkpointed frontier fails loudly, not silently") {
    val dir = createTable("src5")
    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt5")
    val outDir = new File("/root/repo/target/test-streamsrc-out5")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.table("strcat.ns.src5")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    IcebergWriter.append(spark, dir, ids(0, 3)) // snap 1 — the frontier
    run()
    IcebergWriter.append(spark, dir, ids(3, 5)) // snap 2
    IcebergWriter.append(spark, dir, ids(5, 8)) // snap 3
    // expire everything but the newest: the checkpointed frontier (snap 1)
    // leaves the lineage
    IcebergWriter.expireSnapshots(spark, dir,
      olderThanMs = System.currentTimeMillis + 60000, retainLast = 1)
    val err = intercept[Exception] { run() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => Option(c.getMessage).exists(m =>
      m.contains("no longer in the table's snapshot lineage"))),
      s"expected a loud expired-frontier failure, got: $err")
  }

  test("a non-append window fails the stream instead of emitting wrong rows") {
    val dir = createTable("src3")
    IcebergWriter.append(spark, dir, ids(0, 3))
    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt3")
    val outDir = new File("/root/repo/target/test-streamsrc-out3")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.table("strcat.ns.src3")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    IcebergWriter.overwrite(spark, dir, ids(10, 12)) // truncate-and-write
    val err = intercept[Exception] { run() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => Option(c.getMessage).exists(m =>
        m.contains("append-only"))),
      s"expected an append-only refusal, got: $err")
  }

  test("maxFilesPerTrigger paces the backlog across micro-batches") {
    val dir = createTable("src8")
    // 3 append snapshots in the backlog before the stream starts
    IcebergWriter.append(spark, dir, ids(0, 2))
    IcebergWriter.append(spark, dir, ids(2, 4))
    IcebergWriter.append(spark, dir, ids(4, 6))

    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt8")
    val outDir = new File("/root/repo/target/test-streamsrc-out8")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    val q = spark.readStream.option("maxFilesPerTrigger", "1")
      .table("strcat.ns.src8")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // every row arrived, and the backlog was split snapshot-by-snapshot
    // instead of one catch-up batch reading everything
    assert(spark.read.parquet(outDir.toString).collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 6L))
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3,
      s"expected ≥3 paced micro-batches, got $batches " +
        s"(${q.recentProgress.map(_.numInputRows).mkString(",")})")
  }

  test("maxRowsPerTrigger paces the append stream by row volume " +
      "(snapshot-granular; an oversized commit drains alone)") {
    val wh = graft.Scratch.dir("test-rowpace-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.rowpace", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rowpace.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rowpace.ns")
    spark.sql("CREATE TABLE rowpace.ns.t (k BIGINT)")
    spark.sql("INSERT INTO rowpace.ns.t SELECT id FROM range(50)") // big
    spark.sql("INSERT INTO rowpace.ns.t SELECT id FROM range(50, 55)") // 5
    spark.sql("INSERT INTO rowpace.ns.t SELECT id FROM range(55, 58)") // 3

    val ckpt = new File(graft.Scratch.dir("test-rowpace-ckpt"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream
      .option("maxRowsPerTrigger", "8")
      .table("rowpace.ns.t")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count(); if (n > 0) sizes.synchronized { sizes += n }; ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    // the 50-row commit exceeds the 8-row budget: admitted ALONE (never
    // split); the 5- and 3-row commits fit one batch together
    assert(sizes.toSeq == Seq(50L, 8L),
      s"row-weighted pacing must yield batches (50, 8): $sizes")
  }

  test("branch option: the stream follows the staged branch, not main") {
    val dir = createTable("src6")
    val conf = spark.sessionState.newHadoopConf()
    IcebergWriter.append(spark, dir, ids(0, 3))       // shared history
    IcebergWriter.append(spark, dir, ids(100, 102), branch = "audit") // staged
    IcebergWriter.append(spark, dir, ids(50, 55))     // main moves on

    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt6")
    val outDir = new File("/root/repo/target/test-streamsrc-out6")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.option("branch", "audit")
        .table("strcat.ns.src6")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    def got(): Seq[Long] =
      spark.read.parquet(outDir.toString).collect().map(_.getLong(0)).sorted.toSeq
    // the branch lineage = shared history + staged commit; main's post-
    // fork append (50-55) is NOT on the branch and must not appear
    assert(got() == ((0L until 3L) ++ (100L until 102L)),
      s"branch stream saw ${got()}")

    // more staged commits arrive incrementally
    IcebergWriter.append(spark, dir, ids(102, 104), branch = "audit")
    run()
    assert(got() == ((0L until 3L) ++ (100L until 104L)))

    // batch read option pins at the branch head (VERSION AS OF's twin)
    val batch = spark.read.option("branch", "audit").table("strcat.ns.src6")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(batch == got(), "batch branch option must see the same rows")
  }

  test("streaming sink to a branch stages batches invisibly to main") {
    import spark.implicits._
    val dir = createTable("src7")
    val conf = spark.sessionState.newHadoopConf()
    IcebergWriter.append(spark, dir, ids(0, 2)) // main baseline

    val src = new File("/root/repo/target/test-streamsink-src7")
    val ckpt = new File("/root/repo/target/test-streamsink-ckpt7")
    org.apache.commons.io.FileUtils.deleteQuietly(src)
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    ids(10, 14).write.parquet(src.toString)
    val stream = spark.readStream
      .schema(ids(0, 1).schema).parquet(src.toString)
    val q = graft.streaming.EventStream
      .icebergSink(stream, dir, branch = "staging")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // main unchanged; the staged branch carries baseline + the batch
    val t = new graft.iceberg.IcebergTable(dir, conf)
    assert(t.toDF(spark).count() == 2L, "main must not see staged batches")
    val staged = t.atSnapshot(t.metadata.refs("staging"))
    assert(staged.toDF(spark).collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 2L) ++ (10L until 14L)))

    // publish: fastForward moves main to the staged head
    IcebergWriter.fastForward(conf, dir, from = "staging")
    assert(new graft.iceberg.IcebergTable(dir, conf).toDF(spark).count() == 6L)
  }

  test("a declared-avro table streams: all-avro micro-batch windows " +
      "read through the row-based avro batch") {
    import java.io.File
    val dir = createTable("src8")
    spark.sql("ALTER TABLE strcat.ns.src8 SET TBLPROPERTIES " +
      "('write.format-default' = 'avro')")
    IcebergWriter.append(spark, dir, ids(0, 3)) // avro files now
    val conf = spark.sessionState.newHadoopConf()
    assert(new graft.iceberg.IcebergTable(dir, conf)
      .planFiles().forall(_.fileFormat == "AVRO"), "setup: avro files")
    val ckpt = new File("/root/repo/target/test-streamsrc-ckpt8")
    val outDir = new File("/root/repo/target/test-streamsrc-out8")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.table("strcat.ns.src8")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    IcebergWriter.append(spark, dir, ids(3, 7)) // second avro window
    run()
    val got = spark.read.parquet(outDir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == (0 until 7).map(i => (i.toLong, s"row$i")),
      s"both avro windows must stream exactly once, got $got")
  }

  test("streaming CDC source (readStream over t.changes): micro-batches " +
      "carry insert/update/delete rows; stream equals batch changelog " +
      "across a checkpoint restart mid-history") {
    val wh = graft.Scratch.dir("test-cdcstream-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcsrc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcsrc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcsrc.ns")
    spark.sql("CREATE TABLE cdcsrc.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO cdcsrc.ns.t SELECT CAST(id AS INT), " +
      "concat('a', id) FROM range(8)")
    val dir = s"$wh/ns/t"

    val ckpt = new File(graft.Scratch.dir("test-cdcstream-ckpt"))
    val outDir = new File(graft.Scratch.dir("test-cdcstream-out"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    def run(): Unit = {
      val q = spark.readStream.table("cdcsrc.ns.t.changes")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    run() // batch 0: the pre-stream inserts
    def got(): Seq[(Int, String, String)] =
      spark.read.parquet(outDir.toString).collect()
        .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
          r.getAs[String]("_change_type"))).sorted.toSeq
    assert(got().size == 8 && got().forall(_._3 == "insert"))

    // mid-history: a CoW UPDATE (delete+insert halves + carryover pairs),
    // an equality DELETE, and an INSERT land AFTER the checkpoint
    spark.sql("UPDATE cdcsrc.ns.t SET v = concat(v, '!') WHERE k >= 6")
    spark.sql("DELETE FROM cdcsrc.ns.t WHERE k IN (1, 3)")
    run() // restart from the checkpointed frontier
    spark.sql("INSERT INTO cdcsrc.ns.t VALUES (100, 'fresh')")
    run() // and once more — three separate drains, one history

    // stream ≡ batch: the drained rows must equal the batch changelog
    // over the whole history, multiset-exactly
    val conf = spark.sessionState.newHadoopConf()
    val t = new graft.iceberg.IcebergTable(dir, conf)
    val batch = t.changesBetween(spark, 0L,
        t.metadata.snapshotLineage.last)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).sorted.toSeq
    assert(got() == batch,
      s"stream != batch changelog:\n stream=${got()}\n batch=$batch")
    // sanity on semantics: the delete rows and the update's new values
    // came through the stream
    assert(got().count(_._3 == "delete") == batch.count(_._3 == "delete"))
    assert(got().exists(c => c._1 == 6 && c._2 == "a6!" && c._3 == "insert"))
    assert(got().exists(c => c._1 == 1 && c._3 == "delete"))

    // batch SQL surface over the same relation
    val sqlCount = spark.sql(
      "SELECT COUNT(*) FROM cdcsrc.ns.t.changes").collect()(0).getLong(0)
    assert(sqlCount == batch.size.toLong)
  }

  test("changelog relation prunes columns on the BATCH path (PLAN-level: " +
      "the scan serves only the projected columns); the stream ships " +
      "full rows by Spark's micro-batch design and stays row-correct " +
      "under a projection") {
    val wh = graft.Scratch.dir("test-cdcprune-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcpr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcpr.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcpr.ns")
    spark.sql("CREATE TABLE cdcpr.ns.t (k INT, v STRING, w STRING)")
    spark.sql("INSERT INTO cdcpr.ns.t SELECT CAST(id AS INT), " +
      "concat('v', id), concat('w', id) FROM range(6)")
    spark.sql("DELETE FROM cdcpr.ns.t WHERE k = 2")
    // batch: PLAN assertion — the relation's scan LEAF must output only
    // the projected columns (a Project above the scan would satisfy a
    // schema check without any pushdown; this does not)
    val b = spark.sql(
      "SELECT k, _change_type FROM cdcpr.ns.t.changes ORDER BY k, _change_type")
    val bRows = b.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(bRows == ((0 until 6).map(i => (i, "insert")) :+ ((2, "delete")))
      .sortBy(identity), s"pruned batch rows: $bRows")
    val scanLeaves = b.queryExecution.executedPlan.collectLeaves()
    assert(scanLeaves.nonEmpty &&
      scanLeaves.exists(_.output.map(_.name).toSet == Set("k", "_change_type")),
      "pruneColumns must reach the relation scan:\n" +
        b.queryExecution.executedPlan)
    // streaming: Spark's MicroBatchExecution applies no column pushdown
    // (verified against the 4.1 planner) — the stream ships full rows
    // and the projection applies above; assert row-correctness
    val ckpt = new File(graft.Scratch.dir("test-cdcprune-ckpt"))
    val outDir = new File(graft.Scratch.dir("test-cdcprune-out"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    val q = spark.readStream.table("cdcpr.ns.t.changes")
      .select("k", "_change_type")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val sRows = spark.read.parquet(outDir.toString).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("_change_type")))
      .sorted.toSeq
    assert(sRows == bRows, s"stream pruned rows: $sRows")
  }

  test("compute-updates stream: per-window update pairing equals the " +
      "batch changesWithUpdates across a checkpoint restart mid-window, " +
      "v3 _row_id pairing and v2 identifier pairing alike") {
    for ((cat, v3) <- Seq(("cdcupd3", true), ("cdcupd2", false))) {
      val wh = graft.Scratch.dir(s"test-$cat-wh")
      org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      val props =
        if (v3) "TBLPROPERTIES ('format-version' = '3')"
        else "TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')"
      spark.sql(s"CREATE TABLE $cat.ns.t (k INT NOT NULL, v STRING) $props")
      if (!v3) spark.sql(s"ALTER TABLE $cat.ns.t SET IDENTIFIER FIELDS k")
      spark.sql(s"INSERT INTO $cat.ns.t SELECT CAST(id AS INT), " +
        "concat('a', id) FROM range(8)")

      val ckpt = new File(graft.Scratch.dir(s"test-$cat-ckpt"))
      val outDir = new File(graft.Scratch.dir(s"test-$cat-out"))
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
      // one commit per micro-batch: window splits at commit boundaries
      // must never break pairs (pairing is per-commit by construction)
      def run(): Unit = {
        val q = spark.readStream
          .option("compute-updates", "true")
          .option("maxSnapshotsPerTrigger", "1")
          .table(s"$cat.ns.t.changes")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      run() // batch 0: the pre-stream insert
      // CoW UPDATE: 2 update pairs + 6 carryovers to drop
      spark.sql(s"UPDATE $cat.ns.t SET v = concat(v, '!') WHERE k >= 6")
      // MoR MERGE: one matched update + one unmatched insert
      if (v3) spark.sql(s"ALTER TABLE $cat.ns.t SET TBLPROPERTIES (" +
        "'write.merge.mode' = 'merge-on-read')")
      spark.sql(
        s"""MERGE INTO $cat.ns.t t
           |USING (SELECT 3 AS k, 'merged' AS v
           |       UNION ALL SELECT 200, 'fresh') s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      run() // restart mid-history from the checkpointed frontier
      spark.sql(s"DELETE FROM $cat.ns.t WHERE k IN (1, 3)")
      run()

      val conf = spark.sessionState.newHadoopConf()
      val t = new graft.iceberg.IcebergTable(s"$wh/ns/t", conf)
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
          r.getAs[String]("_change_type"),
          if (v3) r.getAs[Long]("_row_id") else -1L)).sorted.toSeq
      val streamed = shape(spark.read.parquet(outDir.toString))
      val batch = shape(t.changesWithUpdates(spark, 0L,
        t.metadata.snapshotLineage.last))
      assert(streamed == batch,
        s"$cat stream != batch changesWithUpdates:\n stream=$streamed\n " +
          s"batch=$batch")
      // semantics spot checks: pairs re-typed, carryovers dropped
      assert(streamed.count(_._3 == "update_before") ==
        streamed.count(_._3 == "update_after"))
      assert(streamed.exists(c => c._1 == 6 && c._2 == "a6!" &&
        c._3 == "update_after"))
      assert(streamed.count(c => c._1 == 0) == 1 &&
        streamed.exists(c => c._1 == 0 && c._3 == "insert"),
        s"carryovers must drop: ${streamed.filter(_._1 == 0)}")
      if (v3) {
        // the stream serves _row_id; an updated row's id is STABLE
        // across its update halves (the spec's row-identity contract)
        val k6 = streamed.filter(c => c._1 == 6 &&
          c._3.startsWith("update_")).map(_._4).distinct
        assert(k6.size == 1 && k6.head >= 0L,
          s"update halves must share one _row_id: $k6")
        assert(spark.read.parquet(outDir.toString)
          .schema.fieldNames.contains("_row_id"))
      }
      // batch surface takes the same option
      val b = spark.read.option("compute-updates", "true")
        .table(s"$cat.ns.t.changes")
      assert(shape(b) == batch, s"$cat batch option surface drifted")
    }
  }

  test("row-lineage read option: the plain changes stream serves a " +
      "stable _row_id on a v3 table; refused loudly on v2") {
    val wh = graft.Scratch.dir("test-cdcrl-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcrl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcrl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcrl.ns")
    spark.sql("CREATE TABLE cdcrl.ns.t (k INT, v STRING) " +
      "TBLPROPERTIES ('format-version' = '3')")
    spark.sql("INSERT INTO cdcrl.ns.t SELECT CAST(id AS INT), " +
      "concat('a', id) FROM range(5)")
    spark.sql("UPDATE cdcrl.ns.t SET v = 'u2' WHERE k = 2")
    val ckpt = new File(graft.Scratch.dir("test-cdcrl-ckpt"))
    val outDir = new File(graft.Scratch.dir("test-cdcrl-out"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    val q = spark.readStream.option("row-lineage", "true")
      .table("cdcrl.ns.t.changes")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.read.parquet(outDir.toString)
      .select("k", "_change_type", "_row_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // k=2's UPDATE window: the delete half and the re-inserted row carry
    // the SAME spec-assigned _row_id — stable identity across the update
    val k2 = rows.filter(_._1 == 2).map(_._3).distinct
    assert(k2.size == 1 && k2.head >= 0,
      s"k=2 must keep one _row_id across its update: $rows")
    // distinct ids per initially-inserted row (the assigned range)
    assert(rows.filter(r => r._2 == "insert" && r._1 != 2).map(_._3)
      .distinct.size == rows.count(r => r._2 == "insert" && r._1 != 2))
    // v2 table: the option refuses loudly at analysis
    spark.sql("CREATE TABLE cdcrl.ns.v2t (k INT)")
    spark.sql("INSERT INTO cdcrl.ns.v2t VALUES (1)")
    val e = intercept[Exception] {
      spark.read.option("row-lineage", "true").table("cdcrl.ns.v2t.changes")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("row lineage")), msgs(e).mkString("|"))
  }

  test("columns read option: the stream projects INSIDE the window plan " +
      "(bridged rows carry only the projected columns) and stays " +
      "row-identical to the unprojected stream") {
    val wh = graft.Scratch.dir("test-cdccols-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdccols", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdccols.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdccols.ns")
    spark.sql("CREATE TABLE cdccols.ns.t (k INT, v STRING, w STRING)")
    spark.sql("INSERT INTO cdccols.ns.t SELECT CAST(id AS INT), " +
      "concat('v', id), concat('w', id) FROM range(6)")
    spark.sql("DELETE FROM cdccols.ns.t WHERE k = 2")

    // the stream's emitted schema IS the projection — written files
    // carry exactly the requested columns, in declared order
    val ckpt = new File(graft.Scratch.dir("test-cdccols-ckpt"))
    val outDir = new File(graft.Scratch.dir("test-cdccols-out"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    val q = spark.readStream.option("columns", "k,_change_type")
      .table("cdccols.ns.t.changes")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = spark.read.parquet(outDir.toString)
    assert(out.schema.fieldNames.toSeq == Seq("k", "_change_type"),
      out.schema.treeString)
    val got = out.collect().map(r => (r.getInt(0), r.getString(1)))
      .sorted.toSeq
    assert(got == ((0 until 6).map(i => (i, "insert")) :+ ((2, "delete")))
      .sortBy(identity), s"projected stream rows: $got")

    // PLAN-level twin of the batch assertion: drive the micro-batch scan
    // directly and assert the BRIDGED rows are 2 columns wide — the
    // projection happened inside the window plan, not above the bridge
    val table = new graft.iceberg.connector.GraftChangelogTable("t.changes",
      new graft.iceberg.IcebergTable(s"$wh/ns/t",
        spark.sessionState.newHadoopConf()))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("columns", "k,_change_type"))
    val scan = table.newScanBuilder(opts).build()
    assert(scan.readSchema().fieldNames.toSeq == Seq("k", "_change_type"))
    // names resolve case-insensitively (like every Spark column ref);
    // the emitted schema keeps the DECLARED casing
    val optsCi = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("columns", "K,_CHANGE_TYPE"))
    assert(table.newScanBuilder(optsCi).build()
      .readSchema().fieldNames.toSeq == Seq("k", "_change_type"))
    val stream = scan.toMicroBatchStream(
      graft.Scratch.dir("test-cdccols-ckpt2"))
    val parts = stream.planInputPartitions(stream.initialOffset(),
      stream.latestOffset())
    val factory = stream.createReaderFactory()
    // drive the reader the way executors do — inside tasks (the bridge
    // needs a TaskContext): every bridged row must be 2 columns wide
    val counts = spark.sparkContext
      .parallelize(parts.toSeq, math.max(parts.length, 1))
      .map { p =>
        val r = factory.createReader(p)
        var n = 0
        try while (r.next()) {
          require(r.get().numFields == 2,
            s"bridged row must be the projected width, got ${r.get().numFields}")
          n += 1
        } finally r.close()
        n
      }.collect().sum
    stream.stop()
    assert(counts == 7, s"bridged rows: $counts")
  }

  test("changelog stream admission control: maxSnapshotsPerTrigger paces " +
      "the backlog commit-granularly; start-snapshot-id skips history") {
    val wh = graft.Scratch.dir("test-cdcpace-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcpace", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcpace.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcpace.ns")
    spark.sql("CREATE TABLE cdcpace.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO cdcpace.ns.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO cdcpace.ns.t VALUES (3, 'c')")
    spark.sql("DELETE FROM cdcpace.ns.t WHERE k = 1")
    val dir = s"$wh/ns/t"
    val conf = spark.sessionState.newHadoopConf()
    val lin = graft.iceberg.TableMetadata.load(dir, conf).snapshotLineage
    assert(lin.size == 3)

    val ckpt = new File(graft.Scratch.dir("test-cdcpace-ckpt"))
    val outDir = new File(graft.Scratch.dir("test-cdcpace-out"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    val q = spark.readStream
      .option("maxSnapshotsPerTrigger", "1")
      .table("cdcpace.ns.t.changes")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    // three pending commits drained as (at least) three one-commit
    // batches, and every batch's rows belong to exactly one ordinal
    val withBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(withBatches.length == 3,
      s"expected 3 paced one-commit batches, got ${withBatches.length}")
    val got = spark.read.parquet(outDir.toString).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("_change_type"))).sorted.toSeq
    assert(got == Seq((1, "delete"), (1, "insert"), (2, "insert"), (3, "insert")),
      s"paced drain must still cover the whole history: $got")

    // start-snapshot-id: a fresh stream beginning AFTER the first commit
    val ckpt2 = new File(graft.Scratch.dir("test-cdcpace-ckpt2"))
    val outDir2 = new File(graft.Scratch.dir("test-cdcpace-out2"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt2)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir2)
    val q2 = spark.readStream
      .option("start-snapshot-id", lin.head.toString)
      .table("cdcpace.ns.t.changes")
      .writeStream.format("parquet")
      .option("path", outDir2.toString)
      .option("checkpointLocation", ckpt2.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()
    val got2 = spark.read.parquet(outDir2.toString).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("_change_type"))).sorted.toSeq
    assert(got2 == Seq((1, "delete"), (3, "insert")),
      s"start-snapshot-id must skip the first commit's inserts: $got2")
  }

  test("changelog stream admission control: maxRowsPerTrigger splits the " +
      "backlog BETWEEN commits (row-weighted), never WITHIN one — an " +
      "oversized commit drains alone with pairing intact") {
    val wh = graft.Scratch.dir("test-cdcrows-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcrows", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcrows.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcrows.ns")
    spark.sql("""CREATE TABLE cdcrows.ns.t (k INT NOT NULL, v STRING)
                 TBLPROPERTIES ('format-version' = '3',
                                'write.update.mode' = 'merge-on-read')""")
    // commit A: 100 change rows — far over any budget below
    spark.sql("INSERT INTO cdcrows.ns.t SELECT CAST(id AS INT), " +
      "concat('a', id) FROM range(100)")
    // commit B: a MoR update of 3 rows — 6 change rows (3 del + 3 ins)
    spark.sql("UPDATE cdcrows.ns.t SET v = concat(v, '!') WHERE k < 3")
    // commit C: 2 change rows
    spark.sql("INSERT INTO cdcrows.ns.t VALUES (200, 'x'), (201, 'y')")

    val ckpt = new File(graft.Scratch.dir("test-cdcrows-ckpt"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    // batchId -> (commit ids, row shapes) as each micro-batch lands
    val seen = scala.collection.mutable.LinkedHashMap[
      Long, (Set[Long], Seq[(Int, String, String)])]()
    val q = spark.readStream
      .option("compute-updates", "true")
      .option("maxRowsPerTrigger", "7") // fits B (6), not B+C (8)
      .table("cdcrows.ns.t.changes")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.collect()
        seen.synchronized {
          seen(id) = (rows.map(_.getAs[Long]("_commit_snapshot_id")).toSet,
            rows.map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
              r.getAs[String]("_change_type"))).toSeq)
        }
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    val nonEmpty = seen.values.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.size == 3,
      s"3 commits under a 7-row budget must drain as 3 batches " +
        s"(100 | 6 | 2), got ${nonEmpty.map(_._2.size)}")
    // BETWEEN commits only: every commit's rows land in exactly one batch
    assert(nonEmpty.forall(_._1.size == 1),
      s"each batch must hold exactly one commit: ${nonEmpty.map(_._1)}")
    assert(nonEmpty.map(_._1.head).distinct.size == 3,
      "the three commits must land in three distinct batches")
    // WITHIN a commit never: the oversized commit A (100 rows > budget)
    // drained complete in its single batch
    assert(nonEmpty.map(_._2.size).toSet == Set(100, 6, 2),
      s"batch sizes must be the per-commit volumes: " +
        s"${nonEmpty.map(_._2.size)}")
    // pairing intact: B's update halves share its one batch
    val bBatch = nonEmpty.find(_._2.size == 6).get._2
    assert(bBatch.count(_._3 == "update_before") == 3 &&
      bBatch.count(_._3 == "update_after") == 3,
      s"the update commit's pairs must stay in one batch: $bBatch")
    // completeness: union equals the batch compute-updates surface
    val conf = spark.sessionState.newHadoopConf()
    val t = new graft.iceberg.IcebergTable(s"$wh/ns/t", conf)
    val batchAll = t.changesWithUpdates(spark, 0L,
      t.metadata.snapshotLineage.last).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).sorted.toSeq
    assert(nonEmpty.flatMap(_._2).sorted == batchAll,
      "the paced drain must still cover the whole history")

    // Int.MaxValue as "effectively unlimited" must not wrap the cap
    // arithmetic negative (r17 review: sPos + maxFiles overflowed)
    val ckpt2 = new File(graft.Scratch.dir("test-cdcrows-ckpt2"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt2)
    var rows2 = 0L
    val q2 = spark.readStream
      .option("maxSnapshotsPerTrigger", Int.MaxValue.toString)
      .table("cdcrows.ns.t.changes")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows2 += df.count(); ()
      }
      .option("checkpointLocation", ckpt2.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()
    assert(rows2 == 100 + 6 + 2, // plain changes: 100 ins, 3 del + 3 ins, 2 ins
      s"Int.MaxValue snapshot cap must drain the whole history: $rows2")
  }

  test("CDC replication: a changes stream applied through " +
      "icebergReplicaSink keeps the replica equal to the source") {
    import graft.streaming.EventStream
    val wh = graft.Scratch.dir("test-cdcrepl-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcrep", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcrep.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcrep.ns")
    spark.sql("CREATE TABLE cdcrep.ns.src (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
      "'write.delete.mode' = 'merge-on-read')")
    spark.sql("ALTER TABLE cdcrep.ns.src SET IDENTIFIER FIELDS k")
    spark.sql("CREATE TABLE cdcrep.ns.dst (k BIGINT NOT NULL, v STRING)")
    spark.sql("ALTER TABLE cdcrep.ns.dst SET IDENTIFIER FIELDS k")
    spark.sql("INSERT INTO cdcrep.ns.src SELECT id, concat('a', id) FROM range(10)")
    spark.sql("UPDATE cdcrep.ns.src SET v = concat(v, '!') WHERE k % 3 = 0")
    spark.sql("DELETE FROM cdcrep.ns.src WHERE k IN (2, 5)")

    val ckpt = new File(graft.Scratch.dir("test-cdcrepl-ckpt"))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    def sync(): Unit = {
      // keys default from the REPLICA's declared identifier fields
      val q = EventStream.icebergReplicaSink(
          spark.readStream.table("cdcrep.ns.src.changes"), "cdcrep.ns.dst")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    def table(name: String): Seq[(Long, String)] =
      spark.sql(s"SELECT k, v FROM $name").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    sync()
    assert(table("cdcrep.ns.dst") == table("cdcrep.ns.src"),
      "replica must equal the source after the first drain")
    // key churn + a re-insert of a deleted key + another update
    spark.sql("INSERT INTO cdcrep.ns.src VALUES (2, 'back'), (100, 'new')")
    spark.sql("UPDATE cdcrep.ns.src SET v = 'flip' WHERE k = 7")
    spark.sql("DELETE FROM cdcrep.ns.src WHERE k = 0")
    sync()
    assert(table("cdcrep.ns.dst") == table("cdcrep.ns.src"),
      "replica must track the source across churn")
    assert(table("cdcrep.ns.src").nonEmpty)
  }

  test("replica sink: a changesWithUpdates-shaped feed (update halves + " +
      "_row_id) applies; NULL keys fail loudly instead of diverging") {
    import graft.streaming.EventStream
    val wh = graft.Scratch.dir("test-cdcrepl2-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
    spark.conf.set("spark.sql.catalog.cdcrep2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdcrep2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdcrep2.ns")
    spark.sql("CREATE TABLE cdcrep2.ns.dst (k BIGINT NOT NULL, v STRING)")
    spark.sql("ALTER TABLE cdcrep2.ns.dst SET IDENTIFIER FIELDS k")
    spark.sql("INSERT INTO cdcrep2.ns.dst VALUES (1, 'old')")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // (k, v, _row_id, type, snapshot, ordinal) — the v3 paired shape;
    // _row_id must be treated as change METADATA, not a replica column
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, String, Long, Int)]
    val feed = mem.toDF.toDF("k", "v", "_row_id", "_change_type",
      "_commit_snapshot_id", "_change_ordinal")
    val ckpt = graft.Scratch.dir("test-cdcrepl2-ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    val q = EventStream.icebergReplicaSink(feed, "cdcrep2.ns.dst")
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(
        (1L, "old", 10L, "update_before", 7L, 0),
        (1L, "new", 10L, "update_after", 7L, 0),
        (2L, "fresh", 11L, "insert", 7L, 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT k, v FROM cdcrep2.ns.dst ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "new"), (2L, "fresh")),
      s"paired-feed apply wrong: $got")

    // NULL key: the batch must fail LOUDLY, not silently pick a row
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Option[Long], String, String, Long, Int)]
    val feed2 = mem2.toDF.toDF("k", "v", "_change_type",
      "_commit_snapshot_id", "_change_ordinal")
    val ckpt2 = graft.Scratch.dir("test-cdcrepl2-ckpt2")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt2))
    val q2 = EventStream.icebergReplicaSink(feed2, "cdcrep2.ns.dst")
      .option("checkpointLocation", ckpt2).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      mem2.addData((None, "ghost", "insert", 8L, 0))
      q2.processAllAvailable()
      q2.awaitTermination(2000)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("NULL values in key")),
      s"expected the null-key refusal, got: ${msgs(e).mkString(" | ")}")
  }

  test("a malformed read option refuses with the option's name and value") {
    val dir = createTable("srcopt")
    IcebergWriter.append(spark, dir, ids(0, 3))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    def refusal(key: String, value: String): String = msgs(intercept[Exception] {
      spark.read.option(key, value).table("strcat.ns.srcopt").collect()
    }).mkString(" | ")
    for ((key, value) <- Seq("maxFilesPerTrigger" -> "1O",
        "maxRowsPerTrigger" -> "ten", "snapshot-id" -> "12x",
        "as-of-timestamp" -> "yesterday")) {
      val m = refusal(key, value)
      assert(m.contains(key) && m.contains(s"'$value'"),
        s"$key=$value: expected the option named, got: $m")
    }
    // the positivity checks stay
    assert(refusal("maxFilesPerTrigger", "0")
      .contains("maxFilesPerTrigger must be positive, got 0"))
    // valid values read as before
    assert(spark.read.option("maxFilesPerTrigger", "1")
      .table("strcat.ns.srcopt").count() == 3L)
  }
}
