package graft

import org.apache.hadoop.fs.Path

import graft.iceberg.{IcebergTable, IcebergWriter, TableMetadata}
import graft.iceberg.connector.GraftCatalog

/** Merge-on-read UPDATE / MERGE / DELETE (`write.<op>.mode =
  * merge-on-read`): position-delete + append deltas instead of
  * copy-on-write rewrites. Asserted on three axes: values (the query
  * result), physics (no pre-existing data file is removed; delete files
  * appear), and WAP (row-level ops stage on `spark.wap.branch` and
  * publish atomically).
  */
class MergeOnReadSpec extends SparkSpec {

  private val warehouse = "/root/repo/target/mor-warehouse"
  private def conf = spark.sessionState.newHadoopConf()

  private def fresh(cat: String): String = {
    new Path(warehouse).getFileSystem(conf).delete(new Path(warehouse), true)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    s"$warehouse/ns"
  }

  private def dataFiles(dir: String): Set[String] =
    new IcebergTable(dir, conf).planFiles().map(_.filePath).toSet

  test("UPDATE in merge-on-read mode rewrites rows, not files") {
    val ns = fresh("mor1")
    spark.sql(
      """CREATE TABLE mor1.ns.t (k INT, v STRING)
        |TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO mor1.ns.t SELECT CAST(id AS INT), 'old' FROM range(100)")
    val dir = s"$ns/t"
    val before = dataFiles(dir)

    spark.sql("UPDATE mor1.ns.t SET v = 'new' WHERE k % 10 = 3")

    val after = dataFiles(dir)
    assert(before.subsetOf(after), "merge-on-read must not remove data files")
    assert((after -- before).nonEmpty, "replacement rows are appended")
    assert(new IcebergTable(dir, conf).hasDeletes,
      "the update's deletes land as position-delete files")
    val rows = spark.sql("SELECT k, v FROM mor1.ns.t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size === 100)
    assert((0 until 100).forall(k =>
      rows(k) == (if (k % 10 == 3) "new" else "old")))
  }

  test("consecutive merge-on-read UPDATEs see each other's deltas") {
    val ns = fresh("mor2")
    spark.sql(
      """CREATE TABLE mor2.ns.t (k INT, v INT)
        |TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO mor2.ns.t SELECT CAST(id AS INT), 0 FROM range(20)")
    spark.sql("UPDATE mor2.ns.t SET v = v + 1 WHERE k < 10")
    spark.sql("UPDATE mor2.ns.t SET v = v + 1 WHERE k < 5")
    val rows = spark.sql("SELECT k, v FROM mor2.ns.t").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows.size === 20)
    assert((0 until 20).forall(k =>
      rows(k) == (if (k < 5) 2 else if (k < 10) 1 else 0)))
  }

  test("MERGE INTO in merge-on-read mode: matched updates + inserts") {
    val ns = fresh("mor3")
    spark.sql(
      """CREATE TABLE mor3.ns.t (k INT, v STRING)
        |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO mor3.ns.t SELECT CAST(id AS INT), 'base' FROM range(10)")
    val dir = s"$ns/t"
    val before = dataFiles(dir)
    spark.range(5, 15)
      .selectExpr("CAST(id AS INT) AS k", "'merged' AS v")
      .createOrReplaceTempView("mor3_src")
    spark.sql(
      """MERGE INTO mor3.ns.t t USING mor3_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(before.subsetOf(dataFiles(dir)))
    val rows = spark.sql("SELECT k, v FROM mor3.ns.t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size === 15)
    assert((0 until 15).forall(k =>
      rows(k) == (if (k < 5) "base" else "merged")))
  }

  test("DELETE with a non-equality predicate in merge-on-read mode") {
    val ns = fresh("mor4")
    spark.sql(
      """CREATE TABLE mor4.ns.t (k INT, v STRING)
        |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO mor4.ns.t SELECT CAST(id AS INT), CONCAT('x', id % 3) FROM range(30)")
    val dir = s"$ns/t"
    val before = dataFiles(dir)
    // OR of ranges: not equality-expressible, reaches the row-level path
    spark.sql("DELETE FROM mor4.ns.t WHERE (k > 5 AND k < 9) OR (k >= 20 AND v = 'x2')")
    assert(before.subsetOf(dataFiles(dir)),
      "merge-on-read DELETE keeps every data file")
    val kept = spark.sql("SELECT k FROM mor4.ns.t").collect().map(_.getInt(0)).toSet
    val expected = (0 until 30).filterNot(k =>
      (k > 5 && k < 9) || (k >= 20 && k % 3 == 2)).toSet
    assert(kept === expected)
  }

  test("UPDATE and MERGE stage on spark.wap.branch and publish atomically") {
    val ns = fresh("mor5")
    spark.sql("CREATE TABLE mor5.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO mor5.ns.t SELECT CAST(id AS INT), 'main' FROM range(10)")
    val dir = s"$ns/t"
    spark.sql("ALTER TABLE mor5.ns.t CREATE BRANCH audit")
    spark.conf.set("spark.wap.branch", "audit")
    try {
      spark.sql("INSERT INTO mor5.ns.t VALUES (100, 'staged')")
      // no write.update.mode declared: WAP auto-routes to merge-on-read,
      // and the delta scan MUST see the staged insert (branch head)
      spark.sql("UPDATE mor5.ns.t SET v = 'updated' WHERE k >= 8")
    } finally spark.conf.unset("spark.wap.branch")

    // main unchanged
    val main = spark.sql("SELECT k, v FROM mor5.ns.t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(main === (0 until 10).map(_ -> "main").toMap)
    // branch carries insert + update (including the staged row k=100)
    val branch = spark.sql(
      "SELECT k, v FROM mor5.ns.t VERSION AS OF 'audit'").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(branch.size === 11)
    assert(branch(100) === "updated", "the staged insert must be visible " +
      "to the staged UPDATE (branch-anchored scan)")
    assert(branch(8) === "updated" && branch(9) === "updated" && branch(0) === "main")

    IcebergWriter.fastForward(conf, dir, from = "audit")
    val published = spark.sql("SELECT k, v FROM mor5.ns.t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(published === branch)
  }

  test("copy-on-write rewrites over OUTSTANDING delete debt materialize " +
      "the deletions — no resurrection (eq, position, and DV debt)") {
    val ns = fresh("morcow")
    // equality + position debt, then a CoW UPDATE over the same files
    spark.sql("""CREATE TABLE morcow.ns.t (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morcow.ns.t SELECT id, concat('v', id) FROM range(0, 20)")
    spark.sql("DELETE FROM morcow.ns.t WHERE k IN (3, 7)") // equality debt
    spark.sql("DELETE FROM morcow.ns.t WHERE k >= 15 AND k < 17") // position debt
    assert(new IcebergTable(s"$ns/t", conf).hasDeletes,
      "precondition: outstanding v2 delete files")
    // copy-on-write UPDATE (the default update mode): previously refused
    spark.sql("UPDATE morcow.ns.t SET v = 'hit' WHERE k % 5 = 0")
    val got = spark.sql("SELECT k, v FROM morcow.ns.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 20L)
      .filterNot(Set(3L, 7L, 15L, 16L))
      .map(k => (k, if (k % 5 == 0) "hit" else s"v$k"))
    assert(got == want, s"deleted rows must NOT resurrect: $got")
    // the rewrite materialized the deletions: the UPDATE's non-pushable
    // predicate makes every file a candidate, so ALL files were replaced
    // and their manifest record counts must already exclude 3/7/15/16
    // (replacement files escape the old deletes by sequence number)
    val t2 = new IcebergTable(s"$ns/t", conf)
    val raw = t2.planFiles().map(_.recordCount).sum
    assert(raw == want.size.toLong,
      s"replacement files must hold exactly the surviving rows, got $raw")

    // DV debt: same invariant through the Puffin deletion-vector path
    spark.sql("""CREATE TABLE morcow.ns.dv (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
                                'graft.write.deletes' = 'dv')""")
    spark.sql(
      "INSERT INTO morcow.ns.dv SELECT id, concat('v', id) FROM range(0, 10)")
    spark.sql("DELETE FROM morcow.ns.dv WHERE k >= 8")
    spark.sql("UPDATE morcow.ns.dv SET v = 'hit' WHERE k = 2")
    assert(spark.sql("SELECT k FROM morcow.ns.dv ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == (0L until 8L),
      "DV-deleted rows must not resurrect through the rewrite")

    // v3 lineage table with debt: _row_id survives the debt-materializing
    // rewrite (the bridge serves lineage AND applies deletes)
    spark.sql("""CREATE TABLE morcow.ns.v3 (k BIGINT, v STRING)
                 TBLPROPERTIES ('format-version' = '3',
                                'write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morcow.ns.v3 SELECT id, concat('v', id) FROM range(0, 10)")
    val idsBefore = spark.sql("SELECT k, _row_id FROM morcow.ns.v3").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("DELETE FROM morcow.ns.v3 WHERE k = 4")
    spark.sql("UPDATE morcow.ns.v3 SET v = 'hit' WHERE k = 6")
    val after = spark.sql("SELECT k, v, _row_id FROM morcow.ns.v3 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(after.map(_._1).toSeq == (0L until 10L).filterNot(_ == 4L),
      "v3 debt rewrite must not resurrect")
    after.foreach { case (k, _, id) =>
      assert(id == idsBefore(k), s"_row_id for k=$k must survive the rewrite")
    }
    assert(after.find(_._1 == 6L).get._2 == "hit")
  }

  test("the CoW-over-debt broadcast cap is a table/session PROPERTY: " +
      "lowered cap refuses loudly, raised cap lets the rewrite land") {
    val ns = fresh("morcap")
    spark.sql("""CREATE TABLE morcap.ns.t (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morcap.ns.t SELECT id, concat('v', id) FROM range(0, 20)")
    spark.sql("DELETE FROM morcap.ns.t WHERE k IN (3, 7)") // 2 debt rows
    // TABLE property lowered below the debt ⇒ the rewrite must refuse
    // with the diagnostic (not OOM at runtime), naming the property
    spark.sql(s"""ALTER TABLE morcap.ns.t SET TBLPROPERTIES (
      '${graft.iceberg.connector.RowLevelOps.MaxBroadcastDeleteRows}' = '1')""")
    val e = intercept[Exception] {
      spark.sql("UPDATE morcap.ns.t SET v = 'hit' WHERE k % 5 = 0")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("max-broadcast-delete-rows"),
      s"refusal must name the cap property: ${rootMsg(e)}")
    // SESSION conf overrides the table property upward ⇒ rewrite lands
    spark.conf.set(
      s"spark.${graft.iceberg.connector.RowLevelOps.MaxBroadcastDeleteRows}",
      "1000000")
    try {
      // session conf wins over the (still-lowered) table property: the
      // cap guards THIS driver's memory
      spark.sql("UPDATE morcap.ns.t SET v = 'hit' WHERE k % 5 = 0")
    } finally spark.conf.unset(
      s"spark.${graft.iceberg.connector.RowLevelOps.MaxBroadcastDeleteRows}")
    val got = spark.sql("SELECT k, v FROM morcap.ns.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 20L).filterNot(Set(3L, 7L))
      .map(k => (k, if (k % 5 == 0) "hit" else s"v$k"))
    assert(got == want, s"raised cap must let the rewrite land: $got")

    // BYTE cap: equality-delete rows carry data-column tuples, so the
    // byte estimate (schema widths, strings at 128 B) gates even when
    // the row cap passes
    spark.sql("""CREATE TABLE morcap.ns.b (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morcap.ns.b SELECT id, concat('v', id) FROM range(0, 20)")
    spark.sql("DELETE FROM morcap.ns.b WHERE k IN (3, 7)")
    spark.conf.set(
      s"spark.${graft.iceberg.connector.RowLevelOps.MaxBroadcastDeleteBytes}",
      "8") // 2 eq-delete rows x ~8 B key >> 8
    try {
      val eb = intercept[Exception] {
        spark.sql("UPDATE morcap.ns.b SET v = 'hit' WHERE k % 5 = 0")
      }
      assert(rootMsg(eb).contains("max-broadcast-delete-bytes"),
        s"byte-cap refusal must name the property: ${rootMsg(eb)}")
    } finally spark.conf.unset(
      s"spark.${graft.iceberg.connector.RowLevelOps.MaxBroadcastDeleteBytes}")
  }

  test("scan-class split: clean tables keep the vectorized group scan, " +
      "debt tables route the delete-applying bridge (plan-asserted)") {
    val ns = fresh("morplan")
    spark.sql("""CREATE TABLE morplan.ns.t (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morplan.ns.t SELECT id, concat('v', id) FROM range(0, 10)")
    def planOf(): String = spark.sql(
      "EXPLAIN UPDATE morplan.ns.t SET v = 'x' WHERE k = 1")
      .collect()(0).getString(0)
    val clean = planOf()
    assert(clean.contains("GraftGroupScan") &&
      !clean.contains("GraftLineageGroupScan"),
      s"clean table must plan the vectorized group scan:\n$clean")
    spark.sql("DELETE FROM morplan.ns.t WHERE k = 5")
    val debt = planOf()
    assert(debt.contains("GraftLineageGroupScan") &&
      debt.contains("deletesApplied=true"),
      s"debt table must plan the delete-applying bridge:\n$debt")
  }

  test("a delete manifest landing AFTER a clean-at-plan rewrite aborts " +
      "with the CommitConflictException retry contract") {
    val ns = fresh("morrace")
    spark.sql("""CREATE TABLE morrace.ns.t (k BIGINT, v STRING)
                 TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql(
      "INSERT INTO morrace.ns.t SELECT id, concat('v', id) FROM range(0, 10)")
    val t = new IcebergTable(s"$ns/t", conf)
    val planned = t.planFiles() // "plan time": no debt, nothing consumed
    // the concurrent merge-on-read DELETE lands before the swap commits
    spark.sql("DELETE FROM morrace.ns.t WHERE k >= 8")
    val e = intercept[graft.iceberg.CommitConflictException] {
      graft.iceberg.IcebergWriter.replaceFiles(conf, s"$ns/t",
        planned.map(_.filePath).toSet, Seq.empty,
        removedEntries = planned,
        carryDeleteManifests = false,
        plannedDeleteManifests = Some(Set.empty))
    }
    assert(e.getMessage.contains("landed after planning"),
      s"retry contract, not a compact-first diagnosis: ${e.getMessage}")
  }

  test("explicit copy-on-write under WAP still refuses loudly") {
    val ns = fresh("mor6")
    spark.sql(
      """CREATE TABLE mor6.ns.t (k INT, v STRING)
        |TBLPROPERTIES ('write.update.mode' = 'copy-on-write')""".stripMargin)
    spark.sql("INSERT INTO mor6.ns.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE mor6.ns.t CREATE BRANCH audit")
    spark.conf.set("spark.wap.branch", "audit")
    try {
      val e = intercept[Exception](
        spark.sql("UPDATE mor6.ns.t SET v = 'b' WHERE k = 1"))
      assert(e.getMessage.contains("spark.wap.branch"))
    } finally spark.conf.unset("spark.wap.branch")
  }

  test("_file and _pos metadata columns are user-queryable") {
    val ns = fresh("mor7")
    spark.sql("CREATE TABLE mor7.ns.t (k INT)")
    spark.sql("INSERT INTO mor7.ns.t SELECT CAST(id AS INT) FROM range(7)")
    val rows = spark.sql("SELECT k, _file, _pos FROM mor7.ns.t").collect()
    assert(rows.length === 7)
    assert(rows.forall(_.getString(1).contains("/ns/t/data/")))
    val byFile = rows.groupBy(_.getString(1))
    byFile.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted === (0L until rs.length).toArray.toSeq)
    }
  }

  test("MOR DELETE works on an ORC geo table: a pure DELETE writes no " +
      "data rows, so the geo/ns parquet-only write refusal must not " +
      "fire (the r18 advice, pinned)") {
    val ns = fresh("morgeo")
    spark.sql(
      """CREATE TABLE morgeo.ns.g (k BIGINT, geom BINARY)
        |TBLPROPERTIES ('format-version' = '3',
        |  'write.format-default' = 'orc',
        |  'write.delete.mode' = 'merge-on-read')""".stripMargin)
    import spark.implicits._
    def pt(x: Double, y: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(21)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(1).putDouble(x).putDouble(y); bb.array()
    }
    Seq((1L, pt(1, 2)), (2L, pt(3, 4)), (3L, pt(5, 6))).toDF("k", "geom")
      .createOrReplaceTempView("morgeo_src")
    spark.sql("INSERT INTO morgeo.ns.g SELECT * FROM morgeo_src")
    // flip binary -> geometry in a new metadata version (the adoption
    // shape: geo tables cannot be DECLARED through Spark DDL)
    val dir = s"$ns/g"
    val fs = new Path(dir).getFileSystem(conf)
    val latest = TableMetadata.latestMetadataPath(dir, conf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = {
      val in = fs.open(latest)
      try mapper.readTree(in.readAllBytes())
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    }
    import scala.jdk.CollectionConverters._
    root.get("schemas").elements.asScala
      .flatMap(_.get("fields").elements.asScala)
      .filter(_.get("name").asText == "geom")
      .foreach(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("type", "geometry"))
    val v = latest.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong
    val out = fs.create(new Path(s"$dir/metadata/v${v + 1}.metadata.json"))
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    spark.sql("REFRESH TABLE morgeo.ns.g")
    // INSERTs refuse (geo on ORC has no conformant engine write) ...
    val ei = intercept[Exception] {
      spark.sql("INSERT INTO morgeo.ns.g SELECT * FROM morgeo_src")
    }
    assert(Iterator.iterate(ei: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("parquet"))),
      s"geo INSERT on ORC must still refuse: $ei")
    // ... but a pure MOR DELETE succeeds: only position-delete files are
    // written, no data row carries a geo value
    spark.sql("DELETE FROM morgeo.ns.g WHERE k = 2")
    assert(spark.sql("SELECT k FROM morgeo.ns.g ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(new IcebergTable(dir, conf).hasDeletes,
      "the delete landed as a position-delete file")
  }

  // ---- write parity: what each write entry point puts on disk ----------

  test("write parity: merge-on-read MERGE on a v3 table, updates and inserts") {
    val ns = fresh("morwp1")
    spark.sql(
      """CREATE TABLE morwp1.ns.t (k INT, grp INT, v STRING)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read',
        |  'format-version' = '3')""".stripMargin)
    spark.sql("INSERT INTO morwp1.ns.t SELECT CAST(id AS INT), CAST(id % 2 AS INT), " +
      "'base' FROM range(10)")
    val dir = s"$ns/t"
    val before = dataFiles(dir)
    spark.range(5, 15)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id % 2 AS INT) AS grp", "'merged' AS v")
      .createOrReplaceTempView("morwp1_src")
    spark.sql(
      """MERGE INTO morwp1.ns.t t USING morwp1_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, grp, v) VALUES (s.k, s.grp, s.v)""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM morwp1.ns.t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == (0 until 15).map(k => k -> (if (k < 5) "base" else "merged")).toMap)
    val t = new IcebergTable(dir, conf)
    val paths = WriteParity.newDataFiles(t, before).map(f => t.resolve(f.filePath))
    assert(WriteParity.shapesMatch(paths,
      "mor-[0-9a-f]{8}-[0-9a-f]{3}/part-\\d+-\\d+-\\d+\\.parquet"), paths.mkString(", "))
    val got = WriteParity.dataLines(t, before, conf)
    assert(got == Seq(
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,v:3:REQUIRED,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=SNAPPY part=grp=0 lower=1/2/3/2147483540 nan= null=1/2/3/2147483539/2147483540 upper=1/2/3/2147483540 value=1/2/3/2147483539/2147483540",
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,v:3:REQUIRED,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=SNAPPY part=grp=1 lower=1/2/3/2147483540 nan= null=1/2/3/2147483539/2147483540 upper=1/2/3/2147483540 value=1/2/3/2147483539/2147483540"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(paths, conf)
    assert(meta == Set(Seq(
      "k" -> """{"iceberg.field-id":1,"parquet.field.id":1}""",
      "grp" -> """{"iceberg.field-id":2,"parquet.field.id":2}""",
      "v" -> """{"iceberg.field-id":3,"parquet.field.id":3}""",
      "_row_id" -> """{"parquet.field.id":2147483540}""",
      "_last_updated_sequence_number" -> """{"parquet.field.id":2147483539}""")), meta.mkString("\n"))
  }

  test("write parity: merge-on-read DELETE writes position-delete files") {
    val ns = fresh("morwp2")
    spark.sql(
      """CREATE TABLE morwp2.ns.t (k INT, v STRING)
        |PARTITIONED BY (v)
        |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
        |  'write.parquet.compression-codec' = 'gzip')""".stripMargin)
    spark.sql("INSERT INTO morwp2.ns.t SELECT CAST(id AS INT), CONCAT('x', id % 3) FROM range(30)")
    val dir = s"$ns/t"
    val before = dataFiles(dir)
    // `k % 7` has no source-filter form: the delete plans as a row-level
    // delta write, not a metadata-only deleteWhere
    spark.sql("DELETE FROM morwp2.ns.t WHERE k % 7 = 3")
    assert(spark.sql("SELECT COUNT(*) FROM morwp2.ns.t").head.getLong(0) == 26L)
    val t = new IcebergTable(dir, conf)
    assert(WriteParity.newDataFiles(t, before).isEmpty, "a DELETE appends no data")
    val dels = WriteParity.newDeleteFiles(t, Set.empty)
    assert(WriteParity.shapesMatch(dels,
      "mor-[0-9a-f]{8}-[0-9a-f]{3}/del-\\d+-\\d+-[0-9a-f]{8}\\.parquet"), dels.mkString(", "))
    val got = WriteParity.deleteLines(t, Set.empty, conf)
    assert(got == Seq.fill(3)(
      "ids=file_path:2147483546:REQUIRED,pos:2147483545:REQUIRED codecs=GZIP"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(dels, conf)
    assert(meta == Set(Seq(
      "file_path" -> """{"parquet.field.id":2147483546}""",
      "pos" -> """{"parquet.field.id":2147483545}""")), meta.mkString("\n"))
  }
}
