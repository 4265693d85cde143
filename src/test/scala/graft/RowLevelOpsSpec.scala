package graft

import org.apache.hadoop.fs.Path

import graft.iceberg.IcebergTable
import graft.iceberg.connector.GraftCatalog

/** SQL UPDATE / MERGE INTO / copy-on-write DELETE through Spark's
  * group-based row-level rewrites over the Graft scan+write pair.
  *
  * The scale-critical contracts pinned here:
  *  - copy-on-write touches ONLY files whose stats may match the
  *    condition — an untouched file's path must survive the swap
  *    byte-identical (no rewrite amplification);
  *  - equality DELETEs keep taking the metadata-only merge-on-read path
  *    (no data file rewritten);
  *  - prior snapshots still read pre-rewrite rows (time travel);
  *  - tables with outstanding delete files refuse rewrites (rewritten
  *    files would out-sequence the deletes and resurrect rows).
  */
class RowLevelOpsSpec extends SparkSpec {

  private val wh = "/root/repo/target/rlo-warehouse"

  private def freshCatalog(name: String): Unit = {
    new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(wh), true)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
  }

  private def files(name: String, tbl: String): Set[String] =
    IcebergTable(spark, s"$wh/ns/$tbl").planFiles().map(_.filePath).toSet

  test("UPDATE rewrites matched rows, preserves the rest, keeps history") {
    freshCatalog("rlo1")
    spark.sql("CREATE TABLE rlo1.ns.t (k BIGINT, v BIGINT, tag STRING)")
    spark.sql("INSERT INTO rlo1.ns.t SELECT id, id * 10, 'a' FROM range(0, 10)")
    spark.sql("UPDATE rlo1.ns.t SET v = v + 1000, tag = 'hit' WHERE k >= 7")

    val rows = spark.sql("SELECT k, v, tag FROM rlo1.ns.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 10)
    assert(rows.take(7).forall { case (k, v, t) => v == k * 10 && t == "a" })
    assert(rows.drop(7).forall { case (k, v, t) => v == k * 10 + 1000 && t == "hit" })

    // snapshot isolation: version 1 (the insert) still reads pre-update rows
    val v1 = spark.sql("SELECT SUM(v) FROM rlo1.ns.t VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 == (0 until 10).map(_ * 10).sum)
  }

  test("UPDATE rewrites only files whose stats may match") {
    freshCatalog("rlo2")
    spark.sql("CREATE TABLE rlo2.ns.t (k BIGINT, v BIGINT)")
    // two appends → two files with disjoint k ranges in separate manifests
    spark.sql("INSERT INTO rlo2.ns.t SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO rlo2.ns.t SELECT id, id FROM range(1000, 1100)")
    val before = files("rlo2", "t")
    val lowFiles = before.filter(_.contains("/s1-")) // data/s<id>-<uuid> dirs
    assert(lowFiles.nonEmpty && before.size > lowFiles.size)

    spark.sql("UPDATE rlo2.ns.t SET v = -1 WHERE k >= 1000")
    val after = files("rlo2", "t")
    // the low-range files survive untouched; the high-range ones are swapped
    assert(lowFiles.subsetOf(after))
    assert((before -- lowFiles).intersect(after).isEmpty)
    assert(spark.sql("SELECT COUNT(*) FROM rlo2.ns.t WHERE v = -1")
      .collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT COUNT(*) FROM rlo2.ns.t").collect()(0).getLong(0) == 200)
  }

  test("MERGE INTO updates matched and inserts unmatched rows") {
    freshCatalog("rlo3")
    spark.sql("CREATE TABLE rlo3.ns.target (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO rlo3.ns.target SELECT id, id FROM range(0, 5)")
    spark.range(3, 8).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("rlo3_src")

    spark.sql(
      """MERGE INTO rlo3.ns.target t USING rlo3_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)

    val got = spark.sql("SELECT k, v FROM rlo3.ns.target ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(0L -> 0L, 1L -> 1L, 2L -> 2L,
      3L -> 300L, 4L -> 400L, 5L -> 500L, 6L -> 600L, 7L -> 700L))
  }

  test("MERGE with delete action and source-only condition") {
    freshCatalog("rlo4")
    spark.sql("CREATE TABLE rlo4.ns.target (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO rlo4.ns.target SELECT id, id FROM range(0, 6)")
    spark.range(0, 6).selectExpr("id AS k", "id % 2 AS drop_it")
      .createOrReplaceTempView("rlo4_src")
    spark.sql(
      """MERGE INTO rlo4.ns.target t USING rlo4_src s ON t.k = s.k
        |WHEN MATCHED AND s.drop_it = 1 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + 10""".stripMargin)
    val got = spark.sql("SELECT k, v FROM rlo4.ns.target ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(0L -> 10L, 2L -> 12L, 4L -> 14L))
  }

  test("MERGE with NOT MATCHED BY SOURCE (full sync semantics)") {
    freshCatalog("rlo7")
    spark.sql("CREATE TABLE rlo7.ns.target (k BIGINT, v STRING)")
    spark.sql("INSERT INTO rlo7.ns.target VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql(
      """MERGE INTO rlo7.ns.target t
        |USING (SELECT * FROM VALUES (2L,'B'),(4L,'D') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, v FROM rlo7.ns.target ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(2L -> "B", 4L -> "D"),
      "target-only rows delete, matched update, source-only insert")
  }

  test("range DELETE goes copy-on-write; equality DELETE stays merge-on-read") {
    freshCatalog("rlo5")
    spark.sql("CREATE TABLE rlo5.ns.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO rlo5.ns.t SELECT id, id FROM range(0, 10)")

    // range predicate → not expressible as equality tuples → ReplaceData
    spark.sql("DELETE FROM rlo5.ns.t WHERE k > 6")
    val t1 = IcebergTable(spark, s"$wh/ns/t")
    assert(!t1.hasDeletes, "copy-on-write delete must not write delete files")
    assert(spark.sql("SELECT COUNT(*) FROM rlo5.ns.t").collect()(0).getLong(0) == 7)

    // equality predicate → metadata-only path → v2 delete file, no rewrite
    val beforeEq = files("rlo5", "t")
    spark.sql("DELETE FROM rlo5.ns.t WHERE k = 3")
    val t2 = IcebergTable(spark, s"$wh/ns/t")
    assert(t2.hasDeletes, "equality delete must stay merge-on-read")
    assert(files("rlo5", "t") == beforeEq, "equality delete must not swap data files")
    assert(spark.sql("SELECT COUNT(*) FROM rlo5.ns.t").collect()(0).getLong(0) == 6)
  }

  test("rewrites over outstanding delete files materialize them " +
      "(r16: the delete-applying bridge replaced the compact-first refusal)") {
    freshCatalog("rlo6")
    spark.sql("CREATE TABLE rlo6.ns.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO rlo6.ns.t SELECT id, id FROM range(0, 10)")
    spark.sql("DELETE FROM rlo6.ns.t WHERE k = 1") // merge-on-read delete file
    // the copy-on-write UPDATE now proceeds directly: its read applies
    // the delete, so the rewritten files hold only surviving rows and
    // k=1 can never resurrect
    spark.sql("UPDATE rlo6.ns.t SET v = 0 WHERE k > 5")
    assert(spark.sql("SELECT COUNT(*) FROM rlo6.ns.t WHERE v = 0 AND k > 5")
      .collect()(0).getLong(0) == 4)
    assert(spark.sql("SELECT COUNT(*) FROM rlo6.ns.t WHERE k = 1")
      .collect()(0).getLong(0) == 0, "the MoR-deleted row must stay deleted")
    assert(spark.sql("SELECT COUNT(*) FROM rlo6.ns.t").collect()(0).getLong(0) == 9)
    // compaction afterwards still works and changes nothing
    graft.iceberg.IcebergWriter.compact(spark, s"$wh/ns/t")
    spark.sql("UPDATE rlo6.ns.t SET v = -5 WHERE k > 5")
    assert(spark.sql("SELECT COUNT(*) FROM rlo6.ns.t WHERE v = -5")
      .collect()(0).getLong(0) == 4)
    assert(spark.sql("SELECT COUNT(*) FROM rlo6.ns.t").collect()(0).getLong(0) == 9)
  }

  test("UPDATE on a partitioned table keeps results and untouched partitions") {
    freshCatalog("rlo7")
    spark.sql(
      """CREATE TABLE rlo7.ns.p (k BIGINT, grp BIGINT, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("INSERT INTO rlo7.ns.p SELECT id, id % 3, id FROM range(0, 30)")
    val before = files("rlo7", "p")

    spark.sql("UPDATE rlo7.ns.p SET v = v + 500 WHERE grp = 1")
    val after = files("rlo7", "p")
    // identity-partition stats prune grp != 1 files from the rewrite
    val untouched = before.intersect(after)
    assert(untouched.nonEmpty, "files of unmatched partitions must survive")
    // the replacement write clusters by partition (RequiresDistribution-
    // AndOrdering): ONE partition was rewritten, so the new files number
    // ~1, not one per (task, tuple)
    val replacement = after.diff(before)
    assert(replacement.size <= 2,
      s"rewrite of one partition produced ${replacement.size} files")

    val got = spark.sql(
      "SELECT CAST(SUM(v) AS BIGINT) FROM rlo7.ns.p").collect()(0).getLong(0)
    val expect = (0 until 30).map(i => if (i % 3 == 1) i + 500 else i).sum
    assert(got == expect)
    // partition pruning still works post-rewrite for surviving files
    assert(spark.sql("SELECT COUNT(*) FROM rlo7.ns.p WHERE grp = 2")
      .collect()(0).getLong(0) == 10)
  }

  // ---- write parity: what each write entry point puts on disk ----------

  test("write parity: compact on a v3 table materializes the lineage columns") {
    freshCatalog("rlowp1")
    spark.sql(
      """CREATE TABLE rlowp1.ns.t (k BIGINT, grp INT, tag STRING)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('format-version' = '3')""".stripMargin)
    spark.sql("INSERT INTO rlowp1.ns.t SELECT id, CAST(id % 2 AS INT), 'a' FROM range(0, 6)")
    spark.sql("INSERT INTO rlowp1.ns.t SELECT id, CAST(id % 2 AS INT), NULL FROM range(6, 10)")
    val dir = s"$wh/ns/t"
    val conf = spark.sessionState.newHadoopConf()
    graft.iceberg.IcebergWriter.compact(spark, dir)
    val t = IcebergTable(spark, dir)
    val paths = WriteParity.newDataFiles(t, Set.empty).map(f => t.resolve(f.filePath))
    assert(WriteParity.shapesMatch(paths,
      "s\\d+-[0-9a-f]{8}/part-\\d+-\\d+-\\d+\\.parquet"), paths.mkString(", "))
    val got = WriteParity.dataLines(t, Set.empty, conf)
    assert(got == Seq(
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,tag:3:OPTIONAL,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=SNAPPY part=grp=0 lower=1/2/3 nan= null=1/2/3 upper=1/2/3 value=1/2/3",
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,tag:3:OPTIONAL,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=SNAPPY part=grp=1 lower=1/2/3 nan= null=1/2/3 upper=1/2/3 value=1/2/3"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(paths, conf)
    assert(meta == Set(Seq(
      "k" -> """{"iceberg.field-id":1,"parquet.field.id":1}""",
      "grp" -> """{"iceberg.field-id":2,"parquet.field.id":2}""",
      "tag" -> """{"iceberg.field-id":3,"parquet.field.id":3}""",
      "_row_id" -> """{"parquet.field.id":2147483540}""",
      "_last_updated_sequence_number" -> """{"parquet.field.id":2147483539}""")), meta.mkString("\n"))
  }

  test("write parity: copy-on-write UPDATE on a v3 table") {
    freshCatalog("rlowp2")
    spark.sql(
      """CREATE TABLE rlowp2.ns.t (k BIGINT, grp INT, tag STRING)
        |PARTITIONED BY (grp)
        |TBLPROPERTIES ('format-version' = '3',
        |  'write.parquet.compression-codec' = 'zstd')""".stripMargin)
    spark.sql("INSERT INTO rlowp2.ns.t SELECT id, CAST(id % 2 AS INT), 'a' FROM range(0, 10)")
    val dir = s"$wh/ns/t"
    val conf = spark.sessionState.newHadoopConf()
    val before = files("rlowp2", "t")
    spark.sql("UPDATE rlowp2.ns.t SET tag = 'hit' WHERE k >= 7")
    val t = IcebergTable(spark, dir)
    val paths = WriteParity.newDataFiles(t, before).map(f => t.resolve(f.filePath))
    assert(WriteParity.shapesMatch(paths,
      "rlo-[0-9a-f]{8}-[0-9a-f]{3}/part-\\d+-\\d+-\\d+\\.parquet"), paths.mkString(", "))
    val got = WriteParity.dataLines(t, before, conf)
    assert(got == Seq(
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,tag:3:OPTIONAL,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=ZSTD part=grp=0 lower=1/2/3/2147483539/2147483540 nan= null=1/2/3/2147483539/2147483540 upper=1/2/3/2147483539/2147483540 value=1/2/3/2147483539/2147483540",
      "ids=k:1:OPTIONAL,grp:2:OPTIONAL,tag:3:OPTIONAL,_row_id:2147483540:OPTIONAL,_last_updated_sequence_number:2147483539:OPTIONAL codecs=ZSTD part=grp=1 lower=1/2/3/2147483539/2147483540 nan= null=1/2/3/2147483539/2147483540 upper=1/2/3/2147483539/2147483540 value=1/2/3/2147483539/2147483540"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(paths, conf)
    assert(meta == Set(Seq(
      "k" -> """{"iceberg.field-id":1,"parquet.field.id":1}""",
      "grp" -> """{"iceberg.field-id":2,"parquet.field.id":2}""",
      "tag" -> """{"iceberg.field-id":3,"parquet.field.id":3}""",
      "_row_id" -> """{"parquet.field.id":2147483540}""",
      "_last_updated_sequence_number" -> """{"parquet.field.id":2147483539}""")), meta.mkString("\n"))
  }
}
