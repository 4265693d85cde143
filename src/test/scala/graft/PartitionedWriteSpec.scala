package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

import graft.iceberg.IcebergTable
import graft.iceberg.connector.GraftCatalog

/** Partitioned WRITE path: transformed partition tuples and manifest
  * summaries recorded at commit time must round-trip through the read
  * side's pruning — the writer and pruner share one transform
  * implementation ([[graft.iceberg.IcebergTransform]] →
  * [[graft.iceberg.PartitionTransforms]]), and these tests pin that the
  * loop actually closes: what this engine writes, it later prunes.
  */
class PartitionedWriteSpec extends SparkSpec {

  private val warehouse = "/root/repo/target/test-pw-warehouse"

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.pw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pw.warehouse", warehouse)
  }

  test("day + bucket partitioned DDL, insert, read back, prune") {
    useCatalog()
    FileUtils.deleteQuietly(new File(warehouse))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql(
      """CREATE TABLE pw.ns.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts), bucket(4, id))""".stripMargin)
    spark.sql(
      """INSERT INTO pw.ns.ev VALUES
        |(1, TIMESTAMP'2024-01-01 01:00:00', 1.0),
        |(2, TIMESTAMP'2024-01-01 02:00:00', 2.0),
        |(3, TIMESTAMP'2024-01-02 03:00:00', 3.0),
        |(4, TIMESTAMP'2024-01-03 04:00:00', 4.0)""".stripMargin)

    // values survive the round trip
    assert(spark.sql("SELECT SUM(v) FROM pw.ns.ev").collect()(0).getDouble(0) == 10.0)
    assert(spark.sql(
      "SELECT id FROM pw.ns.ev WHERE ts >= TIMESTAMP'2024-01-02 00:00:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))

    // a source-column ts filter prunes FILES through the day transform
    val t = IcebergTable(spark, s"$warehouse/ns/ev")
    val (mk, mt, fk, ft) = t.pruneCounts(Seq(
      GreaterThanOrEqual("ts", java.time.Instant.parse("2024-01-02T00:00:00Z")),
      LessThan("ts", java.time.Instant.parse("2024-01-03T00:00:00Z"))))
    assert(ft >= 3, s"expected at least one file per day-bucket group, got $ft")
    assert(fk < ft, s"day filter should prune files: kept $fk of $ft")
    // the kept files contain exactly day 2024-01-02 (id = 3)
    assert(spark.sql(
      """SELECT id FROM pw.ns.ev
        |WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-03 00:00:00'""".stripMargin)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))

    // bucket equality on id prunes too (spec-exact murmur3 both sides)
    val (_, _, fkb, _) = t.pruneCounts(Seq(EqualTo("id", 1L)))
    assert(fkb < ft, s"bucket filter should prune files: kept $fkb of $ft")
    assert(spark.sql("SELECT v FROM pw.ns.ev WHERE id = 1")
      .collect().map(_.getDouble(0)).toSeq == Seq(1.0))
  }

  test("manifest summaries prune whole manifests before any manifest read") {
    useCatalog()
    // appends create one manifest per snapshot: day-disjoint appends must
    // prune at the MANIFEST level from the summary alone
    spark.sql("INSERT INTO pw.ns.ev VALUES (5, TIMESTAMP'2024-06-01 00:00:00', 5.0)")
    val t = IcebergTable(spark, s"$warehouse/ns/ev")
    val (mk, mt, _, _) = t.pruneCounts(Seq(
      GreaterThanOrEqual("ts", java.time.Instant.parse("2024-06-01T00:00:00Z"))))
    assert(mt == 2, s"expected 2 manifests (2 snapshots), got $mt")
    assert(mk == 1, s"summary should prune the January manifest: kept $mk of $mt")
  }

  test("identity partition write keeps source columns in files (native path)") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS pw.ns.idp")
    spark.sql(
      """CREATE TABLE pw.ns.idp (k BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql("INSERT INTO pw.ns.idp VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val t = IcebergTable(spark, s"$warehouse/ns/idp")
    // region stays in the data files: no metadata re-injection needed
    assert(t.missingPartitionColumns(spark, t.planFiles()).isEmpty,
      "identity source column must be materialized in the data files")
    // one file per (task, partition value): exact counts vary with task
    // layout, but every 'us' file must be pruned
    val (_, _, fk, ft) = t.pruneCounts(Seq(EqualTo("region", "eu")))
    assert(fk < ft, s"identity filter should prune files: kept $fk of $ft")
    val usFiles = t.planFiles().count(_.partition.get("region").contains("us"))
    assert(fk == ft - usFiles, s"all $usFiles us-files must be pruned")
    assert(spark.sql("SELECT k FROM pw.ns.idp WHERE region = 'eu' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("copy-on-write UPDATE keeps partition tuples: files still prune after rewrite") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS pw.ns.upd")
    spark.sql(
      """CREATE TABLE pw.ns.upd (id BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO pw.ns.upd VALUES
        |(1, TIMESTAMP'2024-01-01 01:00:00', 1.0),
        |(2, TIMESTAMP'2024-01-02 02:00:00', 2.0),
        |(3, TIMESTAMP'2024-01-03 03:00:00', 3.0)""".stripMargin)
    // rewrite EVERY file (condition on a non-partition column matches all)
    spark.sql("UPDATE pw.ns.upd SET v = v + 10 WHERE v >= 0")
    assert(spark.sql("SELECT SUM(v) FROM pw.ns.upd").collect()(0).getDouble(0) == 36.0)

    // replacement files must carry exact partition tuples → a day filter
    // still prunes them (round-4 gap: rewritten files were tuple-less and
    // exempt from pruning until compaction)
    val t = IcebergTable(spark, s"$warehouse/ns/upd")
    assert(t.planFiles().forall(_.partition.nonEmpty),
      "every replacement file must carry its partition tuple")
    val (_, _, fk, ft) = t.pruneCounts(Seq(
      GreaterThanOrEqual("ts", java.time.Instant.parse("2024-01-03T00:00:00Z"))))
    assert(fk < ft, s"day filter should prune rewritten files: kept $fk of $ft")
    assert(spark.sql(
      "SELECT id FROM pw.ns.upd WHERE ts >= TIMESTAMP'2024-01-03 00:00:00'")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("write.distribution-mode hash (default) collapses the task×tuple file explosion; none opts out") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS pw.ns.dist")
    spark.sql(
      """CREATE TABLE pw.ns.dist (k BIGINT, cat STRING)
        |PARTITIONED BY (cat)""".stripMargin)
    // 4 input tasks, each seeing all 3 categories: unclustered this is
    // 4 × 3 = 12 files; the default hash rebalance clusters by tuple
    // first, so the count is bounded by tuples (± AQE splits), not tasks
    spark.sql(
      """INSERT INTO pw.ns.dist
        |SELECT id, concat('c', id % 3) FROM range(0, 300, 1, 4)""".stripMargin)
    val hashFiles = IcebergTable(spark, s"$warehouse/ns/dist").planFiles().size
    assert(hashFiles <= 6, s"hash mode wrote $hashFiles files for 3 tuples")
    assert(spark.sql("SELECT COUNT(DISTINCT cat) FROM pw.ns.dist")
      .collect()(0).getLong(0) == 3L)

    spark.sql("DROP TABLE IF EXISTS pw.ns.dist0")
    spark.sql(
      """CREATE TABLE pw.ns.dist0 (k BIGINT, cat STRING)
        |PARTITIONED BY (cat)
        |TBLPROPERTIES ('write.distribution-mode' = 'none')""".stripMargin)
    spark.sql(
      """INSERT INTO pw.ns.dist0
        |SELECT id, concat('c', id % 3) FROM range(0, 300, 1, 4)""".stripMargin)
    val noneFiles = IcebergTable(spark, s"$warehouse/ns/dist0").planFiles().size
    assert(noneFiles == 12,
      s"none mode keeps the input layout (4 tasks × 3 tuples), got $noneFiles")
    // same rows either way
    assert(spark.table("pw.ns.dist").count() == spark.table("pw.ns.dist0").count())
  }

  test("truncate-transform string partition round-trips") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS pw.ns.tr")
    spark.sql(
      """CREATE TABLE pw.ns.tr (name STRING, n BIGINT)
        |PARTITIONED BY (truncate(name, 2))""".stripMargin)
    spark.sql("INSERT INTO pw.ns.tr VALUES ('alpha', 1), ('alto', 2), ('beta', 3)")
    val t = IcebergTable(spark, s"$warehouse/ns/tr")
    val (_, _, fk, ft) = t.pruneCounts(Seq(EqualTo("name", "beta")))
    val beFiles = t.planFiles().count(_.partition.get("name_trunc").contains("be"))
    assert(fk == beFiles && fk < ft,
      s"only the 'be' files should survive: kept $fk of $ft ($beFiles 'be' files)")
    assert(spark.sql("SELECT SUM(n) FROM pw.ns.tr WHERE name LIKE 'al%'")
      .collect()(0).getLong(0) == 3L)
  }

  test("static INSERT OVERWRITE PARTITION replaces only the named partition") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql("DROP TABLE IF EXISTS pw.ns.sow")
    spark.sql(
      """CREATE TABLE pw.ns.sow (k BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql("INSERT INTO pw.ns.sow VALUES " +
      "(1, 'eu'), (2, 'eu'), (3, 'us'), (4, 'us'), (5, 'ap')")
    val dir = s"$warehouse/ns/sow"
    val before = IcebergTable(spark, dir).planFiles()
      .filterNot(_.partition.get("region").contains("eu")).map(_.filePath).toSet

    spark.sql("INSERT OVERWRITE pw.ns.sow PARTITION (region = 'eu') " +
      "SELECT k FROM VALUES (10L), (11L) AS t(k)")
    val got = spark.sql("SELECT k, region FROM pw.ns.sow ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "us"), (4L, "us"), (5L, "ap"),
      (10L, "eu"), (11L, "eu")), s"got $got")
    // untouched partitions keep their EXACT files — no rewrite happened
    val after = IcebergTable(spark, dir).planFiles()
      .filterNot(_.partition.get("region").contains("eu")).map(_.filePath).toSet
    assert(after == before, "non-overwritten partitions must keep their files")

    // a filter on a non-partition column refuses loudly instead of
    // truncating or rewriting (writeTo.overwrite is the API that can
    // express one)
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((7L, "eu")).toDF("k", "region").writeTo("pw.ns.sow")
        .overwrite(org.apache.spark.sql.functions.col("k") === 1L)
    }
    assert(e.getMessage.contains("identity partition"),
      s"expected the identity-alignment refusal, got: ${e.getMessage}")
  }

  test("dynamic partition overwrite replaces exactly the touched partitions") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql("DROP TABLE IF EXISTS pw.ns.dow")
    spark.sql(
      """CREATE TABLE pw.ns.dow (k BIGINT, region STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql("INSERT INTO pw.ns.dow VALUES " +
      "(1, 'eu'), (2, 'eu'), (3, 'us'), (4, 'us'), (5, 'ap')")
    val dir = s"$warehouse/ns/dow"
    val apBefore = IcebergTable(spark, dir).planFiles()
      .filter(_.partition.get("region").contains("ap")).map(_.filePath).toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the incoming rows land in eu and us — ap must survive untouched
      spark.sql("INSERT OVERWRITE pw.ns.dow VALUES " +
        "(20, 'eu'), (30, 'us'), (31, 'us')")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val got = spark.sql("SELECT k, region FROM pw.ns.dow ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((5L, "ap"), (20L, "eu"), (30L, "us"), (31L, "us")),
      s"got $got")
    val apAfter = IcebergTable(spark, dir).planFiles()
      .filter(_.partition.get("region").contains("ap")).map(_.filePath).toSet
    assert(apAfter == apBefore, "untouched partition must keep its files")
    // the history shows ONE overwrite snapshot on top of the insert
    val meta = IcebergTable(spark, dir).metadata
    assert(meta.snapshotLineage.size == 2)
  }

  test("dynamic overwrite on a transformed partitioning (days) replaces by day") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql("DROP TABLE IF EXISTS pw.ns.dowd")
    spark.sql(
      """CREATE TABLE pw.ns.dowd (id BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql("INSERT INTO pw.ns.dowd VALUES " +
      "(1, TIMESTAMP '2024-03-01 10:00:00', 1.0), " +
      "(2, TIMESTAMP '2024-03-01 11:00:00', 2.0), " +
      "(3, TIMESTAMP '2024-03-02 09:00:00', 3.0)")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE pw.ns.dowd VALUES " +
        "(9, TIMESTAMP '2024-03-01 23:00:00', 9.0)")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val got = spark.sql("SELECT id FROM pw.ns.dowd ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 9L),
      s"day 2024-03-01 replaced, 2024-03-02 kept; got $got")
  }

  // ---- write parity: what each write entry point puts on disk ----------

  test("write parity: DataFrame append on a partitioned table") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql("DROP TABLE IF EXISTS pw.ns.wpa")
    spark.sql(
      """CREATE TABLE pw.ns.wpa (k BIGINT, region STRING, v DOUBLE)
        |PARTITIONED BY (region, bucket(2, k))""".stripMargin)
    val dir = s"$warehouse/ns/wpa"
    val conf = spark.sessionState.newHadoopConf()
    import spark.implicits._
    graft.iceberg.IcebergWriter.append(spark, dir,
      Seq((1L, "eu", 1.0), (2L, "eu", Double.NaN), (3L, "us", 3.0),
        (4L, null, 4.0)).toDF("k", "region", "v"))
    val t = IcebergTable(spark, dir)
    val paths = WriteParity.newDataFiles(t, Set.empty).map(f => t.resolve(f.filePath))
    assert(WriteParity.shapesMatch(paths, "s\\d+-[0-9a-f]{8}/part-\\d+-\\d+-\\d+\\.parquet"),
      paths.mkString(", "))
    val got = WriteParity.dataLines(t, Set.empty, conf)
    assert(got == Seq(
      "ids=k:1:REQUIRED,region:2:OPTIONAL,v:3:REQUIRED codecs=SNAPPY part=k_bucket=0,region=eu lower=1/2 nan= null=1/2/3 upper=1/2 value=1/2/3",
      "ids=k:1:REQUIRED,region:2:OPTIONAL,v:3:REQUIRED codecs=SNAPPY part=k_bucket=0,region=null lower=1 nan= null=1/2/3 upper=1 value=1/2/3",
      "ids=k:1:REQUIRED,region:2:OPTIONAL,v:3:REQUIRED codecs=SNAPPY part=k_bucket=1,region=us lower=1/2 nan= null=1/2/3 upper=1/2 value=1/2/3"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(paths, conf)
    assert(meta == Set(Seq(
      "k" -> """{"parquet.field.id":1}""",
      "region" -> """{"parquet.field.id":2}""",
      "v" -> """{"parquet.field.id":3}""")), meta.mkString("\n"))
  }

  test("write parity: dynamic INSERT OVERWRITE on a partitioned table") {
    useCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pw.ns")
    spark.sql("DROP TABLE IF EXISTS pw.ns.wpd")
    spark.sql(
      """CREATE TABLE pw.ns.wpd (k BIGINT, region STRING, d DATE)
        |PARTITIONED BY (region, days(d))
        |TBLPROPERTIES ('write.parquet.compression-codec' = 'gzip')""".stripMargin)
    spark.sql("INSERT INTO pw.ns.wpd VALUES (1, 'eu', DATE'2024-01-01'), " +
      "(2, 'us', DATE'2024-01-02')")
    val dir = s"$warehouse/ns/wpd"
    val conf = spark.sessionState.newHadoopConf()
    val before = IcebergTable(spark, dir).planFiles().map(_.filePath).toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE pw.ns.wpd VALUES (20, 'eu', DATE'2024-01-01'), " +
        "(21, 'eu', DATE'2024-01-03'), (22, NULL, NULL)")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val t = IcebergTable(spark, dir)
    val paths = WriteParity.newDataFiles(t, before).map(f => t.resolve(f.filePath))
    assert(WriteParity.shapesMatch(paths,
      "dow-[0-9a-f]{8}-[0-9a-f]{3}/part-\\d+-\\d+-\\d+\\.parquet"), paths.mkString(", "))
    val got = WriteParity.dataLines(t, before, conf)
    assert(got == Seq(
      "ids=k:1:OPTIONAL,region:2:OPTIONAL,d:3:OPTIONAL codecs=GZIP part=d_day=19723,region=eu lower=1/2/3 nan= null=1/2/3 upper=1/2/3 value=1/2/3",
      "ids=k:1:OPTIONAL,region:2:OPTIONAL,d:3:OPTIONAL codecs=GZIP part=d_day=19725,region=eu lower=1/2/3 nan= null=1/2/3 upper=1/2/3 value=1/2/3",
      "ids=k:1:OPTIONAL,region:2:OPTIONAL,d:3:OPTIONAL codecs=GZIP part=d_day=null,region=null lower=1 nan= null=1/2/3 upper=1 value=1/2/3"), got.mkString("\n", "\n", ""))
    val meta = WriteParity.sparkMeta(paths, conf)
    assert(meta == Set(Seq(
      "k" -> """{"iceberg.field-id":1,"parquet.field.id":1}""",
      "region" -> """{"iceberg.field-id":2,"parquet.field.id":2}""",
      "d" -> """{"iceberg.field-id":3,"parquet.field.id":3}""")), meta.mkString("\n"))
  }
}
