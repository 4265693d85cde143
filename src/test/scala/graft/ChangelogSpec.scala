package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.iceberg.{IcebergTable, IcebergWriter, TableMetadata}
import graft.iceberg.connector.GraftCatalog

/** CDC changelog (`IcebergTable.changesBetween`): per-snapshot
  * insert/delete rows planned from manifest diffs. The core property is
  * REPLAYABILITY — folding the changes over the window reproduces the
  * table state — plus: merge-on-read deletes emit exactly the matched
  * rows, compaction emits nothing, windows compose, and a vanished
  * `from` fails loudly.
  */
class ChangelogSpec extends SparkSpec {

  private val warehouse = "/root/repo/target/changelog-warehouse"
  private def conf = spark.sessionState.newHadoopConf()

  private def fresh(name: String): String = {
    new Path(warehouse).getFileSystem(conf).delete(new Path(warehouse), true)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    s"$warehouse/ns"
  }

  private def lineage(dir: String): Seq[Long] =
    TableMetadata.load(dir, conf).snapshotLineage

  private def changes(dir: String, from: Long, to: Long): Seq[(Int, String, String, Int)] =
    new IcebergTable(dir, conf).changesBetween(spark, from, to)
      .select("k", "v", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq

  /** Fold the changes: multiset of inserts minus deletes must equal the
    * final table rows. */
  private def replay(cs: Seq[(Int, String, String, Int)]): Map[(Int, String), Int] =
    cs.foldLeft(Map.empty[(Int, String), Int].withDefaultValue(0)) {
      case (acc, (k, v, "insert", _)) => acc.updated((k, v), acc((k, v)) + 1)
      case (acc, (k, v, "delete", _)) => acc.updated((k, v), acc((k, v)) - 1)
      case (acc, _) => acc
    }.filter(_._2 != 0)

  private def state(table: String): Map[(Int, String), Int] =
    spark.sql(s"SELECT k, v FROM $table").collect()
      .groupBy(r => (r.getInt(0), r.getString(1))).view.mapValues(_.length).toMap

  test("append + MoR delete changelog replays to the table state") {
    val ns = fresh("clcat")
    spark.sql("CREATE TABLE clcat.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat.ns.t SELECT CAST(id AS INT), CONCAT('a', id) FROM range(10)")
    spark.sql("INSERT INTO clcat.ns.t SELECT CAST(id AS INT), CONCAT('a', id) FROM range(10, 15)")
    spark.sql("DELETE FROM clcat.ns.t WHERE k IN (3, 4, 11)") // equality delete
    val dir = s"$ns/t"

    val cs = changes(dir, 0L, lineage(dir).last)
    assert(cs.count(_._3 == "insert") === 15)
    assert(cs.filter(_._3 == "delete").map(_._1).sorted === Seq(3, 4, 11))
    // ordinals follow commit order
    assert(cs.filter(_._4 == 0).forall(c => c._3 == "insert" && c._1 < 10))
    assert(cs.filter(_._4 == 1).forall(c => c._3 == "insert" && c._1 >= 10))
    assert(cs.filter(_._4 == 2).forall(_._3 == "delete"))
    assert(replay(cs) === state("clcat.ns.t"))
  }

  test("sub-windows compose and see only their commits") {
    val ns = fresh("clcat2")
    spark.sql("CREATE TABLE clcat2.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat2.ns.t SELECT CAST(id AS INT), 'x' FROM range(6)")
    spark.sql("INSERT INTO clcat2.ns.t SELECT CAST(id AS INT), 'y' FROM range(6, 9)")
    spark.sql("DELETE FROM clcat2.ns.t WHERE k = 1")
    val dir = s"$ns/t"
    val lin = lineage(dir)

    val w1 = changes(dir, 0L, lin(0))
    assert(w1.map(_._3).distinct === Seq("insert") && w1.size === 6)
    val w2 = changes(dir, lin(0), lin.last)
    assert(w2.count(_._3 == "insert") === 3)
    assert(w2.filter(_._3 == "delete").map(_._1) === Seq(1))
    // the two windows together replay to the final state
    assert(replay(w1 ++ w2) === state("clcat2.ns.t"))
    // empty window
    assert(changes(dir, lin.last, lin.last).isEmpty)
  }

  test("copy-on-write UPDATE emits file-granular delete+insert pairs that replay") {
    val ns = fresh("clcat3")
    spark.sql("CREATE TABLE clcat3.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat3.ns.t SELECT CAST(id AS INT), 'old' FROM range(8)")
    spark.sql("UPDATE clcat3.ns.t SET v = 'new' WHERE k >= 6")
    val dir = s"$ns/t"
    val cs = changes(dir, 0L, lineage(dir).last)
    assert(replay(cs) === state("clcat3.ns.t"))
    // the updated rows appear as delete(old)+insert(new)
    assert(cs.exists(c => c._1 == 6 && c._2 == "old" && c._3 == "delete"))
    assert(cs.exists(c => c._1 == 6 && c._2 == "new" && c._3 == "insert"))
  }

  test("compaction is data movement, not change") {
    val ns = fresh("clcat4")
    spark.sql("CREATE TABLE clcat4.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat4.ns.t SELECT CAST(id AS INT), 'x' FROM range(5)")
    spark.sql("INSERT INTO clcat4.ns.t SELECT CAST(id AS INT), 'x' FROM range(5, 9)")
    val dir = s"$ns/t"
    val before = lineage(dir).last
    IcebergWriter.compact(spark, dir)
    val after = lineage(dir).last
    assert(changes(dir, before, after).isEmpty,
      "a replace (compaction) snapshot must contribute no changes")
    // and the full window still replays (compaction skipped inside it)
    assert(replay(changes(dir, 0L, after)) === state("clcat4.ns.t"))
  }

  test("position-delete commits emit exactly the removed rows") {
    val ns = fresh("clcat5")
    spark.sql("CREATE TABLE clcat5.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat5.ns.t SELECT CAST(id AS INT), CONCAT('p', id) FROM range(20)")
    // range predicate -> positionDeleteWhere's per-file strategy
    spark.sql("DELETE FROM clcat5.ns.t WHERE k >= 4 AND k < 7")
    val dir = s"$ns/t"
    val cs = changes(dir, 0L, lineage(dir).last)
    // per-file strategy may rewrite a heavily-matched file (file-granular
    // delete+insert pairs) — the deleted keys must be covered and the
    // changelog must still replay to the exact surviving state
    assert(Seq(4, 5, 6).forall(k =>
      cs.exists(c => c._1 == k && c._3 == "delete")))
    assert(replay(cs) === state("clcat5.ns.t"))
    assert(!replay(cs).keys.exists(k => k._1 >= 4 && k._1 < 7))
  }

  test("net changes collapse copy-on-write rewrite noise") {
    val ns = fresh("clcat7")
    spark.sql("CREATE TABLE clcat7.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat7.ns.t SELECT CAST(id AS INT), 'old' FROM range(10)")
    // COW UPDATE rewrites whole files: raw changes carry delete+insert
    // pairs for the 8 untouched rows too
    spark.sql("UPDATE clcat7.ns.t SET v = 'new' WHERE k >= 8")
    val dir = s"$ns/t"
    val t = new IcebergTable(dir, conf)
    val raw = t.changesBetween(spark, 0L, lineage(dir).last)
    assert(raw.count() > 12, "raw COW changes include rewrite noise")

    val net = t.netChangesBetween(spark, 0L, lineage(dir).last)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    // exactly: 10 final-state inserts (8 old + 2 new), no deletes — the
    // pre-update (8,old)/(9,old) rows cancel against their COW deletes
    assert(net.count(_._3 == "insert") === 10)
    assert(net.count(_._3 == "delete") === 0)
    assert(net.filter(c => c._1 >= 8).forall(_._2 == "new"))

    // and via SQL: CALL create_changelog_view(net_changes => 1)
    spark.conf.set("spark.sql.catalog.clcat7", classOf[GraftCatalog].getName)
    spark.sql("CALL clcat7.system.create_changelog_view(table => 'ns.t', " +
      "changelog_view => 'net_v', net_changes => 1)").collect()
    assert(spark.sql("SELECT COUNT(*) FROM net_v").head.getLong(0) === 10L)
  }

  test("delete-candidate pruning: only key-overlapping / named files are scanned") {
    val ns = fresh("clcat8")
    // three disjoint key-range files (one INSERT each => one file each)
    spark.sql("CREATE TABLE clcat8.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat8.ns.t SELECT CAST(id AS INT), 'lo' FROM range(0, 100, 1, 1)")
    spark.sql("INSERT INTO clcat8.ns.t SELECT CAST(id AS INT), 'mid' FROM range(1000, 1100, 1, 1)")
    spark.sql("INSERT INTO clcat8.ns.t SELECT CAST(id AS INT), 'hi' FROM range(2000, 2100, 1, 1)")
    val dir = s"$ns/t"
    spark.sql("DELETE FROM clcat8.ns.t WHERE k IN (1001, 1002)") // equality delete
    val t = new IcebergTable(dir, conf)
    val files = t.planFiles()
    assert(files.size === 3)
    val dels = t.planDeletes()
    val cand = t.deleteCandidateFiles(spark, files, dels)
    assert(cand.size === 1, s"only the mid file overlaps keys 1001-1002, got ${cand.size}")
    // the changelog still reports exactly the matched rows
    val cs = changes(dir, 0L, lineage(dir).last)
    assert(cs.filter(_._3 == "delete").map(_._1).sorted === Seq(1001, 1002))
    // a delete landing AFTER a file cannot touch it (sequence gate):
    // re-insert one deleted key, delete an unrelated key; the new file
    // is not a candidate for the OLD delete set
    spark.sql("INSERT INTO clcat8.ns.t SELECT CAST(1001 AS INT), 'back'")
    val t2 = new IcebergTable(dir, conf)
    val newFile = t2.planFiles().filterNot(f =>
      files.map(_.filePath).contains(f.filePath))
    assert(newFile.size === 1)
    val cand2 = t2.deleteCandidateFiles(spark, newFile, dels)
    assert(cand2.isEmpty, "sequence gating excludes files newer than every delete")
    // value volume over the cap: sound fallback keeps every
    // sequence-eligible file (the NULL-value case has its own test below)
    val allCand = t2.deleteCandidateFiles(spark, t2.planFiles(), dels,
      eqValueCap = 0L)
    assert(allCand.size === t2.planFiles().count(f =>
      f.sequenceNumber.getOrElse(-1L) <
        dels.map(_.sequenceNumber.getOrElse(Long.MaxValue)).max))
  }

  test("NULL equality-delete values defeat In-filter pruning soundly") {
    val ns = fresh("clcat9")
    spark.sql("CREATE TABLE clcat9.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat9.ns.t SELECT CAST(id AS INT), 'a' FROM range(0, 10, 1, 1)")
    spark.sql("INSERT INTO clcat9.ns.t SELECT CAST(NULL AS INT), 'n' FROM range(1)")
    spark.sql("DELETE FROM clcat9.ns.t WHERE k IS NULL") // NULL equality tuple
    val dir = s"$ns/t"
    val t = new IcebergTable(dir, conf)
    val dels = t.planDeletes()
    assert(dels.nonEmpty && dels.forall(_.content == 2), "expected equality deletes")
    // the NULL value makes column k unprunable: BOTH files stay candidates
    // (dropping the non-null file here would be the silent-wrong-CDC bug)
    val cand = t.deleteCandidateFiles(spark, t.planFiles(), dels)
    assert(cand.size === t.planFiles().size, s"got ${cand.size} candidates")
    // and the changelog emits exactly the null-keyed row as the delete
    val cs = new IcebergTable(dir, conf)
      .changesBetween(spark, 0L, lineage(dir).last)
      .select("k", "v", "_change_type").collect()
    val deletes = cs.filter(_.getString(2) == "delete")
    assert(deletes.length === 1 && deletes.head.isNullAt(0) &&
      deletes.head.getString(1) == "n")
  }

  test("a from-snapshot outside the lineage fails loudly") {
    val ns = fresh("clcat6")
    spark.sql("CREATE TABLE clcat6.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clcat6.ns.t SELECT CAST(id AS INT), 'x' FROM range(3)")
    val dir = s"$ns/t"
    val e = intercept[IllegalArgumentException] {
      new IcebergTable(dir, conf).changesBetween(spark, 424242L, lineage(dir).last)
    }
    assert(e.getMessage.contains("not in the table's snapshot lineage"))
  }

  test("changesWithUpdates pairs rewrite halves by _row_id into " +
      "update_before/update_after, drops carryovers, and keeps true " +
      "inserts/deletes — CoW and MoR alike") {
    val ns = fresh("clu")
    spark.sql(
      """CREATE TABLE clu.ns.u (k INT, v STRING)
        |TBLPROPERTIES ('format-version' = '3')""".stripMargin)
    spark.sql("INSERT INTO clu.ns.u SELECT CAST(id AS INT), concat('v', id) " +
      "FROM range(20)")
    val dir = s"$ns/u"
    val s0 = lineage(dir).last
    // CoW UPDATE: 5 rows change, 15 are carried through the rewrite
    spark.sql("UPDATE clu.ns.u SET v = concat(v, '!') WHERE k % 4 = 0")
    // MoR UPDATE (flip the mode): delete + REINSERT halves must pair too
    spark.sql("ALTER TABLE clu.ns.u SET TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read')")
    spark.sql("UPDATE clu.ns.u SET v = concat(v, '?') WHERE k = 3")
    // a true delete and a true insert keep their types
    spark.sql("DELETE FROM clu.ns.u WHERE k IN (7, 11)")
    spark.sql("INSERT INTO clu.ns.u VALUES (100, 'fresh')")
    val t = new IcebergTable(dir, conf)
    val cs = t.changesWithUpdates(spark, s0, lineage(dir).last)
      .select("k", "v", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq
    val byType = cs.groupBy(_._3)
    // ordinal 0 (CoW UPDATE): exactly the 5 changed rows as pairs, NO
    // carryovers of the 15 untouched rewritten rows
    val ub0 = cs.filter(c => c._4 == 0 && c._3 == "update_before")
    val ua0 = cs.filter(c => c._4 == 0 && c._3 == "update_after")
    assert(ub0.map(_._1).sorted == Seq(0, 4, 8, 12, 16), s"befores: $ub0")
    assert(ua0.map(c => (c._1, c._2)).sorted ==
      Seq(0, 4, 8, 12, 16).map(k => (k, s"v$k!")), s"afters: $ua0")
    assert(!cs.exists(c => c._4 == 0 && (c._3 == "insert" || c._3 == "delete")),
      s"carryovers must be dropped: ${cs.filter(_._4 == 0)}")
    // ordinal 1 (MoR UPDATE): one pair for k=3
    assert(cs.filter(_._4 == 1).map(c => (c._1, c._2, c._3)).sorted == Seq(
      (3, "v3", "update_before"), (3, "v3?", "update_after")),
      s"MoR pair: ${cs.filter(_._4 == 1)}")
    // ordinals 2/3: plain delete and insert keep their types
    assert(cs.filter(_._4 == 2).map(c => (c._1, c._3)).sorted ==
      Seq((7, "delete"), (11, "delete")))
    assert(cs.filter(_._4 == 3) == Seq((100, "fresh", "insert", 3)))
    assert(byType.keySet == Set("update_before", "update_after",
      "insert", "delete"))
    // v2 tables WITHOUT identifier fields refuse loudly, naming the fix
    spark.sql("CREATE TABLE clu.ns.v2t (k INT, v STRING)")
    spark.sql("INSERT INTO clu.ns.v2t VALUES (1, 'a')")
    val t2 = new IcebergTable(s"$ns/v2t", conf)
    val e = intercept[IllegalArgumentException] {
      t2.changesWithUpdates(spark, 0L, lineage(s"$ns/v2t").last)
    }
    assert(e.getMessage.contains("format-version") &&
      e.getMessage.contains("SET IDENTIFIER"))
  }

  test("changesWithUpdates on a v2 table pairs by the declared " +
      "identifier fields — CoW UPDATE, MoR MERGE, and key churn") {
    val ns = fresh("cluid")
    spark.sql("CREATE TABLE cluid.ns.u (k INT NOT NULL, v STRING)")
    spark.sql("ALTER TABLE cluid.ns.u SET IDENTIFIER FIELDS k")
    spark.sql("INSERT INTO cluid.ns.u SELECT CAST(id AS INT), " +
      "concat('v', id) FROM range(20)")
    val dir = s"$ns/u"
    val s0 = lineage(dir).last
    // ordinal 0 — CoW UPDATE: 5 rows change, 15 rewritten-but-identical
    // rows must drop as carryovers
    spark.sql("UPDATE cluid.ns.u SET v = concat(v, '!') WHERE k % 4 = 0")
    // ordinal 1 — MoR MERGE: one matched update (delete+reinsert halves
    // pair on k) and one unmatched insert (stays a plain insert)
    spark.sql("ALTER TABLE cluid.ns.u SET TBLPROPERTIES (" +
      "'write.merge.mode' = 'merge-on-read')")
    spark.sql(
      """MERGE INTO cluid.ns.u t
        |USING (SELECT 3 AS k, 'merged' AS v
        |       UNION ALL SELECT 200, 'fresh') s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // ordinal 2 — true deletes keep their type
    spark.sql("DELETE FROM cluid.ns.u WHERE k IN (7, 11)")
    val df = new IcebergTable(dir, conf)
      .changesWithUpdates(spark, s0, lineage(dir).last)
    // v2 output matches changesBetween's columns exactly — no _row_id
    assert(!df.columns.contains("_row_id"), df.columns.mkString(","))
    val cs = df.select("k", "v", "_change_type", "_change_ordinal").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq
    val ub0 = cs.filter(c => c._4 == 0 && c._3 == "update_before")
    val ua0 = cs.filter(c => c._4 == 0 && c._3 == "update_after")
    assert(ub0.map(c => (c._1, c._2)).sorted ==
      Seq(0, 4, 8, 12, 16).map(k => (k, s"v$k")), s"befores: $ub0")
    assert(ua0.map(c => (c._1, c._2)).sorted ==
      Seq(0, 4, 8, 12, 16).map(k => (k, s"v$k!")), s"afters: $ua0")
    assert(!cs.exists(c => c._4 == 0 && (c._3 == "insert" || c._3 == "delete")),
      s"carryovers must be dropped: ${cs.filter(_._4 == 0)}")
    assert(cs.filter(_._4 == 1).map(c => (c._1, c._2, c._3)).sorted == Seq(
      (3, "merged", "update_after"), (3, "v3", "update_before"),
      (200, "fresh", "insert")), s"MERGE window: ${cs.filter(_._4 == 1)}")
    assert(cs.filter(_._4 == 2).map(c => (c._1, c._3)).sorted ==
      Seq((7, "delete"), (11, "delete")))
  }

  test("changesWithUpdates refuses loudly when commit data violates the " +
      "identifier-field uniqueness declaration") {
    val ns = fresh("cldup")
    spark.sql("CREATE TABLE cldup.ns.d (k INT NOT NULL, v STRING)")
    spark.sql("ALTER TABLE cldup.ns.d SET IDENTIFIER FIELDS k")
    // one commit, duplicated key on the insert side: the pairing would
    // go many-to-many and mispair silently — must refuse instead. The
    // guard rides the pairing aggregate itself (raise_error inside the
    // one-exchange plan — no separate driver-side dup-check job per
    // window), so it surfaces when the window executes.
    spark.sql("INSERT INTO cldup.ns.d VALUES (1, 'a'), (1, 'b'), (2, 'c')")
    val e = intercept[Exception] {
      new IcebergTable(s"$ns/d", conf)
        .changesWithUpdates(spark, 0L, lineage(s"$ns/d").last).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("identifier"), messages(e))
    // changesBetween (no pairing) still serves the window
    assert(new IcebergTable(s"$ns/d", conf)
      .changesBetween(spark, 0L, lineage(s"$ns/d").last).count() == 3)
  }

  test("a malformed changelog read option refuses with the option's name") {
    fresh("clopt")
    spark.sql("CREATE TABLE clopt.ns.t (k INT, v STRING)")
    spark.sql("INSERT INTO clopt.ns.t VALUES (1, 'a'), (2, 'b')")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    def refusal(key: String, value: String): String = msgs(intercept[Exception] {
      spark.read.option(key, value).table("clopt.ns.t.changes").collect()
    }).mkString(" | ")
    for ((key, value) <- Seq("maxSnapshotsPerTrigger" -> "1O",
        "maxRowsPerTrigger" -> "many", "start-snapshot-id" -> "first",
        "compute-updates" -> "yes", "row-lineage" -> "on")) {
      val m = refusal(key, value)
      assert(m.contains(key) && m.contains(s"'$value'"),
        s"$key=$value: expected the option named, got: $m")
    }
    assert(refusal("maxSnapshotsPerTrigger", "-1")
      .contains("maxSnapshotsPerTrigger must be positive, got -1"))
    // valid values read as before (boolean options are case-insensitive)
    assert(spark.read.option("compute-updates", "FALSE")
      .option("maxSnapshotsPerTrigger", "1")
      .table("clopt.ns.t.changes").count() == 2L)
  }
}
