package graft

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

import graft.iceberg._

/** The commit contract every snapshot-producing [[IcebergWriter]]
  * mutation keeps, observed through a recording [[TableCommitter]]:
  *
  *  - exactly one `commit` call;
  *  - `assert-ref-snapshot-id` on the target ref with the head the write
  *    was based on (null for a branch that does not exist yet);
  *  - the new snapshot takes `max id + 1`, its parent is the base head,
  *    and the target ref moves to it;
  *  - the summary names the operation, and its `total-records` /
  *    `total-data-files` equal the sums over the new snapshot's planned
  *    files;
  *  - on a v3 table, `assert-next-row-id` guards the prior row-id counter
  *    exactly when the commit adds data files, and the counter advances
  *    by the rows added.
  */
class CommitContractSpec extends SparkSpec {

  private val warehouse =
    new java.io.File("target/test-commit-contract").getAbsolutePath

  private def conf = spark.sessionState.newHadoopConf()

  /** Passes through to a filesystem committer, recording each commit's
    * (requirements, updates) pair. */
  private final class Recording(dir: String) extends TableCommitter {
    private val inner = new FsCommitter(dir, spark.sessionState.newHadoopConf())
    val calls = ArrayBuffer.empty[(Seq[JsonNode], Seq[JsonNode])]
    override def tableDir: String = inner.tableDir
    override def conf: org.apache.hadoop.conf.Configuration = inner.conf
    override def currentRoot(mapper: ObjectMapper): ObjectNode =
      inner.currentRoot(mapper)
    override def currentMetadata(): TableMetadata = inner.currentMetadata()
    override def commit(requirements: Seq[JsonNode],
                        updates: Seq[JsonNode]): Unit = {
      calls += ((requirements, updates))
      inner.commit(requirements, updates)
    }
  }

  /** (id, p) rows in ONE data file per write: p alternates "a"/"b". */
  private def rows(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "p").coalesce(1)
  }

  private def table(name: String, v3: Boolean = false,
                    partitioned: Boolean = false): String = {
    val dir = s"$warehouse/$name"
    val p = new Path(dir)
    p.getFileSystem(conf).delete(p, true)
    IcebergWriter.seedTable(spark, dir, rows(0, 1).schema,
      if (partitioned) Seq("p" -> "identity") else Nil,
      if (v3) Map("format-version" -> "3") else Map.empty)
    dir
  }

  private def meta(dir: String): TableMetadata = TableMetadata.load(dir, conf)

  private def liveFiles(dir: String): Seq[DataFileEntry] =
    new IcebergTable(dir, conf).planFiles()

  /** A spec position-delete parquet file deleting `pos` of `target`. */
  private def posDeleteFile(dir: String, target: String,
                            pos: Long): (String, Long, Long) = {
    import spark.implicits._
    def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val out = s"$dir/data/pd-${java.util.UUID.randomUUID}"
    Seq((target, pos)).toDF("file_path", "pos")
      .select(col("file_path").as("file_path", fid(IcebergWriter.PosDelPathId)),
        col("pos").as("pos", fid(IcebergWriter.PosDelPosId)))
      .coalesce(1).write.parquet(out)
    val st = new Path(out).getFileSystem(conf).listStatus(new Path(out))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    (st.getPath.toString, 1L, st.getLen)
  }

  /** Run `mutation` against a recording committer, check the contract,
    * and return the new snapshot id. */
  private def contract(dir: String, op: String, ref: String = "main")(
      mutation: TableCommitter => Long): Long = {
    val before = meta(dir)
    val mainHead = before.currentSnapshotId.filter(_ != -1L)
    val expectedHead =
      if (ref == "main") mainHead else before.refs.get(ref)
    val expectedParent = expectedHead.orElse(mainHead)
    val rec = new Recording(dir)
    val newId = mutation(rec)

    assert(rec.calls.size == 1, s"$op: one commit per call")
    val (reqs, upds) = rec.calls.head
    val refAsserts = reqs.filter(_.path("type").asText == "assert-ref-snapshot-id")
    assert(refAsserts.size == 1, s"$op: one ref assert")
    assert(refAsserts.head.path("ref").asText == ref)
    val asserted = Option(refAsserts.head.get("snapshot-id"))
      .filterNot(_.isNull).map(_.asLong)
    assert(asserted == expectedHead, s"$op: asserted head")

    val expectedId = before.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    assert(newId == expectedId, s"$op: new snapshot id")
    val added = upds.filter(_.path("action").asText == "add-snapshot")
    assert(added.size == 1 && added.head.get("snapshot").get("snapshot-id").asLong == newId)
    val refMoves = upds.filter(_.path("action").asText == "set-snapshot-ref")
    assert(refMoves.map(u => (u.path("ref-name").asText, u.path("snapshot-id").asLong)) ==
      Seq((ref, newId)), s"$op: target ref moves to the new snapshot")

    val after = meta(dir)
    val head = if (ref == "main") after.currentSnapshotId else after.refs.get(ref)
    assert(head.contains(newId))
    val snap = after.snapshots.find(_.snapshotId == newId).get
    assert(snap.parentSnapshotId == expectedParent, s"$op: parent")
    assert(snap.summary.get("operation").contains(op), s"$op: operation")
    val files = new IcebergTable(dir, conf).atSnapshot(newId).planFiles()
    assert(snap.summary.get("total-records")
      .contains(files.map(_.recordCount).sum.toString), s"$op: total-records")
    assert(snap.summary.get("total-data-files")
      .contains(files.size.toString), s"$op: total-data-files")

    val rowIdAsserts = reqs.filter(_.path("type").asText == "assert-next-row-id")
      .map(_.get("next-row-id").asLong)
    if (IcebergWriter.wantsLineage(before)) {
      val base = before.nextRowId.getOrElse(0L)
      val addedRows =
        files.filter(_.sequenceNumber.contains(newId)).map(_.recordCount).sum
      assert(rowIdAsserts == (if (addedRows > 0) Seq(base) else Nil),
        s"$op: assert-next-row-id")
      assert(snap.firstRowId.contains(base), s"$op: first-row-id")
      assert(after.nextRowId.contains(base + addedRows), s"$op: next-row-id")
    } else assert(rowIdAsserts.isEmpty, s"$op: no lineage assert on v2")
    newId
  }

  test("append: main, a new branch, an existing branch") {
    val dir = table("append")
    contract(dir, "append")(c =>
      IcebergWriter.append(spark, dir, rows(0, 4), committer = Some(c)))
    contract(dir, "append")(c =>
      IcebergWriter.append(spark, dir, rows(4, 6), committer = Some(c)))
    contract(dir, "append", "audit")(c =>
      IcebergWriter.append(spark, dir, rows(6, 8), committer = Some(c),
        branch = "audit"))
    contract(dir, "append", "audit")(c =>
      IcebergWriter.append(spark, dir, rows(8, 9), committer = Some(c),
        branch = "audit"))
  }

  test("append and overwrite on a v3 table") {
    val dir = table("append-v3", v3 = true)
    contract(dir, "append")(c =>
      IcebergWriter.append(spark, dir, rows(0, 4), committer = Some(c)))
    contract(dir, "append")(c =>
      IcebergWriter.append(spark, dir, rows(4, 6), committer = Some(c)))
    contract(dir, "overwrite")(c =>
      IcebergWriter.overwrite(spark, dir, rows(10, 13), committer = Some(c)))
  }

  test("overwrite") {
    val dir = table("overwrite")
    IcebergWriter.append(spark, dir, rows(0, 4))
    contract(dir, "overwrite")(c =>
      IcebergWriter.overwrite(spark, dir, rows(10, 12), committer = Some(c)))
  }

  test("overwriteWhere on main and on a branch") {
    val dir = table("overwrite-where", partitioned = true)
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    contract(dir, "overwrite")(c =>
      IcebergWriter.overwriteWhere(spark, dir, rows(20, 22).filter("p = 'a'"),
        Seq(EqualTo("p", "a")), committer = Some(c)))
    contract(dir, "overwrite", "audit")(c =>
      IcebergWriter.overwriteWhere(spark, dir, rows(30, 32).filter("p = 'b'"),
        Seq(EqualTo("p", "b")), committer = Some(c), branch = "audit"))
  }

  test("overwriteDynamicCommit") {
    val dir = table("overwrite-dynamic", partitioned = true)
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    val added = IcebergWriter.writeDataFiles(rows(40, 41), s"$dir/data/dyn",
      meta(dir), conf)
    contract(dir, "overwrite")(c =>
      IcebergWriter.overwriteDynamicCommit(spark, dir, added, Some(c)))
  }

  test("addFiles") {
    val dir = table("add-files")
    IcebergWriter.append(spark, dir, rows(0, 4))
    val src = s"$warehouse/add-files-src"
    rows(50, 53).write.mode("overwrite").parquet(src)
    val paths = new Path(src).getFileSystem(conf).listStatus(new Path(src))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
    contract(dir, "append")(c =>
      IcebergWriter.addFiles(spark, dir, paths, committer = Some(c)))
  }

  test("deleteWhere: truncate, equality, equality on a branch") {
    val dir = table("delete-where")
    IcebergWriter.append(spark, dir, rows(0, 4))
    contract(dir, "delete")(c =>
      IcebergWriter.deleteWhere(spark, dir, Seq(EqualTo("id", 1L)),
        committer = Some(c)))
    contract(dir, "delete", "audit")(c =>
      IcebergWriter.deleteWhere(spark, dir, Seq(EqualTo("id", 2L)),
        committer = Some(c), branch = "audit"))
    contract(dir, "delete")(c =>
      IcebergWriter.deleteWhere(spark, dir, Nil, committer = Some(c)))
  }

  test("deleteWhere equality on a v3 table") {
    val dir = table("delete-where-v3", v3 = true)
    IcebergWriter.append(spark, dir, rows(0, 4))
    contract(dir, "delete")(c =>
      IcebergWriter.deleteWhere(spark, dir, Seq(EqualTo("id", 1L)),
        committer = Some(c)))
  }

  test("positionDeleteWhere: position file, rewrite, dropped file, branch") {
    val dir = table("pos-delete")
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    IcebergWriter.append(spark, dir, rows(8, 9))
    // 1 of 4 rows: a position-delete file
    contract(dir, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(LessThan("id", 1L)),
        committer = Some(c)))
    // every row of the one-row file: the file drops from its manifest
    contract(dir, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(EqualTo("id", 8L)),
        committer = Some(c)))
    contract(dir, "delete", "audit")(c =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(EqualTo("id", 5L)),
        committer = Some(c), branch = "audit"))

    val cow = table("pos-delete-cow")
    IcebergWriter.append(spark, cow, rows(0, 4))
    // 3 of 4 rows, no delete debt: the file is rewritten
    contract(cow, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, cow, Seq(LessThan("id", 3L)),
        committer = Some(c)))
  }

  test("positionDeleteWhere on a v3 table: deletion vectors and a rewrite") {
    val dir = table("pos-delete-v3", v3 = true)
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    contract(dir, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(LessThan("id", 1L)),
        committer = Some(c)))
    // a second DV for the same file supersedes the first
    contract(dir, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(EqualTo("id", 1L)),
        committer = Some(c)))
    val cow = table("pos-delete-v3-cow", v3 = true)
    IcebergWriter.append(spark, cow, rows(0, 4))
    contract(cow, "delete")(c =>
      IcebergWriter.positionDeleteWhere(spark, cow, Seq(LessThan("id", 3L)),
        committer = Some(c)))
  }

  test("replaceFiles") {
    val dir = table("replace-files")
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    val gone = liveFiles(dir).head
    val added = IcebergWriter.writeDataFiles(rows(60, 62), s"$dir/data/rep",
      meta(dir), conf)
    contract(dir, "overwrite")(c =>
      IcebergWriter.replaceFiles(conf, dir, Set(gone.filePath), added,
        Some(c), removedEntries = Seq(gone)))
  }

  test("compact and compactWhere, v2 and v3") {
    Seq(false, true).foreach { v3 =>
      val dir = table(s"compact-$v3", v3 = v3)
      IcebergWriter.append(spark, dir, rows(0, 4))
      IcebergWriter.append(spark, dir, rows(4, 8))
      contract(dir, "replace")(c =>
        IcebergWriter.compact(spark, dir, committer = Some(c)))
      IcebergWriter.append(spark, dir, rows(8, 10))
      IcebergWriter.append(spark, dir, rows(10, 12))
      contract(dir, "replace")(c =>
        IcebergWriter.compactWhere(spark, dir, Seq(GreaterThanOrEqual("id", 8L)),
          committer = Some(c))._1)
    }
  }

  test("compactWhere over delete debt") {
    val dir = table("compact-where-mor")
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 8))
    IcebergWriter.deleteWhere(spark, dir, Seq(EqualTo("id", 5L)))
    contract(dir, "replace")(c =>
      IcebergWriter.compactWhere(spark, dir, Seq(GreaterThanOrEqual("id", 0L)),
        committer = Some(c))._1)
  }

  test("commitDelta: v2 position files, on main and on a branch") {
    val dir = table("delta")
    IcebergWriter.append(spark, dir, rows(0, 4))
    val target = liveFiles(dir).head.filePath
    val added = IcebergWriter.writeDataFiles(rows(70, 72), s"$dir/data/d1",
      meta(dir), conf)
    contract(dir, "overwrite")(c =>
      IcebergWriter.commitDelta(spark, dir, added,
        Seq(posDeleteFile(dir, target, 0L)), Some(c)))
    contract(dir, "delete", "audit")(c =>
      IcebergWriter.commitDelta(spark, dir, Nil,
        Seq(posDeleteFile(dir, target, 1L)), Some(c), branch = "audit",
        operation = "delete"))
  }

  test("commitDelta: deletion vectors on a v3 table") {
    val dir = table("delta-v3", v3 = true)
    IcebergWriter.append(spark, dir, rows(0, 4))
    val target = liveFiles(dir).head.filePath
    val added = IcebergWriter.writeDataFiles(rows(80, 82), s"$dir/data/d1",
      meta(dir), conf)
    contract(dir, "overwrite")(c =>
      IcebergWriter.commitDelta(spark, dir, added,
        Seq(posDeleteFile(dir, target, 0L)), Some(c)))
    // a second vector for the same file supersedes the first
    contract(dir, "overwrite")(c =>
      IcebergWriter.commitDelta(spark, dir, Nil,
        Seq(posDeleteFile(dir, target, 1L)), Some(c)))
  }

  test("rewritePositionDeleteFiles") {
    val dir = table("rewrite-pos")
    IcebergWriter.append(spark, dir, rows(0, 4))
    IcebergWriter.append(spark, dir, rows(4, 6))
    Seq(0L, 1L, 4L, 5L).foreach(id =>
      IcebergWriter.positionDeleteWhere(spark, dir, Seq(EqualTo("id", id)),
        maxPosDeleteFraction = 1.0))
    // ids 4 and 5 cover the second file: it folds away
    contract(dir, "replace")(c =>
      IcebergWriter.rewritePositionDeleteFiles(spark, dir, Some(c))._1)
  }

  test("convertEqualityDeletes, v2 and v3") {
    Seq(false, true).foreach { v3 =>
      val dir = table(s"convert-eq-$v3", v3 = v3)
      IcebergWriter.append(spark, dir, rows(0, 4))
      IcebergWriter.append(spark, dir, rows(4, 8))
      if (v3) IcebergWriter.positionDeleteWhere(spark, dir,
        Seq(EqualTo("id", 0L)))
      IcebergWriter.deleteWhere(spark, dir, Seq(EqualTo("id", 1L)))
      contract(dir, "replace")(c =>
        IcebergWriter.convertEqualityDeletes(spark, dir, Some(c))._1)
    }
  }

  test("addDeletionVector, v2 and v3") {
    Seq(false, true).foreach { v3 =>
      val dir = table(s"add-dv-$v3", v3 = v3)
      IcebergWriter.append(spark, dir, rows(0, 4))
      val target = liveFiles(dir).head.filePath
      contract(dir, "delete")(c =>
        IcebergWriter.addDeletionVector(spark, dir, target, Seq(0L), Some(c)))
      contract(dir, "delete")(c =>
        IcebergWriter.addDeletionVector(spark, dir, target, Seq(2L), Some(c)))
    }
  }

  test("rewriteManifests") {
    val dir = table("rewrite-manifests")
    IcebergWriter.append(spark, dir, rows(0, 2))
    IcebergWriter.append(spark, dir, rows(2, 4))
    IcebergWriter.append(spark, dir, rows(4, 6))
    contract(dir, "replace")(c =>
      IcebergWriter.rewriteManifests(spark, dir, committer = Some(c)))
  }

  test("cherrypickSnapshot") {
    val dir = table("cherrypick")
    IcebergWriter.append(spark, dir, rows(0, 2))
    val staged = IcebergWriter.append(spark, dir, rows(10, 12), branch = "audit")
    IcebergWriter.append(spark, dir, rows(2, 4))
    contract(dir, "append")(c =>
      IcebergWriter.cherrypickSnapshot(conf, dir, staged, Some(c)))
  }
}
