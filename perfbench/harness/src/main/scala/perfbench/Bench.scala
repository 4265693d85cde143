package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter

import graft.iceberg.{IcebergTable, ManifestIO, TableMetadata}
import graft.iceberg.connector.GraftCatalog

/** One timed operation of a workload. `cls` is the latency class the
  * operation reports under: `read`, `commit` or `job`. `tables` are the
  * `ns.name` tables it touches, `filters` the predicates a read pushes to
  * them (replayed by the traced run's pruning probes), `rowsChanged` the
  * rows a commit inserts, updates or deletes. `check` returns an error
  * message when the result is wrong. `counters` derives trace counters
  * from the result (the traced run only). */
final case class Op(kind: String, cls: String, tables: Seq[String],
                    run: () => Any, check: Any => Option[String],
                    filters: Seq[Filter] = Nil, rowsChanged: Long = 0L,
                    counters: Any => Map[String, Double] = _ => Map.empty)

/** One executed operation; `rowsOut` is the number of rows a read returned,
  * `tables` the tables its operation touched. */
final case class Sample(id: Long, kind: String, cls: String, ms: Double,
                        error: Option[String], rowsChanged: Long, rowsOut: Long,
                        tables: Seq[String])

/** Everything a workload needs to build tables and run operations: the
  * session, the seed, the working directory, the catalog in use, and the
  * tracer with its probes. */
final class Bench(val spark: SparkSession, val seed: Long, val work: String,
                  traceable: Boolean) {
  val tracer: Tracer = Tracing.tracer
  val conf = spark.sessionState.newHadoopConf()
  val fs: FileSystem = FileSystem.getLocal(conf)
  private var opIds = 0L
  private var catalog = ""

  /** The catalog the workload's SQL names (`<cat>.<ns>.<table>`). */
  def cat: String = catalog

  def warehouse(c: String): String = s"$work/warehouse/$c"

  /** Registers catalog `c` and makes it current; over a fresh warehouse
    * unless `fresh` is false. */
  def useCatalog(c: String, fresh: Boolean = true): Unit = {
    val cls = if (traceable) classOf[TracedCatalog] else classOf[GraftCatalog]
    if (fresh) fs.delete(new Path(warehouse(c)), true)
    spark.conf.set(s"spark.sql.catalog.$c", cls.getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse(c))
    catalog = c
  }

  def tableDir(t: String): String = s"${warehouse(catalog)}/${t.replace('.', '/')}"

  def sql(s: String) = spark.sql(s)

  // -- operations ------------------------------------------------------------

  private val states = mutable.Map.empty[String, TableState] // by table dir

  /** Runs `op` timed; then, outside its time, the traced run drains the
    * listener bus, records the op's counters and runs the probes, and the
    * result is checked. Returns the sample and the nanoseconds spent after
    * the op, which the loop does not count as loop time. */
  def run(op: Op): (Sample, Long) = {
    opIds += 1
    val id = opIds
    if (tracer.enabled && op.cls == "commit")
      op.tables.foreach(t => states.getOrElseUpdate(tableDir(t), TableState.load(this, t)))
    tracer.beginOp(id)
    val t0 = System.nanoTime()
    val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    tracer.endOp()
    if (tracer.enabled) {
      BusShim.drain(spark.sparkContext)
      res.foreach(v => op.counters(v).foreach { case (k, n) => tracer.count(k, n) })
      if (op.cls == "commit") op.tables.foreach(commitProbe)
      else op.tables.foreach(t => readProbe(t, op.filters))
    }
    tracer.closeOp()
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      case Right(v) =>
        try op.check(v) catch { case e: Throwable => Some(s"check failed: $e".take(400)) }
    }
    err.foreach(e => System.err.println(s"[perfbench] op $id ${op.kind} failed: $e"))
    val rowsOut = res match {
      case Right(rows: Array[_]) => rows.length.toLong
      case _ => 0L
    }
    (Sample(id, op.kind, op.cls, (t1 - t0) / 1e6, err, op.rowsChanged, rowsOut, op.tables),
      System.nanoTime() - t1)
  }

  /** A set-up commit (`commit.<kind>`): an operation that must succeed. */
  def setupCommit(kind: String, table: String, stmt: String, rows: Long): Sample = {
    val (s, _) = run(Op(s"commit.$kind", "commit", Seq(table), () => sql(stmt), _ => None,
      rowsChanged = rows))
    s.error.foreach(e => throw new IllegalStateException(s"set-up $kind on $table: $e"))
    s
  }

  // -- probes (traced run only; never inside an operation's time) -------------

  private def probe[A](name: String)(body: => A)(attrs: A => Map[String, Double]): A = {
    val t0 = System.nanoTime()
    val out = body
    tracer.record(name, t0, System.nanoTime(), attrs(out), parent = 0L)
    out
  }

  private def fileLen(p: String): Long =
    try fs.getFileStatus(new Path(p)).getLen catch { case _: Exception => 0L }

  /** Replays the metadata and pruning layers a read of table `t` goes
    * through: the metadata-directory listing, the metadata load, the
    * manifest list and manifests, and planFiles(filters) on a fresh and a
    * warm table instance. */
  def readProbe(t: String, filters: Seq[Filter]): Unit = {
    val dir = tableDir(t)
    probe("catalog.metadata_dir")(fs.listStatus(new Path(dir, "metadata")).length)(
      n => Map("entries" -> n.toDouble))
    val meta = probe("metadata.load")(TableMetadata.load(dir, conf))(_ =>
      Map("bytes" -> fileLen(TableMetadata.latestMetadataPath(dir, conf).toString).toDouble))
    val table = IcebergTable.fromMetadata(dir, conf, meta)
    meta.currentSnapshot.foreach { snap =>
      val list = probe("metadata.manifest_list")(
        ManifestIO.readManifestList(table.resolve(snap.manifestList), conf))(_ => Map.empty)
      val data = list.filter(_.content == 0)
      probe("metadata.manifest_read")(data.foreach(m =>
        ManifestIO.readManifest(table.resolve(m.path), conf, m.sequenceNumber,
          m.partitionSpecId)))(_ => Map("manifests" -> list.size.toDouble))
    }
    val cold = probe("pruning.plan_files_cold")(table.planFiles(filters))(_ => Map.empty)
    probe("pruning.plan_files_warm")(table.planFiles(filters))(_ => Map.empty)
    val (kept, total) = table.manifestPruneCounts(filters)
    tracer.record("pruning.counts", System.nanoTime(), System.nanoTime(),
      Map("manifests_kept" -> kept.toDouble, "manifests_total" -> total.toDouble,
        "files_kept" -> cold.size.toDouble,
        "files_total" -> table.planFiles().size.toDouble), parent = 0L)
  }

  /** Compares table `t` with its state before the commit. */
  def commitProbe(t: String): Unit = {
    val before = states.getOrElse(tableDir(t), TableState.empty)
    val after = TableState.load(this, t)
    states(tableDir(t)) = after
    val addedManifests = after.manifests.keySet -- before.manifests.keySet
    val addedData = after.dataFiles -- before.dataFiles.keySet
    val addedDeletes = after.deleteFiles -- before.deleteFiles.keySet
    val metaBytes =
      (if (after.metadataFile != before.metadataFile) after.metadataBytes else 0L) +
        (if (after.manifestList != before.manifestList) after.manifestListBytes else 0L) +
        addedManifests.toSeq.map(after.manifests).sum
    tracer.record("commit.probe", System.nanoTime(), System.nanoTime(), Map(
      "manifests_added" -> addedManifests.size.toDouble,
      "manifests_carried" -> (after.manifests.keySet intersect before.manifests.keySet).size.toDouble,
      "data_files_added" -> addedData.size.toDouble,
      "delete_files_added" -> addedDeletes.size.toDouble,
      "metadata_bytes_written" -> metaBytes.toDouble,
      "bytes_written" -> (addedData.values.sum + addedDeletes.values.sum + metaBytes).toDouble),
      parent = 0L)
  }

  private[perfbench] def stateOf(t: String): TableState = {
    val dir = tableDir(t)
    val meta = TableMetadata.load(dir, conf)
    val table = IcebergTable.fromMetadata(dir, conf, meta)
    val metaFile = TableMetadata.latestMetadataPath(dir, conf).toString
    meta.currentSnapshot match {
      case None => TableState(metaFile, fileLen(metaFile), "", 0L, Map.empty, Map.empty, Map.empty)
      case Some(snap) =>
        val listPath = table.resolve(snap.manifestList)
        val manifests = ManifestIO.readManifestList(listPath, conf)
          .map(m => m.path -> m.length).toMap
        TableState(metaFile, fileLen(metaFile), listPath, fileLen(listPath), manifests,
          table.planFiles().map(f => f.filePath -> f.fileSizeInBytes).toMap,
          table.planDeletes().map(_.filePath).distinct
            .map(p => p -> fileLen(table.resolve(p))).toMap)
    }
  }

  // -- end-of-run measurements -------------------------------------------------

  /** Bytes under the tables' directories (data, delete and metadata
    * files; the local filesystem's .crc side files excluded), the bytes of
    * their live rows written once as plain Parquet with the engine's
    * default codec (snappy), and the number of live rows. */
  def storage(tables: Seq[String]): (Long, Long, Long) = {
    def bytesUnder(p: Path, keep: String => Boolean): Long =
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) {
          val f = it.next()
          if (keep(f.getPath.getName)) n += f.getLen
        }
        n
      }
    val stored = tables.map(t => bytesUnder(new Path(tableDir(t)), !_.endsWith(".crc"))).sum
    val plain = tables.map { t =>
      val out = s"$work/plain/$t"
      val live = spark.table(s"$cat.$t")
      live.coalesce(1).write.mode("overwrite").option("compression", "snappy").parquet(out)
      (bytesUnder(new Path(out), _.endsWith(".parquet")), spark.read.parquet(out).count())
    }
    (stored, plain.map(_._1).sum, plain.map(_._2).sum)
  }
}

/** What a commit probe compares: the metadata file, the manifest list,
  * the manifests (path -> length), and the live data and delete files
  * (path -> bytes). */
final case class TableState(metadataFile: String, metadataBytes: Long,
                            manifestList: String, manifestListBytes: Long,
                            manifests: Map[String, Long],
                            dataFiles: Map[String, Long],
                            deleteFiles: Map[String, Long])

object TableState {
  val empty = TableState("", 0L, "", 0L, Map.empty, Map.empty, Map.empty)
  def load(b: Bench, t: String): TableState =
    try b.stateOf(t) catch { case _: Exception => empty }
}

/** JVM counters: garbage-collection time and count, JIT time, and the
  * heap still in use after a full collection. */
object Jvm {
  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  def jitMs(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime.toDouble
    else 0.0
  }

  /** Heap in use after three full collections: one collection can leave
    * objects whose release another collection triggers (finalizers,
    * cleaners), and the reading then varies from run to run. */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ =>
      System.gc()
      Thread.sleep(100)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
