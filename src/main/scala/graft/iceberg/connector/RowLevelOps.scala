package graft.iceberg.connector

import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{DataFileEntry, IcebergTable, IcebergWriter}

/** Tunables for the row-level (CoW) paths. Each is read as a
  * `spark.`-prefixed SESSION conf first (the caps guard this driver's
  * memory), then a table property (travels with the table as its
  * default), then the built-in default — so an operator with a bigger
  * driver can raise a cap per-session without a rebuild or a table
  * commit. */
object RowLevelOps {
  /** Max outstanding deleted ROWS a CoW rewrite will force-broadcast
    * during delete application (default 50M ≈ 1 GB of position tuples). */
  val MaxBroadcastDeleteRows = "graft.rewrite.max-broadcast-delete-rows"
  /** Max ESTIMATED BYTES of that broadcast (default 1 GiB) — the row cap
    * alone under-gates wide equality-delete tuples. */
  val MaxBroadcastDeleteBytes = "graft.rewrite.max-broadcast-delete-bytes"
}

/** Group-based (copy-on-write) row-level operations: SQL `UPDATE`,
  * `MERGE INTO`, and `DELETE` with predicates equality deletes cannot
  * express. Spark's own analyzer rewrites (`RewriteUpdateTable`,
  * `RewriteMergeIntoTable`, `RewriteDeleteFromTable`) own ALL row
  * semantics — this class only supplies the two physical halves:
  *
  *  - a scan over the affected file GROUPS ([[GraftGroupScan]]): pushed
  *    command predicates are used exclusively for manifest/file-level
  *    pruning, NEVER as row filters — copy-on-write must read every row
  *    of a matched file (the non-matching ones are written back
  *    verbatim), so even parquet page-level skipping on the condition
  *    would silently drop rows;
  *  - a distributed replacement write ([[GraftDataFilesWrite]]):
  *    executors stream the rewritten rows to data files, and the driver
  *    commit swaps exactly the scanned files for the new ones in one
  *    snapshot ([[IcebergWriter.replaceFiles]]).
  *
  * At 100 TB the cost model is: files whose stats disprove the condition
  * are never read OR rewritten (static group pruning); the rest are
  * rewritten in full — the textbook copy-on-write trade. Equality
  * `DELETE`s never reach this path: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` routes them back to
  * [[SparkIcebergTable.deleteWhere]]'s merge-on-read delete files.
  *
  * The reference engine is read-only (SURVEY §2.C) — this is extension
  * surface, same as the INSERT path.
  */
final class GraftRowLevelOperationBuilder(
    tableName: String, table: IcebergTable, writable: Boolean,
    info: RowLevelOperationInfo,
    committerOpt: Option[graft.iceberg.TableCommitter] = None)
    extends RowLevelOperationBuilder {

  /** Copy-on-write (the default, [[GraftRowLevelOperation]]) vs
    * merge-on-read ([[GraftDeltaOperation]]: position-delete + append
    * deltas), per the Iceberg `write.<op>.mode` table property. Under a
    * `spark.wap.branch` with no declared mode, merge-on-read is chosen
    * automatically — it is the only sound implementation there (the delta
    * scan anchors on the branch head and the delta commit stages to the
    * branch; a copy-on-write rewrite would scan main and stage a rewrite
    * that never saw the branch's staged inserts). An EXPLICIT
    * copy-on-write declaration under WAP still refuses loudly.
    */
  override def build(): RowLevelOperation = {
    val declared = table.metadata.properties
      .get(s"write.${info.command.toString.toLowerCase}.mode")
    val wap = SparkSession.active match {
      case s if s != null => SparkIcebergTable.wapBranch(s)
      case _ => "main"
    }
    val useDelta = declared.contains("merge-on-read") ||
      (declared.isEmpty && wap != "main")
    if (useDelta)
      new GraftDeltaOperation(tableName, table, writable, info.command,
        committerOpt)
    else
      new GraftRowLevelOperation(tableName, table, writable, info.command,
        committerOpt)
  }
}

final class GraftRowLevelOperation(
    tableName: String, table: IcebergTable, writable: Boolean,
    cmd: RowLevelOperation.Command,
    committerOpt: Option[graft.iceberg.TableCommitter] = None)
    extends RowLevelOperation {

  /** The scan Spark configured for this operation's `ReplaceData`
    * relation — the write's commit replaces exactly its planned file
    * set. Spark builds it once per operation (the runtime group-filter
    * subquery, if any, scans through the BASE table's regular builder,
    * not this one). */
  @volatile private var configuredScan: GraftGroupScanLike = _

  override def command(): RowLevelOperation.Command = cmd

  /** v3 row lineage rides the rewrite as a REQUIRED METADATA ATTRIBUTE:
    * Spark's own rewrites (`RewriteUpdateTable`/`RewriteMergeIntoTable`/
    * `RewriteDeleteFromTable`) thread requested metadata columns from the
    * scan through the rewritten plan into a separate metadata projection
    * on the `ReplaceData` write (`MetadataColumn.PRESERVE_ON_UPDATE`
    * defaults keep `_row_id` on updated and copied rows, null it for
    * MERGE-inserted ones), and the write materializes it into the
    * replacement files — the spec's "rewrites preserve row ids" rule,
    * with null → fresh assignment via the new file's `first_row_id +
    * pos` on read. Only requested when the table assigns lineage AND no
    * data column shadows the reserved name (resolution is against the
    * relation's metadata output, which excludes shadowed names). */
  private def lineageOn: Boolean =
    IcebergWriter.wantsLineage(table.metadata) &&
      !table.metadata.schema.fieldNames.contains(IcebergTable.RowIdCol)

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineageOn)
      Array(
        org.apache.spark.sql.connector.expressions.Expressions
          .column(IcebergTable.RowIdCol),
        org.apache.spark.sql.connector.expressions.Expressions
          .column(IcebergTable.LastUpdCol))
    else Array.empty

  /** Analysis-time construction must not throw (every DELETE builds one
    * of these before the metadata-only optimization runs) — capability
    * guards live here, at scan-build time, reached only when a
    * copy-on-write rewrite is actually planned. */
  private def checkSupported(): Unit = {
    if (!writable || table.pinnedSnapshotId.nonEmpty)
      throw new UnsupportedOperationException(
        s"$tableName is read-only: ${cmd.name} needs a committable table " +
          "(not time-travel-pinned)")
    // Write-audit-publish: a copy-on-write rewrite SCANS the relation
    // Spark resolved — the main branch — so honoring spark.wap.branch at
    // commit time would stage a rewrite of main's files onto a branch
    // whose staged inserts it never read (silent partial staging, worse
    // than refusing). Merge-on-read equality DELETEs do stage to the
    // branch (SparkIcebergTable.deleteWhere); everything else must wait
    // for publish.
    val wap = SparkIcebergTable.wapBranch(SparkSession.active)
    if (wap != "main")
      throw new UnsupportedOperationException(
        s"$tableName: ${cmd.name} with spark.wap.branch='$wap' is not " +
          "supported — copy-on-write rewrites read and commit the main " +
          "branch. Publish the branch first (IcebergWriter.fastForward) " +
          "or unset spark.wap.branch; equality-predicate DELETEs do " +
          "stage to the branch")
    val spark = SparkSession.active
    val missing = table.missingPartitionColumns(spark, table.planFiles())
    if (missing.nonEmpty)
      throw new UnsupportedOperationException(
        s"$tableName stores partition values only in metadata (columns " +
          s"${missing.mkString(", ")} absent from data files); rewriting " +
          "such files would lose them")
    if (table.needsNameMapping(spark, table.planFiles()))
      throw new UnsupportedOperationException(
        s"$tableName reads its id-less data files through " +
          "schema.name-mapping.default; a copy-on-write rewrite through " +
          "the id-keyed group scan would null renamed columns. Compact " +
          "first (IcebergWriter.compact re-stamps field ids), then re-run " +
          s"the ${cmd.name}")
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = table.metadata.schema

      /** Report every filter as residual: for a group-based operation the
        * pushed condition is a pruning HINT (which groups can match), and
        * the rewrite plan re-derives row semantics itself. */
      override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
      override def pushedFilters(): Array[Filter] = filters
      override def pruneColumns(s: StructType): Unit = required = s

      override def build(): Scan = {
        checkSupported()
        // Lineage rewrites read through the V1 bridge: `_row_id` needs
        // the row-identity machinery (`_metadata.row_index` + per-file
        // first-row-id bases + materialized-column coalesce) that
        // `IcebergTable.toDF(keepLineage)` already implements for every
        // format — the raw vectorized batch cannot carry it. Tables with
        // OUTSTANDING DELETE DEBT (v2 files or DVs) also read through
        // toDF: the rewrite must materialize the deletions into the
        // replacement files (which take a NEW sequence number and so
        // escape every existing delete) — the raw vectorized group scan
        // would resurrect deleted rows. Clean non-lineage tables keep
        // the vectorized group scan.
        val scan: GraftGroupScanLike =
          if (lineageOn || table.hasDeletes)
            new GraftLineageGroupScan(SparkSession.active, table, filters,
              required, lineage = lineageOn)
          else new GraftGroupScan(SparkSession.active, table, filters, required)
        configuredScan = scan
        scan
      }
    }

  /** The replacement write: executor tasks stream the rewritten rows
    * through the table's fanout writers — partition-exact files, so
    * replacement files on a partitioned table STAY under partition
    * pruning — and the commit swaps exactly the configured scan's planned
    * files for the written ones in one snapshot
    * ([[IcebergWriter.replaceFiles]]) without opening a data file. With
    * lineage on, each surviving row's `_row_id` and last-updated sequence
    * arrive through the ReplaceData METADATA projection
    * (`DataWriter.write(metadata, record)`) and are materialized into the
    * replacement files (spec rewrite rule); MERGE-inserted rows write
    * nulls (fresh ids assigned on read via the new file's first_row_id +
    * pos). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftDataFilesWrite(table, info.schema(), "rlo", lineageOn,
          (conf, added) => {
            val scan = configuredScan
            require(scan != null,
              "ReplaceData commit without a configured group scan")
            IcebergWriter.replaceFiles(conf, table.tableDir,
              scan.plannedFiles.map(_.filePath).toSet, added, committerOpt,
              removedEntries = scan.plannedFiles,
              // delete-applying reads materialized the deletions into the
              // replacement files: delete manifests carry through. The
              // planned set (empty for a clean-at-plan vectorized scan)
              // turns ANY delete manifest that landed after planning into
              // the CommitConflictException retry contract
              carryDeleteManifests = scan.appliedDeletes,
              plannedDeleteManifests = Some(scan.consumedDeleteManifests))
            ()
          })
    }
}


/** What the replacement write needs from whichever group scan Spark
  * configured: the exact planned file set its commit swaps out. */
private[connector] trait GraftGroupScanLike extends Scan {
  def plannedFiles: Seq[DataFileEntry]
  /** True when the executed read applied the table's delete files — the
    * commit then carries delete manifests through (the rewrite
    * MATERIALIZED the deletions) instead of refusing them. */
  def appliedDeletes: Boolean = false
  /** The delete-manifest paths the delete-applying read consumed,
    * captured at PLAN time — the commit aborts on any delete manifest
    * not in this set (a concurrent row-level delete landed after
    * planning; rewritten files would escape it). */
  def consumedDeleteManifests: Set[String] = Set.empty
}

/** The lineage-preserving affected-group scan (v3 tables): the same
  * group semantics as [[GraftGroupScan]] — every row of every statically
  * pruned file, pushed predicates as pruning hints only — but the
  * requested `_row_id` metadata attribute rides [[IcebergTable.toDF]]'s
  * row-identity machinery (materialized column coalesced with manifest
  * `first_row_id` + `_metadata.row_index`, per-format). The row-level
  * scan planning path accepts only DSv2 `Batch` scans (no V1 bridge), so
  * the toDF plan is bridged: its physical RDD is materialized ON THE
  * DRIVER at plan time (the lineage broadcast included) and each of its
  * partitions is computed inside this scan's executor tasks. Sound
  * because the lineage read plan is SHUFFLE-FREE by construction (file
  * scan → projection → broadcast base join) — guarded loudly below. The
  * rewrite read is row-based rather than vectorized: the price of
  * carrying lineage, paid only by v3 tables.
  */
final class GraftLineageGroupScan(
    spark: SparkSession,
    table: IcebergTable,
    filters: Array[Filter],
    requiredSchema: StructType,
    /** false = the toDF bridge is used for its DELETE APPLICATION only
      * (a rewrite over outstanding v2/DV debt materializes the
      * deletions); no `_row_id` is served. */
    lineage: Boolean = true)
    extends Scan with SupportsReportStatistics with GraftGroupScanLike {

  /** Planned once, immutable: the write commit and the executed scan must
    * agree on the exact file set. */
  override val plannedFiles: Seq[DataFileEntry] = table.planFiles(filters.toSeq)

  /** toDF applies every live delete file when any exist — captured here
    * (with the manifests it will consume) so the commit can carry them
    * through and detect concurrent deletes landing after planning. */
  override val appliedDeletes: Boolean = table.hasDeletes
  override val consumedDeleteManifests: Set[String] =
    if (!appliedDeletes) Set.empty
    else table.manifests.filter(_.content == 1)
      .map(m => table.resolve(m.path)).toSet

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"GraftLineageGroupScan(files=${plannedFiles.size}, " +
      s"lineage=$lineage, deletesApplied=$appliedDeletes, " +
      s"groupFilters=${filters.mkString(", ")})"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(plannedFiles.map(_.fileSizeInBytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(plannedFiles.map(_.recordCount).sum)
  }

  override def toBatch: Batch = new Batch {
    /** Driver-side: builds the physical plan (kicking off the tiny
      * lineage-base broadcast) exactly once; executors compute its
      * partitions inside this scan's tasks. */
    private lazy val bridged: org.apache.spark.rdd.RDD[InternalRow] = {
      import org.apache.spark.sql.functions.col
      val s = org.apache.spark.sql.SparkSession.active
      // NO row filters: copy-on-write must read every row of a matched
      // file (non-matching ones are written back verbatim). toDF over
      // the pinned file list reads exactly those files, lineage served.
      // DETERMINISTIC delete-input broadcasts (the planner's own
      // size-estimate decision varied with session history, making the
      // same rewrite pass or fail the shuffle-free assertion below) —
      // gated on delete volume so an oversized debt refuses loudly
      // instead of OOMing the driver on a forced broadcast.
      val debt = table.planDeletes()
      val debtRows = debt.map(_.recordCount).sum
      // Caps guard THIS driver's memory, so an explicitly-set session
      // conf (`spark.`-prefixed) wins over the table property; the table
      // property travels with the table as the default.
      def cap(prop: String, dflt: Long): Long =
        s.conf.getOption(s"spark.$prop")
          .orElse(table.metadata.properties.get(prop)).map(_.toLong)
          .getOrElse(dflt)
      val rowCap = cap(RowLevelOps.MaxBroadcastDeleteRows,
        50L * 1000 * 1000) // position tuples ~16 B ⇒ ≲1 GB broadcast
      val byteCap = cap(RowLevelOps.MaxBroadcastDeleteBytes, 1L << 30)
      // A row count alone under-gates EQUALITY deletes — their rows carry
      // full data-column tuples, so a wide string/binary equality delete
      // could pass a row cap yet build a multi-GB broadcast. Estimate
      // bytes from the schema widths of the equality-id columns
      // (variable-width types assumed 128 B — conservative, and the
      // refusal names the property to raise when the estimate is unfair).
      def width(dt: org.apache.spark.sql.types.DataType): Long = {
        import org.apache.spark.sql.types._
        dt match {
          case BooleanType | ByteType => 1L
          case ShortType => 2L
          case IntegerType | FloatType | DateType => 4L
          case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
          case _: DecimalType => 16L
          case _ => 128L
        }
      }
      val byId = table.metadata.fieldIds.map(_.swap)
      val debtBytes = debt.map { d =>
        val perRow =
          if (d.content == 2) math.max(16L, d.equalityIds.flatMap(byId.get)
            .flatMap(n => table.metadata.schema.fields.find(_.name == n))
            .map(f => width(f.dataType)).sum)
          else 16L // position delete / DV: (path dict-ref, long position)
        d.recordCount * perRow
      }.sum
      if (debtRows > rowCap || debtBytes > byteCap)
        throw new IllegalStateException(
          s"copy-on-write rewrite over $debtRows outstanding deleted rows " +
            s"(~$debtBytes B estimated) exceeds the broadcastable cap " +
            s"(${RowLevelOps.MaxBroadcastDeleteRows}=$rowCap, " +
            s"${RowLevelOps.MaxBroadcastDeleteBytes}=$byteCap); compact " +
            "or convert the delete debt first " +
            "(rewrite_position_delete_files / IcebergWriter.compact) or " +
            "raise the cap property, then re-run the rewrite")
      val df = table
        .toDF(s, Nil, precomputed = Some(plannedFiles), keepLineage = lineage,
          broadcastDeletes = true)
        .select(requiredSchema.fieldNames.toSeq.map(col): _*)
      val rdd = df.queryExecution.toRdd
      // completeRowLineage is broadcast-only and delete application
      // broadcasts its (small) delete sets; if a shuffle ever slips into
      // the read plan (e.g. delete debt too large to broadcast), fail at
      // PLAN time with a diagnosis, not executor-side with a
      // missing-stage error.
      GraftRddBridge.assertNoShuffle(rdd,
        "group-rewrite scan needs a shuffle-free read plan; the toDF " +
          "plan grew a shuffle (lineage bases and delete sets broadcast " +
          "when small) — compact or convert the delete debt first " +
          "(rewrite_position_delete_files / IcebergWriter.compact), " +
          "then re-run the rewrite")
      rdd
    }
    override def planInputPartitions(): Array[InputPartition] =
      bridged.partitions.map(p => GraftRddBridgePartition(p): InputPartition)
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftRddBridgeReaderFactory(bridged)
  }
}

/** Shared contract of the RDD-bridge surfaces (the row-level group
  * scan and the streaming changelog source): a foreign RDD's partitions
  * compute inside another scan's tasks, which is sound ONLY while that
  * RDD is shuffle-free — its map stages would otherwise never have run
  * (broadcasts are fine; they materialize driver-side at toRdd). */
private[connector] object GraftRddBridge {
  def assertNoShuffle(r: org.apache.spark.rdd.RDD[_],
      diagnosis: => String): Unit =
    r.dependencies.foreach {
      case _: org.apache.spark.ShuffleDependency[_, _, _] =>
        throw new IllegalStateException(diagnosis)
      case d => assertNoShuffle(d.rdd, diagnosis)
    }
}

/** One partition of the bridged lineage read plan (the inner RDD's own
  * `Partition` object, shipped as-is). */
private[connector] final case class GraftRddBridgePartition(
    split: org.apache.spark.Partition) extends InputPartition

/** Computes the bridged RDD's partition inside the enclosing scan task.
  * The factory serializes the full (shuffle-free) RDD graph to executors
  * — the same payload a normal task for that plan would carry. */
private[connector] final class GraftRddBridgeReaderFactory(
    rdd: org.apache.spark.rdd.RDD[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = rdd.iterator(p.asInstanceOf[GraftRddBridgePartition].split,
      org.apache.spark.TaskContext.get())
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** The affected-group scan: Spark's vectorized parquet batch over the
  * statically pruned file list, with NO data filters handed to the
  * reader (see [[GraftRowLevelOperation]] — group semantics require every
  * row of every kept file). Statistics are reported so a MERGE's join
  * over this relation still gets broadcast/CBO decisions.
  */
final class GraftGroupScan(
    spark: SparkSession,
    table: IcebergTable,
    filters: Array[Filter],
    requiredSchema: StructType)
    extends Scan with SupportsReportStatistics with GraftGroupScanLike {

  /** Planned once, immutable: the write commit and the executed scan must
    * agree on the exact file set. */
  val plannedFiles: Seq[DataFileEntry] = table.planFiles(filters.toSeq)

  /** Per-format batches (a native-ORC, native-Avro, or mixed-format
    * table's groups rewrite like parquet ones): parquet and ORC each get
    * Spark's own vectorized scan over their file subset; Avro files get
    * the row-based [[AvroGroupBatch]]; formats concatenate by
    * [[GraftScanShims.unionBatch]]. One constraint survives: Spark's
    * `BatchScanExec` refuses MIXED row/columnar partition sets, so Avro
    * may not mix with parquet/ORC in one rewrite — loud, with the
    * materialize-first out. An all-Avro (declared-avro) table rewrites
    * fine. */
  private lazy val delegate: Batch = {
    val shims = org.apache.spark.sql.execution.datasources.GraftScanShims
    val (avroFiles, colFiles) =
      plannedFiles.partition(_.fileFormat.equalsIgnoreCase("AVRO"))
    if (avroFiles.nonEmpty && colFiles.nonEmpty)
      throw new UnsupportedOperationException(
        "copy-on-write rewrite over a MIXED avro + parquet/ORC file set " +
          "cannot execute in one scan (row-based avro partitions cannot " +
          "join a columnar batch) — run rewrite_data_files first to " +
          "unify the formats")
    if (avroFiles.nonEmpty) {
      val fields = table.avroFieldSpecs(requiredSchema.fields.toSeq)
      AvroGroupBatch(
        avroFiles.map(f => table.resolve(f.filePath)), fields,
        new graft.iceberg.SerializableHadoopConf(
          spark.sessionState.newHadoopConf()))
    } else {
    val (orcFiles, pqFiles) =
      colFiles.partition(_.fileFormat.equalsIgnoreCase("ORC"))
    // the table-level guard samples the head file, which in a MIXED
    // snapshot can be parquet (id-resolved, safe) while ORC files still
    // resolve renamed columns by name to NULL — check the ORC subset
    // explicitly before building its by-name scan
    if (orcFiles.nonEmpty && table.needsNameMapping(spark, orcFiles))
      throw new UnsupportedOperationException(
        "copy-on-write rewrite reads ORC files by name, and this table " +
          "carries schema.name-mapping.default (renamed columns would " +
          "read NULL) — run rewrite_data_files first")
    def fl(fs: Seq[DataFileEntry]) =
      fs.map(f => (table.resolve(f.filePath), f.fileSizeInBytes))
    val batches = Seq(
      if (pqFiles.isEmpty) None
      else Some(shims.parquetBatchScan(spark, fl(pqFiles),
        table.metadata.schema, requiredSchema,
        pushedFilters = Array.empty, confOverrides = table.vended).toBatch),
      if (orcFiles.isEmpty) None
      else Some(shims.orcBatchScan(spark, fl(orcFiles),
        table.metadata.schema, requiredSchema,
        pushedFilters = Array.empty, confOverrides = table.vended).toBatch))
      .flatten
    batches match {
      case Seq(one) => one
      case Seq() => shims.parquetBatchScan(spark, Nil,
        table.metadata.schema, requiredSchema, Array.empty,
        confOverrides = table.vended).toBatch
      case many => shims.unionBatch(many)
    }
    }
  }

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = delegate

  override def description(): String =
    s"GraftGroupScan(files=${plannedFiles.size}, groupFilters=${filters.mkString(", ")})"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(plannedFiles.map(_.fileSizeInBytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(plannedFiles.map(_.recordCount).sum)
  }
}

/** The driver half every DSv2 data-file write shares: the session Hadoop
  * conf with the table's vended storage credentials, one writer-unique
  * `data/<prefix>-<uuid12>` directory, the table's fanout writer factory
  * over it ([[graft.iceberg.FanoutWriterFactory.forTable]]), and the
  * abort that removes the directory. */
private[connector] final class GraftWriteTarget(table: IcebergTable, prefix: String) {
  val conf: org.apache.hadoop.conf.Configuration = SparkIcebergTable.withOverrides(
    SparkSession.active.sessionState.newHadoopConf(), table.vended)
  val writeDir: String =
    s"${table.tableDir}/data/$prefix-${java.util.UUID.randomUUID.toString.take(12)}"

  def fanout(writeSchema: StructType, lineage: Boolean,
      deletesOnly: Boolean = false): graft.iceberg.FanoutWriterFactory =
    graft.iceberg.FanoutWriterFactory.forTable(table.metadata, writeSchema,
      writeDir, conf, lineage, deletesOnly = deletesOnly)

  def abort(): Unit = {
    new Path(writeDir).getFileSystem(conf).delete(new Path(writeDir), true)
    ()
  }
}

/** Clustering by the partition transforms as a request, not a rule: an
  * UPDATE rewriting K partitions should produce ~K files, not tasks × K,
  * and Spark plans the request as an AQE rebalance, so a hot partition
  * splits instead of straggling. */
private[connector] trait GraftClusteredWrite extends RequiresDistributionAndOrdering {
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty
  override def distributionStrictlyRequired(): Boolean = false
}

/** DSv2 batch write of new data files, clustered by the partition
  * transforms: the copy-on-write replacement (`rlo-` directory, commit
  * [[IcebergWriter.replaceFiles]]) and dynamic partition overwrite
  * (`dow-`, commit [[IcebergWriter.overwriteDynamicCommit]]). Executors
  * write through the table's fanout writers and ship their files' stats
  * in the commit messages; `commitFiles` receives the write's Hadoop conf
  * and every written file. With `lineage`, each row's two lineage values
  * arrive through Spark's metadata projection and are appended to the
  * row (nulls for rows written without metadata). */
final class GraftDataFilesWrite(
    table: IcebergTable,
    writeSchema: StructType,
    prefix: String,
    lineage: Boolean,
    commitFiles: (org.apache.hadoop.conf.Configuration,
      Seq[graft.iceberg.AddedDataFile]) => Unit)
    extends Write with GraftClusteredWrite {

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    SparkIcebergTable.writeDistribution(table, writeSchema)

  override def toBatch: BatchWrite = new BatchWrite {
    private val target = new GraftWriteTarget(table, prefix)

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val inner = target.fanout(writeSchema, lineage)
      if (!lineage) inner
      else new DataWriterFactory {
        override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
          val w = inner.createWriter(partitionId, taskId)
          new DataWriter[InternalRow] {
            // one reused concat view per task: the inner writer encodes
            // each row before write() returns, so reuse is safe
            private val joined =
              new org.apache.spark.sql.catalyst.expressions.JoinedRow
            private val nullMeta: InternalRow =
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](null, null))
            override def write(rec: InternalRow): Unit =
              w.write(joined(rec, nullMeta))
            override def write(metaRow: InternalRow, rec: InternalRow): Unit =
              w.write(joined(rec, metaRow))
            override def commit(): WriterCommitMessage = w.commit()
            override def abort(): Unit = w.abort()
            override def close(): Unit = w.close()
          }
        }
      }
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      commitFiles(target.conf, messages.collect {
        case graft.iceberg.GraftFilesCommit(files) => files
      }.toSeq.flatten)

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      target.abort()
  }
}

object GraftDataFilesWrite {
  /** DYNAMIC partition overwrite: the commit replaces exactly the
    * partitions the written files landed in (an unpartitioned table
    * degenerates to replace-all). */
  def dynamicOverwrite(table: IcebergTable,
      committerOpt: Option[graft.iceberg.TableCommitter],
      branchOpt: Option[String]): GraftDataFilesWrite =
    new GraftDataFilesWrite(table, table.metadata.schema, "dow", lineage = false,
      (_, added) => {
        val spark = SparkSession.active
        val branch = branchOpt.getOrElse(SparkIcebergTable.wapBranch(spark))
        IcebergWriter.overwriteDynamicCommit(spark, table.tableDir, added,
          committerOpt, branch)
        ()
      })
}

// ---- merge-on-read (delta) row-level operations ----------------------------

/** Commit message of one delta task: appended data files + the
  * position-delete files it wrote as (qualified path, rows, bytes). */
private[connector] final case class GraftDeltaCommit(
    dataFiles: Seq[graft.iceberg.AddedDataFile],
    deleteFiles: Seq[(String, Long, Long)]) extends WriterCommitMessage

/** Merge-on-read UPDATE / MERGE / DELETE (`SupportsDelta`): Spark's delta
  * rewrites feed per-row actions to [[GraftDeltaWriter]]s — deletes become
  * spec position-delete files keyed by the scan's `_file`/`_pos` metadata
  * columns, inserts stream through the shared fanout kernel, and
  * [[IcebergWriter.commitDelta]] lands both in one snapshot WITHOUT
  * touching existing data files. Write amplification is proportional to
  * the changed rows; at 100 TB that is the difference between "update 1%%
  * of rows" and "rewrite 40%% of files". Updates are represented as
  * delete + insert (the replacement row may land in another partition).
  *
  * Unlike the copy-on-write path, outstanding delete files are FINE here
  * (nothing is rewritten, so nothing escapes them), and
  * `spark.wap.branch` is fully supported: the scan anchors on the branch
  * head and the commit stages to the branch.
  */
final class GraftDeltaOperation(
    tableName: String, table: IcebergTable, writable: Boolean,
    cmd: RowLevelOperation.Command,
    committerOpt: Option[graft.iceberg.TableCommitter] = None)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** Row identity = the Iceberg reserved metadata columns the table
    * serves from the parquet source ([[SparkIcebergTable.metadataColumns]]). */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** v3 row lineage through merge-on-read updates: `_row_id` rides the
    * delta METADATA projection — an update's REINSERT half receives it
    * (the column opts into `PRESERVE_ON_REINSERT`) and the writer
    * materializes it into the appended file, so a MoR UPDATE/MERGE
    * keeps the row's id exactly like the copy-on-write path; MERGE's
    * NOT MATCHED inserts arrive through `insert` (no metadata) and take
    * fresh ids. Same gating as [[GraftRowLevelOperation]], plus: a
    * DELETE appends no data rows and its writer ignores delete-side
    * metadata, so requesting lineage there would only tax the whole
    * scan with the `_row_id` serving machinery for nothing. */
  private[connector] def lineageOn: Boolean =
    cmd != RowLevelOperation.Command.DELETE &&
      IcebergWriter.wantsLineage(table.metadata) &&
      !table.metadata.schema.fieldNames.contains(IcebergTable.RowIdCol)

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineageOn)
      Array(
        org.apache.spark.sql.connector.expressions.Expressions
          .column(IcebergTable.RowIdCol),
        org.apache.spark.sql.connector.expressions.Expressions
          .column(IcebergTable.LastUpdCol))
    else Array.empty

  /** The table state this operation reads and deletes against: the WAP
    * branch head when `spark.wap.branch` names an existing branch (a
    * staged row-level op must see staged inserts), the current snapshot
    * otherwise (a missing branch forks from main at commit, same as the
    * INSERT path). */
  private def scanTable(spark: SparkSession): IcebergTable = {
    val wap = SparkIcebergTable.wapBranch(spark)
    if (wap == "main") table
    else table.metadata.refs.get(wap).map(table.atSnapshot).getOrElse(table)
  }

  private def checkSupported(): Unit =
    if (!writable || table.pinnedSnapshotId.nonEmpty)
      throw new UnsupportedOperationException(
        s"$tableName is read-only: ${cmd.name} needs a committable table " +
          "(not time-travel-pinned)")

  /** Reuses [[GraftScan]]: pushed predicates prune manifests/files AND
    * filter rows (sound for delta ops — deletes are row-precise, nothing
    * is rewritten verbatim), `_file`/`_pos` ride the row-identity
    * machinery. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = table.metadata.schema

      override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
      override def pushedFilters(): Array[Filter] = filters
      override def pruneColumns(s: StructType): Unit = required = s

      override def build(): Scan = {
        checkSupported()
        new GraftScan(scanTable(SparkSession.active), filters, required, None)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        checkSupported()
        new GraftDeltaWrite(table, info.schema(), cmd, committerOpt)
      }
    }
}

/** The delta write: per-task [[GraftDeltaWriter]]s, one commit. */
final class GraftDeltaWrite(
    table: IcebergTable,
    writeSchema: StructType,
    cmd: RowLevelOperation.Command,
    committerOpt: Option[graft.iceberg.TableCommitter] = None)
    extends DeltaWrite with GraftClusteredWrite {

  private val isDelete = cmd == RowLevelOperation.Command.DELETE

  /** Cluster delta INSERT rows by the partition transforms (MERGE inserts
    * at scale hit the same task×tuple fanout as appends). A DELETE delta
    * carries only row ids — `writeDistribution` sees the missing source
    * columns and backs off to unspecified. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (isDelete)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else SparkIcebergTable.writeDistribution(table, writeSchema)

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val spark = SparkSession.active
    private val target = new GraftWriteTarget(table, "mor")
    private val branch = SparkIcebergTable.wapBranch(spark)

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
      val meta = table.metadata
      // v3 row lineage: an update's REINSERT half materializes the
      // original `_row_id` into the appended file (delta metadata
      // projection; null for fresh inserts) — same appended columns as
      // the copy-on-write replacement write. DELETEs append no data
      // rows, so their id-only schema stays untouched.
      val lineage = !isDelete && IcebergWriter.wantsLineage(meta) &&
        !meta.schema.fieldNames.contains(IcebergTable.RowIdCol)
      // a DELETE writes only position-delete files: its write schema is
      // the row-id columns (_file/_pos), with no partition source to
      // index and no geo/ns data for the type guards to refuse — pinned
      // by MergeOnReadSpec's ORC-geo-table DELETE case
      new GraftDeltaWriterFactory(
        target.fanout(writeSchema, lineage, deletesOnly = isDelete),
        target.writeDir, new graft.iceberg.SerializableHadoopConf(target.conf),
        deleteCodec = graft.iceberg.IcebergWriter.deleteCodec(meta),
        lineage = lineage)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val deltas = messages.collect { case d: GraftDeltaCommit => d }.toSeq
      IcebergWriter.commitDelta(spark, table.tableDir,
        deltas.flatMap(_.dataFiles), deltas.flatMap(_.deleteFiles),
        committerOpt, branch,
        operation = if (isDelete) "delete" else "overwrite")
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      target.abort()
  }
}

/** Per-task delta writer: inserts stream through the fanout kernel
  * (partition-exact files, own-footer stats); deleted row ids buffer,
  * sort by (file, position) per the spec's recommendation, and flush as
  * ONE position-delete parquet file per task at commit. Buffer size is
  * bounded by the task's input split (a task can delete at most the rows
  * it scanned), and ids are copied out of the reused `InternalRow`.
  */
final class GraftDeltaWriterFactory(
    inner: graft.iceberg.FanoutWriterFactory,
    writeDir: String,
    conf: graft.iceberg.SerializableHadoopConf,
    deleteCodec: String = "snappy",
    /** v3 row lineage: append the metadata `_row_id` (REINSERT halves of
      * updates carry the original id; fresh inserts write null) as the
      * stamped extra column of every appended data row. */
    lineage: Boolean = false)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private var insertW: DataWriter[InternalRow] = _
      private val dels = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val nullMeta: InternalRow =
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](null))

      private def writeData(row: InternalRow): Unit = {
        if (insertW == null) insertW = inner.createWriter(partitionId, taskId)
        insertW.write(row)
      }

      override def insert(row: InternalRow): Unit =
        writeData(if (lineage) joined(row, nullMeta) else row)

      override def reinsert(meta: InternalRow, row: InternalRow): Unit =
        writeData(if (lineage) joined(row, meta) else row)

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels += ((id.getUTF8String(0).toString, id.getLong(1)))

      /** Unreachable with representUpdateAsDeleteAndInsert = true; kept
        * semantically correct anyway. */
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delete(meta, id)
        reinsert(meta, row)
      }

      override def commit(): WriterCommitMessage = {
        val dataFiles = if (insertW == null) Nil
          else insertW.commit() match {
            case graft.iceberg.GraftFilesCommit(fs) => fs
            case other => throw new IllegalStateException(
              s"unexpected fanout commit message: $other")
          }
        val delFiles = if (dels.isEmpty) Nil else {
          val p = new Path(s"$writeDir/del-$partitionId-$taskId-" +
            s"${java.util.UUID.randomUUID.toString.take(8)}.parquet")
          val fs = p.getFileSystem(conf.value)
          val qualified = fs.makeQualified(p)
          val w = org.apache.spark.sql.execution.datasources.parquet
            .GraftParquetWriteShim.open(qualified.toString,
              IcebergTable.posDeleteWriteSchema,
              conf.value, deleteCodec)
          try dels.sortInPlace().foreach { case (f, pos) =>
            w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(f), pos)))
          } finally w.close()
          Seq((qualified.toString, dels.size.toLong, fs.getFileStatus(qualified).getLen))
        }
        GraftDeltaCommit(dataFiles, delFiles)
      }

      override def abort(): Unit = if (insertW != null) insertW.abort()
      override def close(): Unit = ()
    }
}
