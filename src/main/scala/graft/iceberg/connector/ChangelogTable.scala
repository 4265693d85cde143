package graft.iceberg.connector

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => StreamingOffset}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{IcebergTable, IcebergWriter}

/** `cat.ns.tbl.changes` — the table's CDC changelog as a readable
  * relation, batch AND streaming:
  *
  *  - `SELECT * FROM cat.ns.t.changes` = the full-history
  *    [[IcebergTable.changesBetween]] rows (insert/delete typed, with
  *    `_commit_snapshot_id` / `_change_ordinal` attribution). The
  *    `start-snapshot-id` read option bounds BATCH reads too — the same
  *    "changes after this snapshot" meaning as on the stream, so a
  *    reader reusing its streaming options gets the same window;
  *  - `spark.readStream.table("cat.ns.t.changes")` = a micro-batch
  *    stream whose every batch is the change rows of the snapshot window
  *    since the last frontier — INCLUDING deletes, updates (as their
  *    delete+insert halves), and merge-on-read rows, which the
  *    append-only table stream ([[GraftMicroBatchStream]]) refuses by
  *    contract. Offsets are the same lineage-positioned snapshot ids,
  *    so checkpoints restart mid-history exactly.
  *
  * SCHEMA-SHAPING read options (batch and stream alike; the relation's
  * output schema is rewritten at analysis by
  * [[GraftChangelogReshapeRule]], since a DSv2 `Table.schema()` cannot
  * see options and Spark's micro-batch planner never calls
  * `pruneColumns`):
  *
  *  - `compute-updates = true` — serve
  *    [[IcebergTable.changesWithUpdates]] instead: within each commit,
  *    delete+insert halves sharing the row identity re-type to
  *    `update_before`/`update_after`, identical-content pairs (CoW
  *    carryovers) drop. Identity is v3 `_row_id` when the table assigns
  *    lineage (the output then adds `_row_id`), else the declared
  *    identifier fields. Pairing NEVER crosses commits, so micro-batch
  *    window splits (`maxSnapshotsPerTrigger`, checkpoint restarts)
  *    cannot break pairs — stream ≡ batch by construction.
  *  - `row-lineage = true` — add the v3 `_row_id` column to the plain
  *    change rows ([[IcebergTable.changesBetween]] with lineage): what a
  *    replica keys on instead of identifier fields. Needs a
  *    lineage-assigning table.
  *  - `columns = "a,b,_change_type"` — project INSIDE the window plan,
  *    before rows are shipped: the stream twin of batch column pruning
  *    (Spark 4.1's MicroBatchExecution never calls `pruneColumns`, so
  *    without this option the stream ships full change rows and projects
  *    above the scan). Declared column order is kept.
  *
  * Execution shape: each micro-batch materializes the window's change
  * plan on the driver and ships it through the shuffle-free RDD bridge
  * (the row-level scan's mechanism, [[GraftRddBridgeReaderFactory]]) —
  * narrow scans of the window's added/removed files plus broadcast
  * delete-application joins, IO ∝ change volume. A window whose delete
  * set outgrows the broadcast threshold plans a shuffle and is REFUSED
  * loudly (use the batch changelog for bulk backfill) rather than
  * executed wrongly. `compute-updates` windows are different: the
  * pairing itself plans joins, so the source EXECUTES the window at plan
  * time (driver-blocking, cost ∝ change volume — the same jobs the
  * batch API runs), pins the paired rows as a localCheckpoint, bridges
  * that, and releases the previous window's pin each batch.
  */
final class GraftChangelogTable(
    tableName: String,
    table: IcebergTable,
    /** Analysis-time schema override installed by
      * [[GraftChangelogReshapeRule]] when schema-shaping options are
      * present — `schema()` must agree with what the scan will emit. */
    shapeOverride: Option[StructType] = None,
    /** Fresh metadata fetch (per stream batch and per batch scan):
      * filesystem tables re-read metadata.json; REST-cataloged tables
      * have none on disk, so the catalog passes a store-backed reload. */
    reload: () => IcebergTable = null) extends Table with SupportsRead {

  private val freshTable: () => IcebergTable = Option(reload)
    .getOrElse(() => new IcebergTable(table.tableDir, table.conf))

  private val attributionFields = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false),
    StructField("_change_ordinal", IntegerType, nullable = false))

  /** The table's own columns — what the stream drift-validates against. */
  private val tableDataSchema = StructType(table.metadata.schema.fields)

  /** The default changelog schema: the table's columns + change
    * attribution (the exact column set/order `changesBetween` emits). */
  val changeSchema: StructType =
    StructType(tableDataSchema.fields ++ attributionFields)

  override def name(): String = tableName
  override def schema(): StructType = shapeOverride.getOrElse(changeSchema)

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  /** The schema the scan will emit under `options` — also the validator
    * for the schema-shaping options (unknown columns, lineage on a
    * non-lineage table, `_row_id` shadowing all refuse loudly HERE, at
    * analysis, not at the first micro-batch). */
  def shapedSchema(options: CaseInsensitiveStringMap): StructType = {
    val computeUpdates = ReadOptions.flag(options, "compute-updates")
    val v3 = IcebergWriter.wantsLineage(table.metadata)
    if (ReadOptions.flag(options, "row-lineage") && !v3)
      throw new UnsupportedOperationException(
        s"$tableName: the row-lineage read option needs v3 row lineage — " +
          "ALTER TABLE t SET TBLPROPERTIES ('format-version' = '3')")
    val withLineage = ReadOptions.flag(options, "row-lineage") || (computeUpdates && v3)
    if (withLineage &&
        tableDataSchema.fieldNames.contains(IcebergTable.RowIdCol))
      throw new UnsupportedOperationException(
        s"$tableName cannot serve row lineage: a data column shadows the " +
          s"reserved ${IcebergTable.RowIdCol} name")
    val lineageFields =
      if (withLineage)
        Seq(StructField(IcebergTable.RowIdCol, LongType, nullable = true))
      else Nil
    val full = StructType(
      tableDataSchema.fields ++ lineageFields ++ attributionFields)
    Option(options.get("columns")).map(_.trim).filter(_.nonEmpty) match {
      case None => full
      case Some(cs) =>
        // case-insensitive like every other Spark column reference; the
        // emitted schema keeps the DECLARED names and order
        val want = cs.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(w =>
          full.fieldNames.exists(_.equalsIgnoreCase(w)))
        require(unknown.isEmpty,
          s"$tableName: the columns read option names unknown columns " +
            s"${unknown.mkString(", ")} (available: " +
            s"${full.fieldNames.mkString(", ")})")
        StructType(full.fields.filter(f =>
          want.exists(_.equalsIgnoreCase(f.name))))
    }
  }

  /** True when `options` change the emitted schema — the reshape rule's
    * firing condition. */
  def needsReshape(options: CaseInsensitiveStringMap): Boolean =
    shapedSchema(options) != changeSchema

  def withShape(options: CaseInsensitiveStringMap): GraftChangelogTable =
    new GraftChangelogTable(tableName, table, Some(shapedSchema(options)),
      freshTable)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // admission control: at most N window SNAPSHOTS per micro-batch
    // (commit-granular — summaries carry no per-commit file counts to
    // weight by, and a commit is never split). Without it the first
    // batch is the whole pending history — on a long-lived table one
    // batch replaying everything.
    val maxSnapshots = ReadOptions.positiveInt(options, "maxSnapshotsPerTrigger")
    // row-weighted admission: at most ~N CHANGE ROWS per micro-batch,
    // still snapshot-granular (commits never split — pairing is
    // commit-scoped). Weighted from manifest-list added/deleted row
    // counts (metadata-scale, no data IO); an oversized single commit is
    // admitted ALONE — bounded stall, guaranteed progress — instead of
    // one bulk commit riding with the whole backlog.
    val maxRows = ReadOptions.positiveLong(options, "maxRowsPerTrigger")
    // start the stream AFTER this snapshot instead of from table start
    // (the checkpoint-less "resume from here" upstream streams offer)
    val startSnapshot = ReadOptions.long(options, "start-snapshot-id")
    val computeUpdates = ReadOptions.flag(options, "compute-updates")
    val emitted = shapedSchema(options) // validates the option combination
    val withLineage =
      !computeUpdates && emitted.fieldNames.contains(IcebergTable.RowIdCol)
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // column pruning, BATCH path only: a CDC consumer projecting
      // (key, _change_type) pushes the pruned schema through the window
      // plan's select into Catalyst's own scan-level pruning (the change
      // plan is narrow scans + broadcast joins, so the projection
      // reaches the parquet readers). Spark 4.1's MicroBatchExecution
      // builds the streaming scan WITHOUT the pushdown rule
      // (newScanBuilder(options).build().toMicroBatchStream —
      // pruneColumns is never called on that path), so the STREAM takes
      // the full option-shaped schema: the `columns` read option is the
      // stream's projection surface.
      private var pruned: StructType = emitted
      override def pruneColumns(requiredSchema: StructType): Unit =
        // keep the declared order; Spark may request columns reordered
        pruned = StructType(emitted.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)))
      override def build(): Scan = new V1Scan {
        private val scanSchema = pruned
        override def readSchema(): StructType = scanSchema
        /** Batch: the windowed changes through the V1 relation bridge
          * (plans like any DataFrame — shuffles allowed here). */
        override def toV1TableScan[T <: BaseRelation with TableScan](
            ctx: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = scanSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val t = freshTable()
              val head = t.metadata.snapshotLineage.lastOption.getOrElse(0L)
              val from = startSnapshot.getOrElse(0L)
              val df =
                if (computeUpdates) t.changesWithUpdates(ctx.sparkSession,
                  from, head)
                else t.changesBetween(ctx.sparkSession, from, head, withLineage)
              // df(name), not col(name): a column name containing dots
              // must resolve as the column, never nested-field access
              df.select(scanSchema.fieldNames.toSeq.map(df(_)): _*).rdd
            }
          }.asInstanceOf[T]
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftChangelogMicroBatchStream(table, tableDataSchema,
            scanSchema, computeUpdates, withLineage, maxSnapshots,
            startSnapshot, freshTable, maxRows)
      }
    }
  }
}

/** Micro-batch CDC source over the snapshot lineage: offsets carry
  * snapshot ids ordered by lineage POSITION (ids themselves carry no
  * order), identical to the append-only stream's offset model — the two
  * sources' checkpoints are interchangeable in meaning, only the row
  * semantics differ. Follows `main`. */
final class GraftChangelogMicroBatchStream(
    table: IcebergTable,
    /** the TABLE's data columns — drift-validated per batch: a schema
      * evolved mid-stream would change the emitted row shape under the
      * fixed scan schema */
    tableSchema: StructType,
    /** the stream's emitted schema: the option-shaped columns (Spark's
      * micro-batch planner applies no column pushdown — the `columns`
      * read option is the projection surface; see the ScanBuilder note) */
    scanSchema: StructType,
    /** `compute-updates`: pair update halves per window via
      * [[IcebergTable.changesWithUpdates]] — the window executes at PLAN
      * time (the pairing joins cannot ride the shuffle-free bridge) and
      * ships as a pinned localCheckpoint, released next batch. */
    computeUpdates: Boolean = false,
    /** serve the v3 `_row_id` column on the plain (non-pairing) path */
    withLineage: Boolean = false,
    /** `maxSnapshotsPerTrigger`: at most N window snapshots per batch
      * (commit-granular admission control; always ≥1 so progress is
      * guaranteed and a commit is never split across batches). */
    maxSnapshotsPerTrigger: Option[Int] = None,
    /** `start-snapshot-id`: stream changes AFTER this snapshot instead
      * of the whole table history. Must still be in the lineage when
      * the first batch plans — validated there, loudly. */
    startSnapshotId: Option[Long] = None,
    /** fresh metadata fetch (store-backed for REST tables) */
    reload: () => IcebergTable = null,
    /** `maxRowsPerTrigger`: row-weighted, snapshot-granular admission —
      * extend the window commit by commit while the cumulative change
      * volume stays within budget; a commit is NEVER split (pairing is
      * commit-scoped), so a single oversized commit is admitted alone. */
    maxRowsPerTrigger: Option[Long] = None) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private val freshTable: () => IcebergTable = Option(reload)
    .getOrElse(() => new IcebergTable(table.tableDir, table.conf))

  private def fresh(): IcebergTable = freshTable()

  private def head(t: IcebergTable): Long =
    t.metadata.currentSnapshotId.filter(_ != -1L)
      .getOrElse(GraftStreamOffset.BeforeAnySnapshot)

  /** AvailableNow pins the drain target at prepare time, so commits
    * landing mid-drain don't extend the run (same contract as the
    * append-only stream). */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(head(fresh()))

  /** ReadMaxFiles carries the SNAPSHOT cap (there is no
    * ReadMaxSnapshots), ReadMaxRows the row budget; both interpreted by
    * [[latestOffset]] below, composed when both options are set. */
  override def getDefaultReadLimit: ReadLimit =
    StreamReadLimits.default(maxSnapshotsPerTrigger, maxRowsPerTrigger)

  override def reportLatestOffset(): StreamingOffset =
    GraftStreamOffset(availableNowTarget.getOrElse(head(fresh())))

  override def latestOffset(start: StreamingOffset, limit: ReadLimit): StreamingOffset = {
    val t = fresh()
    val headId = availableNowTarget.getOrElse(head(t))
    // flatten the limit into (snapshot cap, row budget)
    val (maxSnaps, maxRows) = StreamReadLimits.flatten(limit)
    if (maxSnaps.isEmpty && maxRows.isEmpty) return GraftStreamOffset(headId)
    val s = start.asInstanceOf[GraftStreamOffset].snapshotId
    if (headId == s || headId == GraftStreamOffset.BeforeAnySnapshot)
      return GraftStreamOffset(headId)
    val lineage = t.metadata.snapshotLineage
    val sPos = lineagePos(lineage, s, "start")
    val hPos = lineagePos(lineage, headId, "end")
    if (hPos <= sPos) return GraftStreamOffset(headId) // rollback window
    // long arithmetic: sPos + Int.MaxValue must not wrap negative
    val cap = math.min(hPos.toLong,
      maxSnaps.map(m => sPos.toLong + m).getOrElse(hPos.toLong)).toInt
    val end = maxRows match {
      case None => cap
      case Some(budget) =>
        // snapshot-granular row weighting: extend while the cumulative
        // change volume fits; ALWAYS admit the first commit (progress —
        // an oversized commit drains alone, it is never split)
        var p = sPos
        var spent = 0L
        var stop = false
        while (p < cap && !stop) {
          val rows = changeVolumeOf(t, lineage, p)
          // saturating comparison: `spent + rows` overflows when a
          // commit's volume is UNKNOWN (Long.MaxValue) — and a wrapped
          // negative sum would admit the whole backlog, the exact stall
          // this option exists to prevent
          if (p == sPos || rows <= budget - spent) {
            spent = if (rows > Long.MaxValue - spent) Long.MaxValue
                    else spent + rows
            p += 1
          } else stop = true
        }
        p
    }
    GraftStreamOffset(lineage(end - 1))
  }

  /** Estimated change rows of the commit at lineage POSITION `p` (the
    * snapshot `lineage(p)`): the added+deleted row counts of the
    * manifests NEW in that snapshot vs its lineage parent — two
    * manifest-list reads, metadata-scale, no data IO. Counts a
    * non-conformant writer omitted read as UNKNOWN (Long.MaxValue):
    * that commit fills any budget and is admitted alone — conservative,
    * never starves. Cached per snapshot for the stream's lifetime
    * (manifest lists are immutable). */
  private val changeVolumeCache = scala.collection.mutable.Map[Long, Long]()

  private def changeVolumeOf(t: IcebergTable, lineage: Seq[Long], p: Int): Long =
    changeVolumeCache.getOrElseUpdate(lineage(p), {
      val byId = t.metadata.snapshots.map(x => x.snapshotId -> x).toMap
      def manifests(id: Long): Seq[graft.iceberg.ManifestFile] =
        byId.get(id).map(s =>
          graft.iceberg.ManifestIO.readManifestList(
            t.resolve(s.manifestList), t.conf)).getOrElse(Nil)
      val parentPaths: Set[String] =
        if (p == 0) Set.empty else manifests(lineage(p - 1)).map(_.path).toSet
      val fresh = manifests(lineage(p)).filterNot(m => parentPaths.contains(m.path))
      val counts = fresh.map(m =>
        for (a <- m.addedRowsCount; d <- m.deletedRowsCount.orElse(Some(0L)))
          yield a + d)
      if (counts.exists(_.isEmpty)) Long.MaxValue
      else counts.flatten.sum
    })

  private def lineagePos(lineage: Seq[Long], id: Long, which: String): Int =
    if (id == GraftStreamOffset.BeforeAnySnapshot) 0
    else lineage.lastIndexOf(id) match {
      case -1 => throw new IllegalStateException(
        s"changelog streaming $which offset: snapshot $id is no longer " +
          s"in the table's snapshot lineage — it was expired or the " +
          "history was rewritten; this checkpoint (or start-snapshot-id) " +
          "cannot be resumed safely. Restart from a fresh frontier.")
      case i => i + 1
    }

  override def initialOffset(): StreamingOffset =
    GraftStreamOffset(startSnapshotId
      .getOrElse(GraftStreamOffset.BeforeAnySnapshot))

  override def latestOffset(): StreamingOffset = GraftStreamOffset(head(fresh()))

  override def deserializeOffset(json: String): StreamingOffset =
    GraftStreamOffset(json.trim.toLong)

  /** Pins release at batch COMPLETION, not at plan time: Spark may call
    * `planInputPartitions` more than once for one batch (the V1-sink
    * path re-plans), and a plan-time release would free the window a
    * previously-created reader factory still references. */
  override def commit(end: StreamingOffset): Unit = releasePinned()

  override def stop(): Unit = releasePinned()

  /** The window's change plan, built per batch on the driver; the
    * reader factory ships it to executors via the RDD bridge. Batches
    * plan then execute sequentially, so one slot suffices. */
  @volatile private var currentRdd: org.apache.spark.rdd.RDD[InternalRow] = _

  /** compute-updates only: the PREVIOUS window's localCheckpoint blocks,
    * released when the next window plans (batches run sequentially — the
    * previous batch has fully drained by then) and at stop(). */
  @volatile private var pinned: Seq[org.apache.spark.sql.DataFrame] = Nil

  private def releasePinned(): Unit = {
    pinned.foreach(IcebergTable.unpinLocalCheckpoint)
    pinned = Nil
  }

  override def planInputPartitions(
      start: StreamingOffset, end: StreamingOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].snapshotId
    val e = end.asInstanceOf[GraftStreamOffset].snapshotId
    if (e == s || e == GraftStreamOffset.BeforeAnySnapshot)
      return Array.empty
    val spark = org.apache.spark.sql.SparkSession.active
    val t = fresh()
    // a schema evolved mid-stream would change the emitted row shape
    // under the fixed scan schema — refuse loudly, restart picks it up
    require(StructType(t.metadata.schema.fields) == tableSchema,
      s"changelog stream over ${table.tableDir}: the table schema " +
        "evolved mid-stream — restart the stream to adopt the new schema")
    val from = if (s == GraftStreamOffset.BeforeAnySnapshot) 0L else s
    if (computeUpdates) {
      // the pairing joins cannot ride the shuffle-free bridge: EXECUTE
      // the window now (driver-blocking, the same jobs the batch API
      // runs, cost ∝ change volume), pin the paired rows, bridge the pin
      val (df0, dropIntermediates) = t.changesWithUpdatesImpl(spark, from, e)
      val projected = df0.select(scanSchema.fieldNames.toSeq.map(df0(_)): _*)
      val mat = projected.localCheckpoint(true)
      dropIntermediates() // the pairing's internal pins — result is pinned
      pinned = pinned :+ mat // released at commit(end) / stop()
      currentRdd = mat.queryExecution.toRdd
    } else {
      val df0 = t.changesBetween(spark, from, e, withLineage)
      val df = df0.select(scanSchema.fieldNames.toSeq.map(df0(_)): _*)
      val rdd = df.queryExecution.toRdd
      GraftRddBridge.assertNoShuffle(rdd,
        s"changelog stream window [$from, $e] planned a SHUFFLE " +
          "(a delete set beyond the broadcast threshold): the " +
          "micro-batch bridge cannot execute it — drain the backlog " +
          "with the batch changelog (changesBetween / SELECT FROM " +
          "t.changes) and restart the stream past it")
      currentRdd = rdd
    }
    currentRdd.partitions
      .map(p => GraftRddBridgePartition(p): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val rdd = currentRdd
    // an EMPTY window plans no partitions yet Spark still asks for a
    // factory (a fresh checkpoint at the current head does this): with
    // zero partitions the factory is never invoked — any non-null one
    // satisfies the contract
    if (rdd == null) return new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
        throw new IllegalStateException(
          "changelog stream: reader requested for an empty window")
    }
    new GraftRddBridgeReaderFactory(rdd)
  }
}

/** Analysis rule: a DSv2 `Table.schema()` cannot depend on read options,
  * and Spark fixes a streaming relation's output at analysis — so the
  * changelog's schema-SHAPING options (`compute-updates`, `row-lineage`,
  * `columns`) rewrite the relation here: the table is swapped for a
  * shape-pinned copy and the output attributes re-derived, before any
  * downstream column resolves. Fires only when the options actually
  * change the schema, and converges (the rewritten relation's output
  * already matches). */
object GraftChangelogReshapeRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
  import org.apache.spark.sql.catalyst.types.DataTypeUtils
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def sameShape(out: Seq[Attribute], s: StructType): Boolean =
    out.map(a => (a.name, a.dataType)) ==
      s.fields.map(f => (f.name, f.dataType)).toSeq

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case r @ StreamingRelationV2(_, _, t: GraftChangelogTable, opts, output,
        _, _, _) if t.needsReshape(opts) &&
          !sameShape(output, t.shapedSchema(opts)) =>
      val shaped = t.withShape(opts)
      r.copy(table = shaped,
        output = DataTypeUtils.toAttributes(shaped.schema()))
    case r: DataSourceV2Relation
        if r.table.isInstanceOf[GraftChangelogTable] && {
          val t = r.table.asInstanceOf[GraftChangelogTable]
          t.needsReshape(r.options) &&
            !sameShape(r.output, t.shapedSchema(r.options))
        } =>
      val shaped = r.table.asInstanceOf[GraftChangelogTable].withShape(r.options)
      r.copy(table = shaped,
        output = DataTypeUtils.toAttributes(shaped.schema()))
  }
}
