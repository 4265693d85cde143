package graft.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal Iceberg append writer: commits a DataFrame as a new snapshot
  * (parquet data files → manifest → manifest list → next metadata.json).
  *
  * The reference has NO write path (SURVEY §2.C — its fixtures were
  * committed by Spark upstream), so this is an extension, not parity: it
  * makes the engine usable end-to-end (CREATE TABLE → append → scan /
  * time travel) and feeds the q54/q55 oracle gates. Append and
  * truncate-overwrite snapshots; partitioned tables (identity and all
  * read-side transforms) cluster files by partition value and record
  * exact partition tuples + manifest summaries; per-file column min/max
  * bounds and null counts are lifted from the parquet footers the commit
  * opens anyway — so everything this writer produces prunes at both the
  * manifest and the file level.
  *
  * The data files themselves are written by executor tasks from the
  * table's one write setup ([[FanoutWriterFactory.forTable]]) — the
  * commit protocol here is only the metadata bookkeeping, all through
  * Hadoop FileSystem so any object store works.
  */
object IcebergWriter {

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_rows_count","type":["null","long"],"default":null},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |  {"type":"record","name":"field_summary","fields":[
      |    {"name":"contains_null","type":"boolean"},
      |    {"name":"contains_nan","type":["null","boolean"],"default":null},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null}]}}],
      | "default":null}
      |]}""".stripMargin)

  private val fieldSummarySchema =
    manifestListSchema.getField("partitions").schema.getTypes.get(1).getElementType

  /** The int→long and int→bytes k/v list shapes the Iceberg spec uses for
    * per-file column statistics (value/null counts, bounds). */
  private def kvFields(suffix: String): String =
    s"""{"name":"value_counts","type":["null",{"type":"array","items":
       |  {"type":"record","name":"k117_v118$suffix","fields":[
       |    {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
       | "default":null},
       |{"name":"null_value_counts","type":["null",{"type":"array","items":
       |  {"type":"record","name":"k119_v120$suffix","fields":[
       |    {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
       | "default":null},
       |{"name":"lower_bounds","type":["null",{"type":"array","items":
       |  {"type":"record","name":"k126_v127$suffix","fields":[
       |    {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
       | "default":null},
       |{"name":"upper_bounds","type":["null",{"type":"array","items":
       |  {"type":"record","name":"k129_v130$suffix","fields":[
       |    {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
       | "default":null}""".stripMargin

  private val manifestSchema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"sort_order_id","type":["null","int"],"default":null},
      |  {"name":"first_row_id","type":["null","long"],"default":null},
      |  ${kvFields("")}]}}]}""".stripMargin)

  /** Avro type of a transformed partition value, per its Spark result
    * type (read back through `jvm()` these yield exactly the Int/Long/
    * String shapes [[Pruning]] compares). */
  private def avroPartType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => "\"int\""
      case DateType => "{\"type\":\"int\",\"logicalType\":\"date\"}"
      case LongType => "\"long\""
      case TimestampType | TimestampNTZType =>
        "{\"type\":\"long\",\"logicalType\":\"timestamp-micros\"}"
      case StringType => "\"string\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case BooleanType => "\"boolean\""
      case other => throw new IllegalArgumentException(
        s"unsupported partition value type ${other.simpleString}")
    }
  }

  /** Manifest-entry schema: the static shape plus, for partitioned
    * tables, the spec's `partition` record (field names = partition-spec
    * field names, the key the read side's tuple lookup uses). */
  private def manifestSchemaFor(
      spec: Seq[PartitionField],
      resultTypes: Seq[org.apache.spark.sql.types.DataType]): Schema = {
    if (spec.isEmpty) return manifestSchema
    val partFields = spec.zipWithIndex.map { case (p, i) =>
      s"""{"name":"${p.name}","type":["null",${avroPartType(resultTypes(i))}],"default":null}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |  {"name":"file_path","type":"string"},
         |  {"name":"file_format","type":"string"},
         |  {"name":"record_count","type":"long"},
         |  {"name":"file_size_in_bytes","type":"long"},
         |  {"name":"partition","type":["null",
         |    {"type":"record","name":"r102","fields":[$partFields]}],
         |   "default":null},
         |  {"name":"sort_order_id","type":["null","int"],"default":null},
         |  {"name":"first_row_id","type":["null","long"],"default":null},
         |  ${kvFields("p")}]}}]}""".stripMargin)
  }

  /** Per-file column statistics lifted from the parquet FOOTER the commit
    * already opens for its record count — min/max bounds, null counts,
    * value counts, keyed by Iceberg field id. This is what makes
    * file-level pruning work on tables THIS library writes: without
    * bounds every predicate keeps every file (sound but a full scan), and
    * copy-on-write UPDATE/DELETE would rewrite every file instead of the
    * matched ones.
    *
    * Soundness rules: a bound is recorded only when EVERY row group has a
    * usable statistics object for the column (an all-null group
    * contributes no bound but stays usable); float/double bounds are
    * deliberately SKIPPED — parquet writers do not track NaN, and Spark
    * orders NaN above every double, so footer max < NaN rows would prune
    * wrongly. Unsupported types record counts only.
    */
  private[graft] final case class FileColStats(
      valueCounts: Map[Int, Long],
      nullCounts: Map[Int, Long],
      lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]])

  private[graft] def footerStats(
      p: Path, conf: org.apache.hadoop.conf.Configuration,
      schema: org.apache.spark.sql.types.StructType,
      idByName: Map[String, Int]): (Long, FileColStats) = {
    import org.apache.spark.sql.types._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val byCol: Map[String, Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]] =
        blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
      val vc = Map.newBuilder[Int, Long]
      val nc = Map.newBuilder[Int, Long]
      val lo = Map.newBuilder[Int, Array[Byte]]
      val hi = Map.newBuilder[Int, Array[Byte]]
      schema.fields.foreach { f =>
        val fid = idByName.get(f.name)
        val chunks = byCol.get(f.name)
        (fid, chunks) match {
          case (Some(id), Some(cs)) if cs.size == blocks.size =>
            vc += id -> rowCount
            val stats = cs.map(_.getStatistics)
            if (stats.forall(s => s != null && s.isNumNullsSet))
              nc += id -> stats.map(_.getNumNulls).sum
            val boundsOk = f.dataType match {
              case FloatType | DoubleType => false // NaN-unsound in footers
              // geo columns: parquet's byte-order binary bounds are NOT
              // the spec's bounding-box POINT bounds — the fanout writer
              // supplies the real ones from its WKB coordinate scan
              case BinaryType
                if f.metadata.contains(TableMetadata.GeoTypeKey) => false
              case IntegerType | DateType | LongType | StringType |
                   BooleanType | BinaryType => true
              case TimestampType | TimestampNTZType =>
                // micros-int64 only: INT96 / millis footers don't decode
                // to the micros shape the pruner compares
                cs.forall { c =>
                  c.getPrimitiveType.getLogicalTypeAnnotation match {
                    case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                      t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
                    case _ => false
                  }
                }
              case _ => false
            }
            def jvmOf(v: AnyRef): Any = v match {
              case b: org.apache.parquet.io.api.Binary if f.dataType == BinaryType =>
                b.getBytes
              case b: org.apache.parquet.io.api.Binary =>
                new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
              case other => other
            }
            if (boundsOk && stats.forall(s => s != null && !s.isEmpty)) {
              val nonEmpty = stats.filter(_.hasNonNullValue)
              val mins = nonEmpty.map(s =>
                Pruning.normalize(jvmOf(s.genericGetMin.asInstanceOf[AnyRef])))
              val maxs = nonEmpty.map(s =>
                Pruning.normalize(jvmOf(s.genericGetMax.asInstanceOf[AnyRef])))
              def pick(vals: Seq[Any], keepLeft: Int => Boolean): Option[Any] =
                vals.reduceOption((a, b) =>
                  if (Pruning.compare(a, b).exists(keepLeft)) a else b)
              // Binary bounds follow the Iceberg truncation rule so a
              // megabyte payload column costs ≤ 16 bytes per bound in
              // every manifest entry: lower = 16-byte prefix (≤ the true
              // min in unsigned lex order); upper = 16-byte prefix with
              // its last non-0xFF byte incremented and the tail dropped
              // (> every value sharing the prefix) — an all-0xFF prefix
              // has no sound truncated upper, so none is recorded.
              def truncLo(v: Any): Any = v match {
                case b: Array[Byte] if b.length > 16 => b.take(16)
                case o => o
              }
              def truncHi(v: Any): Option[Any] = v match {
                case b: Array[Byte] if b.length > 16 =>
                  val p = b.take(16)
                  val i = p.lastIndexWhere(_ != -1)
                  if (i < 0) None
                  else Some(p.take(i) :+ ((p(i) & 0xff) + 1).toByte)
                case o => Some(o)
              }
              for {
                mn <- pick(mins, _ <= 0)
                bs <- SingleValue.encode(truncLo(mn), f.dataType)
              } lo += id -> bs
              for {
                mx <- pick(maxs, _ >= 0); tr <- truncHi(mx)
                bs <- SingleValue.encode(tr, f.dataType)
              } hi += id -> bs
            }
          case _ => ()
        }
      }
      (rowCount, FileColStats(vc.result(), nc.result(), lo.result(), hi.result()))
    } finally r.close()
  }

  /** ORC twin of [[footerStats]]: one driver-side footer read of a
    * foreign ORC data file (orc-core ships with Spark), lifting row
    * count, null counts, and min/max bounds into the same manifest stats
    * the parquet path records — so imported ORC files prune exactly like
    * native parquet. The same doubt-keeps discipline applies: a column
    * whose ORC statistics type we don't decode simply records no bounds
    * (never pruned, sound). Floats/doubles are skipped for the same
    * NaN-unsoundness reason as the parquet path; ORC timestamp stats
    * carry timezone baggage the pruner's micros shape doesn't, so they
    * are skipped too.
    */
  private[graft] def orcFooterStats(
      p: Path, conf: org.apache.hadoop.conf.Configuration,
      schema: org.apache.spark.sql.types.StructType,
      idByName: Map[String, Int]): (Long, FileColStats) = {
    import org.apache.spark.sql.types._
    import org.apache.orc.{OrcFile, ColumnStatistics}
    val r = OrcFile.createReader(p, OrcFile.readerOptions(conf))
    try {
      val rowCount = r.getNumberOfRows
      val orcSchema = r.getSchema
      require(orcSchema.getCategory == org.apache.orc.TypeDescription.Category.STRUCT,
        s"orcFooterStats: $p root type is ${orcSchema.getCategory}, not a struct")
      val names = scala.jdk.CollectionConverters.ListHasAsScala(
        orcSchema.getFieldNames).asScala.toSeq
      val children = scala.jdk.CollectionConverters.ListHasAsScala(
        orcSchema.getChildren).asScala.toSeq
      val allStats = r.getStatistics // indexed by column id in the type tree
      val statByName: Map[String, ColumnStatistics] =
        names.zip(children).map { case (n, t) => n -> allStats(t.getId) }.toMap
      val vc = Map.newBuilder[Int, Long]
      val nc = Map.newBuilder[Int, Long]
      val lo = Map.newBuilder[Int, Array[Byte]]
      val hi = Map.newBuilder[Int, Array[Byte]]
      schema.fields.foreach { f =>
        (idByName.get(f.name), statByName.get(f.name)) match {
          case (Some(id), Some(st)) =>
            vc += id -> rowCount
            nc += id -> (rowCount - st.getNumberOfValues)
            val bounds: Option[(Any, Any)] = (st, f.dataType) match {
              case (s: org.apache.orc.IntegerColumnStatistics, IntegerType)
                  if s.getNumberOfValues > 0 &&
                    s.getMinimum >= Int.MinValue && s.getMinimum <= Int.MaxValue &&
                    s.getMaximum >= Int.MinValue && s.getMaximum <= Int.MaxValue =>
                // a foreign ORC file's physical column may be long; .toInt
                // on out-of-range values wraps and the corrupted bounds
                // would UNSOUNDLY prune files containing matches — skip
                // instead (unprunable is sound), the doubt-keeps
                // discipline the float/timestamp cases already follow
                Some((s.getMinimum.toInt, s.getMaximum.toInt))
              case (s: org.apache.orc.IntegerColumnStatistics, LongType)
                  if s.getNumberOfValues > 0 =>
                Some((s.getMinimum, s.getMaximum))
              case (s: org.apache.orc.StringColumnStatistics, StringType)
                  if s.getNumberOfValues > 0 && s.getMinimum != null &&
                    s.getMaximum != null =>
                Some((s.getMinimum, s.getMaximum))
              case (s: org.apache.orc.DateColumnStatistics, DateType)
                  if s.getNumberOfValues > 0 =>
                Some((s.getMinimumDayOfEpoch.toInt, s.getMaximumDayOfEpoch.toInt))
              case (s: org.apache.orc.BooleanColumnStatistics, BooleanType)
                  if s.getNumberOfValues > 0 =>
                Some((s.getFalseCount == 0, s.getTrueCount > 0))
              case _ => None
            }
            bounds.foreach { case (mn, mx) =>
              SingleValue.encode(mn, f.dataType).foreach(lo += id -> _)
              SingleValue.encode(mx, f.dataType).foreach(hi += id -> _)
            }
          case _ => ()
        }
      }
      (rowCount, FileColStats(vc.result(), nc.result(), lo.result(), hi.result()))
    } finally r.close()
  }

  /** Attach k/v stats lists to a manifest `data_file` record. */
  private def putStats(d: GenericData.Record, dfSchema: Schema,
                       st: FileColStats): Unit = {
    def kvList(field: String, m: Map[Int, _], toAvro: Any => AnyRef): Unit =
      if (m.nonEmpty) {
        val itemSchema = dfSchema.getField(field).schema.getTypes.get(1).getElementType
        val arr = new java.util.ArrayList[GenericRecord](m.size)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val kv = new GenericData.Record(itemSchema)
          kv.put("key", k)
          kv.put("value", toAvro(v))
          arr.add(kv)
        }
        d.put(field, arr)
      }
    kvList("value_counts", st.valueCounts, v => java.lang.Long.valueOf(v.asInstanceOf[Long]))
    kvList("null_value_counts", st.nullCounts, v => java.lang.Long.valueOf(v.asInstanceOf[Long]))
    kvList("lower_bounds", st.lower, v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]]))
    kvList("upper_bounds", st.upper, v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]]))
  }

  private def isNanValue(v: Any): Boolean = v match {
    case f: Float => f.isNaN
    case d: Double => d.isNaN
    case _ => false
  }

  /** Writer-unique file-name component. Racing committers derive the same
    * `snapId = max+1` from the same base metadata, so every file a commit
    * writes BEFORE its metadata CAS must carry a name no other writer can
    * produce — otherwise the commit LOSER overwrites the winner's
    * already-referenced manifest list/manifests/data files and corrupts
    * the winning snapshot even though its own metadata commit fails
    * (upstream Iceberg names `snap-<id>-<attempt>-<uuid>.avro` for the
    * same reason). The loser's uniquely-named files become orphans,
    * cleaned by [[removeOrphanFiles]]. */
  private def uniq(): String = java.util.UUID.randomUUID.toString.take(8)

  /** Table-level totals a snapshot summary must carry per the spec —
    * (total-records, total-files-size, total-data-files) — read by
    * external tools (`SHOW TBLPROPERTIES`, dashboards, planners) without
    * opening a single manifest. Maintained INCREMENTALLY: parent totals
    * plus this commit's known delta, because recomputing them would read
    * every manifest on every commit — the O(table) cost this writer's
    * metadata-only commit protocol exists to avoid. A parent written by a
    * tool that omitted totals yields None and the commit omits them too
    * (absent is spec-legal; wrong is not). */
  private type Totals = (Long, Long, Long)

  private def parsedTotals(s: IcebergSnapshot): Option[Totals] =
    for {
      r <- s.summary.get("total-records").flatMap(_.toLongOption)
      b <- s.summary.get("total-files-size").flatMap(_.toLongOption)
      f <- s.summary.get("total-data-files").flatMap(_.toLongOption)
    } yield (r, b, f)

  private def totalsSummary(t: Option[Totals]): Map[String, String] =
    t.map { case (r, b, f) =>
      Map("total-records" -> r.toString,
        "total-files-size" -> b.toString,
        "total-data-files" -> f.toString)
    }.getOrElse(Map.empty)

  private val NoTotals: Totals = (0L, 0L, 0L)

  private def addedTotals(added: Seq[AddedDataFile]): Totals =
    (added.map(_.rows).sum, added.map(_.bytes).sum, added.size.toLong)

  private def fileTotals(files: Seq[DataFileEntry]): Totals =
    (files.map(_.recordCount).sum, files.map(_.fileSizeInBytes).sum, files.size.toLong)

  /** A commit's totals rule maps the base's totals (zeros when there is
    * no base snapshot; None when the base omits them) to the new
    * snapshot's. */
  private type TotalsRule = Option[Totals] => Option[Totals]

  /** The base's totals minus `removed` plus `added`. */
  private def adjust(removed: Totals = NoTotals,
                     added: Totals = NoTotals): TotalsRule =
    _.map { case (r, b, f) =>
      (r - removed._1 + added._1, b - removed._2 + added._2,
        f - removed._3 + added._3)
    }

  /** The new snapshot's files are the whole table. */
  private def reset(to: Totals): TotalsRule = _ => Some(to)

  private def writeAvro(fsPath: Path, conf: org.apache.hadoop.conf.Configuration,
                        schema: Schema, records: Seq[GenericRecord]): Long = {
    val fs = fsPath.getFileSystem(conf)
    val out = fs.create(fsPath, true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    try {
      w.create(schema, out)
      records.foreach(w.append)
    } finally w.close()
    fs.getFileStatus(fsPath).getLen
  }

  /** The Hadoop conf a write runs under: the committer's when one is
    * supplied — REST committers carry the catalog's vended per-table
    * storage credentials, so the write DATA PLANE (parquet data files,
    * manifests, stats files) uses the same credentials the scan read
    * with — else a fresh session conf (the filesystem-warehouse
    * behavior, unchanged: FS committers derive from the session conf). */
  private def writeConf(spark: SparkSession,
      committer: Option[TableCommitter]): org.apache.hadoop.conf.Configuration =
    committer.map(_.conf).getOrElse(spark.sessionState.newHadoopConf())

  /** Catalog-vended per-table overrides for maintenance/rewrite READS:
    * Spark's file sources build their Hadoop conf from the SESSION, so
    * a compaction/CoW scan over a vended table must thread these as
    * per-relation options exactly like plain scans do. */
  private def vendedOf(committer: Option[TableCommitter]): Map[String, String] =
    committer.map(_.vended).getOrElse(Map.empty)

  /** Seed an EMPTY Iceberg table document at `dir` (v1.metadata.json, no
    * snapshot) — the pathless-catalog twin of CREATE TABLE, for tables
    * addressed by location (vector indexes, streaming sinks, bench
    * scratch). Goes through the path's Hadoop FileSystem, so any object
    * store works (a java.nio write would silently only work for `file:`).
    *
    * REFUSES a dir that already holds table metadata: reads resolve the
    * HIGHEST vN.metadata.json, so overwriting v1 under a surviving v2+
    * would leave the stale version live and a later commit would silently
    * merge old and new contents. Rebuild = drop (delete the dir) first. */
  def seedTable(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[(String, String)] = Nil,
      properties: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(s"$dir/metadata")
    val fs = metaDir.getFileSystem(conf)
    require(!fs.exists(metaDir),
      s"$dir already holds Iceberg table metadata — the highest existing " +
        "vN.metadata.json would stay live and later commits would merge " +
        "stale contents; delete the table dir first to rebuild")
    val metaJson = graft.iceberg.connector.IcebergJson.tableMetadata(
      new ObjectMapper(), dir, schema, partitionCols, properties)
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), false)
    try out.write(metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    TableMetadata.writeVersionHint(dir, 1L, conf)
  }

  /** Commit `df` as a new append snapshot on the table at `tableDir`;
    * returns the new snapshot id (1, 2, 3, … — deterministic).
    * `summary` entries land in the snapshot's `summary` node (alongside
    * the spec's `operation` key) — the idempotence hook the streaming
    * sink stores its batch id under. */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
             summary: Map[String, String] = Map.empty,
             committer: Option[TableCommitter] = None,
             branch: String = "main"): Long =
    commit(spark, tableDir, df, carryPrior = true, summary, committer, branch)

  /** Commit `df` as a truncate-and-write snapshot: the new manifest list
    * records ONLY this commit's manifest, so the current snapshot reads
    * just the new rows. Prior snapshots (and their data files) stay on
    * disk untouched — time travel to them still works; nothing is
    * vacuumed. */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
                summary: Map[String, String] = Map.empty,
                committer: Option[TableCommitter] = None,
                branch: String = "main"): Long =
    commit(spark, tableDir, df, carryPrior = false, summary, committer, branch)

  /** Loose-typed partition-value equality: manifest Avro readback and
    * fresh Catalyst evaluation can disagree on numeric width (Integer vs
    * Long) for the same partition value, so compare numerics by value. */
  private def partValEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Number, y: Number) =>
      new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)) == 0
    case (x, y) => x == y
  }

  /** Commit an INSERT OVERWRITE that replaces WHOLE files selected by
    * `removedPred` with `added` — the shared tail of the static
    * (partition-filter) and dynamic partition-overwrite modes. Removal
    * here is always file-granular along partition boundaries, so delete
    * manifests pass through: entries for removed files dangle harmlessly
    * (paths are writer-unique), entries for kept files still apply, and
    * the new files ESCAPE old deletes via their higher sequence number —
    * which is the wanted semantics (overwrite data is new truth). */
  private def commitPartitionOverwrite(
      spark: SparkSession, tableDir: String, added: Seq[AddedDataFile],
      removedPred: DataFileEntry => Boolean,
      committer: Option[TableCommitter], branch: String): Long = {
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val candidates = if (b.baseSnap.isEmpty) Nil else b.table.planFiles()
    val evolved = candidates.filter(_.specId != b.meta.defaultSpecId)
    require(evolved.isEmpty,
      s"partition overwrite on a table with ${evolved.size} live files " +
        "under an older partition spec: their tuples are not comparable " +
        "with the current spec's — compact/rewrite the table first")
    val removedFiles = candidates.filter(removedPred)
    val removed = withoutFiles(removedFiles.map(_.filePath).toSet)
    produce(b, SnapshotUpdate("overwrite", b.newManifest(added).toSeq,
      carry = m => if (m.content == 1) Keep else removed,
      totals = adjust(fileTotals(removedFiles), addedTotals(added))))
  }

  /** SQL `INSERT OVERWRITE t PARTITION (p = v, …)` (static mode), and the
    * `df.writeTo(t).overwrite(cond)` API: replace exactly the files whose
    * partition values satisfy `filters`, append `df`, ONE snapshot. Every
    * filter must pin an IDENTITY partition column — identity is what
    * makes "partition value matches" equal "every row in the file
    * matches", so the removal is exact without reading a data file. A
    * filter on anything else refuses loudly (use dynamic mode, or
    * DELETE + INSERT) instead of silently truncating or rewriting.
    *
    * At 100 TB this is the partition re-materialization write: replacing
    * one day of a date-partitioned table costs the new files plus
    * manifest IO — no scan, no shuffle of the other 10,000 days. */
  def overwriteWhere(spark: SparkSession, tableDir: String, df: DataFrame,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     committer: Option[TableCommitter] = None,
                     branch: String = "main"): Long = {
    import org.apache.spark.sql.sources._
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val meta = b.meta
    val identityFields: Map[String, String] = {
      val idToName = meta.fieldIds.map(_.swap)
      meta.partitionSpec.filter(_.transform == "identity")
        .flatMap(p => idToName.get(p.sourceId).map(_ -> p.name)).toMap
    }
    def partField(col: String): String = identityFields.getOrElse(col,
      throw new UnsupportedOperationException(
        s"INSERT OVERWRITE filter on '$col', which is not an identity " +
          s"partition column of ${meta.location} (have: " +
          s"${identityFields.keys.mkString(", ")}) — whole-file removal " +
          "would be inexact; use dynamic partition-overwrite mode or " +
          "DELETE + INSERT"))
    def eval(f: Filter, part: Map[String, Any]): Boolean = f match {
      case And(l, r) => eval(l, part) && eval(r, part)
      case EqualTo(c, v) => partValEq(part.getOrElse(partField(c), null), v)
      case EqualNullSafe(c, v) => partValEq(part.getOrElse(partField(c), null), v)
      case In(c, vs) =>
        val p = part.getOrElse(partField(c), null)
        vs.exists(v => partValEq(p, v))
      case IsNull(c) => part.getOrElse(partField(c), null) == null
      case other => throw new UnsupportedOperationException(
        s"INSERT OVERWRITE supports partition-pinning filters " +
          s"(=, IN, IS NULL, AND), got $other")
    }
    val added = writeDataFiles(
      df.select(meta.schema.fieldNames.map(col).toSeq: _*),
      s"$tableDir/data/ow-${b.u}", meta, b.conf)
    commitPartitionOverwrite(spark, tableDir, added,
      f => filters.forall(eval(_, f.partition)), committer, branch)
  }

  /** Commit half of DYNAMIC partition overwrite (`INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode = dynamic`): replace
    * exactly the partitions the written files landed in. `added` comes
    * from the DSv2 batch write's executor-written files, each stamped
    * with its partition tuple under the default spec; the DISTINCT
    * touched tuples (one per partition, not per row) select the prior
    * files to drop. An unpartitioned table degenerates to replace-all —
    * Spark's own semantics for dynamic overwrite without partitions.
    * Empty input replaces nothing and commits nothing (returns -1). */
  private[graft] def overwriteDynamicCommit(
      spark: SparkSession, tableDir: String, added: Seq[AddedDataFile],
      committer: Option[TableCommitter] = None,
      branch: String = "main"): Long = {
    if (added.isEmpty) return -1L
    val touched: Set[Seq[Any]] = added.flatMap(_.partition).toSet
    val specNames = begin(writeConf(spark, committer), tableDir, committer,
      branch).meta.partitionSpec.map(_.name)
    val pred: DataFileEntry => Boolean =
      if (specNames.isEmpty) _ => true
      else f => {
        val tuple = specNames.map(n => f.partition.getOrElse(n, null))
        touched.exists(t => t.size == tuple.size &&
          t.lazyZip(tuple).forall(partValEq))
      }
    commitPartitionOverwrite(spark, tableDir, added, pred, committer, branch)
  }

  /** Compact the current snapshot: rewrite its live rows into
    * ~`targetFileBytes` files and commit as a truncate snapshot. The
    * 100 TB maintenance op — streaming sinks and frequent small appends
    * accumulate files whose per-file overhead (footer reads, task
    * scheduling, manifest entries) eventually dominates scan cost.
    * Reading through [[IcebergTable.toDF]] also MATERIALIZES merge-on-
    * read deletes: the compacted snapshot carries no delete files, so
    * readers stop paying the anti-join. Prior snapshots are untouched
    * (time travel still sees the pre-compaction history). Returns the
    * new snapshot id.
    */
  def compact(spark: SparkSession, tableDir: String,
              targetFileBytes: Long = 128L << 20,
              committer: Option[TableCommitter] = None,
              /** Linear clustering: range-partition + sort by these
                * columns, so file bounds stay tight on the LEADING
                * column(s) — the classic sort-order rewrite. */
              sortCols: Seq[String] = Nil,
              /** Multi-dimensional clustering ([[ZOrder]]): tight file
                * bounds on EVERY listed column at once. Mutually
                * exclusive with `sortCols`. */
              zorderCols: Seq[String] = Nil): Long = {
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "choose sort OR zorder clustering, not both")
    val t = committer match {
      case Some(c) => IcebergTable.fromMetadata(tableDir, c.conf, c.currentMetadata(), c.vended)
      case None => IcebergTable(spark, tableDir)
    }
    val totalBytes = t.planFiles().map(_.fileSizeInBytes).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // v3 row lineage: the rewrite MATERIALIZES each surviving row's
    // _row_id into the new files (spec rewrite rule) — positions change,
    // so the inherited first_row_id + pos identity would not survive;
    // the physical column does, and the read coalesce prefers it.
    val lineage = wantsLineage(t.metadata)
    val df0 = t.toDF(spark, keepLineage = lineage)
    val df = clusterRewrite(df0, n, sortCols, zorderCols, lineage)
    // spec operation `replace`: same rows, different files — readers that
    // interpret operations (the changelog above all) must see compaction
    // as data movement, not as an overwrite's delete+insert churn
    commit(spark, tableDir, df, carryPrior = false,
      Map("operation" -> "replace"), committer)
  }

  /** A rewrite's rows clustered into `n` files (z-order, range-sorted, or
    * plain), with the lineage columns stamped when the table keeps them. */
  private def clusterRewrite(df: DataFrame, n: Int, sortCols: Seq[String],
      zorderCols: Seq[String], lineage: Boolean): DataFrame = {
    val clustered =
      if (zorderCols.nonEmpty) ZOrder.cluster(df, zorderCols, n)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(n)
    if (lineage) stampLineageField(clustered) else clustered
  }

  /** True when commits to this table assign v3 row lineage (declared or
    * already-upgraded format-version 3). */
  private[graft] def wantsLineage(meta: TableMetadata): Boolean =
    meta.formatVersion >= 3 ||
      meta.properties.get("format-version").contains("3")

  /** Stamp the reserved field id onto a df's `_row_id` column so the
    * fanout parquet writer materializes it as the spec's lineage column
    * (readable by field id or name). */
  private def stampLineageField(df: DataFrame): DataFrame = {
    val lineage = IcebergTable.lineageFields().map(f => f.name -> f).toMap
    df.select(df.schema.fieldNames.toSeq.map(n =>
      lineage.get(n).fold(col(n))(f => col(n).as(n, f.metadata))): _*)
  }

  /** Register EXISTING parquet or ORC files as a new append snapshot
    * WITHOUT rewriting or moving them — the migration primitive (what
    * Iceberg's `add_files` procedure does): point the table at data that
    * some other system wrote. ORC files are read-path citizens only:
    * scans (with full stats pruning) work, but merge-on-read deletes
    * over them refuse — `rewrite_data_files` materializes them to
    * parquet first. Imported files typically carry no `parquet.field.id`
    * metadata, so pair this with a `schema.name-mapping.default` table
    * property or later renames will null their columns on read
    * ([[IcebergTable]] applies the mapping automatically). Per-file row
    * counts and column stats come from one driver-side footer read each
    * (stats are name-matched against the CURRENT schema; columns the
    * match misses just go unpruned — sound). No partition tuples are
    * recorded: imported files stay under partition pruning via the
    * doubt-keeps rule. Returns the new snapshot id.
    */
  def addFiles(spark: SparkSession, tableDir: String, paths: Seq[String],
               committer: Option[TableCommitter] = None,
               branch: String = "main"): Long = {
    require(paths.nonEmpty, "addFiles: no files given")
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val (conf, meta) = (b.conf, b.meta)
    val added: Seq[AddedDataFile] = paths.map { p =>
      val path = new Path(p)
      val len = path.getFileSystem(conf).getFileStatus(path).getLen
      // Probe parquet first (our native format), then ORC, then Avro:
      // one driver footer read for the columnar formats; Avro has no
      // footer stats, so its probe is one decode pass for the exact row
      // count and NO bounds (never pruned — sound). The true
      // file_format is recorded so the scan dispatches per group.
      // Probe failures are captured per format: a transient FS error on
      // a valid parquet file otherwise cascades through all three probes
      // and masquerades as a permanent "not a readable file" — the final
      // error must show the real causes so a retryable failure looks
      // retryable.
      val probeErrors = Seq.newBuilder[(String, Throwable)]
      val probed: Option[(Long, Option[FileColStats], String)] =
        (try { val (r, s) = footerStats(path, conf, meta.schema, meta.fieldIds)
               Some((r, Some(s), "PARQUET")) }
         catch { case scala.util.control.NonFatal(e) =>
           probeErrors += ("PARQUET" -> e); None })
          .orElse(
            try { val (r, s) = orcFooterStats(path, conf, meta.schema, meta.fieldIds)
                  Some((r, Some(s), "ORC")) }
            catch { case scala.util.control.NonFatal(e) =>
              probeErrors += ("ORC" -> e); None })
          .orElse(
            try { val (r, _) = AvroDataRead.probe(path, conf)
                  Some((r, None, "AVRO")) }
            catch { case scala.util.control.NonFatal(e) =>
              probeErrors += ("AVRO" -> e); None })
      val (rows, stats, fmt) = probed.getOrElse {
        val errs = probeErrors.result()
        val detail = errs.map { case (f, e) =>
          s"$f: ${e.getClass.getSimpleName}: ${e.getMessage}" }.mkString("; ")
        val ex = new IllegalArgumentException(
          s"addFiles: $p is not a readable parquet, ORC, or Avro file " +
            s"(per-format probes: $detail)")
        errs.headOption.foreach { case (_, e) => ex.initCause(e) }
        throw ex
      }
      // id-shifted tables (REPLACE TABLE assigned the same column names
      // NEW field ids; drop + re-add does too): an id-less import can
      // only resolve columns BY NAME, and the read side deliberately
      // refuses name resolution for id-shifted names (a same-named file
      // column might hold a DIFFERENT historical column's data) — so the
      // file would silently read NULL for every shifted column. Refuse
      // at import instead: the producer stamps field ids (parquet
      // field-id metadata / avro `field-id` props, the Iceberg writer
      // contract), or the data comes in through INSERT.
      val shifted = meta.idShiftedNames
      if (shifted.nonEmpty) {
        val fileHasIds = fmt match {
          case "PARQUET" =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(path, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              r.getFooter.getFileMetaData.getSchema.getFields.asScala
                .exists(_.getId != null)
            } finally r.close()
          case "AVRO" => AvroDataRead.hasFieldIds(path, conf)
          case _ => false // ORC always resolves by name
        }
        if (!fileHasIds)
          throw new UnsupportedOperationException(
            s"addFiles: $p carries no field ids, and column(s) " +
              s"${shifted.toSeq.sorted.mkString(", ")} of this table " +
              "changed field ids across its schema history (REPLACE " +
              "TABLE or drop + re-add) — name-based resolution is " +
              "ambiguous there and the id-less import would read NULL. " +
              "Write the file with Iceberg field ids (parquet field-id " +
              "metadata / Avro field-id props) or load it with INSERT.")
      }
      AddedDataFile(path.toString, rows, len, stats, partition = None,
        fileFormat = fmt)
    }
    produce(b, SnapshotUpdate("append", b.newManifest(added).toSeq,
      totals = adjust(added = addedTotals(added))))
  }

  /** Filters expressible as EQUALITY-DELETE tuples: a boolean tree of
    * EqualTo / EqualNullSafe / IsNull / In on table columns, where OR
    * arms share a column set and AND arms are column-disjoint (their
    * tuples cross-product). Returns (columns, rows) or None when the
    * predicate cannot be stated as equality rows (ranges, LIKE, mixed
    * ORs) — [[deleteWhere]] refuses those via `canDeleteWhere` instead of
    * guessing. Row count is capped: a pathological IN × IN cross product
    * should fall back, not materialize. */
  def equalityTuples(schema: org.apache.spark.sql.types.StructType,
                     filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.sources._
    val maxRows = 10000
    def combineAnd(a: (Seq[String], Seq[Seq[Any]]), b: (Seq[String], Seq[Seq[Any]]))
        : Option[(Seq[String], Seq[Seq[Any]])] =
      if (a._1.intersect(b._1).nonEmpty) None
      else if (a._2.size.toLong * b._2.size > maxRows) None
      else Some((a._1 ++ b._1, for { x <- a._2; y <- b._2 } yield x ++ y))
    def one(f: Filter): Option[(Seq[String], Seq[Seq[Any]])] = f match {
      case EqualTo(c, v) if schema.fieldNames.contains(c) =>
        Some((Seq(c), Seq(Seq(v))))
      case EqualNullSafe(c, v) if schema.fieldNames.contains(c) =>
        Some((Seq(c), Seq(Seq(v))))
      case IsNull(c) if schema.fieldNames.contains(c) =>
        Some((Seq(c), Seq(Seq(null))))
      case In(c, vs) if schema.fieldNames.contains(c) && vs != null && vs.nonEmpty =>
        Some((Seq(c), vs.toSeq.map(Seq(_))))
      case Or(a, b) => for {
        x <- one(a); y <- one(b)
        if x._1 == y._1 && x._2.size + y._2.size <= maxRows
      } yield (x._1, x._2 ++ y._2)
      case And(a, b) => for {
        x <- one(a); y <- one(b); c <- combineAnd(x, y)
      } yield c
      case _ => None
    }
    filters.map(one).reduceOption { (oa, ob) =>
      for { a <- oa; b <- ob; c <- combineAnd(a, b) } yield c
    }.flatten
  }

  /** SQL `DELETE FROM … WHERE <equality predicate>` as MERGE-ON-READ: the
    * matching tuples are committed as an Iceberg v2 EQUALITY DELETE file
    * (+ delete manifest) in a new snapshot — no data file is rewritten,
    * and prior snapshots still read the rows (time travel unaffected).
    * Sequence gating does the rest: the delete's sequence number applies
    * it to all data files with a strictly smaller one, so later appends
    * of the same key values survive, per the spec.
    *
    * An empty/AlwaysTrue filter set truncates (empty manifest list), the
    * same snapshot shape INSERT OVERWRITE commits.
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  committer: Option[TableCommitter] = None,
                  branch: String = "main"): Long = {
    import org.apache.spark.sql.sources.AlwaysTrue
    // write-audit-publish: the delete stacks on (and moves) the targeted
    // branch's head, exactly like an append — main stays untouched
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val meta = b.meta
    val effective = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (effective.isEmpty) // DELETE FROM t → truncate
      return produce(b, SnapshotUpdate("delete", truncate = true,
        totals = reset(NoTotals)))
    if (b.baseSnap.isEmpty) return -1L // empty table: no-op

    val (cols, tuples) = equalityTuples(meta.schema, effective).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicate is not an equality predicate: ${effective.mkString(", ")}"))

    // 1. the equality-delete parquet file (field-id-stamped, one file)
    val subSchema = org.apache.spark.sql.types.StructType(cols.map { c =>
      val f = meta.schema(c)
      f.copy(nullable = true,
        metadata = IcebergTable.withFieldId(meta.fieldIds(c).toLong).build())
    })
    val rows: java.util.List[org.apache.spark.sql.Row] =
      scala.jdk.CollectionConverters.SeqHasAsJava(
        tuples.map(t => org.apache.spark.sql.Row.fromSeq(t))).asJava
    val delDir = s"$tableDir/data/del-s${b.snapId}-${b.u}"
    spark.createDataFrame(rows, subSchema).coalesce(1)
      .write.mode("overwrite").parquet(delDir)
    val fs = new Path(delDir).getFileSystem(b.conf)
    val delFile = fs.listStatus(new Path(delDir))
      .filter(_.getPath.getName.endsWith(".parquet")).head

    // 2. the branch head's manifests + a delete manifest (content 1)
    // holding the equality-delete entry (data_file.content 2). Equality
    // deletes leave the DATA files untouched (merge-on-read): the spec's
    // totals count data-file records, so they carry over
    val entry = deleteEntryRecord(delFile.getPath.toString, "PARQUET",
      tuples.size.toLong, delFile.getLen, equalityIds = cols.map(meta.fieldIds))
    produce(b, SnapshotUpdate("delete",
      Seq(b.deleteManifest("del", Seq(entry), tuples.size.toLong))))
  }

  /** Commit a copy-on-write FILE SWAP as a new snapshot: `removed` data
    * files leave the current snapshot and `added` parquet files (already
    * on disk, written by [[connector.GraftDataFilesWrite]]'s executors)
    * enter via a fresh manifest. This is the commit half of DSv2
    * `ReplaceData` (SQL UPDATE / MERGE / copy-on-write DELETE).
    *
    * Manifests are rewritten LOSSLESSLY at the Avro level — records are
    * filtered under each manifest's own embedded writer schema — so
    * column bounds, null counts, and any foreign-writer fields this
    * library does not model all survive the swap (a typed round-trip
    * through [[DataFileEntry]] would silently shed them and degrade
    * pruning on every future read). Untouched manifests are re-recorded
    * as-is: a 100 TB table with thousands of manifests rewrites only the
    * few that actually lost a file.
    *
    * Added files carry no partition tuple (a replacement file may mix
    * partition values): readers keep them under partition pruning
    * (absent stats ⇒ doubt ⇒ keep — sound, just unpruned) and identity
    * source columns stay materialized in the files, so scans stay on the
    * native batch path. Compaction restores clustering.
    *
    * Prior snapshots still reference the removed files — time travel is
    * unaffected; nothing is vacuumed.
    */
  def replaceFiles(conf: org.apache.hadoop.conf.Configuration, tableDir: String,
                   removed: Set[String],
                   added: Seq[AddedDataFile],
                   committer: Option[TableCommitter] = None,
                   /** Manifest entries of the `removed` files when the
                     * caller planned them (the DSv2 group scan does) —
                     * lets the summary totals update incrementally;
                     * absent ⇒ totals are omitted, never guessed. */
                   removedEntries: Seq[DataFileEntry] = Nil,
                   /** Snapshot operation: `overwrite` (row-level rewrite,
                     * the default) or `replace` (same rows, different
                     * files — what operation-aware readers like the
                     * changelog skip as data movement). */
                   operation: String = "overwrite",
                   /** Snapshot id the caller PLANNED the swap against.
                     * When set, the commit aborts with
                     * [[CommitConflictException]] if the table moved
                     * between planning and commit — closes the TOCTOU
                     * window where a concurrent merge-on-read DELETE or
                     * rival rewrite lands after file selection and the
                     * swap would silently resurrect its rows. */
                   expectedSnapshotId: Option[Long] = None,
                   /** `true` ONLY when the replacement rows were produced
                     * by a delete-applying read of the removed files
                     * (compactWhere on a merge-on-read table): delete
                     * manifests then pass through untouched — their
                     * entries for the removed files dangle harmlessly
                     * (paths are writer-unique, never reused) and their
                     * entries for other files still apply. The default
                     * refuses delete-bearing tables, because a rewrite
                     * that did NOT apply deletes would resurrect them. */
                   carryDeleteManifests: Boolean = false,
                   /** With carryDeleteManifests: the delete-manifest
                     * paths the delete-applying read actually consumed.
                     * A delete manifest in the CURRENT snapshot outside
                     * this set means a concurrent row-level delete landed
                     * after planning — rewritten files (new sequence
                     * number) would escape it, so the swap aborts with
                     * the retry contract. None skips the check (callers
                     * that pin `expectedSnapshotId` instead). */
                   plannedDeleteManifests: Option[Set[String]] = None): Long = {
    val b = begin(conf, tableDir, committer)
    expectedSnapshotId.foreach { e =>
      if (!b.parent.contains(e))
        throw new CommitConflictException(
          s"copy-on-write swap planned against snapshot $e but the table " +
            s"is now at ${b.parent.getOrElse("<empty>")} — a concurrent commit " +
            "landed between planning and commit; replan against fresh " +
            "metadata and retry")
    }
    val deleteManifests = b.prior.filter(_.content == 1)
    // A delete manifest the planner did not see (for plan-aware callers,
    // anything outside plannedDeleteManifests; for a clean-at-plan scan
    // that is EVERY delete manifest) means a concurrent row-level delete
    // landed after planning — rewritten files would escape it by
    // sequence number, so abort with the RETRY contract (a replan sees
    // the debt and takes the delete-applying read). Callers with no
    // planned set keep the programmer-error require below.
    plannedDeleteManifests.foreach { known =>
      val unseen = deleteManifests.map(_.path).filterNot(known.contains)
      if (unseen.nonEmpty) throw new CommitConflictException(
        s"copy-on-write swap aborted: ${unseen.size} delete manifest(s) " +
          "landed after planning (concurrent row-level delete); rewritten " +
          "files would escape them by sequence number — replan against " +
          "fresh metadata and retry")
    }
    require(carryDeleteManifests || deleteManifests.isEmpty,
      "replaceFiles on a table with delete manifests: deletes must be " +
        "materialized (compact) before a copy-on-write rewrite, or rewritten " +
        "rows would resurrect them")

    val removedKnown = removedEntries.filter(e => removed.contains(e.filePath))
    val dataPolicy = withoutFiles(removed)
    produce(b, SnapshotUpdate(operation, b.newManifest(added).toSeq,
      // delete manifests pass through (carry mode only); untouched data
      // manifests are re-recorded as-is
      carry = m => if (m.content == 1) Keep else dataPolicy,
      // Commit-time revalidation (independent of expectedSnapshotId):
      // every planned-removed file must still be live in the CURRENT
      // snapshot, exactly once. A concurrent rewrite that already moved
      // one of them means our replacement files would duplicate (or
      // resurrect) its rows.
      expectDropped = Some((removed.size, n =>
        s"copy-on-write swap aborted: $n of ${removed.size} " +
          "planned files are live in the current snapshot — a concurrent " +
          "rewrite moved the rest; replan against fresh metadata and retry")),
      totals =
        if (removedKnown.map(_.filePath).toSet != removed) _ => None // partial info
        else adjust(fileTotals(removedKnown), addedTotals(added))))
  }

  /** PARTIAL compaction: rewrite only the data files a predicate's
    * pruning keeps, and swap exactly them in one snapshot — the 100 TB
    * form of `rewrite_data_files(where => …)`. Compacting one hot
    * partition of a 10k-partition table must not read the other 9,999:
    * file selection is metadata-only (same pruning the scan uses —
    * conservative, so a kept-but-unmatching file is merely rewritten,
    * never lost), the rewrite reads whole files (no row filter: file
    * swaps must preserve every row), and untouched manifests are
    * re-recorded as-is. Selected files cluster under the CURRENT spec
    * and sort order, so this is also the incremental "finish the
    * evolution" tool. Returns (snapshotId, rewrittenFiles); a selection
    * of < 2 files is a no-op (nothing to merge).
    */
  def compactWhere(spark: SparkSession, tableDir: String,
                   filters: Seq[org.apache.spark.sql.sources.Filter],
                   targetFileBytes: Long = 128L << 20,
                   committer: Option[TableCommitter] = None,
                   sortCols: Seq[String] = Nil,
                   zorderCols: Seq[String] = Nil): (Long, Int) = {
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "choose sort OR zorder clustering, not both")
    val conf = writeConf(spark, committer)
    val b = begin(conf, tableDir, committer)
    val (meta, t) = (b.meta, b.table)
    val files = t.planFiles(filters)
    if (files.size < 2) return (meta.currentSnapshotId.getOrElse(0L), 0)
    val bytes = files.map(_.fileSizeInBytes).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // whole files, NO row filter: the swap must carry every LIVE row of
    // the removed files, matching the predicate or not. On a
    // merge-on-read table the read applies the outstanding deletes, so
    // the rewrite MATERIALIZES them for the selected files: their
    // position-delete entries dangle harmlessly afterwards (writer-unique
    // paths are never reused) and equality deletes cannot re-apply (the
    // replacement files' sequence number exceeds every delete's);
    // rewrite_position_delete_files reclaims the dangling entries.
    val lineage = wantsLineage(meta)
    val df0 = t.toDF(spark, Nil, precomputed = Some(files),
      keepLineage = lineage)
    val df = clusterRewrite(df0, n, sortCols, zorderCols, lineage)
    val added = writeDataFiles(df, s"$tableDir/data/cw${b.snapId}-${b.u}",
      meta, conf)
    val snapId = replaceFiles(conf, tableDir,
      removed = files.map(_.filePath).toSet, added, Some(b.cmtr),
      removedEntries = files, operation = "replace",
      // abort (CommitConflictException) if anything — a merge-on-read
      // DELETE, a rival compaction — landed since the plan above
      expectedSnapshotId = b.parent,
      // the read above applied this snapshot's deletes, so carrying the
      // delete manifests through is sound (and pinned by the base check)
      carryDeleteManifests = t.hasDeletes)
    (snapId, files.size)
  }

  /** Write the manifest `m-s<id>-<u>.avro` for one commit's added files
    * and return its manifest-list record (None when nothing was added).
    * Everything comes from the tasks' commit messages: exact partition
    * tuples (also rolled up into the manifest-list partition summaries
    * that drive manifest-level pruning) and footer column stats. The ONLY
    * driver file I/O is a per-file footer fallback when a task message
    * arrived without stats. */
  private def writeNewManifest(
      conf: org.apache.hadoop.conf.Configuration, tableDir: String,
      meta: TableMetadata, snapId: Long, u: String,
      added: Seq[AddedDataFile]): Option[GenericRecord] = {
    if (added.isEmpty) return None
    val spec = meta.partitionSpec
    val idToName = meta.fieldIds.map(_.swap)
    val resultTypes = spec.map { p =>
      val src = idToName.getOrElse(p.sourceId, throw new IllegalArgumentException(
        s"partition source field id ${p.sourceId} not in schema"))
      PartitionTransforms.resultType(p.transform, meta.schema(src).dataType)
    }
    val mSchema = manifestSchemaFor(spec, resultTypes)
    val dfSchema = mSchema.getField("data_file").schema
    val partSchema =
      if (spec.isEmpty) null
      else dfSchema.getField("partition").schema.getTypes.get(1)
    // v3 row lineage: each new file's rows get ids [first_row_id,
    // first_row_id + rows) — assigned ABSOLUTE here (base = the table's
    // next-row-id, advanced by the same commit's set-next-row-id) so a
    // later manifest rewrite that drops sibling entries cannot shift
    // them. Files carrying a materialized `_row_id` column (rewrites)
    // also get a range; the column takes precedence on read. A stale
    // base cannot land: the commit's assert-ref requirement fails first.
    var nextFileRowId: Option[Long] =
      if (wantsLineage(meta)) Some(meta.nextRowId.getOrElse(0L)) else None
    val entries = added.map { f =>
      val d = new GenericData.Record(dfSchema)
      d.put("file_path", f.path)
      d.put("file_format", f.fileFormat)
      d.put("record_count", f.rows)
      d.put("file_size_in_bytes", f.bytes)
      nextFileRowId.foreach { base =>
        d.put("first_row_id", base)
        nextFileRowId = Some(base + f.rows)
      }
      if (spec.nonEmpty) f.partition.foreach { tup =>
        val pr = new GenericData.Record(partSchema)
        spec.zipWithIndex.foreach { case (p, i) => pr.put(p.name, tup(i)) }
        d.put("partition", pr)
      }
      f.sortOrderId.foreach(id => d.put("sort_order_id", id))
      val st = f.stats.orElse( // fallback: driver footer read, sound to skip
        try Some(
          (if (f.fileFormat.equalsIgnoreCase("ORC")) orcFooterStats _
           else footerStats _)(new Path(f.path), conf, meta.schema, meta.fieldIds)._2)
        catch { case scala.util.control.NonFatal(_) => None })
      st.foreach(s => putStats(d, dfSchema, s))
      val e = new GenericData.Record(mSchema)
      e.put("status", 1)
      e.put("data_file", d)
      e.asInstanceOf[GenericRecord]
    }
    val manifestPath = new Path(s"$tableDir/metadata/m-s$snapId-$u.avro")
    val manifestLen = writeAvro(manifestPath, conf, mSchema, entries)

    // manifest-list partition summaries — only when EVERY file carries a
    // tuple (a summary over a partial view could prune a manifest whose
    // unsummarized file matches; no summary = never summary-pruned, sound)
    val summaries: Seq[PartitionSummary] =
      if (spec.isEmpty || added.exists(_.partition.isEmpty)) Nil
      else spec.indices.map { i =>
        val vals = added.map(_.partition.get(i))
        val nonNull = vals.filter(v => v != null && !isNanValue(v))
        def pick(keepLeft: Int => Boolean): Option[Any] = nonNull.reduceOption {
          (a, b) => if (Pruning.compare(a, b).exists(keepLeft)) a else b
        }
        PartitionSummary(
          containsNull = vals.contains(null),
          containsNan = Some(vals.exists(isNanValue)),
          lowerBound = pick(_ <= 0).flatMap(SingleValue.encode(_, resultTypes(i))),
          upperBound = pick(_ >= 0).flatMap(SingleValue.encode(_, resultTypes(i))))
      }
    Some(mlRec(manifestPath.toString, manifestLen, 0, Some(snapId),
      Some(added.map(_.rows).sum), meta.defaultSpecId, summaries))
  }

  /** The table's data-file format (Iceberg `write.format-default`):
    * PARQUET (our native default), ORC, or AVRO — the full spec format
    * matrix on the write side (the reference's entire engine is
    * parquet-only: `table.rs:291-293` builds only ParquetExec). Avro
    * writes additionally require every table column to be in the set the
    * engine's own avro scan decodes back — checked at PLAN time, not
    * after data lands. */
  private[graft] def tableWriteFormat(meta: TableMetadata): String =
    meta.properties.getOrElse("write.format-default", "parquet")
      .toLowerCase match {
      case "parquet" => "PARQUET"
      case "orc" =>
        meta.schema.fields.find(f => graft.iceberg.connector.IcebergJson
            .containsV3Type(f.dataType)).foreach { f =>
          throw new UnsupportedOperationException(
            s"write.format-default = orc cannot write column '${f.name}' " +
              s"of type ${f.dataType.simpleString} — this engine's ORC " +
              "kernel has no variant/unknown encoding (use parquet)")
        }
        "ORC"
      case "avro" =>
        AvroDataWrite.requireWritable(meta.schema)
        "AVRO"
      case other => throw new IllegalArgumentException(
        s"unsupported write.format-default '$other' " +
          "(supported: parquet, orc, avro)")
    }

  /** The table's `write.parquet.compression-codec` (Iceberg property;
    * this writer's historical default is snappy). Validated at plan time
    * so a typo fails the statement, not a task. */
  private[graft] def tableCodec(meta: TableMetadata): String = {
    val c = meta.properties.getOrElse(
      "write.parquet.compression-codec", "snappy")
    org.apache.spark.sql.execution.datasources.parquet
      .GraftParquetWriteShim.codecName(c) // validate, loud on typos
    c
  }

  /** Data codec for the table's declared write format: the parquet
    * property for parquet tables, `write.orc.compression-codec` (spec
    * default zlib) for ORC tables — each validated against its own
    * format's codec set at plan time. */
  private[graft] def tableFormatCodec(meta: TableMetadata,
                                      format: String): String =
    if (format.equalsIgnoreCase("ORC")) {
      val c = meta.properties.getOrElse("write.orc.compression-codec", "zlib")
      org.apache.spark.sql.execution.datasources.orc
        .GraftOrcWriteShim.codecKind(c) // validate, loud on typos
      c
    } else if (format.equalsIgnoreCase("AVRO")) {
      val c = meta.properties.getOrElse("write.avro.compression-codec", "gzip")
      AvroDataWrite.codecFactory(c) // validate, loud on typos
      c
    } else tableCodec(meta)

  /** Delete-file codec: the spec's `write.delete.parquet.compression-codec`
    * falling back to the DATA codec — a zstd table must not silently
    * accumulate snappy delete files. */
  private[graft] def deleteCodec(meta: TableMetadata): String = {
    val c = meta.properties.getOrElse(
      "write.delete.parquet.compression-codec", tableCodec(meta))
    org.apache.spark.sql.execution.datasources.parquet
      .GraftParquetWriteShim.codecName(c)
    c
  }

  /** `write.target-file-size-bytes` (Iceberg property, default 512 MB):
    * the size at which the fanout writer rolls to a new data file. */
  private[graft] def targetFileSize(meta: TableMetadata): Long = {
    val v = meta.properties.get("write.target-file-size-bytes")
      .map(_.toLong).getOrElse(512L << 20)
    require(v >= (1L << 16),
      s"write.target-file-size-bytes = $v is below the 64 KiB floor " +
        "(a page-sized target would write one file per row group flush)")
    v
  }

  /** Distributed data-file write: every partition of `df` streams through
    * a task writer from the table's one write setup
    * ([[FanoutWriterFactory.forTable]]: field-id stamping, partition
    * fanout, format, codec, type guards), and only the small
    * [[AddedDataFile]] bookkeeping returns to the driver. The DataFrame
    * entry point; the DSv2 writes in `connector` build their task writers
    * from the same setup. */
  private[graft] def writeDataFiles(
      df: DataFrame, writeDir: String, meta: TableMetadata,
      conf: org.apache.hadoop.conf.Configuration,
      sortOrderId: Option[Int] = None): Seq[AddedDataFile] = {
    val factory = FanoutWriterFactory.forTable(meta, df.schema, writeDir, conf,
      sortOrderId = sortOrderId)
    val dirPath = new Path(writeDir)
    val fs = dirPath.getFileSystem(conf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val w = factory.createWriter(pid,
        Option(org.apache.spark.TaskContext.get).map(_.taskAttemptId).getOrElse(0L))
      try {
        while (it.hasNext) w.write(it.next())
        Iterator.single(w.commit().asInstanceOf[GraftFilesCommit])
      } catch { case t: Throwable => w.abort(); throw t }
    }.collect().toSeq.flatMap(_.files)
  }

  private val deleteManifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |   "default":null},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null}
      |]}}]}""".stripMargin)

  /** One delete-manifest entry (status = added). `dv` carries the v3
    * fields (referenced data file, blob offset, blob size) of a
    * deletion-vector entry; None = a v2 parquet position-delete file.
    * Non-empty `equalityIds` make it an EQUALITY delete file instead.
    * Every delete writer builds through here so a schema change cannot
    * drift between them. */
  private def deleteEntryRecord(
      filePath: String, fileFormat: String, recordCount: Long,
      fileSizeInBytes: Long,
      dv: Option[(String, Long, Long)] = None,
      equalityIds: Seq[Int] = Nil): GenericRecord = {
    val dfSchema = deleteManifestSchema.getField("data_file").schema
    val d = new GenericData.Record(dfSchema)
    // 1 = POSITION_DELETES (parquet or DV flavor), 2 = EQUALITY_DELETES
    d.put("content", if (equalityIds.isEmpty) 1 else 2)
    d.put("file_path", filePath)
    d.put("file_format", fileFormat)
    d.put("record_count", recordCount)
    d.put("file_size_in_bytes", fileSizeInBytes)
    if (equalityIds.nonEmpty) {
      val ids = new java.util.ArrayList[Integer](equalityIds.size)
      equalityIds.foreach(id => ids.add(id))
      d.put("equality_ids", ids)
    }
    dv.foreach { case (ref, off, size) =>
      d.put("referenced_data_file", ref)
      d.put("content_offset", off)
      d.put("content_size_in_bytes", size)
    }
    val e = new GenericData.Record(deleteManifestSchema)
    e.put("status", 1)
    e.put("data_file", d)
    e.asInstanceOf[GenericRecord]
  }

  /** Resolve the commit base for a write targeting `branch`: (base
    * snapshot whose manifests an append carries, new snapshot's parent,
    * expected ref head for the optimistic-concurrency assert). A branch
    * that does not exist yet forks from main's current head — the
    * Iceberg write-audit-publish convention — and the assert expects it
    * absent, so racing first-writes still conflict cleanly. Tags are
    * immutable pointers: writing to one is refused. */
  private def branchBase(meta: TableMetadata, branch: String)
      : (Option[IcebergSnapshot], Option[Long], Option[Long]) = {
    require(!meta.tagRefs.contains(branch),
      s"ref '$branch' is a tag — tags are immutable; write to a branch")
    val mainHead = meta.currentSnapshotId.filter(_ != -1L)
    if (branch == "main") (meta.currentSnapshot, mainHead, mainHead)
    else meta.refs.get(branch) match {
      case Some(id) => (meta.snapshots.find(_.snapshotId == id), Some(id), Some(id))
      case None => (meta.currentSnapshot, mainHead, None)
    }
  }

  /** The supplied committer, else the filesystem warehouse's. */
  private def committerOf(conf: org.apache.hadoop.conf.Configuration,
      tableDir: String, committer: Option[TableCommitter]): TableCommitter =
    committer.getOrElse(new FsCommitter(tableDir, conf))

  /** What one commit builds on, read once: the committer, the conf its
    * files are written with, the table metadata, the target branch's
    * base ([[branchBase]]), the next snapshot id and the writer-unique
    * file-name suffix every file of the commit shares. The base's
    * manifests and the branch-pinned table load on first use. */
  private final class CommitBase(
      val conf: org.apache.hadoop.conf.Configuration, val tableDir: String,
      val cmtr: TableCommitter, val branch: String, vended: Map[String, String]) {
    val meta: TableMetadata = cmtr.currentMetadata()
    val (baseSnap, parent, expectedHead) = branchBase(meta, branch)
    val snapId: Long = meta.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1L
    val u: String = uniq()

    def resolve(path: String): String = resolveAgainst(meta, tableDir, path)

    /** `s`'s manifests, paths resolved against the table dir. */
    def manifests(s: IcebergSnapshot): Seq[ManifestFile] =
      ManifestIO.readManifestList(resolve(s.manifestList), conf)
        .map(m => m.copy(path = resolve(m.path)))

    lazy val prior: Seq[ManifestFile] = baseSnap.toSeq.flatMap(manifests)

    /** The table as of the base: a write to an existing branch plans
      * against the branch head's file set, every other write against
      * main's. */
    lazy val table: IcebergTable = {
      val t = IcebergTable.fromMetadata(tableDir, conf, meta, vended)
      if (branch == "main" || !meta.refs.contains(branch)) t
      else t.atSnapshot(baseSnap.get.snapshotId)
    }

    def newManifest(added: Seq[AddedDataFile],
                    fileMeta: TableMetadata = meta): Option[GenericRecord] =
      writeNewManifest(conf, tableDir, fileMeta, snapId, u, added)

    /** Write the delete manifest `m-<kind>-s<id>-<u>.avro`. */
    def deleteManifest(kind: String, entries: Seq[GenericRecord],
                       rows: Long): GenericRecord =
      writeDeleteManifest(conf, new Path(s"$tableDir/metadata/m-$kind-s$snapId-$u.avro"),
        entries, snapId, rows, meta.defaultSpecId)
  }

  private def begin(conf: org.apache.hadoop.conf.Configuration,
                    tableDir: String, committer: Option[TableCommitter],
                    branch: String = "main"): CommitBase =
    new CommitBase(conf, tableDir, committerOf(conf, tableDir, committer),
      branch, vendedOf(committer))

  /** What one manifest of the base becomes in the new snapshot. */
  private sealed trait Carry
  private case object Keep extends Carry
  private case object Drop extends Carry
  /** Rewritten without the entries whose `data_file` record `drops`
    * matches, as `<prefix>-s<id>-<u>-<tag><i>.avro` (`i` = the manifest's
    * position in the base's list). */
  private final case class Without(drops: GenericRecord => Boolean,
                                   tag: String, prefix: String = "m") extends Carry

  /** Data-manifest policy: drop the data files stored at `paths`. */
  private def withoutFiles(paths: Set[String]): Carry =
    if (paths.isEmpty) Keep
    else Without(df => paths.contains(String.valueOf(df.get("file_path"))), "r")

  /** Delete-manifest policy of a deletion-vector commit: drop (a) the DV
    * entries a new vector supersedes (those referencing a path in
    * `targets`; its positions were absorbed) and (b) the v2
    * position-delete files in `dropV2` (see [[dvConvergedV2Drops]]). Both
    * sets hold normalized paths; `normResolve` normalizes a stored one. */
  private def withoutSuperseded(targets: Set[String], dropV2: Set[String],
      normResolve: String => String, prefix: String = "m"): Carry =
    if (targets.isEmpty) Keep
    else Without({ df =>
      val isDv = Option(df.get("file_format"))
        .exists(f => String.valueOf(f).equalsIgnoreCase("puffin")) ||
        df.getSchema.getField("content_offset") != null &&
          df.get("content_offset") != null
      val ref = Option(df.getSchema.getField("referenced_data_file"))
        .flatMap(_ => Option(df.get("referenced_data_file")))
        .map(String.valueOf(_))
      val superseded = isDv && ref.exists(r => targets.contains(normResolve(r)))
      val converged = !isDv && df.get("content") == 1 &&
        dropV2.contains(normResolve(String.valueOf(df.get("file_path"))))
      superseded || converged
    }, "d", prefix)

  /** Rewrite manifest `m` without the entries `drops` matches, under its
    * own embedded writer schema — so column bounds, null counts, and any
    * foreign-writer fields this library does not model all survive (a
    * typed round-trip through [[DataFileEntry]] would silently shed
    * them). None when nothing matched (carry `m` as-is); otherwise the
    * rewritten manifest's list record (None when no entry is left) and
    * the number of entries dropped. */
  private def rewriteManifest(conf: org.apache.hadoop.conf.Configuration,
      m: ManifestFile, drops: GenericRecord => Boolean,
      out: Path): Option[(Option[GenericRecord], Int)] = {
    def dataFile(r: GenericRecord) = r.get("data_file").asInstanceOf[GenericRecord]
    val (schema, entries) = ManifestIO.readRecords(m.path, conf)
    val (dropped, kept) = entries.partition(r => drops(dataFile(r)))
    if (dropped.isEmpty) None
    else if (kept.isEmpty) Some((None, dropped.size))
    else {
      val liveRows = kept.map(r => dataFile(r).get("record_count")
        .asInstanceOf[java.lang.Number].longValue).sum
      val len = writeAvro(out, conf, schema, kept)
      Some((Some(mlRec(m.copy(path = out.toString, length = len,
        addedRowsCount = Some(liveRows)))), dropped.size))
    }
  }

  /** One snapshot-producing change: everything a mutation decides. */
  private final case class SnapshotUpdate(
      /** spec snapshot `operation` */
      operation: String,
      /** manifest-list records of the manifests this commit wrote */
      added: Seq[GenericRecord] = Nil,
      /** the base's manifests are not carried (nor read) */
      truncate: Boolean = false,
      /** policy per carried manifest of the base */
      carry: ManifestFile => Carry = _ => Keep,
      /** entries the rewrites must drop, and the conflict message for
        * any other count — a planned removal that is no longer live */
      expectDropped: Option[(Int, Int => String)] = None,
      totals: TotalsRule = identity,
      /** extra summary entries (may override `operation`) */
      summary: Map[String, String] = Map.empty,
      /** update actions that must land atomically with the snapshot */
      extraUpdates: Seq[JsonNode] = Nil)

  /** The one snapshot producer: apply `up`'s manifest policies to the
    * base, write the manifest list, then commit the snapshot as the REST
    * spec's (requirements, updates) pair through the table's committer:
    * `add-snapshot` + `set-snapshot-ref <ref>`, guarded by
    * `assert-ref-snapshot-id <ref>` on the base head — optimistic
    * concurrency on every transport (filesystem create-new or REST
    * POST). A write-audit-publish write targets a staging branch instead
    * of `main`, leaving `main` (and its snapshot-log) untouched. Returns
    * the new snapshot id. */
  private def produce(b: CommitBase, up: SnapshotUpdate): Long = {
    val snapId = b.snapId
    var dropped = 0
    val carried: Seq[GenericRecord] = if (up.truncate) Nil else b.prior.indices.flatMap { i =>
      val m = b.prior(i)
      up.carry(m) match {
        case Keep => Some(mlRec(m))
        case Drop => None
        case Without(drops, tag, prefix) =>
          val out = new Path(s"${b.tableDir}/metadata/$prefix-s$snapId-${b.u}-$tag$i.avro")
          rewriteManifest(b.conf, m, drops, out) match {
            case None => Some(mlRec(m))
            case Some((rec, n)) => dropped += n; rec
          }
      }
    }
    up.expectDropped.foreach { case (n, msg) =>
      if (dropped != n) throw new CommitConflictException(msg(dropped))
    }
    val listRecs = carried ++ up.added
    val committer = b.cmtr
    val listPath =
      new Path(s"${committer.tableDir}/metadata/snap-$snapId-${b.u}.avro")
    writeAvro(listPath, committer.conf, manifestListSchema, listRecs)
    val mapper = new ObjectMapper()
    // ONE metadata read serves both the schema-id stamp and the lineage
    // block below (REST committers pay an HTTP GET per read)
    val commitMeta = committer.currentMetadata()
    val snap = mapper.createObjectNode()
    snap.put("snapshot-id", snapId)
    b.parent.foreach(p => snap.put("parent-snapshot-id", p))
    snap.put("timestamp-ms", System.currentTimeMillis)
    snap.put("manifest-list", listPath.toString)
    // spec snapshot field `schema-id`: the schema this snapshot's files
    // were written with — what lets time travel read each snapshot under
    // its own schema after REPLACE TABLE / evolution reassigns field ids
    snap.put("schema-id", commitMeta.currentSchemaId)
    val baseTotals = b.baseSnap match {
      case None => Some(NoTotals) // first snapshot on this branch line
      case Some(s) => parsedTotals(s)
    }
    val fullSummary = Map("operation" -> up.operation) ++ up.summary ++
      totalsSummary(up.totals(baseTotals))
    val sn = snap.putObject("summary")
    fullSummary.foreach { case (k, v) => sn.put(k, v) }
    // v3 row lineage (opt-in via `format-version = 3` table property, or
    // already-stamped v3 metadata): this snapshot's new rows get the id
    // range [next-row-id, next-row-id + added), recorded as the
    // snapshot's `first-row-id`, and the table counter advances in the
    // SAME commit. Added rows = the new data manifests of this commit
    // (sequence number == this snapshot id; carried manifests keep their
    // older sequence numbers).
    //
    // Rewrites PRESERVE row ids per the spec's rewrite rule:
    // compaction (compact/compactWhere), the partial-file rewrite of
    // positionDeleteWhere, AND (since round 14) the DSv2 ReplaceData
    // path (SQL UPDATE / MERGE / copy-on-write DELETE — `_row_id` rides
    // Spark's required-metadata-attribute projection into the
    // replacement files, see RowLevelOps) all materialize each surviving
    // row's _row_id into the replacement files (the read-side coalesce
    // prefers the column over first_row_id + pos). The counter still
    // advances over the rewritten files' assigned ranges — ids are never
    // reused, some are simply never served.
    val (lineageUpdates: Seq[JsonNode], lineageReqs: Seq[JsonNode]) = {
      val meta = commitMeta
      if (!wantsLineage(meta)) (Nil, Nil)
      else {
        val newDataManifests = listRecs.filter(r =>
          r.get("content").asInstanceOf[Int] == 0 &&
            Option(r.get("sequence_number")).exists(_ == snapId))
        // The base the manifest entries ACTUALLY carry, read back from
        // the just-written manifests (one bounded local read each):
        // plan-time metadata (which stamped the entries) and this
        // commit-build read can diverge under a rival commit, and the
        // snapshot's first-row-id + counter must agree with the entries,
        // not with whichever metadata happened to be fresh here. With
        // several new data manifests the bases must form ONE contiguous
        // range — verified, not assumed: a future commit path writing
        // two manifests with a gap or overlap would otherwise silently
        // assign duplicate row-id ranges.
        val basesAndCounts: Seq[(Long, Long)] = newDataManifests.flatMap { r =>
          val rows = Option(r.get("added_rows_count"))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          ManifestIO.firstEntryFirstRowId(
            String.valueOf(r.get("manifest_path")), committer.conf)
            .map(base => (base, rows))
        }
        if (basesAndCounts.size > 1) {
          val sorted = basesAndCounts.sortBy(_._1)
          sorted.sliding(2).foreach {
            case Seq((b1, n1), (b2, _)) => require(b1 + n1 == b2,
              s"new data manifests carry non-contiguous row-id ranges " +
                s"(base $b1 + $n1 rows, then base $b2) — the commit " +
                "would assign overlapping or gapped lineage")
            case _ => ()
          }
        }
        val manifestBase: Option[Long] =
          if (basesAndCounts.isEmpty) None
          else Some(basesAndCounts.map(_._1).min)
        val firstRowId = manifestBase.getOrElse(meta.nextRowId.getOrElse(0L))
        snap.put("first-row-id", firstRowId)
        val added = newDataManifests.iterator
          .map(r => Option(r.get("added_rows_count"))
            .map(_.asInstanceOf[Long]).getOrElse(0L))
          .sum
        val upds =
          (if (meta.formatVersion < 3)
             Seq(MetadataCommit.upgradeFormatVersion(mapper, 3))
           else Nil) :+
            MetadataCommit.setNextRowId(mapper, firstRowId + added)
        // When the manifests carry assigned ranges, the commit must only
        // land if the table's counter STILL equals their base — the ref
        // assert alone cannot see a rival commit on another branch
        // advancing next-row-id (duplicate-range hole). A conflict
        // surfaces as CommitConflictException; the caller's retry
        // re-plans and re-writes manifests under the fresh counter.
        val reqs = manifestBase.toSeq.map(base =>
          MetadataCommit.assertNextRowId(mapper, base))
        (upds, reqs)
      }
    }
    committer.commit(
      MetadataCommit.assertRefSnapshotId(mapper, b.branch, b.expectedHead) +: lineageReqs,
      Seq(MetadataCommit.addSnapshot(mapper, snap),
        MetadataCommit.setSnapshotRef(mapper, b.branch, snapId)) ++
        lineageUpdates ++ up.extraUpdates)
    snapId
  }

  /** Write a delete manifest at `path`; returns its manifest-list record. */
  private def writeDeleteManifest(conf: org.apache.hadoop.conf.Configuration,
      path: Path, entries: Seq[GenericRecord], snapId: Long, rows: Long,
      specId: Int): GenericRecord = {
    val len = writeAvro(path, conf, deleteManifestSchema, entries)
    mlRec(path.toString, len, 1, Some(snapId), Some(rows), specId, Nil)
  }

  /** Write `df` as a new snapshot on `branch`: an append (the base's
    * manifests carried) or, without `carryPrior`, a truncate-and-write. */
  private def commit(spark: SparkSession, tableDir: String, df: DataFrame,
                     carryPrior: Boolean,
                     summary: Map[String, String] = Map.empty,
                     committer: Option[TableCommitter] = None,
                     branch: String = "main"): Long = {
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val meta = b.meta

    // 1. data files: the fanout task writers cluster rows by transformed
    // partition value, stamp Iceberg field ids into the parquet schema,
    // and ship exact partition tuples + footer column stats back in their
    // commit messages — the driver does metadata-only bookkeeping from
    // here on (no footer reads, no directory parsing), which is what a
    // 10k-file commit on an object store needs.
    //
    // A declared sort order adds ONE range shuffle before the write:
    // rows range-cluster on (partition transforms, sort keys) and sort
    // within tasks, so each file's bounds on the sort key are tight AND
    // disjoint across files — that is what lets a range predicate on a
    // non-partition column prune files instead of scanning everything.
    //
    // Without a sort order, `write.distribution-mode` decides (default
    // `hash` for partitioned tables — upstream Iceberg's default): an
    // UNCLUSTERED insert writes one file per (task, partition tuple), so
    // 1000 tasks × 100 partitions is 100k small files; one hash shuffle
    // on the partition transforms makes it one file per tuple per shuffle
    // partition. The shuffle is an AQE REBALANCE, not a strict
    // repartition: tiny partitions coalesce and a HOT tuple splits across
    // tasks — skew becomes a few more files for that tuple, never one
    // straggler task. `none` opts out (tiny/latency-bound writes).
    val idToName = meta.fieldIds.map(_.swap)
    def transformCol(p: PartitionField) =
      org.apache.spark.sql.GraftColumnShim.column(IcebergTransform(p.transform,
        org.apache.spark.sql.GraftColumnShim.expression(col(idToName(p.sourceId)))))
    val sortable = meta.sortOrderFields.nonEmpty &&
      meta.sortOrderFields.forall(_.transform == "identity")
    val (writeDf, soId) = if (sortable) {
      val sortCols = meta.sortOrderFields.map { f =>
        val c = col(idToName(f.sourceId))
        if (f.direction == "desc") c.desc else c.asc
      }
      val cluster = meta.partitionSpec.map(transformCol(_).asc) ++ sortCols
      (df.repartitionByRange(cluster: _*).sortWithinPartitions(cluster: _*),
        Some(meta.defaultSortOrderId))
    } else {
      val mode = meta.properties.getOrElse("write.distribution-mode",
        if (meta.partitionSpec.nonEmpty) "hash" else "none")
      val partCols = meta.partitionSpec.map(transformCol)
      mode match {
        case "hash" if partCols.nonEmpty =>
          // local sort by tuple after the shuffle: tuples arrive
          // sequentially, so the fanout holds ONE open row-group buffer
          // at a time instead of one per distinct tuple in the task
          val partExprs = meta.partitionSpec.map(p =>
            IcebergTransform(p.transform,
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
                Seq(idToName(p.sourceId))): org.apache.spark.sql.catalyst
                .expressions.Expression))
          (org.apache.spark.sql.GraftColumnShim.rebalance(df, partExprs)
            .sortWithinPartitions(partCols.map(_.asc): _*), None)
        case "range" if partCols.nonEmpty =>
          (df.repartitionByRange(partCols: _*)
            .sortWithinPartitions(partCols.map(_.asc): _*), None)
        case _ => (df, None)
      }
    }
    val added = writeDataFiles(writeDf, s"$tableDir/data/s${b.snapId}-${b.u}",
      meta, b.conf, soId)

    // 2. manifest (+ partition summaries) from the commit messages; the
    // list carries the base's manifests (append) or nothing (truncate:
    // the new files ARE the table). The base is the targeted branch's
    // head, so branch writes stack on the branch
    val snapId = produce(b, SnapshotUpdate(
      if (carryPrior) "append" else "overwrite", b.newManifest(added).toSeq,
      truncate = !carryPrior,
      totals =
        if (carryPrior) adjust(added = addedTotals(added))
        else reset(addedTotals(added)),
      summary = summary))
    // spec partition-statistics, incremental: previous snapshot's file +
    // this commit's per-partition delta (a follow-up metadata-only
    // commit; no-op unless graft.partition-statistics = true). Main-line
    // appends only — branch commits and truncates leave no entry, and
    // the `partitions` table falls back to the manifest recompute until
    // compute_partition_stats restarts the chain.
    if (carryPrior && branch == "main") {
      val specNames = meta.partitionSpec.map(_.name)
      // BEST-EFFORT: the data commit above already succeeded — a stats
      // failure (rival commit's 409 on the follow-up, damaged prior
      // stats file) must not make a committed INSERT report failure
      // (the caller would retry and double-write). A skipped entry is
      // spec-legal; the partitions table falls back to the manifest
      // recompute and compute_partition_stats repairs the chain.
      try PartitionStats.maintainOnAppend(spark, b.cmtr, snapId,
        added.map(f => (
          specNames.zip(f.partition.getOrElse(Nil)).toMap, f.rows, f.bytes)))
      catch { case e: Exception =>
        System.err.println(
          s"[graft] partition-statistics maintenance skipped for " +
            s"snapshot $snapId of $tableDir: ${e.getMessage}")
      }
    }
    snapId
  }

  /** One manifest-list record. Prior manifests are re-recorded with their
    * content kind, sequence number, spec id, and partition summaries
    * intact — dropping content or sequence would resurrect deleted rows /
    * break sequence gating; relabeling an evolved spec id as 0 would
    * misjudge old-spec partition tuples; dropping summaries would turn
    * manifest pruning off for them. */
  private def mlRec(m: ManifestFile): GenericRecord =
    mlRec(m.path, m.length, m.content, m.sequenceNumber, m.addedRowsCount,
      m.partitionSpecId, m.partitions)

  private def mlRec(path: String, length: Long, content: Int, seq: Option[Long],
                    rows: Option[Long], specId: Int,
                    parts: Seq[PartitionSummary]): GenericRecord = {
    val r = new GenericData.Record(manifestListSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", length)
    r.put("partition_spec_id", specId)
    r.put("content", content)
    seq.foreach(n => r.put("sequence_number", n))
    rows.foreach(n => r.put("added_rows_count", n))
    if (parts.nonEmpty) {
      val arr = new java.util.ArrayList[GenericRecord](parts.size)
      parts.foreach { p =>
        val fr = new GenericData.Record(fieldSummarySchema)
        fr.put("contains_null", p.containsNull)
        p.containsNan.foreach(v => fr.put("contains_nan", v))
        p.lowerBound.foreach(b => fr.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
        p.upperBound.foreach(b => fr.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
        arr.add(fr)
      }
      r.put("partitions", arr)
    }
    r
  }

  /** Rewrite a manifest list under a new snapshot id: records whose
    * `sequence_number` equals `oldSnapId` take `newSnapId` (this writer's
    * snapshot-id == sequence-number convention); everything else copies
    * verbatim. Manifest ENTRIES inherit their sequence from the list
    * record (they are written with a null entry-level sequence), so only
    * the list needs rewriting. Used by the staged-REPLACE retry
    * ([[graft.iceberg.connector.StagedTables]]): a rival commit may have
    * taken the snapshot id the staged write allocated. Returns the new
    * list path. */
  private[graft] def reSequenceManifestList(
      conf: org.apache.hadoop.conf.Configuration, listPath: String,
      newPath: Path, oldSnapId: Long, newSnapId: Long): String = {
    val recs = ManifestIO.readManifestList(listPath, conf).map(m => mlRec(
      m.copy(sequenceNumber = m.sequenceNumber.map(s =>
        if (s == oldSnapId) newSnapId else s))))
    writeAvro(newPath, conf, manifestListSchema, recs)
    newPath.toString
  }

  /** Same relocation rule as IcebergTable.resolve, usable pre-load. */
  private def resolveAgainst(meta: TableMetadata, tableDir: String, path: String): String =
    if (path.startsWith(meta.location)) tableDir + path.stripPrefix(meta.location)
    else path

  // -- position deletes (selective DELETE without rewrite) --------------------

  /** Iceberg reserved field ids for position-delete file columns. */
  private[graft] val PosDelPathId = 2147483546L
  private[graft] val PosDelPosId = 2147483545L

  /** SQL `DELETE FROM … WHERE <predicate>` for predicates equality-delete
    * tuples cannot express (ranges, LIKE, disjunctions over different
    * columns): ONE snapshot, with the cheapest sound treatment chosen
    * PER FILE from one distributed matching pass over the statically
    * pruned candidates:
    *
    *  - stats disprove the predicate → file untouched (never read);
    *  - every row matches → file dropped from the manifests, no IO;
    *  - a small matched fraction (≤ `maxPosDeleteFraction`) → an Iceberg
    *    v2 POSITION delete file (file_path, pos): O(matched rows) written
    *    instead of a full rewrite, applied by the existing merge-on-read
    *    anti-join;
    *  - a large matched fraction → the file is rewritten without the
    *    matched rows (copy-on-write through the same fanout task writers
    *    as every other write, so tuples/stats are preserved) — UNLESS the
    *    table has outstanding delete files, which force the position path
    *    (a rewritten file would take a new sequence number, escape the
    *    older deletes, and resurrect rows).
    *
    * At 100 TB this is the difference between "DELETE of one bad record
    * rewrites a 512 MB file" and "DELETE writes a 100-byte delete file".
    * Returns the new snapshot id, or -1 when nothing matched.
    */
  def positionDeleteWhere(
      spark: SparkSession, tableDir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      maxPosDeleteFraction: Double = 0.3,
      committer: Option[TableCommitter] = None,
      branch: String = "main"): Long = {
    // write-audit-publish: plan the matching pass against the BRANCH
    // head's file set (pinned view) and stack the delete snapshot on the
    // branch — a branch-staged delete must see branch-staged inserts, and
    // main must see neither until publish
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    if (b.baseSnap.isEmpty) return -1L
    val (conf, table, snapId, u) = (b.conf, b.table, b.snapId, b.u)
    val meta = table.metadata

    val cond = {
      val cols = filters.flatMap(IcebergTable.filterToColumn)
      require(cols.size == filters.size,
        s"DELETE predicate not expressible as columns: ${filters.mkString(", ")}")
      cols.reduce(_ && _)
    }
    val candidates = table.planFiles(filters)
    if (candidates.isEmpty) return -1L
    def norm(s: String) = IcebergTable.normPathStatic(s)
    val byNorm: Map[String, DataFileEntry] =
      candidates.map(f => norm(table.resolve(f.filePath)) -> f).toMap

    // one distributed pass over the pruned candidates: matched (file, pos)
    // pairs — schema-by-field-id read for parquet; Avro imports decode
    // row-wise with TRUE record-index positions (AvroDataRead), so
    // position deletes target them exactly like native files. ORC files
    // have NO row positions (Spark's ORC source lacks
    // _metadata.row_index) — they join the pass with a placeholder pos
    // for per-file matched COUNTS only, and the strategy step below
    // forces them onto the fullyDead/rewrite branches (never posDel).
    val (avroCands, colCands) =
      candidates.partition(_.fileFormat.equalsIgnoreCase("AVRO"))
    val (orcCands, pqCands) =
      colCands.partition(_.fileFormat.equalsIgnoreCase("ORC"))
    // ORC resolves columns BY NAME; on a table with a name mapping
    // (renames happened, or id-less imports exist) a pre-rename ORC file
    // would read the renamed column as NULL here — mis-counting matches
    // AND, worse, the CoW rewrite below would write the survivors back
    // with that column nulled. Refuse before anything is written; the
    // group-scan CoW path has the same guard (RowLevelOps).
    if (orcCands.nonEmpty && table.needsNameMapping(spark, orcCands))
      throw new UnsupportedOperationException(
        "position-delete DELETE targets ORC files on a table with " +
          "schema.name-mapping.default (renamed columns resolve by name " +
          "and would read NULL) — run rewrite_data_files first to " +
          "materialize the ORC files under the current schema")
    val matchedParts = Seq(
      if (pqCands.isEmpty) None
      else Some(spark.read.schema(meta.schema)
        .parquet(pqCands.map(f => table.resolve(f.filePath)): _*)
        .filter(cond)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"))),
      if (orcCands.isEmpty) None
      else Some(spark.read.schema(meta.schema)
        .orc(orcCands.map(f => table.resolve(f.filePath)): _*)
        .filter(cond)
        .select(col("_metadata.file_path").as("file_path"),
          lit(-1L).as("pos"))),
      if (avroCands.isEmpty) None
      else Some(table.scanAvroFiles(spark, avroCands, withIds = true)
        .filter(cond)
        .select(col(IcebergTable.FpCol).as("file_path"),
          col(IcebergTable.PosCol).as("pos")))).flatten
    val matched = matchedParts.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts: Map[String, Long] = matched.groupBy("file_path").count()
        .collect().map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
      if (counts.isEmpty) return -1L

      val fullyDead = scala.collection.mutable.Set.empty[String] // stored paths
      val posDel = scala.collection.mutable.Set.empty[String] // qualified paths
      val rewrite = scala.collection.mutable.Set.empty[String] // stored paths
      counts.foreach { case (np, m) =>
        val f = byNorm(np)
        if (m >= f.recordCount) fullyDead += f.filePath
        else if (f.fileFormat.equalsIgnoreCase("ORC")) {
          // ORC rows have no positions, so a partially-matched ORC file
          // can only be REWRITTEN (copy-on-write). Two modes make that
          // impossible and refuse loudly BEFORE anything is written:
          // merge-on-read pinning (fraction >= 1 promises no rewrites)
          // and existing delete files (the rewrite read below is a raw
          // per-format scan that cannot apply them).
          if (maxPosDeleteFraction >= 1.0 || table.hasDeletes)
            throw new UnsupportedOperationException(
              "position-delete DELETE targets ORC file " + f.filePath +
                " which has no row positions (Spark's ORC source lacks " +
                "_metadata.row_index) — use an equality-expressible " +
                "predicate or run rewrite_data_files first")
          rewrite += f.filePath
        }
        else if (m.toDouble / math.max(f.recordCount, 1L) <= maxPosDeleteFraction
                 || table.hasDeletes
                 // Avro files never take the CoW rewrite branch (its
                 // surviving-rows read is the parquet source); the
                 // position-delete representation costs the same and
                 // compaction materializes them later
                 || f.fileFormat.equalsIgnoreCase("AVRO")) posDel += np
        else rewrite += f.filePath
      }

      // position path representation: v2 parquet by default; v3 deletion
      // vectors when the table opts in (`graft.write.deletes = dv`) —
      // one roaring blob per affected file, encoded in executors,
      // absorbing every older delete position for that file so the prior
      // DV entries it supersedes can drop from the manifests below
      val posMatched = matched
        .withColumn("__np", table.normPathExpr(col("file_path")))
        .filter(col("__np").isInCollection(posDel))
      val (posDelMl: Option[GenericRecord], deletes: Carry) =
        if (posDel.isEmpty) (None, Keep)
        else if (dvWriteMode(meta)) writeDeletionVectors(spark, b, table,
          posMatched.select(col("__np").as("__ref"), col("pos")),
          posDel.iterator.map(np => np -> byNorm(np)).toMap)
        else (writeMergedPositionDeletes(b, posMatched,
          posDel.toSeq.map(np => counts(np)).sum), Keep)

      // rewrite group: surviving rows through the shared fanout writers —
      // one scan per source format (a mixed parquet+ORC rewrite set
      // unions), written back in the table's declared format
      val rewrittenAdds: Seq[AddedDataFile] = if (rewrite.isEmpty) Nil else {
        val fmtOf: Map[String, String] =
          candidates.map(f => f.filePath -> f.fileFormat).toMap
        val (orcRw, pqRw) = rewrite.toSeq
          .partition(p => fmtOf.get(p).exists(_.equalsIgnoreCase("ORC")))
        // v3 row lineage: surviving rows of a partially-deleted file keep
        // their ids — read each row's _row_id (materialized column or
        // manifest first_row_id + position) and materialize it into the
        // replacement files. ORC sources have no row positions: their
        // survivors' lineage degrades to null (same stance as the read).
        val lineage = wantsLineage(meta)
        import graft.iceberg.IcebergTable.{RowIdCol, LastUpdCol}
        def readSchema0 =
          if (!lineage) meta.schema
          else org.apache.spark.sql.types.StructType(
            meta.schema.fields ++ IcebergTable.lineageFields())
        def withLineage(df: DataFrame): DataFrame =
          if (!lineage) df
          else table.completeRowLineage(spark, df, candidates,
            col("_metadata.file_path"), col("_metadata.row_index"))
        val srcParts = Seq(
          if (pqRw.isEmpty) None
          else Some(withLineage(spark.read.schema(readSchema0)
            .parquet(pqRw.map(p => table.resolve(p)): _*))),
          if (orcRw.isEmpty) None
          else Some(spark.read.schema(readSchema0)
            .orc(orcRw.map(p => table.resolve(p)): _*))).flatten
        val keepCols = meta.schema.fieldNames.toSeq ++
          (if (lineage) Seq(RowIdCol, LastUpdCol) else Nil)
        val src0 = srcParts.reduce(_ unionByName _)
          .filter(!cond)
          .select(keepCols.map(col): _*)
        val src = if (lineage) stampLineageField(src0) else src0
        writeDataFiles(src, s"$tableDir/data/s$snapId-$u", meta, conf)
      }

      // one snapshot: the branch head's manifests minus dropped/rewritten
      // files, plus the rewrite manifest and the position-delete manifest.
      // Delete manifests pass through untouched — except, in DV mode, the
      // entries the new vectors supersede or make redundant
      val removed = withoutFiles(fullyDead.toSet ++ rewrite)
      // removed data files' stats are known from the planned candidates
      val removedFiles = candidates.filter(f =>
        fullyDead.contains(f.filePath) || rewrite.contains(f.filePath))
      produce(b, SnapshotUpdate("delete",
        b.newManifest(rewrittenAdds, meta).toSeq ++ posDelMl,
        carry = m => if (m.content == 1) deletes else removed,
        totals = adjust(fileTotals(removedFiles), addedTotals(rewrittenAdds))))
    } finally matched.unpersist()
  }

  /** Delete manifests of the base, classified by the kind of delete
    * FILES they carry: (manifest, entries, kind) with kind 1 = position,
    * 2 = equality. A manifest mixing kinds is refused loudly — the
    * compaction/conversion procedures re-stamp sequence numbers per
    * manifest, and mis-stamping across kinds would change semantics. */
  private def classifyDeleteManifests(b: CommitBase, verb: String)
      : Seq[(ManifestFile, Seq[DeleteFileEntry], Int)] =
    b.prior.filter(_.content == 1).map { m =>
      val entries = ManifestIO.readDeleteManifest(m.path, b.conf, m.sequenceNumber)
      val kinds = entries.map(_.content).toSet
      require(kinds.size <= 1,
        s"delete manifest ${m.path} mixes position and equality files — " +
          s"refusing to $verb rather than mis-stamp sequence numbers")
      (m, entries, kinds.headOption.getOrElse(1))
    }

  /** Write `rows` (`file_path`, `pos`) as ONE spec-sorted position-delete
    * parquet file plus its manifest, returning the manifest-list record
    * (None when `rowCount` is 0). Shared by every v2 position-delete
    * writer — one copy of the field-id metadata, sort order, and
    * manifest-entry layout. */
  private def writeMergedPositionDeletes(
      b: CommitBase, rows: DataFrame, rowCount: Long): Option[GenericRecord] = {
    if (rowCount == 0) return None
    val delDir = s"${b.tableDir}/data/del-s${b.snapId}-${b.u}"
    rows.select(IcebergTable.posDeleteWriteSchema.fields.toSeq
        .map(f => col(f.name).as(f.name, f.metadata)): _*)
      .repartition(1).sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(delDir)
    val fs = new Path(delDir).getFileSystem(b.conf)
    val delFiles = fs.listStatus(new Path(delDir))
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    val entries = delFiles.map(st =>
      deleteEntryRecord(st.getPath.toString, "PARQUET", rowCount, st.getLen))
    Some(b.deleteManifest("del", entries, rowCount))
  }

  /** Compact merge-on-read POSITION-delete debt — Iceberg's
    * `rewrite_position_delete_files`: every q67-style UPDATE/MERGE/DELETE
    * appends another small delete file, and each one is an extra
    * broadcast + anti-join input on EVERY subsequent read, so the debt is
    * read-amplification that only grows until something folds it.
    *
    * One snapshot does three things: (1) dangling entries (their data
    * file already left the table) are dropped; (2) data files whose every
    * row is deleted fold away entirely — with their delete entries;
    * (3) every surviving entry merges into ONE sorted position-delete
    * file (spec order: file_path, pos). Equality-delete files pass
    * through untouched — their sequence-number gating (`dataseq <
    * delseq`, strict) cannot survive re-stamping, so merging them would
    * change semantics. Re-stamping POSITION entries to the new snapshot's
    * sequence number is sound because entries name writer-unique paths:
    * an entry referencing a live file was necessarily written no earlier
    * than it (`dataseq <= delseq` holds before and after).
    *
    * Committed as operation `replace` (same live rows, different files) —
    * the changelog sees data movement, not change. Returns (snapshotId,
    * positionDeleteFilesRewritten, fullyDeletedDataFilesRemoved);
    * (-1 current id, 0, 0) when there is nothing to do.
    */
  def rewritePositionDeleteFiles(spark: SparkSession, tableDir: String,
                                 committer: Option[TableCommitter] = None)
      : (Long, Int, Int) = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val t = b.table
    val noop = (b.meta.currentSnapshotId.getOrElse(-1L), 0, 0)
    val classified = classifyDeleteManifests(b, "compact")
    val posManifests = classified.filter(_._3 == 1)
    if (posManifests.isEmpty) return noop
    val posFiles = posManifests.flatMap(_._2)
    require(posFiles.forall(!_.isDv),
      "rewrite_position_delete_files: table carries v3 deletion vectors; " +
        "DV maintenance is not implemented (DV support is read-path) — " +
        "rewrite_data_files materializes them instead")

    def norm(s: String) = IcebergTable.normPathStatic(s)
    val dataFiles = t.planFiles()
    val byNorm: Map[String, DataFileEntry] =
      dataFiles.map(f => norm(t.resolve(f.filePath)) -> f).toMap

    // every live entry, deduplicated: dangling refs filter away; the same
    // (path, pos) deleted by several files is one delete
    val liveNorms = byNorm.keys.toSeq
    val live0 = spark.read
      .parquet(posFiles.map(d => t.resolve(d.filePath)).distinct: _*)
      .select(col("file_path"), col("pos"))
      .withColumn("__np",
        regexp_replace(col("file_path"), IcebergTable.NormSchemeRegex, "/"))
    val live = (if (liveNorms.isEmpty) live0.limit(0)
                else live0.filter(col("__np").isInCollection(liveNorms)))
      .dropDuplicates("__np", "pos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-FILE counts: file-count bounded, like the delete strategy scan
      val counts: Map[String, Long] = live.groupBy("__np").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fullyDeadNorm: Set[String] =
        counts.keySet.filter(np => counts(np) >= byNorm(np).recordCount)
      val fullyDead: Set[String] = fullyDeadNorm.map(byNorm(_).filePath)
      val remainingRows = (counts -- fullyDeadNorm).values.sum

      // the merged delete file: surviving entries, spec sort order
      val keep =
        if (fullyDeadNorm.isEmpty) live
        else live.filter(!col("__np").isInCollection(fullyDeadNorm.toSeq))
      val delMl = writeMergedPositionDeletes(b, keep, remainingRows)

      // data manifests: fold fully-dead files away; equality delete
      // manifests pass through; position delete manifests are superseded
      val eqManifests = classified.filter(_._3 == 2).map(_._1).toSet
      val dead = withoutFiles(fullyDead)
      produce(b, SnapshotUpdate("replace", delMl.toSeq,
        carry = m =>
          if (m.content != 1) dead else if (eqManifests(m)) Keep else Drop,
        expectDropped = Some((fullyDead.size, n =>
          s"rewrite_position_delete_files: $n of " +
            s"${fullyDead.size} fully-deleted files found in the current " +
            "snapshot — a concurrent rewrite moved them; retry")),
        totals = adjust(removed = fileTotals(fullyDeadNorm.toSeq.map(byNorm)))))
      (b.snapId, posFiles.size, fullyDead.size)
    } finally { live.unpersist(); () }
  }

  /** Convert EQUALITY-delete debt to position deletes — the companion of
    * [[rewritePositionDeleteFiles]] for the other delete kind: streaming
    * upsert sinks and q57-style `DELETE WHERE k IN (…)` land equality
    * deletes, and every one is a full predicate re-evaluation against
    * every overlapping data file on EVERY read. Conversion is a one-time
    * materialization of that matching: the exact rows each equality
    * delete removes under the spec's strict `dataseq < delseq` gate
    * become `(file_path, pos)` entries in ONE sorted position-delete
    * file, and the equality manifests drop. Semantically exact — rows
    * written AFTER the equality delete never matched it (their sequence
    * is not smaller), and position entries name writer-unique paths, so
    * nothing can over- or under-apply afterwards.
    *
    * Committed as `replace` (same live rows, different delete
    * representation); run [[rewritePositionDeleteFiles]] after to merge
    * the result with pre-existing position debt. Returns (snapshotId,
    * equalityFilesConverted, positionRowsWritten); (current, 0, 0) when
    * the table has no equality deletes.
    */
  def convertEqualityDeletes(spark: SparkSession, tableDir: String,
                             committer: Option[TableCommitter] = None)
      : (Long, Int, Long) = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val (meta, t) = (b.meta, b.table)
    val noop = (meta.currentSnapshotId.getOrElse(-1L), 0, 0L)
    val eqManifests = classifyDeleteManifests(b, "convert").filter(_._3 == 2)
    if (eqManifests.isEmpty) return noop
    val eqFiles = eqManifests.flatMap(_._2)

    val positions = t.equalityDeletePositions(spark)
      .dropDuplicates("file_path", "pos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = positions.count()
      // representation follows the table's delete-write mode: v2 merged
      // position parquet by default; on a DV table the converted debt
      // lands as v3 deletion vectors (one roaring blob per affected
      // file), absorbing that file's EXISTING positions (the spec's
      // one-DV-per-file superset rule) so superseded DV entries — and
      // v2 position files the new vectors fully cover — drop below
      val (delMl: Option[GenericRecord], absorbed: Carry) =
        if (!dvWriteMode(meta)) (writeMergedPositionDeletes(b, positions, nRows), Keep)
        else {
          val withRef = positions
            .withColumn("__ref", t.normPathExpr(col("file_path")))
            .select(col("__ref"), col("pos"))
          // bounded driver read: the eq-affected file set (same class as
          // the row-level writers' per-file planning)
          val refs = withRef.select("__ref").distinct()
            .collect().map(_.getString(0)).toSet
          if (refs.isEmpty) (None, Keep)
          else {
            val byNorm = t.planFiles()
              .map(f => t.normPath(t.resolve(f.filePath)) -> f).toMap
            writeDeletionVectors(spark, b, t, withRef,
              refs.iterator.map(r => r -> byNorm(r)).toMap, prefix = "m-ceq")
          }
        }
      // equality manifests drop (converted); data manifests pass
      // through; position-delete manifests pass through untouched in v2
      // mode, and in DV mode shed the entries the new vectors absorbed
      val converted = eqManifests.map(_._1).toSet
      produce(b, SnapshotUpdate("replace", delMl.toSeq, carry = m =>
        if (m.content != 1) Keep else if (converted(m)) Drop else absorbed))
      (b.snapId, eqFiles.size, nRows)
    } finally { positions.unpersist(); () }
  }

  /** Commit a v3 DELETION VECTOR for one data file: the positions land
    * as a `deletion-vector-v1` blob in a Puffin file, referenced by a
    * content = 1 manifest entry carrying the v3 fields
    * (`referenced_data_file`, `content_offset`, `content_size_in_bytes`).
    * This is the v3-writer stand-in behind the DV READ path's tests and
    * the migration utility for tables moving off v2 position-delete
    * files; the SQL DELETE surface still writes v2 (every engine reads
    * those). `dataFilePath` must be a live data file's stored path.
    *
    * The v3 spec allows AT MOST ONE DV per data file, and a replacement
    * must contain every previously deleted position. A prior DV for
    * this file is therefore SUPERSEDED: its positions union into the
    * new vector and its manifest drops from the snapshot (a prior DV
    * inside a manifest that also carries OTHER entries is refused
    * loudly — rewriting foreign mixed manifests lossily is worse than
    * asking the caller to compact first). Returns the new snapshot id. */
  def addDeletionVector(spark: SparkSession, tableDir: String,
                        dataFilePath: String, positions: Seq[Long],
                        committer: Option[TableCommitter] = None): Long = {
    require(positions.nonEmpty, "a deletion vector must delete something")
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val (conf, t, snapId) = (b.conf, b.table, b.snapId)
    require(t.planFiles().exists(_.filePath == dataFilePath),
      s"addDeletionVector: $dataFilePath is not a live data file")

    val withEntries = b.prior.filter(_.content == 1).map(m =>
      m -> ManifestIO.readDeleteManifest(m.path, conf, m.sequenceNumber))
    val (affected, _) = withEntries.partition(_._2.exists(d =>
      d.isDv && d.referencedDataFile.contains(dataFilePath)))
    affected.foreach { case (m, entries) =>
      require(entries.forall(d =>
          d.isDv && d.referencedDataFile.contains(dataFilePath)),
        s"addDeletionVector: $dataFilePath already has a deletion vector " +
          s"inside MIXED delete manifest ${m.path} — superseding it would " +
          "rewrite foreign entries; compact the table first")
    }
    val priorPositions: Seq[Long] = affected.flatMap(_._2).flatMap { d =>
      DeletionVectors.decode(Puffin.readBlob(
        new Path(t.resolve(d.filePath)), conf,
        d.contentOffset.get, d.contentSize.get.toInt)).toSeq
    }
    val allPositions = (positions ++ priorPositions).distinct
    val superseded = affected.map(_._1).toSet

    val blobPayload = DeletionVectors.encode(allPositions)
    val pPath = new Path(s"$tableDir/data/dv-s$snapId-${b.u}.puffin")
    // blob snapshot-id and sequence-number both identify the committing
    // snapshot (our sequence convention is the snapshot id throughout)
    val written = Puffin.write(pPath, conf, Seq(Puffin.Blob(
      DeletionVectors.BlobType, Nil, snapId, snapId, blobPayload,
      Map("referenced-data-file" -> dataFilePath,
        "cardinality" -> allPositions.size.toString))))
    // blob offset: magic + nothing before the first blob
    val blobOffset = Puffin.Magic.length.toLong
    val e = deleteEntryRecord(pPath.toString, "PUFFIN",
      allPositions.size.toLong, written.fileSizeInBytes,
      dv = Some((dataFilePath, blobOffset, blobPayload.length.toLong)))
    // superseded DV manifests drop; everything else passes through
    produce(b, SnapshotUpdate("delete",
      Seq(b.deleteManifest("dv", Seq(e), allPositions.size.toLong)),
      carry = m => if (superseded(m)) Drop else Keep))
  }

  /** Row-level deletes in the v3 DELETION-VECTOR form (`deletion-
    * vector-v1` Puffin blobs instead of v2 parquet files). Two triggers:
    * the soft opt-in property `graft.write.deletes = dv` (DV files on an
    * otherwise-v2 table — useful for staged migrations), or a DECLARED
    * v3 table (`format-version = 3` stamped or pending via the table
    * property), where the spec makes the DV form mandatory for new
    * position deletes. */
  private[graft] def dvWriteMode(meta: TableMetadata): Boolean =
    meta.properties.get("graft.write.deletes").contains("dv") ||
      meta.formatVersion >= 3 ||
      meta.properties.get("format-version").contains("3")

  /** Write a position set as v3 deletion vectors and return the delete
    * manifest's manifest-list record (None when `positions` is empty).
    *
    * `positions` columns: `__ref` = NORMALIZED resolved data-file path,
    * `pos`. The frame is built for scale: positions repartition BY FILE
    * (the spec allows one DV per data file, so one task must own each
    * file's bitmap anyway), sort within partitions, and each task
    * encodes its files' roaring blobs and writes ONE Puffin file for all
    * of them — positions never collect to the driver; only the per-file
    * manifest metadata (path/offset/size/cardinality) does. Blob
    * encoding memory is bounded by the largest single file's deleted
    * positions. Task filenames carry the attempt id, so a retried or
    * speculated attempt re-creates under a fresh name; losing attempts
    * leave unreferenced Puffin files that snapshot-reachability cleanup
    * treats like any other orphan.
    *
    * `storedByNorm` maps normalized paths back to the paths AS STORED in
    * the data manifests — the spec's `referenced_data_file` must match
    * the data file's manifest `file_path` exactly. */
  private[graft] def writeDvManifest(
      spark: SparkSession, conf: org.apache.hadoop.conf.Configuration,
      tableDir: String, meta: TableMetadata, snapId: Long, u: String,
      positions: org.apache.spark.sql.DataFrame,
      storedByNorm: Map[String, String]): Option[GenericRecord] = {
    val hc = new org.apache.spark.util.SerializableConfiguration(conf)
    val bStored = spark.sparkContext.broadcast(storedByNorm)
    // one task can own several files' bitmaps, but never fewer tasks than
    // the session's shuffle parallelism allows when there are files to
    // spread — a fixed small cap would serialize a wide DELETE's encode
    // stage on a large cluster
    val nParts = math.max(1, math.min(storedByNorm.size,
      spark.sessionState.conf.numShufflePartitions))
    val written: Array[(String, String, Long, Long, Long, Long)] = positions
      .repartition(nParts, col("__ref"))
      .sortWithinPartitions("__ref", "pos")
      .select(col("__ref"), col("pos"))
      .rdd.mapPartitions { it =>
        val blobs = Vector.newBuilder[(String, Array[Byte], Long)]
        var cur: String = null
        var buf = Array.newBuilder[Long]
        var last = Long.MinValue
        def flush(): Unit = if (cur != null) {
          val ps = buf.result()
          blobs += ((cur, DeletionVectors.encode(ps), ps.length.toLong))
        }
        while (it.hasNext) {
          val r = it.next()
          val ref = r.getString(0); val pos = r.getLong(1)
          if (ref != cur) {
            flush(); cur = ref
            buf = Array.newBuilder[Long]; last = Long.MinValue
          }
          if (pos != last) { buf += pos; last = pos }
        }
        flush()
        val bs = blobs.result()
        if (bs.isEmpty) Iterator.empty
        else {
          val stored = bStored.value
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(tc => s"${tc.partitionId}-${tc.taskAttemptId}")
            .getOrElse("driver")
          val pPath = new Path(s"$tableDir/data/dv-s$snapId-$u-$attempt.puffin")
          val w = Puffin.write(pPath, hc.value, bs.map { case (ref, payload, card) =>
            // blob snapshot-id and sequence-number both identify the
            // committing snapshot (sequence convention = snapshot id)
            Puffin.Blob(DeletionVectors.BlobType, Nil, snapId, snapId, payload,
              Map("referenced-data-file" -> stored.getOrElse(ref, ref),
                "cardinality" -> card.toString))
          })
          var off = Puffin.Magic.length.toLong
          bs.iterator.map { case (ref, payload, card) =>
            val e = (stored.getOrElse(ref, ref), pPath.toString,
              w.fileSizeInBytes, off, payload.length.toLong, card)
            off += payload.length
            e
          }
        }
      }.collect()
    bStored.destroy()
    if (written.isEmpty) return None
    val entries = written.toSeq.map { case (ref, pPath, fSize, off, size, card) =>
      deleteEntryRecord(pPath, "PUFFIN", card, fSize, dv = Some((ref, off, size)))
    }
    Some(writeDeleteManifest(conf,
      new Path(s"$tableDir/metadata/m-dv-s$snapId-$u.avro"), entries, snapId,
      written.map(_._6).sum, meta.defaultSpecId))
  }

  /** Write `positions` (`__ref` = normalized path of a key of `files`,
    * `pos`) as deletion vectors, one per file, each absorbing every
    * older delete position for its file ([[dvAbsorbPositions]]). Returns
    * the DV manifest's list record and the policy for the base's delete
    * manifests: the vectors these supersede drop, and so do v2 files
    * every live referenced file of which now carries a vector
    * ([[dvConvergedV2Drops]] — the table's delete debt converges). */
  private def writeDeletionVectors(spark: SparkSession, b: CommitBase,
      table: IcebergTable, positions: DataFrame,
      files: Map[String, DataFileEntry],
      prefix: String = "m"): (Option[GenericRecord], Carry) = {
    val targets = files.map { case (np, f) => np -> f.sequenceNumber.getOrElse(-1L) }
    val all = dvAbsorbPositions(spark, table, targets)
      .map(positions.unionByName(_)).getOrElse(positions)
    val ml = writeDvManifest(spark, b.conf, b.tableDir, b.meta, b.snapId, b.u,
      all, files.map { case (np, f) => np -> f.filePath })
    val v2Drops = dvConvergedV2Drops(spark, table, files.keySet)
    (ml, withoutSuperseded(files.keySet, v2Drops,
      p => table.normPath(table.resolve(p)), prefix))
  }

  /** Every prior delete position a NEW deletion vector for `targets`
    * (normalized paths → data sequence number) must absorb — the v3 spec
    * makes a file's DV a superset of all older position deletes for it:
    *
    *  - prior DVs referencing a target (they are SUPERSEDED — the caller
    *    drops their manifest entries, so losing their positions would
    *    resurrect rows): blob bytes load on the driver (compressed
    *    bitmaps, bounded by `content_size_in_bytes`), decode in
    *    executors;
    *  - prior v2 parquet position deletes naming a target, gated by the
    *    sequence rule (`delseq >= dataseq`) — a delete older than the
    *    data file never applied to it and must NOT leak into its DV.
    *    The v2 FILES stay referenced (they may name other data files);
    *    the duplicate positions are harmless under both the union reader
    *    here and a spec reader that ignores them in favor of the DV.
    *
    * Returns None when nothing needs absorbing. */
  private def dvAbsorbPositions(
      spark: SparkSession, table: IcebergTable,
      targets: Map[String, Long]): Option[org.apache.spark.sql.DataFrame] = {
    val pos = table.planDeletes().filter(_.content == 1)
    if (pos.isEmpty) return None
    // skip files that provably cannot name a target without opening them:
    // a DV names exactly its referenced file; a v2 file with a
    // single-target hint outside the target set never matches
    val relevant = pos.filter { d =>
      if (d.isDv) d.referencedDataFile
        .exists(r => targets.contains(table.normPath(table.resolve(r))))
      else d.referencedDataFile
        .forall(r => targets.contains(table.normPath(table.resolve(r))))
    }
    if (relevant.isEmpty) return None
    // the READ path's expansion pipeline (same normalization, same blob
    // cache) yields (data path, position, delete sequence); the write
    // side only adds the per-target sequence gate. The gate never drops
    // a prior DV's positions: a DV is committed against a then-live
    // file, so its sequence post-dates the file's (a rewrite would have
    // changed the file's path out of the target set) — only genuinely
    // non-applying v2 positions are filtered.
    val dataSeqDF = spark.createDataFrame(targets.toSeq)
      .toDF("__g_dfpn", "__g_dataseq")
    table.positionDeleteRows(spark, relevant).map(_
      .join(broadcast(dataSeqDF), Seq("__g_dfpn"))
      .filter(col("__g_delseq") >= col("__g_dataseq"))
      .select(col("__g_dfpn").as("__ref"), col("__g_dpos").as("pos")))
  }

  /** Which v2 position-delete FILES a DV commit for `targets` makes
    * redundant: every referenced data file either carries a DV after
    * this commit (its applicable positions were absorbed — superset
    * invariant) or is no longer live (the entry dangles). Dropping their
    * manifest entries makes a DV table's debt CONVERGE to one vector per
    * file instead of carrying absorbed v2 files until compaction.
    * Positions the absorb SEQUENCE-GATED out (delseq < dataseq) are safe
    * to lose with the entry: by the v2 rule they never applied to the
    * file now living at that path, and paths are writer-unique. */
  private def dvConvergedV2Drops(
      spark: SparkSession, table: IcebergTable,
      targets: Set[String]): Set[String] = {
    val (dvs, pq) = table.planDeletes().filter(_.content == 1).partition(_.isDv)
    if (pq.isEmpty) return Set.empty
    def norm(p: String) = table.normPath(table.resolve(p))
    val liveNorm = table.planFiles().map(f => norm(f.filePath)).toSet
    // files with a PRE-EXISTING DV count as covered too — but only for
    // v2 files the DV could have absorbed: every DV folds in the
    // position deletes visible WHEN IT WAS CREATED (spec superset
    // invariant), so a v2 file committed after the DV (higher sequence)
    // is NOT shadowed by it and must stay
    val dvSeqByRef: Map[String, Long] = dvs
      .flatMap(d => d.referencedDataFile.map(r =>
        norm(r) -> d.sequenceNumber.getOrElse(Long.MinValue)))
      .groupMapReduce(_._1)(_._2)(math.max)
    def covered(r: String, v2Seq: Long) =
      targets.contains(r) ||
        dvSeqByRef.get(r).exists(_ >= v2Seq) ||
        !liveNorm.contains(r)
    def v2Seq(d: DeleteFileEntry): Long =
      d.sequenceNumber.getOrElse(Long.MaxValue)
    val (hinted, unhinted) = pq.partition(_.referencedDataFile.nonEmpty)
    val hintedDrop = hinted.filter(d =>
      covered(norm(d.referencedDataFile.get), v2Seq(d)))
    val refsBySrc: Map[String, Seq[String]] =
      if (unhinted.isEmpty) Map.empty
      else spark.read.schema(table.posDeleteReadSchema)
        .parquet(unhinted.map(d => table.resolve(d.filePath)): _*)
        .select(table.normPathExpr(col("_metadata.file_path")).as("src"),
          table.normPathExpr(table.resolveExpr(col("file_path"))).as("ref"))
        .distinct().collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    val unhintedDrop = unhinted.filter(d =>
      refsBySrc.get(norm(d.filePath))
        .exists(_.forall(r => covered(r, v2Seq(d)))))
    (hintedDrop ++ unhintedDrop).map(d => norm(d.filePath)).toSet
  }

  /** ANALYZE for the cost-based optimizer: ONE distributed aggregate pass
    * over the current snapshot computes per-column NDV
    * (`approx_count_distinct`) and, for strings/binary, average/max
    * byte lengths, and stores them as `graft.stats.*` table properties in
    * a metadata-only commit. Scans serve them back through DSv2
    * `Statistics.columnStats` (see `GraftColumnStats`), which Spark folds
    * into catalyst column stats under `spark.sql.cbo.enabled` — join
    * reorder and selectivity estimation then see real NDVs instead of
    * guessing. min/max/nullCount are NOT stored: manifests already answer
    * those fresh on every plan.
    *
    * `columns` empty = every analyzable top-level column. The commit pins
    * `graft.stats.snapshot-id` for observability; readers treat NDV as
    * the estimate it is (capped by live row count at serve time), so
    * ANALYZE after major churn is a quality refresh, not a correctness
    * requirement. Returns (snapshotId analyzed against, columnsAnalyzed).
    */
  def analyzeTable(spark: SparkSession, tableDir: String,
                   columns: Seq[String] = Nil,
                   committer: Option[TableCommitter] = None): (Long, Int) = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val (conf, meta, t) = (b.conf, b.meta, b.table)
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // approx_count_distinct needs a Spark-hashable type: every scalar
    // plus arrays/structs of them (XxHash64 walks those) — but not maps,
    // variant, or unknown. Maps are still ANALYZABLE: their NDV comes
    // from the canonical-encoding theta sketch itself (the same payload
    // external engines merge); variant/unknown have no deterministic
    // value encoding at all and stay outside the default analyze set.
    def sparkHashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case org.apache.spark.sql.types.VariantType |
           org.apache.spark.sql.types.NullType => false
      case a: org.apache.spark.sql.types.ArrayType => sparkHashable(a.elementType)
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.forall(f => sparkHashable(f.dataType))
      case _ => true
    }
    val analyzable =
      meta.schema.fields.filter(f => sparkHashable(f.dataType) ||
        ThetaSketch.canonicalEncoder(f.dataType).isDefined).map(_.name).toSeq
    val target =
      if (columns.isEmpty) analyzable
      else {
        val bad = columns.filterNot(analyzable.contains)
        require(bad.isEmpty,
          s"analyze_table: not analyzable top-level columns: " +
            s"${bad.mkString(", ")} (have: ${analyzable.mkString(", ")})")
        columns
      }
    require(target.nonEmpty, "analyze_table: no analyzable columns")
    val df = t.toDF(spark)
    // One bounded theta job per column, shared by the Puffin payload AND
    // the NDV property for encoder-only columns (maps), whose type
    // approx_count_distinct cannot hash.
    val sketches: Map[String, Option[ThetaSketch.Compact]] =
      target.map(c => c -> ThetaSketch.columnSketch(df, c)).toMap
    val hashableTarget =
      target.filter(c => sparkHashable(meta.schema(c).dataType))
    val aggs = hashableTarget.flatMap { c =>
      val isLen = meta.schema(c).dataType match {
        case StringType | BinaryType => true
        case _ => false
      }
      Seq(approx_count_distinct(col(c)).as(s"__ndv_$c")) ++
        (if (isLen)
           Seq(avg(octet_length(col(c).cast("binary"))).as(s"__avg_$c"),
             max(octet_length(col(c).cast("binary"))).as(s"__max_$c"))
         else Nil)
    }
    val row =
      if (aggs.isEmpty) null
      else df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def ndvOf(c: String): Long =
      if (hashableTarget.contains(c)) row.getAs[Long](s"__ndv_$c")
      else sketches(c).map(sk => math.round(sk.estimate)).getOrElse(0L)
    val props = scala.collection.mutable.Map[String, String](
      "graft.stats.snapshot-id" ->
        meta.currentSnapshotId.getOrElse(-1L).toString)
    target.foreach { c =>
      props(s"graft.stats.ndv.$c") = ndvOf(c).toString
      if (row != null && row.schema.fieldNames.contains(s"__avg_$c")) {
        Option(row.getAs[Any](s"__avg_$c")).foreach(v =>
          props(s"graft.stats.avglen.$c") =
            math.ceil(v.toString.toDouble).toLong.toString)
        Option(row.getAs[Any](s"__max_$c")).foreach(v =>
          props(s"graft.stats.maxlen.$c") = v.toString)
      }
    }
    val mapper = new ObjectMapper()
    val upd = mapper.createObjectNode()
    upd.put("action", "set-properties")
    val updates = upd.putObject("updates")
    props.foreach { case (k, v) => updates.put(k, v) }

    // Spec-standard home for the same NDVs: a Puffin statistics file
    // with one theta blob per analyzed column (each carrying the `ndv`
    // property — what other engines' planners read) + the metadata
    // `statistics` entry, landed in the SAME commit as the properties.
    // `graft.stats.*` stays as the read fallback for pre-Puffin tables.
    val sid = meta.currentSnapshotId.getOrElse(-1L)
    val statUpd = {
      val blobs = target.flatMap { c =>
        meta.fieldIds.get(c).map { fid =>
          val ndv = ndvOf(c)
          // payload: a REAL DataSketches-compact theta sketch (one
          // bounded bottom-k job per column), so external engines can
          // deserialize and MERGE it; types without an update()-
          // compatible encoding keep the documented stand-in, MARKED
          // with `graft.theta.stand-in` so an external engine can skip
          // merging it. When the sketch is real, the blob's `ndv`
          // property is the sketch's own estimate — property and
          // payload must agree for engines that read only one of them.
          val sketch = sketches(c)
          val (payload, blobProps) = sketch match {
            case Some(sk) =>
              // `graft.theta.encoding = 2`: hashing canonicalizes
              // -0.0/NaN float/double ARRAY elements before encoding
              // (ThetaSketch.arrayElementEncoder). Blobs written before
              // the marker existed hash those values differently —
              // merging across the encoding change double-counts them,
              // so a merger must treat a missing/different encoding tag
              // as merge-incompatible and re-analyze instead.
              (sk.serialize(),
                Map("ndv" -> math.round(sk.estimate).toString,
                  "graft.theta.encoding" -> "2"))
            case None =>
              (Puffin.thetaStandInPayload(ndv),
                Map("ndv" -> ndv.toString, "graft.theta.stand-in" -> "true"))
          }
          Puffin.Blob(Puffin.ThetaBlobType, Seq(fid), sid, 0L,
            payload, blobProps)
        }
      }
      val pPath = new org.apache.hadoop.fs.Path(tableDir,
        s"metadata/$sid-${java.util.UUID.randomUUID()}.stats.puffin")
      val written = Puffin.write(pPath, conf, blobs,
        Map("created-by" -> "graft analyze_table"))
      val u = mapper.createObjectNode()
      u.put("action", "set-statistics")
      val sf = u.putObject("statistics-file")
      sf.put("snapshot-id", sid)
      sf.put("statistics-path", written.path)
      sf.put("file-size-in-bytes", written.fileSizeInBytes)
      sf.put("file-footer-size-in-bytes", written.footerSizeInBytes)
      val bm = sf.putArray("blob-metadata")
      blobs.foreach { b =>
        val e = bm.addObject()
        e.put("type", b.blobType)
        val fl = e.putArray("fields")
        b.fields.foreach(fl.add)
        e.put("snapshot-id", b.snapshotId)
        e.put("sequence-number", b.sequenceNumber)
        val p = e.putObject("properties")
        b.properties.foreach { case (k, v) => p.put(k, v) }
      }
      u
    }
    b.cmtr.commit(
      Seq(MetadataCommit.assertRefSnapshotId(mapper, "main", b.parent)),
      Seq(upd, statUpd))
    (meta.currentSnapshotId.getOrElse(-1L), target.size)
  }

  /** Commit a DELTA (merge-on-read row-level write): `added` data files
    * plus already-written position-delete files, in ONE snapshot on
    * `branch` — the commit half of SQL UPDATE/MERGE/DELETE in
    * merge-on-read mode. Nothing is rewritten: prior manifests (data AND
    * delete) pass through untouched, so write amplification is
    * proportional to the changed rows, not the touched files — the
    * 100 TB trade copy-on-write cannot make. New data files take the new
    * snapshot's sequence number and correctly ESCAPE the new deletes
    * (position deletes name (file, pos) explicitly and only reference
    * pre-existing files), so outstanding older deletes are fine here —
    * unlike a copy-on-write rewrite, which must refuse them.
    *
    * `posDeletes`: (qualified path, matched row count, file bytes) of
    * spec-compliant position-delete parquet files the executors wrote.
    */
  private[graft] def commitDelta(
      spark: SparkSession, tableDir: String,
      added: Seq[AddedDataFile],
      posDeletes: Seq[(String, Long, Long)],
      committer: Option[TableCommitter] = None,
      branch: String = "main",
      operation: String = "overwrite"): Long = {
    if (added.isEmpty && posDeletes.isEmpty) return -1L
    val b = begin(writeConf(spark, committer), tableDir, committer, branch)
    val conf = b.conf

    // v3 deletion-vector mode: the per-task position-delete parquet the
    // delta writers produced is a staging form here — one bounded read
    // re-groups its (file, pos) rows BY TARGET FILE into roaring DV
    // blobs (a DV must be one blob per data file; delta tasks are
    // row-distributed, so one file's deletes can span tasks and only a
    // post-write regroup can consolidate them). Prior DVs for the same
    // files are absorbed and superseded; the staging parquet is deleted
    // after the commit (it was written by THIS operation's tasks and no
    // snapshot ever referenced it).
    val dvMode = dvWriteMode(b.meta) && posDeletes.nonEmpty
    val (delMl: Option[GenericRecord], absorbed: Carry) =
      if (posDeletes.isEmpty) (None, Keep)
      else if (!dvMode) (Some(b.deleteManifest("del", posDeletes.map {
        case (path, rows, len) => deleteEntryRecord(path, "PARQUET", rows, len)
      }, posDeletes.map(_._2).sum)), Keep)
      else {
        val t = b.table
        val newPos = spark.read.schema(t.posDeleteReadSchema)
          .parquet(posDeletes.map(_._1): _*)
          .select(t.normPathExpr(t.resolveExpr(col("file_path"))).as("__ref"),
            col("pos"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val byNorm: Map[String, DataFileEntry] = t.planFiles()
            .map(f => t.normPath(t.resolve(f.filePath)) -> f).toMap
          val refs = newPos.select("__ref").distinct()
            .collect().map(_.getString(0)).toSeq
          val unknown = refs.filterNot(byNorm.contains)
          require(unknown.isEmpty,
            s"delta delete references non-live data files: ${unknown.take(3).mkString(", ")}")
          writeDeletionVectors(spark, b, t, newPos,
            refs.map(r => r -> byNorm(r)).toMap)
        } finally { newPos.unpersist(); () }
      }
    // merge-on-read never touches data files: totals only grow by the adds
    val snapId = produce(b, SnapshotUpdate(operation,
      b.newManifest(added).toSeq ++ delMl,
      carry = m => if (m.content == 1) absorbed else Keep,
      totals = adjust(added = addedTotals(added))))
    // DV mode: the staging parquet was consumed into the committed DV
    // blobs and no snapshot references it — drop it now rather than
    // leaving orphans for reachability cleanup
    if (dvMode) posDeletes.foreach { case (p, _, _) =>
      val hp = new Path(p)
      try { hp.getFileSystem(conf).delete(hp, false); () }
      catch { case _: java.io.IOException => () }
    }
    snapId
  }

  // -- snapshot expiration / orphan cleanup -----------------------------------

  /** Every path a snapshot's tree references: (metadata files = manifest
    * list + manifests, content files = every `file_path` in every
    * manifest REGARDLESS of status or content). Status-blind on purpose:
    * a DELETED-status entry still names a file some other snapshot may
    * read, so reachability, not liveness, is what protects a file from
    * expiration. */
  private def referencedPaths(
      conf: org.apache.hadoop.conf.Configuration, tableDir: String,
      meta: TableMetadata, snap: IcebergSnapshot): (Set[String], Set[String]) = {
    def resolve(p: String) = resolveAgainst(meta, tableDir, p)
    val listPath = resolve(snap.manifestList)
    val manifests = ManifestIO.readManifestList(listPath, conf).map(m => resolve(m.path))
    val filePaths = manifests.flatMap(m =>
      ManifestIO.readRawEntries(m, conf).map(e => resolve(e.filePath))).toSet
    (manifests.toSet + listPath, filePaths)
  }

  /** Physical-deletion gate: a snapshot-clone ([[TableClone]]) shares its
    * source's files, so maintenance that DELETES files must refuse on
    * `gc.enabled=false` (the Iceberg procedures refuse identically) —
    * deleting a "no longer referenced" file here would corrupt the
    * source table that still references it. */
  private def requireGcEnabled(meta: TableMetadata, tableDir: String,
                               what: String): Unit =
    require(!meta.properties.get("gc.enabled").contains("false"),
      s"$what on $tableDir refused: gc.enabled=false (this table shares " +
        "files with another table — a snapshot clone; physically deleting " +
        "them would corrupt the source). Drop the clone instead, or flip " +
        "gc.enabled only if you are certain the files are exclusively owned.")

  /** Expire snapshots with commit time strictly before `olderThanMs`,
    * always retaining the current snapshot and the `retainLast` most
    * recent ones, and DELETE the data files, delete files, manifests, and
    * manifest lists referenced ONLY by the expired snapshots. This is the
    * maintenance half the streaming sink + compaction need: one snapshot
    * per micro-batch is unbounded metadata growth (~526k snapshots/year
    * at one batch a minute) and compaction keeps every pre-compaction
    * file alive until its history expires.
    *
    * Reachability is computed from the RETAINED snapshots' full manifest
    * trees, so a file shared with any retained snapshot survives; file
    * deletion is best-effort (a failed delete leaves an orphan, never a
    * broken table) while the metadata rewrite is the atomic commit.
    * Returns the number of snapshots expired.
    *
    * PER-REF retention (spec ref fields, set via [[setRefRetention]] or
    * [[createRef]]): `max-ref-age-ms` drops an aged-out branch/tag in the
    * same pass; `min-snapshots-to-keep` / `max-snapshot-age-ms` bound how
    * much of a branch's ancestor chain survives (overriding the default
    * keep-the-whole-chain publishability guarantee for that ref); a
    * policy on `main` ADDS keeps on top of the olderThanMs/retainLast
    * floor. One call expresses "keep audit branches 7 days, main 100
    * snapshots".
    */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      olderThanMs: Long, retainLast: Int = 1,
                      committer: Option[TableCommitter] = None): Int = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val (conf, meta) = (b.conf, b.meta)
    requireGcEnabled(meta, tableDir, "expire_snapshots")
    val sorted = meta.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))
    val now = System.currentTimeMillis
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val mainLineage = meta.snapshotLineage.toSet

    // Per-ref `max-ref-age-ms` (spec ref field): a ref whose referenced
    // snapshot is older than the limit is dropped IN THIS PASS — its
    // head and chain then expire under the normal rules below. `main`
    // never ages out.
    val agedOutRefs: Set[String] = (meta.refs - "main").collect {
      case (name, head) if meta.refRetention.get(name).flatMap(_.maxRefAgeMs)
        .exists(maxAge => byId.get(head).exists(now - _.timestampMs > maxAge))
        => name
    }.toSet

    // An unpublished branch/tag needs more than its HEAD retained:
    // fastForward proves publishability by walking parent-snapshot-id from
    // the branch head back to the target's head, so expiring the branch's
    // intermediate snapshots would truncate the chain and make the branch
    // permanently unpublishable (loud, but a dead end). DEFAULT: keep each
    // surviving non-main ref head's ancestor chain up to (and including)
    // its first snapshot on main's lineage — main's own history still
    // expires normally. A ref carrying retention properties OVERRIDES the
    // default: its chain keeps the `min-snapshots-to-keep` most recent
    // plus everything younger than `max-snapshot-age-ms` (the operator's
    // explicit trade of deep publishability for bounded history).
    def chainOf(head: Long): Seq[IcebergSnapshot] = {
      val chain = Iterator.iterate(byId.get(head))(
        _.flatMap(_.parentSnapshotId).flatMap(byId.get))
        .takeWhile(_.isDefined).flatten.take(meta.snapshots.size).toSeq
      val (offMain, onMain) = chain.span(s => !mainLineage.contains(s.snapshotId))
      offMain ++ onMain.take(1)
    }
    def policyKeeps(chain: Seq[IcebergSnapshot], r: RefRetention): Seq[Long] = {
      val minKeep = math.max(r.minSnapshotsToKeep.getOrElse(1), 1)
      val ageKeeps = r.maxSnapshotAgeMs.toSeq.flatMap(a =>
        chain.filter(now - _.timestampMs <= a))
      (chain.take(minKeep) ++ ageKeeps).map(_.snapshotId)
    }
    // only the SNAPSHOT-retention knobs override the keep-the-chain
    // default — a ref that sets max-ref-age-ms alone is opting its REF
    // into aging out, not trading away its chain's publishability
    def hasSnapshotPolicy(r: RefRetention): Boolean =
      r.maxSnapshotAgeMs.nonEmpty || r.minSnapshotsToKeep.nonEmpty
    val refChains: Set[Long] = (meta.refs -- agedOutRefs - "main")
      .flatMap { case (name, head) =>
        val chain = chainOf(head) // head-first: newest → oldest
        meta.refRetention.get(name).filter(hasSnapshotPolicy) match {
          case None => chain.map(_.snapshotId)
          case Some(r) => policyKeeps(chain, r)
        }
      }.toSet
    // main's own policy (e.g. min-snapshots-to-keep=100) ADDS keeps on
    // top of the API-level olderThanMs/retainLast floor
    val mainPolicy: Set[Long] = meta.refRetention.get("main")
      .filter(hasSnapshotPolicy).map { r =>
        val lineage = meta.snapshotLineage.reverse.flatMap(byId.get)
        policyKeeps(lineage, r).toSet
      }.getOrElse(Set.empty)

    val keepIds: Set[Long] =
      sorted.takeRight(math.max(retainLast, 1)).map(_.snapshotId).toSet ++
        meta.currentSnapshotId.toSet ++
        (meta.refs -- agedOutRefs).values.toSet ++ // surviving ref targets
        refChains ++ mainPolicy ++
        sorted.filter(_.timestampMs >= olderThanMs).map(_.snapshotId)
    val (kept, expired) = meta.snapshots.partition(s => keepIds(s.snapshotId))
    if (expired.isEmpty && agedOutRefs.isEmpty) return 0

    val keptRefs = kept.map(referencedPaths(conf, tableDir, meta, _))
    val keptMeta = keptRefs.flatMap(_._1).toSet
    val keptFiles = keptRefs.flatMap(_._2).toSet
    val expRefs = expired.map(referencedPaths(conf, tableDir, meta, _))
    val deadMeta = expRefs.flatMap(_._1).toSet -- keptMeta
    val deadFiles = expRefs.flatMap(_._2).toSet -- keptFiles

    // 1. atomic part first: aged-out refs dropped AND expired snapshots
    // removed in ONE commit (a ref removal and its history's expiration
    // must not be separable states), guarded against a concurrent ref move
    val mapper = new ObjectMapper()
    val refRemovals = agedOutRefs.toSeq.sorted.map { name =>
      val n = mapper.createObjectNode()
      n.put("action", "remove-snapshot-ref")
      n.put("ref-name", name)
      n
    }
    val snapRemovals =
      if (expired.isEmpty) Nil
      else Seq(MetadataCommit.removeSnapshots(mapper, expired.map(_.snapshotId)))
    b.cmtr.commit(
      Seq(MetadataCommit.assertRefSnapshotId(mapper, "main", b.parent)),
      refRemovals ++ snapRemovals)

    // 2. best-effort physical cleanup (expired-only trees)
    (deadFiles ++ deadMeta).foreach { s =>
      val p = new Path(s)
      try p.getFileSystem(conf).delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    expired.size
  }

  /** Delete files under the table's data directory that NO snapshot
    * references — the debris of failed/aborted writes (task files whose
    * commit never landed) and of interrupted compactions. Only files
    * older than `olderThanMs` are touched: a file younger than the
    * horizon may belong to an IN-FLIGHT commit whose metadata is not
    * visible yet, so the horizon must exceed the longest plausible commit
    * duration (Iceberg's remove_orphan_files has the same contract).
    * Listing parallelizes over the first-level `data/` subdirectories
    * (one per commit in this layout), the reference set comes from every
    * snapshot's manifest tree, comparison is scheme-normalized. Metadata
    * files are never touched. Returns the number of files deleted.
    */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
                        olderThanMs: Long,
                        committer: Option[TableCommitter] = None): Int = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val (conf, meta) = (b.conf, b.meta)
    requireGcEnabled(meta, tableDir, "remove_orphan_files")
    def norm(s: String) = IcebergTable.normPathStatic(s)
    // BOTH halves of the referenced set: data file paths for the data
    // sweep, manifest/list paths too for the _staged sweep below (a
    // committed staged REPLACE keeps its manifests inside its staging
    // dir — deleting those would break every snapshot referencing them)
    val referenced: Set[String] = meta.snapshots.flatMap { s =>
      val (metaPaths, dataPaths) = referencedPaths(conf, tableDir, meta, s)
      metaPaths ++ dataPaths
    }.map(norm).toSet
    val dataRoot = new Path(s"$tableDir/data")
    val fs = new Path(tableDir).getFileSystem(conf)
    import scala.collection.parallel.CollectionConverters._
    def filesUnder(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val b = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) b += it.next()
      b.result()
    }
    def sweep(all: Seq[org.apache.hadoop.fs.FileStatus]): Int =
      all.filter { st =>
        st.getModificationTime < olderThanMs &&
          !referenced.contains(norm(st.getPath.toString)) &&
          // Spark job bookkeeping files are not data; cheap to skip
          !st.getPath.getName.startsWith("_")
      }.count { st =>
        try fs.delete(st.getPath, false)
        catch { case scala.util.control.NonFatal(_) => false }
      }
    val dataDeleted =
      if (!fs.exists(dataRoot)) 0
      else {
        val topLevel = fs.listStatus(dataRoot).toSeq
        val (dirs, rootFiles) = topLevel.partition(_.isDirectory)
        sweep(rootFiles.filter(!_.isDirectory) ++
          dirs.par.map(d => filesUnder(d.getPath)).seq.flatten)
      }
    // the staging area (atomic CREATE/REPLACE, r19): a COMMITTED staged
    // write's files live here referenced by absolute path (kept — they
    // are in `referenced`); what this sweep collects is crashed-staging
    // debris and staged files whose snapshots have since expired. An
    // IN-FLIGHT staging is protected the same way in-flight writes into
    // data/ are: its files are younger than any sane `olderThanMs`.
    // Staging dirs the sweep empties are removed wholesale.
    val stagedRoot = new Path(tableDir,
      graft.iceberg.connector.FsCatalogStore.StagedSubdir)
    val stagedDeleted =
      if (!fs.exists(stagedRoot)) 0
      else {
        val n = sweep(filesUnder(stagedRoot))
        try {
          fs.listStatus(stagedRoot).filter(_.isDirectory).foreach { d =>
            if (filesUnder(d.getPath).isEmpty) fs.delete(d.getPath, true)
          }
          if (fs.listStatus(stagedRoot).isEmpty) fs.delete(stagedRoot, false)
        } catch { case scala.util.control.NonFatal(_) => () }
        n
      }
    dataDeleted + stagedDeleted
  }

  /** Consolidate the current snapshot's small data manifests into fewer,
    * larger ones — METADATA-ONLY (no data file is read or moved). The
    * streaming sink and frequent small appends leave one manifest per
    * commit; at one commit a minute, a year of history is ~500k manifest
    * reads per scan PLAN, which dominates planning long before data IO
    * matters. Records are merged at the Avro level under each manifest's
    * own embedded writer schema — manifests are grouped by (writer
    * schema, spec id) and only merged within a group, so foreign-writer
    * fields survive byte-for-byte (same losslessness rule as
    * [[replaceFiles]]).
    *
    * Refuses tables with outstanding delete files: merged manifests carry
    * ONE sequence number, and collapsing differing sequence numbers under
    * existing deletes would change which rows the deletes hit. (Without
    * deletes, the collapsed number is irrelevant to the past and future
    * deletes always take larger numbers — sound.) Compact first.
    * Returns the new snapshot id, or -1 when there is nothing to merge.
    */
  def rewriteManifests(spark: SparkSession, tableDir: String,
                       targetEntriesPerManifest: Int = 8192,
                       committer: Option[TableCommitter] = None): Long = {
    val b = begin(writeConf(spark, committer), tableDir, committer)
    val prev = b.prior
    require(!prev.exists(_.content == 1),
      "rewriteManifests on a table with delete manifests: materialize " +
        "deletes first (IcebergWriter.compact) — merged manifests cannot " +
        "preserve per-manifest sequence numbers")
    if (prev.sizeIs <= 1) return -1L

    // read each manifest's raw records under its embedded writer schema
    val loaded: Seq[(ManifestFile, org.apache.avro.Schema, Seq[GenericRecord])] =
      prev.map { m =>
        val (schema, entries) = ManifestIO.readRecords(m.path, b.conf)
        (m, schema, entries)
      }

    val merged: Seq[GenericRecord] = loaded
      .groupBy { case (m, schema, _) => (schema.toString, m.partitionSpecId) }
      .toSeq.sortBy(_._1._2)
      .flatMap { case ((_, specId), group) =>
        if (group.sizeIs == 1) {
          Seq(mlRec(group.head._1))
        } else {
          val schema = group.head._2
          val entries = group.flatMap(_._3)
          val minSeq = group.flatMap(_._1.sequenceNumber).minOption
          val rows = group.flatMap(_._1.addedRowsCount)
            .reduceOption(_ + _)
          // field-wise union of the groups' partition summaries — sound
          // bounds for the merged record; absent anywhere ⇒ absent (never
          // summary-pruned)
          val summaries: Seq[PartitionSummary] =
            if (group.exists(_._1.partitions.isEmpty)) Nil
            else group.map(_._1.partitions).reduce { (a, b) =>
              a.zip(b).map { case (x, y) =>
                PartitionSummary(
                  containsNull = x.containsNull || y.containsNull,
                  containsNan = (x.containsNan ++ y.containsNan)
                    .reduceOption(_ || _),
                  lowerBound = (x.lowerBound, y.lowerBound) match {
                    case (Some(l), Some(r)) =>
                      Some(if (BytesOrdering.compare(l, r) <= 0) l else r)
                    case _ => None
                  },
                  upperBound = (x.upperBound, y.upperBound) match {
                    case (Some(l), Some(r)) =>
                      Some(if (BytesOrdering.compare(l, r) >= 0) l else r)
                    case _ => None
                  })
              }
            }
          entries.grouped(math.max(targetEntriesPerManifest, 1)).zipWithIndex
            .map { case (chunk, i) =>
              val mPath = new Path(
                s"$tableDir/metadata/m-s${b.snapId}-${uniq()}-c$specId-$i.avro")
              val len = writeAvro(mPath, b.conf, schema, chunk)
              mlRec(mPath.toString, len, 0, minSeq, rows, specId, summaries)
            }.toSeq
        }
      }
    if (merged.size >= prev.size) return -1L // nothing got smaller
    // merged re-records every base manifest; metadata-only: data unchanged
    produce(b, SnapshotUpdate("replace", merged, truncate = true))
  }

  /** Unsigned lexicographic byte comparison (Iceberg single-value bound
    * encoding compares this way for the types whose summaries we merge). */
  private object BytesOrdering {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(a.length, b.length)
    }
  }

  // -- snapshot refs (branches / tags) ----------------------------------------

  /** Create or move a named snapshot ref (`type` = "tag" or "branch").
    * Refs are stable time-travel targets (`VERSION AS OF 'name'`) and
    * protect their snapshot from [[expireSnapshots]] — the metadata-only
    * primitive behind "pin the snapshot the nightly job validated".
    * Note `main` is the table head: moving it is a metadata-only
    * ROLLBACK to an earlier snapshot. */
  def createRef(conf: org.apache.hadoop.conf.Configuration, tableDir: String,
                name: String, snapshotId: Long, refType: String = "tag",
                committer: Option[TableCommitter] = None,
                retention: RefRetention = RefRetention()): Unit = {
    val b = begin(conf, tableDir, committer)
    val meta = b.meta
    require(meta.snapshots.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not in $tableDir (have: " +
        s"${meta.snapshots.map(_.snapshotId).mkString(", ")})")
    val mapper = new ObjectMapper()
    b.cmtr.commit(Nil,
      Seq(MetadataCommit.setSnapshotRef(mapper, name, snapshotId, refType,
        retention,
        // a caller STATING a policy means exactly that policy (whole-
        // policy replace, same as setRefRetention); the default empty
        // retention is a plain head move and inherits the prior policy
        // (rollback via createRef("main", …) must not clear main's knobs)
        clearUnsetRetention = !retention.isEmpty)))
  }

  /** Attach (or restate) a retention policy on an existing ref — the
    * knobs [[expireSnapshots]] consults per ref: `max-snapshot-age-ms` /
    * `min-snapshots-to-keep` bound the branch's retained history;
    * `max-ref-age-ms` ages the ref itself out. Metadata-only re-set of
    * the ref at its current head. */
  def setRefRetention(conf: org.apache.hadoop.conf.Configuration,
                      tableDir: String, name: String, retention: RefRetention,
                      committer: Option[TableCommitter] = None): Unit = {
    val b = begin(conf, tableDir, committer)
    val meta = b.meta
    val head = meta.refs.getOrElse(name, throw new NoSuchElementException(
      s"ref '$name' not found (have: ${meta.refs.keys.mkString(", ")})"))
    val refType = if (meta.tagRefs.contains(name)) "tag" else "branch"
    val mapper = new ObjectMapper()
    b.cmtr.commit(
      Seq(MetadataCommit.assertRefSnapshotId(mapper, name, Some(head))),
      // whole-policy form: knobs this retention leaves unset are CLEARED
      // (explicit nulls), so setRefRetention(RefRetention()) removes the
      // policy rather than silently leaving the old one in force
      Seq(MetadataCommit.setSnapshotRef(mapper, name, head, refType, retention,
        clearUnsetRetention = true)))
  }

  def dropRef(conf: org.apache.hadoop.conf.Configuration, tableDir: String,
              name: String, committer: Option[TableCommitter] = None): Unit = {
    require(name != "main", "cannot drop the main ref (the table head)")
    // no metadata read: the removal needs no base
    val cmtr = committerOf(conf, tableDir, committer)
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("action", "remove-snapshot-ref")
    n.put("ref-name", name)
    cmtr.commit(Nil, Seq(n))
  }

  /** PUBLISH of write-audit-publish: fast-forward `target` (default
    * `main`) to branch `from`'s head. Metadata-only — no data moves. The
    * target's current head must be an ancestor of (or equal to) the
    * branch head, i.e. a true fast-forward: if `target` advanced since
    * the branch forked, publishing would silently drop those commits, so
    * it throws instead (rebase = re-write the branch off the new head).
    * Guarded by `assert-ref-snapshot-id target` so a concurrent move of
    * the target surfaces as [[CommitConflictException]]. Returns the
    * published snapshot id. */
  def fastForward(conf: org.apache.hadoop.conf.Configuration, tableDir: String,
                  from: String, target: String = "main",
                  committer: Option[TableCommitter] = None): Long = {
    val b = begin(conf, tableDir, committer)
    val meta = b.meta
    // the same tag guard branchBase applies to writes: set-snapshot-ref
    // defaults the ref's type to 'branch', so fast-forwarding ONTO a tag
    // would both move an immutable pointer and silently retype it
    require(!meta.tagRefs.contains(target),
      s"ref '$target' is a tag — tags are immutable; fast-forward a branch")
    val fromHead = meta.refs.getOrElse(from,
      throw new IllegalArgumentException(
        s"ref '$from' not found in $tableDir (have: " +
          s"${meta.refs.keys.mkString(", ")})"))
    val targetHead =
      if (target == "main") meta.currentSnapshotId.filter(_ != -1L)
      else meta.refs.get(target)
    if (targetHead.contains(fromHead)) return fromHead // already published
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = Iterator.iterate(byId.get(fromHead))(
      _.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId)
      .take(meta.snapshots.size).toSet
    targetHead.foreach(h => require(ancestors.contains(h),
      s"not a fast-forward: '$target' head $h is not an ancestor of " +
        s"'$from' head $fromHead — '$target' advanced since the branch " +
        "forked; rebase the branch before publishing"))
    val mapper = new ObjectMapper()
    b.cmtr.commit(
      Seq(MetadataCommit.assertRefSnapshotId(mapper, target, targetHead)),
      Seq(MetadataCommit.setSnapshotRef(mapper, target, fromHead)))
    fromHead
  }

  /** Cherry-pick PUBLISH — the other half of write-audit-publish
    * (reference has neither; Iceberg's `cherrypick_snapshot`): re-apply
    * ONE staged append snapshot on top of main's current head, as a NEW
    * snapshot. Where [[fastForward]] publishes a whole branch
    * all-or-nothing, cherry-pick publishes a single audited commit out of
    * several staged ones, leaving the branch intact.
    *
    * Only pure appends qualify. The staged snapshot's manifest delta vs
    * its OWN parent (the manifests it added) is grafted onto main's
    * manifest list; anything else is refused loudly: a non-append
    * operation, a delta that rewrites or drops parent manifests
    * (compaction), delete manifests (position deletes bind to a base
    * snapshot main never had), or data files already reachable from
    * main's head (double-publish). Grafted manifests are re-stamped to
    * the NEW snapshot's sequence number — re-sequencing is what makes the
    * rows "committed now": any equality delete already on main keeps
    * gating only data that predates it, exactly as if the rows were
    * appended fresh.
    *
    * Metadata-only (no data moves), guarded by `assert-ref-snapshot-id
    * main` so a concurrent main move surfaces as
    * [[CommitConflictException]]. Returns the NEW snapshot id; the
    * summary records `source-snapshot-id` for audit. */
  def cherrypickSnapshot(conf: org.apache.hadoop.conf.Configuration,
                         tableDir: String, snapshotId: Long,
                         committer: Option[TableCommitter] = None): Long = {
    val b = begin(conf, tableDir, committer)
    val meta = b.meta
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val staged = byId.getOrElse(snapshotId, throw new IllegalArgumentException(
      s"cherrypick_snapshot: snapshot $snapshotId not found in $tableDir"))
    val op = staged.summary.getOrElse("operation", "append")
    require(op == "append",
      s"cherrypick_snapshot: snapshot $snapshotId is a '$op' — only pure " +
        "append snapshots can be re-applied; publish the branch with " +
        "fast_forward instead")
    val mainAncestors = Iterator.iterate(b.parent.flatMap(byId.get))(
      _.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId)
      .take(meta.snapshots.size).toSet
    require(!mainAncestors.contains(snapshotId),
      s"cherrypick_snapshot: snapshot $snapshotId is already in main's " +
        "ancestry — nothing to publish")
    // a previous cherry-pick of this snapshot records source-snapshot-id
    // in its commit summary AND a table-property ledger entry; the
    // file-overlap guard below cannot catch a re-pick after a main
    // COMPACTION moved the published rows into new paths, and the
    // summary alone vanishes if the pick commit is later EXPIRED — the
    // property survives both
    require(!mainAncestors.flatMap(byId.get).exists(
        _.summary.get("source-snapshot-id").contains(snapshotId.toString)),
      s"cherrypick_snapshot: snapshot $snapshotId was already cherry-picked " +
        "onto main (source-snapshot-id recorded in its ancestry) — " +
        "refusing a double publish")
    require(!meta.properties.contains(s"graft.cherrypicked.$snapshotId"),
      s"cherrypick_snapshot: snapshot $snapshotId was already cherry-picked " +
        "onto main (ledger property) — refusing a double publish")

    val stagedMl = b.manifests(staged)
    // the delta is staged-vs-ITS-OWN-parent: with the parent expired the
    // subtraction base is gone and "the delta" would silently become the
    // branch's ENTIRE state (pre-fork data included) — refuse, don't guess
    staged.parentSnapshotId.foreach(p => require(byId.contains(p),
      s"cherrypick_snapshot: snapshot $snapshotId's parent $p has been " +
        "expired — the append delta cannot be computed; publish the " +
        "branch with fast_forward or re-stage the commit"))
    val parentKeys = staged.parentSnapshotId.flatMap(byId.get).toSeq
      .flatMap(b.manifests).map(_.path).toSet
    require(parentKeys.subsetOf(stagedMl.map(_.path).toSet),
      s"cherrypick_snapshot: snapshot $snapshotId dropped or rewrote its " +
        "parent's manifests (compaction or a non-additive write mislabeled " +
        "append) — the delta is not a graftable append")
    val delta = stagedMl.filterNot(m => parentKeys.contains(m.path))
    require(delta.nonEmpty,
      s"cherrypick_snapshot: snapshot $snapshotId added no manifests")
    require(delta.forall(_.content == 0),
      s"cherrypick_snapshot: snapshot $snapshotId staged delete files — " +
        "position deletes bind to a base snapshot main never had; publish " +
        "with fast_forward")

    // double-publish guard at FILE granularity: a manifest rewrite
    // (rewrite_manifests) can repackage already-published files under a
    // new manifest path, so comparing manifest paths is not enough
    val headFiles: Set[String] = b.prior.filter(_.content == 0).flatMap(m =>
      ManifestIO.readManifest(m.path, conf, m.sequenceNumber,
        m.partitionSpecId).map(_.filePath)).toSet
    val deltaEntries = delta.flatMap(m =>
      ManifestIO.readManifest(m.path, conf, m.sequenceNumber,
        m.partitionSpecId))
    val overlap = deltaEntries.map(_.filePath).filter(headFiles)
    require(overlap.isEmpty,
      s"cherrypick_snapshot: ${overlap.size} data file(s) of snapshot " +
        s"$snapshotId are already reachable from main's head (e.g. " +
        s"${overlap.head}) — refusing a double publish")

    val mapper = new ObjectMapper()
    val ledger = mapper.createObjectNode()
    ledger.put("action", "set-properties")
    ledger.putObject("updates")
      .put(s"graft.cherrypicked.$snapshotId", b.snapId.toString)
    // grafted manifests re-stamped to the new snapshot's sequence number
    produce(b, SnapshotUpdate("append",
      delta.map(m => mlRec(m.copy(sequenceNumber = Some(b.snapId)))),
      totals = adjust(added = fileTotals(deltaEntries)),
      summary = Map("source-snapshot-id" -> snapshotId.toString),
      extraUpdates = Seq(ledger)))
  }
}
