package graft.iceberg

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory,
  WriterCommitMessage}
import org.apache.spark.sql.types._

/** `Configuration` is not `Serializable`; it is `Writable`. Spark's own
  * wrapper is `private[spark]`, so this is the same three-liner on the
  * graft side — plus a serialized-bytes cache: `Configuration.write`
  * walks and emits EVERY merged property (~a thousand entries), and it
  * runs once per Spark job (task-closure serialization), which sampling
  * showed as ~15% of a small commit's driver time. Query bodies build
  * one Configuration and run many jobs against it, so the bytes are
  * cached per Configuration identity and reused while a content
  * fingerprint over every (key, value) entry is unchanged — mutating
  * an existing property's VALUE invalidates too, not just add/remove
  * (the r20 size()-only check's staleness hole, ADVICE r20). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit =
    out.write(SerializableHadoopConf.bytesFor(value))
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  // weak keys: cached bytes die with the Configuration they serialize
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Configuration, (Long, Array[Byte])]())

  /** Order-independent content fingerprint over every merged property.
    * One pass of CACHED String.hashCodes plus arithmetic — orders of
    * magnitude cheaper than `Configuration.write`'s UTF-8 encode of the
    * same entries — and it changes when any property VALUE changes, not
    * just the count (the r20 cache invalidated on `size()` alone, which
    * shipped stale bytes to tasks if a caller mutated an existing key
    * after first use; ADVICE r20). Each entry's (key, value) hash pair
    * runs through the Murmur3 `fmix64` finalizer before the sum: a plain
    * linear sum does not change when two properties swap values. */
  private def fingerprint(conf: Configuration): Long = {
    var h = conf.size().toLong << 32
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      // sum of mixed per-entry hashes: iteration order of the underlying
      // Properties map must not matter
      h += fmix64(e.getKey.hashCode.toLong << 32 |
        (e.getValue.hashCode & 0xffffffffL))
    }
    h
  }

  /** Murmur3's 64-bit finalizer. */
  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def bytesFor(conf: Configuration): Array[Byte] = {
    val fp = fingerprint(conf)
    val hit = cache.get(conf)
    if (hit != null && hit._1 == fp) return hit._2
    val bos = new java.io.ByteArrayOutputStream(64 * 1024)
    val dos = new java.io.DataOutputStream(bos)
    conf.write(dos)
    dos.flush()
    val bytes = bos.toByteArray
    cache.put(conf, (fp, bytes))
    bytes
  }
}

/** One data file a write task produced, as shipped to the driver in its
  * commit message: everything the commit protocol needs to record the
  * file — row count, byte size, column stats lifted from the file's own
  * footer BY THE TASK THAT WROTE IT, and the exact partition tuple.
  *
  * This is what keeps the driver out of the data path at 100 TB: a commit
  * of ten thousand files costs the driver ten thousand tiny messages, not
  * ten thousand object-store footer reads (the round-4 bottleneck).
  * `stats`/`partition` are optional so foreign or legacy messages degrade
  * to the sound default (no stats ⇒ never pruned, doubt ⇒ keep).
  */
private[graft] final case class AddedDataFile(
    path: String,
    rows: Long,
    bytes: Long,
    stats: Option[IcebergWriter.FileColStats],
    partition: Option[Seq[Any]],
    sortOrderId: Option[Int] = None,
    /** Manifest `file_format` value: PARQUET, ORC, or AVRO — whatever
      * format the fanout kernel wrote (per `write.format-default`) or an
      * `add_files` import registered. */
    fileFormat: String = "PARQUET")

/** Commit message of one write task: the files it produced. */
private[graft] final case class GraftFilesCommit(files: Seq[AddedDataFile])
    extends WriterCommitMessage

/** Table-metadata-derived write-type guards, computed ONCE driver-side
  * ([[WriteTypeGuards.forTable]]) by [[FanoutWriterFactory.forTable]],
  * the one write setup every data-file write goes through — so the
  * DataFrame writes, the copy-on-write replace, dynamic overwrite and
  * the merge-on-read delta share one rulebook (the r17 review found the
  * DSv2 paths missing the metadata-keyed checks the append path
  * enforced).
  *
  *  - `geoByName`: top-level geometry/geography columns (name → declared
  *    type string). Writable: WKB passthrough with spec bounding-box
  *    POINT bounds tracked by the writer.
  *  - `nsByName`: top-level timestamp_ns/timestamptz_ns columns under
  *    the BIGINT-nanos opt-in (name → isAdjustedToUTC). Writable: exact
  *    int64 nanos stamped with parquet's TIMESTAMP(NANOS) annotation.
  *  - `refusals`: messages for shapes with no conformant engine write —
  *    geo/ns NESTED inside struct/list/map (manifest bounds key on
  *    top-level leaf ids; a nested spatial/nanos value written without
  *    its annotation silently changes the column's meaning), geo/ns on
  *    ORC/Avro, and geo/ns partition sources (no spec transform this
  *    engine can evaluate on the passthrough representation).
  */
private[graft] final case class WriteTypeGuards(
    geoByName: Map[String, String],
    nsByName: Map[String, Boolean],
    refusals: Seq[String])

private[graft] object WriteTypeGuards {
  val none: WriteTypeGuards = WriteTypeGuards(Map.empty, Map.empty, Nil)

  def forTable(meta: TableMetadata, format: String): WriteTypeGuards = {
    val geoByName = meta.schema.fields
      .filter(_.metadata.contains(TableMetadata.GeoTypeKey))
      .map(f => f.name -> f.metadata.getString(TableMetadata.GeoTypeKey))
      .toMap
    val nsByName = meta.schema.fields
      .filter(_.metadata.contains(TableMetadata.NsTypeKey))
      .map(f => f.name ->
        (f.metadata.getString(TableMetadata.NsTypeKey) == "timestamptz_ns"))
      .toMap
    val refusals = Seq.newBuilder[String]
    val special = meta.geoFieldIds ++ meta.nsFieldIds
    if (special.nonEmpty) {
      val topLevelSpecial = meta.schema.fields.collect {
        case f if f.metadata.contains(TableMetadata.GeoTypeKey) ||
          f.metadata.contains(TableMetadata.NsTypeKey) =>
          meta.fieldIds(f.name)
      }.toSet
      val nested = special -- topLevelSpecial
      if (nested.nonEmpty) {
        val byId = meta.fieldIds.map(_.swap)
        refusals += s"column(s) ${nested.toSeq.sorted.flatMap(byId.get)
          .mkString(", ")} carry geometry/geography or timestamp_ns " +
          "values NESTED inside struct/list/map: writes are not " +
          "supported (this engine cannot emit conformant nested " +
          "spatial/nanos encodings) — use a capable writer for this table"
      }
      if (!format.equalsIgnoreCase("PARQUET"))
        refusals += "geometry/geography and timestamp_ns columns are " +
          s"writable only with parquet data files (table write format " +
          s"is $format)"
      val specialSources = meta.partitionSpec.map(_.sourceId).toSet & special
      if (specialSources.nonEmpty) {
        val byId = meta.fieldIds.map(_.swap)
        refusals += s"partition spec transforms source column(s) " +
          s"${specialSources.toSeq.sorted.flatMap(byId.get).mkString(", ")} " +
          "of geometry/geography or timestamp_ns type: no spec transform " +
          "is evaluable on the passthrough representation — writes are " +
          "not supported for this partitioning"
      }
    }
    WriteTypeGuards(geoByName, nsByName, refusals.result())
  }
}

/** One partition-spec field resolved against the write schema. */
private[graft] final case class WritePartitionField(
    name: String,
    transform: String,
    sourceIndex: Int,
    sourceType: DataType,
    resultType: DataType)

/** Executor-side fanout data-file writer (parquet, ORC, or Avro, per
  * the table's `write.format-default`) — the single write kernel behind
  * every data-file write, always built by [[FanoutWriterFactory.forTable]]:
  * INSERT/CTAS, overwrite, compaction and the streaming sinks through
  * [[IcebergWriter.writeDataFiles]], copy-on-write `ReplaceData`
  * (UPDATE / MERGE / range DELETE), dynamic `INSERT OVERWRITE`, and the
  * merge-on-read delta's inserts.
  *
  * Each task routes rows to one open file per distinct partition tuple,
  * evaluating the table's partition transforms per row through the SAME
  * [[IcebergTransform]] → [[PartitionTransforms]] code the read side
  * prunes with (codegen'd `UnsafeProjection`, so the hot loop stays
  * JIT-friendly). At `commit()` the task reads its own freshly-written
  * footers for column min/max/null stats and ships
  * [[AddedDataFile]]s — the driver never opens a data file.
  *
  * Scale properties:
  *  - rows need NOT arrive clustered: an unclustered input produces
  *    (tasks × tuples-seen) files — the same shape Spark's own
  *    `partitionBy` yields — and compaction tightens later;
  *  - open writers are capped at [[FanoutWriterFactory.MaxOpenWriters]]
  *    per task (each buffers a row group): overflow closes the eldest
  *    writer and a reappearing tuple simply starts a new file, bounding
  *    task memory on high-cardinality partitions instead of OOMing;
  *  - rows of a `ReplaceData` plan arrive as `[__row_operation ::
  *    dataColumns]` (Spark's group-based rewrites prepend the operation
  *    column and only strip it on the metadata path) — detected by arity
  *    and projected off with Spark's own `ProjectingInternalRow`.
  */
private[graft] final class FanoutWriterFactory(
    writeDir: String,
    schema: StructType,
    fieldIds: Map[String, Int],
    spec: Seq[WritePartitionField],
    conf: SerializableHadoopConf,
    sortOrderId: Option[Int] = None,
    codec: String = "snappy",
    targetFileBytes: Long = 512L << 20,
    /** Data-file format — "PARQUET", "ORC", or "AVRO" (Iceberg
      * `write.format-default`): one kernel, per-format open/stats. */
    format: String = "PARQUET",
    /** Table-metadata-derived type guards ([[WriteTypeGuards.forTable]]):
      * refusal messages for shapes this engine cannot write conformantly
      * (nested geo/ns, geo/ns on ORC/Avro, geo/ns partition sources) and
      * the authoritative geo/ns column sets. One setup for every write
      * ([[FanoutWriterFactory.forTable]]) closes the r17 gap where DSv2
      * row-level paths missed the metadata-keyed refusals the V1 append
      * path enforced. */
    guards: WriteTypeGuards = WriteTypeGuards.none)
    extends DataWriterFactory {

  // Type-guard refusals fail at factory construction — driver-side,
  // before any task launches.
  guards.refusals.headOption.foreach(m =>
    throw new UnsupportedOperationException(m))

  // v3 geometry/geography columns (WKB passthrough): tracked per open
  // file so manifests record the spec's bounding-box POINT bounds —
  // byte-order binary bounds would corrupt pruning for spatial-capable
  // readers, so [[IcebergWriter.footerStats]] suppresses them and the
  // writer's own WKB coordinate scan supplies the real ones. Column set
  // = union of the threaded guards and the schema's own field markers
  // (defense in depth: either side alone catches a mis-threaded call).
  // The third element flags GEOGRAPHY columns: their edge kinds refuse
  // inside the WKB walk (a vertex box does not bound geodesic edges —
  // only Point/MultiPoint are writable), so a recorded geography bound
  // is always exact.
  private val geoCols: Array[(Int, Int, Boolean)] = schema.fields.zipWithIndex
    .filter { case (f, _) => f.metadata.contains(TableMetadata.GeoTypeKey) ||
      guards.geoByName.contains(f.name) }
    .flatMap { case (f, i) =>
      val declared =
        if (f.metadata.contains(TableMetadata.GeoTypeKey))
          f.metadata.getString(TableMetadata.GeoTypeKey)
        else guards.geoByName.getOrElse(f.name, "geometry")
      fieldIds.get(f.name).map(id => (i, id, declared.startsWith("geography")))
    }

  // v3 nanosecond timestamps under the BIGINT-nanos opt-in: the physical
  // write is the exact int64, stamped with parquet's TIMESTAMP(NANOS)
  // annotation (isAdjustedToUTC per the declared type) so nanos-capable
  // readers keep the column's meaning.
  private val nanosByName: Map[String, Boolean] = {
    val fromSchema = schema.fields
      .filter(_.metadata.contains(TableMetadata.NsTypeKey))
      .map(f => f.name ->
        (f.metadata.getString(TableMetadata.NsTypeKey) == "timestamptz_ns"))
    (guards.nsByName ++ fromSchema).toMap
  }

  if ((geoCols.nonEmpty || nanosByName.nonEmpty) &&
      !format.equalsIgnoreCase("PARQUET"))
    throw new UnsupportedOperationException(
      s"geometry/geography and timestamp_ns columns are writable only " +
        s"with parquet data files (table write format is $format): this " +
        "engine has no conformant spatial/nanos encoding for ORC or Avro")

  import FanoutWriterFactory.MaxOpenWriters

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {

      private val xform: UnsafeProjection =
        if (spec.isEmpty) null
        else UnsafeProjection.create(spec.map(f => IcebergTransform(f.transform,
          BoundReference(f.sourceIndex, f.sourceType, nullable = true))).toSeq)

      private val dataProj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, 1 to schema.length)

      private val isOrc = format.equalsIgnoreCase("ORC")
      private val isAvro = format.equalsIgnoreCase("AVRO")

      // v3 `unknown` (VOID) columns are never stored in data files (the
      // spec's rule): strip them from the physical write schema — readers
      // serve the column as null because it is absent from every file.
      // ORC/Avro tables cannot hold unknown columns (gated at DDL), so
      // this only ever fires on the parquet path.
      private val hasUnknown = schema.fields.exists(_.dataType == NullType)
      private val writeSchema: StructType =
        if (!hasUnknown) schema
        else StructType(schema.fields.filterNot(_.dataType == NullType))
      private val stripUnknown: UnsafeProjection =
        if (!hasUnknown) null
        else UnsafeProjection.create(
          schema.fields.zipWithIndex.collect {
            case (f, i) if f.dataType != NullType =>
              BoundReference(i, f.dataType, f.nullable)
          }.toSeq)

      /** One open data file behind a format-neutral face: parquet keeps
        * its shim writer; ORC funnels through Spark's own serializer
        * ([[org.apache.spark.sql.execution.datasources.orc.GraftOrcWriteShim]]);
        * Avro encodes through avro-core ([[AvroDataWrite]]). `dataSize`
        * is each format's flushed-bytes estimate, feeding the same
        * size-based rollover. */
      private final class OpenFile(val path: String) {
        /** Per-geo-column running bounding box over every WKB value
          * routed to this file (parallel to [[geoCols]]); [[finish]]
          * turns non-empty boxes into the manifest's POINT bounds. */
        val geoBoxes: Array[GeoWkb.BBox] =
          Array.fill(geoCols.length)(new GeoWkb.BBox)
        private val pw: org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
          if (isOrc || isAvro) null
          else org.apache.spark.sql.execution.datasources.parquet
            .GraftParquetWriteShim.open(path, writeSchema, conf.value, codec,
              nanosByName)
        private val ow: org.apache.spark.sql.execution.datasources.orc
            .GraftOrcWriteShim.OrcRowFileWriter =
          if (!isOrc) null
          else new org.apache.spark.sql.execution.datasources.orc
            .GraftOrcWriteShim.OrcRowFileWriter(path, schema, conf.value, codec)
        private val aw: AvroDataWrite.AvroRowFileWriter =
          if (!isAvro) null
          else new AvroDataWrite.AvroRowFileWriter(path, schema, conf.value, codec)
        var rows = 0L
        def write(r: InternalRow): Unit =
          if (isOrc) ow.write(r) else if (isAvro) aw.write(r)
          else pw.write(if (stripUnknown == null) r else stripUnknown(r))
        def dataSize: Long =
          if (isOrc) ow.dataSize else if (isAvro) aw.dataSize else pw.getDataSize
        def close(): Unit =
          if (isOrc) ow.close() else if (isAvro) aw.close() else pw.close()
      }

      private val open = mutable.LinkedHashMap.empty[Seq[Any], OpenFile]
      private val closed = mutable.ArrayBuffer.empty[AddedDataFile]
      private var fileSeq = 0

      /** JVM-shaped partition tuple of one (projected) data row — the
        * exact values the manifest records and [[Pruning]] compares. */
      private def tupleOf(row: InternalRow): Seq[Any] = {
        val p = xform(row)
        Seq.tabulate(spec.length) { i =>
          if (p.isNullAt(i)) null
          else spec(i).resultType match {
            case IntegerType | DateType => p.getInt(i)
            case LongType | TimestampType | TimestampNTZType => p.getLong(i)
            case StringType => p.getUTF8String(i).toString
            case BooleanType => p.getBoolean(i)
            case FloatType => p.getFloat(i)
            case DoubleType => p.getDouble(i)
            case other => throw new IllegalArgumentException(
              s"unsupported partition value type ${other.simpleString}")
          }
        }
      }

      private def finish(key: Seq[Any], f: OpenFile): AddedDataFile = {
        f.close()
        val p = new Path(f.path)
        val len = p.getFileSystem(conf.value).getFileStatus(p).getLen
        // the task reads its OWN footer — local (or just-written object)
        // bytes, one read per file, distributed across the cluster.
        // Avro has no footer stats: None is the sound default (files
        // never pruned; row counts exact from the writer's own counter).
        val stats0 =
          if (isAvro) None
          else try Some(
            if (isOrc)
              IcebergWriter.orcFooterStats(p, conf.value, schema, fieldIds)._2
            else IcebergWriter.footerStats(p, conf.value, schema, fieldIds)._2)
          catch { case NonFatal(_) => None }
        // geo columns: footer byte-order bounds are suppressed (unsound
        // for WKB); record the spec's bounding-box POINT bounds from the
        // writer's own coordinate scan instead. For planar GEOMETRY the
        // vertex min/max box contains every shape; GEOGRAPHY values were
        // restricted to Point/MultiPoint in the write loop (geodesic
        // edges are NOT contained by their vertices' planar box), so the
        // box is exact there too. The override is AUTHORITATIVE both
        // ways: an empty box (all values null or empty geometries)
        // REMOVES any footer bound, so a write schema that lost its geo
        // marker (and thus footerStats' suppression) can never leak
        // byte-order bytes where a reader expects POINTs.
        val stats = stats0.map { s =>
          var lo = s.lower
          var hi = s.upper
          var g = 0
          while (g < geoCols.length) {
            val (_, fid, _) = geoCols(g)
            val box = f.geoBoxes(g)
            if (!box.isEmpty) {
              lo = lo.updated(fid, GeoWkb.pointWkb(box.minX, box.minY))
              hi = hi.updated(fid, GeoWkb.pointWkb(box.maxX, box.maxY))
            } else {
              lo = lo - fid
              hi = hi - fid
            }
            g += 1
          }
          if (g == 0) s else s.copy(lower = lo, upper = hi)
        }
        AddedDataFile(f.path, f.rows, len, stats,
          if (spec.isEmpty) None else Some(key), sortOrderId,
          fileFormat =
            if (isOrc) "ORC" else if (isAvro) "AVRO" else "PARQUET")
      }

      override def write(row: InternalRow): Unit = {
        val data: InternalRow =
          if (row.numFields == schema.length + 1) { dataProj.project(row); dataProj }
          else row
        val key = if (spec.isEmpty) Nil else tupleOf(data)
        val f = open.getOrElse(key, {
          if (open.size >= MaxOpenWriters) {
            val (ek, ef) = open.head // eldest: close, remember, evict
            closed += finish(ek, ef)
            open.remove(ek)
          }
          fileSeq += 1
          val ext = if (isOrc) "orc" else if (isAvro) "avro" else "parquet"
          val nf = new OpenFile(s"$writeDir/part-$partitionId-$taskId-$fileSeq.$ext")
          open.put(key, nf)
          nf
        })
        f.write(data)
        // geo bounds: one WKB coordinate walk per spatial value, fused
        // into the write loop (the footer cannot supply these — parquet
        // binary stats are byte-order). Exotic WKB kinds — and any
        // edge-bearing kind on a GEOGRAPHY column — throw here, failing
        // the task loudly before a non-conformant bound commits.
        var g = 0
        while (g < geoCols.length) {
          val idx = geoCols(g)._1
          if (!data.isNullAt(idx))
            f.geoBoxes(g).merge(data.getBinary(idx), pointsOnly = geoCols(g)._3)
          g += 1
        }
        f.rows += 1
        // size-based rollover (Iceberg `write.target-file-size-bytes`):
        // without it one task writing one partition produces ONE file of
        // unbounded size — a 50 GB parquet file at 100 TB kills read
        // parallelism and every future rewrite of it. getDataSize is an
        // estimate over buffered pages; probing every 512 rows amortizes
        // its column walk.
        if ((f.rows & 511L) == 0L && f.dataSize >= targetFileBytes) {
          closed += finish(key, f)
          open.remove(key)
          ()
        }
      }

      override def commit(): WriterCommitMessage = {
        val all = closed.toSeq ++ open.toSeq.map { case (k, f) => finish(k, f) }
        open.clear()
        GraftFilesCommit(all)
      }

      override def abort(): Unit = {
        val paths = closed.map(_.path) ++ open.values.map(_.path)
        open.values.foreach(f => try f.close() catch { case NonFatal(_) => () })
        open.clear()
        paths.foreach { s =>
          val p = new Path(s)
          try p.getFileSystem(conf.value).delete(p, false)
          catch { case NonFatal(_) => () }
        }
      }

      override def close(): Unit = ()
    }
}

private[graft] object FanoutWriterFactory {
  /** Per-task cap on simultaneously open parquet writers (each buffers up
    * to a row group in memory). 64 × default row-group buffering fits
    * executor memory; beyond it, eldest-first rollover trades file count
    * for bounded memory. */
  val MaxOpenWriters = 64

  /** The one write setup behind every data-file write — the DataFrame
    * path ([[IcebergWriter.writeDataFiles]]: INSERT, overwrite,
    * compaction, rewrites, streaming sinks) and the DSv2 writes in
    * `connector` (copy-on-write replace, dynamic overwrite, merge-on-read
    * delta). Everything it decides comes from `meta`:
    *  - the write schema stamped with each column's field id, plus the
    *    table's geometry/geography and timestamp_ns markers (the caller's
    *    schema may not carry them);
    *  - with `lineage`, the two v3 lineage columns appended under their
    *    reserved ids — the DSv2 writes feed them from Spark's metadata
    *    projection — and recorded in the stats ids. A DataFrame that
    *    already carries them keeps its own stamping and records no stats
    *    for them;
    *  - the partition spec resolved against the write schema;
    *  - the data-file format, codec, target file size and type guards.
    * `deletesOnly` marks a merge-on-read DELETE: its rows are row ids for
    * position-delete files, so there is no partition spec to resolve and
    * no data column for the type guards to refuse. */
  def forTable(
      meta: TableMetadata,
      writeSchema: StructType,
      writeDir: String,
      conf: Configuration,
      lineage: Boolean = false,
      sortOrderId: Option[Int] = None,
      deletesOnly: Boolean = false): FanoutWriterFactory = {
    val format = IcebergWriter.tableWriteFormat(meta)
    val guards =
      if (deletesOnly) WriteTypeGuards.none
      else WriteTypeGuards.forTable(meta, format)
    val metaFields = meta.schema.fields.map(f => f.name -> f).toMap
    val stamped = writeSchema.fields.map { f =>
      meta.fieldIds.get(f.name).fold(f) { id =>
        val mb = IcebergTable.withFieldId(id.toLong, f.metadata)
        // the kernel and footerStats key bbox tracking, byte-bound
        // suppression and the NANOS annotation on these markers
        metaFields.get(f.name).foreach { mf =>
          Seq(TableMetadata.GeoTypeKey, TableMetadata.NsTypeKey)
            .filter(mf.metadata.contains)
            .foreach(k => mb.putString(k, mf.metadata.getString(k)))
        }
        f.copy(metadata = mb.build())
      }
    }
    val idToName = meta.fieldIds.map(_.swap)
    val spec = if (deletesOnly) Nil else meta.partitionSpec.map { p =>
      val idx = writeSchema.fieldIndex(idToName.getOrElse(p.sourceId,
        throw new IllegalArgumentException(
          s"partition source field id ${p.sourceId} not in schema")))
      val st = writeSchema(idx).dataType
      WritePartitionField(p.name, p.transform, idx, st,
        PartitionTransforms.resultType(p.transform, st))
    }
    new FanoutWriterFactory(writeDir,
      StructType(stamped ++ (if (lineage) IcebergTable.lineageFields() else Nil)),
      if (lineage) meta.fieldIds ++ IcebergTable.lineageFieldIds else meta.fieldIds,
      spec, new SerializableHadoopConf(conf), sortOrderId,
      IcebergWriter.tableFormatCodec(meta, format),
      IcebergWriter.targetFileSize(meta), format, guards)
  }
}
