package graft.iceberg

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.collection.mutable.ArrayBuffer

/** Per-partition-field summary from the manifest list (`partitions` array):
  * the stats the reference prunes whole manifests with
  * (`pruning_statistics.rs:34-137`). Bounds stay raw bytes here; decoding
  * is deferred to pruning time where the target type is known.
  */
final case class PartitionSummary(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Array[Byte]],
    upperBound: Option[Array[Byte]])

/** One manifest_file row of the manifest list. */
final case class ManifestFile(
    path: String,
    length: Long,
    partitionSpecId: Int,
    content: Int, // 0 = data, 1 = deletes (v2); v1 is always data
    partitions: Seq[PartitionSummary],
    addedRowsCount: Option[Long],
    existingRowsCount: Option[Long],
    deletedRowsCount: Option[Long],
    /** v2 data sequence number — ADDED entries with a null entry-level
      * sequence inherit it (Iceberg inheritance rule) */
    sequenceNumber: Option[Long] = None,
    /** v3 row lineage: the manifest's starting row id — ADDED data
      * entries with a null per-entry `first_row_id` inherit from it
      * sequentially (the spec's inheritance form, which external
      * writers use; this engine writes explicit per-entry values). */
    firstRowId: Option[Long] = None)

/** One live data file from a manifest: the unit of file-level pruning
  * (`pruning_statistics.rs:139-196`) and of scan planning
  * (`table.rs:128-225`).
  */
final case class DataFileEntry(
    filePath: String,
    fileFormat: String,
    /** partition values by partition-field name, already JVM-typed */
    partition: Map[String, Any],
    recordCount: Long,
    fileSizeInBytes: Long,
    /** v2 data sequence number (delete files apply only to data with a
      * strictly smaller one); None on v1 tables */
    sequenceNumber: Option[Long],
    valueCounts: Map[Int, Long],
    nullValueCounts: Map[Int, Long],
    nanValueCounts: Map[Int, Long],
    lowerBounds: Map[Int, Array[Byte]],
    upperBounds: Map[Int, Array[Byte]],
    /** sort order the file was written under (None/0 = unsorted) */
    sortOrderId: Option[Int] = None,
    /** partition spec the containing manifest was written under — the
      * `partition` map's values are typed/named by THIS spec, which after
      * partition evolution differs from the table's default */
    specId: Int = 0,
    /** v3 row lineage: the row id of this file's first row — rows read
      * as `firstRowId + position` unless the file materializes a
      * `_row_id` column (rewrites do; the column wins). None on v1/v2
      * manifests and on files added before a v3 upgrade. Written
      * ABSOLUTE per file (not the spec's manifest-relative inheritance):
      * a rewritten manifest that drops entries then cannot shift the
      * survivors' ids. */
    firstRowId: Option[Long] = None)

/** One delete file from a v2 delete manifest: content 1 = position
  * deletes (rows of `file_path`, `pos`), content 2 = equality deletes
  * (rows of the columns named by `equalityIds`).
  */
final case class DeleteFileEntry(
    filePath: String,
    content: Int,
    equalityIds: Seq[Int],
    recordCount: Long,
    sequenceNumber: Option[Long],
    /** v3 deletion-vector fields: a DV entry is content = 1 whose
      * positions live in a Puffin blob at `contentOffset`/`contentSize`
      * inside `filePath`, applying to exactly `referencedDataFile`.
      * `referencedDataFile` ALONE does not mean DV — the spec allows it
      * on v2 parquet position-delete files too (single-target hint). */
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSize: Option[Long] = None,
    fileFormat: Option[String] = None,
    /** partition tuple the delete file was written under (by spec-field
      * name, JVM-typed like [[DataFileEntry.partition]]) — what the
      * `partitions` metadata table attributes delete debt by. Empty for
      * globally-scoped deletes. */
    partition: Map[String, Any] = Map.empty,
    /** spec id of the containing manifest (types [[partition]]). */
    specId: Int = 0) {
  /** True for a v3 deletion-vector entry, false for a v2 parquet
    * position/equality delete file. Keyed on the declared PUFFIN format
    * (or a present content offset), so a malformed DV entry missing its
    * offset routes to the DV path's LOUD validation errors instead of
    * being parquet-read into a confusing task failure. */
  def isDv: Boolean =
    fileFormat.exists(_.equalsIgnoreCase("puffin")) || contentOffset.nonEmpty
}

/** Avro readers for Iceberg manifest lists and manifests, written against
  * the embedded writer schema via avro-1.12 `GenericDatumReader` — the
  * counterpart of what iceberg-rs hands the reference in
  * `table.rs:128-145`. Field access is by-name and defensive (v1/v2 field
  * spellings differ), per SURVEY §7.4.
  */
object ManifestIO {

  private def open(path: String, conf: Configuration): DataFileReader[GenericRecord] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    // Manifests are small (KBs–MBs); buffer fully so any FS (local, s3a…)
    // only needs a plain open, mirroring the reference's object-store reads.
    val bytes = try in.readAllBytes() finally in.close()
    new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
  }

  /** Every entry of one manifest as a raw record, with the manifest's
    * embedded writer schema — for rewrites that must keep the fields
    * this library does not model. */
  def readRecords(path: String, conf: Configuration): (Schema, Vector[GenericRecord]) = {
    val reader = open(path, conf)
    try {
      val b = Vector.newBuilder[GenericRecord]
      while (reader.hasNext) b += reader.next()
      (reader.getSchema, b.result())
    } finally reader.close()
  }

  private def opt(rec: GenericRecord, name: String): Option[AnyRef] =
    if (rec.getSchema.getField(name) == null) None else Option(rec.get(name))

  private def optLong(rec: GenericRecord, names: String*): Option[Long] =
    names.iterator.flatMap(n => opt(rec, n)).collectFirst {
      case n: java.lang.Number => n.longValue
    }

  private def bb(v: AnyRef): Array[Byte] = v match {
    case b: ByteBuffer =>
      val out = new Array[Byte](b.remaining); b.duplicate.get(out); out
    case a: Array[Byte] => a
    case f: org.apache.avro.generic.GenericFixed => f.bytes
  }

  private def kvMap[V](v: AnyRef)(f: AnyRef => V): Map[Int, V] = v match {
    case l: java.util.List[_] =>
      val it = l.iterator
      val b = Map.newBuilder[Int, V]
      while (it.hasNext) {
        val r = it.next().asInstanceOf[GenericRecord]
        b += r.get("key").asInstanceOf[java.lang.Number].intValue -> f(r.get("value"))
      }
      b.result()
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, value) =>
        k.toString.toInt -> f(value.asInstanceOf[AnyRef])
      }.toMap
    case _ => Map.empty
  }

  /** Encrypted files refuse at MANIFEST read with a typed message: a
    * `key_metadata` on a data/delete file means its content is
    * ciphertext, and proceeding would fail later with a raw parquet/avro
    * decode error (or worse, read garbage). This engine ships no key
    * management. */
  private def requireUnencrypted(df: GenericRecord): Unit =
    if (df.getSchema.getField("key_metadata") != null &&
        df.get("key_metadata") != null)
      throw new UnsupportedOperationException(
        s"table encryption not supported: file ${df.get("file_path")} " +
          "carries key_metadata (encrypted content) and this engine " +
          "ships no key-management integration — read the table with an " +
          "encryption-capable engine")

  /** JVM-ify an Avro value (Utf8 → String, ByteBuffer → bytes). */
  private def jvm(v: AnyRef): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: ByteBuffer => bb(b)
    case other => other
  }

  def readManifestList(path: String, conf: Configuration): Seq[ManifestFile] = {
    val reader = open(path, conf)
    try {
      val out = ArrayBuffer.empty[ManifestFile]
      while (reader.hasNext) {
        val r = reader.next()
        val parts = opt(r, "partitions").collect { case l: java.util.List[_] =>
          val it = l.iterator; val b = ArrayBuffer.empty[PartitionSummary]
          while (it.hasNext) {
            val p = it.next().asInstanceOf[GenericRecord]
            b += PartitionSummary(
              containsNull = opt(p, "contains_null").exists(_.asInstanceOf[Boolean]),
              containsNan = opt(p, "contains_nan").map(_.asInstanceOf[Boolean]),
              lowerBound = opt(p, "lower_bound").map(bb),
              upperBound = opt(p, "upper_bound").map(bb))
          }
          b.toSeq
        }.getOrElse(Nil)
        out += ManifestFile(
          path = r.get("manifest_path").toString,
          length = optLong(r, "manifest_length").getOrElse(0L),
          partitionSpecId = optLong(r, "partition_spec_id").map(_.toInt).getOrElse(0),
          content = optLong(r, "content").map(_.toInt).getOrElse(0),
          partitions = parts,
          addedRowsCount = optLong(r, "added_rows_count", "added_rows"),
          existingRowsCount = optLong(r, "existing_rows_count", "existing_rows"),
          deletedRowsCount = optLong(r, "deleted_rows_count", "deleted_rows"),
          sequenceNumber = optLong(r, "sequence_number", "seq_number"),
          firstRowId = optLong(r, "first_row_id"))
      }
      out.toSeq
    } finally reader.close()
  }

  /** Live (status != DELETED) data files in one manifest. Iceberg status:
    * 0 = EXISTING, 1 = ADDED, 2 = DELETED — deleted entries are dropped
    * exactly as iceberg-rs drops them before the reference sees files.
    */
  def readManifest(path: String, conf: Configuration,
                   inheritSeq: Option[Long] = None,
                   specId: Int = 0,
                   /** v3 lineage inheritance base (manifest-list
                     * `first_row_id`): ADDED data entries with a null
                     * per-entry value are assigned sequentially from it,
                     * incrementing by each assigned entry's record_count
                     * — the spec's read rule for inheritance-style
                     * writers. Explicit per-entry values always win. */
                   inheritFirstRowId: Option[Long] = None): Seq[DataFileEntry] = {
    val reader = open(path, conf)
    try {
      val out = ArrayBuffer.empty[DataFileEntry]
      var nextInheritedRowId: Option[Long] = inheritFirstRowId
      while (reader.hasNext) {
        val r = reader.next()
        val status = optLong(r, "status").map(_.toInt).getOrElse(1)
        if (status != 2) {
          val df = r.get("data_file").asInstanceOf[GenericRecord]
          requireUnencrypted(df)
          // v2 manifests may carry delete files (content != 0): not data.
          val content = optLong(df, "content").map(_.toInt).getOrElse(0)
          if (content == 0) {
            val partition = opt(df, "partition").collect { case p: GenericRecord =>
              import scala.jdk.CollectionConverters._
              p.getSchema.getFields.asScala.map { f =>
                f.name -> jvm(p.get(f.pos).asInstanceOf[AnyRef])
              }.toMap
            }.getOrElse(Map.empty[String, Any])
            out += DataFileEntry(
              filePath = df.get("file_path").toString,
              fileFormat = opt(df, "file_format").map(_.toString).getOrElse("PARQUET"),
              partition = partition,
              recordCount = optLong(df, "record_count").getOrElse(0L),
              fileSizeInBytes = optLong(df, "file_size_in_bytes").getOrElse(0L),
              sequenceNumber = optLong(r, "sequence_number")
                .orElse(if (status == 1) inheritSeq else None),
              valueCounts = opt(df, "value_counts")
                .map(kvMap(_)(_.asInstanceOf[java.lang.Number].longValue)).getOrElse(Map.empty),
              nullValueCounts = opt(df, "null_value_counts")
                .map(kvMap(_)(_.asInstanceOf[java.lang.Number].longValue)).getOrElse(Map.empty),
              nanValueCounts = opt(df, "nan_value_counts")
                .map(kvMap(_)(_.asInstanceOf[java.lang.Number].longValue)).getOrElse(Map.empty),
              lowerBounds = opt(df, "lower_bounds").map(kvMap(_)(bb)).getOrElse(Map.empty),
              upperBounds = opt(df, "upper_bounds").map(kvMap(_)(bb)).getOrElse(Map.empty),
              sortOrderId = optLong(df, "sort_order_id").map(_.toInt),
              specId = specId,
              firstRowId = optLong(df, "first_row_id").orElse {
                // inheritance: only ADDED entries consume from the
                // manifest's range (EXISTING entries carry the explicit
                // value their rewrite resolved)
                if (status == 1) {
                  val assigned = nextInheritedRowId
                  assigned.foreach(b => nextInheritedRowId =
                    Some(b + optLong(df, "record_count").getOrElse(0L)))
                  assigned
                } else None
              })
          }
        }
      }
      out.toSeq
    } finally reader.close()
  }

  /** Live delete-file entries from a DELETE manifest (manifest-list
    * content = 1): position deletes (content 2... see Iceberg spec:
    * data_file.content 1 = POSITION_DELETES, 2 = EQUALITY_DELETES). */
  /** The explicit `first_row_id` of a manifest's FIRST live data entry —
    * the base the writing commit assigned its range from. One bounded
    * read of a just-written local manifest; used by the lineage commit
    * to anchor its set-next-row-id + assert-next-row-id on the SAME base
    * the manifest entries carry (plan-time and commit-time metadata can
    * diverge under a rival commit; the manifest is the truth). */
  def firstEntryFirstRowId(path: String, conf: Configuration): Option[Long] = {
    val reader = open(path, conf)
    try {
      while (reader.hasNext) {
        val r = reader.next()
        val status = optLong(r, "status").map(_.toInt).getOrElse(1)
        if (status != 2) {
          val df = r.get("data_file").asInstanceOf[GenericRecord]
          if (optLong(df, "content").map(_.toInt).getOrElse(0) == 0)
            return optLong(df, "first_row_id")
        }
      }
      None
    } finally reader.close()
  }

  def readDeleteManifest(path: String, conf: Configuration,
                         inheritSeq: Option[Long] = None,
                         specId: Int = 0): Seq[DeleteFileEntry] = {
    val reader = open(path, conf)
    try {
      val out = ArrayBuffer.empty[DeleteFileEntry]
      while (reader.hasNext) {
        val r = reader.next()
        val status = optLong(r, "status").map(_.toInt).getOrElse(1)
        if (status != 2) {
          val df = r.get("data_file").asInstanceOf[GenericRecord]
          requireUnencrypted(df)
          val content = optLong(df, "content").map(_.toInt).getOrElse(0)
          if (content == 1 || content == 2) {
            val eqIds = opt(df, "equality_ids").collect {
              case l: java.util.List[_] =>
                val it = l.iterator; val b = ArrayBuffer.empty[Int]
                while (it.hasNext) b += it.next().asInstanceOf[java.lang.Number].intValue
                b.toSeq
            }.getOrElse(Nil)
            out += DeleteFileEntry(
              filePath = df.get("file_path").toString,
              content = content,
              equalityIds = eqIds,
              recordCount = optLong(df, "record_count").getOrElse(0L),
              sequenceNumber = optLong(r, "sequence_number")
                .orElse(if (status == 1) inheritSeq else None),
              referencedDataFile =
                opt(df, "referenced_data_file").map(_.toString),
              contentOffset = optLong(df, "content_offset"),
              contentSize = optLong(df, "content_size_in_bytes"),
              fileFormat = opt(df, "file_format").map(_.toString),
              partition = opt(df, "partition").collect {
                case p: GenericRecord =>
                  import scala.jdk.CollectionConverters._
                  p.getSchema.getFields.asScala.map { f =>
                    f.name -> jvm(p.get(f.pos).asInstanceOf[AnyRef])
                  }.toMap
              }.getOrElse(Map.empty[String, Any]),
              specId = specId)
          }
        }
      }
      out.toSeq
    } finally reader.close()
  }

  /** One manifest entry, UNFILTERED — the `entries` metadata table's
    * row: unlike [[readManifest]]/[[readDeleteManifest]] this keeps
    * DELETED (status = 2) entries, which is exactly what a debugging
    * user wants to see ("which commit dropped this file"). */
  final case class RawEntry(
      status: Int,
      sequenceNumber: Option[Long],
      content: Int, // data_file.content: 0 data, 1 position del, 2 equality del
      filePath: String,
      fileFormat: String,
      recordCount: Long,
      fileSizeInBytes: Long)

  /** Every entry of one manifest (data or delete), statuses included. */
  def readRawEntries(path: String, conf: Configuration,
                     inheritSeq: Option[Long] = None): Seq[RawEntry] = {
    val reader = open(path, conf)
    try {
      val out = ArrayBuffer.empty[RawEntry]
      while (reader.hasNext) {
        val r = reader.next()
        val status = optLong(r, "status").map(_.toInt).getOrElse(1)
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        out += RawEntry(
          status = status,
          sequenceNumber = optLong(r, "sequence_number")
            .orElse(if (status == 1) inheritSeq else None),
          content = optLong(df, "content").map(_.toInt).getOrElse(0),
          filePath = df.get("file_path").toString,
          fileFormat = opt(df, "file_format").map(_.toString).getOrElse("PARQUET"),
          recordCount = optLong(df, "record_count").getOrElse(0L),
          fileSizeInBytes = optLong(df, "file_size_in_bytes").getOrElse(0L))
      }
      out.toSeq
    } finally reader.close()
  }
}
