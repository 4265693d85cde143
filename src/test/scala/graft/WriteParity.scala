package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

import graft.iceberg.{DataFileEntry, IcebergTable}

/** Reads back what one write produced, for the "write parity" cases in
  * `PartitionedWriteSpec`, `RowLevelOpsSpec` and `MergeOnReadSpec`:
  * every new file's parquet footer (top-level field ids, the codecs of
  * its column chunks, and the field metadata Spark records in the
  * footer) and every new manifest entry's partition tuple and stats
  * keys. Each case pins one write entry point, so a change to the shared
  * write setup shows up as a difference in exactly the files it writes.
  */
object WriteParity {

  /** What a data or delete file's footer says about how it was written. */
  final case class Footer(
      /** top-level parquet field name → field id (-1 when absent) and
        * repetition */
      ids: Seq[(String, Int, String)],
      codecs: Set[String],
      /** top-level field name → the field metadata Spark wrote into the
        * footer's row schema, as JSON */
      sparkMeta: Seq[(String, String)])

  def footer(path: String, conf: Configuration): Footer = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val fm = rd.getFooter.getFileMetaData
      val ids = fm.getSchema.getFields.asScala.toSeq.map(f =>
        (f.getName, Option(f.getId).map(_.intValue).getOrElse(-1),
          f.getRepetition.name))
      val codecs = rd.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      val sparkMeta = Option(fm.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType].fields.toSeq
          .map(f => f.name -> f.metadata.json))
        .getOrElse(Nil)
      Footer(ids, codecs, sparkMeta)
    } finally rd.close()
  }

  /** The data files live in `t`'s current snapshot and not in `before`. */
  def newDataFiles(t: IcebergTable, before: Set[String]): Seq[DataFileEntry] =
    t.planFiles().filterNot(f => before(f.filePath)).sortBy(_.filePath)

  /** Live position/equality delete files not in `before`, resolved. */
  def newDeleteFiles(t: IcebergTable, before: Set[String]): Seq[String] =
    t.planDeletes().map(_.filePath).filterNot(before).map(t.resolve).sorted

  /** The stats a manifest entry records: which field ids carry value
    * counts, null counts, NaN counts, lower and upper bounds. */
  def statsKeys(e: DataFileEntry): Map[String, Set[Int]] = Map(
    "value" -> e.valueCounts.keySet,
    "null" -> e.nullValueCounts.keySet,
    "nan" -> e.nanValueCounts.keySet,
    "lower" -> e.lowerBounds.keySet,
    "upper" -> e.upperBounds.keySet)

  /** `<data dir>/<file name>` of a written file, for shape matching. */
  def lastTwo(path: String): String =
    path.split('/').takeRight(2).mkString("/")

  private def render(f: Footer): String =
    s"ids=${f.ids.map { case (n, i, r) => s"$n:$i:$r" }.mkString(",")} " +
      s"codecs=${f.codecs.toSeq.sorted.mkString(",")}"

  /** One line per new data file (sorted): footer field ids and codecs,
    * the entry's partition tuple, and its stats keys. */
  def dataLines(t: IcebergTable, before: Set[String],
      conf: Configuration): Seq[String] =
    newDataFiles(t, before).map { e =>
      val stats = statsKeys(e).toSeq.sortBy(_._1).map { case (k, ids) =>
        s"$k=${ids.toSeq.sorted.mkString("/")}"
      }.mkString(" ")
      val part = e.partition.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(",")
      s"${render(footer(t.resolve(e.filePath), conf))} part=$part $stats"
    }.sorted

  /** One line per new delete file (sorted): footer field ids and codecs. */
  def deleteLines(t: IcebergTable, before: Set[String],
      conf: Configuration): Seq[String] =
    newDeleteFiles(t, before).map(p => render(footer(p, conf))).sorted

  /** The distinct footer row-schema field metadata across `paths`. */
  def sparkMeta(paths: Seq[String], conf: Configuration): Set[Seq[(String, String)]] =
    paths.map(footer(_, conf).sparkMeta).toSet

  /** Every path's `<dir>/<file>` matches `shape`. */
  def shapesMatch(paths: Seq[String], shape: String): Boolean =
    paths.nonEmpty && paths.forall(p => lastTwo(p).matches(shape))
}
