package perfbench

import org.apache.spark.sql.Row

/** A benchmark workload: seeded inputs, a timed table build, and the
  * rounds of its closed loop. */
trait Workload {
  def name: String

  /** The `ns.name` tables whose storage is reported at the end. */
  def tables: Seq[String]

  /** Makes the seeded source data. Not part of the set-up time. */
  def generate(b: Bench): Unit

  /** Builds the workload's tables in the current catalog: the timed
    * set-up. Returns the set-up's commits. */
  def setup(b: Bench): Seq[Sample]

  /** Timed builds per run, after one untimed warm-up build; setup_s is
    * their median. */
  def timedBuilds: Int = 2

  /** Rounds of the loop's warm-up, at least one. A fixed count, so that
    * the JVM's and the tables' state after it does not depend on the
    * host's speed. */
  def warmupRounds: Int

  /** Computes what the checks compare against. Not part of the set-up
    * time. */
  def prepare(b: Bench): Unit

  /** Round r of the loop; the same seed gives the same rounds. */
  def round(b: Bench, r: Int): Seq[Op]
}

object Workloads {
  /** Rounds a measured loop runs at least, however long they take, so
    * that every (kind, table) median has more than one sample. */
  val MinRounds = 2

  def apply(name: String): Workload = name match {
    case "lake_point" => new LakePoint
    case "lake_commit" => new LakeCommit
    case "pipeline_iter" => new PipelineIter
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A result as sorted row strings, for exact comparison. */
  def rowsOf(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted

  /** A check that compares a read's rows with the expected rows. */
  def sameRows(expected: => Seq[String]): Any => Option[String] = {
    case rows: Array[Row] =>
      val got = rowsOf(rows)
      val want = expected
      if (got == want) None
      else Some(s"got ${got.take(3).mkString(";")} (${got.size} rows), " +
        s"want ${want.take(3).mkString(";")} (${want.size} rows)")
    case other => Some(s"unexpected result $other")
  }
}
