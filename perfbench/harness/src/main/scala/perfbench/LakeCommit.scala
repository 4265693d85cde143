package perfbench

import org.apache.spark.sql.Row

/** `lake_commit`: small appends, MERGE upserts, DELETEs and UPDATEs over a merge-on-read v3 table (`lc.mor`) and a
  * copy-on-write table (`lc.cow`), with periodic `rewrite_data_files` and
  * `expire_snapshots` in the same loop. Every statement is followed by a
  * read-back whose (count, sum(k), sum(hash(v))) is checked against
  * [[CommitModel]]. Each commit changes the table, so each read-back
  * misses the catalog's table cache and pays a cold metadata load. */
final class LakeCommit extends Workload {
  val name = "lake_commit"
  // one model per catalog: every build starts from the initial load
  private val models = scala.collection.mutable.Map.empty[String, CommitModel]
  val tables: Seq[String] = new CommitModel(0L).tables

  val warmupRounds = 2

  def generate(b: Bench): Unit = ()

  /** A build is two small commits (about a third of a second), so more
    * of them are timed to keep setup_s steady. */
  override def timedBuilds: Int = 8

  def setup(b: Bench): Seq[Sample] = {
    val model = new CommitModel(b.seed)
    models(b.cat) = model
    b.sql(s"CREATE NAMESPACE IF NOT EXISTS ${b.cat}.lc")
    b.sql(s"""CREATE TABLE ${b.cat}.lc.mor (k BIGINT, v STRING)
             |TBLPROPERTIES ('format-version' = '3',
             |  'write.merge.mode' = 'merge-on-read',
             |  'write.delete.mode' = 'merge-on-read',
             |  'write.update.mode' = 'merge-on-read')""".stripMargin)
    b.sql(s"CREATE TABLE ${b.cat}.lc.cow (k BIGINT, v STRING)")
    model.tables.map { t =>
      val c = model.initialLoad(t)
      b.setupCommit(c.kind, t, c.statement(b.cat, 0L), c.rowsChanged)
    }
  }

  def prepare(b: Bench): Unit = ()

  /** Round r: one full statement cycle on each table, every statement
    * followed by its read-back, so every round has the same mix. A
    * read-back is named after the statement it follows, because what that
    * statement leaves behind (delete files, or none after a compaction)
    * sets what the read costs. */
  def round(b: Bench, r: Int): Seq[Op] = {
    val model = models(b.cat)
    (0 until CommitModel.Cycle.size).flatMap(i => model.tables.flatMap { t =>
      val c = model.next(t, r * CommitModel.Cycle.size + i)
      val want = model.expected(t)
      val stmt = c.statement(b.cat, System.currentTimeMillis() + 86400000L)
      val readBack = CommitModel.ReadBack.replace("{table}", s"${b.cat}.$t")
      Seq(
        Op(s"commit.${c.kind}", "commit", Seq(t), () => b.sql(stmt), _ => None,
          rowsChanged = c.rowsChanged),
        Op(s"read.after_${c.kind}", "read", Seq(t), () => b.sql(readBack).collect(), {
          case Array(row: Row) =>
            val got = (row.getLong(0), row.getLong(1), row.getLong(2))
            if (got == want) None else Some(s"read-back $got, model $want")
          case other => Some(s"unexpected read-back $other")
        }))
    })
  }
}
