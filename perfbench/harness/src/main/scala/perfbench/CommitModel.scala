package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The harness's model of the `lake_commit` tables: key -> value per table.
  * It generates each round's statement from the seed and the current
  * state, applies the statement to itself, and gives the read-back result
  * the engine must return afterwards. */
final class CommitModel(seed: Long) {
  import CommitModel._

  val tables: Seq[String] = Seq("lc.mor", "lc.cow")
  private val state = tables.map(_ -> mutable.TreeMap.empty[Long, String]).toMap
  private var nextKey = FirstNewKey

  def rows(t: String): collection.SortedMap[Long, String] = state(t)

  /** The set-up load of each table: keys 0 until InitialRows. */
  def initialLoad(t: String): Change = {
    val c = Change(t, "append",
      s"INSERT INTO {table} SELECT id, concat('r', CAST(id AS STRING)) FROM range($InitialRows)",
      InitialRows)
    (0L until InitialRows).foreach(k => state(t)(k) = s"r$k")
    c
  }

  /** Change j of table t. Each table cycles through append, merge,
    * rewrite_data_files, delete, update and expire_snapshots; keys, values
    * and ranges are drawn from the seed. */
  def next(t: String, j: Int): Change = {
    val rnd = new scala.util.Random(seed * 1000003L + tables.indexOf(t) * 7919L + j)
    val m = state(t)
    val keys = m.keysIterator.toVector
    def range(width: Int): (Long, Long) = {
      val i = rnd.nextInt(math.max(1, keys.size - width))
      (keys(i), keys(math.min(keys.size - 1, i + width - 1)))
    }
    Cycle(j % Cycle.size) match {
      case "append" =>
        val rows = (0 until BatchRows).map { _ => val k = nextKey; nextKey += 1; k -> s"i$k" }
        rows.foreach { case (k, v) => m(k) = v }
        Change(t, "append", s"INSERT INTO {table} VALUES ${values(rows)}", rows.size)
      case "merge" =>
        val old = rnd.shuffle(keys).take(BatchRows / 2).map(_ -> s"m$j")
        val fresh = (0 until BatchRows / 2).map { _ => val k = nextKey; nextKey += 1; k -> s"m$j" }
        val rows = old ++ fresh
        rows.foreach { case (k, v) => m(k) = v }
        Change(t, "merge",
          s"MERGE INTO {table} t USING (SELECT * FROM VALUES ${values(rows)} AS s(k, v)) s " +
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)", rows.size)
      case "compact" =>
        Change(t, "compact", "CALL {cat}.system.rewrite_data_files(table => '{name}')", 0)
      case "delete" =>
        val (lo, hi) = range(3 * BatchRows)
        val rem = rnd.nextInt(3)
        val hit = m.range(lo, hi + 1).keys.filter(_ % 3 == rem).toVector
        hit.foreach(m.remove)
        Change(t, "delete",
          s"DELETE FROM {table} WHERE k BETWEEN $lo AND $hi AND k % 3 = $rem", hit.size)
      case "update" =>
        val (lo, hi) = range(BatchRows)
        val hit = m.range(lo, hi + 1).keys.toVector
        hit.foreach(k => m(k) = m(k) + "u")
        Change(t, "update",
          s"UPDATE {table} SET v = concat(v, 'u') WHERE k BETWEEN $lo AND $hi", hit.size)
      case _ =>
        Change(t, "expire", "CALL {cat}.system.expire_snapshots(table => '{name}', " +
          "older_than => {now}, retain_last => 3)", 0)
    }
  }

  /** What `ReadBack` must return for table t now. */
  def expected(t: String): (Long, Long, Long) = summary(state(t))
}

object CommitModel {
  /** The statements each table cycles through. */
  val Cycle = Seq("append", "merge", "compact", "delete", "update", "expire")
  val InitialRows = 4000L
  val BatchRows = 40
  val FirstNewKey = 1000000L

  /** The read-back each commit is followed by. */
  val ReadBack = "SELECT count(*), sum(k), sum(hash(v)) FROM {table}"

  /** One statement. `sql` holds placeholders: {table} the qualified
    * table, {cat} the catalog, {name} the `ns.name` table, {now} an expiry
    * horizon in epoch milliseconds. */
  final case class Change(table: String, kind: String, sql: String, rowsChanged: Long) {
    def statement(cat: String, nowMs: Long): String =
      sql.replace("{table}", s"$cat.$table").replace("{cat}", cat).replace("{name}", table)
        .replace("{now}", nowMs.toString)
  }

  private def values(rows: Seq[(Long, String)]): String =
    rows.map { case (k, v) => s"(${k}L, '$v')" }.mkString(", ")

  /** Spark's `hash(v)` for a string: Murmur3 x86_32 with seed 42. */
  def sparkHash(v: String): Int =
    Murmur3HashFunction.hash(UTF8String.fromString(v), StringType, 42L).toInt

  /** (count, sum(k), sum(hash(v))) of a key -> value map. */
  def summary(m: collection.Map[Long, String]): (Long, Long, Long) =
    (m.size.toLong, m.keysIterator.sum, m.valuesIterator.map(v => sparkHash(v).toLong).sum)
}
