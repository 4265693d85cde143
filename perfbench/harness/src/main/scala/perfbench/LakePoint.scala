package perfbench

import java.sql.Date

import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}

/** `lake_point`: selective reads against two partitioned tables built by
  * a long history of small appends, so reads pay for many snapshots,
  * manifests and small files while execution does little. Nothing commits
  * during the loop, so the working set fits the engine's table and
  * manifest caches.
  *
  * - `lp.events` (k, ts_day, acct, amount, status), partitioned by
  *   days(ts_day): Appends appends of EventsPerAppend rows, each covering
  *   two new days.
  * - `lp.accounts` (acct, segment, balance, name), partitioned by
  *   bucket(8, acct): AccountAppends appends of AccountsPerAppend rows. */
final class LakePoint extends Workload {
  import LakePoint.Query

  val name = "lake_point"
  val tables = Seq("lp.events", "lp.accounts")

  private val Appends = 8
  private val EventsPerAppend = 600
  private val AccountAppends = 3
  private val AccountsPerAppend = 500
  private val Accounts = AccountAppends * AccountsPerAppend
  private val FirstDay = Date.valueOf("2024-03-01").toLocalDate
  private val PoolPerKind = 3

  private def day(i: Int): Date = Date.valueOf(FirstDay.plusDays(i.toLong))

  def generate(b: Bench): Unit = {
    val s = b.seed
    pool = makePool(s)
    b.sql(
      s"""SELECT id AS k, CAST(id DIV $EventsPerAppend AS INT) AS batch,
         |  date_add(DATE'$FirstDay', CAST(id DIV $EventsPerAppend AS INT) * 2
         |    + CAST(pmod(xxhash64(id, $s, 1), 2) AS INT)) AS ts_day,
         |  pmod(xxhash64(id, $s, 2), $Accounts) AS acct,
         |  CAST(pmod(xxhash64(id, $s, 3), 100000) / 100 AS DECIMAL(12,2)) AS amount,
         |  element_at(array('F', 'O', 'P'),
         |    CAST(pmod(xxhash64(id, $s, 4), 3) AS INT) + 1) AS status
         |FROM range(${Appends * EventsPerAppend})""".stripMargin)
      .write.mode("overwrite").parquet(s"${b.work}/source/lp_events")
    b.sql(
      s"""SELECT id AS acct, CAST(id DIV $AccountsPerAppend AS INT) AS batch,
         |  element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY', 'HOUSEHOLD'),
         |    CAST(pmod(xxhash64(id, $s, 5), 5) AS INT) + 1) AS segment,
         |  CAST(pmod(xxhash64(id, $s, 6), 1000000) / 100 AS DECIMAL(12,2)) AS balance,
         |  concat('acct#', lpad(CAST(id AS STRING), 6, '0'), '-',
         |    substr(sha2(CAST(xxhash64(id, $s, 7) AS STRING), 256), 1, 8)) AS name
         |FROM range($Accounts)""".stripMargin)
      .write.mode("overwrite").parquet(s"${b.work}/source/lp_accounts")
    b.spark.read.parquet(s"${b.work}/source/lp_events").createOrReplaceTempView("lp_events_src")
    b.spark.read.parquet(s"${b.work}/source/lp_accounts").createOrReplaceTempView("lp_accounts_src")
  }

  val warmupRounds = 10

  def setup(b: Bench): Seq[Sample] = {
    b.sql(s"CREATE NAMESPACE IF NOT EXISTS ${b.cat}.lp")
    b.sql(s"""CREATE TABLE ${b.cat}.lp.events (k BIGINT, ts_day DATE, acct BIGINT,
             |  amount DECIMAL(12,2), status STRING) PARTITIONED BY (days(ts_day))""".stripMargin)
    b.sql(s"""CREATE TABLE ${b.cat}.lp.accounts (acct BIGINT, segment STRING,
             |  balance DECIMAL(12,2), name STRING) PARTITIONED BY (bucket(8, acct))""".stripMargin)
    val events = (0 until Appends).map(i => b.setupCommit("append", "lp.events",
      s"""INSERT INTO ${b.cat}.lp.events SELECT k, ts_day, acct, amount, status
         |FROM lp_events_src WHERE batch = $i""".stripMargin, EventsPerAppend))
    val accounts = (0 until AccountAppends).map(i => b.setupCommit("append", "lp.accounts",
      s"""INSERT INTO ${b.cat}.lp.accounts SELECT acct, segment, balance, name
         |FROM lp_accounts_src WHERE batch = $i""".stripMargin, AccountsPerAppend))
    events ++ accounts
  }

  private var pool = Map.empty[String, IndexedSeq[Query]]

  /** PoolPerKind seeded reads of each kind; the loop draws from them. */
  private def makePool(seed: Long): Map[String, IndexedSeq[Query]] = {
    val rnd = new scala.util.Random(seed)
    def ev(kind: String, sql: String, filters: Seq[Filter]) = Query(kind, "lp.events", sql, filters)
    def ac(kind: String, sql: String, filters: Seq[Filter]) = Query(kind, "lp.accounts", sql, filters)
    val days = Appends * 2
    Seq[(String, () => Query)](
      "read.event_key" -> { () =>
        val k = rnd.nextInt(Appends * EventsPerAppend).toLong
        ev("read.event_key", s"SELECT k, ts_day, acct, amount, status FROM %t WHERE k = $k",
          Seq(EqualTo("k", k)))
      },
      "read.event_days" -> { () =>
        val d = rnd.nextInt(days - 1)
        ev("read.event_days",
          s"SELECT count(*), sum(amount) FROM %t WHERE ts_day BETWEEN DATE'${day(d)}' AND DATE'${day(d + 1)}'",
          Seq(GreaterThanOrEqual("ts_day", day(d)), LessThanOrEqual("ts_day", day(d + 1))))
      },
      "read.event_min" -> { () =>
        val d = rnd.nextInt(days)
        val st = Seq("F", "O", "P")(rnd.nextInt(3))
        ev("read.event_min",
          s"SELECT min(amount), max(k), count(*) FROM %t WHERE ts_day = DATE'${day(d)}' AND status = '$st'",
          Seq(EqualTo("ts_day", day(d)), EqualTo("status", st)))
      },
      "read.account_key" -> { () =>
        val a = rnd.nextInt(Accounts).toLong
        ac("read.account_key", s"SELECT name, segment, balance FROM %t WHERE acct = $a",
          Seq(EqualTo("acct", a)))
      },
      "read.account_in" -> { () =>
        val as = Seq.fill(3)(rnd.nextInt(Accounts).toLong).distinct
        ac("read.account_in",
          s"SELECT count(*), min(balance), max(name) FROM %t WHERE acct IN (${as.mkString(", ")})",
          Seq(In("acct", as.toArray[Any])))
      }
    ).map { case (kind, mk) => kind -> IndexedSeq.fill(PoolPerKind)(mk()) }.toMap
  }

  private var expected = Map.empty[Query, Seq[String]]

  /** The same SQL over temp views of the source Parquet. */
  def prepare(b: Bench): Unit =
    expected = pool.values.flatten.map { q =>
      val src = if (q.table == "lp.events") "lp_events_src" else "lp_accounts_src"
      q -> Workloads.rowsOf(b.sql(q.sql.replace("%t", src)).collect())
    }.toMap

  def round(b: Bench, r: Int): Seq[Op] = {
    val rnd = new scala.util.Random(b.seed * 7919L + r)
    pool.toSeq.sortBy(_._1).map { case (_, qs) =>
      val q = qs(rnd.nextInt(qs.size))
      val stmt = q.sql.replace("%t", s"${b.cat}.${q.table}")
      Op(q.kind, "read", Seq(q.table), () => b.sql(stmt).collect(),
        Workloads.sameRows(expected(q)), q.filters)
    }
  }
}

object LakePoint {
  /** A read: its kind, the table, SQL with `%t` for the table, and the
    * predicates it pushes down. */
  private final case class Query(kind: String, table: String, sql: String, filters: Seq[Filter])
}
