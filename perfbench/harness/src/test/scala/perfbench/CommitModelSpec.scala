package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.connector.GraftCatalog

/** The `lake_commit` model against the engine: every statement the model
  * generates, run through the engine's catalog, leaves the table with the
  * model's read-back. Also the model's own bookkeeping. */
class CommitModelSpec extends AnyFunSuite {
  import TestSession.{testDir, spark}

  test("sparkHash is Spark's hash() of a string") {
    val vs = Seq("r0", "i1000000", "m3u", "")
    val want = spark.sql(vs.map(v => s"SELECT hash('$v')").mkString(" UNION ALL "))
      .collect().map(_.getInt(0)).toSeq
    assert(vs.map(CommitModel.sparkHash) === want)
  }

  private def changes(m: CommitModel, n: Int) =
    (0 until n).flatMap(j => m.tables.map(t => m.next(t, j)))

  test("the same seed gives the same statements; another seed does not") {
    def run(seed: Long) = {
      val m = new CommitModel(seed)
      m.tables.foreach(m.initialLoad)
      changes(m, 20).map(c => (c.table, c.kind, c.sql, c.rowsChanged))
    }
    assert(run(5) === run(5))
    assert(run(5) !== run(6))
  }

  test("each table cycles through every statement kind") {
    val m = new CommitModel(1)
    m.tables.foreach(m.initialLoad)
    val cs = changes(m, 12)
    m.tables.foreach { t =>
      assert(cs.filter(_.table == t).map(_.kind) === CommitModel.Cycle ++ CommitModel.Cycle)
    }
  }

  test("rowsChanged counts the rows each statement changes") {
    val m = new CommitModel(3)
    m.tables.foreach(m.initialLoad)
    (0 until 30).foreach { j =>
      m.tables.foreach { t =>
        val before = m.rows(t).toMap
        val c = m.next(t, j)
        val after = m.rows(t).toMap
        val changed = (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
        assert(c.rowsChanged === changed, s"change $j of $t (${c.kind})")
      }
    }
  }

  test("the engine's read-back matches the model after every statement") {
    val dir = Files.createTempDirectory(Paths.get(testDir), "warehouse").toString
    spark.conf.set("spark.sql.catalog.cm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cm.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cm.lc")
    spark.sql("""CREATE TABLE cm.lc.mor (k BIGINT, v STRING)
                |TBLPROPERTIES ('format-version' = '3',
                |  'write.merge.mode' = 'merge-on-read',
                |  'write.delete.mode' = 'merge-on-read',
                |  'write.update.mode' = 'merge-on-read')""".stripMargin)
    spark.sql("CREATE TABLE cm.lc.cow (k BIGINT, v STRING)")
    val m = new CommitModel(11)
    def readBack(t: String) = {
      val r = spark.sql(CommitModel.ReadBack.replace("{table}", s"cm.$t")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    m.tables.foreach { t =>
      spark.sql(m.initialLoad(t).statement("cm", 0L))
      assert(readBack(t) === m.expected(t))
    }
    (0 until 12).foreach { j =>
      m.tables.foreach { t =>
        val c = m.next(t, j)
        spark.sql(c.statement("cm", System.currentTimeMillis() + 86400000L))
        assert(readBack(t) === m.expected(t), s"change $j of $t (${c.kind})")
      }
    }
  }
}
