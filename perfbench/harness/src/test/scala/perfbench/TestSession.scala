package perfbench

import java.nio.file.{Files, Paths}

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** The test JVM's Spark session; everything the tests write stays under
  * the build's target directory. */
object TestSession {
  val testDir: String = Files.createDirectories(Paths.get("target", "harness-spec"))
    .toAbsolutePath.toString
  System.setProperty("java.io.tmpdir", testDir)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.local.dir", s"$testDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$testDir/spark-warehouse")
    .config("spark.sql.extensions", "graft.iceberg.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("ERROR"))
}
