package graft

/** `SPARK_GRAFT_CPUS`, parsed once for the mains that size their local
  * session by it: a positive integer, else the main's own default. The
  * raw string must not reach `local[…]` or `spark.sql.shuffle.partitions`
  * — `*` is a valid master but not a partition count. */
object Cpus {
  def fromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(default)
}
