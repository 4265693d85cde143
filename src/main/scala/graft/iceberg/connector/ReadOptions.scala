package graft.iceberg.connector

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Typed access to scan read options (`maxFilesPerTrigger`,
  * `snapshot-id`, `compute-updates`, …) for the table and changelog scan
  * builders. A value that does not parse refuses with the option's name
  * and the value given, not a bare `NumberFormatException`; the
  * per-trigger caps must also be positive. Absent options are `None`
  * (`false` for flags). */
private[connector] object ReadOptions {

  def long(options: CaseInsensitiveStringMap, key: String): Option[Long] =
    parsed(options, key, "a whole number", _.toLongOption)

  def flag(options: CaseInsensitiveStringMap, key: String): Boolean =
    parsed(options, key, "true or false", _.toBooleanOption).getOrElse(false)

  def positiveInt(options: CaseInsensitiveStringMap, key: String): Option[Int] =
    positive(key, parsed(options, key, "a whole number", _.toIntOption))

  def positiveLong(options: CaseInsensitiveStringMap, key: String): Option[Long] =
    positive(key, long(options, key))

  private def positive[N](key: String, n: Option[N])(
      implicit num: Numeric[N]): Option[N] = {
    n.foreach(v => require(num.gt(v, num.zero), s"$key must be positive, got $v"))
    n
  }

  private def parsed[T](options: CaseInsensitiveStringMap, key: String,
      what: String, parse: String => Option[T]): Option[T] =
    Option(options.get(key)).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(
        s"read option $key must be $what, got '$v'")))
}
