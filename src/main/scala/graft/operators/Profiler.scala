package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-pass data profiling: per-column row/null/distinct counts and
  * min/max, for any column list, in a SINGLE scan over the table —
  * the "what is in this table" report that precedes every pipeline
  * onboarding. A naive profiler runs one job per column; at 100 TB that
  * is N full scans.
  *
  * Shape (round 20): unpivot each row into one NARROW (column, value)
  * row per profiled column, then TWO chained hash aggregates — per
  * (column, value) counts, then per column. Both levels hash-aggregate:
  * values ride the GROUP KEY (hashable for any type), never a
  * variable-width aggregation buffer, so the pass never falls back to
  * SortAggregate. The former single-agg form (multi-column
  * countDistinct) planned Spark's Expand rewrite — x(N+1) row
  * amplification into a SortAggregate chain because MIN/MAX over STRING
  * columns carry variable-width buffers; measured 3.0 s vs 0.85 s at
  * sf0.1 over 5 orders columns. Map-side partial aggregation collapses
  * repeated values before the one exchange, so low-cardinality columns
  * ship a handful of rows and high-cardinality columns ship ~one row
  * per distinct value — strictly fewer bytes than the Expand form's
  * x(N+1) full-width rows.
  *
  * Output parity with the single-agg form is exact, by construction:
  *  - integral columns group and min/max on the raw long (lossless);
  *    the final stringification `round(cast(min AS double), 4)` is the
  *    same expression the old form applied to `min(col)`.
  *  - float/double columns group and min/max on the double widening —
  *    injective (distinct counts exact) and monotone (min/max commute
  *    with the cast).
  *  - decimal columns group on their scale-fixed string rendering
  *    (injective) and min/max on the double widening (monotone).
  *  - string columns group and min/max on the value itself.
  *  - boolean columns group and min/max on their string rendering —
  *    injective and order-preserving ("false" < "true").
  *  - date/timestamp columns group on their string rendering (injective)
  *    but min/max on the TYPED value carried alongside (fixed-width
  *    int/long internally, so still hash-aggregable): the rendering is
  *    NOT order-preserving at the edges — BCE years ('-0044') compare
  *    reversed among themselves and years >= 10000 gain a digit
  *    (ADVICE r20) — while the typed min/max is the single-agg form's
  *    exact ordering and rendering.
  *  - any other type (array/struct/map/binary/interval) falls back to
  *    the original single-aggregate form, whose typed MIN/MAX ordering
  *    a string rendering would not preserve.
  *
  * Numeric min/max are rounded then stringified so every column type
  * shares one output schema and the DuckDB oracle's double formatting
  * agrees (shortest-representation printing on both engines).
  */
object Profiler {

  private sealed trait Kind
  private case object Integral extends Kind // group+minmax on long
  private case object Fractional extends Kind // group+minmax on double
  private case object DecimalKind extends Kind // group on string, minmax dbl
  private case object Stringy extends Kind // group+minmax on string render
  private case object Temporal extends Kind // group on string, minmax TYPED
  private case object Exotic extends Kind // single-agg fallback

  private def kindOf(dt: DataType): Kind = dt match {
    case ByteType | ShortType | IntegerType | LongType => Integral
    case FloatType | DoubleType => Fractional
    case _: DecimalType => DecimalKind
    // boolean's render is order-preserving ("false" < "true")
    case StringType | BooleanType => Stringy
    // date/timestamp renderings are NOT order-preserving at the edges
    // (BCE years render '-0044' and compare reversed among themselves;
    // years >= 10000 gain a digit) — min/max must use the TYPED value,
    // which is fixed-width (int/long internally) and therefore still
    // hash-aggregates (ADVICE r20). The string render stays the group
    // key (injective), the typed slot rides along for min/max only.
    case DateType | TimestampType | TimestampNTZType => Temporal
    case _ => Exotic
  }

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val kinds = cols.map(c => c -> kindOf(types.getOrElse(c, NullType))).toMap
    if (kinds.values.exists(_ == Exotic)) return profileSingleAgg(df, cols)

    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val nullL = lit(null).cast("long")
    val nullDt = lit(null).cast("date")
    val nullTs = lit(null).cast("timestamp")
    val nullNt = lit(null).cast("timestamp_ntz")
    // one narrow struct per profiled column, exploded to rows: the
    // shuffle carries (col, key-value, null-flag) — fixed small bytes
    // per row — instead of the Expand form's x(N+1) full-width rows.
    // Temporal columns additionally carry their TYPED value (4/8 fixed
    // bytes) so min/max use typed ordering, not the render's.
    val pairs = df.select(explode(array(cols.map { c =>
      val (sv, dv, lv) = kinds(c) match {
        case Integral => (nullS, nullD, col(c).cast("long"))
        case Fractional => (nullS, col(c).cast("double"), nullL)
        case DecimalKind => (col(c).cast("string"), col(c).cast("double"), nullL)
        case _ => (col(c).cast("string"), nullD, nullL)
      }
      val (tvd, tvt, tvn) =
        if (kinds(c) != Temporal) (nullDt, nullTs, nullNt)
        else types(c) match {
          case DateType => (col(c), nullTs, nullNt)
          case TimestampType => (nullDt, col(c), nullNt)
          case _ => (nullDt, nullTs, col(c))
        }
      struct(lit(c).as("cn"), sv.as("sv"), dv.as("dv"), lv.as("lv"),
        tvd.as("tvd"), tvt.as("tvt"), tvn.as("tvn"),
        col(c).isNull.as("isn"))
    }: _*)).as("p")).select(col("p.*"))
    // the typed temporal slots split no group the render (sv) alone
    // would form, except for DST-ambiguous instants: two instants in a
    // fall-back hour render to the same local string, and the typed key
    // keeps them apart — which makes n_distinct agree with
    // profileSingleAgg
    val lvl1 = pairs.groupBy("cn", "sv", "dv", "lv", "tvd", "tvt", "tvn", "isn")
      .agg(count(lit(1)).as("cnt"))
    val lvl2 = lvl1.groupBy("cn").agg(
      sum(when(!col("isn"), col("cnt")).otherwise(0L)).as("n"),
      sum(when(col("isn"), col("cnt")).otherwise(0L)).as("nulls_n"),
      count(when(!col("isn"), lit(1))).as("n_distinct"),
      min(col("sv")).as("smin"), max(col("sv")).as("smax"),
      min(col("dv")).as("dmin"), max(col("dv")).as("dmax"),
      min(col("lv")).as("lmin"), max(col("lv")).as("lmax"),
      min(col("tvd")).as("tdmin"), max(col("tvd")).as("tdmax"),
      min(col("tvt")).as("ttmin"), max(col("tvt")).as("ttmax"),
      min(col("tvn")).as("tnmin"), max(col("tvn")).as("tnmax"))
    def minmax(c: String, mn: Boolean): Column = {
      val (d, l, s) =
        if (mn) (col("dmin"), col("lmin"), col("smin"))
        else (col("dmax"), col("lmax"), col("smax"))
      kinds(c) match {
        case Integral => round(l.cast("double"), 4).cast("string")
        case Fractional | DecimalKind => round(d, 4).cast("string")
        case Temporal =>
          val t = (types(c), mn) match {
            case (DateType, true) => col("tdmin")
            case (DateType, false) => col("tdmax")
            case (TimestampType, true) => col("ttmin")
            case (TimestampType, false) => col("ttmax")
            case (_, true) => col("tnmin")
            case (_, false) => col("tnmax")
          }
          t.cast("string") // the single-agg form's exact rendering
        case _ => s
      }
    }
    // pivot the (<= N)-row per-column result back to ONE row (a global
    // aggregate yields exactly one row even over an EMPTY table, so
    // every column still reports n=0 / distinct=0 / NULL min-max), then
    // `stack` to long form — the same driver-free pivot the single-agg
    // form used, over N rows instead of the whole table
    def pick(c: String, v: Column): Column =
      first(when(col("cn") === c, v), ignoreNulls = true)
    val aggsOne = cols.flatMap { c => Seq(
      coalesce(pick(c, col("n")), lit(0L)).as(s"${c}__n"),
      pick(c, col("nulls_n")).as(s"${c}__nulls"),
      coalesce(pick(c, col("n_distinct")), lit(0L)).as(s"${c}__distinct"),
      pick(c, minmax(c, mn = true)).as(s"${c}__min"),
      pick(c, minmax(c, mn = false)).as(s"${c}__max"))
    }
    val row = lvl2.agg(aggsOne.head, aggsOne.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__n, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
      .mkString(", ")
    row.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n, n_nulls, n_distinct, min_s, max_s)")
  }

  /** The original single-aggregate form: every metric as an aggregate
    * expression in ONE `agg` (the multi-column count-distinct plans
    * Spark's Expand rewrite), result pivoted with a driver-free `stack`.
    * Kept as the fallback for column types whose typed MIN/MAX ordering
    * a string rendering would not preserve (arrays, binary, ...). */
  private[graft] def profileSingleAgg(df: DataFrame, cols: Seq[String]): DataFrame = {
    val numeric = df.schema.fields.map(f =>
      f.name -> f.dataType.isInstanceOf[NumericType]).toMap
    def s(c: String, agg: Column) =
      (if (numeric.getOrElse(c, false)) round(agg.cast("double"), 4) else agg)
        .cast("string")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      s(c, min(col(c))).as(s"${c}__min"),
      s(c, max(col(c))).as(s"${c}__max"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__n, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
      .mkString(", ")
    row.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n, n_nulls, n_distinct, min_s, max_s)")
  }
}
