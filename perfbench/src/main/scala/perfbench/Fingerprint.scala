package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-independent fingerprint of a query result.
  *
  * Every column is rendered to a canonical string (doubles to ten
  * significant digits, so a last-ulp difference in a floating sum does
  * not count as a different answer; maps with sorted entries), each row
  * is hashed with two independent hash functions, and the hashes are
  * summed. Summation makes the fingerprint independent of row order and
  * partitioning, and keeps duplicate rows significant. Because the hash
  * reads every column, computing it materializes the whole result: the
  * optimizer cannot prune any output column away, unlike `count()`.
  *
  * The fingerprint string also carries the row count and the schema.
  */
object Fingerprint {
  private val NullMark = lit("\u0000")

  private[perfbench] def canon(c: Column, dt: DataType): Column = {
    val s = dt match {
      case StringType => c
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN")).otherwise(format_string("%.9e", d + lit(0.0)))
      case BinaryType => hex(c)
      case ArrayType(et, _) =>
        concat(lit("["), concat_ws(",", transform(c, x => canon(x, et))), lit("]"))
      case MapType(kt, vt, _) =>
        concat(lit("{"), concat_ws(",", array_sort(transform(map_entries(c),
          e => concat(canon(e.getField("key"), kt), lit(":"), canon(e.getField("value"), vt))))),
          lit("}"))
      case StructType(fs) =>
        concat(lit("("), concat_ws(",", fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)): _*),
          lit(")"))
      case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType | _: YearMonthIntervalType => c.cast(StringType)
      case _ => to_json(struct(c)) // user-defined types such as ML vectors
    }
    coalesce(s, NullMark)
  }

  /** The aggregate whose collect is the timed action. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: results may carry duplicate or dotted column names
    val fields = df.schema.fields.toSeq
    val byPos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val row = concat_ws("\u0001", fields.indices.map(i => canon(col(s"c$i"), fields(i).dataType)): _*)
    byPos.select(xxhash64(row).as("h"), hash(row).cast(LongType).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(shiftrightunsigned(col("h"), 32)).as("hi"),
        sum(col("h").bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(col("g")).as("g"))
  }

  /** Render the collected aggregate together with the schema. */
  def render(schema: StructType, agg: org.apache.spark.sql.Row): String = {
    def l(i: Int) = if (agg.isNullAt(i)) 0L else agg.getLong(i)
    val schemaHash = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      .hashCode
    f"n=${l(0)}%d:${l(1)}%x.${l(2)}%x.${l(3)}%x:s=$schemaHash%08x"
  }

  def of(df: DataFrame): String = render(df.schema, frame(df).collect().head)
}
