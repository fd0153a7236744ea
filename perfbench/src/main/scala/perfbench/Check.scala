package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks: an order-insensitive fingerprint of a frame's row
  * multiset. Doubles are hashed at 10 significant digits, so a sum whose
  * last bits depend on partition order still matches its reference. */
object Check {

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The per-row hash: the canonical row, columns in name order. */
  private def rowHash(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name).toSeq
    if (fields.isEmpty) lit(0L)
    else xxhash64(fields.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
  }

  /** `rows:hash` of each named frame, where hash is the sum of its
    * per-row hashes — all frames in one Spark action. */
  def fingerprints(frames: Seq[(String, DataFrame)]): Map[String, String] = {
    val tagged = frames.map { case (name, df) =>
      df.select(lit(name).as("t"), rowHash(df).cast(DecimalType(20, 0)).as("h"))
    }.reduce(_ unionByName _)
    val got = tagged.groupBy(col("t"))
      .agg(count(lit(1)), sum(col("h")))
      .collect().map(r => r.getString(0) ->
        s"${r.getLong(1)}:${r.getDecimal(2).toBigInteger}").toMap
    // a frame with no rows has no group
    frames.map { case (name, _) => name -> got.getOrElse(name, "0:0") }.toMap
  }

  def fingerprint(df: DataFrame): String = fingerprints(Seq("_" -> df))("_")
}

/** Sample statistics. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
