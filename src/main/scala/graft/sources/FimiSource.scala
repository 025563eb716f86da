package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** FIMI-repository transaction text I/O — the reference engine's native
  * format (one transaction per line, items separated by whitespace; the
  * `retail.dat` / `T10I4D100K.dat` convention its MapReduce jobs read
  * via TextInputFormat).
  *
  * Reading assigns transaction ids by global line position
  * (zipWithIndex — deterministic for a fixed file set, unlike
  * monotonically_increasing_id which bakes in partition layout).
  * Items are de-duplicated and sorted into the engine's canonical
  * basket shape, so `read` output plugs directly into every §A mining
  * operator.
  *
  * Scale posture: text scan is line-splittable and parallel; the only
  * wide operation is none at all — parsing is a per-partition map.
  */
object FimiSource {

  /** Read FIMI text → (tid: long, items: sorted distinct array<string>). */
  def read(spark: SparkSession, path: String, sep: String = "\\s+"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("tid", LongType, nullable = false),
      StructField("items", ArrayType(StringType, containsNull = false))))
    val sepPattern = java.util.regex.Pattern.compile(sep) // once, not per line
    val rows = spark.read.textFile(path).rdd
      .zipWithIndex()
      .map { case (line, idx) =>
        org.apache.spark.sql.Row(
          idx,
          sepPattern.split(line.trim).filter(_.nonEmpty).distinct.sorted.toSeq)
      }
    spark.createDataFrame(rows, schema).filter(size(col("items")) > 0)
  }

  /** Write baskets (`items: array<string>`) as FIMI text, one
    * transaction per line, items space-separated in array order. */
  def write(df: DataFrame, path: String): Unit =
    df.select(concat_ws(" ", col("items")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
}
