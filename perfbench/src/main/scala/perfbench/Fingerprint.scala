package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive fingerprint of a key's full result: row count plus
  * the sum of a 64-bit hash of each row, columns sorted by name. */
object Fingerprint {
  def apply(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      // maps have no hash; their sorted entries do
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${row.getLong(0)}:$total"
  }

  /** `key<TAB>fingerprint` lines; `#` starts a comment. */
  def read(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
}
