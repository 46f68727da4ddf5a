package perfbench

import java.nio.file.Path
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Output checks for `SparkEntry` operations.
  *
  * The first pass of each query dumps its rows as parquet; the runner
  * compares the dump with `SparkEntry.oracleSql` in DuckDB after the JVM
  * exits. Every later pass must reproduce the first pass's hash over
  * column-name-sorted, row-sorted values.
  */
final class OracleDumps(dir: Path) {
  private val firstHash = scala.collection.mutable.Map.empty[String, String]

  def dumped: Seq[String] = firstHash.keys.toSeq.sorted

  def check(query: String, df: DataFrame, rows: Array[Row]): Option[String] = {
    val h = OracleDumps.canonHash(df.schema, rows)
    firstHash.get(query) match {
      case None =>
        firstHash(query) = h
        df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir.resolve(query).toString)
        None
      case Some(h0) if h0 == h => None
      case Some(_) => Some("result differs from the first pass")
    }
  }
}

object OracleDumps {
  def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def canonHash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.indices.sortBy(schema.fieldNames(_))
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u001f")).sorted
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\u001e").getBytes("UTF-8"))
      .map(x => f"$x%02x").mkString
  }
}
