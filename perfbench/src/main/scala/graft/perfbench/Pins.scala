package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output pins of the query workloads: a row count plus an
  * order-insensitive hash, the exact sum of the rows' xxhash64 values.
  * The sum (not an xor) keeps duplicated rows visible.
  *
  * `pins.tsv` holds one line per query: name, rows, hash and the oracle
  * that vouched for the pinned output (`duckdb`, or `none` for the queries
  * that have no oracle and are pinned against themselves).
  */
object Pins {
  final case class Pin(rows: Long, hash: String)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Pin = {
    val fields = df.schema.fields
    // positional names: query outputs may repeat a column name
    val cols = fields.indices.map { i =>
      // xxhash64 rejects maps; their JSON text is canonical enough
      if (hasMap(fields(i).dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val row = df.toDF(fields.indices.map(i => s"c$i"): _*)
      .select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Pin(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  final case class Entry(pin: Pin, oracle: String)

  def load(file: File): Map[String, Entry] =
    new String(Files.readAllBytes(file.toPath), "UTF-8").linesIterator
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash, oracle) = l.split('\t')
        name -> Entry(Pin(rows.toLong, hash), oracle)
      }.toMap

  def save(file: File, header: String, entries: Seq[(String, Entry)]): Unit =
    Files.writeString(file.toPath, entries.map { case (n, e) =>
      s"$n\t${e.pin.rows}\t${e.pin.hash}\t${e.oracle}"
    }.mkString(header, "\n", "\n"))
}
