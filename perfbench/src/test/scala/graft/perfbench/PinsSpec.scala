package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class PinsSpec extends AnyFunSuite {
  private lazy val spark = graft.GraftSession.localBuilder("pins-spec", 2).getOrCreate()

  test("a pin ignores row order and partitioning but sees every row") {
    val s = spark
    import s.implicits._
    val df = (1 to 200).map(i => (i, s"w$i", i * 0.25, Map("k" -> i))).toDF("a", "b", "c", "m")
    val pin = Pins.of(df)
    assert(pin.rows == 200)
    assert(Pins.of(df.orderBy(col("a").desc).repartition(3)) == pin)
    assert(Pins.of(df.union(df.limit(1))) != pin)
    assert(Pins.of(df.filter(col("a") =!= 7)) != pin)
    assert(Pins.of(df.withColumn("c", col("c") + 1)) != pin)
    assert(Pins.of(df.limit(0)) == Pins.Pin(0, "0"))
  }

  test("pins round-trip through the pins file") {
    val f = Files.createTempFile("pins", ".tsv").toFile
    val entries = Seq("q1" -> Pins.Entry(Pins.Pin(3, "-12"), "duckdb"),
      "q2" -> Pins.Entry(Pins.Pin(0, "0"), "none"))
    Pins.save(f, "# header\n", entries)
    assert(Pins.load(f) == entries.toMap)
  }
}
