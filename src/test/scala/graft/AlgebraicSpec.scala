package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Algebraic, Apps, MapReduce}

/** Algebraic (partial-agg) reduce path and reference JSON intermediate
  * format parity.
  */
class AlgebraicSpec extends SparkTestBase {

  private val refMain = "/root/reference/src/main"

  /** A small deterministic corpus in the reference's `pg-*.txt` layout:
    * three files, repeated and mixed-case words, punctuation and digits
    * (which the wc tokenizer splits on), and one word that occurs in a
    * single file only.
    */
  private lazy val corpusGlob: String = {
    val dir = Files.createTempDirectory("graft-algebraic")
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog. The dog sleeps!",
      "A fox, a FOX and another fox: 3 foxes ran 42 miles over the hill.",
      "Lazy afternoons; the brown dog and the quick cat. Zebra.")
    texts.zipWithIndex.foreach { case (t, i) =>
      Files.writeString(dir.resolve(s"pg-$i.txt"), (t + "\n") * (i + 2))
    }
    s"$dir/pg-*.txt"
  }

  test("algebraic wordcount equals the generic mapGroups wordcount") {
    val glob = corpusGlob
    val generic = MapReduce.run(spark, glob, Apps.WordCount)
      .collect().map(kv => kv.key -> kv.value).toMap
    val algebraic = Algebraic.run(spark, glob, Algebraic.WordCountAlgebraic)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(algebraic === generic)
    assert(generic("fox") === "8") // once in 2 copies of pg-0, twice in 3 of pg-1
    assert(generic("Zebra") === "4")
  }

  test("algebraic plan uses hash aggregation (partial agg), not mapGroups") {
    val plan = Algebraic.run(spark, corpusGlob, Algebraic.WordCountAlgebraic)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"), plan.take(500))
    assert(!plan.contains("MapGroups"), plan.take(500))
  }

  test("reference intermediate JSON decodes and re-encodes faithfully") {
    assume(Files.exists(Paths.get(s"$refMain/mr-1-1")))
    // committed artifact of a real reference run (src/mr/worker.go:96-113)
    val kv = MapReduce.fromReferenceJson(spark, s"$refMain/mr-1-1").collect()
    assert(kv.nonEmpty)
    assert(kv.forall(_.value == "1")) // wc map output
    // re-encode one line and compare shape with the raw file's first line
    val firstRaw = Files.readAllLines(Paths.get(s"$refMain/mr-1-1")).get(0)
    assert(firstRaw.startsWith("{\"Key\":"))
    val reencoded = MapReduce.toReferenceJson(
      MapReduce.fromReferenceJson(spark, s"$refMain/mr-1-1"))
    assert(reencoded.columns.toSeq === Seq("Key", "Value"))
    assert(reencoded.count() === kv.length)
  }
}
