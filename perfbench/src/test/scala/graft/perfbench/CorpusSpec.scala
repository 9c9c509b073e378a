package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val Files8 = 8
  private val Bytes = 200000

  private def tempDir(): File = Files.createTempDirectory("corpus-spec").toFile

  /** Write buckets the way the engine's partitioned writer names them. */
  private def writeBuckets(dir: File, buckets: IndexedSeq[IndexedSeq[String]]): Unit = {
    dir.mkdirs()
    buckets.zipWithIndex.foreach { case (lines, b) =>
      Files.writeString(new File(dir, f"part-$b%05d-x.txt").toPath,
        lines.map(_ + "\n").mkString)
    }
  }

  test("the same seed gives byte-identical files") {
    val a = Corpus.generate(7, Files8, Bytes)
    val b = Corpus.generate(7, Files8, Bytes)
    assert(a.map(_.name) == b.map(_.name))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
  }

  test("another seed gives another corpus of the same total size") {
    val a = Corpus.generate(7, Files8, Bytes)
    val b = Corpus.generate(8, Files8, Bytes)
    assert(a.map(_.bytes.length).sum == Bytes && b.map(_.bytes.length).sum == Bytes)
    assert(!a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
  }

  test("files are ASCII text with sizes spread up to 4x") {
    val docs = Corpus.generate(3, Files8, Bytes)
    assert(docs.size == Files8)
    assert(docs.forall(_.bytes.forall(b => b == '\n' || (b >= 32 && b < 127))))
    val sizes = docs.map(_.bytes.length)
    assert(sizes.max.toDouble / sizes.min <= 4.0)
  }

  test("vocabulary spelling is bijective base 26") {
    assert(Seq(0, 25, 26, 701, 702).map(Corpus.word) == Seq("a", "z", "aa", "zz", "aaa"))
    assert((0 until Corpus.VocabSize).map(Corpus.word).distinct.size == Corpus.VocabSize)
  }

  test("reference apps on a hand-checked corpus") {
    val docs = Seq(Corpus.Doc("d1.txt", "a b. a\nc".getBytes), Corpus.Doc("d0.txt", "b,b zz".getBytes))
    assert(Corpus.wordCount(docs) == Map("a" -> "2", "b" -> "3", "c" -> "1", "zz" -> "1"))
    assert(Corpus.invertedIndex(docs) == Map("a" -> "1 d1.txt", "b" -> "2 d0.txt,d1.txt",
      "c" -> "1 d1.txt", "zz" -> "1 d0.txt"))
    assert(Corpus.wordTotal(docs) == 7)
  }

  test("bucket hash is FNV-1a 32 with the sign bit masked, as the engine's") {
    assert(Corpus.fnv1a("") == (0x811c9dc5 & 0x7fffffff))
    assert(Corpus.fnv1a("a") == (0xe40c292c & 0x7fffffff))
    Corpus.generate(5, 2, 5000).flatMap(d => Corpus.tokens(d.bytes)).distinct.foreach { w =>
      assert(Corpus.fnv1a(w) == graft.functions.Fnv1a32.hash(w.getBytes("UTF-8")))
    }
  }

  test("check accepts the expected layout and rejects one changed line") {
    val docs = Corpus.generate(11, 4, 20000)
    val expected = Corpus.buckets(Corpus.wordCount(docs), 10)
    val dir = new File(tempDir(), "wc")
    writeBuckets(dir, expected)
    assert(Corpus.check(dir, expected).isEmpty)

    val b = expected.indexWhere(_.size > 3)
    val lines = expected(b).updated(2, expected(b)(2) + "0")
    Files.writeString(new File(dir, f"part-$b%05d-x.txt").toPath, lines.map(_ + "\n").mkString)
    val diff = Corpus.check(dir, expected)
    assert(diff.exists(_.contains(s"bucket $b: line 2")))
  }

  test("check rejects swapped lines, a lost bucket and a stray bucket") {
    val expected = Corpus.buckets(Corpus.wordCount(Corpus.generate(12, 4, 20000)), 10)
    val b = expected.indexWhere(_.size > 3)
    def variant(f: File => Unit): Option[String] = {
      val dir = new File(tempDir(), "wc")
      writeBuckets(dir, expected)
      f(dir)
      Corpus.check(dir, expected)
    }
    assert(variant { d =>
      val l = expected(b)
      Files.writeString(new File(d, f"part-$b%05d-x.txt").toPath,
        (l(1) +: l(0) +: l.drop(2)).map(_ + "\n").mkString)
    }.isDefined)
    assert(variant(d => new File(d, f"part-$b%05d-x.txt").delete()).isDefined)
    assert(variant(d => Files.writeString(new File(d, "part-00010-x.txt").toPath, "x 1\n")).isDefined)
  }
}
