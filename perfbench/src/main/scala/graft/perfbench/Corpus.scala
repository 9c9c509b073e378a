package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files

/** The `mr_corpus` input and its exact expected output.
  *
  * The corpus is plain ASCII text: Zipf(1) words over a [[VocabSize]]-word
  * letter vocabulary, lines of about 70 characters, file sizes spread about
  * 4x (the reference's Gutenberg set spans 139 KB to 594 KB). Everything is
  * a function of the seed; the total size is fixed, so every seed does the
  * same amount of work.
  *
  * The expected output is computed here in plain Scala, independently of
  * the engine: its own tokenizer (ASCII letter runs, the corpus alphabet),
  * its own FNV-1a bucket hash and its own sort. [[check]] compares every
  * `mr-out` bucket the engine wrote with it, line by line.
  */
object Corpus {
  val VocabSize = 50000

  final case class Doc(name: String, bytes: Array[Byte])

  /** Bijective base-26 spelling of a rank: 0 -> a, 25 -> z, 26 -> aa. */
  def word(rank: Int): String = {
    val sb = new StringBuilder
    var r = rank + 1
    while (r > 0) {
      r -= 1
      sb.append(('a' + r % 26).toChar)
      r /= 26
    }
    sb.reverse.toString
  }

  private lazy val vocab: Array[String] = Array.tabulate(VocabSize)(word)

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def drawRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** `nFiles` documents totalling exactly `totalBytes` bytes. */
  def generate(seed: Long, nFiles: Int, totalBytes: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    val weights = Array.fill(nFiles)(1.0 + 3.0 * rnd.nextDouble())
    val sizes = weights.map(w => (totalBytes * w / weights.sum).toInt)
    sizes(nFiles - 1) += totalBytes - sizes.sum
    sizes.indices.map { i =>
      val r = rnd.split()
      val sb = new java.lang.StringBuilder(sizes(i) + 16)
      var line = 0
      var sentence = 0
      while (sb.length < sizes(i)) {
        val w = vocab(drawRank(r.nextDouble()))
        sb.append(w)
        line += w.length
        sentence += 1
        if (sentence >= 8 && r.nextInt(6) == 0) { sb.append('.'); sentence = 0 }
        if (line >= 70) { sb.append('\n'); line = 0 }
        else { sb.append(' '); line += 1 }
      }
      sb.setLength(sizes(i))
      Doc(f"doc-$i%02d.txt", sb.toString.getBytes(US_ASCII))
    }
  }

  def write(dir: File, docs: Seq[Doc]): Unit = {
    dir.mkdirs()
    docs.foreach(d => Files.write(new File(dir, d.name).toPath, d.bytes))
  }

  /** Maximal runs of ASCII letters: the engine's tokenizer (non-letter
    * runs split) on an ASCII corpus.
    */
  def tokens(bytes: Array[Byte]): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def isLetter(b: Byte) = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
    private def skip(): Unit = while (i < bytes.length && !isLetter(bytes(i))) i += 1
    skip()
    def hasNext: Boolean = i < bytes.length
    def next(): String = {
      val s = i
      while (i < bytes.length && isLetter(bytes(i))) i += 1
      val w = new String(bytes, s, i - s, US_ASCII)
      skip()
      w
    }
  }

  /** Expected `key -> value` of the word-count app. */
  def wordCount(docs: Seq[Doc]): Map[String, String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach(d => tokens(d.bytes).foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L))
    counts.iterator.map { case (w, c) => w -> c.toString }.toMap
  }

  /** Expected `key -> value` of the indexer app: `"<n> <sorted,files>"`. */
  def invertedIndex(docs: Seq[Doc]): Map[String, String] = {
    val files = scala.collection.mutable.HashMap.empty[String, List[String]]
    docs.foreach(d => tokens(d.bytes).toSet.foreach((w: String) =>
      files(w) = d.name :: files.getOrElse(w, Nil)))
    files.iterator.map { case (w, fs) => w -> s"${fs.size} ${fs.sorted.mkString(",")}" }.toMap
  }

  /** Total number of words, the denominator of shuffle records per word. */
  def wordTotal(docs: Seq[Doc]): Long = docs.map(d => tokens(d.bytes).size.toLong).sum

  /** FNV-1a 32-bit over UTF-8 bytes, sign bit masked (Go's `ihash`). */
  def fnv1a(key: String): Int = {
    var h = 0x811c9dc5
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xff)
      h *= 16777619
    }
    h & 0x7fffffff
  }

  /** The `mr-out` layout: bucket `fnv1a(key) % nReduce`, keys sorted within
    * each bucket, one `"<key> <value>"` line per key.
    */
  def buckets(expected: Map[String, String], nReduce: Int): IndexedSeq[IndexedSeq[String]] = {
    val byBucket = expected.keys.toIndexedSeq.groupBy(k => fnv1a(k) % nReduce)
    (0 until nReduce).map(b =>
      byBucket.getOrElse(b, IndexedSeq.empty).sorted.map(k => s"$k ${expected(k)}"))
  }

  /** The lines of each bucket the engine wrote under `outDir`, by the
    * bucket number of the `part-NNNNN` file names.
    */
  def readBuckets(outDir: File): Map[Int, IndexedSeq[String]] =
    Option(outDir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
      .groupBy(_.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt)
      .map { case (b, fs) =>
        b -> fs.sortBy(_.getName).toIndexedSeq.flatMap(f =>
          new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
            .split("\n", -1).filter(_.nonEmpty))
      }

  /** None when `outDir` holds exactly the expected buckets, else the
    * first difference.
    */
  def check(outDir: File, expected: IndexedSeq[IndexedSeq[String]]): Option[String] = {
    val got = readBuckets(outDir)
    val extra = got.keySet -- expected.indices
    if (extra.nonEmpty) return Some(s"unexpected buckets ${extra.toSeq.sorted.mkString(",")}")
    expected.indices.iterator.flatMap { b =>
      val g = got.getOrElse(b, IndexedSeq.empty)
      val e = expected(b)
      if (g == e) None
      else {
        val i = g.indices.find(j => j >= e.size || g(j) != e(j)).getOrElse(g.size)
        Some(s"bucket $b: line $i is ${g.lift(i).getOrElse("<missing>")}, " +
          s"expected ${e.lift(i).getOrElse("<none>")} (${g.size} vs ${e.size} lines)")
      }
    }.nextOption()
  }
}
