package graft

/** Open-vocabulary scaling probe for the ngram_jaccard_prefix PREFIX
  * branch (dev tool; evidence consumer: BASELINE.md's 10× scale-up
  * section). The driver corpus saturates its trigram universe, so the
  * cost router sends it down the count-based plan — which leaves the
  * prefix branch's own scale claim ("linear-ish on the Zipf corpora it
  * exists for") asserted rather than measured. This probe generates an
  * OPEN-vocabulary corpus (200 k-word Zipf(1)-ish vocabulary via
  * log-uniform hash draws — the regime where rare shingles stay rare as
  * the corpus grows) at 5 k and 50 k docs, checks the router actually
  * picks the prefix branch there, and times BOTH exact branches at both
  * scales. Expected: prefix-branch ratio ≈ linear-ish in corpus size,
  * count-plan ratio worse (its fan-out follows the boilerplate head),
  * and the routing decision = prefix at both scales.
  *
  * The corpus is GenScale's open-vocabulary documents table
  * ([[GenScale.writeDocuments]]): its ~0.5% near-dup mutations and ~0.2%
  * exact copies of earlier docs keep the J ≥ τ output nonempty so the
  * verify stage does real work.
  *
  *   sbt "runMain graft.PrefixScale [nDocsSmall nDocsLarge]"
  */
object PrefixScale {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.length >= 2) Seq(args(0).toLong, args(1).toLong)
      else Seq(5000L, 50000L)
    // engine-required confs from the one shared source of truth
    val spark = GraftSession.localBuilder("graft-prefix-scale", GraftSession.envCpus(32))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("prefix-scale")
    for (n <- sizes) {
      val dir = s"$root/docs$n"
      GenScale.writeDocuments(spark, dir, n, openVocab = true)
      val routesToCount = graft.queries.DedupQueries.prefixRouteUseCount(spark, dir)
      def time(forceCount: Option[Boolean]): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = graft.queries.DedupQueries
          .ngramJaccardPrefixRouted(spark, dir, forceCount).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      // warm each branch once (memo/JIT), then report the second run
      for (branch <- Seq(Some(false), Some(true))) {
        time(branch)
        val (sec, rows) = time(branch)
        val name = if (branch.contains(false)) "prefix" else "count"
        println(f"""{"docs":$n,"branch":"$name","sec":$sec%.3f,"rows":$rows,"routes_to_count":$routesToCount}""")
      }
    }
    spark.stop()
  }
}
