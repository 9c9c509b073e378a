package graft

/** Dumps the query-name → family mapping as one JSON line (dev tool).
  * Consumer: tools/scaling_report.py groups per-query sf1/sf0.1 bench
  * ratios by family to compute the measured scaling exponents BASELINE.md
  * records. No SparkSession — the registries are plain values
  * ([[SparkEntry.families]]).
  */
object Families {
  def main(args: Array[String]): Unit = {
    val pairs = for ((f, es) <- SparkEntry.families; (name, _) <- es)
      yield s""""$name":"$f""""
    println(pairs.mkString("{", ",", "}"))
  }
}
