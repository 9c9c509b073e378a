package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.{Algebraic, Apps, MapReduce}
import graft.queries._

/** One job of a workload: a query or one MapReduce application run.
  * `build` constructs the Dataset (table loads, memo pulls, user map
  * wiring); `exec` plans and runs it into its sink.
  */
final case class Job(name: String, mr: Boolean,
    build: SparkSession => Dataset[_], exec: (SparkSession, Dataset[_]) => Unit)

object Workloads {
  /** Every text-side query family: the `text_index` pool. */
  val textFamilies: Seq[(String, QueryDef)] =
    TextQueries.entries ++ DedupQueries.entries ++ SimilarityQueries.entries ++
      MultimodalQueries.entries ++ PipelineQueries.entries

  /** `text_index` subset, fixed by rule: the length-filter trio that the
    * roadmap's item 4 names (cosine_rerank, ngram_jaccard,
    * ngram_containment), tfidf_topterms (a carried-over item: tokenizer and
    * top-k), approx_topk (no oracle) and ann_ivf_kmeans, the cheapest query
    * that writes disk artifacts (IVF k-means codebook and probe tables).
    * Left out for the run budget (22 runs per workload): every other named
    * query. ann_ivfpq alone takes about 30 s cold on 4 cores.
    */
  val textIndexNames: Seq[String] = Seq("cosine_rerank", "ngram_jaccard", "ngram_containment",
    "tfidf_topterms", "approx_topk", "ann_ivf_kmeans")

  val textIndex: Seq[(String, QueryDef)] = textFamilies.filter(e => textIndexNames.contains(e._1))

  /** `relational` subset rule: every 4th registry entry from the first,
    * plus profile_table (a roadmap item) and approx_stats (no oracle).
    */
  val relational: Seq[(String, QueryDef)] =
    RelationalQueries.entries.zipWithIndex.collect {
      case ((q, d), i) if i % 4 == 0 || q == "profile_table" || q == "approx_stats" => (q, d)
    }

  def queryJobs(entries: Seq[(String, QueryDef)], dataDir: String): Seq[Job] =
    entries.map { case (q, d) =>
      Job(q, mr = false, spark => d.fn(spark, dataDir),
        (_, ds) => ds.write.format("noop").mode("overwrite").save())
    }

  /** Partitioned output buckets of each MR job, as in the reference. */
  val NReduce = 10

  def mrJobs(corpusGlob: String, outRoot: File): Seq[Job] = {
    def write(name: String)(spark: SparkSession, ds: Dataset[_]): Unit =
      graft.cli.Main.writePartitioned(spark, ds.asInstanceOf[Dataset[graft.operators.KV]],
        new File(outRoot, name).getPath, NReduce)
    Seq(
      Job("wc", mr = true, MapReduce.run(_, corpusGlob, Apps.WordCount), write("wc")),
      Job("indexer", mr = true, MapReduce.run(_, corpusGlob, Apps.Indexer), write("indexer")),
      Job("wc_algebraic", mr = true,
        Algebraic.run(_, corpusGlob, Algebraic.WordCountAlgebraic), write("wc_algebraic")))
  }
}
