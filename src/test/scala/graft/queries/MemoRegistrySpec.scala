package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The artifact registry's guards: label collisions fail loudly, the
  * disk whitelist is pinned, concurrent sessions share one disk artifact,
  * and a context that ends (before or during a build) keeps no entry.
  */
class MemoRegistrySpec extends SparkTestBase {

  private def inputDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-registry-$tag").toFile
    d.deleteOnExit()
    spark.range(10).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"${d.getAbsolutePath}/t")
    d.getAbsolutePath
  }

  test("one call site hits its own entry; a second call site under the same label throws") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    def site(): Int = Memo.value(s, "/registry/collide", "collide")(() => builds.incrementAndGet())
    assert(site() === 1)
    assert(site() === 1)
    assert(builds.get === 1)
    val e = intercept[IllegalArgumentException] {
      Memo.value(s, "/registry/collide", "collide")(() => 42)
    }
    assert(e.getMessage.contains("'collide'"), e.getMessage)
    // a different kind under a taken label is a collision too
    intercept[IllegalArgumentException] {
      Memo.plan(s, "/registry/collide", "collide")(() => s.range(1).toDF())
    }
  }

  test("the disk whitelist is exactly the index-build labels; anything else throws") {
    assert(Memo.DiskLabels === Set(
      "shingle_hashes", "mh_pairs", "mh_cluster_labels", "shingle_inter",
      "eval_bloom", "pagerank_scores", "mad_model", "basket_membership",
      "exact_topk", "embed_cluster_labels",
      "ivf_lists_sampled", "ivf_lists_kmeans", "ivf_lists_scaled", "ivf_lists_kmeans_scaled",
      "ivf_probes_kmeans", "ivf_probes_kmeans_scaled", "km_codebook", "km_codebook_scaled",
      "pq_codebook", "pq_codes", "rpq_codebook", "rpq_codebook_scaled",
      "ivfpq_res_index", "ivfpq_res_index_scaled",
      "media_fps", "term_freq", "source_term_freq", "bpe_merges"))
    val e = intercept[IllegalArgumentException] {
      Memo.disk(spark.newSession(), "/registry/none", "emb_vectors", "k=1")(() => spark.range(1).toDF())
    }
    assert(e.getMessage.contains("emb_vectors"), e.getMessage)
  }

  test("two sessions racing on one disk label leave one artifact, identical rows, no temp dir") {
    val dir = inputDir("race")
    val label = "basket_membership"
    val root = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_CACHE", "/tmp/graft-index-cache"))
    def entries(f: File => Boolean): Set[String] =
      Option(root.listFiles()).toSeq.flatten.filter(f).map(_.getName).toSet
    def artifacts = entries(f => f.getName.startsWith(s"$label-"))
    val before = artifacts
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(2)
    val runs = Seq(spark.newSession(), spark.newSession()).map { s =>
      Future {
        barrier.await()
        Memo.disk(s, dir, label, "race") { () =>
          builds.incrementAndGet()
          s.read.parquet(s"$dir/t").groupBy((col("id") % 2).as("parity"))
            .agg(sum(col("v")).as("sv"))
        }.orderBy("parity").collect().map(_.toSeq).toSeq
      }
    }
    val rows = try runs.map(Await.result(_, 5.minutes)) finally pool.shutdown()
    assert(rows(0) === rows(1))
    assert(rows(0) === Seq(Seq(0L, 60L), Seq(1L, 75L)))
    assert(builds.get === 1, "the losing session must read the winner's artifact")
    val created = artifacts -- before
    assert(created.size === 1, created)
    assert(new File(root, s"${created.head}/_SUCCESS").isFile)
    assert(entries(f => f.getName.startsWith(s".$label-") && f.getName.contains(".tmp-")).isEmpty)
  }

  test("ending a context evicts its entries, also one built while it ended; a stopped context gets none") {
    // A second live SparkContext cannot share this JVM with the suite's
    // session, so the probe runs in a child JVM on the test classpath.
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val opts = (0 until jvm.size).map(jvm.get).filterNot(_.startsWith("-Xmx"))
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val cmd = Seq(javaBin, "-Xmx1g") ++ opts ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.queries.StoppedContextProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() === 0, out.takeRight(20).mkString("\n"))
    assert(out.contains("live=live ended= dead= values=3,2"), out.takeRight(20).mkString("\n"))
  }
}

/** Child-JVM body of the stopped-context test: memoize on a live context,
  * end the context from inside a second entry's build, then memoize
  * against the stopped context, printing the labels the registry holds
  * for that context at each step.
  */
object StoppedContextProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.localBuilder("stopped-context-probe", 1).getOrCreate()
    Memo.value(spark, "/probe", "live")(() => 1)
    val live = Memo.labelsOf(spark)
    val mid = Memo.value(spark, "/probe", "mid") { () => spark.stop(); 3 }
    val ended = Memo.labelsOf(spark)
    val dead = Memo.value(spark, "/probe", "dead")(() => 2)
    println(s"live=${live.mkString(",")} ended=${ended.mkString(",")} " +
      s"dead=${Memo.labelsOf(spark).mkString(",")} values=$mid,$dead")
  }
}
