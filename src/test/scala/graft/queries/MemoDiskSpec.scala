package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Staleness semantics of the disk-backed artifact cache
  * (`Memo.disk`) — correctness-critical infrastructure: a stale
  * hit would silently serve a wrong index (wrong pair graph, wrong
  * codebook) to every downstream query, so each component of the content
  * key is pinned here: a second process (simulated by a fresh session,
  * which shares no registry entry with the first) must HIT, and any
  * input-file or config change must MISS and rebuild.
  */
class MemoDiskSpec extends SparkTestBase {

  /** Unique per-test input dir with one small parquet file. */
  private def inputDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-memodisk-$tag").toFile
    d.deleteOnExit()
    spark.range(10).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"${d.getAbsolutePath}/t")
    d.getAbsolutePath
  }

  /** One artifact build over `dir`, counting executions of the build
    * thunk. The label must be a whitelisted disk label; the input dir is
    * a fresh temp dir, so the content key never matches a production
    * artifact sharing the cache root.
    */
  private final class Builder(dir: String, label: String = "mad_model") {
    var builds = 0
    def run(configKey: String = "k=1",
        session: SparkSession = spark.newSession()): DataFrame =
      Memo.disk(session, dir, label, configKey) { () =>
        builds += 1
        session.read.parquet(s"$dir/t").groupBy((col("id") % 2).as("parity"))
          .agg(sum(col("v")).as("sv"))
      }
  }

  test("second process hits the disk cache instead of rebuilding; rows identical") {
    val dir = inputDir("hit")
    val b = new Builder(dir)
    val first = b.run().orderBy("parity").collect().map(_.toSeq)
    assert(b.builds === 1)
    // fresh session = a cold JVM's view: must come back from disk
    val second = b.run().orderBy("parity").collect().map(_.toSeq)
    assert(b.builds === 1, "cold-process read must not re-run the build")
    assert(second.toSeq === first.toSeq)
  }

  test("changing an input file invalidates the footprint key and rebuilds") {
    val dir = inputDir("stale")
    val b = new Builder(dir)
    b.run().count()
    assert(b.builds === 1)
    // regenerate the input (driver testdata refresh): same path, new bytes
    spark.range(10).select(col("id"), (col("id") * 5).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    val after = b.run().agg(sum("sv")).collect()(0).getLong(0)
    assert(b.builds === 2, "a changed input footprint must force a rebuild")
    assert(after === (0L until 10L).map(_ * 5).sum)
  }

  test("changing a config constant invalidates only that key; old entry still hits") {
    val dir = inputDir("config")
    val b = new Builder(dir)
    b.run(configKey = "k=1").count()
    b.run(configKey = "k=2").count()
    assert(b.builds === 2, "a retuned constant must build a new artifact")
    // the original operating point is still cached
    b.run(configKey = "k=1").count()
    assert(b.builds === 2)
  }

  test("README documents the invalidation contract an operator relies on") {
    // lint-style pointer: the staleness semantics this spec pins are only
    // usable if an operator can FIND them — the README paragraph must
    // exist and name the moving parts (env var, epoch, config key,
    // footprint), or a doc refactor silently orphans the contract
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    Seq("Disk-cache invalidation contract", "SPARK_GRAFT_INDEX_CACHE",
      "CacheEpoch", "configKey", "footprint").foreach { kw =>
      assert(readme.contains(kw),
        s"README.md lost the disk-cache contract keyword '$kw' — " +
          "keep the operator paragraph in sync with Memo.disk")
    }
  }
}
