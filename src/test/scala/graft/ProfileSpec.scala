package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.GraftStatusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}

/** `graft.Profile` attributes stages by job group after draining the
  * listener bus. The expected stages come from an independent listener:
  * the job group a stage was submitted under (its submission properties)
  * and the stages that completed.
  */
class ProfileSpec extends SparkTestBase {

  test("run mode: each rep reports exactly the stages its job group ran, none shared") {
    val submittedIn = TrieMap.empty[Int, String]
    val completedTasks = TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => submittedIn.put(e.stageInfo.stageId, g))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.failureReason.isEmpty)
          completedTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val queries = Seq("group_agg", "wordcount")
      val reps = Profile.run(spark, sf("sf0.001"), queries).toList
      GraftStatusBridge.drain(sc)
      assert(reps.map(r => (r.query, r.rep)) ===
        queries.map(_ -> 0) ++ queries.flatMap(q => (1 to Profile.WarmReps).map(q -> _)))
      reps.foreach { r =>
        assert(r.stages.nonEmpty, s"${r.group}: no stages")
        val expected = completedTasks.keySet.filter(submittedIn.get(_).contains(r.group))
        assert(r.stages.map(_.id).toSet === expected, r.group)
        r.stages.foreach(s => assert(s.tasks === completedTasks(s.id), s"${r.group} stage ${s.id}"))
        assert(r.json.startsWith(s"""{"query":"${r.query}","rep":${r.rep},"""))
      }
      val ids = reps.flatMap(_.stages.map(_.id))
      assert(ids.distinct.size === ids.size, "a stage was reported in two reps")
      // both queries shuffle: their cold reps ran a map stage and a result stage
      reps.filter(_.rep == 0).foreach(r => assert(r.stages.size >= 2, r.group))
    } finally sc.removeSparkListener(listener)
  }

  test("final mode prints the post-execution adaptive plan") {
    val out = Profile.finalPlan(spark, sf("sf0.001"), "group_agg")
    assert(out.contains("isFinalPlan=true"), out)
  }
}
