package graft

import org.apache.spark.GraftStatusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.status.api.v1.StageStatus
import org.json4s.{JNull, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Dev profiler for declared queries, one session, three modes:
  *
  *   runMain graft.Profile plan  <sfDir> <query...|all>
  *   runMain graft.Profile final <sfDir> <query...|all>
  *   runMain graft.Profile run   <sfDir> <query...|all>
  *
  *  - `plan`: the initial formatted physical plan (`isFinalPlan=false`).
  *  - `final`: the post-execution adaptive plan, which shows what AQE did
  *    at runtime (exchange/stage reuse, AQEShuffleRead coalescing,
  *    join-strategy rewrites). One untimed run warms the memo artifacts
  *    first.
  *  - `run`: one cold pass over every named query (first execution in this
  *    JVM, like the bench's cold pass; rep 0), then [[WarmReps]] warm reps
  *    of each. Every rep prints one JSON line: see [[Rep]].
  *
  * A rep's jobs carry the job group `profile|<query>|<rep>`; its stages
  * are read from the status store's jobs of that group after the listener
  * bus has drained, so concurrent or late events cannot move a stage into
  * the wrong rep or drop it.
  *
  * Reading a cold rep: if `compile_ms` dominates the cold-only surplus,
  * sharing generated classes across same-shape queries is the lever; if
  * `exec_run_ms` does, it is data first-touch; if neither does, it is
  * driver work (Catalyst, codegen source generation, scheduling).
  */
object Profile {

  /** Warm repetitions per query after the cold pass. */
  val WarmReps = 3

  private val Formatted = ExplainMode.fromString("formatted")

  final case class StageRow(id: Int, tasks: Int, runMs: Long, cpuMs: Long,
      wallMs: Option[Long], name: String)

  /** One rep of one query.
    *
    *  - `build_s`: DataFrame construction (the query function call,
    *    memo hits and builds included);
    *  - `plan_s`: analysis, optimization and physical planning;
    *  - `exec_s`: executing that same plan (AQE stage round-trips, codegen,
    *    tasks), no rows kept on the driver;
    *  - `compiles`, `compile_ms`: janino compilations over the rep, from
    *    `CodegenMetrics`; `compile_ms` is null once the JVM has compiled
    *    more classes than the timing histogram's reservoir holds, because
    *    its sum is then a sample, not a total;
    *  - `stages`, `tasks`, `exec_run_ms`, `exec_cpu_ms` and `per_stage`:
    *    the stages that ran for the rep's job group.
    */
  final case class Rep(query: String, rep: Int, buildS: Double, planS: Double,
      execS: Double, compiles: Long, compileMs: Option[Long], stages: Seq[StageRow]) {
    def group: String = Profile.group(query, rep)

    def json: String = compact(render(
      ("query" -> query) ~ ("rep" -> rep) ~
        ("build_s" -> buildS) ~ ("plan_s" -> planS) ~ ("exec_s" -> execS) ~
        ("compiles" -> compiles) ~ ("compile_ms" -> compileMs.fold[JValue](JNull)(ms => ms)) ~
        ("stages" -> stages.size) ~ ("tasks" -> stages.map(_.tasks).sum) ~
        ("exec_run_ms" -> stages.map(_.runMs).sum) ~ ("exec_cpu_ms" -> stages.map(_.cpuMs).sum) ~
        ("per_stage" -> stages.map(s =>
          ("id" -> s.id) ~ ("tasks" -> s.tasks) ~ ("run_ms" -> s.runMs) ~
            ("cpu_ms" -> s.cpuMs) ~ ("wall_ms" -> s.wallMs) ~ ("name" -> s.name)))))
  }

  def group(query: String, rep: Int): String = s"profile|$query|$rep"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("plan", "final", "run")(args(0)),
      "usage: graft.Profile <plan|final|run> <sfDir> <query...|all>")
    val dir = args(1)
    val names = if (args.drop(2).sameElements(Seq("all"))) SparkEntry.all.keys.toSeq
      else args.drop(2).toSeq
    val spark = GraftSession.localBuilder("graft-profile", GraftSession.envCpus(8))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "plan" => names.foreach { n =>
        println(s"\n===== $n =====\n${query(spark, dir, n).queryExecution.explainString(Formatted)}")
      }
      case "final" => names.foreach(n => println(finalPlan(spark, dir, n)))
      case "run" => run(spark, dir, names).foreach(r => println(r.json))
    } finally spark.stop()
  }

  private def query(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.all(name).fn(spark, dir)

  /** Runs `df`'s own QueryExecution, so its adaptive plan is final
    * afterwards (a noop write would plan and run a separate one), without
    * buffering rows on the driver. Returns the row count.
    */
  private def execute(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Header line plus the formatted post-execution plan of one query. */
  def finalPlan(spark: SparkSession, dir: String, name: String): String = {
    execute(query(spark, dir, name))
    val df = query(spark, dir, name)
    val t0 = System.nanoTime()
    val n = execute(df)
    f"\n===== $name (final adaptive plan; warm ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
      s"$n rows) =====\n${df.queryExecution.explainString(Formatted)}"
  }

  /** The cold pass over `names`, then [[WarmReps]] warm reps of each, one
    * [[Rep]] per run, produced as the iterator advances.
    */
  def run(spark: SparkSession, dir: String, names: Seq[String]): Iterator[Rep] =
    (names.map(_ -> 0) ++ names.flatMap(n => (1 to WarmReps).map(n -> _))).iterator
      .map { case (name, rep) => profile(spark, dir, name, rep) }

  private def compileTotals: (Long, Option[Long]) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    (h.getCount, if (snap.size == h.getCount) Some(snap.getValues.sum) else None)
  }

  private def secs(t0: Long, t1: Long): Double = math.round((t1 - t0) / 1e6) / 1e3

  private def profile(spark: SparkSession, dir: String, name: String, rep: Int): Rep = {
    val sc = spark.sparkContext
    val (c0, ms0) = compileTotals
    sc.setJobGroup(group(name, rep), s"graft.Profile $name rep $rep")
    val (t0, t1, t2, t3) = try {
      val t0 = System.nanoTime()
      val df = query(spark, dir, name)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      execute(df)
      (t0, t1, t2, System.nanoTime())
    } finally sc.clearJobGroup()
    GraftStatusBridge.drain(sc)
    val (c1, ms1) = compileTotals
    Rep(name, rep, secs(t0, t1), secs(t1, t2), secs(t2, t3), c1 - c0,
      for (a <- ms0; b <- ms1) yield b - a, stagesOf(spark, group(name, rep)))
  }

  /** The stage attempts that ran (not skipped) in jobs of `group`. */
  private def stagesOf(spark: SparkSession, group: String): Seq[StageRow] = {
    val store = GraftStatusBridge.store(spark.sparkContext)
    val ids = store.jobsList(null).filter(_.jobGroup.contains(group)).flatMap(_.stageIds).toSet
    store.stageList(null)
      .filter(s => ids(s.stageId) && Set(StageStatus.COMPLETE, StageStatus.FAILED)(s.status))
      .sortBy(s => (s.stageId, s.attemptId))
      .map { s =>
        StageRow(s.stageId, s.numCompleteTasks, s.executorRunTime, s.executorCpuTime / 1000000,
          for (a <- s.completionTime; b <- s.submissionTime) yield a.getTime - b.getTime,
          s.name.takeWhile(_ != '\n'))
      }
  }
}
