package graft.perfbench

import scala.jdk.CollectionConverters._

import Main.{Counters, JobRun, PassRun, median}

/** The per-layer metrics of a traced run. `.cold` metrics are the cold
  * pass. The others describe a typical warm pass: each job's mean over its
  * traced warm samples, summed over jobs.
  */
final class Layers(rec: Recorder, passes: Seq[PassRun], counters: Map[(Int, String), (Counters, Counters)],
    cpus: Int, corpusWords: Long, builtCold: Int, builtWarm: Int, artifactBytes: Long,
    persistedBytes: Long, ms: Long => Double) {

  private val cold = passes.head.jobs
  private val warm = passes.tail.flatMap(_.jobs)
  private val tracedWarm = warm.filter(_.traced).groupBy(_.name)
  private val mrJobs = cold.filter(_.mr).map(_.name).toSet
  private val MB = 1e6

  private def key(g: String) = Group.unapply(g).map { case (p, j, _) => (p, j) }
  private val stagesBy = rec.stageList.groupBy(s => key(s.group))
  private def stages(r: JobRun) = stagesBy.getOrElse(Some((r.pass, r.name)), Nil)
  private def execStages(r: JobRun) = stages(r).filter(s => Group.unapply(s.group).exists(_._3 == "exec"))
  private val sqlsBy = rec.sqls.asScala.toSeq.filter(s => Group.unapply(s.group).exists(_._3 == "exec"))
    .groupBy(s => key(s.group))
  private val sparkJobsBy = rec.jobs.asScala.toSeq.groupBy(j => key(j.group))

  private def planS(r: JobRun) = sqlsBy.getOrElse(Some((r.pass, r.name)), Nil).map(_.planMs).sum / 1e3
  private def buildS(r: JobRun) = (r.t1 - r.t0) / 1e9
  private def execCallS(r: JobRun) = (r.t2 - r.t1) / 1e9
  private def delta(r: JobRun)(f: Counters => Double) =
    counters.get((r.pass, r.name)).map { case (a, b) => f(b) - f(a) }.getOrElse(0.0)

  /** A typical warm pass: each job's mean over its traced samples, summed. */
  private def perPass(f: JobRun => Double): Double =
    tracedWarm.values.map(rs => rs.map(f).sum / rs.size).sum
  private def coldSum(f: JobRun => Double): Double = cold.map(f).sum
  private def stageSum(f: StageRec => Double)(r: JobRun) = stages(r).map(f).sum

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foldLeft((0.0, lo)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1

  /** Exec wall not covered by any running stage of the job. */
  private def driverGapS(r: JobRun): Double = {
    val (lo, hi) = (ms(r.t1), ms(r.t2))
    (hi - lo - union(execStages(r).map(s => (s.submitted.toDouble, s.completed.toDouble)), lo, hi)) / 1e3
  }

  /** Max over stages with two or more tasks of max / median task time. */
  private def skew(r: JobRun): Double = stages(r).filter(_.taskMs.size >= 2).map { s =>
    val med = median(s.taskMs.map(_.toDouble).toSeq)
    if (med > 0) s.taskMs.max / med else 1.0
  }.maxOption.getOrElse(1.0)

  private def roleS(role: String)(r: JobRun) =
    stages(r).filter(_.role == role).map(s => (s.completed - s.submitted) / 1e3).sum
  private def mrMap(r: JobRun) = if (mrJobs(r.name)) stages(r).filter(_.role == "map") else Nil

  def metrics: Seq[(String, Double, String)] = {
    val tw = tracedWarm.values.flatten.toSeq
    val untracedWarm = warm.filterNot(_.traced).groupBy(_.name)
    def jobMedians(g: Map[String, Seq[JobRun]]) = g.values.map(rs => median(rs.map(_.wallS))).sum
    Seq(
      ("build.cold_s", coldSum(buildS), "s"),
      ("build.warm_s", perPass(buildS), "s"),
      ("plan.cold_s", coldSum(planS), "s"),
      ("plan.warm_s", perPass(planS), "s"),
      ("exec.cold_s", coldSum(r => execCallS(r) - planS(r)), "s"),
      ("exec.warm_s", perPass(r => execCallS(r) - planS(r)), "s"),
      ("memo.artifacts_built.cold", builtCold.toDouble, "count"),
      ("memo.artifacts_built.warm", builtWarm.toDouble, "count"),
      ("memo.artifact_mb", artifactBytes / MB, "MB"),
      ("memo.persisted_mb", persistedBytes / MB, "MB"),
      ("catalyst.rule_ms", perPass(delta(_)(_.rules._1 / 1e6)), "ms"),
      ("catalyst.rule_runs", perPass(delta(_)(_.rules._2.toDouble)), "count"),
      ("catalyst.effective_rule_frac",
        tw.map(delta(_)(_.rules._3.toDouble)).sum / math.max(1.0, tw.map(delta(_)(_.rules._2.toDouble)).sum), "ratio"),
      ("codegen.compiles.cold", coldSum(delta(_)(_.compiles.toDouble)), "count"),
      ("codegen.compiles.warm", perPass(delta(_)(_.compiles.toDouble)), "count"),
      ("codegen.compile_ms.cold", coldSum(delta(_)(_.compileMs)), "ms"),
      ("sched.jobs", perPass(r => sparkJobsBy.getOrElse(Some((r.pass, r.name)), Nil).size.toDouble), "count"),
      ("sched.stages", perPass(r => stages(r).size.toDouble), "count"),
      ("sched.tasks", perPass(stageSum(_.taskMs.size.toDouble)), "count"),
      ("sched.driver_gap_s", perPass(driverGapS), "s"),
      ("sched.core_util", tw.map(r => execStages(r).map(_.runMs).sum).sum / 1e3 /
        (cpus * math.max(1e-9, tw.map(execCallS).sum)), "ratio"),
      ("executor.cpu_s", perPass(stageSum(_.cpuNs / 1e9)), "s"),
      ("executor.run_s", perPass(stageSum(_.runMs / 1e3)), "s"),
      ("executor.gc_s", perPass(stageSum(_.gcMs / 1e3)), "s"),
      ("scan.input_mb", perPass(stageSum(_.inBytes / MB)), "MB"),
      ("shuffle.write_mb", perPass(stageSum(_.swBytes / MB)), "MB"),
      ("shuffle.read_mb", perPass(stageSum(_.srBytes / MB)), "MB"),
      ("shuffle.records", perPass(stageSum(_.swRecords.toDouble)), "count"),
      ("spill.mb", perPass(stageSum(_.spillBytes / MB)), "MB"),
      ("task.skew", tracedWarm.values.map(rs => median(rs.map(skew))).maxOption.getOrElse(1.0), "ratio"),
      ("stage.map_s", perPass(roleS("map")), "s"),
      ("stage.reduce_s", perPass(roleS("reduce")), "s"),
      ("stage.result_s", perPass(roleS("result")), "s"),
      ("mr.map_tasks", perPass(r => mrMap(r).map(_.taskMs.size.toDouble).sum), "count"),
      ("mr.shuffle_records_per_word",
        if (mrJobs.isEmpty || corpusWords == 0) 0.0
        else perPass(r => mrMap(r).map(_.swRecords.toDouble).sum) / (corpusWords * mrJobs.size), "ratio"),
      ("trace.overhead_frac", jobMedians(tracedWarm) / jobMedians(untracedWarm) - 1, "ratio"))
  }

  /** Spans that do not nest: a plan phase outside its exec call, or a
    * Spark job outside the phase that started it (2 ms of clock slack).
    */
  def nestingViolations: Int = {
    val phase = passes.flatMap(p => p.jobs.flatMap(j => Seq(
      Group(p.pass, j.name, "build") -> (ms(j.t0), ms(j.t1)),
      Group(p.pass, j.name, "exec") -> (ms(j.t1), ms(j.t2))))).toMap
    def outside(g: String, a: Double, b: Double) =
      phase.get(g).exists { case (lo, hi) => a < lo - 2 || b > hi + 2 }
    rec.sqls.asScala.count(s => outside(s.group, s.planStart.toDouble, s.planEnd.toDouble)) +
      rec.jobs.asScala.count(j => outside(j.group, j.start.toDouble, j.end.toDouble))
  }
}
