package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.perfbench.Bridge

/** One benchmark run in a fresh JVM (`perfbench/run.py` launches it):
  *
  *   1. set-up: JVM start until the SparkSession is ready (`setup_s`);
  *   2. the cold pass: every job once, against an empty artifact cache;
  *   3. warm passes: as many as fill `--seconds` at [[NominalPassS]], at
  *      least [[MinWarm]];
  *   4. the output check, outside every timed pass.
  *
  * With `--trace 1` the run makes about twice the warm passes and traces
  * each job in half of them, in blocks of four (untraced, traced, traced,
  * untraced, shifted per job); the
  * per-layer metrics come from the traced jobs, and every span (run, pass,
  * job, build/plan/exec, Spark job, stage) is written as JSON lines when
  * the run ends.
  */
object Main {
  val MinWarm = 3
  /** Warm pass length on a 4-core host: `--seconds` buys this many passes. */
  val NominalPassS = Map("mr_corpus" -> 3.5, "text_index" -> 3.0, "relational" -> 7.0)
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** `mr_corpus` size: files and total bytes. */
  val CorpusFiles = 8
  val CorpusBytes: Int = 2 << 20

  final case class JobRun(pass: Int, name: String, mr: Boolean, traced: Boolean,
      t0: Long, t1: Long, t2: Long, error: Option[String]) {
    def wallS: Double = (t2 - t0) / 1e9
  }
  /** Global counters read before and after each traced job. */
  final case class Counters(rules: (Long, Long, Long), compiles: Long, compileMs: Double)
  final case class PassRun(pass: Int, t0: Long, t1: Long, jobs: Seq[JobRun]) {
    def wallS: Double = (t1 - t0) / 1e9
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The sample with 10 samples beyond it (never below the median), its
    * percentile and the sample count.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = math.max(s.size - 11, s.size / 2)
    (s(i), 100.0 * (i + 1) / s.size, s.size)
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Disk artifacts: the finished entries of the artifact cache. */
  private def diskArtifacts(root: File): Set[String] =
    Option(root.listFiles()).toSeq.flatten
      .filter(d => new File(d, "_SUCCESS").isFile).map(_.getName).toSet

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def newSession(): SparkSession = {
    val spark = graft.GraftSession.localBuilder("perfbench", Cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args)
    case Some("pin") => pin(args)
    case Some("gen-tables") => genTables(args(1))
    case _ =>
      System.err.println("usage: Main run|pin|gen-tables ...")
      sys.exit(2)
  }

  def run(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val dataDir = arg(args, "data")
    val work = new File(arg(args, "work"))
    val pinsFile = new File(arg(args, "pins"))
    val resultFile = new File(arg(args, "result"))
    val traceFile = new File(arg(args, "trace-file"))
    val corrupt = args.contains("--corrupt")
    val cacheRoot = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_CACHE", ""))
    require(cacheRoot.getPath.nonEmpty, "SPARK_GRAFT_INDEX_CACHE must name the run's cache dir")

    // 1. set-up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(nanos: Long): Double = nanos / 1e6 + epochOffsetMs

    // inputs and jobs (untimed)
    var mrExpected = Map.empty[String, IndexedSeq[IndexedSeq[String]]]
    var corpusWords = 0L
    val outRoot = new File(work, "out")
    val jobs: Seq[Job] = workload match {
      case "mr_corpus" =>
        val docs = Corpus.generate(seed, CorpusFiles, CorpusBytes)
        val dir = new File(work, "corpus")
        Corpus.write(dir, docs)
        corpusWords = Corpus.wordTotal(docs)
        val wc = Corpus.buckets(Corpus.wordCount(docs), Workloads.NReduce)
        mrExpected = Map("wc" -> wc, "wc_algebraic" -> wc,
          "indexer" -> Corpus.buckets(Corpus.invertedIndex(docs), Workloads.NReduce))
        Workloads.mrJobs(new File(dir, "*.txt").getPath, outRoot)
      case "text_index" => Workloads.queryJobs(Workloads.textIndex, dataDir)
      case "relational" => Workloads.queryJobs(Workloads.relational, dataDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // the seed permutes the query workloads' job order, per pass
    def order(pass: Int): Seq[Job] =
      if (workload == "mr_corpus") jobs
      else new scala.util.Random(seed * 1000003L + pass).shuffle(jobs)

    val meter = new InputMeter
    sc.addSparkListener(meter)
    val recorder = new Recorder
    val compileLog = if (traced) Some(new CompileLog) else None
    val errors = ArrayBuffer.empty[String]
    var checkFailures = 0

    def counters(): Counters = {
      val m = RuleExecutor.getCurrentMetrics()
      Counters((m.time, m.numRuns, m.numEffectiveRuns),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, compileLog.map(_.compileMs).getOrElse(0.0))
    }
    val deltas = scala.collection.mutable.Map.empty[(Int, String), (Counters, Counters)]
    /** Disk artifacts and cached RDDs: what the memo layer has built. */
    def built(): Set[String] = diskArtifacts(cacheRoot) ++ sc.getRDDStorageInfo.map(r => s"rdd${r.id}")

    def runJob(pass: Int, job: Job, trace: Boolean): JobRun = {
      val before = if (trace) {
        sc.addSparkListener(recorder)
        compileLog.foreach(_.attach())
        Some(counters())
      } else None
      val run = timeJob(pass, job, trace)
      before.foreach { b =>
        Bridge.drain(sc)
        deltas((pass, job.name)) = (b, counters())
        sc.removeSparkListener(recorder)
        compileLog.foreach(_.detach())
      }
      run
    }

    def timeJob(pass: Int, job: Job, trace: Boolean): JobRun = {
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        sc.setJobGroup(Group(pass, job.name, "build"), job.name, interruptOnCancel = false)
        val ds = job.build(spark)
        t1 = System.nanoTime()
        sc.setJobGroup(Group(pass, job.name, "exec"), job.name, interruptOnCancel = false)
        job.exec(spark, ds)
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
      } finally sc.clearJobGroup()
      JobRun(pass, job.name, job.mr, trace, t0, t1, System.nanoTime(), err)
    }

    def checkMr(pass: Int): Unit = if (workload == "mr_corpus") {
      if (corrupt) {
        val f = Corpus.readBuckets(new File(outRoot, "wc")).keys.headOption
          .flatMap(b => Option(new File(outRoot, "wc").listFiles()).toSeq.flatten
            .find(_.getName.startsWith(f"part-$b%05d")))
        f.foreach(p => Files.writeString(p.toPath, "corrupted 1\n"))
      }
      jobs.foreach { j =>
        Corpus.check(new File(outRoot, j.name), mrExpected(j.name)).foreach { d =>
          checkFailures += 1
          errors += s"pass $pass ${j.name}: $d"
        }
      }
    }

    def runPass(pass: Int, trace: Job => Boolean): PassRun = {
      val t0 = System.nanoTime()
      val runs = order(pass).map(j => runJob(pass, j, trace(j)))
      val t1 = System.nanoTime()
      runs.filter(_.error.isDefined).foreach(r => errors += s"pass $pass ${r.name}: ${r.error.get}")
      checkMr(pass)
      PassRun(pass, t0, t1, runs)
    }

    // 2. cold pass, 3. warm passes
    val passes = ArrayBuffer(runPass(0, _ => traced))
    val builtCold = built()
    Bridge.drain(sc)
    val coldInput = meter.bytes.get
    // live heap once every job has run: memo tables, cached blocks, caches
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    def warm = passes.tail
    // A fixed pass count, not a deadline: the JIT is still warming up over
    // the first warm passes, so a count that followed the host's speed would
    // move the median. A traced run makes about twice the passes, in blocks
    // of four, and traces each job in two of every four (untraced, traced,
    // traced, untraced, shifted per job), so that trend cancels between the
    // traced and untraced samples of a job.
    val nWarm = math.max(MinWarm, math.ceil(seconds / NominalPassS(workload)).toInt)
    (1 to (if (traced) 4 * math.ceil(nWarm / 2.0).toInt else nWarm)).foreach { k =>
      passes += runPass(k, j => traced && Set(1, 2)((k - 1 + jobs.indexOf(j)) % 4))
    }
    Bridge.drain(sc)
    val warmInput = meter.bytes.get - coldInput

    // 4. output check of the query workloads
    if (workload != "mr_corpus") {
      val pins = if (pinsFile.isFile) Pins.load(pinsFile) else Map.empty[String, Pins.Entry]
      jobs.zipWithIndex.foreach { case (j, i) =>
        try {
          val df = j.build(spark).asInstanceOf[DataFrame]
          val got = Pins.of(if (corrupt && i == 0) df.union(df.limit(1)) else df)
          pins.get(j.name) match {
            case Some(e) if e.pin == got =>
            case other =>
              checkFailures += 1
              errors += s"check ${j.name}: got rows=${got.rows} hash=${got.hash}, pinned " +
                other.map(e => s"rows=${e.pin.rows} hash=${e.pin.hash}").getOrElse("nothing")
          }
        } catch {
          case e: Throwable =>
            checkFailures += 1
            errors += s"check ${j.name}: ${e.toString.linesIterator.nextOption().getOrElse("")}"
        }
      }
    }

    val allRuns = passes.flatMap(_.jobs)
    val attempted = allRuns.size
    val failed = allRuns.count(_.error.isDefined) + checkFailures
    val warmRuns = warm.flatMap(_.jobs).map(_.wallS).toSeq
    val (tailS, tailPct, tailN) = tail(warmRuns)
    val jobWarmMedians = jobs.map(j =>
      j.name -> median(warm.flatMap(_.jobs).filter(_.name == j.name).map(_.wallS).toSeq))
    // a typical warm pass: each job at its median, so one slow pass or job
    // does not move it
    val warmPassS = jobWarmMedians.map(_._2).sum
    val endToEnd: Seq[(String, Double, String)] = if (traced) Nil else Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", passes.head.wallS, "s"),
      ("warm_pass_s", warmPassS, "s"),
      ("warm_job_p50_s", median(warmRuns), "s"),
      ("warm_job_tail_s", tailS, "s"),
      ("input_mb_per_s", warmInput / 1e6 / warm.size / warmPassS, "MB/s"))
    val info = ArrayBuffer[(String, String)](
      "workload" -> jstr(workload), "seed" -> seed.toString, "cpus" -> Cpus.toString,
      "jobs_per_pass" -> jobs.size.toString, "job_names" -> jobs.map(j => jstr(j.name)).mkString("[", ",", "]"),
      "warm_passes" -> warm.size.toString,
      "warm_pass_walls_s" -> warm.map(p => jnum(p.wallS)).mkString("[", ",", "]"),
      "job_cold_s" -> passes.head.jobs.map(j => s"${jstr(j.name)}:${jnum(j.wallS)}").mkString("{", ",", "}"),
      "job_warm_median_s" -> jobWarmMedians.map { case (n, t) => s"${jstr(n)}:${jnum(t)}" }
        .mkString("{", ",", "}"),
      "heap_retained_mb" -> jnum(retainedMb),
      "warm_job_tail" -> s"""{"value":${jnum(tailS)},"percentile":${jnum(tailPct)},"n":$tailN}""",
      "failed_job_frac" -> jnum(failed.toDouble / attempted),
      "artifact_cache_mb" -> jnum(dirBytes(cacheRoot) / 1e6),
      "peak_rss_mb" -> jnum(vmHwmMb()))
    if (workload == "mr_corpus")
      info ++= Seq("corpus_mb" -> jnum(CorpusBytes / 1e6), "corpus_words" -> corpusWords.toString)

    val perLayer: Seq[(String, Double, String)] = if (!traced) Nil else {
      Bridge.drain(sc)
      val layers = new Layers(recorder, passes.toSeq, deltas.toMap, Cpus, corpusWords,
        builtCold.size, (built() -- builtCold).size, dirBytes(cacheRoot),
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum, ms)
      writeSpans(traceFile, workload, seed, jvmStartMs, passes.toSeq, recorder, ms)
      info += "trace_nesting_violations" -> layers.nestingViolations.toString
      info += "trace_file" -> jstr(traceFile.getName)
      layers.metrics ++ Seq(("mem.peak_rss_mb", vmHwmMb(), "MB"), ("mem.heap_retained_mb", retainedMb, "MB"))
    }
    spark.stop()

    val metrics = (endToEnd ++ perLayer).map { case (n, v, u) =>
      s"${jstr(n)}:{" + s""""value":${jnum(v)},"unit":${jstr(u)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metrics,"info":${info.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""errors":${errors.take(50).map(jstr).mkString("[", ",", "]")}}"""
    Files.writeString(resultFile.toPath, json)
  }

  private def writeSpans(file: File, workload: String, seed: Long, jvmStartMs: Long,
      passes: Seq[PassRun], rec: Recorder, ms: Long => Double): Unit = {
    val runId = s"$workload-$seed"
    val lines = ArrayBuffer.empty[String]
    def span(id: String, kind: String, name: String, start: Double, end: Double,
        parent: String, job: String = ""): Unit =
      lines += s"""{"run":${jstr(runId)},"id":${jstr(id)},"kind":"$kind","name":${jstr(name)},""" +
        s""""start_ms":${jnum(start)},"end_ms":${jnum(end)},"parent":${jstr(parent)},"job":${jstr(job)}}"""
    span("run", "run", runId, jvmStartMs.toDouble, System.currentTimeMillis().toDouble, "")
    passes.foreach { p =>
      val pid = s"p${p.pass}"
      span(pid, "pass", if (p.pass == 0) "cold" else "warm", ms(p.t0), ms(p.t1), "run")
      p.jobs.foreach { j =>
        val jid = s"$pid/${j.name}"
        span(jid, "job", if (j.traced) s"${j.name} traced" else j.name, ms(j.t0), ms(j.t2), pid, jid)
        span(s"$jid/build", "build", j.name, ms(j.t0), ms(j.t1), jid, jid)
        span(s"$jid/exec", "exec", j.name, ms(j.t1), ms(j.t2), jid, jid)
      }
    }
    def phaseSpan(group: String): String = group match {
      case Group(p, j, ph) => s"p$p/$j/$ph"
      case _ => "run"
    }
    rec.sqls.asScala.foreach { s =>
      val parent = phaseSpan(s.group)
      span(s"sql${s.id}/plan", "plan", s"sql ${s.id}", s.planStart.toDouble, s.planEnd.toDouble,
        parent, parent.split('/').take(2).mkString("/"))
    }
    rec.jobs.asScala.foreach { j =>
      val parent = phaseSpan(j.group)
      span(s"sj${j.id}", "spark_job", s"job ${j.id}", j.start.toDouble, j.end.toDouble,
        parent, parent.split('/').take(2).mkString("/"))
    }
    rec.stageList.foreach { s =>
      val parent = rec.stageJob(s.id).map(j => s"sj$j").getOrElse(phaseSpan(s.group))
      span(s"st${s.id}.${s.attempt}", "stage", s"stage ${s.id} ${s.role}", s.submitted.toDouble,
        s.completed.toDouble, parent, phaseSpan(s.group).split('/').take(2).mkString("/"))
    }
    file.getParentFile.mkdirs()
    Files.writeString(file.toPath, lines.mkString("", "\n", "\n"))
  }

  /** The query workloads' tables: the engine's own deterministic generator
    * (`graft.GenScale`) at the sf0.1 row counts, written from one partition
    * so each table is a single parquet file of one row group.
    */
  def genTables(out: String): Unit = {
    val spark = graft.GraftSession.localBuilder("perfbench-gen", Cpus)
      .config("spark.sql.shuffle.partitions", "1").getOrCreate()
    try graft.GenScale.write(spark, out, mult = 1L) finally spark.stop()
  }

  /** Oracle SQL that DuckDB cannot run at sf0.1 on a 16 GB host: the
    * IVF/PQ family's oracles materialize every (vector, codeword) distance
    * and ran out of memory at 12.5 GB. Their pins are `unverified` here;
    * the repo's oracle gate checks them at the smaller scales.
    */
  val DuckDbTooLarge: Set[String] = Set("ann_ivfpq", "ann_ivfpq_scaled", "ann_ivfpq_rerank",
    "ann_ivfpq_rerank_scaled", "ann_pq", "pq_distortion")

  /** Pin mode: dump every query of the two query families as parquet
    * (for the DuckDB cross-check, `tools/verify_local.py`) and pin each
    * dump. `make_pins.py` runs both steps.
    *
    *   Main pin --data <tables> --dump <dir> --pins <pins.tsv>
    */
  def pin(args: Array[String]): Unit = {
    val dataDir = arg(args, "data")
    val dump = new File(arg(args, "dump"))
    val spark = newSession()
    val entries = Workloads.textFamilies ++ graft.queries.RelationalQueries.entries
    dump.mkdirs()
    def oracle(name: String, d: graft.queries.QueryDef) =
      if (d.sql.isEmpty) "none" else if (DuckDbTooLarge(name)) "unverified" else "duckdb"
    val pins = entries.map { case (name, d) =>
      d.fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
      name -> Pins.Entry(Pins.of(spark.read.parquet(s"$dump/$name")), oracle(name, d))
    }
    val sqls = entries.collect { case (n, d) if oracle(n, d) == "duckdb" =>
      s"${jstr(n)}: ${jstr(d.sql.get)}" }
    Files.writeString(new File(dump, "oracle_sql.json").toPath, sqls.mkString("{", ",\n", "}"))
    Pins.save(new File(arg(args, "pins")),
      "# query\trows\tsum of xxhash64 over rows\toracle\n", pins)
    spark.stop()
  }
}
