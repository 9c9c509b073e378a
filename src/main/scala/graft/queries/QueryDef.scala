package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  * Column names and value arithmetic are kept *identical* on both sides —
  * integer-exact where possible (counts, integer-cents money sums), and
  * bit-identical IEEE-754 double expressions otherwise.
  */
case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String],
    doc: String = "")

/** The one artifact registry: every per-(session, dir) value the queries
  * and the table loaders reuse lives in ONE map keyed by (SparkSession,
  * dir, label). Repeated invocations (the bench loop, the verify dump)
  * share one entry instead of rebuilding or leaking one per call. Each
  * entry has an explicit kind:
  *
  *  - [[plan]]: an analyzed DataFrame plan, never persisted. Every action
  *    re-executes from the parquet inputs; what repeats share is the plan
  *    object. Construction cost is paid once, and because the stored
  *    plan's expression ids are fixed, re-executions generate
  *    byte-identical codegen text and hit the generated-class cache
  *    instead of recompiling.
  *  - [[persisted]]: a DataFrame persisted on first build, for subplans a
  *    query references several times.
  *  - [[value]]: a driver-side planning value (split points, row counts,
  *    routing decisions) pulled once and embedded in plans as a literal.
  *  - [[disk]]: a persisted read of a content-keyed parquet artifact that
  *    survives the process (see [[disk]]).
  *
  * Labels are global across the engine, suffixed where one call site
  * varies a parameter (a recall regime, a list count). Each entry records
  * its kind and the class of its build thunk, which is one class per call
  * site, so two call sites sharing a key fail loudly instead of one
  * silently reading the other's artifact.
  *
  * Eviction: ONE listener per SparkContext clears every key of the ending
  * context, cloned sessions' included (their cached blocks die with the
  * shared context anyway), so the map never retains stopped sessions for
  * the JVM lifetime. A context that has already stopped gets no entry:
  * the build runs and its result is returned uncached.
  */
private[graft] object Memo {
  private final case class Entry(kind: String, site: Class[_], value: Any)

  private val entries =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), Entry]

  /** Contexts that already carry the eviction listener. */
  private val listening =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  def plan(spark: SparkSession, dir: String, label: String)(
      build: () => DataFrame): DataFrame =
    entry(spark, dir, label, "plan", build)(build())

  def persisted(spark: SparkSession, dir: String, label: String)(
      build: () => DataFrame): DataFrame =
    entry(spark, dir, label, "persisted", build)(build().persist())

  def value[A](spark: SparkSession, dir: String, label: String)(build: () => A): A =
    entry(spark, dir, label, "value", build)(build())

  /** Disk-backed entry: the production BUILD-vs-PROBE separation for
    * expensive index artifacts (minhash pair graphs, cluster labels,
    * codebooks, PQ codes). The first build in ANY process writes the
    * artifact as a content-keyed parquet table; every later process,
    * including a cold JVM, reads the table instead of rebuilding. This is
    * how a 100 TB deployment runs (indexes are built once by a build job
    * and probed by every query job after), and it turns the cold-start
    * cost of the query path from O(index build) into O(scan of the built
    * index).
    *
    * The content key covers: the artifact label, [[CacheEpoch]], the
    * caller's `configKey` (every tunable constant the artifact's content
    * depends on, so a retune invalidates exactly the affected artifacts),
    * and a byte-level footprint of the input directory (path, size,
    * nanosecond-resolution mtime of every file), so regenerated testdata
    * is detected whenever the filesystem records sub-second mtimes (every
    * Linux FS this runs on); a same-length in-place rewrite inside one
    * mtime tick of a coarser filesystem is the one undetectable case.
    * Correctness is unaffected: artifact builds are deterministic
    * (oracle-pinned), so the parquet round-trip returns bit-identical
    * rows. The registry key carries `label|configKey`, so a call site that
    * varies a keyed constant (ivfAssigned's list count) gets one entry per
    * value.
    *
    * `label` must be in [[DiskLabels]]. Concurrency: builders write to a
    * process-unique temp dir and atomically rename into place, and a lost
    * race reads the winner's table; within one process, builds of one
    * label are serialized so two sessions never share that temp dir.
    * Cache root: SPARK_GRAFT_INDEX_CACHE (default /tmp/graft-index-cache);
    * set it empty to disable disk caching (the in-memory entry still
    * applies).
    */
  def disk(spark: SparkSession, dir: String, label: String, configKey: String)(
      build: () => DataFrame): DataFrame = {
    val lock = diskLocks.getOrElse(label, throw new IllegalArgumentException(
      s"'$label' is not a disk-cacheable artifact label (Memo.DiskLabels)"))
    entry(spark, dir, s"$label|$configKey", "disk", build)(
      lock.synchronized(diskCached(spark, dir, label, configKey)(build())).persist())
  }

  private def entry[A](spark: SparkSession, dir: String, label: String,
      kind: String, build: AnyRef)(make: => A): A = {
    val sc = spark.sparkContext
    if (sc.isStopped) return make
    if (listening.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = evict(sc)
      })
    val e = entries.getOrElseUpdate((spark, dir, label), Entry(kind, build.getClass, make))
    // the context may have ended (and been swept) while this entry built
    if (sc.isStopped) evict(sc)
    require(e.kind == kind && e.site == build.getClass,
      s"memo label '$label' is claimed by two call sites " +
        s"(${e.kind} ${e.site.getName} vs $kind ${build.getClass.getName})")
    e.value.asInstanceOf[A]
  }

  private def evict(sc: org.apache.spark.SparkContext): Unit = {
    entries.keys.filter(_._1.sparkContext eq sc).foreach(entries.remove(_): Unit)
    listening.remove(sc): Unit
  }

  /** Labels the registry holds for sessions of `spark`'s context. */
  private[graft] def labelsOf(spark: SparkSession): Seq[String] =
    entries.keys.collect { case (s, _, l) if s.sparkContext eq spark.sparkContext => l }.toSeq

  /** Bump when the SEMANTICS of any disk-cached artifact change (algorithm
    * edits that don't move a tunable constant): stale cache entries under
    * the old epoch stop matching and rebuild.
    */
  private val CacheEpoch = "e1"

  /** The artifacts allowed a disk entry: the index builds whose cold
    * rebuild costs more than a parquet scan. Anything else stays
    * in-memory; extending this set is a design decision, not a call-site
    * detail.
    */
  private[graft] val DiskLabels: Set[String] = Set(
    "shingle_hashes", "mh_pairs", "mh_cluster_labels", "shingle_inter",
    "eval_bloom", "pagerank_scores", "mad_model", "basket_membership",
    "exact_topk", "embed_cluster_labels",
    "ivf_lists_sampled", "ivf_lists_kmeans", "ivf_lists_scaled", "ivf_lists_kmeans_scaled",
    "ivf_probes_kmeans", "ivf_probes_kmeans_scaled", "km_codebook", "km_codebook_scaled",
    "pq_codebook", "pq_codes", "rpq_codebook", "rpq_codebook_scaled",
    "ivfpq_res_index", "ivfpq_res_index_scaled",
    "media_fps", "term_freq", "source_term_freq", "bpe_merges")

  private val diskLocks: Map[String, AnyRef] = DiskLabels.map(_ -> new AnyRef).toMap

  private def diskCached(spark: SparkSession, dir: String, label: String,
      configKey: String)(build: => DataFrame): DataFrame = {
    val root = sys.env.getOrElse("SPARK_GRAFT_INDEX_CACHE", "/tmp/graft-index-cache")
    if (root.isEmpty) return build
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(s"$label|$CacheEpoch|$configKey|$dir|${inputFootprint(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    val path = new java.io.File(root, s"$label-$key")
    def ready = new java.io.File(path, "_SUCCESS").isFile
    pruneStale(new java.io.File(root))
    if (!ready) {
      val tmp = new java.io.File(root,
        s".$label-$key.tmp-${ProcessHandle.current().pid()}")
      // Captured ONCE when we decide to serve the tmp table: the finally
      // must not re-probe `ready` — a racing winner completing between the
      // branch check and the finally would otherwise delete the tmp dir
      // that the just-returned DataFrame still lazily reads.
      var servingTmp = false
      try {
        build.write.mode("overwrite").parquet(tmp.getPath)
        if (!tmp.renameTo(path) && !ready) {
          // lost a race AND the winner isn't readable — serve the build
          servingTmp = true
          inUse.add(tmp.getPath)
          return spark.read.parquet(tmp.getPath)
        }
      } catch {
        // NonFatal only: an OutOfMemoryError/InterruptedException must
        // propagate, not silently trigger a second build evaluation
        case scala.util.control.NonFatal(e) if !ready =>
          // cache write failed (read-only root, disk full): the artifact
          // is an OPTIMIZATION — log and fall back to the in-memory build
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"index-cache write failed for $label under $root " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "serving the un-cached build; every cold process will rebuild")
          return build
      } finally if (tmp.exists() && !servingTmp) deleteRecursively(tmp)
    }
    // refresh the entry's use-time so active entries survive pruning
    new java.io.File(path, "_SUCCESS").setLastModified(System.currentTimeMillis())
    inUse.add(path.getPath)
    spark.read.parquet(path.getPath)
  }

  /** Artifact directories this process has handed out as lazily-read
    * DataFrames: [[pruneStale]] must never delete these even when their
    * 7-day marker lapses (a long-lived session can hold a persisted
    * DataFrame whose cached blocks are evicted and re-scanned long after
    * the diskCached call refreshed the mtime). Cross-PROCESS holders are
    * still protected by the mtime refresh at their own call time — the
    * residual race is a process holding an unread plan across 7+ idle
    * days while a second process prunes, inherent to any TTL cache.
    */
  private val inUse = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Last prune wall-clock per cache root — [[pruneStale]] is a full
    * directory stat walk, so it is rate-limited to once per hour per
    * process instead of running on EVERY diskCached call (a long-lived
    * multi-tenant driver touching many fresh test corpora would otherwise
    * pay repeated I/O on the hot path; the 7-day TTL makes anything
    * tighter than hourly pointless). `inUse` still grows for the process
    * lifetime by design: entries are one path string per distinct
    * artifact (label × corpus) this process ever handed out as a lazy
    * DataFrame — bounded by work actually done, and the price of never
    * deleting an artifact a live plan may still re-scan.
    */
  private val lastPrune = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Drop cache entries unused for 7 days (test corpora live in
    * fresh temp dirs, so their keys are single-use and would otherwise
    * accumulate; _SUCCESS mtime is refreshed on every read). At most one
    * walk per root per hour per process — see [[lastPrune]].
    */
  private def pruneStale(root: java.io.File): Unit = {
    val now = System.currentTimeMillis()
    val prev = lastPrune.getOrDefault(root.getPath, 0L)
    if (now - prev < 3600L * 1000) return
    if (!lastPrune.replace(root.getPath, prev, now) &&
        lastPrune.putIfAbsent(root.getPath, now) != null) return // lost the race: someone else walks
    val cutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    Option(root.listFiles()).toSeq.flatten.foreach { e =>
      val marker = new java.io.File(e, "_SUCCESS")
      if (e.isDirectory && marker.isFile && marker.lastModified() < cutoff &&
          !inUse.contains(e.getPath))
        deleteRecursively(e)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Byte-level footprint of every file under `dir` (sorted walk of
    * relative path, length, mtime) — the staleness guard of the disk key.
    * mtime is read at the filesystem's full resolution
    * (`BasicFileAttributes.lastModifiedTime`, nanoseconds where the FS
    * records them) rather than `File.lastModified`'s millisecond floor, so
    * a same-length in-place rewrite is detected on any FS with sub-tick
    * timestamps.
    */
  private def inputFootprint(dir: String): String = {
    val base = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    def mtime(f: java.io.File): String =
      java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
        .lastModifiedTime().toInstant.toString
    walk(base)
      .map(f => s"${f.getPath.stripPrefix(base.getPath)}:${f.length}:${mtime(f)}")
      .mkString("\n")
  }
}

/** Shared DuckDB SQL fragments mirroring `graft.functions.TextFns`. */
object Oracle {
  /** Mirror of TextFns.tokens (tokenizer of reference src/mrapps/wc.go:21). */
  val toksCte: String =
    "SELECT doc_id, list_filter(string_split_regex(text, '[^\\p{L}]+'), w -> length(w) > 0) AS t FROM documents"

  /** Mirror of TextFns.hash60. */
  def hash60(s: String): String =
    s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  /** Word 3-gram list of token list `t` (mirror of TextFns.wordNgrams). */
  def ngrams3(t: String): String =
    s"[array_to_string($t[i:i+2], ' ') for i in generate_series(1, len($t) - 2)]"

  /** Word 2-gram (bigram) list of token list `t`. */
  def ngrams2(t: String): String =
    s"[array_to_string($t[i:i+1], ' ') for i in generate_series(1, len($t) - 1)]"
}
