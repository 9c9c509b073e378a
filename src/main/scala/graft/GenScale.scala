package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic scale-up generator: writes an sfN-equivalent
  * of the driver's testdata (same schemas, same domain constants, same
  * distribution shapes — measured from sf0.1 and documented per column)
  * at `mult` × the sf0.1 row counts, so the bench can be RUN at 10× scale
  * instead of extrapolated (BASELINE.md's scaling section).
  *
  *   sbt "runMain graft.GenScale <outDir> <mult>"   // sf1 ⇒ mult = 10
  *
  * Everything is generated AS A DISTRIBUTED SPARK JOB: `spark.range` +
  * pure codegen'd column expressions, every value a hash of (table salt,
  * row id) — no RNG state, no driver-side rows, no UDFs. The same
  * program at mult = 10000 on a real cluster would write the 100 TB
  * corpus with no driver bottleneck, which is the point: the generator
  * follows the same scale discipline the engine is graded on.
  *
  * Distribution fidelity notes (vs the read-only sf0.1, measured):
  *  - region/nation: fixed 5 + 25 rows, names verbatim (queries filter
  *    on literals like 'ASIA').
  *  - events.value ~ Exp(mean 50) (sf0.1 deciles: p50 34.8 / p75 68.9 /
  *    p90 114 / p99 228 ≈ Exp(50)'s 34.7 / 69.3 / 115 / 230); ts spans
  *    the SAME 30 days at 10× density (scaling traffic, not history —
  *    window/sessionize load grows per key, the harder direction);
  *    users scale with sf so events-per-user stays ~67.
  *  - lineitem: 1 + h%7 lines per order (mean 4.0 = sf0.1's 600k/150k;
  *    sf0.1's per-order max of 17 suggests a Poisson tail we flatten —
  *    immaterial to join fan-out at bench granularity).
  *  - documents: 10..100 words over the exact 31-word vocabulary;
  *    ~0.2% exact duplicates + ~0.5% near-duplicates (2-word mutations)
  *    of earlier docs so the dedup family keeps realistic selectivity
  *    (sf0.1 has 8 exact-dup pairs in 5000).
  *  - embeddings: 64-dim unit vectors, i.i.d. gaussian then normalized —
  *    the sf0.1 corpus is measurably UNIFORM on the sphere (intra-label
  *    mean cosine ≈ inter-label ≈ 0), labels hash-uniform over 0..9.
  *
  * Output layout: each table written with `spark.sql.shuffle.partitions`
  * range partitions → multi-file parquet, the layout a production writer
  * produces (single-file tables would cap scan parallelism at row-group
  * count and understate 10× scan cost).
  */
object GenScale {

  /** Uniform double in [0, 1): top 53 bits of xxhash64(salt, cols). */
  private def u(salt: Long, cols: Column*): Column =
    shiftrightunsigned(xxhash64((lit(salt) +: cols): _*), 11).cast("double") /
      lit((1L << 53).toDouble)

  /** Non-negative hash mod m. */
  private def h(salt: Long, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(m))

  private def pick(salt: Long, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (h(salt, values.size, cols: _*) + 1).cast("int"))

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Seq("signup", "purchase", "view", "click", "error")
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Seq("en", "zh", "es", "fr", "de") // weights 41/15/15/15/14 (sf0.1)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val mult = args(1).toLong
    // engine-required confs from the one shared source of truth
    val spark = GraftSession.configure(SparkSession.builder()
      .appName("graft-genscale")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.driver.memory", "8g"))
      .getOrCreate()
    // optional third arg: "openvocab" = Zipf-vocabulary documents mode;
    // "zipfusers" = Zipf(1) events.user_id mode (hot-user skew decade);
    // "zipforders" = Zipf(1) lineitem.l_orderkey mode (hot join-key skew)
    val mode = args.lift(2)
    mode.foreach { m =>
      require(Set("openvocab", "zipfusers", "zipforders")(m),
        s"unknown GenScale mode '$m'")
    }
    try write(spark, out, mult,
      openVocabDocs = mode.contains("openvocab"),
      zipfUsers = mode.contains("zipfusers"),
      zipfOrders = mode.contains("zipforders"))
    finally spark.stop()
  }

  /** Zipf(1)-ish word over a 200 k vocabulary (log-uniform index encoded
    * in base-26 LETTERS — the shingle tokenizer is letter-runs, so a
    * digit-bearing word like "w123" would collapse to the token "w" and
    * give every document the same shingle set; caught when the first
    * PrefixScale run reported J ≥ 0.5 for all C(n,2) pairs). Used by the open-vocabulary documents mode: the
    * regime where rare shingles STAY rare as the corpus grows — real
    * web-corpus behavior, vs the driver corpus's saturated 31-word
    * trigram universe.
    */
  private def zipfWord(salt: Long, cols: Column*): Column =
    translate(
      conv(floor(pow(lit(200000.0), u(salt, cols: _*))).cast("long").cast("string"),
        10, 26),
      "0123456789ABCDEFGHIJKLMNOP", "abcdefghijklmnopqrstuvwxyz")

  /** `div` shrinks every base row count (test hook: GenScaleSpec generates
    * a ~1/100-of-sf0.1 corpus twice to pin determinism in seconds). The
    * generated VALUES are pure hash-of-id functions, so div/mult change
    * only which ids exist — never a row's content. `openVocabDocs`
    * switches the documents table's word draw from the driver's 31-word
    * vocabulary to the 200 k-word Zipf draw (everything else — doc
    * lengths, exact-dup/near-dup structure, lang/source columns, the
    * other nine tables — identical), so the text/dedup inventory can be
    * oracle-verified in the open-vocabulary regime too.
    */
  def write(spark: SparkSession, out: String, mult: Long, div: Long = 1L,
      openVocabDocs: Boolean = false, zipfUsers: Boolean = false,
      zipfOrders: Boolean = false): Unit = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def rng(n: Long) = spark.range(0, n, 1, parts)
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val nCust = 15000L * mult / div
    val nSupp = 1000L * mult / div
    val nPart = 20000L * mult / div
    val nOrd = 150000L * mult / div
    val nEvents = 100000L * mult / div
    val nUsers = math.max(1L, 1500L * mult / div)
    val nDocs = 5000L * mult / div
    val nVecs = 2000L * mult / div

    import spark.implicits._
    save(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    save(rng(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(11, 25, col("id")).cast("int").as("c_nationkey"),
      round(u(12, col("id")) * 10000, 2).as("c_acctbal"),
      pick(13, Segments, col("id")).as("c_mktsegment")), "customer")

    save(rng(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(21, 25, col("id")).cast("int").as("s_nationkey"),
      round(u(22, col("id")) * 10000, 2).as("s_acctbal")), "supplier")

    save(rng(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(31, Adjs, col("id")), lit(" "), pick(32, Nouns, col("id"))).as("p_name"),
      concat(lit("Brand#"), h(33, 25, col("id"))).as("p_brand"),
      pick(34, PTypes, col("id")).as("p_type"),
      (h(35, 50, col("id")) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10.0).as("p_retailprice")),
      "part")

    // o_orderdate: day-aligned uniform over 1995-01-01 .. 2001-08-01
    // (2404 days, the sf0.1 span); epoch day 9131 = 1995-01-01.
    val orderDay = lit(9131L) + h(41, 2404L + 1L, col("id"))
    save(rng(nOrd).select(
      col("id").as("o_orderkey"),
      h(42, nCust, col("id")).as("o_custkey"),
      pick(43, Seq("O", "F", "P"), col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u(44, col("id")) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(orderDay * 86400L).as("o_orderdate"),
      pick(45, Priorities, col("id")).as("o_orderpriority")), "orders")

    // lineitem: per-order explode, 1 + h%7 lines (mean 4.0); shipdate =
    // orderdate + 1..95 days (sf0.1's observed ship lag envelope).
    // zipfOrders keeps the SAME total line mass (4·nOrd) but draws each
    // line's l_orderkey log-uniform — floor(nOrd^u) over [1, nOrd-1], so
    // P(order k) ≈ 1/(k·ln nOrd) and the HOT order, key 1, alone holds
    // ~ln2/ln(nOrd) (~4-5%) of ALL lineitems (at sf10 that is ~2.7 M
    // lines on one join key vs 7 max uniform) — the fact⋈fact join-skew
    // regime that stresses the l_orderkey shuffle joins (order_revenue /
    // reconcile_totals / incremental_merge and regional_revenue's star
    // spine) the way zipfUsers stresses the user-window family. Tail
    // orders draw ~4/ln(nOrd) lines in expectation, so some orders have
    // none — real FK data has childless parents. l_linenumber becomes the
    // global line id (unique per (l_orderkey, l_linenumber), which is all
    // any query or per-line value hash requires; no query reads its
    // 1..k sequencing); every other column is the same hash of
    // (l_orderkey, l_linenumber) as the uniform mode.
    val li =
      if (zipfOrders) {
        val ok = floor(pow(lit(nOrd.toDouble), u(66, col("id")))).cast("long")
        rng(nOrd * 4)
          .select(ok.as("l_orderkey"), col("id").cast("int").as("l_linenumber"))
          .withColumn("od", lit(9131L) + h(41, 2404L + 1L, col("l_orderkey")))
      } else rng(nOrd)
        .select(col("id").as("l_orderkey"), orderDay.as("od"),
          explode(sequence(lit(1), (h(51, 7, col("id")) + 1).cast("int"))).as("l_linenumber"))
    save(li.select(
      col("l_orderkey"),
      h(52, nPart, col("l_orderkey"), col("l_linenumber")).as("l_partkey"),
      h(53, nSupp, col("l_orderkey"), col("l_linenumber")).as("l_suppkey"),
      col("l_linenumber"),
      (h(54, 50, col("l_orderkey"), col("l_linenumber")) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(55, col("l_orderkey"), col("l_linenumber")) * 104100.0, 2)
        .as("l_extendedprice"),
      (h(56, 11, col("l_orderkey"), col("l_linenumber")).cast("double") / 100.0).as("l_discount"),
      (h(57, 9, col("l_orderkey"), col("l_linenumber")).cast("double") / 100.0).as("l_tax"),
      pick(58, Seq("N", "A", "R"), col("l_orderkey"), col("l_linenumber")).as("l_returnflag"),
      pick(59, Seq("O", "F"), col("l_orderkey"), col("l_linenumber")).as("l_linestatus"),
      timestamp_seconds(
        (col("od") + 1L + h(60, 95, col("l_orderkey"), col("l_linenumber"))) * 86400L)
        .as("l_shipdate")), "lineitem")

    // events: same 30-day window at mult× density, ts monotone in
    // event_id (gap-bounded jitter), value ~ Exp(mean 50).
    val spanMicros = 30L * 86400L * 1000000L
    val gap = spanMicros / nEvents
    val baseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    // user_id: uniform by default (events-per-user ~67 at every SF);
    // zipfUsers switches to a Zipf(1)-ish draw — log-uniform rank:
    // floor(nUsers^u) ranges over [1, nUsers-1] (user 0 never draws), so
    // P(user k) ≈ 1/(k·ln nUsers) for k ≥ 1 and the HOT user is id 1 with
    // mass P(u < ln2/ln n) = ln2/ln(nUsers) (~6-7%) — the hot-user regime
    // that bounds the user-window family's (sessionize/session_stats/
    // scd2_history/user_journey/trailing_features) per-task work by
    // per-user activity. Everything else is identical, so the skew corpus
    // isolates the skew.
    val userId =
      if (zipfUsers)
        pmod(floor(pow(lit(nUsers.toDouble), u(62, col("id")))).cast("long"), lit(nUsers))
      else h(62, nUsers, col("id"))
    save(rng(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseMicros) + col("id") * gap + h(61, gap, col("id"))).as("ts"),
      userId.as("user_id"),
      pick(63, EventTypes, col("id")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(64, col("id"))), 2).as("value"),
      format_string("{\"k\": %d}", h(65, 100, col("id"))).as("props")), "events")

    writeDocuments(spark, out, nDocs, openVocabDocs)

    // embeddings: 64 i.i.d. standard gaussians (Box-Muller over two
    // hash-uniforms), L2-normalized, stored float[] like the source.
    val dims = sequence(lit(0), lit(63))
    val gauss = transform(dims, i =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(81, col("id"), i))) *
        cos(lit(2.0 * math.Pi) * u(82, col("id"), i)))
    val nrm = sqrt(aggregate(gauss, lit(0.0), (acc, x) => acc + x * x))
    save(rng(nVecs).select(
      col("id").as("vec_id"),
      transform(gauss, x => (x / nrm).cast("float")).as("embedding"),
      h(83, 10, col("id")).cast("int").as("label")), "embeddings")
  }

  /** The documents table: `nDocs` docs of 10..100 words over the 31-word
    * vocabulary, or with `openVocab` the 200 k-word Zipf draw
    * ([[zipfWord]]). h71%500==0 rows (~0.2%) are EXACT copies of an
    * earlier doc; h72%200==0 rows (~0.5%) are near-dups (the source text
    * with each word mutated at rate 1/25, ~2 words).
    */
  def writeDocuments(spark: SparkSession, out: String, nDocs: Long, openVocab: Boolean): Unit = {
    def drawWord(salt: Long, cols: Column*): Column =
      if (openVocab) zipfWord(salt, cols: _*)
      else element_at(array(Vocab.map(lit): _*), (h(salt, 31, cols: _*) + 1).cast("int"))
    def words(seed: Column, mutSalt: Option[Long]): Column = {
      val wc = (h(73, 91, seed) + 10).cast("int")
      val base = transform(sequence(lit(1), wc), i => drawWord(74, seed, i))
      mutSalt match {
        case None => array_join(base, " ")
        case Some(s) =>
          array_join(transform(base, (w, i) =>
            when(h(s, 25, seed, i) === 0, drawWord(s + 1, seed, i))
              .otherwise(w)), " ")
      }
    }
    val srcId = greatest(lit(0L), col("id") - 1L - h(75, 50, col("id")))
    val text = when(col("id") > 0 && h(71, 500, col("id")) === 0, words(srcId, None))
      .when(col("id") > 0 && h(72, 200, col("id")) === 0, words(srcId, Some(76)))
      .otherwise(words(col("id"), None))
    spark.range(0, nDocs, 1, spark.conf.get("spark.sql.shuffle.partitions").toInt).select(
      col("id").as("doc_id"),
      text.as("text"),
      when(u(77, col("id")) < 0.41, "en").otherwise(pick(78, Langs.tail, col("id"))).as("lang"),
      concat(lit("src"), h(79, 20, col("id"))).as("source"),
      length(text).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }
}
