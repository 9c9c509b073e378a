package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata extracted by a decode stage.
  *
  * The container has no image/audio codecs, so the decoder
  * (`graft.operators.MediaDecode`) is a clearly-marked deterministic stub —
  * but the Spark-side plumbing (binary schema, per-partition batch decode,
  * metadata struct) is real and tested. This query runs the pipeline with
  * the documents' text bytes standing in for media payloads.
  */
object MultimodalQueries {

  /** `multimodal_meta` — payload byte length, content hash, and
    * stub-decoded (width, height, format) metadata. The metadata comes from
    * the REAL decode stage (`MediaDecode.withMetadata` — the per-partition
    * mapPartitions batch decoder), not a column-expression bypass, so the
    * decode plumbing itself is oracle-checked: the stub decoder derives
    * metadata from the payload's md5 top-60-bits (= `hash60`), which the
    * DuckDB oracle reproduces in SQL.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.docs(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.operators.MediaDecode.withMetadata(base, "payload")
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("content_hash"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.height").cast("long").as("height"),
        col("media_meta.format").as("format"))
  }

  val multimodalMetaSql: String =
    s"""SELECT doc_id,
       |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       |       sha256(text) AS content_hash,
       |       ${Oracle.hash60("text")} % 1920 AS width,
       |       ${Oracle.hash60("text")} % 1080 AS height,
       |       CASE WHEN ${Oracle.hash60("text")} % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
       |FROM documents""".stripMargin

  /** `media_framesample` — the FRAME-SAMPLE stage of a video pipeline:
    * every payload explodes into its stride-2 sampled frames with a
    * per-frame fingerprint (the feature-extract placeholder), through the
    * REAL per-partition streaming flatMap stage
    * (`MediaDecode.frameSample`) — frames never buffer as a per-row
    * array, the shape that matters when one payload is a 2-hour video.
    * Frame count and fingerprints are pure functions of the payload
    * bytes, so the mapPartitions stage is oracle-checked end-to-end.
    */
  val FrameStride = 2

  def mediaFramesample(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.docs(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.operators.MediaDecode.frameSample(base, "payload", FrameStride)
      .select(col("doc_id"), col("frame_idx"), col("frame_fp"))
  }

  val mediaFramesampleSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, md5(text) AS h,
       |         unnest(generate_series(0, octet_length(CAST(text AS BLOB)) // ${graft.operators.MediaDecode.FrameBytes}, $FrameStride)) AS i
       |  FROM documents)
       |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       |       ${Oracle.hash60("h || ':' || CAST(i AS VARCHAR)")} AS frame_fp
       |FROM f""".stripMargin

  /** `media_resize` — the RESIZE/thumbnail stage: payloads above
    * [[ResizeBytes]] truncate to the stub thumbnail, smaller ones pass
    * through untouched (the skip-if-small fast path), all via the real
    * per-partition batch stage (`MediaDecode.withResized`). Emits the
    * before/after byte sizes, a was-resized flag, and the content hash of
    * the RESIZED payload — pure functions of the input bytes, so the
    * stage is oracle-checked end-to-end like the decode and frame-sample
    * stages.
    */
  val ResizeBytes = 256

  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.docs(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.operators.MediaDecode.withResized(base, "payload", ResizeBytes)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("orig_bytes"),
        octet_length(col("resized")).cast("long").as("resized_bytes"),
        (octet_length(col("payload")) > lit(ResizeBytes)).as("was_resized"),
        // hash the HEX encoding of the resized bytes: DuckDB has no BLOB
        // slicing, but hex() is byte-aligned (2 chars/byte), so
        // left(hex(payload), 2·target) is exactly hex(resized) — the
        // oracle checks the stage's output bytes through the encoding
        sha2(lower(hex(col("resized"))), 256).as("resized_hash"))
  }

  val mediaResizeSql: String =
    s"""SELECT doc_id,
       |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS orig_bytes,
       |       CAST(least(octet_length(CAST(text AS BLOB)), $ResizeBytes) AS BIGINT) AS resized_bytes,
       |       octet_length(CAST(text AS BLOB)) > $ResizeBytes AS was_resized,
       |       sha256(lower(left(hex(CAST(text AS BLOB)), ${2 * ResizeBytes}))) AS resized_hash
       |FROM documents""".stripMargin

  // ------------------------------------------------------------ media_neardup
  /** `media_neardup` — content-defined-chunk near-duplicate detection for
    * BINARY payloads (the storage-dedup / CDC shape: Muthitacharoen et
    * al., LBFS, SOSP 2001): each payload slices into
    * [[graft.operators.MediaDecode.FrameBytes]]-byte chunks, each chunk
    * fingerprints to a 60-bit content hash, and two payloads pair when
    * they share ≥ [[MediaTau]] of the smaller one's distinct chunk set —
    * exactly how one finds re-encoded-container / truncated / appended
    * copies of media files without decoding them. Ubiquitous chunks
    * (document frequency > [[FpDfCap]], e.g. runs of padding bytes) are
    * EXCLUDED from pair generation — the standard common-chunk
    * suppression of CDC dedup — while still counting toward each
    * payload's chunk total; both rules are mirrored by the oracle.
    *
    * Chunking is byte-aligned through the payload's hex encoding (2
    * chars/byte, the [[mediaResize]] trick, so DuckDB reproduces the
    * slices without BLOB slicing); fingerprints are the engine-wide
    * `hash60`. Overlap is one IEEE division of exact BIGINTs.
    *
    * Scale shape: the chunk table derives in one scan (memoized — three
    * consumers), the hot-chunk cap runs as a count-aggregate + anti-join
    * BEFORE any collect_list (the dedup_minhash MaxBandBucket rule: a
    * mega-chunk-bucket must never reach an aggregation buffer), pairs
    * stream from the PairsExpr generator, and sizes attach by key-equi
    * joins. Identical to the text inverted-index dedup family's cost
    * model, which is the point: binary payloads dedup with the SAME
    * machinery once chunk fingerprints replace shingles.
    */
  val MediaTau = 0.3
  val FpDfCap = 1024

  def mediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    val fb = graft.operators.MediaDecode.FrameBytes
    // Disk-cached index artifact (see [[Memo.disk]]): the CDC
    // chunk-fingerprint table is the media dedup's build-once index; a
    // cold JVM scans the content-keyed parquet instead of re-hexing and
    // re-hashing every payload.
    val fps = Memo.disk(spark, dir, "media_fps", s"fb=$fb") { () =>
      val base = Tables.docs(spark, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .filter(octet_length(col("payload")) > 0)
      val hx = lower(hex(col("payload")))
      base.select(col("doc_id"),
          explode(transform(
            sequence(lit(0), expr(s"CAST((octet_length(payload) - 1) div $fb AS INT)")),
            i => graft.functions.TextFns.hash60(
              hx.substr(i * lit(2 * fb) + lit(1), lit(2 * fb))))).as("fp"))
        .distinct()
    }
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > FpDfCap).select(col("fp"))
    val pairs = fps.join(broadcast(hot), Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(graft.functions.PairsExpr(col("ids"))) // generator -> (da, db)
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("doc_id").as("da"), col("nf").as("nf_a")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("nf").as("nf_b")), "db")
      .withColumn("overlap", col("n_shared").cast("double") /
        least(col("nf_a"), col("nf_b")).cast("double"))
      .filter(col("overlap") >= MediaTau)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_shared"), col("nf_a"), col("nf_b"), col("overlap"))
  }

  val mediaNeardupSql: String = {
    val fb = graft.operators.MediaDecode.FrameBytes
    val chunk = s"substr(hx, i * ${2 * fb} + 1, ${2 * fb})"
    s"""WITH d AS (SELECT doc_id, lower(hex(CAST(text AS BLOB))) AS hx,
       |                  octet_length(CAST(text AS BLOB)) AS n
       |           FROM documents
       |           WHERE octet_length(CAST(text AS BLOB)) > 0),
       |f AS (SELECT DISTINCT doc_id, ${Oracle.hash60(chunk)} AS fp
       |      FROM d, unnest(generate_series(0, (n - 1) // $fb)) AS s(i)),
       |sizes AS (SELECT doc_id, count(*) AS nf FROM f GROUP BY doc_id),
       |keep AS (SELECT fp FROM f GROUP BY fp
       |         HAVING count(*) > 1 AND count(*) <= $FpDfCap),
       |pr AS (SELECT f1.doc_id AS da, f2.doc_id AS db, count(*) AS n_shared
       |       FROM f f1 JOIN f f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id
       |       JOIN keep k ON k.fp = f1.fp
       |       GROUP BY 1, 2)
       |SELECT pr.da AS doc_a, pr.db AS doc_b, pr.n_shared,
       |       sa.nf AS nf_a, sb.nf AS nf_b,
       |       CAST(pr.n_shared AS DOUBLE) /
       |         CAST(least(sa.nf, sb.nf) AS DOUBLE) AS overlap
       |FROM pr JOIN sizes sa ON sa.doc_id = pr.da
       |        JOIN sizes sb ON sb.doc_id = pr.db
       |WHERE CAST(pr.n_shared AS DOUBLE) /
       |        CAST(least(sa.nf, sb.nf) AS DOUBLE) >= $MediaTau""".stripMargin
  }

  val entries: Seq[(String, QueryDef)] = Seq(
    "multimodal_meta" -> QueryDef(multimodalMeta, Some(multimodalMetaSql)),
    "media_framesample" -> QueryDef(mediaFramesample, Some(mediaFramesampleSql)),
    "media_resize" -> QueryDef(mediaResize, Some(mediaResizeSql)),
    "media_neardup" -> QueryDef(mediaNeardup, Some(mediaNeardupSql)))
}
