package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** §2.F — multimodal column plumbing.
  *
  * Media (image/audio/video) is carried as an opaque `binary` payload
  * column plus a typed metadata struct — the layout a 100 TB
  * multimodal corpus uses. The decode/feature-extract stage runs as a
  * per-partition batch pass (`mapPartitions` over a typed Dataset:
  * the Scala analogue of `mapInPandas` — one iterator per partition,
  * arbitrary native code per batch). The decoder itself is a
  * clearly-marked deterministic FAKE (no media libs in this
  * environment); everything around it — schema, binary payloads,
  * partitioning, batch iteration — is real and oracle-checked.
  */
object MultimodalOps {

  /** Typed rows crossing the decode boundary. */
  case class MediaIn(doc_id: Long, payload: Array[Byte], lang: String, n_chars: Long)
  case class MediaFeatures(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                           n_frames: Int, format: String)

  /** STUB decoder — stands in for an image/audio codec. Deterministic
    * pure function of the payload bytes so the DuckDB oracle can
    * reproduce it; a real deployment swaps only this function. */
  private def fakeDecode(m: MediaIn): MediaFeatures = {
    val n = m.payload.length
    MediaFeatures(m.doc_id, n,
      width = n % 640, height = (n * 3) % 480, n_frames = n % 24 + 1,
      format = "fake")
  }

  /** documents → binary payload → feature table. The FAKE decoder is
    * pure arithmetic on the byte length, so the hot path stays fully
    * expression-based (codegen'd, rows never deserialize out of
    * Tungsten); a REAL codec needs byte access and plugs in through
    * [[decodeWithCodec]] — MultimodalSpec proves the two paths agree
    * for the fake decoder, so swapping the codec is the only change. */
  def binaryMeta(s: SparkSession, d: String): DataFrame = {
    val nBytes = octet_length(encode(col("text"), "UTF-8"))
    Tables.documents(s, d).select(
      col("doc_id"),
      nBytes.cast("int").as("n_bytes"),
      (nBytes % 640).cast("int").as("width"),
      ((nBytes * 3) % 480).cast("int").as("height"),
      (nBytes % 24 + 1).cast("int").as("n_frames"),
      lit("fake").as("format"))
  }

  /** The typed decode boundary for a real codec: one iterator per
    * partition over (payload + metadata) rows — the Scala analogue of
    * `mapInPandas`, arbitrary native code per batch. Repartitioned on
    * doc_id so decode parallelism is even regardless of source file
    * layout. Only this path pays the Tungsten deserialization; use it
    * when the codec genuinely reads bytes. */
  def decodeWithCodec(s: SparkSession, d: String)
                     (codec: MediaIn => MediaFeatures): DataFrame =
    decodeMedia(
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          col("lang"), col("n_chars")))(codec)

  /** The codec boundary over an arbitrary media frame (doc_id,
    * payload: binary, lang, n_chars) — the path a REAL binary corpus
    * takes (an image/audio payload is not valid UTF-8, so it cannot
    * round-trip through a text column; it arrives as a binary column
    * and crosses here untouched). */
  private[graft] def decodeMedia(media: DataFrame)
                                (codec: MediaIn => MediaFeatures): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("doc_id"), col("payload"), col("lang"), col("n_chars"))
      .repartition(col("doc_id"))
      .as[MediaIn]
      .mapPartitions(_.map(codec))
      .toDF()
  }

  /** The stub codec exposed for the boundary-equivalence spec. */
  private[graft] def fakeCodec: MediaIn => MediaFeatures = fakeDecode

  /** A REAL image codec at the same seam: javax.imageio (JDK-native —
    * PNG/JPEG/GIF/BMP) sniffs the container from the actual payload
    * bytes and reads true pixel dimensions and frame count from the
    * image header (no full pixel decode — the header is all this
    * feature table needs, and it is what a 100 TB manifest pass can
    * afford per payload). An unrecognized container degrades to
    * (0, 0, 0, "unknown") rather than failing the batch — the
    * quarantine row a production pipeline routes to re-crawl.
    * MultimodalSpec drives genuine PNG/GIF bytes through it; this
    * retires the "would a real codec fit the seam" question — the
    * stub and this codec are interchangeable at [[decodeMedia]]. */
  private[graft] def imageioCodec: MediaIn => MediaFeatures = { m =>
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(m.payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (readers.hasNext) {
        val r = readers.next()
        r.setInput(in)
        try MediaFeatures(m.doc_id, m.payload.length,
          r.getWidth(0), r.getHeight(0),
          math.max(r.getNumImages(true), 1), r.getFormatName.toLowerCase)
        finally r.dispose()
      } else MediaFeatures(m.doc_id, m.payload.length, 0, 0, 0, "unknown")
    } finally in.close()
  }

  private val binaryMetaSql =
    """SELECT doc_id,
      |  cast(octet_length(encode(text)) as int) AS n_bytes,
      |  cast(octet_length(encode(text)) % 640 as int) AS width,
      |  cast((octet_length(encode(text)) * 3) % 480 as int) AS height,
      |  cast(octet_length(encode(text)) % 24 + 1 as int) AS n_frames,
      |  'fake' AS format
      |FROM documents""".stripMargin

  /** Frame sampling: every 4th frame of each (fake) video payload,
    * exploded to one row per sampled frame with its byte offset — the
    * shape a video-training pipeline feeds to a decoder. The frame
    * count/size come from the deterministic fake decode (real decode
    * would swap in here); the explode/offset plumbing is the real
    * thing and scales as a narrow map. */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    val nBytes = octet_length(encode(col("text"), "UTF-8"))
    val nFrames = nBytes % 24 + 1
    val frameSize = floor(nBytes / nFrames).cast("int") // explicit floor: DuckDB's double->int cast rounds, Spark's truncates
    Tables.documents(s, d)
      .select(col("doc_id"), nBytes.as("n_bytes"), nFrames.as("n_frames"),
        frameSize.as("frame_size"))
      .select(col("doc_id"), col("n_frames"), col("frame_size"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * col("frame_size")).as("byte_offset"),
        col("n_frames"))
  }

  private val frameSampleSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    cast(octet_length(encode(text)) as int) AS n_bytes,
      |    cast(octet_length(encode(text)) % 24 + 1 as int) AS n_frames
      |  FROM documents),
      |f AS (SELECT doc_id, n_frames,
      |        cast(floor(n_bytes / n_frames) as int) AS frame_size,
      |        unnest(range(0, n_frames, 4)) AS frame_idx
      |      FROM m)
      |SELECT doc_id, cast(frame_idx as int) AS frame_idx,
      |  cast(frame_idx * frame_size as int) AS byte_offset, n_frames
      |FROM f""".stripMargin

  /** Binary-content dedup: exact duplicate media detection by
    * SHA-256 of the payload bytes — the standard first pass of a
    * multimodal corpus (cheap, catches re-crawled/re-encoded-copy
    * files before any perceptual hashing). The hash computes map-side
    * (narrow, codegen'd), and only (hash, id, n_bytes) triples
    * shuffle — never the payloads. A payload duplicated B times costs
    * O(B) in the partial/final aggregation. */
  def payloadDedup(s: SparkSession, d: String): DataFrame =
    payloadDedupFromDocs(Tables.documents(s, d))

  /** `docs` needs (doc_id, text); text stands in for the payload
    * bytes (a real corpus hashes the binary column directly). */
  private[graft] def payloadDedupFromDocs(docs: DataFrame): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    docs
      .select(col("doc_id"),
        sha2(payload, 256).as("content_sha"),
        octet_length(payload).cast("long").as("n_bytes"))
      .groupBy(col("content_sha"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_bytes")).as("n_bytes"))
  }

  private val payloadDedupSql =
    """SELECT sha256(text) AS content_sha,
      |  min(doc_id) AS keep_id,
      |  cast(count(*) as bigint) AS n_copies,
      |  cast(max(octet_length(encode(text))) as bigint) AS n_bytes
      |FROM documents
      |GROUP BY 1""".stripMargin

  private val ShardBytes = 65536L
  private val ManifestBlocks = 64L

  /** Byte-budget shard manifest for binary payloads — the "pack media
    * files into ~64 KB tar shards" layout step (WebDataset-style) a
    * multimodal trainer reads: each payload gets a shard id and a byte
    * offset, assigned by its START offset in the deterministic
    * hash-shuffled order (so shards are reproducible on any engine
    * and fill to the budget; a payload straddling a boundary belongs
    * to the shard its first byte lands in). The global byte prefix
    * sum is the same two-level hash-blocked shape as corpus_shuffle:
    * per-block cumulative sums run in parallel, the offset window
    * touches ≤ ManifestBlocks rows, payload BYTES never shuffle —
    * only (id, n_bytes) pairs. */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        graft.functions.ihash.quad(col("doc_id")).as("h"))
    val blkWidth = graft.functions.ihash.M / ManifestBlocks + 1
    val withBlk = base.withColumn("blk", expr(s"h div $blkWidth"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wBlocks = org.apache.spark.sql.expressions.Window.orderBy(col("blk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = withBlk.groupBy(col("blk")).agg(sum(col("n_bytes")).as("bb"))
      .withColumn("boff", coalesce(sum(col("bb")).over(wBlocks), lit(0L)))
      .select(col("blk"), col("boff"))
    withBlk
      .withColumn("lstart", coalesce(sum(col("n_bytes")).over(wLocal), lit(0L)))
      .join(broadcast(offs), "blk")
      .withColumn("start_byte", col("boff") + col("lstart"))
      .select(col("doc_id"), col("n_bytes"),
        expr(s"start_byte div $ShardBytes").cast("int").as("shard"),
        (col("start_byte") % ShardBytes).as("shard_offset"))
  }

  private val shardManifestSql = {
    val hash = graft.functions.ihash.quadSqlNested("doc_id")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    cast(octet_length(encode(text)) as bigint) AS n_bytes, $hash AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_bytes,
       |    cast(coalesce(sum(n_bytes) OVER (ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint)
       |      AS start_byte
       |  FROM b)
       |SELECT doc_id, n_bytes,
       |  cast(start_byte // $ShardBytes as int) AS shard,
       |  cast(start_byte % $ShardBytes as bigint) AS shard_offset
       |FROM c""".stripMargin
  }

  /** Resize planning: aspect-preserving target dims (short side →
    * 224, never upscale) + an aspect-ratio bucket for batch shaping
    * — the image-preprocessing decision a multimodal loader makes
    * per image BEFORE decoding (so batches group compatible shapes).
    * Dims come from the deterministic fake decode; the planning
    * arithmetic is the real thing and is ALL integer (floor-division
    * scaling), so both engines agree exactly. Embarrassingly
    * parallel, zero shuffles. */
  def resizePlan(s: SparkSession, d: String): DataFrame = {
    val nBytes = octet_length(encode(col("text"), "UTF-8"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        greatest(nBytes % 640, lit(1)).cast("long").as("in_w"),
        greatest((nBytes * 3) % 480, lit(1)).cast("long").as("in_h"))
      .select(col("doc_id"), col("in_w"), col("in_h"),
        least(col("in_w"), col("in_h")).as("ss"),
        greatest(col("in_w"), col("in_h")).as("ls"))
      .select(col("doc_id"), col("in_w"), col("in_h"),
        when(col("ss") > 224, expr("in_w * 224 div ss"))
          .otherwise(col("in_w")).cast("int").as("out_w"),
        when(col("ss") > 224, expr("in_h * 224 div ss"))
          .otherwise(col("in_h")).cast("int").as("out_h"),
        least(expr("ls * 4 div ss"), lit(8)).cast("int").as("aspect_bucket"))
  }

  private val resizePlanSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    cast(greatest(octet_length(encode(text)) % 640, 1) as bigint) AS in_w,
      |    cast(greatest((octet_length(encode(text)) * 3) % 480, 1) as bigint) AS in_h
      |  FROM documents),
      |s AS (SELECT doc_id, in_w, in_h,
      |        least(in_w, in_h) AS ss, greatest(in_w, in_h) AS ls FROM m)
      |SELECT doc_id, in_w, in_h,
      |  cast(CASE WHEN ss > 224 THEN in_w * 224 // ss ELSE in_w END as int) AS out_w,
      |  cast(CASE WHEN ss > 224 THEN in_h * 224 // ss ELSE in_h END as int) AS out_h,
      |  cast(least(ls * 4 // ss, 8) as int) AS aspect_bucket
      |FROM s""".stripMargin

  private val ChunkMs = 2000
  private val HopMs = 1500

  /** Overlapping fixed-window audio chunking — the segmentation an
    * ASR/audio-training pipeline applies before batch decode (think
    * 30 s windows with overlap, scaled to the fake decoder's
    * millisecond space). Duration derives from the payload length via
    * the deterministic fake decode (10 ms per byte); the chunk grid
    * [k·hop, k·hop+chunk) ∩ [0, duration) is pure integer arithmetic
    * exploded as a narrow map — one row per window, no shuffle at any
    * scale. The last window clips to the duration; zero-length
    * payloads emit no chunks on both engines (empty sequence). */
  def audioChunks(s: SparkSession, d: String): DataFrame =
    audioChunksImpl(Tables.documents(s, d))

  /** Impl seam over any (doc_id, text) frame — MultimodalSpec drives
    * the zero-duration guard through it directly (the corpus has no
    * empty documents, so the guard is unreachable from the tables). */
  private[graft] def audioChunksImpl(docs: DataFrame): DataFrame = {
    val durMs = (octet_length(encode(col("text"), "UTF-8")) * 10L).as("duration_ms")
    docs
      .select(col("doc_id"), durMs)
      // guarded: sequence(0, -1) THROWS on a zero-length payload where
      // the oracle's range(0, 0) is simply empty — emit an empty array
      // instead so both engines drop the doc
      .select(col("doc_id"), col("duration_ms"),
        explode(when(col("duration_ms") > 0,
          sequence(lit(0L), col("duration_ms") - 1, lit(HopMs.toLong)))
          .otherwise(array().cast("array<bigint>")))
          .as("start_ms"))
      .select(col("doc_id"),
        (col("start_ms") / HopMs).cast("int").as("chunk_idx"),
        col("start_ms"),
        least(col("start_ms") + ChunkMs, col("duration_ms")).as("end_ms"),
        col("duration_ms"))
  }

  private val audioChunksSql =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    cast(octet_length(encode(text)) * 10 as bigint) AS duration_ms
       |  FROM documents),
       |c AS (SELECT doc_id, duration_ms,
       |        unnest(range(0, duration_ms, $HopMs)) AS start_ms
       |      FROM m)
       |SELECT doc_id,
       |  cast(start_ms / $HopMs as int) AS chunk_idx,
       |  cast(start_ms as bigint) AS start_ms,
       |  cast(least(start_ms + $ChunkMs, duration_ms) as bigint) AS end_ms,
       |  duration_ms
       |FROM c""".stripMargin

  // ------------------------------------------------ caption pairing

  private val CapMaxToks = 12
  private val CapMinToks = 3
  private val CapMinBytes = 64
  private val CapMaxBytes = 20000

  /** (media, caption) pair extraction + quality gate — the
    * LAION/CLIP-style pairing step that turns a crawled corpus into
    * contrastive training pairs. The caption is the doc's leading
    * [[CapMaxToks]] tokens (a real pipeline takes alt-text; the stub
    * corpus has no separate field, so the prefix stands in), the
    * payload is the family's binary column, and the keep gate is the
    * standard band filter: caption length ∈ [min,max] tokens,
    * payload ∈ [min,max] bytes — both integer-exact. Narrow map,
    * zero shuffles, one tokenize already shared by the text family.
    * A kept pair is what a CLIP loader consumes: (id, caption,
    * payload size); the payload bytes themselves stay where they
    * are (the shard manifest, not this table, moves media). */
  def captionPairs(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.text.tokens(col("text"))
    val nBytes = octet_length(encode(col("text"), "UTF-8"))
    Tables.documents(s, d).select(
      col("doc_id"),
      concat_ws(" ", slice(toks, 1, CapMaxToks)).as("caption"),
      least(size(toks), lit(CapMaxToks)).cast("int").as("cap_toks"),
      nBytes.cast("long").as("n_bytes"),
      (least(size(toks), lit(CapMaxToks)) >= CapMinToks &&
        nBytes >= CapMinBytes && nBytes <= CapMaxBytes).as("keep"))
  }

  private val captionPairsSql = {
    val toks = graft.functions.text.tokensSql
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks,
       |    cast(octet_length(encode(text)) as bigint) AS n_bytes
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(toks[1:$CapMaxToks], ' ') AS caption,
       |  cast(least(len(toks), $CapMaxToks) as int) AS cap_toks,
       |  n_bytes,
       |  (least(len(toks), $CapMaxToks) >= $CapMinToks
       |    AND n_bytes >= $CapMinBytes AND n_bytes <= $CapMaxBytes) AS keep
       |FROM t""".stripMargin
  }

  // ----------------------------------------------- modality profile

  /** Per-modality dataset-card panel (every multimodal data card
    * leads with it): docs, total/avg/max payload bytes, corpus byte
    * share in exact ppm. The modality tag comes from the family's
    * deterministic stub (a real corpus reads it from the metadata
    * struct; only the tag expression swaps). One partial/final agg
    * with a ≤3-row final state + a 1-row broadcast total — all
    * integer arithmetic, avg published as an exact integer division. */
  def modalityStats(s: SparkSession, d: String): DataFrame = {
    val nBytes = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val modality = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    val per = Tables.documents(s, d)
      .select(modality.as("modality"), nBytes.as("n_bytes"))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"))
    val tot = per.agg(sum(col("total_bytes")).as("t"))
    per.crossJoin(broadcast(tot))
      .select(col("modality"), col("n_docs"), col("total_bytes"),
        expr("total_bytes div n_docs").as("avg_bytes"), col("max_bytes"),
        expr("total_bytes * 1000000 div t").as("byte_share_ppm"))
  }

  private val modalityStatsSql =
    """WITH m AS (
      |  SELECT ['image', 'audio', 'video'][cast(doc_id % 3 + 1 as int)]
      |           AS modality,
      |    cast(octet_length(encode(text)) as bigint) AS n_bytes
      |  FROM documents),
      |per AS (
      |  SELECT modality, cast(count(*) as bigint) AS n_docs,
      |    cast(sum(n_bytes) as bigint) AS total_bytes,
      |    cast(max(n_bytes) as bigint) AS max_bytes
      |  FROM m GROUP BY 1),
      |tot AS (SELECT cast(sum(total_bytes) as bigint) AS t FROM per)
      |SELECT modality, n_docs, total_bytes,
      |  cast(total_bytes // n_docs as bigint) AS avg_bytes, max_bytes,
      |  cast(total_bytes * 1000000 // t as bigint) AS byte_share_ppm
      |FROM per, tot""".stripMargin


  // ------------------------------------------- perceptual near-dup

  /** Per-bucket representative cap for the phash chunk join — same
    * discipline (and same O(B·cap) argument) as SimHashBucketCap; a
    * re-encode-heavy media corpus puts whole duplicate clusters into
    * one chunk bucket. */
  private val PhashBucketCap = 64

  /** Typed row coming back across the signature-codec boundary. */
  case class MediaSig(doc_id: Long, sig: Long)

  /** 64-bit perceptual signature of a payload: a byte-TRIGRAM
    * histogram sign hash — count trigrams into 64 ihash buckets, bit
    * k = 1 iff bucket k holds more than its uniform share (count·64 >
    * total). Histogram features are TRANSLATION-invariant, which is
    * the property that makes this perceptual rather than exact: a
    * transcode/re-crop-style edit that inserts, deletes, or rewrites
    * a small run of bytes disturbs only the trigrams it touches, so
    * the bucket histogram (and its sign bits) barely move — measured
    * on this corpus's planted near-twins: 17/25 within hamming ≤ 3
    * while 3,000 random doc pairs never got closer than 5. (A
    * positional cell hash — the image-world aHash layout — was
    * measured first and rejected: byte-position cells shear under
    * insertion, pushing the SAME twins to hamming 15+.) A real pHash
    * swaps the trigram features for decoded DCT/spectral features;
    * the histogram→sign→hamming skeleton is unchanged.
    *
    * Pure Long arithmetic (trigram < 2^24, quadLong keeps h < 1e9+7,
    * counts·64 ≤ 64n < 2^63), so the DuckDB mirror reproduces every
    * bit. Payloads shorter than one trigram carry no signal and are
    * excluded by contract on both engines. */
  private[graft] def phashOf(payload: Array[Byte]): Long = {
    val n = payload.length
    val cnt = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i + 2 < n) {
      val v = ((payload(i) & 0xFF).toLong << 16) |
        ((payload(i + 1) & 0xFF).toLong << 8) |
        (payload(i + 2) & 0xFF).toLong
      cnt((graft.functions.ihash.quadLong(v) % 64).toInt) += 1
      tot += 1
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (cnt(k) * 64 > tot) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** (doc_id, sig) through the typed codec boundary — the same
    * mapPartitions shape as [[decodeWithCodec]] (a REAL pHash decodes
    * pixels here; only [[phashOf]]'s feature extraction swaps). NO
    * repartition: the signature is location-independent, so payload
    * bytes are consumed where the scan put them and only 16-byte
    * (id, sig) rows ever shuffle — the shard-manifest discipline. */
  private[graft] def phashSigsFromDocs(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    docs
      .filter(octet_length(encode(col("text"), "UTF-8")) >= 3)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => MediaSig(id, phashOf(p)) })
      .toDF()
  }

  /** Spec seam: signatures + the shared hamming pair engine over an
    * arbitrary (doc_id, text) frame. */
  private[graft] def phashPairsFromDocs(docs: DataFrame, cap: Int): DataFrame =
    DedupOps.hammingPairs(
      graft.Checkpoints.eager(phashSigsFromDocs(docs)), cap)

  /** The memoized signature relation — both sides of the chunk join
    * read it, and a pipeline lands signatures once per corpus. A
    * projection of [[mediaFeatsMemo]]: the phash pass and the
    * semantic pass share ONE payload decode sweep (short payloads
    * carry no trigram signal and are excluded by contract — the same
    * filter [[phashSigsFromDocs]] applies before the codec). */
  private[graft] def phashSigsMemo(s: SparkSession, d: String): DataFrame =
    mediaFeatsMemo(s, d).filter(col("sig_ok"))
      .select(col("doc_id"), col("sig"))

  /** Perceptual near-duplicate media pairs: payloads whose 64-bit
    * perceptual signatures ([[phashOf]]) lie within hamming ≤ 3,
    * found EXACTLY via the dedup family's 4-chunk pigeonhole blocking
    * + rep-capped bucket join ([[DedupOps.hammingPairs]] — shared
    * machinery, shared scale argument: O(B·cap) per bucket, never
    * O(B²)). This is the second dedup pass of every production media
    * pipeline — [[payloadDedup]]'s exact SHA-256 catches byte copies;
    * this catches the transcoded/re-encoded copies one byte of
    * container metadata hides from it. */
  def dedupPhash(s: SparkSession, d: String): DataFrame =
    DedupOps.hammingPairs(phashSigsMemo(s, d), PhashBucketCap)

  /** Bench/Verify fill hook: the shared decode sweep, the semantic
    * verdict built over it, and the phash cluster map. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "media_feats" -> (() => { mediaFeatsMemo(s, d); () }),
    "mm_semantic" -> (() => { mmSemantic(s, d); () }),
    "phash_clusters" -> (() => { phashClusters(s, d); () }))

  /** Perceptual media CLUSTERS — the keep/drop verdict over the
    * phash pair graph (connected components, smallest id kept):
    * `SELECT … WHERE is_kept` IS the transcode-pruned media corpus,
    * the exact API symmetry `dedup_clusters` gives text near-dups.
    * Pairs are the memoized [[dedupPhash]] relation; components
    * resolve through CorpusOps' shared machinery (driver union-find
    * under 1M edges, distributed pointer-doubling min-label above —
    * the same spec-proven path switch). */
  def phashClusters(s: SparkSession, d: String): DataFrame =
    // memoized (r13): mm_dedup_cascade composes this exact relation —
    // un-memoized, the whole cluster resolution ran twice per session
    // (measured ~24 s each at sf10)
    graft.Memo.cached(s, "phash_clusters", d) {
      CorpusOps.clustersFromPairs(
        Tables.documents(s, d).select("doc_id"),
        phashRepEdges(phashSigsMemo(s, d), PhashBucketCap))
    }

  /** Component-equivalent REP-COLLAPSED edge set over a (doc_id, sig)
    * relation (r13, the dedup_embedding recipe at the signature
    * level): docs with EQUAL 64-bit signatures share every chunk
    * bucket at hamming 0, so the hamming pair machinery runs over one
    * canonical rep (min doc_id) per distinct signature and each
    * member attaches to its rep by a direct twin edge. Connected
    * components equal the UNCAPPED member graph's whenever shared
    * buckets stay within the cap: twin edges are themselves
    * (hamming-0) pairs of the uncapped graph, and a rep pair exists
    * iff the corresponding member pairs exist (identical signatures →
    * identical buckets and distances). In the OVER-cap regime the
    * rep-space cap and a member-space cap drop DIFFERENT edges (the
    * hamming filter can reject rep-anchored candidates), so the
    * DuckDB mirror applies the IDENTICAL rep collapse (r14, ADVICE —
    * the pre-r14 mirror capped over the member space and could
    * diverge exactly when byte twins crowd a bucket past the cap);
    * MultimodalSpec proves label equality on a planted twin corpus
    * and pins the over-cap regime. At sf10 the 100× replication
    * collapses 500k
    * signature rows to the base corpus's distinct signatures and the
    * component resolution drops back to the driver union-find path. */
  private[graft] def phashRepEdges(sigs: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    val mem = graft.Checkpoints.eager(
      sigs.withColumn("rep_id", min(col("doc_id")).over(w)))
    val reps = mem.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("sig"))
    val repPairs = DedupOps.hammingPairs(reps, cap)
      .select(col("doc_a"), col("doc_b"))
    val twins = mem.filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
    repPairs.unionAll(twins)
  }

  /** chunks_all → signature-level rep collapse → hamming pairs over
    * reps + twin edges → recursive cc fixpoint — the cluster chain
    * BOTH the phash_clusters and mm_dedup_cascade mirrors compose
    * (r14, ADVICE): the exact mirror of [[phashRepEdges]]. The
    * hamming machinery (bucket cap included) runs over ONE min-doc_id
    * rep per distinct 4-chunk signature, and members attach to their
    * rep by twin edges. The pre-r14 mirrors capped over the FULL
    * member space, which diverges from the engine in over-cap buckets
    * (byte twins crowding a 16-bit chunk bucket past the cap could
    * drop a near-dup pair in one engine but not the other). */
  private def phashRepCcCtes: String =
    s"""${phashChunksCtes("chunks_all")},
       |sigv AS (
       |  SELECT doc_id,
       |    min(CASE WHEN ci = 0 THEN cv END) AS c0,
       |    min(CASE WHEN ci = 1 THEN cv END) AS c1,
       |    min(CASE WHEN ci = 2 THEN cv END) AS c2,
       |    min(CASE WHEN ci = 3 THEN cv END) AS c3
       |  FROM chunks_all GROUP BY doc_id),
       |sigrep AS MATERIALIZED (
       |  SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY c0, c1, c2, c3) AS rep_id
       |  FROM sigv),
       |chunks AS MATERIALIZED (
       |  SELECT c.doc_id, c.ci, c.cv FROM chunks_all c
       |  JOIN sigrep r ON c.doc_id = r.doc_id AND r.doc_id = r.rep_id),
       |${DedupOps.hammingPairsCtes(PhashBucketCap)},
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ham
       |  WHERE hamming <= ${DedupOps.HammingMax}
       |  UNION ALL
       |  SELECT rep_id AS doc_a, doc_id AS doc_b FROM sigrep
       |  WHERE doc_id <> rep_id),
       |${CorpusOps.ccFixpointCte}""".stripMargin

  private def phashClustersSql: String =
    s"""WITH RECURSIVE $phashRepCcCtes
       |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_kept
       |FROM cc""".stripMargin

  private val dedupPhashSql = {
    s"""WITH ${phashChunksCtes("chunks")},
       |${DedupOps.hammingPairsSql(PhashBucketCap)}""".stripMargin
  }

  /** The byte → trigram-bucket → sign-bit → chunk mirror chain
    * (meta..`as`), shared by the pair and cluster mirrors (the
    * cluster mirror names it `chunks_all` and derives the rep-space
    * `chunks` relation from it). */
  private def phashChunksCtes(as: String): String = {
    val q = graft.functions.ihash.quadSqlNested("t")
    s"""meta AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    cast(octet_length(encode(text)) as bigint) AS n
       |  FROM documents WHERE octet_length(encode(text)) >= 3),
       |-- payload bytes, one row per position, value rebuilt from the
       |-- hex dump (byte-honest: works for any payload, not just ASCII)
       |by AS (
       |  SELECT doc_id, p,
       |    (strpos('0123456789ABCDEF', substring(hx, cast(2*p+1 as int), 1)) - 1) * 16
       |      + (strpos('0123456789ABCDEF', substring(hx, cast(2*p+2 as int), 1)) - 1) AS v
       |  FROM (SELECT doc_id, hx, unnest(range(0, n)) AS p FROM meta)),
       |tri AS (
       |  SELECT doc_id,
       |    v * 65536 + lead(v, 1) OVER w * 256 + lead(v, 2) OVER w AS t
       |  FROM by WINDOW w AS (PARTITION BY doc_id ORDER BY p)
       |  QUALIFY lead(v, 2) OVER w IS NOT NULL),
       |bk AS (SELECT doc_id, ($q) % 64 AS cell FROM tri),
       |cnts AS MATERIALIZED (
       |  SELECT doc_id, cell, cast(count(*) as bigint) AS c
       |  FROM bk GROUP BY 1, 2),
       |tot AS (SELECT doc_id, cast(sum(c) as bigint) AS tc FROM cnts GROUP BY 1),
       |-- dense 64-bit rows per doc (an empty bucket is a 0 bit, so it
       |-- must exist — LEFT JOIN from the full (doc, k) grid)
       |bits AS (
       |  SELECT t.doc_id, k.k AS k,
       |    CASE WHEN coalesce(c.c, 0) * 64 > t.tc THEN 1 ELSE 0 END AS b
       |  FROM tot t CROSS JOIN (SELECT unnest(range(0, 64)) AS k) k
       |  LEFT JOIN cnts c ON c.doc_id = t.doc_id AND c.cell = k.k),
       |$as AS MATERIALIZED (
       |  SELECT doc_id, k // 16 AS ci, sum(b * (1 << (k % 16))) AS cv
       |  FROM bits GROUP BY 1, 2)""".stripMargin
  }

  // ------------------------------------ semantic near-dup (media)

  private val MmSemTables = 8
  private val MmSemBits = 12
  private val MmSemCap = 256
  /** Cosine τ = 0.8 as the exact rational 16/25: the verification
    * compares 25·dot² ≥ 16·norm2a·norm2b (dot > 0) in integer-valued
    * arithmetic — no float rounding can diverge between engines. */
  private val MmSemTauNum = 16L
  private val MmSemTauDen = 25L

  /** STUB media encoder, driver-side form: the content-level feature
    * a real CLIP-style encoder would emit, stood in by the signed
    * token-hash histogram of the DECODED payload (the text twin of
    * [[phashOf]]'s byte-level features — decode-then-embed instead of
    * hash-the-bytes). Pure function of the payload, bit-reproducible
    * by the SQL mirror; MultimodalSpec proves it equals the
    * expression-path embedding, so swapping a real encoder at the
    * mapPartitions boundary is the only change. */
  private[graft] def mediaVecOf(payload: Array[Byte]): Array[Long] = {
    val s = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    val vec = new Array[Long](TextOps.hashEmbedDim)
    val M = 1000000007L
    var i = 0
    var h = 0L
    var inTok = false
    def close(): Unit = if (inTok) {
      val dim = (h % TextOps.hashEmbedDim).toInt
      vec(dim) += (if (h % (2L * TextOps.hashEmbedDim) < TextOps.hashEmbedDim) 1L else -1L)
      inTok = false; h = 0L
    }
    while (i < s.length) {
      val c0 = s.charAt(i)
      if (c0 == ' ' || c0 == '\t' || c0 == '\n' || c0 == '\u000B' ||
          c0 == '\f' || c0 == '\r') close()
      else {
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
        h = (h * 31 + c) % M
        inTok = true
      }
      i += 1
    }
    close()
    vec
  }

  /** Expression-path twin of the codec-boundary embedding: the SAME
    * signed token-hash vector computed entirely in Catalyst
    * expressions (tokenize → rolling hash → signed counts → dense
    * grid) — the shape the DuckDB mirror's hashEmbed CTEs also
    * compute. Production reads [[mediaFeatsFromDocs]] (one decode
    * sweep); this twin exists so MultimodalSpec can prove the typed
    * encoder is value-neutral against an independent recompute, the
    * same boundary-equivalence discipline [[phashOf]] carries. */
  private[graft] def mediaVectorsFromDocs(docs: DataFrame): DataFrame =
    TextOps.hashEmbedDense(
        docs.select(col("doc_id"),
          decode(encode(col("text"), "UTF-8"), "UTF-8").as("text")))
      .select(col("doc_id"),
        transform(col("vec"), _.cast("double")).as("embedding"),
        col("norm2"))

  /** Expression-path twin of the decode-sweep BANDING (spec-only,
    * same discipline as [[mediaVectorsFromDocs]]): the shared
    * [[DedupOps.lshBuckets]] expression with the same table/bit
    * parameters, so the sweep's integer bucket loop is provable
    * against an independent Catalyst recompute. */
  private[graft] def mediaBandedExprFromDocs(docs: DataFrame): DataFrame =
    mediaVectorsFromDocs(docs).select(col("doc_id"),
      explode(DedupOps.lshBuckets(col("embedding"), MmSemTables, MmSemBits,
        TextOps.hashEmbedDim)).as("b"))
      .select(col("doc_id"), col("b.tbl").as("tbl"), col("b.bv").as("bv"))

  /** Every per-payload media feature in ONE decode pass: the
    * perceptual signature ([[phashOf]]), the stub content embedding
    * ([[mediaVecOf]]) with its exact integer norm², and the sign-LSH
    * bucket ids the semantic pass blocks on. At corpus scale the
    * payload decode dominates BOTH media dedup passes, so landing
    * all features in one mapPartitions sweep reads each payload once
    * instead of once per pass — and the 96-plane banding runs as a
    * tight integer loop over the decoded vector instead of 96 fold
    * expressions per row. The ±1 plane rows are
    * [[DedupOps.hyperplanes]] — the very literals the SQL mirror
    * embeds — and every dot is integer-valued (counts × ±1), so the
    * JVM loop, the expression fold, and the mirror agree
    * bit-for-bit; MultimodalSpec proves both boundary equalities
    * against independent recomputes. */
  case class MediaFeat(doc_id: Long, sig_ok: Boolean, sig: Long,
                       vec: Array[Long], norm2: Long, bvs: Array[Long],
                       sha: String)

  private[graft] def mediaFeatsFromDocs(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val signs: Array[Array[Long]] =
      DedupOps.hyperplanes(MmSemTables * MmSemBits, TextOps.hashEmbedDim)
        .map(_.map(v => if (v > 0) 1L else -1L))
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // one digest per partition, reset per payload (MessageDigest
        // is stateful, not thread-safe to share across partitions)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, p) =>
        md.reset()
        val sha = md.digest(p).map("%02x".format(_)).mkString
        val vec = mediaVecOf(p)
        var norm2 = 0L
        var i = 0
        while (i < vec.length) { norm2 += vec(i) * vec(i); i += 1 }
        val bvs = new Array[Long](MmSemTables)
        var t = 0
        while (t < MmSemTables) {
          var bv = 0L
          var k = 0
          while (k < MmSemBits) {
            val pl = signs(t * MmSemBits + k)
            var d = 0L
            var j = 0
            while (j < pl.length) { d += vec(j) * pl(j); j += 1 }
            if (d >= 0L) bv |= 1L << k
            k += 1
          }
          bvs(t) = bv
          t += 1
        }
        MediaFeat(id, p.length >= 3, if (p.length >= 3) phashOf(p) else 0L,
          vec, norm2, bvs, sha)
      } }
      .toDF()
  }

  /** The memoized one-sweep feature relation — [[dedupPhash]] and
    * [[mmSemantic]] are projections of it, so a pipeline decodes the
    * media corpus exactly once however many dedup passes run. */
  private[graft] def mediaFeatsMemo(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "media_feats", d)(
      mediaFeatsFromDocs(DedupOps.docsParallel(s, d)))

  /** Media SEMANTIC near-dup over an arbitrary (doc_id, text-payload)
    * frame — the dedup_semantic verdict machinery over stub media
    * embeddings. See [[mmSemantic]]. */
  private[graft] def mmSemanticFromDocs(docs: DataFrame): DataFrame =
    mmSemanticFromFeats(graft.Checkpoints.eager(mediaFeatsFromDocs(docs)))

  /** The verdict over a materialized [[mediaFeatsFromDocs]] relation
    * (banding already landed in the decode sweep — only (id, bucket)
    * rows and the bounded pair stream move from here on).
    *
    * ==Rep-collapse (round 12)==
    * Byte-identical payloads (same SHA-256) have identical embedding,
    * norm², LSH buckets — and identical dots against ANY third vector
    * — so they are fully interchangeable in the verification. The
    * candidate stream therefore runs over ONE canonical representative
    * (min doc_id) per payload group; members inherit the rep's
    * verdict, and a member beyond the rep is itself a dup of the rep
    * (cosine exactly 1 when norm² > 0; a zero vector can never
    * verify — dot > 0 is unsatisfiable — so zero-norm members stay
    * kept, exactly as the un-collapsed stream kept them). At sf10 the
    * GenScale replication collapses 500k media docs to 4,992 distinct
    * payloads: within-bucket pair enumeration is quadratic in family
    * size, and rep space bounds it by DISTINCT-payload families —
    * the un-collapsed stream was 798.7M bucket-local pairs / 779 s,
    * 98% of the whole sf10 fill (docs/PROFILE_MM_sf10_r11.txt). */
  private def mmSemanticFromFeats(feats: DataFrame): DataFrame = {
    // sha → canonical rep (map-side partial min folds the replicas)
    val grp = feats.groupBy(col("sha")).agg(min(col("doc_id")).as("rep_id"))
    val repFeats = graft.Checkpoints.eager(
      feats.join(grp.select(col("rep_id").as("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_semi"))
    val banded = repFeats.select(col("doc_id"),
      posexplode(col("bvs")).as(Seq("tbl", "bv")))
    val cand = DedupOps.bucketCandidates(banded, Seq("tbl", "bv"), "doc_id",
      MmSemCap)
    // ids-only pair stream; vectors re-attach through the family's
    // size-adaptive strategy (broadcast under the budget, ids-keyed
    // shuffle_hash above it). Attaching the 64-int vectors to the
    // raw pair stream instead shuffled ~1 KB × hundreds of millions
    // of LSH pairs at sf10 — the spill shape embAttacher exists to
    // prevent. The attached value is the (vec, norm²) struct straight
    // off the decode sweep: norm² rides the join instead of being
    // re-derived as a per-pair self-dot, and the one remaining dot is
    // the native fused integer expression — exact, whole-stage-
    // codegen'd, no per-pair array allocation (the builtin fold trio
    // here was the verdict's dominant term at 2.2M pairs / sf0.1).
    val attach = DedupOps.embAttacher(
      repFeats.select(col("doc_id").as("vec_id"),
        struct(col("vec"), col("norm2")).as("embedding")))
    val repDup = cand
      .join(attach("cand_a", "ea"), "cand_a")
      .join(attach("cand_b", "eb"), "cand_b")
      .withColumn("dot",
        graft.functions.vector.dotLong(col("ea.vec"), col("eb.vec")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(MmSemTauDen) >=
          col("ea.norm2") * col("eb.norm2") * lit(MmSemTauNum))
      .groupBy(col("cand_b").as("rep_id"))
      .agg(min(col("cand_a")).as("rep_dup"))
    // expand the rep verdict to every payload-group member, min-id
    // attribution: the rep's own dup (strictly below the rep) beats
    // the rep itself as the kept doc a member defers to
    feats.select(col("doc_id"), col("sha"), col("norm2"))
      .join(grp, "sha")
      .join(repDup, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("norm2") === 0L, lit(-1L))
          .when(col("doc_id") === col("rep_id"),
            coalesce(col("rep_dup"), lit(-1L)))
          .otherwise(coalesce(col("rep_dup"), col("rep_id"))).as("dup_of"))
      .withColumn("kept", col("dup_of") === -1L)
  }

  /** Media semantic near-dup + keep/drop verdict — the pass AFTER
    * [[dedupPhash]]: the perceptual hash catches byte-level
    * transcodes (hamming ≤ 3 on the trigram-histogram signature),
    * but an AGGRESSIVE re-encode that rewrites most bytes (case
    * remap, whitespace renormalization, re-compression) shears the
    * byte features entirely while leaving the decoded CONTENT
    * intact. This pass bridges the codec boundary to the embedding
    * family: decode the payload (stubbed — a real CLIP/audio encoder
    * swaps in at the same boundary, see [[mediaVecOf]]), embed, then
    * the `dedup_semantic` verdict machinery verbatim — sign-LSH cell
    * blocking (the deterministic Rademacher hyperplanes both engines
    * reproduce), per-cell rep cap via the size-gated candidate
    * discipline, exact verification (cosine ≥ 0.8 in rational
    * integer form), min-id keeper per dup group.
    *
    * Scale shape: payload bytes are consumed in the scan (decode is
    * a narrow map); only 64-int vectors and (id, bucket) rows ever
    * shuffle; candidates are rep-capped per (table, bucket) so a
    * transcode family of B copies costs O(B·cap), never O(B²); the
    * verification attaches vectors to the bounded pair stream, not
    * the corpus. MultimodalSpec plants a re-encode that
    * [[dedupPhash]] provably misses (hamming > 3) and this pass
    * catches (cosine 1.0). */
  def mmSemantic(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "mm_semantic", d)(
      mmSemanticFromFeats(mediaFeatsMemo(s, d)))

  /** Mirror: the shared hashEmbed vector CTEs over the sha-collapsed
    * REPRESENTATIVE docs, the SAME ±1 plane literals as the Spark
    * plan (both read `DedupOps.hyperplanes`), rep-cap QUALIFY,
    * rational-exact cosine verification, min-id keeper, then the
    * group expansion — the Spark plan's rep-collapse restructured
    * identically so the hash gate proves it. */

  /** The payload-group CTEs: every doc's canonical representative
    * (min doc_id of its byte-identical SHA-256 group) and the
    * representative docs themselves — the relation the vector CTEs
    * run over (so the mirror, like the engine, pays the per-token
    * vector work once per DISTINCT payload). */
  private[operators] def mmSemGroupCtes: String =
    s"""gmem AS MATERIALIZED (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text))
       |    AS rep_id
       |  FROM documents),
       |repdocs AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN gmem g ON g.doc_id = d.doc_id AND g.rep_id = d.doc_id)""".stripMargin

  /** The semantic verdict CTEs alone, names PREFIXED `$p` so the
    * chain composes next to the phash/hamming CTEs in one WITH
    * (mm_dedup_cascade — the semanticDupCte precedent). Assumes
    * [[mmSemGroupCtes]]'s `gmem` and the rep-space `vecs` in scope;
    * ends at ${p}sem(doc_id, dup_of) — the verdict already expanded
    * to every payload-group member. */
  private[operators] def mmSemanticCtes(p: String): String = {
    // UNROLLED flat bigint sum — value-identical to the double fold
    // it replaces (integer-valued operands, same rational compare)
    // and to Spark's DotLongExpr, but vectorized instead of a
    // per-pair list-lambda fold (the sf1 oracle's other wall: tens
    // of millions of candidate pairs)
    def dot(a: String, b: String) =
      (1 to TextOps.hashEmbedDim).map(i => s"$a.vec[$i]*$b.vec[$i]")
        .mkString("(", " + ", ")")
    s"""${p}memb AS MATERIALIZED (
       |  SELECT doc_id AS vec_id,
       |    list_transform(vec, x -> cast(x as double)) AS embedding, vec,
       |    list_reduce(list_prepend(cast(0 as bigint), vec),
       |      (acc, x) -> acc + x * x) AS norm2
       |  FROM vecs),
       |${p}banded AS MATERIALIZED (
       |  ${DedupOps.bandedSql(s"${p}memb", "vec_id", MmSemTables, MmSemBits)}),
       |${p}reps AS (
       |  SELECT tbl, bv, vec_id FROM ${p}banded
       |  QUALIFY row_number() OVER (PARTITION BY tbl, bv
       |    ORDER BY vec_id) <= $MmSemCap),
       |${p}cand AS MATERIALIZED (
       |  SELECT DISTINCT r.vec_id AS a, b.vec_id AS b
       |  FROM ${p}reps r JOIN ${p}banded b USING (tbl, bv)
       |  WHERE r.vec_id < b.vec_id),
       |${p}scored AS (
       |  SELECT c.b AS doc_id, c.a AS a, ${dot("ea", "eb")} AS dp,
       |    ea.norm2 AS n2a, eb.norm2 AS n2b
       |  FROM ${p}cand c
       |  JOIN ${p}memb ea ON c.a = ea.vec_id
       |  JOIN ${p}memb eb ON c.b = eb.vec_id),
       |${p}ver AS MATERIALIZED (
       |  SELECT doc_id, min(a) AS dup_raw FROM ${p}scored
       |  WHERE dp > 0 AND dp * dp * $MmSemTauDen >= $MmSemTauNum * n2a * n2b
       |  GROUP BY 1),
       |${p}sem AS MATERIALIZED (
       |  SELECT g.doc_id,
       |    cast(CASE WHEN e.norm2 = 0 THEN -1
       |         WHEN g.doc_id = g.rep_id THEN coalesce(v.dup_raw, -1)
       |         ELSE coalesce(v.dup_raw, g.rep_id) END as bigint) AS dup_of
       |  FROM gmem g
       |  JOIN ${p}memb e ON e.vec_id = g.rep_id
       |  LEFT JOIN ${p}ver v ON v.doc_id = g.rep_id)""".stripMargin
  }

  private def mmSemanticSql: String =
    s"""WITH $mmSemGroupCtes,
       |${TextOps.hashEmbedVecCtesFor("repdocs")},
       |${mmSemanticCtes("m")}
       |SELECT doc_id, dup_of, dup_of = -1 AS kept
       |FROM msem""".stripMargin

  /** Media dedup CASCADE with first-hit attribution — the media twin
    * of `dedup_cascade`: per payload, the CHEAPEST stage that
    * catches it (exact SHA-256 byte dup → perceptual phash cluster →
    * semantic embedding dup → unique) and the kept doc it defers to.
    * The stage-yield table that prices each pass: what does the
    * perceptual layer add over exact hashing, and the semantic layer
    * over both. All three verdicts are the already-registered
    * relations (payload SHA agg, memoized phash clusters, memoized
    * semantic verdict) — the cascade is three doc_id joins, zero new
    * passes over payload bytes. */
  def mmCascade(s: SparkSession, d: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    val sha = Tables.documents(s, d)
      .select(col("doc_id"), sha2(payload, 256).as("h"))
    val exact = sha
      .join(sha.groupBy("h").agg(min(col("doc_id")).as("exact_keep")), "h")
      .filter(col("doc_id") > col("exact_keep"))
      .select("doc_id", "exact_keep")
    val perc = phashClusters(s, d)
      .filter(col("cluster_id") < col("doc_id"))
      .select(col("doc_id"), col("cluster_id").as("phash_keep"))
    val sem = mmSemantic(s, d).filter(!col("kept"))
      .select(col("doc_id"), col("dup_of").as("sem_keep"))
    Tables.documents(s, d).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(perc, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_keep").isNotNull, "exact")
          .when(col("phash_keep").isNotNull, "perceptual")
          .when(col("sem_keep").isNotNull, "semantic")
          .otherwise("unique").as("stage"),
        coalesce(col("exact_keep"), col("phash_keep"), col("sem_keep"),
          lit(-1L)).as("keep_id"))
  }

  /** Mirror: the phash chunk chain + hamming CTEs + recursive cc
    * fixpoint (shared builders), the m-prefixed semantic chain, and
    * the SHA exact layer — one WITH, the dedup_cascade composition
    * precedent. */
  private def mmCascadeSql: String =
    s"""WITH RECURSIVE $phashRepCcCtes,
       |$mmSemGroupCtes,
       |${TextOps.hashEmbedVecCtesFor("repdocs")},
       |${mmSemanticCtes("m")},
       |shad AS (SELECT doc_id, sha256(text) AS h FROM documents),
       |shakeep AS (SELECT h, min(doc_id) AS exact_keep FROM shad GROUP BY 1),
       |ex AS (
       |  SELECT s.doc_id, k.exact_keep FROM shad s JOIN shakeep k USING (h)
       |  WHERE s.doc_id > k.exact_keep)
       |SELECT d.doc_id,
       |  CASE WHEN ex.exact_keep IS NOT NULL THEN 'exact'
       |       WHEN cc.cluster_id < d.doc_id THEN 'perceptual'
       |       WHEN sv.dup_of <> -1 THEN 'semantic'
       |       ELSE 'unique' END AS stage,
       |  coalesce(ex.exact_keep,
       |    CASE WHEN cc.cluster_id < d.doc_id THEN cc.cluster_id END,
       |    nullif(sv.dup_of, -1), -1) AS keep_id
       |FROM documents d
       |LEFT JOIN ex ON ex.doc_id = d.doc_id
       |JOIN cc ON cc.doc_id = d.doc_id
       |JOIN msem sv ON sv.doc_id = d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_dedup_semantic" -> (mmSemantic _),
    "mm_dedup_cascade" -> (mmCascade _),
    "mm_dedup_phash" -> (dedupPhash _),
    "mm_phash_clusters" -> (phashClusters _),
    "mm_audio_chunks" -> (audioChunks _),
    "mm_binary_meta" -> (binaryMeta _),
    "mm_frame_sample" -> (frameSample _),
    "mm_dedup_payload" -> (payloadDedup _),
    "mm_shard_manifest" -> (shardManifest _),
    "mm_resize_plan" -> (resizePlan _),
    "mm_caption_pairs" -> (captionPairs _),
    "mm_modality_stats" -> (modalityStats _))

  val oracle: Map[String, String] = Map(
    "mm_dedup_semantic" -> mmSemanticSql,
    "mm_dedup_cascade" -> mmCascadeSql,
    "mm_dedup_phash" -> dedupPhashSql,
    "mm_phash_clusters" -> phashClustersSql,
    "mm_audio_chunks" -> audioChunksSql,
    "mm_binary_meta" -> binaryMetaSql,
    "mm_frame_sample" -> frameSampleSql,
    "mm_dedup_payload" -> payloadDedupSql,
    "mm_shard_manifest" -> shardManifestSql,
    "mm_resize_plan" -> resizePlanSql,
    "mm_caption_pairs" -> captionPairsSql,
    "mm_modality_stats" -> modalityStatsSql)
}
