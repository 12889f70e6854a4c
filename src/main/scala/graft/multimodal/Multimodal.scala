package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2-H): treat media as opaque
  * `binary` columns with a typed metadata struct, and run batched
  * per-partition feature extraction.
  *
  * The decode step ([[MediaCodec]]) parses REAL public container formats
  * (JPEG marker walk, PNG IHDR, BMP BITMAPINFOHEADER, RIFF/WAVE chunks,
  * GIF logical screen descriptor, WebP VP8/VP8L/VP8X, MP4/ISO-BMFF
  * mvhd/tkhd box walk) in pure JVM code —
  * no external codec libraries, which also means the compressed pixel
  * payload itself stays opaque; dimensions/channels/sample-rate/duration
  * are what a curation pipeline filters on. Extraction runs as
  * partition-batched `mapPartitions` — embarrassingly parallel, batch
  * size controlled by `spark.sql.files.maxPartitionBytes` at read time,
  * so the same code shape scales to 100 TB of media shards. */
object Multimodal {

  /** Ingest documents as (binary payload, typed metadata). The `text`
    * column stands in for raw media bytes. */
  def ingest(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("source"),
      col("text").cast("binary").as("blob"),
      struct(
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lit("text/plain").as("format"),
        col("lang").as("lang_hint")).as("meta"))

  /** Per-source byte rollup over the ingested binary column. */
  def byteStats(ingested: DataFrame): DataFrame =
    ingested.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        max(col("meta.n_bytes")).as("max_bytes"))

  /** Deterministic demo media: REAL container bytes (MediaCodec
    * encoders) synthesized from doc fields — doc_id picks the modality
    * and the planted dimensions, so the decode path is exercised against
    * true JPEG/PNG/BMP/WAV/GIF/WebP/MP4 headers with no external
    * fixtures (the WebP rows alternate the VP8L alpha bit, so both the
    * 3- and 4-channel decode branches run; the MP4 rows alternate the
    * movie timescale, so duration_ms exercises both rates). */
  def synthesize(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread the encode+decode chain (measured 10.6 s cpu over 4 tasks
    // at sf0.1 — the whole mm family's dominant stage; pure per-row
    // doc_id arithmetic, Par no-ops at real scale)
    graft.operators.Par
      .spreadBy(docs.select(col("doc_id"), col("source")),
        graft.operators.Par.slots(docs), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, src) =>
          val blob = (id % 7) match {
            case 0 => MediaCodec.encodeBmp(
              16 + (id % 32).toInt, 8 + (id % 16).toInt)
            case 1 => MediaCodec.encodePng(
              32 + (id % 64).toInt, 16 + (id % 32).toInt)
            case 2 => MediaCodec.encodeJpeg(
              64 + (id % 128).toInt, 48 + (id % 64).toInt,
              if (id % 8 == 2) 1 else 3)
            case 3 => MediaCodec.encodeWav(
              1 + (id % 2).toInt,
              if (id % 4 == 3) 16000 else 8000,
              400 + (id % 100).toInt * 40)
            // every third GIF is ANIMATED (frames/delay pure doc_id
            // arithmetic → duration_ms = frames·delay·10, an exact
            // integer in ms, so every oracle that sees duration — the
            // features rollup and the near-dup duration band —
            // reproduces it exactly)
            case 4 if id % 3 == 2 => MediaCodec.encodeGifAnim(
              20 + (id % 40).toInt, 10 + (id % 20).toInt,
              2 + (id % 4).toInt, 5 + (id % 6).toInt)
            case 4 => MediaCodec.encodeGif(
              20 + (id % 40).toInt, 10 + (id % 20).toInt)
            // animated WebP on a residue disjoint from the alpha plant
            // (id%12==11): duration_ms = frames·frameMs exactly
            case 5 if id % 12 == 7 => MediaCodec.encodeWebpAnim(
              24 + (id % 48).toInt, 12 + (id % 24).toInt,
              2 + (id % 5).toInt, 40 + (id % 8).toInt * 10)
            case 5 => MediaCodec.encodeWebp(
              24 + (id % 48).toInt, 12 + (id % 24).toInt,
              alpha = id % 12 == 11)
            // timescales divide ticks*1000 exactly (duration_ms = 40+8k
            // or 100+20k — EXACT doubles, the wav discipline: avg
            // summation order can't drift a rounded aggregate)
            case _ => MediaCodec.encodeMp4(
              48 + (id % 96).toInt, 32 + (id % 64).toInt,
              1000 + (id % 50).toInt * 200,
              if (id % 10 == 6) 25000 else 10000)
          }
          (id, src, blob)
        }
      }.toDF("doc_id", "source", "blob")
  }

  /** [[synthesize]] plus planted TRANSCODES: every fifth image asset's
    * canvas re-encoded in a different container (BMP→WebP, PNG→WebP
    * with alpha so channels still match, 3-channel JPEG→BMP, and the
    * video rung: MP4 canvas → BMP poster frame) under doc_id + 10⁹ —
    * ground truth [[transcodeCandidates]] must surface. Still a pure
    * function of doc_id, so the oracle reproduces the planted set
    * arithmetically (the mm_dedup trick). The planting guarantees a
    * known candidate mass: [[synthesize]] derives width AND height from
    * the SAME doc_id, so cross-format collisions between unplanted
    * originals are rare coupled-residue coincidences — whatever few
    * exist, the oracle reproduces them from the same arithmetic. */
  def synthesizeWithTranscodes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val extra = docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, src) =>
          if (id % 5 != 0) Iterator.empty
          else (id % 7) match {
            case 0 => Iterator((id + 1000000000L, src, MediaCodec.encodeWebp(
              16 + (id % 32).toInt, 8 + (id % 16).toInt)))
            case 1 => Iterator((id + 1000000000L, src, MediaCodec.encodeWebp(
              32 + (id % 64).toInt, 16 + (id % 32).toInt, alpha = true)))
            case 2 if id % 8 != 2 =>
              Iterator((id + 1000000000L, src, MediaCodec.encodeBmp(
                64 + (id % 128).toInt, 48 + (id % 64).toInt)))
            case 6 => Iterator((id + 1000000000L, src, MediaCodec.encodeBmp(
              48 + (id % 96).toInt, 32 + (id % 64).toInt)))
            case _ => Iterator.empty
          }
        }
      }.toDF("doc_id", "source", "blob")
    synthesize(docs).unionByName(extra)
  }

  /** `n_frames` counts only frames the container ENUMERATES (GIF image
    * descriptors, WebP ANMF entries) — simple single-image chunks and
    * audio report 0, keeping the field uniform across formats. */
  final case class MediaFeature(doc_id: Long, source: String,
      format: String, width: Int, height: Int, channels: Int,
      sample_rate: Int, duration_ms: Double, n_bytes: Long,
      n_frames: Int)

  /** Batched per-partition feature extraction: sniff + header-parse each
    * blob (MediaCodec.decode); undecodable blobs surface as format
    * `unknown` rather than failing the job — at corpus scale corrupt
    * members are data, not errors. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "source", "blob")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, src, blob) =>
          val m = MediaCodec.decode(blob)
          MediaFeature(id, src, m.format, m.width, m.height, m.channels,
            m.sampleRate, m.durationMs,
            if (blob == null) 0L else blob.length.toLong, m.nFrames)
        }
      }
  }

  /** Exact media dedup — the first pass of any crawl pipeline: group by
    * content digest of the raw bytes, keep the lowest doc_id. Same
    * one-shuffle map-side-combinable plan as text [[graft.dedup.Dedup
    * .exact]], applied to the binary column; at 100 TB the digest is
    * computed next to the scan and only (digest, id) pairs shuffle.
    * Oracle-checkable WITHOUT the oracle seeing any bytes: synthesized
    * blobs are a pure function of the doc_id parameter tuple, so DuckDB
    * reproduces the group structure from doc_id arithmetic alone —
    * which independently cross-checks that the encoders are injective
    * in their parameters (byte-identical ⟺ same params). */
  def exactDedup(media: DataFrame): DataFrame =
    media.groupBy(md5(col("blob")).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  /** (doc_id, tbl, bucket) header-feature bucket memberships for
    * [[nearDedup]] / [[nearDedupAudit]]. Two OR-combined band tables (the
    * multi-table recall posture of the text LSH paths): table 0 buckets on
    * floor(dim/8) bands, table 1 on floor((dim+4)/8) — offset by half a
    * band — so a re-encode whose dimensions drift across a table-0 band
    * boundary (width 103 vs 105 straddling 104) still collides in
    * table 1. A pair can match in both tables; callers dedup pairs.
    * Undecodable blobs carry no header evidence — they can't bucket. */
  /** Per-doc band keys as ONE array column — the stateless per-row form
    * the streaming checker applies to arriving media unchanged (one
    * definition of the band arithmetic for batch and stream). */
  private[graft] def bucketKeyArray(media: DataFrame): DataFrame = {
    def key(wOff: Int, hOff: Int, dOff: Double) =
      concat_ws(":", col("format"),
        floor((col("width") + lit(wOff)) / lit(8)),
        floor((col("height") + lit(hOff)) / lit(8)),
        col("channels"), col("sample_rate"),
        floor((col("duration_ms") + lit(dOff)) / lit(500.0)))
    extractFeatures(media).toDF()
      .filter(col("format") =!= "unknown")
      .select(col("doc_id"), array(
        struct(lit(0).as("tbl"), key(0, 0, 0.0).as("bucket")),
        struct(lit(1).as("tbl"), key(4, 4, 250.0).as("bucket"))).as("keys"))
  }

  private def bucketKeys(media: DataFrame): DataFrame =
    bucketKeyArray(media)
      .select(col("doc_id"), explode(col("keys")).as("m"))
      .select(col("doc_id"), col("m.tbl").as("tbl"),
        col("m.bucket").as("bucket"))

  /** The occupancy-capped bucket membership table — the candidate-side
    * artifact of [[nearDedupCandidates]], exposed so a frozen corpus
    * index can be persisted for the streaming checker ([[
    * writeMediaBucketIndex]]); the cap is applied at freeze time, the
    * batch semantics. */
  private[graft] def cappedBucketKeys(media: DataFrame,
      maxOccupancy: Long): DataFrame = {
    val keyed = bucketKeys(media).localCheckpoint(true)
    val small = keyed.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOccupancy)
      .select("tbl", "bucket")
    keyed.join(small, Seq("tbl", "bucket"), "left_semi")
  }

  /** Persist the corpus's capped bucket membership as the frozen
    * near-dup index an ingest stream checks against (the
    * writeAnchorIndex posture for media). */
  def writeMediaBucketIndex(media: DataFrame, tableName: String,
      path: String, maxOccupancy: Long = 512L): Unit =
    // one generation behind the artifact pointer (Staged.commit): the
    // live index serves while the new generation builds
    graft.sources.Staged.commit(media.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        cappedBucketKeys(media, maxOccupancy)
          .write
          .option("path", p)
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })

  /** Stream-static candidate probe against the PERSISTED bucket index
    * — the batch scorer [[graft.streaming.Streaming.runMediaNearDupProbe]]
    * replays per micro-batch (the anchorProbe posture): one
    * header-decode + band-key pass over the probe batch, one
    * (tbl, bucket) equijoin against the frozen capped index, one pair
    * re-agg. A blob's two keys live in its own row, so the per-batch
    * tally is exact and emitted (doc_id, corpus_doc, n_tables) rows
    * equal [[graft.streaming.Streaming.mediaNearDupStream]]'s — with
    * NO driver-resident index, which is what makes a full-crawl
    * 100 TB index servable (the dedup_incremental swap the closure
    * variant's scale-honesty note promises). */
  def mediaBucketProbe(spark: org.apache.spark.sql.SparkSession,
      tableName: String, media: DataFrame): DataFrame =
    bucketKeys(media)
      .join(graft.sources.Staged.table(spark, tableName)
        .select(col("tbl"), col("bucket"), col("doc_id").as("corpus_doc")),
        Seq("tbl", "bucket"))
      .filter(col("corpus_doc") =!= col("doc_id"))
      .groupBy(col("doc_id"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_tables"))

  /** Near-dup media dedup — the second media pass of a crawl pipeline
    * (exact [[exactDedup]] catches byte-identical copies; this catches
    * the same asset re-encoded, slightly resized, or with metadata
    * stripped/rewritten). The binary dual of the banded text paths:
    *
    *  1. '''Candidates''' come from decoded-header feature buckets —
    *     (format, width band, height band, channels, sample_rate,
    *     duration band) — in TWO offset band tables ([[bucketKeys]]), so
    *     dimension drift within ±4 px (±250 ms) always collides in at
    *     least one table; the join is a bucket equijoin, never all-pairs,
    *     and pairs matching in both tables are deduped before verify.
    *  2. '''Occupancy cap''' (the minHashPairs/LshBuckets posture): a
    *     (tbl, bucket) group over `maxOccupancy` — a template image
    *     stamped across a crawl — is excluded from candidate generation
    *     rather than allowed a quadratic self-join (byte-identical masses
    *     are [[exactDedup]]'s job). Drops are never silent:
    *     [[nearDedupAudit]] is the registered accounting row.
    *  3. '''Verify''' with byte-level n-gram Jaccard over the hex view of
    *     the raw bytes (the CharNGramHashes kernel: n hex chars ≈ n/2
    *     bytes per gram), thresholded on the ROUNDED score — computed
    *     ONLY for docs that appear in a candidate pair (semi-join first):
    *     at real media sizes the hex+gram pass is the expensive step, and
    *     candidates ≪ corpus in any non-degenerate crawl. `sampleMod`
    *     subsamples gram hashes for multi-MB real media; the synthesized
    *     demo blobs are header-sized, so the default keeps every gram.
    *
    * Rows-only (header decode isn't ANSI-expressible); MediaCodecSpec
    * plants re-encodes, a band-boundary resize, and an over-cap clone
    * mass. */
  /** [[nearDedup]]'s CANDIDATE stage as a first-class operator — the
    * occupancy-capped double-band bucket pairs BEFORE byte verification,
    * with the band-table multiplicity each pair collided in (n_tables ∈
    * {1, 2}: 2 = stable dims, 1 = drift across one table's band
    * boundary — the recall the offset table exists to provide, now
    * observable per pair). Split out because it is oracle-EXACT where
    * the verify stage can't be: every band-key component is pure doc_id
    * arithmetic on the synthesized corpus (the mm_dedup_near_audit
    * argument, extended from the corpus rollup to the pair list itself),
    * so DuckDB reproduces the exact candidate set — which puts the
    * entire candidate-generation machinery (band keys, offset tables,
    * occupancy cap, pair dedup) under the hash gate and leaves only the
    * n-gram verify rows-only. */
  def nearDedupCandidates(media: DataFrame,
      maxOccupancy: Long = 512L): DataFrame = {
    require(maxOccupancy >= 1, s"bad maxOccupancy=$maxOccupancy")
    val capped = cappedBucketKeys(media, maxOccupancy)
    // one bucket per (doc, tbl) ⇒ a pair collides at most once per
    // table, so the dedup groupBy's count IS the table multiplicity
    capped.as("a").join(capped.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_tables"))
  }

  def nearDedup(media: DataFrame, n: Int = 8, tau: Double = 0.5,
      maxOccupancy: Long = 512L, sampleMod: Int = 1): DataFrame = {
    import graft.functions.CharNGramHashes
    require(n >= 1 && sampleMod >= 1 && maxOccupancy >= 1,
      s"bad params n=$n sampleMod=$sampleMod maxOccupancy=$maxOccupancy")
    // feeds the candidate-id prune + the verify join — slim pair list,
    // checkpoint instead of re-running the self-join per consumer
    val cand = nearDedupCandidates(media, maxOccupancy)
      .select("doc1", "doc2")
      .localCheckpoint(true)
    val candIds = cand.select(col("doc1").as("doc_id"))
      .union(cand.select(col("doc2").as("doc_id")))
      .distinct()
    val grams = media
      // the expensive pass runs on the candidate slice only, never the
      // full corpus — over-cap masses and undecodable blobs are never
      // hexed at all
      .join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("gs",
        array_distinct(CharNGramHashes(hex(col("blob")), n)))
      .select(col("doc_id"),
        expr(s"filter(gs, h -> h % $sampleMod = 0)").as("gs"))
      // feeds both verify join-backs
      .localCheckpoint(true)
    cand
      .join(grams.select(col("doc_id").as("doc1"), col("gs").as("s1")), "doc1")
      .join(grams.select(col("doc_id").as("doc2"), col("gs").as("s2")), "doc2")
      .withColumn("n_common", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jaccard", round(col("n_common") /
        (size(col("s1")) + size(col("s2")) - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("doc1", "doc2", "n_common", "jaccard")
  }

  /** Drop accounting for [[nearDedup]]'s bucket-occupancy cap (the
    * minhash_band_audit / lsh_bucket_audit discipline): one row of
    * corpus-level bucket statistics — total bucket memberships across
    * both band tables, distinct (tbl, bucket) groups, memberships dropped
    * by the occupancy cap, and the realized max occupancy. A pipeline
    * alerts when `n_dropped_over_cap` jumps (a template asset flooding a
    * crawl) instead of wondering why near-dups slipped through.
    * Oracle-checked (r12): every band-key component is pure doc_id
    * arithmetic on the synthesized corpus, so DuckDB reproduces the
    * bucket structure — and with it this rollup — exactly. */
  def nearDedupAudit(media: DataFrame, maxOccupancy: Long = 512L): DataFrame = {
    require(maxOccupancy >= 1, s"bad maxOccupancy=$maxOccupancy")
    val occ = bucketKeys(media).groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
    occ.agg(
      sum(col("occ")).as("n_bucket_memberships"),
      count(lit(1)).as("n_buckets"),
      sum(when(col("occ") > maxOccupancy, col("occ")).otherwise(0L))
        .as("n_dropped_over_cap"),
      max(col("occ")).as("max_occupancy"))
  }

  /** Cross-format transcode CANDIDATES — the rung above [[nearDedup]] a
    * crawl pipeline needs for a true transcode (JPEG→WebP of the same
    * image): the byte streams of different codecs are unrelated, so byte
    * n-grams can never verify across containers, and WITHOUT pixel
    * decode (out of scope by design — the payload stays opaque) the
    * strongest header evidence two containers can share is exact
    * (width, height, channels). This operator emits the bounded
    * candidate set a real pipeline would feed to a downstream
    * pixel-level verifier: pairs of DIFFERENT-format decodable images
    * with identical dims+channels, from one bucket equijoin on the
    * (width, height, channels) key with the standard occupancy cap
    * (a common canvas size across a crawl — 1920×1080×3 — is excluded
    * rather than self-joined quadratically; drops surface in the
    * bucket's absence, same fence discipline as every candidate join in
    * the repo). Audio is excluded (no canvas). Fully oracle-checkable:
    * synthesized blobs derive dims/channels from the doc_id parameter
    * tuple, so DuckDB reproduces the candidate set from doc_id
    * arithmetic without seeing bytes (the mm_dedup trick). */
  def transcodeCandidates(media: DataFrame,
      maxOccupancy: Long = 512L): DataFrame = {
    require(maxOccupancy >= 1, s"bad maxOccupancy=$maxOccupancy")
    val keyed = extractFeatures(media).toDF()
      .filter(col("format") =!= "unknown" && col("width") > 0)
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("channels"))
      // feeds the occupancy agg + the probe + both join sides
      .localCheckpoint(true)
    val small = keyed.groupBy(col("width"), col("height"), col("channels"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOccupancy)
      .select("width", "height", "channels")
    val capped = keyed.join(small,
      Seq("width", "height", "channels"), "left_semi")
    capped.as("a").join(capped.as("b"),
        col("a.width") === col("b.width") &&
          col("a.height") === col("b.height") &&
          col("a.channels") === col("b.channels") &&
          col("a.format") =!= col("b.format") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.format").as("format1"), col("b.format").as("format2"),
        col("a.width").as("width"), col("a.height").as("height"),
        col("a.channels").as("channels"))
  }

  /** Per-format rollup over already-extracted features — ONE definition
    * shared by the batch path ([[featureStats]]) and the streaming dual
    * ([[graft.streaming.Streaming.mediaFeaturesStream]]), so the
    * stream==batch convergence spec pins the same aggregation. */
  def featureRollup(features: DataFrame): DataFrame =
    features
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("width")), 2).as("avg_width"),
        round(avg(col("height")), 2).as("avg_height"),
        max(col("channels")).cast("long").as("max_channels"),
        round(avg(col("duration_ms")), 2).as("avg_duration_ms"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_frames")).cast("long").as("total_frames"))

  /** Per-format rollup of decoded media features. */
  def featureStats(media: DataFrame): DataFrame =
    featureRollup(extractFeatures(media).toDF())
}
