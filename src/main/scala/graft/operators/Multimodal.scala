package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media lives as opaque `binary` columns beside a typed metadata
  * struct; decode runs as a codegen'd native expression
  * ([[graft.functions.MediaDecodeExpr]]) so a codec handle amortizes
  * per JVM, not per row. The decode kernel is a REAL parser for the
  * uncompressed public formats (BMP, PCM-WAV — header parse + channel-
  * plane extraction, golden-pinned in GoldenMediaSpec and oracle-
  * certified by the q152/q153 roundtrips); payloads in any other
  * format decode to documented deterministic pseudo-dimensions, the
  * contract that keeps the driver oracle replayable — a libjpeg/ffmpeg
  * JNI handle would slot in as one more sniff branch.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false))), nullable = false)))

  /** Attach a media binary + metadata struct derived from a source
    * column (here: utf-8 bytes of text — the container has no real
    * media; the column TYPES are what the pipeline contracts on). */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   format: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(payloadCol), "utf-8").as("media"),
      struct(
        lit(format).as("format"),
        octet_length(encode(col(payloadCol), "utf-8")).cast("long").as("n_bytes"))
        .as("meta"))

  /** Batch decode through the codegen'd [[graft.functions
    * .MediaDecodeExpr]] kernel ([[graft.functions.MediaCodec]]'s real
    * BMP/PCM-WAV parsers + the opaque-payload fallback): a
    * shuffle-free columnar select
    * that stays inside whole-stage codegen — no RDD hop, no Row boxing.
    * Rows with null media decode to null and are dropped, like a failed
    * decode would be. */
  def decodeMeta(media: DataFrame): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    media.select(col("media_id"),
        graft.functions.MediaFunctions.decodeMedia(col("media")).as("__d"))
      .where(col("__d").isNotNull)
      .select(col("media_id"),
        col("__d.width").as("width"), col("__d.height").as("height"),
        col("__d.channels").as("channels"), col("__d.n_bytes").as("n_bytes"))
  }

  /** Frame sampling for sequential media: every `stride`-th block of
    * `blockSize` bytes becomes one "frame" row, carrying only its stats
    * (length + md5), computed by the one-pass codegen'd
    * [[graft.functions.MediaFrameStatsExpr]] kernel. The earlier
    * declarative form (`transform(offsets, substring(media, …))`)
    * re-fetched the whole binary per frame — O(frames × file_size) —
    * which turned multi-MB files into minutes of single-thread work;
    * the kernel reads the binary once and the exploded rows carry ~40
    * bytes each, never the media itself. */
  def sampleFrames(media: DataFrame, blockSize: Int, stride: Int): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    media.select(
      col("media_id"),
      posexplode(graft.functions.MediaFunctions.frameStats(
        col("media"), blockSize, stride)).as(Seq("frame_idx", "__f")))
      .select(
        col("media_id"), col("frame_idx"),
        col("__f.frame_bytes").as("frame_bytes"),
        col("__f.frame_hash").as("frame_hash"))
  }

  /** Byte-level feature extraction with built-ins only: length, an
    * md5 content id, and a coarse 4-bin histogram of the first 256
    * bytes — the kind of cheap signal a curation pipeline pre-computes
    * before expensive decode. */
  def byteFeatures(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("meta.format").as("format"),
      col("meta.n_bytes").as("n_bytes"),
      md5(col("media")).as("content_hash"))

  /** Deterministic stub EMBEDDING from decoded media features — the
    * multimodal bridge into the ANN family: one pass over the blobs
    * decodes (codegen'd kernel) and embeds each object into a `dim`
    * vector, producing the compact (media_id, emb) store retrieval
    * runs on. The embedding body is integer arithmetic on the decoded
    * pseudo-dimensions — the same oracle discipline as the decode
    * kernel's opaque-payload fallback (MediaDecode.scala): DuckDB
    * reproduces it from file sizes, so the
    * whole blob→embedding→ANN composition is oracle-certifiable with
    * no codec or model libraries in the container. In production THIS
    * select is where the encoder model runs (ONNX / mapInPandas batch
    * inference); everything around it — a single blob scan, blobs
    * dropped before any shuffle or write, ids-only retrieval — is the
    * real 100 TB contract: the store is ~dim doubles per object and
    * the blob bytes never travel again. Values span ±498 (integer mod,
    * re-centered) so cosines exercise both signs. */
  def mediaEmbeddings(media: DataFrame, dim: Int = 8): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    val d = media.select(col("media_id"),
        graft.functions.MediaFunctions.decodeMedia(col("media")).as("__d"))
      .where(col("__d").isNotNull)
      .select(col("media_id"),
        col("__d.n_bytes").as("__nb"),
        col("__d.width").cast("long").as("__w"),
        col("__d.height").cast("long").as("__h"))
    val emb = array((0 until dim).map { i =>
      ((col("__nb") * (i + 1) + col("__w") * (3 * i + 1) +
        col("__h") * (7 * i + 2)) % 997 - 498).cast("double")
    }: _*)
    d.select(col("media_id"), emb.as("emb"))
  }

  /** ONE-pass per-blob profile: byte features, decode dimensions, and
    * the frame-sample aggregate, all from a single read of each binary.
    * On a media corpus the blob bytes ARE the cost — a plan that scans
    * the source once per derived family (features, dims, frames) and
    * joins back on media_id pays the I/O multiple times, because Spark
    * does not common-subexpression-eliminate across join subtrees. Here
    * every derived value is a column of the SAME select: the decode
    * kernel and the frame kernel each see the blob once, and the frame
    * aggregate (`n_frames`, `frame_bytes_total`) folds the frame-stats
    * array with `size`/`aggregate` instead of posexplode → groupBy →
    * re-join. Rows whose decode returns null (failed decode) are
    * dropped, matching [[decodeMeta]]. `passthrough` columns (e.g. a
    * file name) ride along the single select unchanged. */
  def mediaProfile(media: DataFrame, blockSize: Int, stride: Int,
                   passthrough: Seq[String] = Nil): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    val carried = passthrough.map(col)
    media.select(carried ++ Seq(
        col("media_id"),
        col("meta.format").as("format"),
        col("meta.n_bytes").as("n_bytes"),
        graft.functions.MediaFunctions.decodeMedia(col("media")).as("__d"),
        graft.functions.MediaFunctions.frameStats(col("media"), blockSize, stride)
          .as("__fs")): _*)
      .where(col("__d").isNotNull)
      .select(carried ++ Seq(
        col("media_id"), col("format"), col("n_bytes"),
        col("__d.width").as("width"), col("__d.height").as("height"),
        size(col("__fs")).cast("long").as("n_frames"),
        aggregate(col("__fs"), lit(0L),
          (acc, f) => acc + f.getField("frame_bytes").cast("long"))
          .as("frame_bytes_total")): _*)
  }

  /** PCM-WAV encode→decode→plane roundtrip over a media table: wraps
    * each payload as a mono 8-bit WAV, runs the REAL RIFF/PCM parser
    * ([[graft.functions.MediaCodec]]) on it, and extracts channel 0.
    * One shuffle-free codegen'd select — wrap, decode and plane are
    * columns of the same projection, so the blob is materialized once
    * per row and only the fixed-width stats + a 32-char hash leave the
    * scan. This is the oracle-certifiable proof that the decoder is a
    * real format parser, not byte-length arithmetic: every output
    * column is a header field the parser had to READ back out of the
    * encoded file. */
  def wavRoundtrip(media: DataFrame, sampleRate: Int): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    val wav = graft.functions.MediaFunctions.wavWrap(col("media"), sampleRate)
    media.select(
        col("media_id"),
        graft.functions.MediaFunctions.decodeMedia(wav).as("__d"),
        graft.functions.MediaFunctions.mediaPlane(wav, 0).as("__p"))
      .select(col("media_id"),
        col("__d.width").cast("long").as("n_samples"),
        col("__d.height").cast("long").as("sample_rate"),
        col("__d.channels").cast("long").as("channels"),
        col("__d.n_bytes").as("file_bytes"),
        md5(col("__p")).as("pcm_hash"))
  }

  /** 8-bpp grayscale BMP encode→decode→plane roundtrip (the image twin
    * of [[wavRoundtrip]]): wraps each payload as a top-down BMP of the
    * given width (a positive multiple of 4, so the stride carries no
    * row padding), parses it back and extracts the single palette-index
    * plane. The plane is the payload plus a zero tail filling the last
    * row — callers wanting plane ≡ payload exactly feed payloads whose
    * length divides `width`. */
  def bmpRoundtrip(media: DataFrame, width: Int): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    val bmp = graft.functions.MediaFunctions.bmpWrap(col("media"), width)
    media.select(
        col("media_id"),
        graft.functions.MediaFunctions.decodeMedia(bmp).as("__d"),
        graft.functions.MediaFunctions.mediaPlane(bmp, 0).as("__p"))
      .select(col("media_id"),
        col("__d.width").cast("long").as("width"),
        col("__d.height").cast("long").as("height"),
        col("__d.channels").cast("long").as("channels"),
        col("__d.n_bytes").as("file_bytes"),
        md5(col("__p")).as("plane_hash"))
  }

  /** Perceptual hashes over the REAL image decode path: each payload
    * wraps as an 8-bpp grayscale BMP of `width`, parses back through
    * the strict DIB walk, and plane 0 feeds the exact-integer
    * aHash/dHash kernel ([[graft.functions.MediaCodec.pHash]]) — the
    * near-dup fingerprint byte-feature ANN (q88/q129) cannot provide:
    * a re-encoded copy of the same image keeps its gradient structure
    * (dhash) while every byte-level feature changes. One codegen'd
    * pass per row, no shuffle; (media_id, width, height, dhash, ahash).
    * Width/height come from the real decode, the q153 roundtrip law. */
  def perceptualHash(media: DataFrame, width: Int): DataFrame = {
    graft.functions.MediaFunctions.register(media.sparkSession)
    val bmp = graft.functions.MediaFunctions.bmpWrap(col("media"), width)
    media
      .filter(octet_length(col("media")) >= 1) // BMP wrap needs ≥1 row
      .select(col("media_id"),
        graft.functions.MediaFunctions.decodeMedia(bmp).as("__d"),
        graft.functions.MediaFunctions.mediaPlane(bmp, 0).as("__p"))
      .select(col("media_id"),
        col("__d.width").cast("long").as("width"),
        col("__d.height").cast("long").as("height"),
        graft.functions.MediaFunctions.pHash(col("__p"), col("__d.width"))
          .as("__ph"))
      .where(col("__ph").isNotNull)
      .select(col("media_id"), col("width"), col("height"),
        col("__ph.dhash").as("dhash"), col("__ph.ahash").as("ahash"))
  }

  /** Media near-dup pairs by dHash Hamming distance ≤ `maxDist` — the
    * [[TextOps.simhashPairs]] pigeonhole on the 64-bit perceptual
    * fingerprint: split into (maxDist+1) chunks; any pair within
    * distance shares at least one exact chunk, so candidates come from
    * an equi-join on (chunk_idx, chunk_value), never an all-pairs
    * product — at crawl scale the candidate count stays collision-
    * bounded while a brute-force scan of n² image pairs is unrunnable.
    * Arithmetic-vs-logical shift is immaterial: the chunk mask keeps
    * only the shifted-in-range bits, identically here and in DuckDB. */
  def phashNearDups(media: DataFrame, width: Int, maxDist: Int): DataFrame =
    phashNearDupsFromHashes(
      phashHashHub(media, width), maxDist)

  /** The materialized (media_id, dhash) hub every phash consumer
    * derives from — ONE wrap→decode→pHash pass over the media bytes
    * (the q139 hub discipline: the kernel is the expensive part and
    * the collapse machinery reads the hashes three times). */
  private[graft] def phashHashHub(media: DataFrame, width: Int): DataFrame =
    perceptualHash(media, width).select(col("media_id"), col("dhash"))
      .localCheckpoint(eager = true)

  /** [[phashNearDups]] from an already-materialized hash hub —
    * [[phashDedupClusters]] shares the hub so the media bytes decode
    * once per call, not once per consumer (round-17 advice).
    * Identical-hash collapse (round-18, from the round-17 hot-bucket
    * finding): a crawl's mega-cluster of dhash-identical images (blank
    * thumbnails, placeholder GIFs) put m rows in one band bucket and
    * the join emitted O(m²·chunks) pre-distinct rows; banding now runs
    * over DISTINCT hash values and members expand after, exactly
    * output-sized ([[graft.operators.Hamming.collapsedPairs]]).
    * HammingCollapseSpec pins ≡ brute-force; the q182 oracle replays
    * the brute force in DuckDB. */
  private[graft] def phashNearDupsFromHashes(hashes: DataFrame,
                                             maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist=$maxDist out of range")
    Hamming.collapsedPairs(hashes, "media_id", "dhash", 64, maxDist)
  }

  /** Persist the corpus's perceptual-hash index: (media_id, dhash),
    * hash-partitioned — fixed-width longs, two per image, the whole
    * store is ~16 bytes/image however large the media bytes are. The
    * media binaries are read ONCE here and never travel again (the
    * q88 store discipline applied to the perceptual lens). */
  def writePhashStore(media: DataFrame, width: Int, path: String,
                      parts: Int = 16): Unit = {
    require(parts >= 1, s"parts=$parts must be >= 1")
    perceptualHash(media, width)
      .select(col("media_id"), col("dhash"))
      .repartition(parts, col("dhash"))
      .withColumn("b", lit(0L))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/phash")
  }

  /** Absorb one batch's hash rows under `b = batchId` — an idempotent
    * dynamic partition overwrite, the [[SpanDedup.appendGrams]]
    * absorption discipline applied to the media index. Callers absorb
    * the batch's FRESH (keeper) hashes: a dropped near-dup's hash is
    * within `maxDist` of its keeper's, and Hamming distance is not
    * transitive, so keeper-only absorption can in principle miss a
    * later re-encode that drifted ≤ d from the DROPPED copy but > d
    * from the keeper — the standard index-the-survivor trade every
    * dedup store makes (the span store has the same property at gram
    * granularity); absorb the full batch instead when that recall
    * matters more than store size —
    * [[graft.streaming.PhashStream.applyBatch]]'s `absorbFull` option
    * (round 18), whose drift-chain law PhashStreamSpec plants. */
  def appendPhash(hashes: DataFrame, path: String, batchId: Long): Unit = {
    require(batchId >= 1, s"batchId=$batchId collides with the b=0 seed")
    graft.streaming.BatchStore.writeBatch(
      hashes.select(col("media_id"), col("dhash")), batchId, s"$path/phash")
  }

  /** Serve ONE new media batch against the frozen phash store — the
    * incremental media-dedup shape (q165's serve for images): the
    * batch's band keys equi-join the store's (computed on read — the
    * store is hash-sized, the expansion is 4 fixed-width rows per
    * image, never the media bytes), candidates verify by exact
    * bit_count, and each batch image reports `dup_of` = the smallest
    * matching id with HISTORY WINNING over within-batch matches of any
    * id (the curated copy is already stored — the [[graft.operators
    * .Curation]] keeper convention), within-batch min-id otherwise;
    * `is_fresh` when no match. Law-by-oracle: a brute-force all-pairs
    * replay must agree exactly — the banding is an access path, never
    * a semantics. */
  /** `batchCut`: for stream-maintained stores whose partitions carry
    * `b = batchId` ([[appendPhash]]), serve only against `b < cut` —
    * the redelivery fence ([[SpanDedup.serveSpanCut]]'s contract): a
    * crashed attempt may have absorbed its own fresh hashes before the
    * commit marker, and an unfenced re-serve would dedup the batch
    * against itself. */
  def servePhashDedup(s: org.apache.spark.sql.SparkSession, path: String,
                      batch: DataFrame, width: Int,
                      maxDist: Int, batchCut: Option[Long] = None): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist=$maxDist out of range")
    val store0 = s.read.parquet(s"$path/phash")
    val store = batchCut.fold(store0)(c =>
      store0.filter(col("b").cast("long") < c))
    val bh = perceptualHash(batch, width)
      .select(col("media_id"), col("dhash"))
      .localCheckpoint(eager = true) // feeds the group cut + output join
    // Serve core extracted to [[Hamming.serveDedupCore]] (round 19):
    // identical-hash collapse on both sides, batch-side broadcast
    // pinned, history-wins dup_of — shared with the SimHash text store
    // ([[TextOps.serveSimhashDedup]]). The serve-vs-brute law is
    // unchanged (the q185 oracle replays all-pairs in DuckDB).
    Hamming.serveDedupCore(store, bh, "media_id", "dhash", 64, maxDist)
  }

  /** Media contamination report against a persisted benchmark index —
    * q173's story for images: every batch image within `maxDist` of
    * ANY stored (eval) hash is flagged with its CLOSEST eval match
    * (min Hamming, ties to the smaller eval id — deterministic) and
    * the count of distinct eval images it leaks. Within-batch matches
    * are deliberately NOT consulted: contamination is a property of
    * the batch-vs-benchmark relation only. Same banded access path as
    * [[servePhashDedup]] (batch side broadcast, store streams). */
  def phashLeaks(s: org.apache.spark.sql.SparkSession, path: String,
                 batch: DataFrame, width: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist=$maxDist out of range")
    val store = s.read.parquet(s"$path/phash")
    val bh = perceptualHash(batch, width)
      .select(col("media_id"), col("dhash"))
      .localCheckpoint(eager = true)
    // Leak core extracted to [[Hamming.leaksCore]] (round 19):
    // identical-hash collapse on both sides, batch-side broadcast
    // pinned, closest-match struct through group mins — shared with
    // the SimHash text lens ([[TextOps.simhashLeaks]]). The q188
    // oracle replays all-pairs.
    Hamming.leaksCore(store, bh, "media_id", "dhash", 64, maxDist)
  }

  /** Media near-dup KEEPER table — q31's "keep one per near-dup
    * cluster" action applied to the re-encode-robust perceptual lens:
    * [[phashNearDups]] pairs → [[TextOps.connectedComponents]] (min-
    * label, the certified kernel) → every DECODABLE media row labeled
    * with its cluster (smallest reachable id) and whether it is the
    * keeper; singletons keep themselves. The dedup decision a crawl
    * pipeline actually executes on images — byte-identical dups AND
    * re-encodes collapse to one survivor. */
  def phashDedupClusters(media: DataFrame, width: Int,
                         maxDist: Int): DataFrame = {
    // ONE decode pass (round-17 advice): the checkpointed hash hub
    // feeds both the edge engine and the id universe — previously the
    // wrap→decode→pHash kernel ran twice per call.
    val ph = phashHashHub(media, width)
    // CC consumes a CONNECTIVITY-equivalent sparse edge set (star
    // within identical-hash groups + one edge per near-dup pair of
    // distinct hashes) instead of the all-pairs expansion: identical
    // components, identical min labels, but linear edges on a
    // duplicate-heavy corpus where all-pairs is quadratic in cluster
    // size (HammingCollapseSpec pins sparse-CC ≡ all-pairs-CC; the
    // q184 oracle replays the recursive-CTE reachability on the full
    // brute-force pair set).
    val edges = Hamming.sparseEdges(ph, "media_id", "dhash", 64, maxDist)
    val cc = TextOps.connectedComponents(edges)
    val ids = ph.select(col("media_id"))
    ids.join(cc, ids("media_id") === cc("id"), "left")
      .select(ids("media_id"),
        coalesce(cc("label"), ids("media_id")).as("cluster_id"))
      .withColumn("is_keeper", col("media_id") === col("cluster_id"))
  }

  /** VAD-style windowed signal energy over the REAL decode path: each
    * payload wraps as 8-bit PCM WAV, parses back through the strict
    * RIFF walk, and the extracted channel plane splits into
    * `windowSamples`-sample windows scored by Σ (sample − 128)² —
    * exact unsigned-PCM energy in integers, the feature
    * silence-trim/VAD gates cut on. `active` marks windows at or
    * above `activeThreshold`. Per-byte access is codegen'd
    * `substring`/`hex`/`conv` over the binary plane (no UDF); rows
    * are one per sample pre-aggregate, linear in audio bytes, and the
    * window aggregate is map-side combinable on (id, window). The
    * wrap→parse→plane identity this rides on is the q152-oracled
    * roundtrip law. */
  def pcmWindowEnergy(media: DataFrame, sampleRate: Int,
                      windowSamples: Int,
                      activeThreshold: Long): DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    graft.functions.MediaFunctions.register(media.sparkSession)
    val wav = graft.functions.MediaFunctions.wavWrap(col("media"), sampleRate)
    val sample =
      conv(hex(substring(col("__p"), col("__i"), lit(1))), 16, 10)
        .cast("long")
    media
      .select(col("media_id"),
        graft.functions.MediaFunctions.mediaPlane(wav, 0).as("__p"))
      .select(col("media_id"), col("__p"),
        // Guard like gramStarts/shingles: sequence(1, 0) counts DOWN
        // to [1, 0] on an empty payload, which would emit two phantom
        // samples the oracle's generate_series(1, 0) (empty) never has.
        explode(when(octet_length(col("__p")) >= 1,
          sequence(lit(1), octet_length(col("__p"))))).as("__i"))
      .select(col("media_id"),
        expr(s"CAST((__i - 1) div $windowSamples AS BIGINT)")
          .as("window_idx"),
        ((sample - 128) * (sample - 128)).as("__e2"))
      .groupBy(col("media_id"), col("window_idx"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("__e2")).as("energy"))
      .withColumn("active", col("energy") >= activeThreshold)
  }
}
