package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftCaches.GenChain

/** Multimodal-column plumbing for a training-data pipeline: media travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract run per-partition in batches.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[stubDecodeImage]]) — the Spark-side
  * contract (schema, batch iteration, partitioning, output shape) is real
  * and tested, and a real codec drops into the same seam.
  *
  * Scale notes: payloads stay off the driver; feature extraction is a
  * narrow mapPartitions (no shuffle); downstream joins key on `media_id`
  * so a repartition on ingest is the only wide stage.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image | audio | video
    StructField("payload", BinaryType),                      // opaque encoded bytes
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType),
      StructField("source", StringType))))))

  /** Build a media table from the documents fixture: each doc's text bytes
    * stand in for an encoded payload (deterministic; real ingest would read
    * `binaryFile`). */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio")).otherwise(lit("video")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))

  /** Magic-byte sniff for the container formats the JDK decoder reads
    * (PNG / JPEG / GIF / BMP): attempting `ImageIO.read` on arbitrary
    * bytes is exception-driven per-row probing — measured 6× on the
    * feature gate when every text-byte payload paid it — while a
    * signature check is a few comparisons. A payload that passes the
    * sniff but fails to decode still falls through safely (decodeGray
    * returns None). */
  private[graft] def looksLikeImage(b: Array[Byte]): Boolean =
    (b.length >= 8 &&
      (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
    (b.length >= 3 &&
      (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 && (b(2) & 0xFF) == 0xFF) ||
    (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
    (b.length >= 2 && b(0) == 'B' && b(1) == 'M')

  /** STUB image decode: deterministic fake (width/height/channel stats from
    * a rolling hash of the payload). Replace with a real codec here — the
    * signature (bytes → fixed feature struct) is the seam. */
  def stubDecodeImage(payload: Array[Byte]): (Int, Int, Double) = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    val width = 16 + math.floorMod(h, 241).toInt
    val height = 16 + math.floorMod(h >> 8, 241).toInt
    val meanPx = math.floorMod(h >> 16, 256).toDouble
    (width, height, meanPx)
  }

  /** Per-partition batched feature extraction (the mapInPandas shape in
    * Scala: one iterator pass, setup amortized per partition). Emits a flat
    * feature row per media item.
    *
    * The decode seam is REAL-FIRST: image-kind payloads try the repo's own
    * PNG/ImageIO decoder ([[graft.kernels.Png.decodeGray]]) and emit true
    * (width, height, mean pixel) on success; only non-decodable payloads
    * (and non-image kinds) fall back to the deterministic stub, so the
    * same pipeline serves both real ingests and the codec-free fixture
    * tables. The mean is exact integer arithmetic (Σpx / n as a double
    * division at the end) — partition-independent.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val rows = media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
    rows.mapPartitions { it =>
      // per-partition setup (codec init) would go here
      it.map { case (id, kind, payload) =>
        val bytes = if (payload == null) Array.emptyByteArray else payload
        val real =
          if (kind == "image" && looksLikeImage(bytes))
            graft.kernels.Png.decodeGray(bytes)
          else None
        real match {
          case Some((px, h, w)) =>
            var s = 0L; var i = 0
            while (i < px.length) { s += px(i); i += 1 }
            val mean = if (px.length == 0) 0.0 else s.toDouble / px.length
            (id, kind, bytes.length.toLong, w, h, mean)
          case None =>
            val (w, h, mean) = stubDecodeImage(bytes)
            (id, kind, bytes.length.toLong, w, h, mean)
        }
      }
    }.toDF("media_id", "kind", "n_bytes", "width", "height", "mean_px")
  }

  /** 64-bit AVERAGE HASH (aHash) of a decoded grayscale image: bilinear
    * resize to the 8×8 grid, then bit i = (cell i brighter than the grid
    * mean). The comparison is exact integer arithmetic (64·px > Σpx), so
    * the hash is bit-stable on any engine. Near-duplicate images — same
    * content re-encoded, lightly noised, resized — keep most bits, so
    * Hamming distance is the dedup metric ([[phashNearDups]]). */
  def aHash64(px: Array[Int], h: Int, w: Int): Long = {
    val g = graft.kernels.ImageKernels.resizeBilinear(px, h, w, 8, 8)
    var sum = 0L; var i = 0
    while (i < 64) { sum += g(i); i += 1 }
    var bits = 0L; i = 0
    while (i < 64) { if (64L * g(i) > sum) bits |= (1L << i); i += 1 }
    bits
  }

  /** 64-bit DIFFERENCE HASH (dHash): bilinear resize to 8×9, bit (r,c) =
    * (pixel brighter than its right neighbour) — gradient direction, which
    * survives global brightness shifts that move every aHash cell
    * together. Emitted beside aHash so callers can band on either. */
  def dHash64(px: Array[Int], h: Int, w: Int): Long = {
    val g = graft.kernels.ImageKernels.resizeBilinear(px, h, w, 8, 9)
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(r * 9 + c) > g(r * 9 + c + 1)) bits |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    bits
  }

  /** PERCEPTUAL HASHES over PNG payloads: decode → 8×8/8×9 grid → aHash +
    * dHash, one narrow mapPartitions (no shuffle; codec state amortized
    * per partition). Non-decodable payloads DROP (C3 drop-on-failure
    * shape) — a hash of undecodable bytes would poison the near-dup
    * banding downstream. */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          (if (payload != null && looksLikeImage(payload))
            graft.kernels.Png.decodeGray(payload) else None)
            .map { case (px, h, w) => (id, aHash64(px, h, w), dHash64(px, h, w)) }
        }
      }
      .toDF("media_id", "ahash", "dhash")
  }

  /** IMAGE NEAR-DUPLICATE PAIRS — the multimodal leg of the near-dup
    * family, riding the SAME banded machinery as text SimHash
    * ([[Dedup.bandedHashPairs]]): decode → perceptual hashes, block on
    * the UNION of both hashes' band tables at the geometry
    * [[Dedup.bandGeometry]] derives from `maxHamming` (Manku block
    * combinations — recall 1.0 by pigeonhole at the advertised
    * threshold; aHash's tables precede dHash's in band_idx order),
    * verify on the MINIMUM Hamming distance of
    * the two hashes ≤ `maxHamming`. Banding on both matters for the
    * dominant real perturbation: a brightness GRADIENT (vignette,
    * re-light, watermark wash) moves pixels relative to the global mean —
    * flipping aHash cells wholesale — while neighbour-order dHash bits
    * survive, so dHash bands recover pairs the aHash bands lose
    * (MultimodalSpec measures the recall gap on a planted gradient
    * fixture). Candidates only exist inside shared bands — never an
    * all-pairs image comparison — and the hash stage runs at scan speed
    * map-side, so the shape holds at 100 TB of payloads exactly as the
    * text tier does. */
  def phashNearDups(media: DataFrame, maxHamming: Int = 6): DataFrame =
    Dedup.bandedHashPairs(
      perceptualHashes(media).select(col("media_id").as("doc_id"),
        col("ahash"), col("dhash")),
      Seq("ahash", "dhash"), maxHamming, None)

  /** [[phashNearDups]] with HOT-BAND QUARANTINE — the image twin of
    * [[Dedup.simHashPairsQuarantined]], and where the bound bites first
    * in practice: a boilerplate asset (blank thumbnail, logo, tracking
    * pixel) hashes identically across millions of pages, putting the
    * whole clone set into ONE band bucket. Buckets over `maxBucket`
    * leave the banded self-join; their members resolve through the
    * distinct-hash collapse (clone sets pair via one tuple equi-join at
    * Hamming 0; distinct tuples re-band at collapsed cardinality).
    * Output ≡ the unquarantined run at every bound. */
  def phashNearDupsQuarantined(media: DataFrame, maxHamming: Int = 6,
      maxBucket: Long = 1000L): DataFrame =
    Dedup.bandedHashPairs(
      perceptualHashes(media).select(col("media_id").as("doc_id"),
        col("ahash"), col("dhash")),
      Seq("ahash", "dhash"), maxHamming, Some(maxBucket))

  /** Deterministic synthetic PNG corpus from a doc-id frame — the
    * codec-free stand-in for a real image ingest (the container ships no
    * camera data): consecutive ids in groups of `groupSize` share a blocky
    * base pattern, and each member past the first flips a deterministic,
    * member-scaled fraction of pixels — so every group is a near-dup
    * cluster with one clean base, the ground shape an image-dedup pipeline
    * exists to find. Payloads are REAL PNGs (the repo's own encoder), so
    * everything downstream of ingest — decode, resize, hashing — exercises
    * the production code path, not a stub. Group count scales with the
    * corpus while group size stays constant: candidate work per group is
    * O(groupSize²) and the total is linear in N at every scale. */
  def syntheticPngMedia(docIds: DataFrame, side: Int = 32,
      groupSize: Int = 8): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // WIDTH CUT before the encoder (guide §2.5 "input skew: repartition
    // after the read"): doc ids arrive at FILE-SCAN width — one parquet
    // sliver ⇒ ONE task encoding (and, for every cached consumer, later
    // decoding) the whole corpus. One id-sized exchange buys session-width
    // parallelism for the ×1000 encode/decode work; per-id generation is
    // deterministic, so content is unchanged under any partitioning.
    docIds.select(col("doc_id").cast("long"))
      .repartition(
        docIds.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val g = id / groupSize
          val m = (id % groupSize).toInt
          val px = new Array[Int](side * side)
          var r = 0
          while (r < side) {
            var c = 0
            while (c < side) {
              // 4×4-cell blocky base pattern keyed by the GROUP id
              val base = (mix(g * 1000003L + (r / 4) * 131L + (c / 4)) & 0xFF).toInt
              // member m replaces ~m/64 of its pixels with independent noise
              val roll = mix(id * 0x5DEECE66DL + r * 8191L + c)
              px(r * side + c) =
                if (m > 0 && java.lang.Long.remainderUnsigned(roll, 64L) < m)
                  ((roll >>> 32) & 0xFF).toInt
                else base
              c += 1
            }
            r += 1
          }
          graft.kernels.Png.encodeGray(px, side, side).map(bytes => (id, bytes))
        }
      }
      .toDF("media_id", "payload")
  }

  /** MIXED-FORMAT variant of [[syntheticPngMedia]] — the corpus shape of a
    * real crawl, where JPEG dominates and GIF/BMP assets persist: group
    * members 2/5/7 transcode their PNG payload through the JDK's own
    * writers (decode → re-encode; JPEG lossy, GIF/BMP lossless for 8-bit
    * gray), so every sniff arm of [[looksLikeImage]] and every ImageIO
    * decode path runs END TO END in the gates that read this corpus —
    * PNG-only fixtures left the dominant real-world format sniff-covered
    * but never exercised. The JPEG member doubles as an organic near-dup:
    * same content, lossy re-encode — exactly the duplicate class a
    * perceptual-hash tier exists to catch. One narrow mapPartitions
    * (codec state amortized); deterministic on a fixed JRE (the committed
    * fixture pins it). */
  def syntheticMixedMedia(docIds: DataFrame, side: Int = 32,
      groupSize: Int = 8): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    syntheticPngMedia(docIds, side, groupSize)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val fmt = (id % 8) match {
            case 2 => "jpg"
            case 5 => "gif"
            case 7 => "bmp"
            case _ => null
          }
          if (fmt == null) (id, payload)
          else {
            val out = (for ((px, h, w) <- graft.kernels.Png.decodeGray(payload))
              yield {
                val img = new java.awt.image.BufferedImage(w, h,
                  java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                var i = 0
                while (i < px.length) {
                  img.getRaster.setSample(i % w, i / w, 0, px(i))
                  i += 1
                }
                val bos = new java.io.ByteArrayOutputStream()
                if (javax.imageio.ImageIO.write(img, fmt, bos)) bos.toByteArray
                else payload
              }).getOrElse(payload)
            (id, out)
          }
        }
      }
      .toDF("media_id", "payload")
  }

  /** Build-once memo over [[syntheticMixedMedia]] (the
    * [[graft.functions.Similarity.ivfPqIndexFor]] contract): the encoded
    * corpus persists in the ARTIFACT tier, so the phash gates measure the
    * dedup OPERATOR (decode → hash → band → verify) instead of absorbing
    * PNG encoder throughput into whichever query line runs first —
    * encoder cost stays visible as the bench-setup `mm_media_corpus_build`
    * line, exactly the offline-ingest/online-dedup split of the ANN
    * gates. Keyed ([[graft.ArtifactMemo]]) by the analyzed doc-id
    * projection + geometry. */
  def syntheticMediaFor(docIds: DataFrame, side: Int = 32,
      groupSize: Int = 8): DataFrame =
    graft.ArtifactMemo("syntheticMedia", docIds.select(col("doc_id")),
        side, groupSize) {
      val m = graft.GraftCaches.persistedArtifact(
        syntheticMixedMedia(docIds, side, groupSize))
      m.count()
      m
    }

  /** Deterministic synthetic VIDEO corpus: each video's payload is
    * `frames` REAL PNGs concatenated back-to-back — a codec-free stand-in
    * for a frame-seekable container (the container ships no video
    * codecs; the Spark-side contract — opaque binary column, 1→N frame
    * explode, per-frame decode — is the production shape). Frame f of
    * video v carries the [[syntheticPngMedia]] pattern of pseudo-id
    * v·frames+f, so consecutive frames — WITHIN and ACROSS videos — form
    * the same near-dup groups the image corpus plants: re-cut clips and
    * shared intro/outro frames, the ground shape a frame-dedup tier
    * exists to find. */
  def syntheticVideoMedia(docIds: DataFrame, frames: Int = 3,
      side: Int = 32, groupSize: Int = 8): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    val pseudo = docIds.select(col("doc_id").cast("long")).as[Long]
      .flatMap(v => (0 until frames).map(f => v * frames + f))
      .toDF("doc_id")
    syntheticPngMedia(pseudo, side, groupSize)
      .select(expr(s"media_id DIV $frames").as("media_id"),
        (col("media_id") % frames).cast("int").as("frame_idx"),
        col("payload"))
      // width cut for the CACHED consumer side, placed BEFORE the group
      // so the aggregation REUSES this explicit exchange (guide §2.4 —
      // same key, same partition count ⇒ no second payload shuffle) and
      // its output keeps session width instead of being AQE-coalesced to
      // one partition — which would serialize every downstream container
      // walk + per-frame decode over the cached corpus (same pathology
      // as the still-image corpus; see syntheticPngMedia).
      .repartition(
        docIds.sparkSession.sessionState.conf.numShufflePartitions,
        col("media_id"))
      .groupBy(col("media_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("payload"))))
        .as("fs"))
      .select(col("media_id"), expr(
        "aggregate(fs, CAST(X'' AS BINARY), (acc, x) -> concat(acc, x.payload))")
        .as("payload"))
  }

  /** Build-once memo over [[syntheticVideoMedia]] (the
    * [[syntheticMediaFor]] contract): the frame-concatenated corpus is
    * bench-SETUP cost (`mm_video_corpus_build`), so the frame-dedup
    * gates measure split → decode → hash → band → verify. */
  def syntheticVideoFor(docIds: DataFrame, frames: Int = 3,
      side: Int = 32, groupSize: Int = 8): DataFrame =
    graft.ArtifactMemo("syntheticVideo", docIds.select(col("doc_id")),
        frames, side, groupSize) {
      val m = graft.GraftCaches.persistedArtifact(
        syntheticVideoMedia(docIds, frames, side, groupSize))
      m.count()
      m
    }

  /** FRAME SAMPLING of PNG-concatenated video payloads — real container
    * walking, no codec: scan each payload for the 8-byte PNG signature
    * and emit one row per frame slice, `frame_id = media_id·64 +
    * frame_idx` (collision-free up to 64 frames/video — enforced). The
    * narrow mapPartitions explode is the production 1→N shape: payloads
    * stay off the driver, downstream per-frame decode/hash rides the
    * same seams as still images. A signature byte-string inside a
    * frame's compressed stream would over-split (real containers carry
    * an index; this walker is the codec-free stand-in) — the committed
    * fixture pins the deterministic result either way, and a bogus
    * slice drops at decode (C3 shape). */
  def splitPngFrames(media: DataFrame,
      maxFramesPerVideo: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val sig = Array[Byte](0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
          0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte)
        it.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty
          else {
            val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
            var i = 0
            while (i <= payload.length - 8) {
              var j = 0
              while (j < 8 && payload(i + j) == sig(j)) j += 1
              if (j == 8) { offs += i; i += 8 } else i += 1
            }
            require(offs.length <= maxFramesPerVideo,
              s"video $id: ${offs.length} frames exceed the " +
                s"$maxFramesPerVideo-frame id budget")
            offs.iterator.zipWithIndex.map { case (start, fi) =>
              val end = if (fi + 1 < offs.length) offs(fi + 1) else payload.length
              (id * maxFramesPerVideo + fi, id, fi,
                java.util.Arrays.copyOfRange(payload, start, end))
            }
          }
        }
      }
      .toDF("frame_id", "media_id", "frame_idx", "payload")
  }

  /** STABLE-PLAN memo over [[splitPngFrames]] — identity, not caching:
    * the container walk is a `mapPartitions` whose closure is a fresh
    * object per call, so two constructions of the same frame stream
    * NEVER canonicalize equal — and every downstream semantic-hash memo
    * ([[phashIndexFor]]) silently missed, rebuilding the "standing"
    * frame catalog in-gate on every run (the bench-setup
    * `frame_index_build` artifact was unreachable from the gates it was
    * built for). Returning one DataFrame object per (media plan,
    * maxFrames) makes the downstream keys stable; the frame stream
    * itself stays UNCACHED — cold gates still pay their full
    * split+decode. */
  def splitPngFramesFor(media: DataFrame,
      maxFramesPerVideo: Int = 64): DataFrame =
    graft.ArtifactMemo("frameStream", media, maxFramesPerVideo) {
      splitPngFrames(media, maxFramesPerVideo)
    }

  // ------------------------------------------------- standing phash catalog
  /** STANDING PHASH CATALOG — the image tier's standing structure,
    * closing the four-family symmetry (text minhash catalog, embedding
    * catalog, ANN index, and now images): the corpus's perceptual hashes
    * `(media_id, ahash, dhash)` persist ONCE as an artifact frame, so a
    * daily media batch pays its own decode+hash plus band equi-joins —
    * never a corpus re-decode (at 100 TB of payloads the decode IS the
    * corpus-sized cost; the catalog is 3 longs per image). Band rows are
    * deliberately NOT stored: banding a 64-bit hash is two bit-ops per
    * band (map-side, free at scan speed), unlike the minhash tier whose
    * banded signature is an expensive projection worth persisting. No
    * geometry/re-band policy exists either — band layout DERIVES
    * PER-CALL from `maxHamming` via [[Dedup.bandGeometry]] (the stored
    * state is raw hashes, never band rows), so the catalog cannot carry
    * stale geometry; compaction is the only standing maintenance. One
    * member (`hashes`, keyed on `media_id`) and no other state: a saved
    * catalog is its hash rows alone. The lifecycle verbs are
    * [[StandingIndex]]'s. */
  final case class PhashIndex(hashes: DataFrame,
      rows: Option[Long] = None,
      chain: GenChain = GenChain()) extends StandingIndex[PhashIndex] {
    def layout: Seq[StandingIndex.Member] = PhashIndex.layout
    def memberFrames: Seq[DataFrame] = Seq(hashes)
    private[functions] def idCol = "media_id"
    private[functions] def withMembers(fs: Seq[DataFrame], rows: Option[Long],
        chain: GenChain): PhashIndex =
      copy(hashes = fs(0), rows = rows, chain = chain)
  }

  object PhashIndex extends StandingIndex.Family[PhashIndex] {
    val layout: Seq[StandingIndex.Member] =
      Seq(StandingIndex.Member("hashes", Seq("media_id")))
    private[functions] def assemble(spark: SparkSession, path: String,
        members: Seq[DataFrame]): PhashIndex = PhashIndex(members(0))
  }

  /** Build the standing catalog (offline, once): one decode+hash pass. */
  def buildPhashIndex(media: DataFrame): PhashIndex =
    graft.GraftCaches.inArtifactScope {
      val h = graft.GraftCaches.persistedArtifact(perceptualHashes(media))
      val n = h.count()
      PhashIndex(h, rows = Some(n))
    }

  /** Build-once memo over [[buildPhashIndex]] (the
    * [[graft.functions.Similarity.ivfPqIndexFor]] pattern). */
  def phashIndexFor(media: DataFrame): PhashIndex =
    graft.ArtifactMemo("phashIndex",
        media.select(col("media_id"), col("payload"))) {
      buildPhashIndex(media)
    }

  /** [[phashNearDups]] served from the STANDING catalog — the 100 TB
    * shape of a FULL-CORPUS near-dup audit: the corpus decodes once at
    * catalog build (the standing state is 3 longs per image; at scale
    * the decode IS the corpus-sized cost), and every subsequent full-run
    * audit bands the cached hashes map-side. The catalog rows are
    * exactly [[perceptualHashes]]' output, so the pair set is identical
    * to the payload form at every `maxHamming` — the committed
    * `mm_frame_pairs` fixture is the equality oracle verbatim. */
  def phashNearDupsIndexed(index: PhashIndex,
      maxHamming: Int = 6): DataFrame =
    Dedup.bandedHashPairs(
      index.hashes.select(col("media_id").as("doc_id"),
        col("ahash"), col("dhash")),
      Seq("ahash", "dhash"), maxHamming, None)

  /** Decode+hash a media batch with the id-hygiene guards of every
    * standing family (a duplicated or already-indexed media_id would emit
    * duplicate pairs under two payloads claiming one key). Working-tier
    * persist: one decode pass feeds the guards and the join/union. */
  private def stagePhashBatch(index: PhashIndex,
      mediaBatch: DataFrame): DataFrame = {
    val bh = graft.GraftCaches.persisted(perceptualHashes(mediaBatch))
    val dups = bh.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    require(dups == 0L,
      s"phash batch: $dups media_id(s) appear more than once in the batch")
    val clash = bh.select(col("media_id"))
      .join(index.hashes.select(col("media_id")), Seq("media_id")).count()
    require(clash == 0L,
      s"phash batch: $clash media_id(s) already exist in the catalog — " +
        "re-ingesting an id would pair one key against two payloads")
    bh
  }

  /** INCREMENTAL image near-dup pairs — a media batch against the
    * standing catalog: every pair with ≥1 batch member, via the shared
    * banded-Hamming core ([[graft.functions.Dedup.bandedHashPairsIncremental]]).
    * Per-media-row catalog entries make the closed-form oracle: the pair
    * set equals [[phashNearDups]] over the full corpus restricted to
    * batch-touching pairs (the `phash_incremental` gate). Batch-sized
    * decode+hash; the standing side joins through its persisted hash
    * columns. */
  def incrementalPhashPairs(index: PhashIndex, mediaBatch: DataFrame,
      maxHamming: Int = 6): DataFrame =
    Dedup.bandedHashPairsIncremental(
      index.hashes.select(col("media_id").as("doc_id"),
        col("ahash"), col("dhash")),
      stagePhashBatch(index, mediaBatch)
        .select(col("media_id").as("doc_id"), col("ahash"), col("dhash")),
      Seq("ahash", "dhash"), maxHamming)

  /** Grow the standing catalog by a batch — the
    * [[graft.functions.Dedup.dedupIndexAppend]] delta generation on the
    * image tier: only the batch's hashes persist (lineage-bearing,
    * batch-sized). */
  def phashIndexAppend(index: PhashIndex,
      mediaBatch: DataFrame): PhashIndex = graft.GraftCaches.inArtifactScope {
    index.appended(Seq(graft.GraftCaches.persistedArtifactFresh(
      stagePhashBatch(index, mediaBatch))))
  }

  /** REAL image resize over PNG-encoded payloads: decode → bilinear resize
    * → re-encode, per partition (codec state amortized). Non-decodable
    * payloads drop silently (C3 shape). This is the non-stub path of the
    * decode seam — payloads written by
    * [[graft.operators.SlicePipeline.writePngs]] flow through it as-is.
    */
  def resizeImages(media: DataFrame, outH: Int, outW: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          for {
            (px, h, w) <- graft.kernels.Png.decodeGray(payload)
            resized = graft.kernels.ImageKernels.resizeBilinear(px, h, w, outH, outW)
            bytes <- graft.kernels.Png.encodeGray(resized, outH, outW)
          } yield (id, outH, outW, bytes)
        }
      }
      .toDF("media_id", "height", "width", "payload")
  }

  /** Frame sampling for video-kind media: deterministic fixed-size chunks
    * of the decoded payload stand in for frames (stub), showing the 1→N
    * explode shape (each frame its own row for downstream per-frame
    * featurization). Chunking is explicit `sequence`+`substring` (Spark's
    * `split` has no \G-style chunk regex, and `base64` emits MIME-chunked
    * lines — both unusable for deterministic chunk counts). */
  def sampleFrames(media: DataFrame, everyN: Int = 64): DataFrame = {
    media.filter(col("kind") === "video")
      .select(col("media_id"), decode(col("payload"), "UTF-8").as("s"))
      .filter(length(col("s")) > 0)
      .select(col("media_id"),
        posexplode(transform(
          sequence(lit(0), ceil(length(col("s")) / lit(everyN.toDouble)).cast("int") - 1),
          i => col("s").substr(i * everyN + 1, lit(everyN))
        )).as(Seq("frame_idx", "frame_chunk")))
  }
}
