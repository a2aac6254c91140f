package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables

/** Multimodal-column plumbing (SURVEY §4.3 north-star): media payloads
  * as opaque `binary` columns with typed metadata, plus the
  * decode/feature-extract pipeline shape a 100 TB media corpus needs.
  *
  * Image decode is REAL: [[decodeImage]] runs the JDK's
  * `javax.imageio` codecs (PNG/BMP/GIF/JPEG) and extracts true
  * geometry + pixel statistics; payloads no JDK codec parses — and
  * audio/video kinds, for which the container ships no codec — fall
  * back to the clearly-marked deterministic STUB ([[stubDecode]]), so
  * the oracle-gated queries stay reproducible on the text-payload
  * fixture while LlmSpec pins the real path on genuine PNG/BMP bytes.
  *
  * Scale notes: media rows are large and skewed; the processing path
  * uses `mapPartitions` so a real decoder amortizes model/codec init
  * once per partition (the JVM analogue of batched `mapInPandas`), and
  * metadata-only queries never deserialize payload bytes thanks to
  * parquet column pruning — [[binaryMeta]]'s scan reads only the bytes
  * it projects.
  */
object Multimodal {

  /** A media payload with typed metadata. At scale this is the parquet
    * row layout: small typed columns + one big binary column.
    */
  case class MediaRow(
      media_id: Long,
      kind: String,          // "image" | "audio" | "video"
      payload: Array[Byte],
      n_bytes: Long)

  /** Extracted features for one media row (decoder output schema). */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: String)

  /** Builds a media table from `documents` by treating the UTF-8 text
    * bytes as an opaque payload — the plumbing fixture standing in for
    * real image/audio blobs.
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"))
      .as[MediaRow]
  }

  /** STUB decode kernel — deterministic fake standing in for the real
    * codec call (??? in production without a codec). Derives plausible
    * dimensions from payload length so downstream plumbing is
    * exercised with stable values.
    */
  def stubDecode(row: MediaRow): MediaFeatures = {
    val n = row.n_bytes
    MediaFeatures(
      media_id = row.media_id,
      kind = row.kind,
      width = (16 + n % 64).toInt,
      height = (16 + (n / 64) % 64).toInt,
      n_frames = if (row.kind == "video") (1 + n % 30).toInt else 1,
      checksum = java.security.MessageDigest.getInstance("MD5")
        .digest(row.payload).map("%02x".format(_)).mkString)
  }

  /** Extended decode output: [[MediaFeatures]] plus whether a REAL
    * codec parsed the payload and, if so, per-channel pixel means —
    * the first feature any image-quality / near-dup tier consumes.
    */
  case class ImageFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: String,
      decoded: Boolean,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double)

  /** REAL image decode via the JDK's `javax.imageio` registry (PNG,
    * BMP, GIF, JPEG readers ship with every JVM — no external codec
    * needed): an `image` payload that parses yields its TRUE geometry
    * and per-channel pixel means; anything else — undecodable bytes,
    * audio/video kinds (no JDK codec) — falls back to [[stubDecode]]
    * geometry with `decoded = false`. This is what makes m2's decode
    * stage a real operator rather than plumbing: the batched-partition
    * interface and the downstream schema are unchanged, only the
    * kernel inside upgraded. On the synthetic corpus (UTF-8 text
    * payloads) every row takes the fallback, so the m1/m2 oracle rows
    * stay byte-deterministic; LlmSpec feeds genuine 8×8 PNG/BMP bytes
    * through the same kernel and pins the true pixel stats.
    */
  /** Magic-byte sniff for the formats the JDK ships readers for —
    * PNG, BMP, GIF, JPEG. Checked BEFORE any ImageIO machinery spins
    * up: an ImageIO.read probe on an undecodable payload costs an
    * ImageInputStream + a pass over every registered reader per row
    * (measured 3.4× on m1 when every fixture payload paid it); four
    * byte comparisons cost nothing, and a false positive — text that
    * happens to start with "BM" — just falls through the decode's own
    * failure path to the stub.
    */
  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 'B' && p(1) == 'M') ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte))

  def decodeImage(row: MediaRow): ImageFeatures = {
    def stub = {
      val f = stubDecode(row)
      ImageFeatures(f.media_id, f.kind, f.width, f.height, f.n_frames,
        f.checksum, decoded = false, 0.0, 0.0, 0.0)
    }
    if (row.kind != "image" || row.payload == null ||
      !looksLikeImage(row.payload)) stub
    else try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.payload))
      if (img == null) stub
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        ImageFeatures(row.media_id, row.kind, w, h, 1,
          java.security.MessageDigest.getInstance("MD5")
            .digest(row.payload).map("%02x".format(_)).mkString,
          decoded = true,
          sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
      }
    } catch { case scala.util.control.NonFatal(_) => stub }
  }

  /** The real-decode pipeline over any media frame — per-partition
    * batched like [[decodeFeatures]] (ImageIO reader lookup amortizes
    * across the partition's rows).
    */
  def decodeImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeImage))
  }

  /** Batched per-partition decode: codec init happens once per
    * partition, rows stream through — the real-decoder shape. Routes
    * through [[decodeImage]] (real codec first, stub geometry when the
    * payload doesn't parse), projected back to the [[MediaFeatures]]
    * schema m1/m2 gate on.
    */
  def decodeFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions { rows =>
      // real pipeline: open codec / load model here, once per partition
      rows.map { r =>
        val f = decodeImage(r)
        MediaFeatures(f.media_id, f.kind, f.width, f.height, f.n_frames,
          f.checksum)
      }
    }
  }

  /** STUB resize kernel: clamps decoded geometry to a bounding box
    * preserving aspect ratio (the arithmetic is real; the pixel
    * resample would live in the codec call).
    */
  def stubResize(f: MediaFeatures, maxSide: Int): MediaFeatures = {
    val scale = math.min(1.0, maxSide.toDouble / math.max(f.width, f.height))
    f.copy(width = math.max(1, (f.width * scale).toInt),
      height = math.max(1, (f.height * scale).toInt))
  }

  /** STUB frame sampler: deterministic every-k-th frame selection for
    * video rows (images/audio pass through with their single frame).
    */
  def stubSampleFrames(f: MediaFeatures, everyK: Int): Seq[Int] =
    if (f.kind == "video") (0 until f.n_frames by math.max(1, everyK)).toSeq
    else Seq(0)

  /** Resize + frame-sample over the decoded features, per-partition
    * batched like [[decodeFeatures]].
    */
  def processedFeatures(s: SparkSession, dir: String, maxSide: Int = 32,
      everyK: Int = 5): Dataset[(MediaFeatures, Seq[Int])] =
    processedFeaturesOf(mediaTable(s, dir), maxSide, everyK)

  /** The m2 chain over ANY media frame — the spec drives it with real
    * PNG payloads so the resize arithmetic is exercised on true
    * decoded geometry, not just the stub's.
    */
  def processedFeaturesOf(media: Dataset[MediaRow], maxSide: Int = 32,
      everyK: Int = 5): Dataset[(MediaFeatures, Seq[Int])] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val d = decodeImage(r)
      val f = MediaFeatures(d.media_id, d.kind, d.width, d.height,
        d.n_frames, d.checksum)
      val rs = stubResize(f, maxSide)
      (rs, stubSampleFrames(rs, everyK))
    })
  }

  /** m1 — metadata + stub features as a relational query (oracle-
    * checkable: byte length, md5 checksum, and the stub geometry are
    * all deterministic arithmetic over the payload).
    */
  def binaryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeFeatures(s, dir)
      .toDF()
      .select(col("media_id"), col("kind"),
        col("width").cast(LongType), col("height").cast(LongType),
        col("n_frames").cast(LongType), col("checksum"))
  }

  /** m2 — the full decode → resize → frame-sample pipeline as a
    * relational query: post-resize geometry and sampled-frame count
    * per media row. Every kernel is the documented stub, so the whole
    * chain is deterministic arithmetic the oracle replays; the frame
    * list itself stays out of the projection (count only) to keep the
    * result hashable.
    */
  def mediaProcess(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    processedFeatures(s, dir)
      .map { case (f, frames) =>
        (f.media_id, f.kind, f.width.toLong, f.height.toLong,
          frames.size.toLong) }
      .toDF("media_id", "kind", "width", "height", "n_sampled")
  }

  /** m3 — exact media dedup: byte-identical payload groups per kind
    * (content hash of the BINARY column, representative = min
    * media_id, multiplicity). The d1 pattern lifted to media: the
    * shuffle carries (kind, 32-byte hash, id) — payload bytes are
    * scanned once for the hash and never shuffled, which is the only
    * viable shape when the payload column is MB-scale media.
    */
  def mediaDedup(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).toDF()
      .select(col("kind"), md5(col("payload")).as("content_hash"),
        col("media_id"))
      .groupBy("kind", "content_hash")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n"))

  /** m4 — NEAR-dup media pairs by positional chunk fingerprints: the
    * payload splits into `chunks` equal slices, each slice is hashed,
    * and two media match when ≥ `minShared` same-position slices are
    * byte-identical — the block-hash dedup that catches truncated /
    * partially-corrupted re-uploads exact hashing (m3) misses. The
    * pair stage is an equi-join on (position, slice-hash) — blocking,
    * never all-pairs — and only (id, position, 32-byte hash) rows
    * shuffle; payload bytes are scanned once. `n_shared` grades the
    * match: byte-identical payloads score `chunks`, partial overlaps
    * less — the default `minShared` = 1 emits every candidate pair
    * (a verify tier thresholds downstream; on the synthetic corpus
    * near-dup edits are spread through the text, so positional blocks
    * rarely align more than twice).
    *
    * Fixture note: payloads here are UTF-8 text, and this DuckDB
    * can't slice or hash BLOBs — so the slicing is CHARACTER-based on
    * both engines (identical md5 of the identical substring's UTF-8
    * bytes). A real media kernel slices bytes; the plan shape is the
    * same. Payloads shorter than `chunks` slices are skipped (they
    * are m3's exact-hash territory).
    */
  def mediaChunkDedup(s: SparkSession, dir: String, chunks: Int = 8,
      minShared: Int = 1): DataFrame =
    mediaChunkDedupOf(Tables.load(s, dir, "documents"), chunks, minShared)

  /** [[mediaChunkDedup]] over an arbitrary (doc_id, text) frame. */
  def mediaChunkDedupOf(docsIn: DataFrame, chunks: Int = 8,
      minShared: Int = 1): DataFrame = {
    val docs = docsIn
      .select(col("doc_id").as("media_id"), col("text"),
        length(col("text")).cast(LongType).as("n"))
      .filter(col("text").isNotNull && col("n") >= chunks)
    val ch = docs
      .select(col("media_id"), col("text"), col("n"),
        explode(sequence(lit(0L), lit((chunks - 1).toLong))).as("ci"))
      .select(col("media_id"), col("ci"),
        md5(expr(s"substring(text, cast(ci * n div $chunks as int) + 1, " +
          s"cast((ci + 1) * n div $chunks - ci * n div $chunks as int))"))
          .as("fp"))
    ch.as("a").join(ch.as("b"),
        col("a.ci") === col("b.ci") && col("a.fp") === col("b.fp") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // -- m6: media duplicate clusters -------------------------------------------

  /** Overlap floor for an m4 pair to count as an m6 cluster edge —
    * m4's own default (1: every candidate pair is an edge; exact
    * copies score all 8). A production run raises this (or verifies
    * candidates first, the d2→d3 posture) — on the synthetic corpus
    * near-dup edits spread through the text, so even byte-identical
    * re-uploads are the main ≥2 signal and a higher floor leaves the
    * gate-scale graph empty.
    */
  val MediaClusterMinShared = 1

  /** m6 — media duplicate CLUSTERS: the transitive closure of m4's
    * positional chunk-fingerprint pairs, one row per clustered media
    * with its min-id cluster representative and a keep flag — m4
    * grades pairs, m6 answers the question storage dedup actually
    * asks ("which uploads are the same asset, and which copy do we
    * keep?"). A truncated re-upload pairs with the original AND with
    * other truncations; closure collapses the whole family to one
    * representative, exactly like d8 does for text.
    *
    * Shape: the m4 blocking join (only 32-byte slice hashes shuffle)
    * feeds [[graft.llm.Dedup.connectedComponents]] — the same
    * two-tier CC (driver union-find under the broadcast budget,
    * large-star/small-star alternation above it) every other cluster
    * family rides; payload bytes are scanned exactly once.
    */
  def mediaDupClusters(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.connectedComponents(
      mediaChunkDedup(s, dir)
        .filter(col("n_shared") >= MediaClusterMinShared)
        .select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("media_id"), col("cluster_id"),
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0).as("keep"))

  // -- m5: perceptual near-dup ----------------------------------------------

  /** m5 band layout: 60-bit signatures split into 6 bands of 10 bits;
    * by pigeonhole any pair within hamming [[PhashMaxHamming]] = 5
    * shares at least one exact band. 60 bits because that is the
    * portable hash width ([[graft.llm.TextAnalysis.hash60]]), so the
    * real-pixel and fallback signatures share one band layout.
    */
  val PhashBands = 6
  val PhashBandBits = 10
  val PhashMaxHamming = 5

  /** 60-bit average-hash of a decoded image: luminance means over a
    * fixed 10×6 grid, bit j set iff cell j's mean exceeds the grid
    * mean — the classic aHash with the grid sized to the engine's
    * 60-bit hash width. Downscale-invariant by construction (the
    * block means ARE the resize), and robust to small local edits:
    * a patch flips only the cells it covers.
    */
  private[graft] def pixelAHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = Array.ofDim[Long](60)
    val cnts = Array.ofDim[Long](60)
    var y = 0
    while (y < h) {
      val cy = y * 6 / h
      var x = 0
      while (x < w) {
        val cx = x * 10 / w
        val p = img.getRGB(x, y)
        val i = cy * 10 + cx
        sums(i) += ((p >> 16) & 0xff) * 299L + ((p >> 8) & 0xff) * 587L +
          (p & 0xff) * 114L
        cnts(i) += 1
        x += 1
      }
      y += 1
    }
    val means = Array.tabulate(60)(i =>
      if (cnts(i) == 0) 0.0 else sums(i).toDouble / cnts(i))
    val avg = means.sum / 60
    (0 until 60).foldLeft(0L)((acc, i) =>
      if (means(i) > avg) acc | (1L << i) else acc)
  }

  private def tryPixelAHash(r: MediaRow): Option[Long] =
    if (r.kind != "image" || r.payload == null ||
      !looksLikeImage(r.payload)) None
    else try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null) None else Some(pixelAHash60(img))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-media 60-bit perceptual signature: the REAL [[pixelAHash60]]
    * when an image payload decodes; otherwise the d4 SimHash machinery
    * over the payload's UTF-8 text at the full 60-bit hash width — the
    * content-shaped fallback that keeps the m5 query deterministic and
    * SQL-replayable on the text-payload fixture (real decodes are
    * spec-pinned on genuine PNG bytes). Decode runs once per row in a
    * partition-batched pass; the checkpointed scan is (id, kind, flag,
    * sig-or-payload), consumed by the two signature branches.
    */
  def mediaPhashOf(media: Dataset[MediaRow]): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    val scanned = media.mapPartitions(_.map { r =>
      val ph = tryPixelAHash(r)
      (r.media_id, r.kind, ph.isDefined, ph.getOrElse(0L),
        if (ph.isDefined) null else r.payload)
    }).toDF("media_id", "kind", "decoded", "psig", "payload")
      .localCheckpoint(true)
    val real = scanned.filter(col("decoded"))
      .select(col("media_id"), col("kind"), col("psig").as("sig"))
    val sums = (0 until 60).map(j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$j"))
    val fallback = scanned
      .filter(!col("decoded") && col("payload").isNotNull)
      .select(col("media_id"), col("kind"),
        explode(TextAnalysis.tokens(decode(col("payload"), "UTF-8")))
          .as("tok"))
      .select(col("media_id"), col("kind"),
        TextAnalysis.hash60(col("tok")).as("hv"))
      .groupBy("media_id", "kind").agg(sums.head, sums.tail: _*)
      .select(col("media_id"), col("kind"),
        (0 until 60).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sig"))
    real.unionByName(fallback)
  }

  /** m5 — perceptual near-dup media pairs within a kind: signatures
    * band into [[PhashBands]]×[[PhashBandBits]]-bit slices; pigeonhole
    * makes equal-(kind, band) buckets a complete candidate generator
    * for hamming ≤ [[PhashMaxHamming]], then the exact popcount filter
    * keeps true matches — the d5 machinery at the 60-bit width, with
    * the same oversized-bucket star-link guard.
    */
  /** The banded signature layout — one row per (media, band); the
    * shared shape of the in-query pair join and the persisted index.
    */
  private def bandedSigs(sh: DataFrame): DataFrame =
    sh.select(col("media_id"), col("kind"), col("sig"),
        posexplode(array((0 until PhashBands).map(b =>
          shiftright(col("sig"), b * PhashBandBits)
            .bitwiseAND((1 << PhashBandBits) - 1)): _*)))
      .toDF("media_id", "kind", "sig", "band_idx", "band_val")

  def mediaPhashPairsOf(media: Dataset[MediaRow],
      maxBucket: Int = 1000): DataFrame = {
    val banded = bandedSigs(mediaPhashOf(media))
    banded
      .groupBy("kind", "band_idx", "band_val")
      .agg(array_sort(collect_list(struct(col("media_id"), col("sig"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("kind"), col("ds"), posexplode(col("ds")))
      .filter(size(col("ds")) <= maxBucket || col("pos") === 0)
      .select(col("kind"), col("col.media_id").as("id_a"),
        col("col.sig").as("sig_a"),
        explode(slice(col("ds"), col("pos") + 2, size(col("ds")))).as("o"))
      .select(col("kind"), col("id_a"), col("o.media_id").as("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("o.sig"))).as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .distinct()
  }

  def mediaPhashPairs(s: SparkSession, dir: String): DataFrame =
    mediaPhashPairsOf(mediaTable(s, dir))

  /** PERSISTS the perceptual signature index — the banded layout
    * BUCKETED by band value (the LSH-index posture): signatures are
    * computed (and images decoded) ONCE per corpus release, and an
    * incremental batch's banded rows route straight to the matching
    * buckets, so the per-ingest near-dup check is O(batch) with the
    * stored corpus never re-decoded, re-hashed, or re-shuffled.
    */
  def writePhashIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    graft.ops.Partitioning.writeBucketed(
      bandedSigs(mediaPhashOf(mediaTable(s, dir))), table, "band_val",
      buckets)

  /** Appends a new batch's banded signatures into the persisted
    * [[writePhashIndex]] table (positional bucketed `insertInto` — the
    * BM25-index append posture): per-ingest cost is one decode + sign
    * pass over the batch plus the append of its ≤ batch×[[PhashBands]]
    * band rows into the matching buckets.
    */
  def appendToPhashIndex(s: SparkSession, batch: Dataset[MediaRow],
      table: String): Unit =
    bandedSigs(mediaPhashOf(batch)).write.mode("append").insertInto(table)

  /** Perceptual near-dup check of a NEW media batch against the
    * persisted [[writePhashIndex]] table: pairs (new, stored) within
    * hamming [[PhashMaxHamming]] of the same kind — band-bucket
    * candidate routing, exact popcount verify, same completeness
    * pigeonhole as the batch join.
    *
    * Skew posture mirrors [[mediaPhashPairsOf]]'s star-link guard: a
    * HOT band value in the stored index (near-constant image regions
    * hash whole corpora into one band bucket) would otherwise fan each
    * batch row out by the full bucket size. Buckets above `maxBucket`
    * match only their MIN stored id — the cluster anchor the
    * downstream CC/representative election presumes — so the join's
    * per-row fanout is bounded while hot-cluster membership is still
    * reported. Bucket sizes come from the index rows the probe reads
    * anyway (the batch's collected band keys prune the scan first —
    * an ingest batch is small by contract, so the isin list is
    * pruning metadata, not data).
    */
  def phashPairsFromIndex(s: SparkSession, table: String,
      batch: Dataset[MediaRow], maxBucket: Int = 1000): DataFrame = {
    val nb = bandedSigs(mediaPhashOf(batch)).localCheckpoint(true)
    val probeVals = nb.select("band_val").distinct()
      .collect().map(_.getLong(0)).toSeq
    val idx = s.table(table)
      .filter(col("band_val").isin(probeVals: _*))
      .select(col("kind"), col("band_idx"), col("band_val"),
        col("media_id").as("id_old"), col("sig").as("sig_old"))
      .localCheckpoint(true)
    val bsz = idx.groupBy("kind", "band_idx", "band_val")
      .agg(count(lit(1)).as("bn"), min(col("id_old")).as("anchor"))
    nb.select(col("kind"), col("band_idx"), col("band_val"),
        col("media_id").as("id_new"), col("sig").as("sig_new"))
      .join(idx, Seq("kind", "band_idx", "band_val"))
      .join(broadcast(bsz), Seq("kind", "band_idx", "band_val"))
      .filter(col("bn") <= maxBucket || col("id_old") === col("anchor"))
      .filter(col("id_new") =!= col("id_old"))
      .select(col("kind"), col("id_new"), col("id_old"),
        bit_count(col("sig_new").bitwiseXOR(col("sig_old"))).as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m6_media_clusters" -> mediaDupClusters _,
    "m5_media_phash" -> mediaPhashPairs _,
    "m1_binary_meta" -> binaryMeta _,
    "m2_media_process" -> mediaProcess _,
    "m3_media_dedup" -> mediaDedup _,
    "m4_media_chunkdup" -> ((s: SparkSession, dir: String) =>
      mediaChunkDedup(s, dir)))

  val oracleSql: Map[String, String] = Map(
    // m5: on the text-payload fixture every row takes the fallback
    // path, so the whole chain replays — the d4/d5 SQL at 60 bits with
    // 6×10-bit bands and the same star-link guard
    "m5_media_phash" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    text FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT media_id, kind,
         |  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM m),
         |h AS (SELECT media_id, kind,
         |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM tk),
         |bsum AS (SELECT media_id, kind, j,
         |  SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
         |  GROUP BY 1, 2, 3),
         |sh AS (SELECT media_id, kind,
         |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
         |    AS sig
         |  FROM bsum GROUP BY 1, 2),
         |banded AS (SELECT media_id, kind, sig, b AS band_idx,
         |  (sig >> (b * $PhashBandBits)) & ${(1 << PhashBandBits) - 1}
         |    AS band_val
         |  FROM sh CROSS JOIN (
         |    SELECT unnest(generate_series(0, ${PhashBands - 1})) AS b)),
         |bsz AS (SELECT kind, band_idx, band_val, COUNT(*) AS n,
         |    MIN(media_id) AS rep
         |  FROM banded GROUP BY 1, 2, 3)
         |SELECT DISTINCT x.kind, x.media_id AS id_a, y.media_id AS id_b,
         |  bit_count(xor(x.sig, y.sig)) AS hamming
         |FROM banded x JOIN banded y
         |  ON x.kind = y.kind AND x.band_idx = y.band_idx
         |  AND x.band_val = y.band_val AND x.media_id < y.media_id
         |JOIN bsz ON bsz.kind = x.kind AND bsz.band_idx = x.band_idx
         |  AND bsz.band_val = x.band_val
         |WHERE bit_count(xor(x.sig, y.sig)) <= $PhashMaxHamming
         |  AND (bsz.n <= 1000 OR x.media_id = bsz.rep)""".stripMargin,
    // m4: character-based slicing on both engines (see the Spark-side
    // note); `//` is DuckDB's BIGINT floor division = Spark's `div`
    "m4_media_chunkdup" ->
      """WITH d AS (SELECT doc_id AS media_id, text, length(text) AS n
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
        |ch AS (SELECT media_id, c.range AS ci,
        |  md5(substring(text, CAST((c.range * n) // 8 AS BIGINT) + 1,
        |    CAST(((c.range + 1) * n) // 8 - (c.range * n) // 8 AS BIGINT)))
        |    AS fp
        |  FROM d CROSS JOIN range(8) c)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM ch a JOIN ch b ON a.ci = b.ci AND a.fp = b.fp
        |  AND a.media_id < b.media_id
        |GROUP BY 1, 2""".stripMargin,
    // m6: m4's pair SQL as the edge list (overlap floor applied),
    // then the d8 recursive-reachability closure with min-id labels
    "m6_media_clusters" ->
      s"""WITH RECURSIVE
        |d AS (SELECT doc_id AS media_id, text, length(text) AS n
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
        |ch AS (SELECT media_id, c.range AS ci,
        |  md5(substring(text, CAST((c.range * n) // 8 AS BIGINT) + 1,
        |    CAST(((c.range + 1) * n) // 8 - (c.range * n) // 8 AS BIGINT)))
        |    AS fp
        |  FROM d CROSS JOIN range(8) c),
        |p AS (SELECT a.media_id AS id_a, b.media_id AS id_b
        |  FROM ch a JOIN ch b ON a.ci = b.ci AND a.fp = b.fp
        |    AND a.media_id < b.media_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $MediaClusterMinShared),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |r AS (SELECT id AS node, id AS reach FROM nodes
        |  UNION
        |  SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a)
        |SELECT node AS media_id, min(reach) AS cluster_id,
        |  CAST(CASE WHEN node = min(reach) THEN 1 ELSE 0 END AS INTEGER)
        |    AS keep
        |FROM r GROUP BY node""".stripMargin,
    // m3: md5 of the VARCHAR is md5 of its UTF-8 bytes — exactly the
    // payload Spark hashes (encode(text, 'UTF-8'))
    "m3_media_dedup" ->
      """SELECT kind, content_hash, MIN(media_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  md5(text) AS content_hash FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id AS media_id,
        |['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |16 + strlen(text) % 64 AS width,
        |16 + (strlen(text) // 64) % 64 AS height,
        |CASE WHEN doc_id % 3 = 2 THEN 1 + strlen(text) % 30 ELSE 1 END AS n_frames,
        |md5(text) AS checksum
        |FROM documents""".stripMargin,
    // m2: stub-resize clamps to a 32px bounding box preserving aspect
    // (floor() mirrors Scala's positive-value .toInt truncation —
    // DuckDB's bare double→int CAST rounds and would diverge);
    // every-5th-frame sampling counts ceil(n_frames / 5) per video
    "m2_media_process" ->
      """WITH base AS (SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  16 + strlen(text) % 64 AS w,
        |  16 + (strlen(text) // 64) % 64 AS h,
        |  CASE WHEN doc_id % 3 = 2 THEN 1 + strlen(text) % 30 ELSE 1 END AS nf
        |  FROM documents)
        |SELECT media_id, kind,
        |  CAST(GREATEST(1, FLOOR(w * LEAST(1.0, 32.0 / GREATEST(w, h))))
        |    AS BIGINT) AS width,
        |  CAST(GREATEST(1, FLOOR(h * LEAST(1.0, 32.0 / GREATEST(w, h))))
        |    AS BIGINT) AS height,
        |  CAST(CASE WHEN kind = 'video' THEN (nf + 4) // 5 ELSE 1 END
        |    AS BIGINT) AS n_sampled
        |FROM base""".stripMargin)
}
