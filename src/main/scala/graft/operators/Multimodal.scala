package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed per-partition in batches.
  *
  * The decode step is REAL for still images (PNG/JPEG/BMP/GIF via the
  * JDK's `javax.imageio` — no extra dependencies) and falls back to
  * byte-level stats for unknown codecs (audio/video would swap a JNI/codec
  * call into the same seam). Everything Spark-side is load-bearing at
  * scale: binary schema, metadata struct, partition-batched iteration (one
  * codec init per partition, not per row — the same shape a
  * Pandas-UDF/`mapInPandas` pipeline has in PySpark).
  */
object Multimodal {

  /** Attach a binary payload + metadata struct to a docs table, modeling an
    * image column. Payload here is the utf-8 text bytes (deterministic
    * stand-in for real media bytes).
    */
  def attachBinary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      // long, explicitly: decode's row.getLong and featureSchema
      // declare LongType — an int id would CCE executor-side
      col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        (pmod(col(idCol), lit(640)) + 1).cast("int").as("width"),
        (pmod(col(idCol), lit(480)) + 1).cast("int").as("height"),
        lit("fake/rgb8").as("format")).as(s"meta"))

  /** Adapt a [[graft.sources.DataSources.readBinaryFiles]] frame (path,
    * content, ...) to the (doc_id, payload, meta) layout [[decode]] /
    * [[frameSample]] consume: doc_id = xxhash64(path) (deterministic and
    * shuffle-safe — never monotonically_increasing_id), payload = raw file
    * bytes, meta dimensions 0 (unknown until decode — the real codec fills
    * them in [[decode]]'s per-partition seam). The original `path`
    * rides along: it is the collision-proof identity (64-bit hash ids
    * start colliding around billions of files) and the provenance column
    * every corpus pipeline needs for audits.
    */
  def fromBinaryFiles(files: DataFrame): DataFrame =
    files.select(
      xxhash64(col("path")).as("doc_id"),
      col("path"),
      col("content").as("payload"),
      struct(
        lit(0).as("width"), lit(0).as("height"),
        lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1)).as("format")).as("meta"))

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("byte_len", IntegerType),
    StructField("mean_byte", DoubleType),
    StructField("checksum", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_pixel", DoubleType)))

  /** Image formats `javax.imageio`'s built-in readers decode — the gate for
    * the real-decode path (attempting ImageIO on arbitrary non-image bytes
    * would pay a reader probe per row for nothing).
    */
  private val imageFormats = Set("png", "jpg", "jpeg", "bmp", "gif", "wbmp")

  /** Per-partition batched decode + feature extraction. The metadata fields
    * ride along through the same pass — at 100 TB of media bytes a
    * join-back to recover two ints would mean a second full scan plus a
    * shuffle, so the decode emits them directly.
    *
    * REAL decode for PNG/JPEG/BMP/GIF via `javax.imageio` (zero extra
    * dependencies): width/height come from the decoded image and
    * `mean_pixel` is the mean sample value across all pixels and bands.
    * Everything else (unknown codec, undecodable bytes, the synthetic
    * `fake/rgb8` payloads) falls back to the byte-stats path — metadata
    * dimensions pass through and `mean_pixel` is NULL. Byte stats
    * (byte_len / mean_byte / checksum) are computed for every payload
    * either way: they are the payload-identity features. Audio/video
    * codecs would slot into the same per-partition seam.
    */
  def decode(withBinary: DataFrame): DataFrame = {
    val spark = withBinary.sparkSession
    val rdd = withBinary
      .select(col("doc_id"), col("payload"), col("meta.width"), col("meta.height"),
        lower(col("meta.format")).as("format"))
      .rdd.mapPartitions { iter =>
        // per-partition codec init: one cache-config call, not one per row
        // (and a real native codec's handle would be created exactly here)
        javax.imageio.ImageIO.setUseCache(false)
        iter.map { row =>
          val id = if (row.isNullAt(0)) null else Long.box(row.getLong(0))
          val metaW = if (row.isNullAt(2)) null else Int.box(row.getInt(2))
          val metaH = if (row.isNullAt(3)) null else Int.box(row.getInt(3))
          val fmt = if (row.isNullAt(4)) "" else row.getString(4)
          val bytes = row.getAs[Array[Byte]](1)
          if (bytes == null) Row(id, null, null, null, metaW, metaH, null)
          else {
            var sum = 0L
            var checksum = 1L
            bytes.foreach { b =>
              sum += (b & 0xff)
              checksum = (checksum * 31 + (b & 0xff)) & 0xFFFFFFFFL
            }
            val meanByte = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length
            val decoded =
              if (!imageFormats(fmt) || bytes.isEmpty) None
              else try Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes)))
              catch { case _: java.io.IOException => None }
            decoded match {
              case Some(img) =>
                val raster = img.getRaster
                val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
                var s = 0.0
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    var b = 0
                    while (b < bands) { s += raster.getSampleDouble(x, y, b); b += 1 }
                    x += 1
                  }
                  y += 1
                }
                Row(id, bytes.length, meanByte, checksum, w, h,
                  s / (w.toLong * h * bands))
              case None =>
                Row(id, bytes.length, meanByte, checksum, metaW, metaH, null)
            }
          }
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Full pipeline: attach binary → decode/extract, metadata carried through
    * the decode pass — ONE scan, zero joins: the shape a 100 TB
    * image-dataset featurization job has.
    */
  def featurize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    decode(attachBinary(docs, idCol, textCol))

  /** Image resize: binary in → binary out with consistent metadata,
    * evaluated per-partition with no shuffle — the exact shape of a 100 TB
    * thumbnail job.
    *
    * REAL resampling for `javax.imageio` formats: decode → bilinear scale
    * to (min(w, targetW), min(h, targetH)) — never upscaled, matching the
    * metadata contract below — → re-encode as PNG. Non-image payloads
    * (including the synthetic `fake/rgb8` ones) keep the byte-thinning
    * fallback: payload truncated proportionally to the area ratio, so the
    * volume shape of the job is still exercised end-to-end without a
    * codec. Both paths emit width = min(w, targetW), height =
    * min(h, targetH).
    */
  def resize(withBinary: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val spark = withBinary.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val rdd = withBinary.select(col("doc_id"), col("payload"),
        col("meta.width"), col("meta.height"),
        lower(col("meta.format")).as("format")).rdd.mapPartitions { iter =>
      javax.imageio.ImageIO.setUseCache(false)
      iter.map { row =>
        val id = if (row.isNullAt(0)) null else Long.box(row.getLong(0))
        val bytes = row.getAs[Array[Byte]](1)
        val fmt = if (row.isNullAt(4)) "" else row.getString(4)
        val decoded =
          if (bytes == null || bytes.isEmpty || !imageFormats(fmt)) None
          else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
          catch { case _: java.io.IOException => None }
        decoded match {
          case Some(img) =>
            val (nw, nh) = (math.min(img.getWidth, targetW), math.min(img.getHeight, targetH))
            val scaled = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, nw, nh, null)
            g.dispose()
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "png", out)
            Row(id, out.toByteArray, nw, nh)
          case None =>
            // null payload or meta: nothing to resample — propagate nulls
            // (same null discipline as decode; primitive getInt on a null
            // cell would NPE executor-side)
            if (bytes == null || row.isNullAt(2) || row.isNullAt(3))
              Row(id, null, null, null)
            else {
              val (w, h) = (row.getInt(2), row.getInt(3))
              // byte-stats fallback "resample": keep bytes proportional to
              // the area ratio
              val ratio = math.min(1.0, (targetW.toLong * targetH).toDouble / (w.toLong * h))
              val keep = math.max(1, (bytes.length * ratio).toInt)
              Row(id, bytes.take(keep), math.min(w, targetW), math.min(h, targetH))
            }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Historical name from when the resample path was a stub — forwards to
    * [[resize]].
    */
  @deprecated("use resize - the image path really resamples now", "round 9")
  def resizeStub(withBinary: DataFrame, targetW: Int, targetH: Int): DataFrame =
    resize(withBinary, targetW, targetH)

  private val phashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("phash", LongType),
    StructField("decoded", BooleanType)))

  /** Perceptual hash per payload — the signature feeding
    * [[Dedup.hammingNearDuplicates]] for image near-dup at corpus scale
    * (a re-encoded/resized copy keeps a close aHash while its bytes, and
    * so its md5, change completely).
    *
    * REAL aHash for `javax.imageio` formats: bilinear-scale to 8×8, gray =
    * mean across bands per pixel, bit i (row-major) set iff gray_i is
    * STRICTLY above the 64-cell mean — a constant image hashes to 0, and
    * the threshold convention is pinned so the same image always produces
    * the same 64-bit signature. Non-decodable payloads (including the
    * synthetic `fake/rgb8` ones) take a clearly-labeled deterministic
    * stand-in: the md5-hex-prefix 60-bit hash of the payload bytes — NOT
    * perceptual (md5 is anti-perceptual by design), but engine-replayable
    * (`('0x' || substr(md5(payload), 1, 15))::BIGINT` over the same
    * bytes), which is what the correctness gate needs; a real pipeline
    * swaps a pHash/dHash codec into this same per-partition seam.
    *
    * Same scale shape as [[decode]]: one per-partition pass, zero
    * shuffles, `decoded` marking which path produced each signature.
    */
  def perceptualHash(withBinary: DataFrame): DataFrame = {
    val spark = withBinary.sparkSession
    val rdd = withBinary
      .select(col("doc_id"), col("payload"), lower(col("meta.format")).as("format"))
      .rdd.mapPartitions { iter =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        iter.map { row =>
          val id = if (row.isNullAt(0)) null else Long.box(row.getLong(0))
          val fmt = if (row.isNullAt(2)) "" else row.getString(2)
          val bytes = row.getAs[Array[Byte]](1)
          if (bytes == null) Row(id, null, null)
          else {
            val decoded =
              if (!imageFormats(fmt) || bytes.isEmpty) None
              else try Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes)))
              catch { case _: java.io.IOException => None }
            decoded match {
              case Some(img) =>
                val small = new java.awt.image.BufferedImage(8, 8,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = small.createGraphics()
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, 8, 8, null)
                g.dispose()
                val raster = small.getRaster
                val bands = raster.getNumBands
                val gray = Array.tabulate(64) { i =>
                  var s = 0.0
                  var b = 0
                  while (b < bands) { s += raster.getSampleDouble(i % 8, i / 8, b); b += 1 }
                  s / bands
                }
                val mean = gray.sum / 64
                var h = 0L
                var i = 0
                while (i < 64) { if (gray(i) > mean) h |= 1L << i; i += 1 }
                Row(id, h, true)
              case None =>
                md.reset()
                val hex = md.digest(bytes).take(8).map(b => f"${b & 0xff}%02x").mkString
                Row(id, java.lang.Long.parseLong(hex.substring(0, 15), 16), false)
            }
          }
        }
      }
    spark.createDataFrame(rdd, phashSchema)
  }

  /** Frame sampling for video-like payloads: treat the binary as fixed-size
    * frames, keep every `everyN`-th — pure column algebra (posexplode +
    * binary substring), one output row per kept frame, no shuffle. A real
    * pipeline replaces the fixed-stride slicing with container parsing in
    * [[decode]]'s per-partition loop; the row-explosion shape, frame
    * numbering, and byte-slicing stay exactly as here.
    */
  def frameSample(withBinary: DataFrame, frameBytes: Int, everyN: Int): DataFrame = {
    // division by 0 → Infinity → ceil wraps negative on the int cast, and
    // pmod(x, 0) is NULL: either would silently return an EMPTY result
    // instead of failing
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    withBinary
      .withColumn("n_frames",
        ceil(length(col("payload")).cast("double") / frameBytes).cast("int"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("payload"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1)).as(Seq("frame_no", "i")))
      .filter(pmod(col("frame_no"), lit(everyN)) === 0)
      .select(col("doc_id"), col("frame_no"), col("n_frames"),
        col("payload").substr(col("frame_no") * frameBytes + 1, lit(frameBytes))
          .as("frame_bytes"))
  }

  /** Audio frame energy + silence gate: the third modality. The payload is
    * read as u8 PCM (a real WAV sample format; a compressed codec would
    * swap in at [[graft.functions.PcmFrameEnergyExpr]] exactly like the
    * image readers at [[decode]]'s seam) and each `frameLen`-byte frame
    * emits its exact-integer energy Σ(sample−128)² plus a silence verdict
    * against `silenceThreshold` — one output row per frame.
    *
    * Scale shape: one codegen'd projection + posexplode, zero shuffles,
    * zero UDFs; frames of one clip stay in the producing partition. The
    * downstream "trim the silent lead/tail" is then a per-doc aggregate
    * (min/max frame_no where silent = false), which the caller composes
    * as a plain groupBy.
    */
  def audioFrameEnergy(withBinary: DataFrame, frameLen: Int,
      silenceThreshold: Long): DataFrame = {
    require(silenceThreshold >= 0, s"silenceThreshold must be >= 0, got $silenceThreshold")
    withBinary.select(col("doc_id"),
        posexplode(graft.functions.PcmFrameEnergyExpr
          .pcmFrameEnergy(col("payload"), frameLen)).as(Seq("frame_no", "energy")))
      .withColumn("silent", col("energy") < silenceThreshold)
  }

  /** Scene-cut detection for video-like payloads: each consecutive frame
    * pair emits its exact-integer SSD
    * ([[graft.functions.FrameDeltaEnergyExpr]]) and a cut verdict against
    * `cutThreshold` — the shot-boundary signal a video curation pipeline
    * segments on before per-scene sampling ([[frameSample]] then picks
    * within scenes). One output row per frame PAIR (`frame_no` = the
    * index of the pair's SECOND frame, 1-based); a payload with fewer
    * than two frames contributes no rows.
    *
    * Scale shape: one codegen'd projection + posexplode, zero shuffles,
    * zero UDFs; a clip's pairs stay in the producing partition. The
    * downstream "scenes per clip" is a plain per-doc aggregate
    * (1 + Σ cut), which the caller composes as a groupBy.
    */
  def sceneCuts(withBinary: DataFrame, frameBytes: Int,
      cutThreshold: Long): DataFrame = {
    require(cutThreshold >= 0, s"cutThreshold must be >= 0, got $cutThreshold")
    withBinary.select(col("doc_id"),
        posexplode(graft.functions.FrameDeltaEnergyExpr
          .frameDeltaEnergy(col("payload"), frameBytes)).as(Seq("__p", "delta")))
      .select(col("doc_id"), (col("__p") + 1).as("frame_no"), col("delta"),
        (col("delta") > cutThreshold).as("cut"))
  }

  /** Voice-activity segmentation — [[audioFrameEnergy]] composed with the
    * gaps-and-islands pattern: consecutive NON-silent frames merge into
    * speech segments, the unit an ASR/diarization pipeline actually
    * consumes (leading/trailing/mid silence drops out; each segment
    * carries its frame bounds for clip extraction). Segment numbering is
    * 1-based by start frame.
    *
    * Scale shape: the frame explode is m05's zero-shuffle projection;
    * both the island window and the per-segment aggregate ride ONE
    * doc-key exchange (HashPartitioning(doc) satisfies the (doc, island)
    * clustering — the j08 idiom), and the seg_no window reuses it too.
    *
    * @return (doc_id, seg_no, start_frame, end_frame, n_frames)
    */
  def speechSegments(withBinary: DataFrame, frameLen: Int,
      silenceThreshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val voiced = audioFrameEnergy(withBinary, frameLen, silenceThreshold)
      .filter(!col("silent"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    voiced
      .withColumn("__island", col("frame_no") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("frame_no")).as("start_frame"),
        max(col("frame_no")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .withColumn("seg_no", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))))
      .select(col("doc_id"), col("seg_no"), col("start_frame"),
        col("end_frame"), col("n_frames"))
  }

  /** Text↔media pairing audit — the integrity gate ahead of any
    * paired-modality (CLIP-style) training run: per text-side group, how
    * many documents actually have their media row, plus one synthetic
    * `(orphan media)` row counting media that reference no document
    * (stale extractions, id drift). A pair_rate below 1.0 means the
    * downstream pair loader silently drops data; orphans mean the media
    * store carries dead weight — both are findable only by auditing the
    * join, which is exactly what this materializes.
    *
    * Scale shape: one equi-join on the id (broadcast/shuffle-hash by
    * size), one group aggregate, and a LEFT-ANTI for the orphan count —
    * no distinct, no window. The orphan row is keyed by a sentinel group
    * so the audit stays ONE frame a dashboard reads directly.
    *
    * Media ids are distinct()'d before the join — a media store that
    * carries duplicate rows for one id must not inflate n_paired through
    * left-join fanout (a doc is paired or not, never paired twice). The
    * group column is cast to STRING in the output so the `(orphan media)`
    * sentinel row unions cleanly whatever the group column's input type.
    *
    * @return (groupCol STRING, n_rows, n_paired, pair_rate); the orphan
    *         row has `n_rows` = orphan media count, n_paired = 0, NULL
    *         pair_rate
    */
  def pairAudit(docs: DataFrame, docIdCol: String, groupCol: String,
      media: DataFrame, mediaIdCol: String): DataFrame = {
    val d = docs.select(col(docIdCol).as("__id"),
      col(groupCol).cast("string").as(groupCol))
    val m = media.select(col(mediaIdCol).as("__mid")).distinct()
    val perGroup = d.join(m, col("__id") === col("__mid"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), count(col("__mid")).as("n_paired"))
      .select(col(groupCol), col("n_rows"), col("n_paired"),
        (col("n_paired").cast("double") / col("n_rows")).as("pair_rate"))
    val orphans = m.join(d, col("__mid") === col("__id"), "left_anti")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("(orphan media)").as(groupCol), col("n_rows"),
        lit(0L).as("n_paired"), lit(null).cast("double").as("pair_rate"))
    perGroup.unionByName(orphans)
  }

  /** Per-frame content signatures (round 17): [[frameSample]]'s kept
    * frames hashed to 60-bit signatures — the md5-60 oracle family over
    * the raw frame bytes (a real deployment swaps a per-frame perceptual
    * hash in at this seam exactly as [[perceptualHash]] does for whole
    * images; the sampling, signature, and pairing plumbing downstream is
    * unchanged). One codegen'd projection over the frame explosion, no
    * shuffle.
    *
    * @return (doc_id, frame_no, n_frames, sig)
    */
  def videoFrameSignatures(withBinary: DataFrame, frameBytes: Int,
      everyN: Int): DataFrame =
    frameSample(withBinary, frameBytes, everyN)
      .select(col("doc_id"), col("frame_no"), col("n_frames"),
        conv(substring(md5(col("frame_bytes")), 1, 15), 16, 10)
          .cast("long").as("sig"))

  /** Cross-video frame-overlap near-dup (round 17): which video PAIRS
    * share content, measured at the frame level — the video sibling of
    * m04's image pHash dedup, and the shape re-uploads/re-encodes take in
    * a crawl (same footage, different container). Frame signatures ride
    * the shared ≤64-bit hamming engine
    * ([[graft.operators.Dedup.hammingNearDuplicates]]: 4-block pigeonhole
    * candidates, never all-pairs) under a packed (video, frame) id — the
    * in-plan guard keeps the packing collision-free — then matched frame
    * pairs aggregate per video pair with DISTINCT-matched-frame counts
    * and per-side overlap fractions (a frame matching five frames of the
    * other video is one frame of overlap, not five).
    *
    * Scale shape: candidate generation is the hamming engine's block
    * shuffle; the per-pair aggregate and the two bounded per-video count
    * joins ride video-keyed exchanges over pair slivers.
    *
    * @param sigs (doc_id, frame_no, sig) from [[videoFrameSignatures]]
    * @return (video_a, video_b, n_matched_pairs, n_frames_a_matched,
    *         n_frames_b_matched, overlap_a, overlap_b), video_a < video_b
    */
  def videoNearDupPairs(sigs: DataFrame, maxHamming: Int = 2,
      blockBits: Int = 15): DataFrame =
    videoPairsFromPacked(packFrameIds(sigs), maxHamming, blockBits)

  /** The collision-free (video, frame) → fid packing stage of
    * [[videoNearDupPairs]], factored out (round 19) so the budget gate
    * reads the SAME packed frame the hamming join would.
    *
    * Packing needs BOTH range guards (round 18, advisor find): (a)
    * frame_no in [0, 1e6) so frames can't bleed into the video part;
    * (b) doc_id in the no-overflow band — doc_id * 1e6 wraps silently
    * for |doc_id| beyond ~9.2e12 (ANSI off), and wrapped fids can merge
    * DISTINCT videos (1e6 is even, so the wrap map is not injective).
    * Ids from xxhash64 (e.g. [[fromBinaryFiles]]) routinely exceed the
    * band — such corpora must remap to dense video ids before calling;
    * the in-plan assert makes that a loud error, never a silently
    * corrupted overlap count. NEGATIVE in-band ids are fine: the unpack
    * subtracts the pmod remainder first, so the truncating `div` always
    * divides an exact multiple — floor-division semantics for any sign,
    * consistent with pmod.
    */
  private def packFrameIds(sigs: DataFrame): DataFrame = {
    val maxDoc = (Long.MaxValue - 999999L) / 1000000L
    val minDoc = Long.MinValue / 1000000L
    sigs
      .filter(assert_true(
        col("frame_no") >= 0 && col("frame_no") < lit(1000000L)
          && col("doc_id") >= lit(minDoc) && col("doc_id") <= lit(maxDoc),
        concat(lit("videoNearDupPairs: (doc_id, frame_no) outside packing range: ("),
          col("doc_id").cast("string"), lit(", "),
          col("frame_no").cast("string"), lit(")"))).isNull)
      .select((col("doc_id") * lit(1000000L) + col("frame_no")).as("fid"),
        col("sig"))
  }

  /** Pairing + per-video-pair aggregation downstream of [[packFrameIds]].
    * Everything — the hamming join, the per-pair aggregate AND the
    * per-video frame counts — reads the packed frame only (round-19
    * review find: counts off the raw sigs frame would re-derive every
    * frame signature once more per call; off `packed`, column pruning
    * drops the signature bytes entirely and the gated variant's persist
    * covers every consumer).
    */
  private def videoPairsFromPacked(packed: DataFrame,
      maxHamming: Int, blockBits: Int): DataFrame = {
    // `div` (integral divide) of the exact multiple (fid - pmod): double
    // `/` would round above 2^53
    def unpackVideo(name: String) =
      expr(s"($name - pmod($name, 1000000L)) div 1000000L")
    val fp = Dedup.hammingNearDuplicates(packed, "fid", "sig",
        maxHamming, blockBits)
      .select(unpackVideo("doc_a").as("video_a"),
        pmod(col("doc_a"), lit(1000000L)).as("frame_a"),
        unpackVideo("doc_b").as("video_b"),
        pmod(col("doc_b"), lit(1000000L)).as("frame_b"))
      .filter(col("video_a") =!= col("video_b"))
    val counts = packed
      .select(unpackVideo("fid").as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__nf"))
    fp.groupBy(col("video_a"), col("video_b"))
      .agg(count(lit(1)).as("n_matched_pairs"),
        countDistinct(col("frame_a")).as("n_frames_a_matched"),
        countDistinct(col("frame_b")).as("n_frames_b_matched"))
      .join(counts.select(col("doc_id").as("video_a"), col("__nf").as("__na")),
        Seq("video_a"))
      .join(counts.select(col("doc_id").as("video_b"), col("__nf").as("__nb")),
        Seq("video_b"))
      .select(col("video_a"), col("video_b"), col("n_matched_pairs"),
        col("n_frames_a_matched"), col("n_frames_b_matched"),
        (col("n_frames_a_matched").cast("double") / col("__na")).as("overlap_a"),
        (col("n_frames_b_matched").cast("double") / col("__nb")).as("overlap_b"))
  }

  /** Budget-gated [[videoNearDupPairs]] (round 19) — the d40 contract
    * through [[CandidateGate]] (which documents the fail/guard branches),
    * propagated to the multimodal pair generator the round-18 verdict
    * flagged: constant frame payloads (stills, filler, boilerplate
    * intros) collapse the pigeonhole bands into one bucket and the
    * "banded" frame join silently turns all-pairs. The bound is
    * [[graft.operators.Dedup.hammingCandidateBound]] over the SAME
    * packed frame the join reads.
    *
    * @param maxCandidates total pre-verify frame-pair budget summed
    *        across the 4 pigeonhole blocks; `Long.MaxValue` skips the
    *        bound job entirely
    */
  def videoNearDupPairsBudgeted(sigs: DataFrame, maxHamming: Int = 2,
      blockBits: Int = 15, maxCandidates: Long = Long.MaxValue,
      onExceed: String = "fail"): DataFrame = {
    // the packed frame feeds the bound read AND the pair join — uncached,
    // each consumer would re-derive every frame signature from scratch.
    // The result is a per-video-pair aggregate, tiny next to the frames.
    val packed = packFrameIds(sigs)
    CandidateGate("video frame-pair", maxCandidates, onExceed, Seq(packed),
      "max_bucket_n",
      w => s"worst block ${w.getInt(0)}: ${w.getLong(1)} pairs, " +
        s"max bucket ${w.getLong(2)} frames",
      "the frame signatures are band-skewed — drop constant/filler frames " +
        "first, or route the decision as data (onExceed=\"guard\")")(
      bound = Dedup.hammingCandidateBound(packed, "fid", "sig", blockBits),
      pairs = videoPairsFromPacked(packed, maxHamming, blockBits))
  }
}
