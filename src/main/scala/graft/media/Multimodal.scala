package graft.media

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media blob with typed metadata — the multimodal column model:
  * image/audio/video payloads ride as opaque `binary` with metadata
  * columns beside them.
  */
case class MediaRecord(doc_id: Long, media_type: String, n_bytes: Long,
                       payload: Array[Byte])

/** Decoded media features (stub decode — see `Multimodal.decodeBatch`). */
case class DecodedMedia(doc_id: Long, media_type: String, n_bytes: Long,
                        width: Int, height: Int, channels: Int, ok: Boolean)

/** Decode + resize output (stub kernels, real batch plumbing). */
case class ResizedMedia(doc_id: Long, media_type: String,
                        width: Int, height: Int, out_w: Int, out_h: Int,
                        n_out_bytes: Long)

/** Multimodal-column plumbing: binary payload + typed metadata,
  * batch-shaped decode via `mapPartitions` over a typed Dataset.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked deterministic STUB — but everything around it is the
  * real production shape: schema (binary + metadata), per-partition
  * batching (the decoder sees `BatchSize` records at a time, the same
  * contract a vectorized/Arrow UDF would have), and partition-local
  * execution with no shuffle. Swapping the stub for a real
  * libjpeg/ffmpeg call changes one function.
  *
  * The synthetic corpus has no binary table, so payloads are derived
  * from `documents.text` bytes — deterministic, so the stub's outputs
  * are still DuckDB-oracle-checkable.
  */
object Multimodal {

  private val BatchSize = 64

  /** STUB decoder: a real implementation would hand `batch` to an
    * image/audio library. Deterministic fake: dimensions derived from
    * payload length.
    */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[DecodedMedia] =
    batch.map { m =>
      val w = 64 + (m.n_bytes % 512).toInt
      val h = 64 + ((m.n_bytes * 7) % 512).toInt
      DecodedMedia(m.doc_id, m.media_type, m.n_bytes, w, h, 3, m.n_bytes > 0)
    }

  /** STUB resize: fit into a 224×224 box preserving aspect ratio.
    * Integer arithmetic only ((dim·224) div max-side) so the oracle is
    * exact; a real implementation would hand the batch to an image
    * library's resize alongside the decoded pixels.
    */
  private def resizeBatch(batch: Seq[DecodedMedia]): Seq[ResizedMedia] =
    batch.map { m =>
      val side = math.max(m.width, m.height)
      val ow = (m.width * 224) / side
      val oh = (m.height * 224) / side
      ResizedMedia(m.doc_id, m.media_type, m.width, m.height, ow, oh,
        ow.toLong * oh * m.channels)
    }

  /** dHash-style 64-bit perceptual hash over the payload byte stream:
    * 64 stripes, bit i set when stripe i's mean byte value exceeds
    * stripe (i+1 mod 64)'s. This IS difference-hash with the byte
    * stream standing in for the downsampled grayscale grid (the
    * container has no codecs). The gradient form is chosen over the
    * global-mean aHash deliberately: a global mean makes EVERY bit
    * borderline-sensitive to any edit (measured here: one changed
    * byte flipped 5-15 bits on homogeneous text payloads), while
    * adjacent-stripe comparisons localize damage — a single-byte edit
    * touches one stripe and therefore AT MOST its two adjacent
    * comparisons, a provable ≤2-bit Hamming bound. Payloads shorter
    * than 64 bytes are ZERO-PADDED to 64 before striping: below that
    * length multiple stripes would share a byte (from = s*n/64
    * collides) and one edit could flip more than two comparisons —
    * padding gives every stripe its own byte so the locality bound
    * holds unconditionally (tiling would NOT: a repeated byte appears
    * in several stripes). A real implementation hashes decoded
    * pixels; the kernel swap is one function, the pipeline around it
    * is the real shape.
    */
  private[graft] def dHash64(raw: Array[Byte]): Long = {
    if (raw.length == 0) return 0L
    val bytes =
      if (raw.length >= 64) raw else java.util.Arrays.copyOf(raw, 64)
    val n = bytes.length
    val avg = new Array[Double](64)
    var s = 0
    while (s < 64) {
      val from = s * n / 64
      val to = math.max(from + 1, (s + 1) * n / 64)
      var sum = 0.0
      var j = from
      while (j < to) { sum += (bytes(j) & 0xFF); j += 1 }
      avg(s) = sum / (to - from)
      s += 1
    }
    var h = 0L
    s = 0
    while (s < 64) {
      if (avg(s) > avg((s + 1) % 64)) h |= 1L << s
      s += 1
    }
    h
  }

  /** q_media_audio_vad window width: 16 payload bytes = one 1 ms
    * frame at the 16 kB/s stand-in rate. Window energies are k/16
    * with k an integer sum of byte values — exactly representable
    * doubles whose partial sums are order-independent, which is what
    * makes the active-threshold compare engine-exact.
    */
  val VadWindowBytes = 16

  /** q_media_scene_cut Hamming threshold: identical stub frames hash
    * identically (distance 0); a content jump between 64-byte blocks
    * of the byte stream lands near 32 — 10 splits the two regimes
    * with wide margin on both sides.
    */
  val CutThreshold = 10

  /** Per-video frame rows (frame_idx, ts_ms, scene_id) for
    * q_media_scene_cut — ALL sequential logic local to one row's
    * payload. Stub frame f's content is the 64-byte block at
    * ((f / shotLen) * 64) mod span: runs of shotLen identical frames
    * (a static shot) with a content jump at each shot boundary; the
    * kernel swap for real decoded frames is this one function.
    */
  private[graft] def sceneFrames(id: Long, payload: Array[Byte])
      : Seq[(Long, Long, Long, Long)] = {
    val n = payload.length
    if (n == 0) return Seq((id, 0L, 0L, 0L))
    val nFrames = (1L + n % 240L).toInt
    val span = math.max(1, n - 63)
    val shotLen = 4 + (n % 5)
    var scene = 0L
    var prev = 0L
    (0 until nFrames).map { f =>
      val off = ((f / shotLen) * 64) % span
      val h = dHash64(java.util.Arrays.copyOfRange(payload, off,
        math.min(n, off + 64)))
      if (f > 0 && java.lang.Long.bitCount(h ^ prev) > CutThreshold) scene += 1
      prev = h
      (id, f.toLong, f * 40L, scene)
    }
  }

  private def mediaRecords(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("source") === "src0", "image")
          .when(col("source") === "src1", "audio")
          .otherwise("video").as("media_type"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Metadata gate for the composed pipeline: payloads below this
    * floor are malformed ingests (truncated files). 64 B is also the
    * dHash stripe width, so every gated payload gives each hash
    * stripe its own byte.
    */
  val MetaGateBytes = 64L

  /** Image rows plus their re-encoded variants — the %11
    * first-byte-edit fixture (a length-preserving edit, the re-encode
    * analog), variants re-keyed past max(doc_id). Shared by the
    * standalone pHash dedup and the composed pipeline's ingest pool.
    * Columns: (doc_id, media_type, n_bytes, payload).
    */
  private[graft] def imageVariantPool(s: SparkSession, d: String): DataFrame = {
    val imgs = mediaRecords(s, d).toDF()
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("payload"))
    val off = imgs.agg((max(col("doc_id")) + 1L).as("off"))
    val variants = imgs.filter(col("doc_id") % 11 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"),
        col("media_type"), col("n_bytes"),
        concat(lit(Array[Byte]('Z'.toByte)),
          expr("substring(payload, 2, 2147483647)")).as("payload"))
    imgs.unionAll(variants)
  }

  /** One mapPartitions kernel pass: (doc_id, payload) → (img_id,
    * phash). The decodeBatch contract — payloads consumed in place,
    * only 16 bytes per image come out.
    */
  private[graft] def phashOf(s: SparkSession, pool: DataFrame): DataFrame = {
    import s.implicits._
    pool.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, dHash64(b)) })
      .toDF("img_id", "phash")
  }

  /** Banded near-dup pairs over a (img_id, phash) table: SimHash-style
    * 4×16-bit chunk equi-join (pigeonhole: at Hamming ≤ 3 one band is
    * clean, so banding recall is exactly 1), then one codegen'd
    * bit_count(xor) verify. The exchange carries (img_id, band,
    * chunk) + the 8-byte hash — never a payload.
    */
  private[graft] def phashNearDupPairs(hashed: DataFrame): DataFrame = {
    val bands = hashed.select(col("img_id"), col("phash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("phash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .select(col("img_id"), col("phash"),
        col("pos").as("band"), col("col").as("chunk"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.img_id") < col("y.img_id"))
      .select(col("x.img_id").as("a_id"), col("x.phash").as("ha"),
        col("y.img_id").as("b_id"), col("y.phash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Per-video (doc_id, frame_idx, ts_ms, scene_id) rows — the
    * scene-cut kernel pass shared by the standalone query and the
    * composed pipeline. Video = every non-image, non-audio source,
    * filtered on the raw source COLUMN (not the derived media_type or
    * a typed lambda) so the predicate pushes into the parquet scan.
    */
  private[graft] def sceneCutRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("source") =!= "src0" && col("source") =!= "src1")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => sceneFrames(id, p) })
      .toDF("doc_id", "frame_idx", "ts_ms", "scene_id")
  }

  /** One window-energy row per [[VadWindowBytes]]-byte frame:
    * (doc_id, w, energy = mean byte value). The per-frame byte sum
    * runs as ONE sequential mapPartitions pass over each payload —
    * O(len) per document. The previous expression form summed 16
    * `ascii(substring(text, w·16+i+1, 1))` terms per window, and
    * UTF8String.substring walks from the START of the string to find
    * the character position, so each window paid O(window offset) and
    * a document paid O(len²/16) — quadratic in payload length, a real
    * scale-killer once payloads are MB-sized audio instead of KB test
    * rows (r18; the dHash/sceneFrames kernels already read payload
    * bytes this way). Byte values equal `ascii` codepoints on this
    * ASCII corpus (the documented byte≡char identity every byte-level
    * oracle here relies on), and energy = intSum/16.0 is the same
    * IEEE double either way, so the outputs are bit-identical —
    * MediaVadKernelSpec pins the two forms equal on the corpus and
    * the oracle is unchanged.
    */
  private[graft] def vadWindowEnergies(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = VadWindowBytes
    Tables.documents(s, d)
      .filter(col("source") === "src1" && octet_length(col("text")) >= W)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        (0 until p.length / W).iterator.map { w =>
          var sum = 0
          var j = w * W
          val end = j + W
          while (j < end) { sum += p(j) & 0xFF; j += 1 }
          (id, w, sum / W.toDouble)
        }
      })
      .toDF("doc_id", "w", "energy")
  }

  /** The quadratic expression form [[vadWindowEnergies]] replaced —
    * kept (test-only) so MediaVadKernelSpec can pin the kernel
    * bit-identical to it, the q_rolling_median equivalence precedent.
    */
  private[graft] def vadWindowEnergiesExpr(s: SparkSession, d: String): DataFrame = {
    val W = VadWindowBytes
    val energySum = (0 until W).map(i =>
      ascii(substring(col("text"), col("w") * W + i + 1, lit(1)))).reduce(_ + _)
    Tables.documents(s, d)
      .filter(col("source") === "src1" && octet_length(col("text")) >= W)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          (octet_length(col("text")) / W - 1).cast("int"))).as("w"))
      .withColumn("energy", energySum.cast("double") / W)
      .select(col("doc_id"), col("w"), col("energy"))
  }

  /** Per-audio (doc_id, seg, start_ms, end_ms, n_windows) VAD
    * segments — the shared aggregation behind q_media_audio_vad and
    * the composed pipeline (which counts the same segments for its
    * attrition row).
    */
  private[graft] def vadSegments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vadWindowEnergies(s, d)
      .withColumn("doc_mean", avg(col("energy")).over(wDoc))
      .filter(col("energy") > col("doc_mean"))
      .withColumn("brk",
        when(col("w") - lag(col("w"), 1).over(wOrd) > 1, 1).otherwise(0))
      .withColumn("seg", sum(col("brk")).over(wRun).cast("long"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(min(col("w")).cast("long").as("start_ms"),
        (max(col("w")) + 1L).as("end_ms"),
        count(lit(1)).as("n_windows"))
  }

  /** Per-image placeholder budget for the interleaved token stream:
    * a vision encoder emits a CONSTANT patch-token count per image
    * (e.g. a 256 px image at 16 px patches through a 4× resampler),
    * so an interleaved sequence's length is exact integer arithmetic
    * — which is what lets the multimodal packing law stay a pure
    * function of the corpus.
    */
  val MmImageTokens = 64L

  /** The deduplicated image pool for the interleave chain: ingest
    * variants → ≥[[MetaGateBytes]] metadata gate → pHash near-dup
    * drop (keep the smaller id of each Hamming ≤ 3 pair) — the
    * q_media_pipeline stages s0–s2, reused. Payload bytes are
    * consumed in place by the one mapPartitions pHash pass; only
    * (img_id) survives.
    */
  private[graft] def mmKeptImages(s: SparkSession, d: String): DataFrame = {
    val gated = imageVariantPool(s, d).filter(col("n_bytes") >= MetaGateBytes)
    // checkpoint the THIN (img_id, phash) table (16 bytes/image): it
    // feeds the banded self-join AND the keeper anti-join — three
    // consumer subtrees whose exchanges differ, so without the barrier
    // the payload-consuming pHash kernel pass re-ran per consumer
    // (r17; the mm chain's plan carried 3 MapPartitions kernel passes)
    val hashed = phashOf(s, gated).localCheckpoint()
    val drops = phashNearDupPairs(hashed)
      .select(col("b_id").as("img_id")).distinct()
    hashed.select(col("img_id")).join(drops, Seq("img_id"), "leftanti")
  }

  /** Kept images placed into the text corpus: (doc_id, img_id,
    * anchor) with anchor ∈ [0, n_tok] the token offset the image
    * interleaves at. The assignment (image → document, image →
    * offset) is a deterministic 48-bit-md5 law over img_id — the
    * fixture stand-in for the upstream pairing model (MMC4 assigns
    * images to documents by CLIP similarity; OBELICS takes them from
    * the source HTML DOM position). doc_id density (0..n−1, the
    * generator's law) makes `hash mod n_docs` a total assignment; at
    * scale the assigner is an upstream join and THIS operator's real
    * content is the assembly shape: thin (img_id, doc_id, anchor)
    * rows through one doc-key exchange, payloads already gone.
    */
  private[graft] def mmPlacedImages(s: SparkSession, d: String,
      docs0: DataFrame): DataFrame = {
    // callers pass their own documents projection so one plan carries
    // ONE tokenizing scan subtree (identical subtrees are what lets
    // exchange/subquery reuse dedupe the work at runtime)
    val docs = docs0.select(col("doc_id"), col("n_tok"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    mmKeptImages(s, d)
      .crossJoin(broadcast(nDocs))
      .select(col("img_id"),
        pmod(conv(substring(md5(concat(col("img_id").cast("string"),
            lit(":mm")).cast("binary")), 1, 12), 16, 10).cast("long"),
          col("n_docs")).as("doc_id"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("img_id"),
        pmod(conv(substring(md5(concat(col("img_id").cast("string"),
            lit(":pos")).cast("binary")), 1, 12), 16, 10).cast("long"),
          col("n_tok") + lit(1L)).as("anchor"))
  }

  /** The interleaved multimodal item stream (MMC4/OBELICS shape):
    * per document, the ordered items a VLM pretraining loader emits —
    * text spans split at the image anchors, image placeholders of
    * exactly [[MmImageTokens]] tokens between them. One row per item:
    * (doc_id, seq_idx, item_type, img_id (−1 for text), item_tokens,
    * out_start = the item's offset in the INTERLEAVED stream). Text
    * conservation (per-doc text item_tokens sum = doc n_tok), the
    * out_start telescoping, and seq_idx contiguity are spec-pinned.
    * Zero-length text spans (adjacent anchors, edge anchors) are
    * dropped — both engines, by construction.
    */
  private[graft] def mmItems(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    // thin (doc_id, img_id, anchor) rows, checkpointed: placed feeds
    // the span window (twice) and the per-doc max-anchor tail — the
    // barrier runs the image pool + placement exactly once per trial
    val placed = mmPlacedImages(s, d, docs).localCheckpoint()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("anchor"), col("img_id"))
    val withPrev = placed.withColumn("prev",
      coalesce(lag(col("anchor"), 1).over(w), lit(0L)))
    val preSpans = withPrev.select(col("doc_id"),
      col("prev").as("start_tok"),
      (col("anchor") - col("prev")).as("item_tokens"),
      lit(-1L).as("img_id"), lit("text").as("item_type"))
    val imgRows = withPrev.select(col("doc_id"),
      col("anchor").as("start_tok"),
      lit(MmImageTokens).as("item_tokens"),
      col("img_id"), lit("image").as("item_type"))
    val tails = docs
      .join(placed.groupBy(col("doc_id")).agg(max(col("anchor")).as("ma")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ma"), lit(0L)).as("start_tok"),
        (col("n_tok") - coalesce(col("ma"), lit(0L))).as("item_tokens"),
        lit(-1L).as("img_id"), lit("text").as("item_type"))
    // order law at a shared start offset: the image sits before the
    // text span that starts AT its anchor (the span it just split),
    // and anchor ties break by img_id — with zero-length spans gone,
    // (start_tok, type_ord, img_id) is a total order per doc.
    val ord = Window.partitionBy(col("doc_id"))
      .orderBy(col("start_tok"), col("type_ord"), col("img_id"))
    preSpans.unionAll(imgRows).unionAll(tails)
      .filter(col("item_tokens") > 0)
      .withColumn("type_ord",
        when(col("item_type") === "image", 0).otherwise(1))
      .withColumn("seq_idx", row_number().over(ord).cast("long"))
      .withColumn("out_start", coalesce(sum(col("item_tokens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("seq_idx"), col("item_type"),
        col("img_id"), col("item_tokens"), col("out_start"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Metadata + integrity hash over the binary payload column.
    "q_media_meta" -> ((s, d) =>
      mediaRecords(s, d).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          sha2(col("payload"), 256).as("payload_sha256"))
        .orderBy(col("doc_id"))),

    // Batch decode through mapPartitions (vectorized-UDF shape).
    "q_media_decode" -> ((s, d) => {
      import s.implicits._
      mediaRecords(s, d)
        .mapPartitions(_.grouped(BatchSize).flatMap(decodeBatch))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("channels"), col("ok"))
        .orderBy(col("doc_id"))
    }),

    // Decode → resize as ONE fused per-partition pipeline: both
    // kernels run inside the same mapPartitions pass, so pixels never
    // cross a stage boundary — the shape a 100 TB image-prep job
    // needs (decode output is ~10× the encoded bytes; shuffling it
    // would dominate the job).
    "q_media_resize" -> ((s, d) => {
      import s.implicits._
      mediaRecords(s, d)
        .mapPartitions(_.grouped(BatchSize)
          .flatMap(b => resizeBatch(decodeBatch(b))))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("out_w"), col("out_h"), col("n_out_bytes"))
        .orderBy(col("doc_id"))
    }),

    // IMAGE near-dup via perceptual hashing — the multimodal member of
    // the dedup family (every image-corpus pipeline runs pHash dedup;
    // the text-dedup machinery cannot see re-encoded or lightly-edited
    // images). Each image hashes to 64 bits in one mapPartitions
    // kernel pass (the decodeBatch contract); candidates come from a
    // SimHash-style banded equi-join on 4×16-bit chunks — with a
    // Hamming threshold of 3, the pigeonhole guarantees one clean
    // band, so banding recall is EXACTLY 1, not probabilistic — and
    // the verify is one codegen'd bit_count(xor) per candidate. The
    // exchange carries only (img_id, band, chunk) + the 8-byte hash;
    // payloads never shuffle. Fixture: every %11 image re-keyed past
    // max(doc_id) with its FIRST byte replaced — a length-preserving
    // edit, the re-encode analog. FULLY ORACLED: the DuckDB oracle
    // generates dHash64 itself (integer stripe sums, IEEE-identical
    // double means, signed-bit assembly) and brute-forces all pairs —
    // equal to the banded answer because recall at Hamming ≤ 3 is
    // exactly 1. MediaPhashSpec additionally replays the hash +
    // brute-force threshold pairs and pins set equality.
    "q_media_phash_dedup" -> ((s, d) =>
      phashNearDupPairs(phashOf(s, imageVariantPool(s, d)))
        .orderBy(col("a_id"), col("b_id"))),

    // Frame sampling for video rows: stub frame count, then every
    // k-th frame capped at 8 — `sequence`+`slice`+`explode` fans rows
    // out with zero shuffle and the 25fps timestamp is integer math.
    // A real sampler would seek those frame offsets in the container.
    "q_media_framesample" -> ((s, d) =>
      mediaRecords(s, d).toDF()
        .filter(col("media_type") === "video")
        .withColumn("n_frames", lit(1L) + col("n_bytes") % 240L)
        .withColumn("step", greatest(expr("n_frames div 8"), lit(1L)))
        .select(col("doc_id"), col("n_frames"),
          explode(slice(sequence(lit(0L), col("n_frames") - 1L, col("step")),
            1, 8)).as("frame_idx"))
        .withColumn("ts_ms", col("frame_idx") * 40L)
        .orderBy(col("doc_id"), col("frame_idx"))),

    // SHOT-BOUNDARY (scene-cut) detection for video rows — the
    // segmentation pass a video training pipeline runs before frame
    // extraction (sample a few frames PER SHOT, not per fixed
    // interval, or a static shot floods the dataset with near-dup
    // frames). Per video, every frame hashes to 64 bits (the dHash
    // kernel over the stub frame content — a real implementation
    // hands decoded frames to the same hash) and a cut fires where
    // consecutive frames' Hamming distance exceeds CutThreshold; the
    // running cut count is the frame's scene id. ALL per-video
    // sequential logic runs inside ONE mapPartitions pass over the
    // video's own row — frames of a video never cross a partition,
    // payload bytes never shuffle, and only thin (doc_id, frame_idx,
    // ts_ms, scene_id) rows come out: at 100 TB the exchange is the
    // sink sort, nothing else. Stub frame content is block-aligned
    // slices advancing every shotLen frames, so shots are runs of
    // identical frames with content jumps at boundaries — the replay
    // spec recomputes cuts from the payload bytes independently.
    // FULLY ORACLED: frame slices are ≤ 64 bytes, so after the
    // zero-pad every dHash stripe is ONE byte and the oracle's frame
    // hash is pure integer compares — no FP at all.
    "q_media_scene_cut" -> ((s, d) =>
      sceneCutRows(s, d).orderBy(col("doc_id"), col("frame_idx"))),

    // VOICE-ACTIVITY segmentation for audio rows — the VAD pass a
    // speech pipeline runs before transcription/training (silence
    // carries no training signal; segment boundaries define the
    // utterances). The payload byte stream stands in for 16 kB/s
    // PCM: each 16-byte window is one 1 ms frame whose "energy" is
    // its mean byte value (a fixed 16-term codegen'd sum of
    // ascii(substr) — bytes ARE chars here, so DuckDB mirrors it
    // exactly and the query is FULLY ORACLED, unique in the
    // multimodal family); a window is active when its energy exceeds
    // the document's mean (energies are exact multiples of 1/16, so
    // the threshold compare is order-independent and engine-exact),
    // and adjacent active windows merge gaps-and-islands style into
    // published (start_ms, end_ms) segments. Per-doc windows are
    // KB-bounded; the only exchange carries thin (doc_id, w, energy)
    // rows.
    "q_media_audio_vad" -> ((s, d) =>
      vadSegments(s, d).orderBy(col("doc_id"), col("seg"))),

    // The COMPOSED multimodal pipeline — the q_corpus_pipeline twin
    // for binary media, expressed as ONE query whose per-stage
    // attrition is the auditable artifact:
    //   s0 binary ingest (all media + the re-encoded image variants —
    //   the ingest-side dup burden) → s1 metadata gate (payloads
    //   below MetaGateBytes are truncated ingests) → s2 pHash
    //   near-dup drop (keep the smaller id of each Hamming ≤ 3 pair)
    //   → s3 segmentation (videos → one row per scene, audio → one
    //   row per VAD segment, images → one row each).
    // Every stage reuses the standalone operators' internals
    // (imageVariantPool / phashOf / phashNearDupPairs / sceneCutRows
    // / vadSegments) — composition, not re-implementation.
    //
    // Scale shape — PAYLOADS NEVER SHUFFLE, by construction: payload
    // bytes are consumed in place by two scan→kernel passes (the
    // pHash mapPartitions over gated images, the scene-cut
    // mapPartitions over videos), each emitting only thin rows; the
    // survivor accounting then works entirely on those thin tables
    // (an anti join against the near-dup drop ids, a semi join of
    // segment rows against survivor ids). Re-scanning the columnar
    // source once per kernel pass is the deliberate trade — at 100 TB
    // a second pruned parquet scan is cheap, caching or shuffling
    // payloads is not, which is also why the gated pool is NOT
    // checkpointed (only the thin survivor id table is). FULLY
    // ORACLED since the dHash/scene/VAD SQL mirrors landed (the
    // oracle regenerates every stage); MediaPipelineSpec additionally
    // replays every stage count from the raw bytes independently.
    // CROSS-MODAL (image ↔ caption) keyed join — the LAION-style
    // pairing step that assembles a text-image training set: the
    // downloaded image files (the write-once binaryFile corpus,
    // q_binary_source's layout) join the caption table (the documents
    // side) on the pair key, and every pair carries a CONSISTENCY
    // AUDIT column — does the image's content fingerprint still match
    // the fingerprint recorded when the caption was paired? (Stale
    // recrawls and corrupted downloads are the standard LAION-audit
    // failure; fixture: every %13 caption records the fingerprint of
    // the REVERSED text — a deterministic "image changed since
    // pairing" stand-in.) md5 is the fingerprint (not pHash) exactly
    // so both engines compute it and the query stays FULLY ORACLED —
    // the oracle leans on the binary round-trip identity
    // (content = text + newline) that q_binary_source certifies.
    //
    // Scale shape: each side reduces to a thin (pair_id, 16-byte
    // fingerprint, length) row BEFORE the join — payload bytes and
    // caption text are consumed by the md5 projections below the
    // exchange, so the join carries no blob in either direction
    // (plan-pinned). One equi-join, one sink sort.
    "q_crossmodal_join" -> ((s, d) => {
      val img = graft.operators.Extras.binaryFixture(s, d)
        .select(col("doc_id").cast("long").as("pair_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("img_md5"))
      val cap = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id").as("pair_id"),
          length(col("text")).cast("long").as("cap_len"),
          when(col("doc_id") % 13 === 0,
            md5(concat(reverse(col("text")), lit("\n")).cast("binary")))
            .otherwise(md5(concat(col("text"), lit("\n")).cast("binary")))
            .as("recorded_md5"))
      img.join(cap, "pair_id")
        .select(col("pair_id"), col("n_bytes"), col("cap_len"),
          (col("img_md5") === col("recorded_md5")).as("consistent"))
        .orderBy(col("pair_id"))
    }),

    "q_media_pipeline" -> ((s, d) => {
      val media = mediaRecords(s, d).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("payload"))
      val pool0 = media.filter(col("media_type") =!= "image")
        .unionAll(imageVariantPool(s, d))
      val s1 = pool0.filter(col("n_bytes") >= MetaGateBytes)
      val hashed = phashOf(s, s1.filter(col("media_type") === "image"))
      val drops = phashNearDupPairs(hashed)
        .select(col("b_id").as("doc_id")).distinct()
      val s2 = s1.select(col("doc_id"), col("media_type"))
        .join(drops, Seq("doc_id"), "leftanti")
        .localCheckpoint()
      val scenes = sceneCutRows(s, d)
        .select(col("doc_id"), col("scene_id").as("seg")).distinct()
      val vad = vadSegments(s, d).select(col("doc_id"), col("seg"))
      val s3 = scenes.unionAll(vad)
        .join(s2.select(col("doc_id")), Seq("doc_id"), "leftsemi")
        .unionAll(s2.filter(col("media_type") === "image")
          .select(col("doc_id"), lit(0L).as("seg")))
      Seq("s0_ingest" -> pool0.select(col("doc_id")),
          "s1_meta" -> s1.select(col("doc_id")),
          "s2_phash" -> s2.select(col("doc_id")),
          "s3_segments" -> s3.select(col("doc_id")))
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_rows"))
            .select(lit(n).as("stage"), col("n_rows"))
        }
        .reduce(_ unionAll _).orderBy(col("stage"))
    }),

    // INTERLEAVED MULTIMODAL SEQUENCE ASSEMBLY — the MMC4 (Zhu et
    // al. 2023) / OBELICS (Laurençon et al. 2023) document shape
    // every current VLM pretraining run consumes: images interleave
    // INTO the token stream at anchor offsets, each contributing a
    // constant MmImageTokens placeholder budget, and the loader
    // reads ordered (text span | image) items. Composes the existing
    // pieces — the pHash-DEDUPED image pool (q_media_pipeline s0–s2)
    // supplies the images; the deterministic md5 placement law
    // stands in for the upstream pairing model (see mmPlacedImages).
    //
    // Scale shape: payload bytes are consumed in place by the one
    // pHash kernel pass BELOW every exchange, and document text
    // collapses to n_tok at the scan — no shuffle anywhere in this
    // plan carries a payload or text column (plan-pinned, the
    // q_media_pipeline discipline). Everything that moves is thin
    // (ids, anchors, token counts); the assembly windows and the
    // placement join all share the doc-key partitioning. FULLY
    // ORACLED: DuckDB regenerates the dHash dedup, the md5 placement
    // law, and the window assembly.
    "q_mm_interleave" -> ((s, d) =>
      mmItems(s, d).orderBy(col("doc_id"), col("seq_idx"))),

    // MULTIMODAL PACKING — the interleaved documents packed into
    // 2048-token training windows under the q_seq_pack overfill law
    // (a document lands in the bin where it STARTS; same integer
    // arithmetic, same two-phase distributed prefix sum via
    // Corpus.seqPackedOf). A document's cost in the stream is its
    // text tokens PLUS MmImageTokens per attached image — the
    // accounting a VLM batch builder needs, published per bin:
    // doc/image counts and the text/image/total token split. FULLY
    // ORACLED (running-sum window composed over the interleave
    // chain); MmSpec pins token conservation vs q_mm_interleave and
    // the bin start law.
    "q_mm_pack" -> ((s, d) =>
      mmPacked(s, d)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_img")).as("n_imgs"),
          sum(col("text_tok")).as("text_tokens"),
          (lit(MmImageTokens) * sum(col("n_img"))).as("image_tokens"),
          sum(col("n_tok")).as("mm_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin"))),

    // MULTIMODAL TRAINING-SHARD EXPORT — the chain's last mile to
    // disk, completing interleave → pack → export exactly as the SFT
    // chain does (q_sft_export): the packed interleaved documents
    // land in a write-once `mm_shards` layout partitioned by shard
    // under the SAME shard law as every exporter here (count =
    // ⌈corpus mm-tokens / budget⌉ as a broadcast 1-row aggregate —
    // no driver action; shard = 48-bit md5 prefix of the (source,
    // bin) sequence key, so a 2048-token multimodal training window
    // NEVER splits across shard files; one hash repartition → each
    // shard written by one task). Published manifest per shard:
    // sequence/document/image/token accounting — what a VLM training
    // job verifies before reading a shard — plus the
    // order-independent document fingerprint. FULLY ORACLED by
    // composing the interleave+pack chain with the shard-law SQL.
    "q_mm_export" -> ((s, d) =>
      graft.sources.Layouts.ensureLayout(s, d, "mm_shards",
          partitionCols = Seq("shard")) {
        val packed = mmPacked(s, d)
        graft.text.Corpus.withDerivedShard(packed, "n_tok", packed)
      }
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(col("source"), col("bin")).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_img")).as("n_imgs"),
          sum(col("text_tok")).as("text_tokens"),
          sum(col("n_tok")).as("mm_tokens"),
          (sum(conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard")))
  )

  /** Per-document packed rows for the multimodal chain: (doc_id,
    * source, n_tok = the mm cost, running, bin, text_tok, n_img) —
    * q_seq_pack's two-phase prefix sum over text + MmImageTokens·
    * images costs, with the accounting joined back as thin columns.
    * Shared by q_mm_pack and the shard exporter.
    */
  private[graft] def mmPacked(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val counts = mmPlacedImages(s, d, docs).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_img"))
    // NOT checkpointed (r18 A/B): the heavy work below (pHash kernel,
    // placement) already sits behind mmKeptImages' own thin
    // checkpoint, so the three plan replays of `costs` re-run only
    // cheap arithmetic over checkpointed inputs — a barrier here
    // measured MORE cpu (0.41 → 0.65 s, `Tools work`) from the blocking
    // materialization it adds.
    val costs = docs.join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        col("n_tok").as("text_tok"),
        coalesce(col("n_img"), lit(0L)).as("n_img"),
        (col("n_tok") + lit(MmImageTokens) *
          coalesce(col("n_img"), lit(0L))).as("mm_tok"))
    graft.text.Corpus.seqPackedOf(
      costs.select(col("doc_id"), col("source"), col("mm_tok").as("n_tok")))
      .join(costs.select(col("doc_id"), col("text_tok"), col("n_img")),
        Seq("doc_id"))
  }

  private val vadEnergyTerms = (1 to VadWindowBytes)
    .map(k => s"ascii(substr(text, i*$VadWindowBytes + $k, 1))")
    .mkString(" + ")

  /** Two's-complement value of bit 63 — the dHash oracle assembles the
    * signed 64-bit hash as (bit-63 term) + (sum of bits 0..62), which
    * is exactly how the JVM long lays the sign bit out.
    */
  private val Bit63 = "-9223372036854775808"

  /** DuckDB mirror of [[dHash64]] over payload column `p` (with `len`
    * = strlen(p) and `n` = greatest(len, 64) in scope): per stripe,
    * the same integer byte sum (zero-padded past `len` — the <64-byte
    * pad rule) divided as DOUBLE (both engines do one correctly-
    * rounded IEEE division of exact integers, so the per-stripe means
    * are bit-identical and the > compares agree), then the 64
    * adjacent-stripe compares assemble the signed hash.
    */
  private val dhashAvgs = {
    val byte = "CASE WHEN j <= len THEN ascii(substr(p, CAST(j AS INT), 1)) " +
      "ELSE 0 END"
    "list_transform(generate_series(0, 63), s -> " +
      "CAST(list_sum(list_transform(" +
      "generate_series(s*n//64 + 1, greatest(s*n//64 + 1, (s+1)*n//64)), " +
      s"j -> $byte)) AS DOUBLE) " +
      "/ (greatest(s*n//64 + 1, (s+1)*n//64) - s*n//64))"
  }
  private val dhashFromAvgs =
    s"(CASE WHEN av[64] > av[1] THEN $Bit63 ELSE 0 END) + " +
      "CAST(list_sum(list_transform(generate_series(0, 62), s -> " +
      "CASE WHEN av[s+1] > av[s+2] THEN (CAST(1 AS BIGINT) << s) " +
      "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** [[dHash64]] of one scene-cut frame: the frame slice is ≤ 64
    * bytes, so after the zero-pad every stripe is a single byte and
    * the stripe-mean compare degenerates to an exact byte compare —
    * no sums, no division.
    */
  private def frameByte(i: String) =
    s"CASE WHEN $i <= least(64, n - off) " +
      s"THEN ascii(substr(text, CAST(off + $i AS INT), 1)) ELSE 0 END"
  private val frameHash =
    s"(CASE WHEN ${frameByte("64")} > ${frameByte("1")} THEN $Bit63 " +
      "ELSE 0 END) + " +
      "CAST(list_sum(list_transform(generate_series(0, 62), s -> " +
      s"CASE WHEN (${frameByte("s+1")}) > (${frameByte("s+2")}) " +
      "THEN (CAST(1 AS BIGINT) << s) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  // Chars-vs-bytes classification (round-15 sweep): every `strlen` in
  // these oracles is BYTES-INTENDED — the Spark side treats `text` as
  // an opaque binary payload (octet_length / Array[Byte].length), so
  // DuckDB's byte-counting strlen is the correct mirror. The byte
  // READS (`ascii(substr(text, i, 1))`) index by character, which
  // equals byte position only while payloads are single-byte — the
  // same documented ASCII byte≡char identity every byte-level oracle
  // here relies on (XXH64Sql.scala header). The one CHARS-intended
  // length in this file (q_crossmodal_join's caption cap_len, Spark
  // `length()`) uses DuckDB `length()` accordingly.
  /** Shared CTE prefix for the interleave family: the gated +
    * pHash-deduped image pool (regenerated dHash, brute-force pairs —
    * provably equal to the banded join at Hamming ≤ 3), the md5
    * placement law, and the per-image anchors. Ends with `imgs`
    * (doc_id, img_id, anchor) and `docs` (doc_id, source, n_tok).
    */
  private val mmImgsCte =
    s"""WITH imgs0 AS (
       |  SELECT doc_id, text AS p FROM documents WHERE source = 'src0'),
       |o AS (SELECT max(doc_id) + 1 AS off FROM imgs0),
       |pool AS (
       |  SELECT doc_id, p FROM imgs0
       |  UNION ALL
       |  SELECT doc_id + off, 'Z' || substr(p, 2) FROM imgs0, o
       |  WHERE doc_id % 11 = 0),
       |pre AS (
       |  SELECT doc_id, p, strlen(p) AS len, greatest(strlen(p), 64) AS n
       |  FROM pool WHERE strlen(p) >= $MetaGateBytes),
       |hashes AS (
       |  SELECT doc_id AS img_id, $dhashFromAvgs AS h FROM (
       |    SELECT doc_id, $dhashAvgs AS av FROM pre) t),
       |drops AS (
       |  SELECT DISTINCT y.img_id AS img_id FROM hashes x JOIN hashes y
       |  ON x.img_id < y.img_id AND bit_count(xor(x.h, y.h)) <= 3),
       |docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |nd AS (SELECT count(*) AS n FROM docs),
       |placed AS (
       |  SELECT k.img_id,
       |    ('0x' || substr(md5(CAST(k.img_id AS VARCHAR) || ':mm'), 1, 12))::BIGINT
       |      % (SELECT n FROM nd) AS doc_id
       |  FROM hashes k WHERE k.img_id NOT IN (SELECT img_id FROM drops)),
       |imgs AS (
       |  SELECT p.doc_id, p.img_id,
       |    ('0x' || substr(md5(CAST(p.img_id AS VARCHAR) || ':pos'), 1, 12))::BIGINT
       |      % (d.n_tok + 1) AS anchor
       |  FROM placed p JOIN docs d USING (doc_id))""".stripMargin

  /** The pack chain's shared CTE suffix (per-image doc counts → mm
    * costs → the running-sum bin law) — appended to [[mmImgsCte]] by
    * both the q_mm_pack and q_mm_export oracles so the cost/bin law
    * has exactly one SQL spelling.
    */
  private val mmPackCte =
    s"""counts AS (
       |  SELECT doc_id, count(*) AS n_img FROM imgs GROUP BY doc_id),
       |costs AS (
       |  SELECT d.doc_id, d.source, d.n_tok AS text_tok,
       |    coalesce(c.n_img, 0) AS n_img,
       |    d.n_tok + $MmImageTokens * coalesce(c.n_img, 0) AS mm_tok
       |  FROM docs d LEFT JOIN counts c USING (doc_id)),
       |binned AS (
       |  SELECT doc_id, source, text_tok, n_img, mm_tok,
       |    (CAST(sum(mm_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - mm_tok) // 2048 AS bin
       |  FROM costs)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_mm_interleave" ->
      s"""$mmImgsCte,
         |withprev AS (
         |  SELECT doc_id, img_id, anchor,
         |    coalesce(lag(anchor) OVER (
         |      PARTITION BY doc_id ORDER BY anchor, img_id),
         |      CAST(0 AS BIGINT)) AS prev
         |  FROM imgs),
         |items AS (
         |  SELECT doc_id, prev AS start_tok, anchor - prev AS item_tokens,
         |    CAST(-1 AS BIGINT) AS img_id, 'text' AS item_type
         |  FROM withprev
         |  UNION ALL
         |  SELECT doc_id, anchor, CAST($MmImageTokens AS BIGINT), img_id,
         |    'image'
         |  FROM withprev
         |  UNION ALL
         |  SELECT d.doc_id, coalesce(m.ma, 0), d.n_tok - coalesce(m.ma, 0),
         |    CAST(-1 AS BIGINT), 'text'
         |  FROM docs d LEFT JOIN (
         |    SELECT doc_id, max(anchor) AS ma FROM imgs GROUP BY doc_id) m
         |  USING (doc_id)),
         |live AS (SELECT * FROM items WHERE item_tokens > 0)
         |SELECT doc_id,
         |  CAST(row_number() OVER w AS BIGINT) AS seq_idx,
         |  item_type, img_id, CAST(item_tokens AS BIGINT) AS item_tokens,
         |  CAST(coalesce(sum(item_tokens) OVER (w
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS out_start
         |FROM live
         |WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok,
         |  CASE WHEN item_type = 'image' THEN 0 ELSE 1 END, img_id)
         |ORDER BY doc_id, seq_idx""".stripMargin,

    "q_mm_pack" ->
      s"""$mmImgsCte,
         |$mmPackCte
         |SELECT source, CAST(bin AS BIGINT) AS bin,
         |  count(*) AS n_docs,
         |  CAST(sum(n_img) AS BIGINT) AS n_imgs,
         |  CAST(sum(text_tok) AS BIGINT) AS text_tokens,
         |  CAST($MmImageTokens * sum(n_img) AS BIGINT) AS image_tokens,
         |  CAST(sum(mm_tok) AS BIGINT) AS mm_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM binned GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // the pack chain composed with the shard law (the q_shard_export
    // precedent): count = ceil(corpus mm-tokens / budget), shard =
    // 48-bit md5 prefix of the (source, bin) sequence key
    "q_mm_export" ->
      s"""$mmImgsCte,
         |$mmPackCte,
         |${graft.text.Corpus.nshSql("mm_tok", "binned")},
         |a AS (
         |  SELECT *,
         |    ('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)),
         |      1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM binned)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR))
         |    AS BIGINT) AS n_seqs,
         |  count(*) AS n_docs,
         |  CAST(sum(n_img) AS BIGINT) AS n_imgs,
         |  CAST(sum(text_tok) AS BIGINT) AS text_tokens,
         |  CAST(sum(mm_tok) AS BIGINT) AS mm_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    // the oracle hashes every pool image with the generated dHash and
    // brute-forces all pairs — legitimate as an ORACLE because the
    // banded join's recall at Hamming ≤ 3 is exactly 1 (pigeonhole),
    // so banded and brute-force answer sets are provably equal
    "q_media_phash_dedup" ->
      s"""WITH imgs0 AS (
         |  SELECT doc_id, text AS p FROM documents WHERE source = 'src0'),
         |o AS (SELECT max(doc_id) + 1 AS off FROM imgs0),
         |pool AS (
         |  SELECT doc_id, p FROM imgs0
         |  UNION ALL
         |  SELECT doc_id + off, 'Z' || substr(p, 2) FROM imgs0, o
         |  WHERE doc_id % 11 = 0),
         |pre AS (
         |  SELECT doc_id, p, strlen(p) AS len,
         |    greatest(strlen(p), 64) AS n FROM pool),
         |hashes AS (
         |  SELECT doc_id AS img_id, $dhashFromAvgs AS h FROM (
         |    SELECT doc_id, $dhashAvgs AS av FROM pre) t)
         |SELECT x.img_id AS a_id, y.img_id AS b_id,
         |  CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS hamming
         |FROM hashes x JOIN hashes y ON x.img_id < y.img_id
         |WHERE bit_count(xor(x.h, y.h)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // every stage of the composed pipeline is now SQL-generable (the
    // dHash, scene-cut, and VAD mirrors above), so the 4-row attrition
    // card is hash-checked end to end: ingest pool ∪ variants → ≥64 B
    // metadata gate → brute-force Hamming ≤ 3 drop set (≡ the banded
    // join, recall exactly 1) → per-survivor segment rows
    "q_media_pipeline" ->
      s"""WITH imgs0 AS (
         |  SELECT doc_id, text AS p FROM documents WHERE source = 'src0'),
         |o AS (SELECT max(doc_id) + 1 AS off FROM imgs0),
         |pool AS (
         |  SELECT doc_id, p FROM imgs0
         |  UNION ALL
         |  SELECT doc_id + off, 'Z' || substr(p, 2) FROM imgs0, o
         |  WHERE doc_id % 11 = 0),
         |pre AS (
         |  SELECT doc_id, p, strlen(p) AS len,
         |    greatest(strlen(p), 64) AS n FROM pool),
         |pool0 AS (
         |  SELECT doc_id, strlen(text) AS len FROM documents
         |  WHERE source <> 'src0'
         |  UNION ALL SELECT doc_id, len FROM pre),
         |s1 AS (SELECT doc_id, len FROM pool0 WHERE len >= $MetaGateBytes),
         |hashes AS (
         |  SELECT doc_id AS img_id, $dhashFromAvgs AS h FROM (
         |    SELECT doc_id, $dhashAvgs AS av FROM pre
         |    WHERE len >= $MetaGateBytes) t),
         |drops AS (
         |  SELECT DISTINCT y.img_id AS doc_id
         |  FROM hashes x JOIN hashes y ON x.img_id < y.img_id
         |  WHERE bit_count(xor(x.h, y.h)) <= 3),
         |s2 AS (SELECT doc_id FROM s1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |s2img AS (SELECT doc_id FROM pre
         |  WHERE len >= $MetaGateBytes
         |    AND doc_id NOT IN (SELECT doc_id FROM drops)),
         |vids AS (
         |  SELECT doc_id, text, strlen(text) AS n FROM documents
         |  WHERE source NOT IN ('src0', 'src1')),
         |frames AS (
         |  SELECT doc_id, text, n, unnest(generate_series(0, n % 240)) AS f,
         |    4 + n % 5 AS shotlen, greatest(1, n - 63) AS span
         |  FROM vids),
         |fhashes AS (
         |  SELECT doc_id, f, $frameHash AS h
         |  FROM (SELECT doc_id, text, n, f,
         |          ((f // shotlen) * 64) % span AS off
         |        FROM frames) t),
         |cuts AS (
         |  SELECT doc_id, f,
         |    CASE WHEN f > 0 AND bit_count(xor(h,
         |      lag(h) OVER (PARTITION BY doc_id ORDER BY f))) > $CutThreshold
         |    THEN 1 ELSE 0 END AS cut
         |  FROM fhashes),
         |sceneids AS (
         |  SELECT DISTINCT doc_id, scene_id FROM (
         |    SELECT doc_id, sum(cut) OVER (PARTITION BY doc_id ORDER BY f
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
         |    FROM cuts) x),
         |aud AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE source = 'src1' AND strlen(text) >= $VadWindowBytes),
         |wins AS (
         |  SELECT doc_id, CAST(i AS INT) AS w,
         |    ($vadEnergyTerms) / 16.0 AS energy
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(0,
         |            strlen(text) // $VadWindowBytes - 1)) AS i
         |        FROM aud) t),
         |act AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, w, energy,
         |      avg(energy) OVER (PARTITION BY doc_id) AS m FROM wins) x
         |  WHERE energy > m),
         |vbrk AS (
         |  SELECT doc_id, w,
         |    CASE WHEN w - lag(w) OVER (PARTITION BY doc_id ORDER BY w) > 1
         |    THEN 1 ELSE 0 END AS b
         |  FROM act),
         |vadsegs AS (
         |  SELECT DISTINCT doc_id, seg FROM (
         |    SELECT doc_id, sum(b) OVER (PARTITION BY doc_id ORDER BY w
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         |    FROM vbrk) x),
         |s3 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id FROM sceneids
         |    UNION ALL SELECT doc_id FROM vadsegs) u
         |  WHERE doc_id IN (SELECT doc_id FROM s2)
         |  UNION ALL SELECT doc_id FROM s2img)
         |SELECT 's0_ingest' AS stage, count(*) AS n_rows FROM pool0
         |UNION ALL SELECT 's1_meta', count(*) FROM s1
         |UNION ALL SELECT 's2_phash', count(*) FROM s2
         |UNION ALL SELECT 's3_segments', count(*) FROM s3
         |ORDER BY stage""".stripMargin,

    "q_media_scene_cut" ->
      s"""WITH vids AS (
         |  SELECT doc_id, text, strlen(text) AS n FROM documents
         |  WHERE source NOT IN ('src0', 'src1')),
         |frames AS (
         |  SELECT doc_id, text, n,
         |    unnest(generate_series(0, n % 240)) AS f,
         |    4 + n % 5 AS shotlen, greatest(1, n - 63) AS span
         |  FROM vids),
         |hashes AS (
         |  SELECT doc_id, f, $frameHash AS h
         |  FROM (SELECT doc_id, text, n, f,
         |          ((f // shotlen) * 64) % span AS off
         |        FROM frames) t),
         |cuts AS (
         |  SELECT doc_id, f,
         |    CASE WHEN f > 0 AND bit_count(xor(h,
         |      lag(h) OVER (PARTITION BY doc_id ORDER BY f))) > $CutThreshold
         |    THEN 1 ELSE 0 END AS cut
         |  FROM hashes)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(f * 40 AS BIGINT) AS ts_ms,
         |  CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY f
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS scene_id
         |FROM cuts ORDER BY doc_id, frame_idx""".stripMargin,

    "q_crossmodal_join" ->
      """WITH img AS (
        |  SELECT doc_id AS pair_id,
        |    CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
        |    md5(text || chr(10)) AS img_md5
        |  FROM documents WHERE doc_id < 200),
        |cap AS (
        |  SELECT doc_id AS pair_id,
        |    CAST(length(text) AS BIGINT) AS cap_len,
        |    CASE WHEN doc_id % 13 = 0 THEN md5(reverse(text) || chr(10))
        |         ELSE md5(text || chr(10)) END AS recorded_md5
        |  FROM documents WHERE doc_id < 200)
        |SELECT i.pair_id, i.n_bytes, c.cap_len,
        |  i.img_md5 = c.recorded_md5 AS consistent
        |FROM img i JOIN cap c USING (pair_id)
        |ORDER BY pair_id""".stripMargin,
    "q_media_audio_vad" ->
      s"""WITH aud AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE source = 'src1' AND strlen(text) >= $VadWindowBytes),
         |wins AS (
         |  SELECT doc_id, CAST(i AS INT) AS w,
         |    ($vadEnergyTerms) / 16.0 AS energy
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(0, strlen(text) // $VadWindowBytes - 1)) AS i
         |        FROM aud) t),
         |act AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, w, energy,
         |      avg(energy) OVER (PARTITION BY doc_id) AS m FROM wins) x
         |  WHERE energy > m),
         |brk AS (
         |  SELECT doc_id, w,
         |    CASE WHEN w - lag(w) OVER (PARTITION BY doc_id ORDER BY w) > 1
         |         THEN 1 ELSE 0 END AS b
         |  FROM act),
         |isl AS (
         |  SELECT doc_id, w,
         |    sum(b) OVER (PARTITION BY doc_id ORDER BY w
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         |  FROM brk)
         |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
         |  CAST(min(w) AS BIGINT) AS start_ms,
         |  CAST(max(w) + 1 AS BIGINT) AS end_ms, count(*) AS n_windows
         |FROM isl GROUP BY doc_id, seg ORDER BY doc_id, seg""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN source = 'src0' THEN 'image'
        |       WHEN source = 'src1' THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_decode" ->
      """SELECT doc_id,
        |  CASE WHEN source = 'src0' THEN 'image'
        |       WHEN source = 'src1' THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(64 + strlen(text) % 512 AS INT) AS width,
        |  CAST(64 + (strlen(text) * 7) % 512 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  strlen(text) > 0 AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_resize" ->
      """SELECT doc_id, media_type, width, height,
        |  CAST(width * 224 // greatest(width, height) AS INT) AS out_w,
        |  CAST(height * 224 // greatest(width, height) AS INT) AS out_h,
        |  CAST((width * 224 // greatest(width, height))
        |     * (height * 224 // greatest(width, height)) * 3 AS BIGINT) AS n_out_bytes
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN source = 'src0' THEN 'image'
        |         WHEN source = 'src1' THEN 'audio' ELSE 'video' END AS media_type,
        |    CAST(64 + strlen(text) % 512 AS INT) AS width,
        |    CAST(64 + (strlen(text) * 7) % 512 AS INT) AS height
        |  FROM documents) d
        |ORDER BY doc_id""".stripMargin,
    "q_media_framesample" ->
      """SELECT doc_id, n_frames, unnest(frames) AS frame_idx,
        |  unnest(frames) * 40 AS ts_ms
        |FROM (
        |  SELECT doc_id, n_frames,
        |    (generate_series(0, n_frames - 1, greatest(n_frames // 8, 1)))[1:8] AS frames
        |  FROM (
        |    SELECT doc_id, 1 + CAST(strlen(text) AS BIGINT) % 240 AS n_frames
        |    FROM documents
        |    WHERE source NOT IN ('src0', 'src1')) v) f
        |ORDER BY doc_id, frame_idx""".stripMargin
  )
}
