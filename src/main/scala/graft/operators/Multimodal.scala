package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata beside them (BASELINE.json
  * extension; the reference is text/CSV-only). The Spark-side shape —
  * schema, batch iteration, partition-local decode — is real, and so
  * are the codecs for PPM (P6), PCM WAV, and PNG: all three are
  * pure-JDK byte parsers (PNG rides `java.util.zip` — Inflater /
  * CRC32 / Adler32 ship in every JDK, verified present in this
  * sandbox, as is `javax.imageio` for cross-checks). Only formats
  * whose decode genuinely needs an external library (JPEG entropy
  * coding, MP3, H.264) keep the clearly-marked deterministic stub.
  *
  * Scale design: payload bytes never shuffle — every transform below is
  * a narrow map over scan partitions. Metadata (magic, sizes, fake dims)
  * is extracted to plain columns so downstream filters/joins/aggregations
  * touch only those and Parquet never has to materialize the blobs
  * (column pruning drops `payload` unless explicitly selected).
  */
object Multimodal {

  /** Decoded-asset metadata produced by the (stubbed) codec. */
  final case class AssetMeta(
      doc_id: Long,
      n_bytes: Long,
      magic: String,
      width: Long,
      height: Long,
      channels: Long)

  /** Column-only metadata extraction (codegen'd, DuckDB-verifiable):
    * byte length, leading-bytes "magic" signature, and deterministic
    * pseudo-dimensions derived from the content hash — the stand-in for
    * a real header parse.
    */
  def extractMeta(withPayload: DataFrame): DataFrame = {
    val h = md5(col("payload"))
    withPayload.select(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      hex(substring(col("payload"), 1, 4)).as("magic"),
      (conv(substring(h, 1, 6), 16, 10).cast("long") % 448 + 64).as("width"),
      (conv(substring(h, 7, 6), 16, 10).cast("long") % 448 + 64).as("height"),
      lit(3L).as("channels"))
  }

  /** Partition-local batched "decode": the shape a real codec UDF takes
    * — iterate a partition, decode each payload, emit typed metadata.
    * This path is the SYNTHETIC-metadata stub ([[stubEntropyDecode]] —
    * not a codec; see its scaladoc for which formats still route here
    * and why). The REAL decoders live below: [[parsePpm]], [[parseWav]],
    * [[parseAdpcmWav]], [[parsePng]], [[parseJpeg]]. `mapPartitions`
    * keeps per-partition library initialization (codec contexts, model
    * handles) amortized — the pattern `mapInPandas` serves in PySpark.
    */
  def decodePartitions(spark: SparkSession, withPayload: DataFrame): Dataset[AssetMeta] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real codec init would happen once per partition, here
        it.map { case (id, bytes) => stubEntropyDecode(id, bytes) }
      }
  }

  /** Frame sampling for "video" payloads: every payload is cut into
    * fixed-size frames (one row per frame) — the fan-out shape a real
    * frame extractor produces, with the decode stubbed to a byte slice.
    * Column-only (codegen'd, oracle-verifiable): frame index, length,
    * and content hash per frame. Partition-local and shuffle-free; at
    * scale the explode multiplies rows, not bytes moved (each frame
    * slice is bounded by `frameBytes`).
    */
  def frameSample(withPayload: DataFrame, frameBytes: Int = 256): DataFrame = {
    val nFrames = ceil(length(col("payload")) / lit(frameBytes.toDouble))
      .cast("long")
    withPayload
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nFrames - 1),
          i => col("payload").substr(
            (i * frameBytes + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_hash"))
  }

  /** Resize stub: recomputes target metadata for a bounding box while
    * preserving aspect ratio — the arithmetic a real resizer performs,
    * over [[extractMeta]]'s (stubbed) source dims. Integer math only.
    */
  def resizeMeta(withPayload: DataFrame, maxSide: Long = 64): DataFrame =
    extractMeta(withPayload)
      .withColumn("scale_num", lit(maxSide))
      .withColumn("scale_den", greatest(col("width"), col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        floor(col("width") * col("scale_num") / col("scale_den"))
          .cast("long").as("out_width"),
        floor(col("height") * col("scale_num") / col("scale_den"))
          .cast("long").as("out_height"))

  // ---- REAL codecs for uncompressed formats (pure JVM byte parsing,
  // no libraries needed): binary PPM (P6) images and PCM WAV audio.
  // Compressed formats (JPEG/PNG/MP3/H.264) remain environment-bound —
  // decoding those without a codec library is out of scope, and the
  // dispatch in [[decodeAuto]] names them honestly. ----

  /** Decoded PPM (P6) image: real header parse + pixel statistics. */
  final case class PpmMeta(
      doc_id: Long, width: Long, height: Long, maxval: Long,
      n_pixel_bytes: Long, mean_r: Long, mean_g: Long, mean_b: Long)

  /** Decoded PCM WAV audio: real RIFF chunk walk + sample statistics. */
  final case class WavMeta(
      doc_id: Long, sample_rate: Long, channels: Long, bits: Long,
      n_samples: Long, peak: Long, sum_abs: Long)

  /** Parse a binary-PPM (P6) payload: magic, whitespace/comment-aware
    * header ints (width, height, maxval), then interleaved RGB bytes.
    * Integer-exact outputs (sums + truncating mean) so an oracle that
    * KNOWS the payload construction can verify the decode in closed
    * form — the parser must read the dims and stride the pixel array
    * correctly or the channel means diverge.
    */
  /** The shared P6 header walk: magic, whitespace/comment-aware ints
    * (width, height, maxval), the single post-maxval whitespace byte.
    * Returns (width, height, maxval, pixelOffset) with the 8-bit and
    * length preconditions already enforced — both [[parsePpm]] and
    * [[dhash64]] stride the pixel array from here.
    */
  private def ppmHeader(id: Long, bytes: Array[Byte]): (Int, Int, Int, Int) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      s"doc $id: not a P6 ppm")
    var pos = 2
    def skipWs(): Unit = {
      var go = true
      while (go && pos < bytes.length) {
        val b = bytes(pos)
        if (b == ' ' || b == '\n' || b == '\t' || b == '\r') pos += 1
        else if (b == '#') { // comment runs to end of line
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val mx = readInt()
    pos += 1 // the single whitespace byte after maxval (PPM spec)
    val n = w.toLong * h
    require(n > 0, s"doc $id: empty ppm ($w x $h)")
    // P6 allows maxval up to 65535 with TWO bytes per sample — the
    // stride-3 walk below would silently read interleaved halves.
    // Reject rather than misparse; extend here if 16-bit PPMs appear.
    require(mx > 0 && mx <= 255,
      s"doc $id: maxval $mx needs 2-byte samples")
    require(bytes.length - pos >= n * 3,
      s"doc $id: truncated ppm — need ${n * 3} pixel bytes, " +
        s"have ${bytes.length - pos}")
    (w, h, mx, pos)
  }

  def parsePpm(id: Long, bytes: Array[Byte]): PpmMeta = {
    val (w, h, mx, pos) = ppmHeader(id, bytes)
    val n = w.toLong * h
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = pos; var k = 0L
    while (k < n) {
      sr += bytes(i) & 255; sg += bytes(i + 1) & 255
      sb += bytes(i + 2) & 255
      i += 3; k += 1
    }
    PpmMeta(id, w, h, mx, bytes.length.toLong - pos,
      sr / n, sg / n, sb / n)
  }

  // ---- Perceptual image dedup: dHash over decoded pixels ----------------
  // The difference hash (dHash) is the standard cheap perceptual image
  // fingerprint: compare horizontally adjacent pixels of a reduced
  // grayscale image and pack the comparisons into a 64-bit word —
  // near-identical images (recompression, slight noise, small edits)
  // land within a few bits, unrelated images ~32 apart. Pairs mine
  // through the SAME Manku block-permutation blocking as the text
  // SimHash miner: nBlocks = maxHamming + 1 over 64 bits guarantees
  // every pair within the threshold shares at least one identical
  // block — exact recall, no probabilistic miss.

  /** Deterministic per-id pixel law for the dHash fixture corpus (the
    * adpcmFixture convention — the image libs aren't in this
    * container, so the corpus is synthesized, the PLUMBING real):
    * gray(id, x, y) = (t² div 7) mod 256 with
    * t = (id div 2)·73 + x·151 + y·179 + 17, and ids 2k/2k+1 are
    * near-twins — the odd id perturbs ONLY pixel (0,0) by +128, so a
    * twin pair lands within hamming 1 while distinct k are ≥ ~13
    * apart (SQL-closed-form, so the oracle replays it exactly).
    */
  private[operators] def dhashPixel(id: Long, x: Int, y: Int): Int = {
    val t = (id / 2) * 73 + x * 151 + y * 179 + 17
    val base = ((t * t / 7) % 256).toInt
    if (id % 2 == 1 && x == 0 && y == 0) (base + 128) % 256 else base
  }

  /** 9×8 grayscale P6 payload under [[dhashPixel]] (9 columns → 8
    * horizontal comparisons per row → a full 64-bit hash, no resize
    * step — the resize path is covered by mm_resize).
    */
  def dhashFixture(id: Long): Array[Byte] = {
    val header = "P6\n9 8\n255\n".getBytes("US-ASCII")
    val buf = new Array[Byte](header.length + 9 * 8 * 3)
    System.arraycopy(header, 0, buf, 0, header.length)
    var o = header.length
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = dhashPixel(id, x, y).toByte
        buf(o) = v; buf(o + 1) = v; buf(o + 2) = v
        o += 3; x += 1
      }
      y += 1
    }
    buf
  }

  /** dHash of a P6 payload: real header walk ([[ppmHeader]]), then
    * bit (y·8 + x) = 1 iff gray(x+1, y) > gray(x, y) over the RED
    * channel (the fixtures are gray, r == g == b). Requires exactly
    * 9×8 — the caller resizes first for anything larger.
    */
  def dhash64(id: Long, bytes: Array[Byte]): Long = {
    val (w, h, _, pos) = ppmHeader(id, bytes)
    require(w == 9 && h == 8, s"doc $id: dhash64 wants 9x8, got ${w}x$h")
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val a = bytes(pos + (y * 9 + x) * 3) & 255
        val b = bytes(pos + (y * 9 + x + 1) * 3) & 255
        if (b > a) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** One row per fixture image: (doc_id, dhash). */
  final case class DHashRow(doc_id: Long, dhash: Long)

  /** Decode the per-id fixture payloads through the REAL parser and
    * hash them — partition-local, zero shuffle; at deployment scale
    * the payload column arrives from storage instead of the fixture.
    */
  def dhashFixtures(spark: SparkSession, ids: DataFrame): Dataset[DHashRow] = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => DHashRow(id, dhash64(id, dhashFixture(id)))))
  }

  /** Width of the perceptual fingerprints: image dHash ([[dhash64]])
    * and the audio envelope hash ([[audioEnvelopeHash]]).
    */
  val PerceptualBits = 64

  /** Near-dup image pairs within `maxHamming` bits: [[hammingPairs]]
    * over the 64-bit `dhash` column.
    */
  def dhashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(hashes, "dhash", PerceptualBits, maxHamming)

  /** XOR-popcount distance between two fingerprint columns, as a long. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** (doc_id, dhash, blk, bval): the exploded Manku block keys
    * (Manku et al., WWW'07 §3) of any (doc_id, <hashCol>) frame of
    * `bits`-wide fingerprints — `maxHamming + 1` equal blocks, so by
    * pigeonhole any pair within `maxHamming` bits agrees EXACTLY on one
    * whole block. Text SimHash ([[Dedup.SimhashBits]]), image dHash and
    * the audio envelope hash ([[PerceptualBits]]) share THIS builder,
    * as do the batch pair miner and the streaming ingest screen
    * ([[graft.streaming.DocStreams.dhashScreen]]), so none can drift on
    * block geometry. The output hash column is normalized to `dhash`
    * whatever the input name.
    */
  def hammingBlocks(hashes: DataFrame, hashCol: String, bits: Int,
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = hammingBlockBits(bits, maxHamming)
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    hashes.select(col("doc_id"), col(hashCol).as("dhash"),
      posexplode(array((0 until nBlocks).map(i =>
        shiftright(col(hashCol), bits - (i + 1) * blockBits)
          .bitwiseAND(lit(mask))): _*)).as(Seq("blk", "bval")))
  }

  /** Width of one of the `maxHamming + 1` equal Manku blocks of a
    * `bits`-wide fingerprint; rejects a radius whose blocks cannot tile
    * it.
    */
  private[operators] def hammingBlockBits(bits: Int, maxHamming: Int): Int = {
    require(maxHamming >= 0 && bits % (maxHamming + 1) == 0,
      s"maxHamming + 1 must be a positive divisor of $bits (equal " +
        s"$bits-bit blocks), got maxHamming = $maxHamming")
    bits / (maxHamming + 1)
  }

  /** Near-dup pairs within `maxHamming` bits over ANY `bits`-wide
    * fingerprint column — the one mine-and-verify behind
    * [[Dedup.simhashPairs]] (text), [[dhashPairs]] (images) and
    * [[audioFpPairs]] (audio): an equi-join on the [[hammingBlocks]]
    * keys, then the XOR-popcount verify inside codegen per candidate.
    * A pair agreeing on k blocks survives k times; hamming is
    * determined by the pair, so the distinct collapses exact
    * duplicates only.
    */
  def hammingPairs(hashes: DataFrame, hashCol: String, bits: Int,
      maxHamming: Int): DataFrame = {
    val blocks = hammingBlocks(hashes, hashCol, bits, maxHamming)
    val a = blocks.select(col("blk"), col("bval"),
      col("doc_id").as("doc_a"), col("dhash").as("hash_a"))
    val b = blocks.select(col("blk"), col("bval"),
      col("doc_id").as("doc_b"), col("dhash").as("hash_b"))
    a.join(b, Seq("blk", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", hammingDistance(col("hash_a"), col("hash_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
  }

  /** Parse a PCM or G.711 WAV payload: RIFF/WAVE magic, then a real
    * chunk walk (fmt / data in any order, other chunks skipped by
    * their declared size). Format tag 1 is 16-bit little-endian PCM;
    * tags 6 (A-law) and 7 (µ-law) carry one G.711 code byte per
    * sample, routed through [[alawDecode]]/[[ulawDecode]] on the walk
    * (ITU-T G.711 inside the container — the standard telephony WAV;
    * the ADPCM tag 0x11 lives in [[parseAdpcmWav]]). `peak` = max
    * |s|, `sum_abs` = Σ |s| over the DECODED 16-bit samples
    * (integer-exact); `bits` reports the container's declared code
    * width (16 for PCM, 8 for G.711 — the parseAdpcmWav bits = 4
    * convention).
    */
  def parseWav(id: Long, bytes: Array[Byte]): WavMeta = {
    val (rate, ch, bits, samples) = wavWalk(id, bytes)
    var peak = 0L; var sum = 0L
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i).toInt).toLong
      if (a > peak) peak = a
      sum += a
      i += 1
    }
    WavMeta(id, rate, ch, bits, samples.length.toLong, peak, sum)
  }

  /** Decoded 16-bit linear samples of a PCM or G.711 WAV payload —
    * the sample-level sibling of [[parseWav]] (the SAME walk and the
    * same container requires; G.711 code bytes come back through the
    * companding decoders), for consumers that need the waveform
    * itself: [[audioFeatures]], [[audioEnvelopeHash]].
    */
  def wavSamples(id: Long, bytes: Array[Byte]): Array[Short] =
    wavWalk(id, bytes)._4

  /** The one RIFF walk behind [[parseWav]] and [[wavSamples]]:
    * (rate, channels, declared bits, decoded linear samples).
    */
  private def wavWalk(id: Long,
      bytes: Array[Byte]): (Long, Long, Long, Array[Short]) = {
    def u8(i: Int) = bytes(i) & 255
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes.slice(i, i + 4), "US-ASCII")
    require(tag(0) == "RIFF" && tag(8) == "WAVE", s"doc $id: not a wav")
    var pos = 12
    var fmtTag = -1
    var rate = 0L; var ch = 0L; var bits = 0L
    var dataOff = -1; var dataLen = 0L
    while (pos + 8 <= bytes.length) {
      val t = tag(pos); val len = u32(pos + 4)
      // trust nothing declared: a corrupt length must fail loudly, not
      // loop (negative toInt) or walk past the buffer
      require(len >= 0 && pos + 8 + len <= bytes.length,
        s"doc $id: chunk '$t' declares $len bytes past the buffer")
      if (t == "fmt ") {
        fmtTag = u16(pos + 8)
        require(fmtTag == 1 || fmtTag == 6 || fmtTag == 7,
          s"doc $id: unsupported format tag $fmtTag " +
            "(PCM=1, A-law=6, mu-law=7; ADPCM 0x11 -> parseAdpcmWav)")
        ch = u16(pos + 10).toLong
        rate = u32(pos + 12)
        bits = u16(pos + 22).toLong
      } else if (t == "data") { dataOff = pos + 8; dataLen = len }
      pos += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    require(dataOff >= 0 && fmtTag > 0, s"doc $id: no data/fmt chunk")
    val samples =
      if (fmtTag == 1) {
        require(bits == 16, s"doc $id: PCM bits $bits != 16")
        val n = (dataLen / 2).toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = (u8(dataOff + 2 * i) | (u8(dataOff + 2 * i + 1) << 8)).toShort
          i += 1
        }
        out
      } else {
        require(bits == 8, s"doc $id: G.711 bits $bits != 8")
        val n = dataLen.toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          val c = u8(dataOff + i)
          out(i) = (if (fmtTag == 6) alawDecode(c) else ulawDecode(c)).toShort
          i += 1
        }
        out
      }
    (rate, ch, bits, samples)
  }

  /** Encode 16-bit little-endian PCM frames as a canonical 44-byte
    * RIFF/WAVE container (fmt then data — the layout every encoder
    * emits; [[parseWav]] additionally accepts chunk reorderings and
    * junk chunks on READ, the usual strict-write/lenient-read split).
    * Deterministic bytes by construction.
    */
  def encodeWav(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0, "bad wav params")
    require(samples.length % channels == 0,
      s"${samples.length} samples not a multiple of $channels channels")
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** REAL nearest-sample resample of a PCM WAV payload — decode, map
    * output frame i to input frame ⌊i·inRate ÷ outRate⌋ (the
    * [[resizePngBytes]] floor arithmetic in one dimension, frame-wise
    * so channel interleaving survives), re-encode via [[encodeWav]].
    * Duration-preserving: out frames = ⌊inFrames·outRate ÷ inRate⌋.
    */
  def resampleWavBytes(bytes: Array[Byte], outRate: Int): Array[Byte] = {
    require(outRate > 0, s"bad target rate $outRate")
    val meta = parseWav(0L, bytes)
    // the frame walk below reads 2-byte samples: a G.711 container
    // (bits = 8) must decode first, not be resampled on code bytes
    require(meta.bits == 16, s"resample needs 16-bit PCM, got " +
      s"${meta.bits}-bit codes — decode G.711 before resampling")
    val ch = meta.channels.toInt
    val inRate = meta.sample_rate
    val inFrames = meta.n_samples / ch
    // re-walk the container for the data offset (parseWav validated it)
    def u8(i: Int) = bytes(i) & 255
    def u32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes.slice(i, i + 4), "US-ASCII")
    var pos = 12; var dataOff = -1
    while (dataOff < 0 && pos + 8 <= bytes.length) {
      val len = u32(pos + 4)
      if (tag(pos) == "data") dataOff = pos + 8
      else pos += 8 + len.toInt + (len.toInt & 1)
    }
    val outFrames = (inFrames * outRate / inRate).toInt
    val out = new Array[Short](outFrames * ch)
    var i = 0
    while (i < outFrames) {
      val src = (i.toLong * inRate / outRate).toInt
      var c = 0
      while (c < ch) {
        val o = dataOff + (src * ch + c) * 2
        out(i * ch + c) =
          ((bytes(o) & 255) | (bytes(o + 1) << 8)).toShort
        c += 1
      }
      i += 1
    }
    encodeWav(outRate, ch, out)
  }

  /** Resample every WAV payload, emitting the RE-DECODED statistics —
    * decode → resample → encode → decode per row, the [[resizePng]]
    * contract for audio.
    */
  def resampleWav(spark: SparkSession, withPayload: DataFrame,
      outRate: Int): Dataset[WavMeta] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        parseWav(id, resampleWavBytes(b, outRate)) })
  }

  // ---- REAL compressed-audio codec: IMA ADPCM (WAV format tag 0x11),
  // pure JVM. The decode is a fixed published table algorithm (the
  // IMA/DVI 4-bit predictor: 89-entry step table + 8-entry index
  // adjustment, quantized difference reconstruction with clamping) —
  // no codec library involved, so unlike MP3/H.264 it is fully
  // implementable and bit-deterministic in any engine. This extends
  // the real-audio surface past PCM. ----

  /** The published IMA/DVI ADPCM step-size table (89 entries) —
    * public so the oracle registry can inline it as a list literal.
    */
  val ImaSteps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** The published index-adjustment table, keyed by nibble magnitude. */
  private[operators] val ImaIndexAdj: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decode an IMA nibble stream: the block-header predictor is the
    * first output sample, then each 4-bit code reconstructs one —
    * diff = step·(m/4 + 1/8) built from the nibble's magnitude bits
    * by shifts (exactly the integer form every IMA decoder uses),
    * sign bit 8, predictor clamped to s16, step index walked by
    * [[ImaIndexAdj]] and clamped to the table.
    */
  private[operators] def decodeImaNibbles(pred0: Int, idx0: Int,
      nibbles: Array[Int]): Array[Short] = {
    require(idx0 >= 0 && idx0 <= 88, s"initial step index $idx0")
    val out = new Array[Short](nibbles.length + 1)
    var pred = pred0
    var idx = idx0
    out(0) = pred.toShort
    var j = 0
    while (j < nibbles.length) {
      val n = nibbles(j)
      val step = ImaSteps(idx)
      var diff = step >> 3
      if ((n & 4) != 0) diff += step
      if ((n & 2) != 0) diff += step >> 1
      if ((n & 1) != 0) diff += step >> 2
      if ((n & 8) != 0) diff = -diff
      pred = math.max(-32768, math.min(32767, pred + diff))
      idx = math.max(0, math.min(88, idx + ImaIndexAdj(n & 7)))
      out(j + 1) = pred.toShort
      j += 1
    }
    out
  }

  /** The IMA ENCODER's nibble quantizer: the standard successive-
    * approximation against step/2/4 thresholds (sign bit 8, then
    * magnitude bits 4/2/1), followed by the SAME state update the
    * decoder applies — encoder and decoder predictors stay in
    * lockstep by construction, which is what bounds reconstruction
    * error to one quantization step on smooth signals. Returns the
    * nibble stream for samples AFTER the initial predictor
    * `samples(0)` (which rides in the block header verbatim).
    */
  def encodeImaNibbles(samples: Array[Short]): Array[Int] = {
    require(samples.nonEmpty, "need at least the header sample")
    var pred: Int = samples(0)
    var idx = 0
    val out = new Array[Int](samples.length - 1)
    var j = 1
    while (j < samples.length) {
      val step = ImaSteps(idx)
      var diff = samples(j) - pred
      var n = 0
      if (diff < 0) { n = 8; diff = -diff }
      if (diff >= step) { n |= 4; diff -= step }
      if (diff >= (step >> 1)) { n |= 2; diff -= step >> 1 }
      if (diff >= (step >> 2)) n |= 1
      // decoder-identical reconstruction keeps the states in lockstep
      var rec = step >> 3
      if ((n & 4) != 0) rec += step
      if ((n & 2) != 0) rec += step >> 1
      if ((n & 1) != 0) rec += step >> 2
      if ((n & 8) != 0) rec = -rec
      pred = math.max(-32768, math.min(32767, pred + rec))
      idx = math.max(0, math.min(88, idx + ImaIndexAdj(n & 7)))
      out(j - 1) = n
      j += 1
    }
    out
  }

  /** Full PCM→ADPCM→PCM round trip of a mono 16-bit sample array:
    * encode with [[encodeImaNibbles]] into a real container, decode
    * with [[parseAdpcmWav]], return the container's decoded stats.
    * The 4:1-compressed reconstruction is lossy by design; what IS
    * exact — and what the mm_adpcm_roundtrip oracle replays
    * bit-for-bit — is the deterministic encoder+decoder state
    * machine over the published tables.
    */
  def adpcmRoundTrip(id: Long, sampleRate: Int,
      samples: Array[Short]): WavMeta =
    parseAdpcmWav(id, encodeAdpcmWav(sampleRate, samples(0), 0,
      encodeImaNibbles(samples)))

  /** Encode a mono IMA-ADPCM WAV container (format tag 0x11), one
    * block: fmt with the cbSize=2 samplesPerBlock extension, the
    * spec-required fact chunk (total sample count), data = the 4-byte
    * block header (initial predictor s16le, step index, reserved 0)
    * followed by packed nibbles, LOW nibble first (the IMA packing
    * order). Deterministic bytes by construction.
    */
  def encodeAdpcmWav(sampleRate: Int, pred0: Short, idx0: Int,
      nibbles: Array[Int]): Array[Byte] = {
    require(sampleRate > 0, s"bad rate $sampleRate")
    require(idx0 >= 0 && idx0 <= 88, s"initial step index $idx0")
    require(nibbles.forall(n => n >= 0 && n <= 15), "nibbles must be 4-bit")
    val nBytes = (nibbles.length + 1) / 2
    val blockAlign = 4 + nBytes
    val nSamples = nibbles.length + 1
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + 4 + 8 +
      blockAlign).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII"))
      .putInt(4 + 8 + 20 + 8 + 4 + 8 + blockAlign)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * blockAlign / nSamples) // nominal byte rate
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(nSamples.toShort) // cbSize, samplesPerBlock
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(nSamples)
    out.put("data".getBytes("US-ASCII")).putInt(blockAlign)
    out.putShort(pred0).put(idx0.toByte).put(0.toByte)
    var j = 0
    while (j < nBytes) {
      val lo = nibbles(2 * j)
      val hi = if (2 * j + 1 < nibbles.length) nibbles(2 * j + 1) else 0
      out.put((lo | (hi << 4)).toByte)
      j += 1
    }
    out.array()
  }

  /** Parse a mono IMA-ADPCM WAV payload (format tag 0x11): RIFF chunk
    * walk (the [[parseWav]] discipline — every declared length
    * bounds-checked), then the real table decode of each data block.
    * Emits [[WavMeta]] with `bits` = 4 (the container's declared
    * code width) and peak / Σ|s| over the DECODED 16-bit samples —
    * closed-form verifiable by an oracle replaying the published
    * tables (the mm_decode_adpcm recursive-CTE oracle does exactly
    * that).
    */
  def parseAdpcmWav(id: Long, bytes: Array[Byte]): WavMeta = {
    def u8(i: Int) = bytes(i) & 255
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes.slice(i, i + 4), "US-ASCII")
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $id: not a wav")
    var pos = 12
    var rate = 0L; var ch = 0L; var blockAlign = 0
    var samplesPerBlock = -1
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= bytes.length) {
      val t = tag(pos); val len = u32(pos + 4)
      require(len >= 0 && pos + 8 + len <= bytes.length,
        s"doc $id: chunk '$t' declares $len bytes past the buffer")
      if (t == "fmt ") {
        require(u16(pos + 8) == 0x11, s"doc $id: not IMA ADPCM")
        ch = u16(pos + 10).toLong
        rate = u32(pos + 12)
        blockAlign = u16(pos + 20)
        require(u16(pos + 22) == 4, s"doc $id: ADPCM bits != 4")
        // the cbSize=2 extension: samples per block — authoritative
        // for how many of the block's nibbles are REAL (an odd
        // sample count leaves a pad nibble in the last byte, which
        // must not decode as a phantom sample)
        if (len >= 20) samplesPerBlock = u16(pos + 26)
      } else if (t == "data") { dataOff = pos + 8; dataLen = len.toInt }
      pos += 8 + len.toInt + (len.toInt & 1)
    }
    require(dataOff >= 0 && blockAlign > 4, s"doc $id: no ADPCM data/fmt")
    require(ch == 1, s"doc $id: only mono ADPCM supported")
    var peak = 0L; var sum = 0L; var nSamples = 0L
    var blk = 0
    while (blk < dataLen) {
      val bl = math.min(blockAlign, dataLen - blk)
      require(bl > 4, s"doc $id: truncated ADPCM block header")
      val o = dataOff + blk
      val u = u16(o)
      val pred0 = if (u >= 32768) u - 65536 else u
      val idx0 = u8(o + 2)
      require(idx0 <= 88, s"doc $id: step index $idx0 out of table")
      val rawNibbles = 2 * (bl - 4)
      val nReal =
        if (samplesPerBlock > 0) math.min(rawNibbles, samplesPerBlock - 1)
        else rawNibbles
      val nibbles = new Array[Int](nReal)
      var j = 0
      while (j < nReal) {
        val b = u8(o + 4 + j / 2)
        nibbles(j) = if (j % 2 == 0) b & 15 else b >>> 4
        j += 1
      }
      val samples = decodeImaNibbles(pred0, idx0, nibbles)
      samples.foreach { s =>
        val a = math.abs(s.toLong)
        if (a > peak) peak = a
        sum += a
      }
      nSamples += samples.length
      blk += bl
    }
    WavMeta(id, rate, ch, 4L, nSamples, peak, sum)
  }

  /** Deterministic IMA-ADPCM fixture for doc `id`: 8 kHz mono, one
    * block — initial predictor (id·97 mod 2001) − 1000, initial step
    * index id mod 89, 40 nibbles n_j = (id·7 + 5j) mod 16. Every
    * quantity [[parseAdpcmWav]] emits is a closed-form function of
    * the id through the published tables — the recursive-CTE oracle
    * contract.
    */
  def adpcmFixture(id: Long): Array[Byte] =
    encodeAdpcmWav(8000, ((id * 97) % 2001 - 1000).toShort,
      (id % 89).toInt,
      Array.tabulate(40)(j => ((id * 7 + 5 * j) % 16).toInt))

  /** Partition-local fixture decode — the mm_decode_adpcm query. */
  def decodeAdpcmFixtures(spark: SparkSession, ids: DataFrame)
      : Dataset[WavMeta] = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => parseAdpcmWav(id, adpcmFixture(id))))
  }

  // ---- REAL telephony codecs: G.711 mu-law + A-law ----------------------
  // Stateless logarithmic companding (ITU-T G.711) — unlike ADPCM there
  // is no per-sample state, so the oracle mirrors both laws as plain
  // per-sample CASE/shift arithmetic (no recursion). 16-bit PCM domain;
  // the standard bias-132 mu-law formulation and the 13-bit-magnitude
  // A-law segment layout (sign bit 1 = positive, code XOR 0x55).

  /** mu-law encode of a 16-bit sample → code byte 0..255: clamp |s| at
    * 32635, add bias 132, segment e = floor(log2(m)) − 7 ∈ [0,7],
    * 4-bit mantissa below the leading bit, ones-complemented.
    */
  def ulawEncode(s: Int): Int = {
    val sign = if (s < 0) 0x80 else 0
    val m = math.min(math.abs(s), 32635) + 132
    val e = 31 - Integer.numberOfLeadingZeros(m) - 7
    val mant = (m >> (e + 3)) & 0xF
    ~(sign | (e << 4) | mant) & 0xFF
  }

  /** mu-law decode: magnitude ((mant·8 + 132) << e) − 132, sign from
    * the complemented top bit. Max output 32124.
    */
  def ulawDecode(c: Int): Int = {
    val u = ~c & 0xFF
    val e = (u >> 4) & 7
    val mag = (((u & 0xF) * 8 + 132) << e) - 132
    if ((u & 0x80) != 0) -mag else mag
  }

  /** A-law encode: 13-bit magnitude (|s| >> 3), segment e ∈ [0,7]
    * (e = 0 below 32), mantissa = m >> 1 (e = 0) or the 4 bits below
    * the leading bit, sign bit 0x80 = POSITIVE, code XOR 0x55.
    */
  def alawEncode(s: Int): Int = {
    val sign = if (s >= 0) 0x80 else 0
    val m = math.min(math.abs(s), 32767) >> 3
    val e = if (m < 32) 0 else 31 - Integer.numberOfLeadingZeros(m) - 4
    val mant = if (e == 0) m >> 1 else (m >> e) & 0xF
    (sign | (e << 4) | mant) ^ 0x55
  }

  /** A-law decode: 13-bit midpoint ((mant·2 + 1) at e = 0, else
    * ((16 + mant) << e) + 2^(e−1)), restored to 16-bit by << 3.
    */
  def alawDecode(c: Int): Int = {
    val a = c ^ 0x55
    val e = (a >> 4) & 7
    val mant = a & 0xF
    val m13 = if (e == 0) mant * 2 + 1 else ((16 + mant) << e) + (1 << (e - 1))
    if ((a & 0x80) != 0) m13 << 3 else -(m13 << 3)
  }

  /** Per-doc G.711 round-trip statistics over a sample array: decoded
    * peak / sum|y| / max quantization error per law, plus the code-byte
    * sums that pin the WIRE representation (complement layout, XOR
    * 0x55) — decode∘encode alone would only pin the composition.
    */
  final case class G711Stats(
      doc_id: Long, n_samples: Long,
      ulaw_peak: Long, ulaw_sum_abs: Long, ulaw_max_err: Long,
      ulaw_code_sum: Long,
      alaw_peak: Long, alaw_sum_abs: Long, alaw_max_err: Long,
      alaw_code_sum: Long)

  def g711RoundTrip(id: Long, samples: Array[Int]): G711Stats = {
    var uPeak, uSum, uErr, uCode, aPeak, aSum, aErr, aCode = 0L
    samples.foreach { x =>
      val uc = ulawEncode(x)
      val uy = ulawDecode(uc)
      uPeak = math.max(uPeak, math.abs(uy))
      uSum += math.abs(uy)
      uErr = math.max(uErr, math.abs(uy - x))
      uCode += uc
      val ac = alawEncode(x)
      val ay = alawDecode(ac)
      aPeak = math.max(aPeak, math.abs(ay))
      aSum += math.abs(ay)
      aErr = math.max(aErr, math.abs(ay - x))
      aCode += ac
    }
    G711Stats(id, samples.length, uPeak, uSum, uErr, uCode,
      aPeak, aSum, aErr, aCode)
  }

  /** Encode G.711 code bytes in a canonical RIFF/WAVE container
    * (format tag 6 = A-law, 7 = µ-law): the spec-correct 18-byte
    * non-PCM fmt chunk (cbSize = 0), one code byte per sample, data
    * word-aligned. Deterministic bytes by construction; the read side
    * is [[parseWav]]'s tag-6/7 path.
    */
  def encodeG711Wav(sampleRate: Int, channels: Int, law: Int,
      codes: Array[Byte]): Array[Byte] = {
    require(law == 6 || law == 7, s"G.711 format tag must be 6|7, got $law")
    require(sampleRate > 0 && channels > 0, "bad wav params")
    require(codes.length % channels == 0,
      s"${codes.length} codes not a multiple of $channels channels")
    val pad = codes.length & 1
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 18 + 8 +
      codes.length + pad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII"))
      .putInt(4 + 8 + 18 + 8 + codes.length + pad)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(law.toShort).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels) // 1 byte per sample per channel
      .putShort(channels.toShort).putShort(8).putShort(0) // cbSize = 0
    out.put("data".getBytes("US-ASCII")).putInt(codes.length).put(codes)
    out.array()
  }

  /** Partition-local decode of G.711-in-WAV fixtures: for each id,
    * one A-law (tag 6) and one µ-law (tag 7) container over the SAME
    * closed-form code bytes c_j = (id·13 + 7j) mod 256, j < 48 — so
    * both laws' container routing is exercised on every document and
    * the per-law rows differ exactly by the companding arithmetic.
    * 8 kHz mono; the mm_decode_g711_wav oracle replays both stateless
    * decode laws per code byte.
    */
  def decodeG711WavFixtures(spark: SparkSession, ids: DataFrame)
      : DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val codes = Array.tabulate(48)(j => ((id * 13 + 7 * j) % 256).toByte)
        Seq("alaw" -> 6, "ulaw" -> 7).map { case (law, t) =>
          val m = parseWav(id, encodeG711Wav(8000, 1, t, codes))
          (id, law, m.sample_rate, m.channels, m.bits, m.n_samples,
            m.peak, m.sum_abs)
        }
      })
      .toDF("doc_id", "law", "sample_rate", "channels", "bits",
        "n_samples", "peak", "sum_abs")
  }

  /** Partition-local G.711 round trip of the closed-form fixture
    * waveform s_j = ((id·29 + 11j) mod 65535) − 32767, j < 64 — full
    * 16-bit range, both signs; the mm_g711_roundtrip oracle replays
    * the identical stateless arithmetic per sample.
    */
  def g711Fixtures(spark: SparkSession, ids: DataFrame)
      : Dataset[G711Stats] = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => g711RoundTrip(id,
        Array.tabulate(64)(j => (((id * 29 + 11 * j) % 65535) - 32767).toInt))))
  }

  /** Partition-local REAL decode of P6 payloads (the
    * [[decodePartitions]] shape with an actual parser). */
  def decodePpm(spark: SparkSession, withPayload: DataFrame)
      : Dataset[PpmMeta] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => parsePpm(id, b) })
  }

  /** Partition-local REAL decode of PCM WAV payloads. */
  def decodeWav(spark: SparkSession, withPayload: DataFrame)
      : Dataset[WavMeta] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => parseWav(id, b) })
  }

  // ---- Audio feature extraction: frame-level integer-exact stats --------
  // The multimodal pipeline's feature-extract stage for audio. All
  // four features are integer-exact over the DECODED linear samples
  // (G.711 payloads come back through the companding decoders first),
  // so an oracle that knows the sample law can hash-gate them:
  //   energy  = Σ s²        (the classic VAD/loudness gate)
  //   zcr     = zero crossings — sign flips between CONSECUTIVE
  //             samples WITHIN the frame (a crude pitch/noisiness cue)
  //   peak    = max |s|
  //   clipped = #{|s| ≥ 32767} (both rails — saturation detector)

  /** One frame of audio features; `frame_pos` is the 0-based frame
    * index at `frameLen` samples per frame (trailing partial frames
    * are dropped — features over a short tail would not be comparable
    * across rows).
    */
  final case class AudioFrame(doc_id: Long, frame_pos: Long,
      energy: Long, zcr: Long, peak: Long, clipped: Long)

  private[operators] def frameFeatures(id: Long, samples: Array[Short],
      frameLen: Int): Array[AudioFrame] = {
    require(frameLen > 0, s"doc $id: frameLen must be positive, got $frameLen")
    val nFrames = samples.length / frameLen
    val out = new Array[AudioFrame](nFrames)
    var k = 0
    while (k < nFrames) {
      var energy = 0L; var zcr = 0L; var peak = 0L; var clipped = 0L
      var i = 0
      while (i < frameLen) {
        val s = samples(k * frameLen + i).toInt
        val a = math.abs(s).toLong
        energy += a * a
        if (a > peak) peak = a
        if (a >= 32767) clipped += 1
        if (i > 0 && ((s < 0) != (samples(k * frameLen + i - 1) < 0))) zcr += 1
        i += 1
      }
      out(k) = AudioFrame(id, k.toLong, energy, zcr, peak, clipped)
      k += 1
    }
    out
  }

  /** Frame-level features for every WAV payload: decode (PCM or
    * G.711) → fixed `frameLen`-sample frames → integer-exact
    * energy/zcr/peak/clip per frame. Partition-local map-only work —
    * the 1→nFrames fan-out never crosses an exchange, so the plan is
    * a scan plus codegen whatever the corpus size; only the caller's
    * output ordering shuffles.
    */
  def audioFeatures(spark: SparkSession, withPayload: DataFrame,
      frameLen: Int = 4): Dataset[AudioFrame] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        frameFeatures(id, wavSamples(id, b), frameLen) })
  }

  // ---- Perceptual audio dedup: envelope hash over frame energies --------
  // [[dhash64]]'s sign-of-delta law on the time axis: 65 consecutive
  // frame energies give 64 comparisons, bit k = 1 iff E(k+1) > E(k).
  // Re-encodes, gain-linear edits, and small local noise keep most
  // delta signs, so near-duplicate clips land within a few bits while
  // unrelated audio sits ~32 apart — and the SAME Manku block miner
  // ([[hammingPairs]]) that serves text SimHash and image dHash mines
  // the pairs with exact recall at hamming ≤ 3.

  /** 64-bit envelope fingerprint over the first 65 `frameLen`-sample
    * frames: bit k = 1 iff frame-energy E(k+1) > E(k).
    */
  def audioEnvelopeHash(id: Long, samples: Array[Short],
      frameLen: Int = 4): Long = {
    require(samples.length >= 65 * frameLen,
      s"doc $id: envelope hash needs 65 frames = ${65 * frameLen} " +
        s"samples, got ${samples.length}")
    val e = new Array[Long](65)
    var k = 0
    while (k < 65) {
      var sum = 0L; var i = 0
      while (i < frameLen) {
        val s = samples(k * frameLen + i).toLong
        sum += s * s
        i += 1
      }
      e(k) = sum; k += 1
    }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (e(k + 1) > e(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Deterministic per-id sample law for the envelope-hash fixture
    * corpus (the [[dhashPixel]] quadratic-scramble convention — a
    * LINEAR law would give every doc the same phase-shifted envelope
    * and mine false twins): 260 samples
    * u(i) = (t² div 7) mod 4096 with t = (id div 2)·73 + 151·i + 17,
    * signed v = u − 2048; ids 2k/2k+1 are near-twins — the odd id
    * perturbs ONLY sample 0 (+600 mod 4096), which can move frame
    * energy E(0) alone, so a twin pair lands within hamming 1 while
    * distinct k differ on ~half the delta signs. SQL-closed-form, so
    * the oracle replays it exactly.
    */
  private[operators] def envelopeSample(id: Long, i: Int): Int = {
    val t = (id / 2) * 73 + 151L * i + 17
    val u = (t * t / 7) % 4096
    val p = if (id % 2 == 1 && i == 0) (u + 600) % 4096 else u
    p.toInt - 2048
  }

  /** One row per fixture clip: (doc_id, fp). The fixture samples go
    * through the REAL container round ([[encodeWav]] → [[wavSamples]]'
    * chunk walk) before hashing — the plumbing is real, the waveform
    * synthesized (the [[dhashFixtures]] contract for audio).
    */
  def envelopeFixtures(spark: SparkSession, ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val samples = Array.tabulate(260)(i => envelopeSample(id, i).toShort)
        val wav = encodeWav(8000, 1, samples)
        (id, audioEnvelopeHash(id, wavSamples(id, wav)))
      }).toDF("doc_id", "fp")
  }

  /** Near-dup audio pairs within `maxHamming` bits over the envelope
    * fingerprints — [[hammingPairs]] on the `fp` column: the image
    * miner's exact-recall block geometry, unchanged.
    */
  def audioFpPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(fps, "fp", PerceptualBits, maxHamming)

  // ---- Video scene-cut detection over sampled frames ---------------------
  // The keyframe-extraction primitive for video training data: decode
  // the sampled frames ([[frameSample]] is the byte-level sibling),
  // dHash each frame, and call a cut wherever consecutive frames'
  // hashes differ by more than the near-dup threshold — recompression
  // noise moves a dHash a bit or two, a scene change rewrites it
  // (~32 bits). One hash per frame, one lag comparison per transition.

  /** Deterministic per-(video, frame) pixel law for the scene-cut
    * fixture corpus: scenes are 4 frames long — the base image is the
    * [[dhashPixel]]-style quadratic scramble of (id, scene), and
    * within a scene each frame jitters ONLY pixel (0,0) by +frame%4
    * (≤ 1 dHash bit — recompression-grade noise), so transitions
    * within a scene sit at hamming ≤ 1 and scene boundaries at ~32.
    */
  private[operators] def videoPixel(id: Long, f: Int, x: Int, y: Int): Int = {
    val t = id * 73 + (f / 4) * 1009L + x * 151 + y * 179 + 17
    val base = ((t * t / 7) % 256).toInt
    if (x == 0 && y == 0) (base + f % 4) % 256 else base
  }

  /** 9×8 grayscale P6 frame under [[videoPixel]]. */
  def videoFrameFixture(id: Long, f: Int): Array[Byte] = {
    val header = "P6\n9 8\n255\n".getBytes("US-ASCII")
    val buf = new Array[Byte](header.length + 9 * 8 * 3)
    System.arraycopy(header, 0, buf, 0, header.length)
    var o = header.length
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = videoPixel(id, f, x, y).toByte
        buf(o) = v; buf(o + 1) = v; buf(o + 2) = v
        o += 3; x += 1
      }
      y += 1
    }
    buf
  }

  /** One row per sampled frame: (doc_id, frame_idx, dhash), each frame
    * decoded through the REAL parser ([[dhash64]]'s header walk) —
    * partition-local, zero shuffle; at deployment scale the frames
    * arrive from the decoder instead of the fixture.
    */
  def videoFrames(spark: SparkSession, ids: DataFrame,
      nFrames: Int = 12): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap(id => (0 until nFrames).iterator.map(f =>
        (id, f.toLong, dhash64(id, videoFrameFixture(id, f))))))
      .toDF("doc_id", "frame_idx", "dhash")
  }

  /** Scene cuts from per-frame dHashes: lag window per video (the
    * partition is ONE video's sampled frames — bounded by the sampling
    * rate whatever the corpus size, so the sort is per-key tiny), XOR
    * popcount against the previous frame, `is_cut` where the distance
    * exceeds the near-dup threshold. One row per TRANSITION (frame 0
    * has no predecessor).
    */
  def sceneCuts(frames: DataFrame, maxHamming: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frames.withColumn("_prev", lag(col("dhash"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .withColumn("hamming", hammingDistance(col("dhash"), col("_prev")))
      .select(col("doc_id"), col("frame_idx"), col("hamming"),
        (col("hamming") > maxHamming).cast("int").as("is_cut"))
  }

  /** REAL nearest-neighbor resize of a P6 payload: source pixel
    * (sx, sy) = (x·w ÷ outW, y·h ÷ outH) (floor), emitted as a fresh
    * P6 payload. Pure integer index arithmetic over the decoded
    * buffer — deterministic bytes, so downstream content hashes are
    * stable.
    */
  def resizePpmBytes(bytes: Array[Byte], outW: Int, outH: Int)
      : Array[Byte] = {
    val meta = parsePpm(0L, bytes)
    val (w, h) = (meta.width.toInt, meta.height.toInt)
    val pixelOff = bytes.length - meta.n_pixel_bytes.toInt
    val header = s"P6\n$outW $outH\n${meta.maxval}\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + outW * outH * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        val sx = x * w / outW
        val src = pixelOff + (sy * w + sx) * 3
        val dst = header.length + (y * outW + x) * 3
        out(dst) = bytes(src); out(dst + 1) = bytes(src + 1)
        out(dst + 2) = bytes(src + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- REAL compressed-image codec: PNG, pure JDK. ----
  // The deflate machinery ships in every JDK (java.util.zip.Inflater /
  // CRC32 / Adler32 — public platform API, no imaging library needed),
  // so PNG needs only the container walk + per-scanline unfilter,
  // implemented below on the parsePpm/parseWav pattern. Decoder:
  // signature check, CRC-verified chunk walk, multi-IDAT zlib inflate,
  // all five scanline filters (None/Sub/Up/Average/Paeth, RFC 2083
  // §6). Encoder (fixture + sink side): the same filters applied
  // forward, stored-mode deflate blocks (BTYPE=00) so the emitted
  // bytes are deterministic across JDKs — java.util.zip.Deflater's
  // compressed output is zlib-version-dependent, stored blocks are
  // byte-exact by construction.

  /** Decoded PNG image: real chunk walk + inflate + unfilter +
    * pixel statistics. `n_raw_bytes` = the INFLATED scanline stream
    * length h·(1+w·bpp) — closed-form verifiable, unlike the
    * compressed IDAT length. Means are truncating integer means over
    * the R/G/B channels (alpha excluded for color_type 6).
    */
  final case class PngMeta(
      doc_id: Long, width: Long, height: Long, bit_depth: Long,
      color_type: Long, n_raw_bytes: Long,
      mean_r: Long, mean_g: Long, mean_b: Long)

  private val PngSig: Array[Int] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  private def bytesPerPixel(colorType: Int): Int = colorType match {
    case 2 => 3 // truecolor RGB
    case 6 => 4 // truecolor + alpha
    case ct => throw new IllegalArgumentException(
      s"unsupported color type $ct (8-bit RGB/RGBA only)")
  }

  /** Paeth predictor (RFC 2083 §6.6) — operand order matters for the
    * tie-breaks (left ≻ up ≻ upper-left).
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decompression-bomb guard: max decoded pixel count accepted by
    * [[pngPixels]] (default 2²⁶ ≈ 67M pixels — a 8192×8192 RGBA
    * decodes to ~268 MB, the ceiling of what a per-row decode should
    * ever hold). The bound is checked BEFORE any allocation: a
    * tiny payload whose CRC-valid IHDR declares 20000×20000 would
    * otherwise force ~1.2 GB of allocations and escape the triage
    * screen as an executor OutOfMemoryError rather than a caught
    * verdict. Callers with bigger genuine assets pass `maxPixels`
    * explicitly.
    */
  val MaxPngPixels: Long = 1L << 26

  /** zlib's worst-case expansion is ~1032:1 (one bit per 258-byte
    * match run); a declared raw size beyond idat·1032 cannot be a
    * valid stream and is rejected before allocating.
    */
  private val ZlibMaxExpansion = 1032L

  /** Decode a PNG payload to (width, height, colorType, raw pixel
    * bytes — unfiltered scanlines concatenated, no filter bytes).
    * Fails loudly on: bad signature, chunk CRC mismatch, declared
    * chunk length past the buffer, non-IHDR first chunk, unsupported
    * bit depth / color type / interlace, dims past `maxPixels` or
    * impossible for the carried IDAT size (both checked BEFORE
    * allocating — the decompression-bomb guard), inflate size
    * mismatch, or an unknown filter byte — a corrupt asset must
    * never decode to plausible pixels, and never OOM past a
    * [[pngVerdicts]] screen.
    */
  private[operators] def pngPixels(id: Long, bytes: Array[Byte],
      maxPixels: Long = MaxPngPixels): (Int, Int, Int, Array[Byte]) = {
    require(bytes.length >= 8 &&
      (0 until 8).forall(i => (bytes(i) & 255) == PngSig(i)),
      s"doc $id: not a png")
    def u32(i: Int): Long = ((bytes(i) & 255).toLong << 24) |
      ((bytes(i + 1) & 255).toLong << 16) |
      ((bytes(i + 2) & 255).toLong << 8) | (bytes(i + 3) & 255).toLong
    def tag(i: Int) = new String(bytes.slice(i, i + 4), "US-ASCII")
    var pos = 8
    var w = 0; var h = 0; var depth = 0; var ct = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (pos + 8 <= bytes.length && !seenIend) {
      val len = u32(pos); val t = tag(pos + 4)
      require(len <= Int.MaxValue - 12 && pos + 12 + len <= bytes.length,
        s"doc $id: chunk '$t' declares $len bytes past the buffer")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len.toInt)
      require(crc.getValue == u32(pos + 8 + len.toInt),
        s"doc $id: CRC mismatch in chunk '$t'")
      t match {
        case "IHDR" =>
          require(!seenIhdr && len == 13, s"doc $id: bad IHDR")
          w = u32(pos + 8).toInt; h = u32(pos + 12).toInt
          depth = bytes(pos + 16) & 255; ct = bytes(pos + 17) & 255
          require(depth == 8, s"doc $id: bit depth $depth (8 only)")
          bytesPerPixel(ct) // validates the color type
          require((bytes(pos + 18) & 255) == 0 &&
            (bytes(pos + 19) & 255) == 0,
            s"doc $id: nonstandard compression/filter method")
          require((bytes(pos + 20) & 255) == 0,
            s"doc $id: interlaced png not supported")
          require(w > 0 && h > 0, s"doc $id: empty png ($w x $h)")
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, s"doc $id: IDAT before IHDR")
          idat.write(bytes, pos + 8, len.toInt)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunk: CRC checked, content skipped
      }
      pos += 12 + len.toInt
    }
    require(seenIhdr && seenIend && idat.size > 0,
      s"doc $id: missing IHDR/IDAT/IEND")
    val bpp = bytesPerPixel(ct)
    // size sanity BEFORE any allocation, all in Long (w·h and
    // h·(1+w·bpp) overflow Int for CRC-valid bomb headers): the pixel
    // bound, and the zlib-impossibility bound on the declared raw
    // size vs the IDAT bytes actually carried
    require(w.toLong * h <= maxPixels,
      s"doc $id: $w x $h exceeds the $maxPixels-pixel decode bound")
    val rowLenL = w.toLong * bpp
    val rawLenL = h.toLong * (1 + rowLenL)
    require(rawLenL <= idat.size.toLong * ZlibMaxExpansion + 64,
      s"doc $id: ${idat.size} IDAT bytes cannot inflate to $rawLenL")
    val rowLen = rowLenL.toInt
    val rawLen = rawLenL.toInt
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater() // zlib-wrapped, the PNG spec
    inf.setInput(idat.toByteArray)
    // inflate() may legally return a partial count even with output
    // space left — loop until the stream finishes or stalls, then
    // require the exact declared total
    var got = 0
    var stalled = false
    while (!inf.finished() && !stalled && got < rawLen) {
      val n = inf.inflate(raw, got, rawLen - got)
      if (n == 0 && !inf.finished()) stalled = true else got += n
    }
    if (got == rawLen && !inf.finished()) {
      // buffer filled on the same call that consumed the final block:
      // probe one byte — a valid stream yields 0 and flips finished();
      // surplus raw data is a size mismatch and fails the require
      val probe = new Array[Byte](1)
      if (inf.inflate(probe) > 0) got += 1
    }
    require(got == rawLen && inf.finished(),
      s"doc $id: inflate produced $got of $rawLen raw bytes")
    inf.end()
    // unfilter in place into the pixel buffer (RFC 2083 §6.3-6.9):
    // each reconstruction is mod-256 byte arithmetic against the
    // already-reconstructed left / up / upper-left neighbors
    val px = new Array[Byte](h * rowLen)
    var y = 0
    while (y < h) {
      val ft = raw(y * (1 + rowLen)) & 255
      val src = y * (1 + rowLen) + 1
      val dst = y * rowLen
      var j = 0
      while (j < rowLen) {
        val x = raw(src + j) & 255
        val left = if (j >= bpp) px(dst + j - bpp) & 255 else 0
        val up = if (y > 0) px(dst - rowLen + j) & 255 else 0
        val upLeft =
          if (y > 0 && j >= bpp) px(dst - rowLen + j - bpp) & 255 else 0
        val rec = ft match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 => x + paeth(left, up, upLeft)
          case f => throw new IllegalArgumentException(
            s"doc $id: unknown filter $f in scanline $y")
        }
        px(dst + j) = (rec & 255).toByte
        j += 1
      }
      y += 1
    }
    (w, h, ct, px)
  }

  /** Parse a PNG payload to [[PngMeta]] — real decode (see
    * [[pngPixels]]), integer-exact channel means so an oracle that
    * knows the pixel construction verifies the full chain (chunk
    * walk, CRCs, inflate, all five unfilters) in closed form.
    */
  def parsePng(id: Long, bytes: Array[Byte]): PngMeta = {
    val (w, h, ct, px) = pngPixels(id, bytes)
    val bpp = bytesPerPixel(ct)
    val n = w.toLong * h
    var (sr, sg, sb) = (0L, 0L, 0L)
    var p = 0
    while (p < n) {
      val o = p * bpp
      sr += px(o) & 255; sg += px(o + 1) & 255; sb += px(o + 2) & 255
      p += 1
    }
    PngMeta(id, w, h, 8L, ct, h.toLong * (1 + w * bpp),
      sr / n, sg / n, sb / n)
  }

  /** Encode raw 8-bit pixels as a PNG payload. Deterministic across
    * JDKs: the zlib stream uses STORED deflate blocks (BTYPE=00 —
    * byte-exact by construction, where Deflater's compressed output
    * varies by zlib version) with the standard Adler-32 trailer, and
    * every chunk carries its CRC-32. `filterOfRow` picks each
    * scanline's filter (default cycles through all five — the
    * decoder-coverage choice; a size-optimizing encoder would pick
    * per-row minimal-sum filters here). The IDAT stream splits at
    * [[PngIdatSplit]] bytes to produce multi-IDAT files, which the
    * spec permits and decoders must reassemble.
    */
  def encodePng(w: Int, h: Int, colorType: Int, pixels: Array[Byte],
      filterOfRow: Int => Int = _ % 5): Array[Byte] = {
    val bpp = bytesPerPixel(colorType)
    val rowLen = w * bpp
    require(pixels.length == h * rowLen,
      s"pixel buffer ${pixels.length} != h*w*bpp ${h * rowLen}")
    // forward-filter the scanlines (the encoder half of pngPixels'
    // reconstruction: filt = raw - predictor, mod 256)
    val raw = new Array[Byte](h * (1 + rowLen))
    var y = 0
    while (y < h) {
      val ft = filterOfRow(y)
      require(ft >= 0 && ft <= 4, s"filter $ft out of range")
      raw(y * (1 + rowLen)) = ft.toByte
      var j = 0
      while (j < rowLen) {
        val x = pixels(y * rowLen + j) & 255
        val left = if (j >= bpp) pixels(y * rowLen + j - bpp) & 255 else 0
        val up = if (y > 0) pixels((y - 1) * rowLen + j) & 255 else 0
        val upLeft =
          if (y > 0 && j >= bpp) pixels((y - 1) * rowLen + j - bpp) & 255
          else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, upLeft)
        }
        raw(y * (1 + rowLen) + 1 + j) = ((x - pred) & 255).toByte
        j += 1
      }
      y += 1
    }
    // zlib-wrap with stored blocks: 0x78 0x01 header, then
    // (BFINAL|BTYPE=00, LEN, NLEN, data) runs, then Adler-32 of raw
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01)
    var off = 0
    while (off < raw.length) {
      val n = math.min(65535, raw.length - off)
      z.write(if (off + n >= raw.length) 1 else 0)
      z.write(n & 255); z.write(n >>> 8)
      z.write(~n & 255); z.write((~n >>> 8) & 255)
      z.write(raw, off, n)
      off += n
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val a = adler.getValue
    z.write((a >>> 24).toInt & 255); z.write((a >>> 16).toInt & 255)
    z.write((a >>> 8).toInt & 255); z.write(a.toInt & 255)
    val out = new java.io.ByteArrayOutputStream()
    PngSig.foreach(out.write)
    def writeChunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(len >>> 24); out.write((len >>> 16) & 255)
      out.write((len >>> 8) & 255); out.write(len & 255)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data, 0, len)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data, 0, len)
      val c = crc.getValue
      out.write((c >>> 24).toInt & 255); out.write((c >>> 16).toInt & 255)
      out.write((c >>> 8).toInt & 255); out.write(c.toInt & 255)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = colorType.toByte
    writeChunk("IHDR", ihdr)
    val zb = z.toByteArray
    zb.grouped(PngIdatSplit).foreach(g => writeChunk("IDAT", g))
    writeChunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** IDAT split size — small so even tiny fixtures exercise the
    * multi-IDAT reassembly path.
    */
  val PngIdatSplit = 64

  /** Deterministic PNG fixture for doc `id`: dims and color type are
    * functions of the id (w = id%3+2, h = 5+id%2 — ≥ 5 rows so the
    * default row-cycling filter uses ALL five types; RGB on even ids,
    * RGBA on odd), pixel byte j = (id·7 + 3j) mod 256. Every quantity
    * [[parsePng]] emits is closed-form in the id — the oracle contract.
    */
  def pngFixture(id: Long): Array[Byte] = {
    val w = (id % 3).toInt + 2
    val h = 5 + (id % 2).toInt
    val ct = if (id % 2 == 0) 2 else 6
    val bpp = bytesPerPixel(ct)
    val px = Array.tabulate(h * w * bpp)(j =>
      (((id * 7 + 3L * j) % 256).toInt & 255).toByte)
    encodePng(w, h, ct, px)
  }

  /** Encode-then-decode over a pixel frame is exercised in
    * MultimodalSpec (including an ImageIO cross-check); the registered
    * query decodes [[pngFixture]] payloads.
    */
  def decodePngFixtures(spark: SparkSession, ids: DataFrame)
      : Dataset[PngMeta] = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => parsePng(id, pngFixture(id))))
  }

  /** REAL nearest-neighbor resize of a PNG payload — decode
    * ([[pngPixels]]), source pixel (sx, sy) = (x·w ÷ outW, y·h ÷ outH)
    * floor (the [[resizePpmBytes]] arithmetic), re-encode
    * ([[encodePng]], color type preserved). Deterministic bytes
    * (stored-block zlib), so downstream content hashes are stable.
    */
  def resizePngBytes(bytes: Array[Byte], outW: Int, outH: Int)
      : Array[Byte] = {
    require(outW > 0 && outH > 0, s"bad target ${outW}x$outH")
    val (w, h, ct, px) = pngPixels(0L, bytes)
    val bpp = bytesPerPixel(ct)
    val out = new Array[Byte](outW * outH * bpp)
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        val sx = x * w / outW
        var c = 0
        while (c < bpp) {
          out((y * outW + x) * bpp + c) = px((sy * w + sx) * bpp + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    encodePng(outW, outH, ct, out)
  }

  /** Resize every PNG payload, emitting the RE-DECODED statistics —
    * the full decode → resample → encode → decode chain per row, so
    * the emitted means verify BOTH codec directions plus the index
    * arithmetic in one closed form.
    */
  def resizePng(spark: SparkSession, withPayload: DataFrame,
      outW: Int, outH: Int): Dataset[PngMeta] = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        parsePng(id, resizePngBytes(b, outW, outH)) })
  }

  /** Decode VERDICT for arriving assets — the triage an ingest
    * pipeline runs before letting payloads near the corpus: attempt
    * the full [[parsePng]] (signature, CRCs, inflate, unfilter) and
    * emit (doc_id, ok, width, height) with −1 dims on failure
    * (integer sentinel, not NULL, so the row hashes identically in
    * both engines). Purely stateless and partition-local, so the SAME
    * function runs on a batch frame and on a Structured Streaming
    * frame (graft.streaming.DocStreams.assetScreen) — corrupt assets
    * never throw past the screen.
    */
  def pngVerdicts(spark: SparkSession, withPayload: DataFrame)
      : DataFrame = {
    import spark.implicits._
    withPayload.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        scala.util.Try(parsePng(id, b)) match {
          case scala.util.Success(m) => (id, 1, m.width, m.height)
          case scala.util.Failure(_) => (id, 0, -1L, -1L)
        }
      })
      .toDF("doc_id", "ok", "width", "height")
  }

  // ---- JPEG through the PLATFORM codec (javax.imageio — public JDK
  // API, present in this sandbox). Entropy decoding is real, but JPEG
  // is LOSSY: pixel statistics depend on the codec's DCT rounding and
  // are not closed-form in the fixture construction. The determinism
  // boundary is drawn honestly: the registered query exposes only the
  // compression-INVARIANT facts (dimensions — exactly recoverable from
  // the SOF header no matter the quality), while pixel means are
  // asserted in MultimodalSpec against the exact PNG-path means with a
  // lossiness tolerance. Within one JDK the encode/decode pair is
  // deterministic (double-encode byte-equality is spec-pinned). ----

  /** Decoded JPEG: platform-codec decode; means are LOSSY (see the
    * section note) — dims are exact.
    */
  final case class JpegMeta(doc_id: Long, width: Long, height: Long,
      mean_r: Long, mean_g: Long, mean_b: Long)

  // ImageIO defaults to a DISK-backed stream cache — one temp file per
  // read/write. Per-row decode at corpus scale turns that into file-
  // system churn (measured superlinear: the x8 scaling cell tripled);
  // in-memory streams need no cache at all.
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode raw RGB pixels as JPEG via the JDK's writer (quality
    * left at the writer default — fixed per JDK, so fixture bytes are
    * stable within an environment).
    */
  def encodeJpeg(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h * 3,
      s"pixel buffer ${pixels.length} != w*h*3 ${w * h * 3}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < w * h) {
      val o = p * 3
      img.setRGB(p % w, p / w,
        ((pixels(o) & 255) << 16) | ((pixels(o + 1) & 255) << 8) |
          (pixels(o + 2) & 255))
      p += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", out),
      "no JPEG writer in this JDK")
    out.toByteArray
  }

  /** Real JPEG decode via the platform codec: dims exact, integer
    * channel means over the decoded (lossy) pixels.
    */
  def parseJpeg(id: Long, bytes: Array[Byte]): JpegMeta = {
    require(bytes.length >= 2 && (bytes(0) & 255) == 0xFF &&
      (bytes(1) & 255) == 0xD8, s"doc $id: not a jpeg")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"doc $id: JPEG decode failed")
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y)
        sr += (argb >> 16) & 255; sg += (argb >> 8) & 255
        sb += argb & 255
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    JpegMeta(id, w, h, sr / n, sg / n, sb / n)
  }

  /** Deterministic JPEG fixture: the [[pngFixture]] RGB pixel formula
    * (byte j = (id·7+3j) mod 256) at the same id-derived dims,
    * entropy-coded by the platform writer.
    */
  def jpegFixture(id: Long): Array[Byte] = {
    val w = (id % 3).toInt + 2
    val h = 5 + (id % 2).toInt
    val px = Array.tabulate(h * w * 3)(j =>
      (((id * 7 + 3L * j) % 256).toInt & 255).toByte)
    encodeJpeg(w, h, px)
  }

  /** Partition-local fixture decode — the registered `mm_decode_jpeg`
    * exposes only the compression-invariant columns.
    */
  def decodeJpegFixtures(spark: SparkSession, ids: DataFrame)
      : DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val m = parseJpeg(id, jpegFixture(id))
        (m.doc_id, m.width, m.height)
      })
      .toDF("doc_id", "width", "height")
  }

  /** NOT a codec — a deterministic SYNTHETIC-metadata stub, named so
    * it cannot be mistaken for the real decode paths above. Its only
    * remaining consumers are formats whose entropy decode genuinely
    * requires an external library absent from this environment
    * (MP3's MDCT/Huffman layers, H.264's CABAC — no pure-JDK API
    * exists; the environment bound is recorded in TESTDATA.md). PPM,
    * PCM WAV, IMA-ADPCM WAV, and PNG have REAL pure-JDK decoders
    * above, JPEG rides the platform codec. Mirrors [[extractMeta]]'s
    * arithmetic so the two paths cross-check in tests.
    */
  private def stubEntropyDecode(id: Long, bytes: Array[Byte]): AssetMeta = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hx = md.digest(bytes).map("%02x".format(_)).mkString
    val magic = bytes.take(4).map("%02X".format(_)).mkString
    AssetMeta(
      doc_id = id,
      n_bytes = bytes.length.toLong,
      magic = magic,
      width = java.lang.Long.parseLong(hx.substring(0, 6), 16) % 448 + 64,
      height = java.lang.Long.parseLong(hx.substring(6, 12), 16) % 448 + 64,
      channels = 3L)
  }
}
