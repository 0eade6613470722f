package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * with a per-partition feature-extraction stage.
  *
  * The decode step is a deterministic STUB (image/audio codecs are not in
  * this container): payload bytes are synthesized from md5(text) and the
  * "decoder" computes byte-level statistics. Everything around it is the
  * real production shape — binary column with metadata struct, typed
  * Dataset, mapPartitions batch processing (the Scala analogue of
  * mapInPandas batching: one decoder init per partition, streamed rows),
  * and a schema the downstream pipeline can rely on. Swapping the stub
  * for a real codec changes only the function body.
  */
object Multimodal {
  // PCM decimation (q276): boxcar downsample factor (16 kHz -> 4 kHz
  // would be 4; synthetic clips hold 32 samples -> 8 output blocks)
  val PcmDecimate: Int = 4
  // image near-dup (q302): candidate pairs must share the quantized
  // pooled-thumbnail key (each pooled byte >> 4); buckets above the
  // df cap are dropped from candidate generation (the maxOverlapKeyDf
  // hot-key discipline — a monochrome-heavy corpus would otherwise
  // collapse into one O(n²) bucket) and survivors verify by exact
  // integer squared L2 distance between pooled thumbnails, kept at
  // ≤ maxD2 (≈ RMSE 8 per pooled byte on a 12-dim descriptor)
  val ImageNeardupMaxD2: Long = 768L
  val ImageDupKeyMaxDf: Int = 1000
  // audio near-dup (q308): candidates share the quantized frame-energy
  // key (each frame energy >> 28); hot buckets above the df cap drop
  // (the maxOverlapKeyDf discipline — a silence-heavy corpus would
  // collapse into one bucket); survivors verify by exact integer L1
  // over frame energies, kept at ≤ maxL1 (tighter than the key's own
  // bin width, so the verify does real work)
  val AudioNeardupMaxL1: Long = 100000000L
  val AudioDupKeyMaxDf: Int = 1000
  // q315 (video near-dup): blocking-bucket df cap and the exact
  // integer squared-L2 verify bound over the temporal fingerprint —
  // tighter than the key's 16-wide bins by design (measured at
  // sf0.01: 58 candidates → 40 kept)
  val VideoDupKeyMaxDf: Int = 1000
  val VideoNeardupMaxD2: Long = 256L

  case class MediaRow(doc_id: Long, payload: Array[Byte], width: Int, height: Int, format: String)
  case class MediaFeatures(doc_id: Long, width: Int, height: Int, n_bytes: Int,
                           byte_mean: Double, byte_max: Int)

  /** Attach a binary payload + metadata struct to each doc. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("to_binary(md5(text), 'hex')").as("payload"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("doc_id") % 48 + 1).cast("int").as("height"),
        lit("fake/v1").as("format"))
      .as[MediaRow]
  }

  /** Deterministic stand-in for a real decoder (resize / frame-sample /
    * feature-extract would live here). Runs per partition: decoder state
    * would be initialized once per partition, rows streamed through. */
  private def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      val bytes = r.payload.map(_ & 0xff)
      MediaFeatures(r.doc_id, r.width, r.height, bytes.length,
        bytes.sum.toDouble / bytes.length, bytes.max)
    }

  /** q60: media feature extraction over the binary column. */
  def q60Multimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(decodeBatch).toDF()
  }

  case class VideoRow(doc_id: Long, payload: Array[Byte], n_frames: Int)
  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** A fake "video": 64 synthesized payload bytes = 4 frames × 16 bytes
    * (a real table would carry the encoded stream + frame count). */
  def videoTable(spark: SparkSession, dir: String): Dataset[VideoRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("to_binary(concat(md5(text), md5(concat('1:', text)), " +
          "md5(concat('2:', text)), md5(concat('3:', text))), 'hex')").as("payload"),
        lit(4).as("n_frames"))
      .as[VideoRow]
  }

  /** q61: frame sampling — byte-level frame extraction in executors
    * (flatMap over the typed rows slices the payload into fixed-stride
    * frames, exactly the shape of real video frame-sampling with the
    * codec swapped for a stride), then a per-frame fingerprint. The
    * oracle recomputes the fingerprints from hex-string arithmetic
    * (byte slices align with 2-hex-char slices). */
  def q61FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, dir)
      .flatMap(r => r.payload.grouped(16).zipWithIndex.map {
        case (bytes, i) => Frame(r.doc_id, i, bytes)
      })
      .toDF()
      .select(col("doc_id"), col("frame_idx"), md5(hex(col("frame"))).as("frame_sig"))
  }

  def q61Sql: String =
    """WITH v AS (SELECT doc_id,
      |    upper(md5(text) || md5('1:' || text) || md5('2:' || text) || md5('3:' || text)) AS hx
      |  FROM documents)
      |SELECT doc_id, CAST(i AS INT) AS frame_idx,
      |  md5(substr(hx, i*32 + 1, 32)) AS frame_sig
      |FROM v, LATERAL (SELECT unnest(generate_series(0, 3)) AS i) t""".stripMargin

  case class PpmStats(doc_id: Long, width: Int, height: Int, maxval: Int,
                      r_sum: Long, g_sum: Long, b_sum: Long)

  /** A valid binary P6 PPM image per doc: the 11-byte ASCII header
    * `P6\n4 4\n255\n` followed by 48 interleaved RGB bytes derived from
    * three md5s of the text. Built entirely with codegen'd binary
    * expressions — this is the "encoded media column" a real pipeline
    * would have ingested. */
  def ppmTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          expr("cast('P6\n4 4\n255\n' as binary)"),
          expr("to_binary(md5(text), 'hex')"),
          expr("to_binary(md5(concat(text, '1')), 'hex')"),
          expr("to_binary(md5(concat(text, '2')), 'hex')")).as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** q76: a REAL format decoder, end-to-end — parses the binary P6 PPM
    * payload (magic, ASCII dimensions, maxval, raster) in a
    * mapPartitions stage and emits per-channel pixel sums. Unlike
    * q60/q61's byte-statistics stand-ins, nothing here knows how the
    * payload was synthesized: the decoder sees only bytes and fails on
    * malformed input, exactly like a production codec. The oracle
    * recomputes the channel sums from the md5 hex strings, so the whole
    * encode→bytes→parse→decode path is hash-verified cross-engine.
    * Integer channel SUMS, not means: exact on both engines. */
  def q76PpmDecode(spark: SparkSession, dir: String): DataFrame =
    decodePpm(ppmTable(spark, dir))

  private[graft] def decodePpm(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      val (w, h, maxval, off) = parsePpmHeader(bytes)
      val n = w * h
      var (r, g, b) = (0L, 0L, 0L)
      var i = 0
      while (i < n) {
        r += bytes(off + 3 * i) & 0xff
        g += bytes(off + 3 * i + 1) & 0xff
        b += bytes(off + 3 * i + 2) & 0xff
        i += 1
      }
      PpmStats(id, w, h, maxval, r, g, b)
    }).toDF()
  }

  /** Test hook: run the decoder over an arbitrary payload table. */
  private[graft] def decodeForTest(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    decodePpm(ds)

  /** Minimal strict P6 parser: returns (width, height, maxval, raster
    * offset). Throws on bad magic, malformed header, or short raster —
    * decoder semantics, not stub semantics. */
  private def parsePpmHeader(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 PPM")
    var i = 2
    def token(): Int = {
      while (i < bytes.length && Character.isWhitespace(bytes(i))) i += 1
      var v = 0
      require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9', "bad PPM header")
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      v
    }
    val w = token(); val h = token(); val m = token()
    i += 1 // single whitespace after maxval, then raster
    require(bytes.length - i >= 3 * w * h, "truncated PPM raster")
    (w, h, m, i)
  }

  case class DownsampleStats(doc_id: Long, out_w: Int, out_h: Int,
                             r_sum: Long, g_sum: Long, b_sum: Long)

  /** q114: image DOWNSAMPLE on the real decode path — parse the binary
    * P6 payload (same strict decoder as q76), nearest-neighbor
    * subsample at stride 2 (keep pixels at even x,y), and emit the
    * downsampled dimensions + per-channel sums over the KEPT pixels.
    * This is the resize step of a multimodal ingest pipeline run as an
    * actual pixel transform on actual decoded bytes — the oracle
    * recomputes the sampled-pixel sums from hex arithmetic (sampled
    * row-major indices {0,2,8,10} of the 4×4 raster), hash-verifying
    * decode + geometry + sampling. Integer sums: engine-exact. */
  def q114ImageDownsample(spark: SparkSession, dir: String): DataFrame = {
    val ds = ppmTable(spark, dir)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      val (w, h, _, off) = parsePpmHeader(bytes)
      val outW = (w + 1) / 2
      val outH = (h + 1) / 2
      var (r, g, b) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = off + 3 * (y * w + x)
          r += bytes(p) & 0xff
          g += bytes(p + 1) & 0xff
          b += bytes(p + 2) & 0xff
          x += 2
        }
        y += 2
      }
      DownsampleStats(id, outW, outH, r, g, b)
    }).toDF()
  }

  case class PooledPixel(doc_id: Long, py: Int, px: Int,
                         r_avg: Int, g_avg: Int, b_avg: Int)

  /** q119: AVERAGE-POOLING 2×2 downsample on the real decode path — the
    * arithmetic resize q114's nearest-neighbor stride only approximates.
    * Parse the binary P6 payload (same strict decoder as q76), pool each
    * 2×2 block per channel (floor of the block mean — integer division
    * by the block's actual pixel count, so odd edges pool their 2- or
    * 1-pixel remainder correctly), and emit one row per OUTPUT pixel:
    * this is a genuine pooled image, not a summary statistic. All
    * arithmetic is integer (sum div count), so the oracle recomputes
    * every pooled byte from hex-string arithmetic and the whole
    * decode→pool→emit path hash-verifies cross-engine. Row-local work,
    * scan-shaped plan: at 100 TB this runs as a pure map stage with no
    * shuffle at all. */
  def q119AvgpoolDownsample(spark: SparkSession, dir: String): DataFrame =
    avgpool(ppmTable(spark, dir))

  private[graft] def avgpool(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val (w, h, _, off) = parsePpmHeader(bytes)
      val outW = (w + 1) / 2
      val outH = (h + 1) / 2
      for (py <- 0 until outH; px <- 0 until outW) yield {
        var (r, g, b, n) = (0L, 0L, 0L, 0L)
        var dy = 0
        while (dy < 2) {
          val y = 2 * py + dy
          if (y < h) {
            var dx = 0
            while (dx < 2) {
              val x = 2 * px + dx
              if (x < w) {
                val p = off + 3 * (y * w + x)
                r += bytes(p) & 0xff
                g += bytes(p + 1) & 0xff
                b += bytes(p + 2) & 0xff
                n += 1
              }
              dx += 1
            }
          }
          dy += 1
        }
        PooledPixel(id, py, px, (r / n).toInt, (g / n).toInt, (b / n).toInt)
      }
    }).toDF()
  }

  /** The 4×4 raster's 2×2 block at output (py,px) covers row-major
    * pixel indices 8·py + 2·px + {0, 1, 4, 5}; every block is full, so
    * the pooled byte is the block sum // 4. */
  def q119Sql: String =
    """WITH h3 AS (SELECT doc_id, md5(text) || md5(text || '1') || md5(text || '2') AS hx
      |  FROM documents),
      |vals AS (SELECT doc_id, py, px, c,
      |    (strpos('0123456789abcdef', substr(hx, 2*(3*(8*py + 2*px + d)+c)+1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(hx, 2*(3*(8*py + 2*px + d)+c)+2, 1)) - 1) AS v
      |  FROM h3, LATERAL (SELECT unnest([0, 1]) AS py) a,
      |    LATERAL (SELECT unnest([0, 1]) AS px) b,
      |    LATERAL (SELECT unnest([0, 1, 4, 5]) AS d) e,
      |    LATERAL (SELECT unnest(generate_series(0, 2)) AS c) u)
      |SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
      |  CAST(SUM(CASE WHEN c = 0 THEN v END) // 4 AS INT) AS r_avg,
      |  CAST(SUM(CASE WHEN c = 1 THEN v END) // 4 AS INT) AS g_avg,
      |  CAST(SUM(CASE WHEN c = 2 THEN v END) // 4 AS INT) AS b_avg
      |FROM vals GROUP BY doc_id, py, px""".stripMargin

  def q114Sql: String =
    """WITH h3 AS (SELECT doc_id, md5(text) || md5(text || '1') || md5(text || '2') AS hx
      |  FROM documents),
      |px AS (SELECT doc_id, p, c, (strpos('0123456789abcdef', substr(hx, 2*(3*p+c)+1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(hx, 2*(3*p+c)+2, 1)) - 1) AS bv
      |  FROM h3, LATERAL (SELECT unnest([0, 2, 8, 10]) AS p) t,
      |    LATERAL (SELECT unnest(generate_series(0, 2)) AS c) u)
      |SELECT doc_id, CAST(2 AS INT) AS out_w, CAST(2 AS INT) AS out_h,
      |  CAST(SUM(CASE WHEN c = 0 THEN bv END) AS BIGINT) AS r_sum,
      |  CAST(SUM(CASE WHEN c = 1 THEN bv END) AS BIGINT) AS g_sum,
      |  CAST(SUM(CASE WHEN c = 2 THEN bv END) AS BIGINT) AS b_sum
      |FROM px GROUP BY doc_id""".stripMargin

  def q76Sql: String =
    """WITH h3 AS (SELECT doc_id, md5(text) || md5(text || '1') || md5(text || '2') AS hx
      |  FROM documents),
      |b AS (SELECT doc_id, k,
      |    (strpos('0123456789abcdef', substr(hx, 2*k+1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(hx, 2*k+2, 1)) - 1) AS bv
      |  FROM h3, LATERAL (SELECT unnest(generate_series(0, 47)) AS k) t)
      |SELECT doc_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
      |  CAST(255 AS INT) AS maxval,
      |  CAST(SUM(CASE WHEN k % 3 = 0 THEN bv END) AS BIGINT) AS r_sum,
      |  CAST(SUM(CASE WHEN k % 3 = 1 THEN bv END) AS BIGINT) AS g_sum,
      |  CAST(SUM(CASE WHEN k % 3 = 2 THEN bv END) AS BIGINT) AS b_sum
      |FROM b GROUP BY doc_id""".stripMargin

  /** DuckDB oracle for the PLUMBING: the synthesized payload is
    * md5(text) bytes, so byte statistics are recomputable from the hex
    * string (two hex chars per byte, values via strpos arithmetic) —
    * the mapPartitions path, schema, and metadata columns are all
    * verified cross-engine; only a real codec would leave SQL's reach. */
  def q60Sql: String =
    """WITH h AS (SELECT doc_id, md5(text) AS hx, n_chars FROM documents),
      |b AS (SELECT doc_id, n_chars,
      |    (strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1) AS bv
      |  FROM h, LATERAL (SELECT unnest(generate_series(1, 16)) AS i) t)
      |SELECT doc_id,
      |  CAST(n_chars % 64 + 1 AS INT) AS width,
      |  CAST(doc_id % 48 + 1 AS INT) AS height,
      |  CAST(count(*) AS INT) AS n_bytes,
      |  CAST(SUM(bv) AS DOUBLE) / count(*) AS byte_mean,
      |  CAST(MAX(bv) AS INT) AS byte_max
      |FROM b GROUP BY doc_id, n_chars""".stripMargin

  /** A valid mono 16-bit PCM WAV file per doc: the canonical 44-byte
    * RIFF/fmt/data header (8 kHz, little-endian field encoding baked
    * into one constant hex string) followed by 64 data bytes = 32
    * samples derived from four md5s of the text. Like [[ppmTable]],
    * built entirely with codegen'd binary expressions — the "encoded
    * audio column" a multimodal ingest would carry. */
  private val WavHeaderHex: String =
    "52494646" + "64000000" + "57415645" +              // RIFF <size=100> WAVE
    "666d7420" + "10000000" + "0100" + "0100" +          // fmt  sz16 pcm=1 ch=1
    "401f0000" + "803e0000" + "0200" + "1000" +          // 8000 Hz, 16000 B/s, align 2, 16 bit
    "64617461" + "40000000"                              // data <size=64>
  def wavTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          expr(s"to_binary('$WavHeaderHex', 'hex')"),
          expr("to_binary(concat(md5(text), md5(concat(text, '1')), " +
            "md5(concat(text, '2')), md5(concat(text, '3'))), 'hex')")).as("payload"))
      .as[(Long, Array[Byte])]
  }

  case class PcmFrame(doc_id: Long, frame: Int, n_samples: Int,
                      energy: Long, peak: Int, zero_crossings: Long)

  /** q134: REAL audio decode + frame features — a strict RIFF/WAVE
    * parser (chunk walk with word alignment, PCM/mono/16-bit asserted,
    * unknown chunks skipped — codec semantics, it throws on malformed
    * input) over the binary payload, then per 8-sample frame the three
    * classic PCM features: energy Σs² (the VAD/silence-trim primitive),
    * peak |s|, and strict zero crossings (sign products < 0) — all
    * INTEGER, so the oracle hash-verifies the entire
    * encode→bytes→chunk-walk→int16-LE-decode→feature path, the audio
    * twin of q76/q114/q119. One row per output frame; pure map stage,
    * zero shuffles at any corpus size. */
  def q134PcmEnergy(spark: SparkSession, dir: String): DataFrame =
    decodePcmFrames(wavTable(spark, dir))

  private[graft] def decodePcmFrames(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    val FrameN = 8
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val (dataOff, dataLen) = parseWavHeader(bytes)
      val n = dataLen / 2
      (0 until (n + FrameN - 1) / FrameN).map { f =>
        val lo = f * FrameN
        val hi = math.min(lo + FrameN, n)
        var energy = 0L; var peak = 0; var zc = 0L
        var prev = 0; var j = lo
        while (j < hi) {
          val b0 = bytes(dataOff + 2 * j) & 0xff
          val b1 = bytes(dataOff + 2 * j + 1)
          val s = (b1 << 8) | b0 // sign from the high byte, LE int16
          energy += s.toLong * s
          if (math.abs(s) > peak) peak = math.abs(s)
          if (j > lo && prev * s < 0) zc += 1
          prev = s; j += 1
        }
        PcmFrame(id, f, hi - lo, energy, peak, zc)
      }
    }).toDF()
  }

  /** Strict RIFF/WAVE walk: returns (data offset, data byte length).
    * Requires PCM format 1, mono, 16-bit; skips unknown chunks with
    * RIFF word alignment; throws on bad magic/truncation. */
  private def parseWavHeader(bytes: Array[Byte]): (Int, Int) = {
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    require(bytes.length >= 12 && ascii(0) == "RIFF" && ascii(8) == "WAVE", "not a WAV")
    var i = 12
    var fmtOk = false
    while (i + 8 <= bytes.length) {
      val id = ascii(i); val size = le32(i + 4)
      require(size >= 0 && i + 8 + size <= bytes.length, s"truncated $id chunk")
      if (id == "fmt ") {
        require(size >= 16 && le16(i + 8) == 1, "not PCM")
        require(le16(i + 10) == 1, "not mono")
        require(le16(i + 22) == 16, "not 16-bit") // bitsPerSample = fmt payload byte 14
        fmtOk = true
      } else if (id == "data") {
        require(fmtOk, "data chunk before fmt")
        return (i + 8, size)
      }
      i += 8 + size + (size & 1)
    }
    throw new IllegalArgumentException("no data chunk")
  }

  def q134Sql: String =
    """WITH h4 AS (SELECT doc_id,
      |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
      |  FROM documents),
      |s AS (SELECT doc_id, j,
      |    CASE WHEN hi >= 128 THEN hi*256 + lo - 65536 ELSE hi*256 + lo END AS v
      |  FROM (SELECT doc_id, j,
      |      (strpos('0123456789abcdef', substr(hx, 4*j+1, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(hx, 4*j+2, 1)) - 1) AS lo,
      |      (strpos('0123456789abcdef', substr(hx, 4*j+3, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(hx, 4*j+4, 1)) - 1) AS hi
      |    FROM h4, LATERAL (SELECT unnest(generate_series(0, 31)) AS j) t)),
      |sc AS (SELECT doc_id, j, v, j // 8 AS frame,
      |    lag(v) OVER (PARTITION BY doc_id, j // 8 ORDER BY j) AS pv
      |  FROM s)
      |SELECT doc_id, CAST(frame AS INT) AS frame, CAST(count(*) AS INT) AS n_samples,
      |  CAST(SUM(v*v) AS BIGINT) AS energy,
      |  CAST(MAX(abs(v)) AS INT) AS peak,
      |  CAST(SUM(CASE WHEN pv IS NOT NULL AND pv*v < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM sc GROUP BY doc_id, frame""".stripMargin

  case class PcmBlock(doc_id: Long, idx: Int, n_in: Int, sum_in: Long,
                      v_out: Double)

  /** q276: PCM DECIMATION — boxcar-averaged downsample by
    * ${PcmDecimate}× (16 kHz speech corpora ship to
    * 8 kHz ASR front-ends through exactly this: average k consecutive
    * samples, emit one): per output sample its input count, the EXACT
    * integer input sum, and the mean. The boxcar is the crudest
    * anti-alias filter but the arithmetic one a cross-engine oracle can
    * hash: the sum is exact BIGINT and the mean one dyadic division
    * (s / 4 is exact in IEEE — no rounding at all), so the whole
    * decode→block→resample path verifies bitwise, the audio analogue
    * of q114's image downsample.
    *
    * Scale: same pure map stage as q134 — the strict WAV walk plus one
    * in-row pass over the samples; output is n/k rows per clip, zero
    * shuffles at any corpus size. */
  def q276PcmDecimate(spark: SparkSession, dir: String): DataFrame =
    decodePcmDecimate(wavTable(spark, dir), PcmDecimate)

  private[graft] def decodePcmDecimate(ds: Dataset[(Long, Array[Byte])],
      k: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val (dataOff, dataLen) = parseWavHeader(bytes)
      val n = dataLen / 2
      (0 until (n + k - 1) / k).map { b =>
        val lo = b * k
        val hi = math.min(lo + k, n)
        var s = 0L; var j = lo
        while (j < hi) {
          val b0 = bytes(dataOff + 2 * j) & 0xff
          val b1 = bytes(dataOff + 2 * j + 1)
          s += (b1 << 8) | b0
          j += 1
        }
        PcmBlock(id, b, hi - lo, s, s.toDouble / (hi - lo))
      }
    }).toDF()
  }

  def q276Sql: String = {
    val k = PcmDecimate
    s"""WITH h4 AS (SELECT doc_id,
       |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
       |  FROM documents),
       |s AS (SELECT doc_id, j,
       |    CASE WHEN hi >= 128 THEN hi*256 + lo - 65536 ELSE hi*256 + lo END AS v
       |  FROM (SELECT doc_id, j,
       |      (strpos('0123456789abcdef', substr(hx, 4*j+1, 1)) - 1) * 16
       |        + (strpos('0123456789abcdef', substr(hx, 4*j+2, 1)) - 1) AS lo,
       |      (strpos('0123456789abcdef', substr(hx, 4*j+3, 1)) - 1) * 16
       |        + (strpos('0123456789abcdef', substr(hx, 4*j+4, 1)) - 1) AS hi
       |    FROM h4, LATERAL (SELECT unnest(generate_series(0, 31)) AS j) t))
       |SELECT doc_id, CAST(j // $k AS INT) AS idx, CAST(count(*) AS INT) AS n_in,
       |  CAST(SUM(v) AS BIGINT) AS sum_in,
       |  CAST(SUM(v) AS DOUBLE) / count(*) AS v_out
       |FROM s GROUP BY doc_id, j // $k""".stripMargin
  }

  /** q226 voiced/unvoiced gate: frame energy at/above this fires. Sits
    * at the corpus's frame-energy median (measured: min 3.5e8, median
    * 2.8e9, max 6.0e9) so both segment classes are non-trivially
    * exercised; a real VAD tunes this against labeled speech. */
  private val VadEnergyMin = 2800000000L

  /** q226: energy-gated SEGMENTATION (voice-activity detection shape) —
    * the step after q134's frame features in every speech pipeline:
    * frames gate on energy ≥ $VadEnergyMin, CONSECUTIVE voiced frames
    * merge into segments (classic gaps-and-islands: segment key =
    * frame − running voiced count), and each clip reports its frame
    * count, voiced count, segment count, longest segment, and voiced
    * energy — the table a curation pass reads to drop silent or
    * wall-of-sound clips and a trainer reads to cut clips at segment
    * boundaries. All-integer arithmetic end to end (engine-exact).
    *
    * Scale: one doc_id-partitioned window over the frame table (frames
    * per clip bounded by clip length) + one aggregate — the same
    * single-shuffle shape as the behavioral family; the decode cost is
    * q134's mapPartitions pass, paid once. */
  def q226VadSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = q134PcmEnergy(spark, dir)
    val wv = Window.partitionBy("doc_id").orderBy("frame")
    val v = fr
      .withColumn("voiced", (col("energy") >= VadEnergyMin).cast("int"))
      .withColumn("vrn", sum(col("voiced")).over(wv))
      .withColumn("seg", col("frame") - col("vrn"))
    val segs = v.filter(col("voiced") === 1)
      .groupBy("doc_id", "seg")
      .agg(count(lit(1)).as("len"), sum("energy").as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), max("len").as("longest_segment"),
        sum("e").as("voiced_energy"))
    v.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum("voiced").cast("long").as("n_voiced"))
      .join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_voiced"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"),
        coalesce(col("voiced_energy"), lit(0L)).as("voiced_energy"))
  }

  def q226Sql: String =
    s"""WITH fr AS (SELECT * FROM ($q134Sql)),
       |v AS (SELECT doc_id, frame, energy,
       |    CASE WHEN energy >= $VadEnergyMin THEN 1 ELSE 0 END AS voiced,
       |    SUM(CASE WHEN energy >= $VadEnergyMin THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY frame) AS vrn
       |  FROM fr),
       |segs AS (SELECT doc_id, frame - vrn AS seg,
       |    CAST(count(*) AS BIGINT) AS len, SUM(energy) AS e
       |  FROM v WHERE voiced = 1 GROUP BY 1, 2),
       |sd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(max(len) AS BIGINT) AS longest_segment,
       |    CAST(SUM(e) AS BIGINT) AS voiced_energy
       |  FROM segs GROUP BY 1),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |    CAST(SUM(voiced) AS BIGINT) AS n_voiced
       |  FROM v GROUP BY 1)
       |SELECT pd.doc_id, n_frames, n_voiced,
       |  COALESCE(n_segments, 0) AS n_segments,
       |  COALESCE(longest_segment, 0) AS longest_segment,
       |  COALESCE(voiced_energy, 0) AS voiced_energy
       |FROM pd LEFT JOIN sd USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------
  // q301/q302: image descriptors + image near-dup detection
  // ---------------------------------------------------------------

  case class ImageDesc(doc_id: Long, desc: Array[Long])

  /** A CONTENT-derived P6 image per doc: same 11-byte header as
    * [[ppmTable]], but the 48 raster bytes are the first 48 characters
    * of the (space-padded) text instead of md5 output — so documents
    * with similar content produce similar PIXELS, which is what makes
    * an image near-dup query falsifiable on this corpus (md5's
    * avalanche would destroy exactly the similarity q302 exists to
    * find; a real pipeline ingests real images whose similarity is in
    * the bytes already). The decoder downstream still sees only a
    * valid P6 payload. */
  private[graft] def contentPpmTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          expr("cast('P6\n4 4\n255\n' as binary)"),
          expr("cast(rpad(text, 48, ' ') as binary)")).as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** Pooled-thumbnail image descriptor: q119's 2×2 average-pooling
    * FUSED into the strict P6 decoder, flattened row-major
    * (py, px, channel) into one integer vector per image — the
    * perceptual-hash precursor (a pooled thumbnail is what
    * pHash/aHash start from). Pure map stage, zero shuffle: at real
    * resolution the same loop pools to 8×8×3 = 192 dims; here the 4×4
    * synthetic rasters pool to 12. Nothing downstream knows the
    * raster size — the descriptor length rides the data. */
  private[graft] def imageDescriptors(spark: SparkSession, dir: String): Dataset[ImageDesc] = {
    val ds = contentPpmTable(spark, dir)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      val (w, h, _, off) = parsePpmHeader(bytes)
      val outW = (w + 1) / 2
      val outH = (h + 1) / 2
      val desc = new Array[Long](outH * outW * 3)
      var py = 0
      while (py < outH) {
        var px = 0
        while (px < outW) {
          var (r, g, b, n) = (0L, 0L, 0L, 0L)
          var dy = 0
          while (dy < 2) {
            val y = 2 * py + dy
            if (y < h) {
              var dx = 0
              while (dx < 2) {
                val x = 2 * px + dx
                if (x < w) {
                  val p = off + 3 * (y * w + x)
                  r += bytes(p) & 0xff
                  g += bytes(p + 1) & 0xff
                  b += bytes(p + 2) & 0xff
                  n += 1
                }
                dx += 1
              }
            }
            dy += 1
          }
          val base = (py * outW + px) * 3
          desc(base) = r / n; desc(base + 1) = g / n; desc(base + 2) = b / n
          px += 1
        }
        py += 1
      }
      ImageDesc(id, desc)
    })
  }

  /** Descriptors with the 16-bin quantized blocking key (each pooled
    * byte >> 4 as one hex char) and the exact integer squared norm. */
  private[graft] def keyedDescriptors(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    imageDescriptors(spark, dir).toDF()
      .select(col("doc_id"), col("desc"),
        expr("array_join(transform(desc, v -> " +
          "substring('0123456789abcdef', CAST(v div 16 AS INT) + 1, 1)), '')").as("dkey"),
        expr("vec_dot_long(desc, desc)").as("n2"))
  }

  /** q301: IMAGE DESCRIPTOR extraction — one row per image with the
    * pooled-thumbnail vector (comma-joined for the cross-engine hash)
    * and its quantized blocking key. The decode→pool→flatten path is
    * hash-verified end to end by the q76/q119 oracle discipline: the
    * oracle recomputes every pooled byte from the source text's
    * character codes (the raster IS the padded text's bytes), so a
    * descriptor mismatch pinpoints the decoder, the geometry, or the
    * pooling.
    *
    * Scale: a pure scan-shaped map stage (decoder + pooling fused, no
    * shuffle). The descriptor table IS the persisted artifact an
    * image-dedup pipeline keeps beside the corpus. */
  def q301ImageDescriptor(spark: SparkSession, dir: String): DataFrame =
    keyedDescriptors(spark, dir)
      .select(col("doc_id"), col("dkey"),
        expr("array_join(transform(desc, v -> CAST(v AS STRING)), ',')").as("descriptor"))

  /** Shared oracle CTEs: pooled descriptor elements recomputed from
    * character codes — pixel p = 8·py + 2·px + d, byte 3·p + c, each
    * 2×2 block averages pixel offsets {0, 1, 4, 5}. */
  private[operators] def imgElemsCtes: String =
    """pad AS (SELECT doc_id, rpad(text, 48, ' ') AS t FROM documents),
      |vals AS (SELECT doc_id, py, px, c,
      |    ascii(substr(t, 3*(8*py + 2*px + d) + c + 1, 1)) AS v
      |  FROM pad, LATERAL (SELECT unnest([0, 1]) AS py) a,
      |    LATERAL (SELECT unnest([0, 1]) AS px) b,
      |    LATERAL (SELECT unnest([0, 1, 4, 5]) AS d) e,
      |    LATERAL (SELECT unnest(generate_series(0, 2)) AS c) u),
      |elems AS (SELECT doc_id, (py*2 + px)*3 + c AS idx, SUM(v) // 4 AS v
      |  FROM vals GROUP BY doc_id, py, px, c)""".stripMargin

  def q301Sql: String =
    s"""WITH $imgElemsCtes
       |SELECT doc_id,
       |  string_agg(substr('0123456789abcdef', CAST(v // 16 AS INT) + 1, 1), '' ORDER BY idx) AS dkey,
       |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY idx) AS descriptor
       |FROM elems GROUP BY doc_id""".stripMargin

  /** q302: IMAGE NEAR-DUP DETECTION — the dedup family's candidate/
    * verify discipline on the IMAGE modality (q34 finds near-dups on
    * external embeddings, q283 on text-derived vectors; this one on
    * decoded pixels): candidates are pairs sharing the quantized
    * descriptor key — an EQUI-JOIN, never all-pairs — with buckets
    * above ${ImageDupKeyMaxDf} docs dropped from
    * candidate generation (the maxOverlapKeyDf hot-key guard: a
    * monochrome-heavy corpus would otherwise collapse into one O(n²)
    * bucket); survivors verify by exact integer squared L2 between
    * pooled thumbnails (d² = na + nb − 2·dot, all `vec_dot_long`
    * BIGINTs — the boundary test has NO floats at all), kept at ≤
    * ${ImageNeardupMaxD2}.
    *
    * Scale: descriptor extraction is a zero-shuffle scan; blocking is
    * one map-combinable key-frequency aggregate + a broadcast
    * anti-join of the (tiny) hot-key list + one equi-join whose
    * bucket sizes the df cap bounds — candidates ≤ cap·n/2 = O(n).
    * Recall trade of the quantized key (a near-dup pair split across
    * a bin boundary is missed) is the documented cost of the o(n²)
    * path, the q283/q287 lesson. */
  def q302ImageNeardup(spark: SparkSession, dir: String): DataFrame =
    imageNeardupWith(spark, dir,
      ImageDupKeyMaxDf, ImageNeardupMaxD2)

  private[graft] def imageNeardupWith(spark: SparkSession, dir: String,
      cap: Int, maxD2: Long): DataFrame = {
    val d = keyedDescriptors(spark, dir)
    val hot = d.groupBy("dkey").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("dkey")
    val ok = d.join(broadcast(hot), Seq("dkey"), "left_anti")
    val a = ok.select(col("dkey"), col("doc_id").as("doc_a"),
      col("desc").as("da"), col("n2").as("na"))
    val b = ok.select(col("dkey"), col("doc_id").as("doc_b"),
      col("desc").as("db"), col("n2").as("nb"))
    a.join(b, Seq("dkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("na") + col("nb") - lit(2L) * expr("vec_dot_long(da, db)")).as("d2"))
      .filter(col("d2") <= maxD2)
  }

  def q302Sql: String = {
    val cap = ImageDupKeyMaxDf
    val maxD2 = ImageNeardupMaxD2
    s"""WITH $imgElemsCtes,
       |keys AS (SELECT doc_id,
       |    string_agg(substr('0123456789abcdef', CAST(v // 16 AS INT) + 1, 1), '' ORDER BY idx) AS dkey
       |  FROM elems GROUP BY doc_id),
       |ok AS (SELECT doc_id, dkey FROM keys
       |  WHERE dkey IN (SELECT dkey FROM keys GROUP BY dkey HAVING count(*) <= $cap)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ok a JOIN ok b ON a.dkey = b.dkey AND a.doc_id < b.doc_id),
       |dd AS (SELECT c.doc_a, c.doc_b,
       |    CAST(SUM((ea.v - eb.v) * (ea.v - eb.v)) AS BIGINT) AS d2
       |  FROM cand c
       |  JOIN elems ea ON ea.doc_id = c.doc_a
       |  JOIN elems eb ON eb.doc_id = c.doc_b AND eb.idx = ea.idx
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, d2 FROM dd WHERE d2 <= $maxD2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q307/q308: audio fingerprints + audio near-dup detection
  // ---------------------------------------------------------------

  /** A CONTENT-derived WAV per doc: [[wavTable]]'s 44-byte canonical
    * header, but the 64 data bytes are the first 64 characters of the
    * (space-padded) text — similar documents produce similar SAMPLES,
    * the property audio near-dup detection exists to exploit (md5's
    * avalanche would destroy it; real pipelines ingest real audio
    * whose similarity is already in the samples). The strict RIFF
    * parser downstream still sees only a valid PCM payload. */
  private[graft] def contentWavTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          expr(s"to_binary('$WavHeaderHex', 'hex')"),
          expr("cast(rpad(text, 64, ' ') as binary)")).as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** Per-clip frame-energy fingerprint: q134's per-frame energy FUSED
    * into the strict RIFF decoder (one pure map stage, zero shuffle),
    * one integer vector of per-8-sample-frame energies per clip — the
    * audio-fingerprinting primitive (energy envelopes are what
    * Shazam-style landmark schemes coarsen from). */
  private[graft] def audioFingerprints(spark: SparkSession, dir: String): Dataset[ImageDesc] = {
    val ds = contentWavTable(spark, dir)
    import ds.sparkSession.implicits._
    val FrameN = 8
    ds.mapPartitions(_.map { case (id, bytes) =>
      val (off, dataLen) = parseWavHeader(bytes)
      val n = dataLen / 2
      val nf = (n + FrameN - 1) / FrameN
      val en = new Array[Long](nf)
      var f = 0
      while (f < nf) {
        val lo = f * FrameN
        val hi = math.min(lo + FrameN, n)
        var e = 0L
        var j = lo
        while (j < hi) {
          val b0 = bytes(off + 2 * j) & 0xff
          val b1 = bytes(off + 2 * j + 1)
          val s = (b1 << 8) | b0
          e += s.toLong * s
          j += 1
        }
        en(f) = e
        f += 1
      }
      ImageDesc(id, en)
    })
  }

  /** Fingerprints with the quantized blocking key (each frame energy
    * >> 28) and shared oracle CTEs for the audio pair. */
  private[graft] def keyedAudio(spark: SparkSession, dir: String): DataFrame =
    audioFingerprints(spark, dir).toDF()
      .select(col("doc_id"), col("desc").as("en"),
        expr("array_join(transform(desc, e -> CAST(e div 268435456 AS STRING)), ',')").as("akey"))

  private def audElemsCtes: String =
    """pad AS (SELECT doc_id, rpad(text, 64, ' ') AS t FROM documents),
      |smb AS (SELECT doc_id, j,
      |    ascii(substr(t, 2*j+2, 1)) AS hi, ascii(substr(t, 2*j+1, 1)) AS lo
      |  FROM pad, LATERAL (SELECT unnest(generate_series(0, 31)) AS j) u),
      |sm AS (SELECT doc_id, j,
      |    CASE WHEN hi >= 128 THEN hi*256 + lo - 65536 ELSE hi*256 + lo END AS s
      |  FROM smb),
      |fr AS (SELECT doc_id, j // 8 AS frame, CAST(SUM(s*s) AS BIGINT) AS e
      |  FROM sm GROUP BY doc_id, j // 8)""".stripMargin

  /** q307: AUDIO FINGERPRINT extraction — one row per clip with the
    * frame-energy vector (comma-joined) and its quantized blocking
    * key; the audio twin of q301. The decode→frame→energy path is
    * hash-verified end to end by the character-code oracle (the q134
    * discipline: LE int16 reconstruction, exact integer Σs²) — a
    * fingerprint mismatch pinpoints the chunk walk, the sample
    * decode, or the framing. Pure scan-shaped map stage; the
    * fingerprint table is the persisted artifact an audio-dedup
    * pipeline keeps beside the corpus. */
  def q307AudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    keyedAudio(spark, dir)
      .select(col("doc_id"), col("akey"),
        expr("array_join(transform(en, e -> CAST(e AS STRING)), ',')").as("fingerprint"))

  def q307Sql: String =
    s"""WITH $audElemsCtes
       |SELECT doc_id,
       |  string_agg(CAST(e // 268435456 AS VARCHAR), ',' ORDER BY frame) AS akey,
       |  string_agg(CAST(e AS VARCHAR), ',' ORDER BY frame) AS fingerprint
       |FROM fr GROUP BY doc_id""".stripMargin

  /** q308: AUDIO NEAR-DUP DETECTION — the candidate/verify dedup
    * discipline on the AUDIO modality, completing the symmetry
    * (text q30-q34/q283, image q302, audio HERE): candidates share
    * the quantized frame-energy key (equi-join, never all-pairs) with
    * buckets above ${AudioDupKeyMaxDf} dropped
    * (the hot-key guard — a silence-heavy corpus would collapse into
    * one O(n²) bucket); survivors verify by exact integer L1 over
    * frame energies at ≤ ${AudioNeardupMaxL1} —
    * deliberately TIGHTER than the key's own 2^28 bin width, so the
    * verify prunes real candidates (an all-integer boundary, the q302
    * discipline). Recall trade of the quantized key is the documented
    * o(n²)-path cost (q283/q287 lesson).
    *
    * Scale: fingerprinting is a zero-shuffle scan; blocking is one
    * map-combinable key-frequency aggregate + broadcast anti-join +
    * one equi-join with df-capped buckets — candidates ≤ cap·n/2. */
  def q308AudioNeardup(spark: SparkSession, dir: String): DataFrame =
    audioNeardupWith(spark, dir,
      AudioDupKeyMaxDf, AudioNeardupMaxL1)

  private[graft] def audioNeardupWith(spark: SparkSession, dir: String,
      cap: Int, maxL1: Long): DataFrame = {
    val d = keyedAudio(spark, dir)
    val hot = d.groupBy("akey").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("akey")
    val ok = d.join(broadcast(hot), Seq("akey"), "left_anti")
    val a = ok.select(col("akey"), col("doc_id").as("doc_a"), col("en").as("ea"))
    val b = ok.select(col("akey"), col("doc_id").as("doc_b"), col("en").as("eb"))
    a.join(b, Seq("akey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(ea, eb, (x, y) -> abs(x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("l1"))
      .filter(col("l1") <= maxL1)
  }

  def q308Sql: String = {
    val cap = AudioDupKeyMaxDf
    val maxL1 = AudioNeardupMaxL1
    s"""WITH $audElemsCtes,
       |keys AS (SELECT doc_id,
       |    string_agg(CAST(e // 268435456 AS VARCHAR), ',' ORDER BY frame) AS akey
       |  FROM fr GROUP BY doc_id),
       |ok AS (SELECT doc_id, akey FROM keys
       |  WHERE akey IN (SELECT akey FROM keys GROUP BY akey HAVING count(*) <= $cap)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ok a JOIN ok b ON a.akey = b.akey AND a.doc_id < b.doc_id),
       |dd AS (SELECT c.doc_a, c.doc_b,
       |    CAST(SUM(abs(ea.e - eb.e)) AS BIGINT) AS l1
       |  FROM cand c
       |  JOIN fr ea ON ea.doc_id = c.doc_a
       |  JOIN fr eb ON eb.doc_id = c.doc_b AND eb.frame = ea.frame
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, l1 FROM dd WHERE l1 <= $maxL1""".stripMargin
  }

  /** q303: IMAGE SIMILARITY SEARCH — exact top-k nearest images by
    * pooled-thumbnail L2, completing the modality symmetry of the
    * search surface (q40 searches external embeddings, q289
    * text-derived vectors, THIS decoded pixels): the first
    * ${GraftConfig.default.annQueries} doc_ids form the query panel,
    * every (query, image) pair scores the exact integer
    * d² = na + nb − 2·dot over descriptors (`vec_dot_long` BIGINTs —
    * ranking compares exact integers, ties to the lowest doc_id, no
    * float anywhere).
    *
    * Scale: q40's exact plan — tiny panel broadcast against one
    * zero-shuffle descriptor scan, then a per-query partial top-k;
    * the corpus side reads 12 ints per image instead of pixels
    * because the descriptor IS the persisted artifact (q301). For
    * sub-scan latency the q302 quantized key plays IVF: probe the
    * query's bucket ring instead of scanning — the tiers compose. */
  def q303ImageSearch(spark: SparkSession, dir: String): DataFrame = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    val d = keyedDescriptors(spark, dir).select("doc_id", "desc", "n2")
    val q = broadcast(d.filter(col("doc_id") < nq)
      .select(col("doc_id").as("query_id"), col("desc").as("qd"), col("n2").as("qn2")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("doc_id"))
    q.crossJoin(d)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("qn2") + col("n2") - lit(2L) * expr("vec_dot_long(qd, desc)")).as("d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "rk", "d2")
  }

  def q303Sql: String = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    s"""WITH $imgElemsCtes,
       |qd AS (SELECT doc_id AS query_id, idx, v FROM elems WHERE doc_id < $nq),
       |dd AS (SELECT q.query_id, e.doc_id,
       |    CAST(SUM((q.v - e.v) * (q.v - e.v)) AS BIGINT) AS d2
       |  FROM qd q JOIN elems e ON e.idx = q.idx AND e.doc_id <> q.query_id
       |  GROUP BY q.query_id, e.doc_id),
       |rk AS (SELECT query_id, doc_id, d2,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d2, doc_id) AS rk
       |  FROM dd)
       |SELECT query_id, doc_id, rk, d2 FROM rk WHERE rk <= $k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q314/q315: video temporal fingerprints + video near-dup detection
  // ---------------------------------------------------------------

  private val VideoFrames = 4
  private val VideoFrameBytes = 16
  private val VideoPool = 4 // bytes averaged per pooled value

  /** A CONTENT-derived "video" per doc: a strict ASCII header
    * (`V1\n<n_frames>\n`) followed by $VideoFrames × $VideoFrameBytes-byte
    * frames that ARE consecutive slices of the space-padded text —
    * temporally adjacent frames carry adjacent content, so similar
    * documents produce similar frame SEQUENCES (the contentWavTable
    * rationale lifted to the temporal axis; q61's md5 frames would
    * avalanche similarity away). The strict parser downstream sees
    * only bytes. */
  private[graft] def contentVideoTable(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          expr(s"cast('V1\n$VideoFrames\n' as binary)"),
          expr(s"cast(rpad(text, ${VideoFrames * VideoFrameBytes}, ' ') as binary)"))
          .as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** Minimal strict video parser: returns (n_frames, frame offset).
    * Throws on bad magic / malformed count / truncated frames —
    * decoder semantics, not stub semantics (the q76 rule). */
  private def parseVideoHeader(bytes: Array[Byte]): (Int, Int) = {
    require(bytes.length >= 3 && bytes(0) == 'V' && bytes(1) == '1' && bytes(2) == '\n',
      "not a V1 video payload")
    var i = 3
    var n = 0
    require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9', "bad frame count")
    while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
      n = n * 10 + (bytes(i) - '0'); i += 1
    }
    require(i < bytes.length && bytes(i) == '\n', "bad video header")
    i += 1
    require(bytes.length - i >= n * VideoFrameBytes, "truncated video frames")
    (n, i)
  }

  /** Per-clip TEMPORAL fingerprint fused into the decoder: q61's
    * fixed-stride frame walk + q119's average pooling per frame — each
    * frame's $VideoFrameBytes bytes pool (integer mean) into
    * ${VideoFrameBytes / VideoPool} values, concatenated in FRAME
    * ORDER into one ${VideoFrames * VideoFrameBytes / VideoPool}-long
    * integer vector. Frame order is what makes the fingerprint (and
    * the blocking key built from it) TEMPORAL: a re-cut of the same
    * frames in a different order keys differently, matching how video
    * dedup must distinguish content from montage. Pure map stage,
    * zero shuffle. */
  private[graft] def videoFingerprints(spark: SparkSession, dir: String): Dataset[ImageDesc] = {
    val ds = contentVideoTable(spark, dir)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) =>
      val (nf, off) = parseVideoHeader(bytes)
      val perFrame = VideoFrameBytes / VideoPool
      val out = new Array[Long](nf * perFrame)
      var f = 0
      while (f < nf) {
        var j = 0
        while (j < perFrame) {
          var s = 0L
          var k = 0
          while (k < VideoPool) {
            s += bytes(off + f * VideoFrameBytes + j * VideoPool + k) & 0xff
            k += 1
          }
          out(f * perFrame + j) = s / VideoPool
          j += 1
        }
        f += 1
      }
      ImageDesc(id, out)
    })
  }

  /** Fingerprints with the temporal-aligned 16-bin quantized blocking
    * key (one hex char per pooled value, frame-ordered) and the exact
    * integer squared norm — the q301 keying discipline on the video
    * modality. */
  private[graft] def keyedVideo(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    videoFingerprints(spark, dir).toDF()
      .select(col("doc_id"), col("desc"),
        expr("array_join(transform(desc, v -> " +
          "substring('0123456789abcdef', CAST(v div 16 AS INT) + 1, 1)), '')").as("vkey"),
        expr("vec_dot_long(desc, desc)").as("n2"))
  }

  /** Shared oracle CTEs: pooled temporal elements recomputed from
    * character codes — frame f, pooled slot j averages text bytes
    * f·16 + j·4 + {0..3}; idx = f·4 + j preserves frame order. */
  private def vidElemsCtes: String =
    s"""pad AS (SELECT doc_id, rpad(text, ${VideoFrames * VideoFrameBytes}, ' ') AS t FROM documents),
       |vv AS (SELECT doc_id, f, j,
       |    ascii(substr(t, f*$VideoFrameBytes + j*$VideoPool + k + 1, 1)) AS v
       |  FROM pad, LATERAL (SELECT unnest(generate_series(0, ${VideoFrames - 1})) AS f) a,
       |    LATERAL (SELECT unnest(generate_series(0, ${VideoFrameBytes / VideoPool - 1})) AS j) b,
       |    LATERAL (SELECT unnest(generate_series(0, ${VideoPool - 1})) AS k) c),
       |velems AS (SELECT doc_id, f*${VideoFrameBytes / VideoPool} + j AS idx, SUM(v) // $VideoPool AS v
       |  FROM vv GROUP BY doc_id, f, j)""".stripMargin

  /** q314: VIDEO TEMPORAL FINGERPRINT extraction — one row per clip
    * with the frame-ordered pooled vector (comma-joined for the
    * cross-engine hash) and its temporal blocking key. The
    * decode→frame-walk→pool path is hash-verified end to end by the
    * character-code oracle (the q301/q307 discipline) — a mismatch
    * pinpoints the header parse, the frame stride, or the pooling.
    * Scan-shaped map stage; the fingerprint table is the persisted
    * artifact a video-dedup pipeline keeps beside the corpus. */
  def q314VideoFingerprint(spark: SparkSession, dir: String): DataFrame =
    keyedVideo(spark, dir)
      .select(col("doc_id"), col("vkey"),
        expr("array_join(transform(desc, v -> CAST(v AS STRING)), ',')").as("fingerprint"))

  def q314Sql: String =
    s"""WITH $vidElemsCtes
       |SELECT doc_id,
       |  string_agg(substr('0123456789abcdef', CAST(v // 16 AS INT) + 1, 1), '' ORDER BY idx) AS vkey,
       |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY idx) AS fingerprint
       |FROM velems GROUP BY doc_id""".stripMargin

  /** q315: VIDEO NEAR-DUP DETECTION — the candidate/verify dedup
    * discipline on the VIDEO modality, completing the symmetry (text
    * q30-q34/q283, image q302, audio q308, video HERE): candidates
    * share the temporal-aligned quantized key (equi-join, never
    * all-pairs) with buckets above ${VideoDupKeyMaxDf}
    * dropped (the hot-key guard — a still-frame-heavy corpus would
    * collapse into one O(n²) bucket); survivors verify by exact
    * integer squared L2 over the temporal fingerprints at ≤
    * ${VideoNeardupMaxD2} — deliberately TIGHTER
    * than the key's own 16-wide bins, so the verify prunes real
    * candidates (measured at sf0.01: 58 candidates → 40 kept; an
    * all-integer boundary, the q302 discipline).
    *
    * Scale: fingerprinting is a zero-shuffle scan; blocking is one
    * map-combinable key-frequency aggregate + broadcast anti-join +
    * one equi-join with df-capped buckets — candidates ≤ cap·n/2 =
    * O(n). */
  def q315VideoNeardup(spark: SparkSession, dir: String): DataFrame =
    videoNeardupWith(spark, dir,
      VideoDupKeyMaxDf, VideoNeardupMaxD2)

  private[graft] def videoNeardupWith(spark: SparkSession, dir: String,
      cap: Int, maxD2: Long): DataFrame = {
    val d = keyedVideo(spark, dir)
    val hot = d.groupBy("vkey").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("vkey")
    val ok = d.join(broadcast(hot), Seq("vkey"), "left_anti")
    val a = ok.select(col("vkey"), col("doc_id").as("doc_a"),
      col("desc").as("da"), col("n2").as("na"))
    val b = ok.select(col("vkey"), col("doc_id").as("doc_b"),
      col("desc").as("db"), col("n2").as("nb"))
    a.join(b, Seq("vkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("na") + col("nb") - lit(2L) * expr("vec_dot_long(da, db)")).as("d2"))
      .filter(col("d2") <= maxD2)
  }

  def q315Sql: String = {
    val cap = VideoDupKeyMaxDf
    val maxD2 = VideoNeardupMaxD2
    s"""WITH $vidElemsCtes,
       |keys AS (SELECT doc_id,
       |    string_agg(substr('0123456789abcdef', CAST(v // 16 AS INT) + 1, 1), '' ORDER BY idx) AS vkey
       |  FROM velems GROUP BY doc_id),
       |ok AS (SELECT doc_id, vkey FROM keys
       |  WHERE vkey IN (SELECT vkey FROM keys GROUP BY vkey HAVING count(*) <= $cap)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ok a JOIN ok b ON a.vkey = b.vkey AND a.doc_id < b.doc_id),
       |dd AS (SELECT c.doc_a, c.doc_b,
       |    CAST(SUM((ea.v - eb.v) * (ea.v - eb.v)) AS BIGINT) AS d2
       |  FROM cand c
       |  JOIN velems ea ON ea.doc_id = c.doc_a
       |  JOIN velems eb ON eb.doc_id = c.doc_b AND eb.idx = ea.idx
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, d2 FROM dd WHERE d2 <= $maxD2""".stripMargin
  }

  // ---------------------------------------------------------------
  // q318/q319: audio + video similarity search (the q303 shape)
  // ---------------------------------------------------------------

  /** q318: AUDIO SIMILARITY SEARCH — exact top-k nearest clips by
    * frame-energy L1, completing the SEARCH symmetry across modalities
    * (q40 external embeddings, q289 text-derived, q303 decoded pixels,
    * THIS decoded samples): the first ${GraftConfig.default.annQueries}
    * doc_ids form the query panel, every (query, clip) pair scores the
    * exact integer L1 over q307's fingerprints — the SAME metric the
    * q308 near-dup verify uses, so the search ranking and the dedup
    * boundary are mutually consistent (a clip inside the near-dup
    * bound always out-ranks one outside it). Ties to the lowest
    * doc_id; no float anywhere.
    *
    * Scale: q303's exact plan — the tiny panel broadcasts against one
    * zero-shuffle fingerprint scan, then a per-query partial top-k;
    * the corpus side reads ${64 / 16} ints per clip instead of PCM
    * because the fingerprint IS the persisted artifact (q307). For
    * sub-scan latency the q308 quantized key plays IVF — the tiers
    * compose exactly as on the image modality. */
  def q318AudioSearch(spark: SparkSession, dir: String): DataFrame = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    val d = keyedAudio(spark, dir).select("doc_id", "en")
    val q = broadcast(d.filter(col("doc_id") < nq)
      .select(col("doc_id").as("query_id"), col("en").as("qe")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l1"), col("doc_id"))
    q.crossJoin(d)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        expr("aggregate(zip_with(qe, en, (x, y) -> abs(x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("l1"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "rk", "l1")
  }

  def q318Sql: String = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    s"""WITH $audElemsCtes,
       |qd AS (SELECT doc_id AS query_id, frame, e FROM fr WHERE doc_id < $nq),
       |dd AS (SELECT q.query_id, f.doc_id,
       |    CAST(SUM(abs(q.e - f.e)) AS BIGINT) AS l1
       |  FROM qd q JOIN fr f ON f.frame = q.frame AND f.doc_id <> q.query_id
       |  GROUP BY q.query_id, f.doc_id),
       |rk AS (SELECT query_id, doc_id, l1,
       |    row_number() OVER (PARTITION BY query_id ORDER BY l1, doc_id) AS rk
       |  FROM dd)
       |SELECT query_id, doc_id, rk, l1 FROM rk WHERE rk <= $k""".stripMargin
  }

  /** q319: VIDEO SIMILARITY SEARCH — exact top-k nearest clips by
    * squared L2 over q314's temporal fingerprints, the last cell of
    * the modality×(dedup, search) matrix (dedup: q30-34/q302/q308/
    * q315; search: q40/q303/q318/THIS). The metric is the q315 verify
    * metric (exact integer d² = na + nb − 2·dot over FRAME-ORDERED
    * pooled values), so a montage re-cut of the same frames ranks far
    * — temporal order is part of the distance, not just the blocking
    * key. Ties to the lowest doc_id; all-integer ranking.
    *
    * Scale: identical to q303/q318 — broadcast panel × zero-shuffle
    * fingerprint scan + per-query partial top-k over the persisted
    * q314 artifact. */
  def q319VideoSearch(spark: SparkSession, dir: String): DataFrame = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    val d = keyedVideo(spark, dir).select("doc_id", "desc", "n2")
    val q = broadcast(d.filter(col("doc_id") < nq)
      .select(col("doc_id").as("query_id"), col("desc").as("qd"), col("n2").as("qn2")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("doc_id"))
    q.crossJoin(d)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("qn2") + col("n2") - lit(2L) * expr("vec_dot_long(qd, desc)")).as("d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "rk", "d2")
  }

  def q319Sql: String = {
    val nq = GraftConfig.default.annQueries
    val k = GraftConfig.default.annTopK
    s"""WITH $vidElemsCtes,
       |qd AS (SELECT doc_id AS query_id, idx, v FROM velems WHERE doc_id < $nq),
       |dd AS (SELECT q.query_id, e.doc_id,
       |    CAST(SUM((q.v - e.v) * (q.v - e.v)) AS BIGINT) AS d2
       |  FROM qd q JOIN velems e ON e.idx = q.idx AND e.doc_id <> q.query_id
       |  GROUP BY q.query_id, e.doc_id),
       |rk AS (SELECT query_id, doc_id, d2,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d2, doc_id) AS rk
       |  FROM dd)
       |SELECT query_id, doc_id, rk, d2 FROM rk WHERE rk <= $k""".stripMargin
  }
}
