package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}
import graft.plans.GraftFunctions.{pcmS16le, rgb24Pixels, u8Moments}

/** Multimodal column plumbing — SURVEY.md §2.4 mm01.
  *
  * Media assets ride through the engine as opaque `binary` columns with
  * typed metadata beside them; decode / feature-extraction runs batched
  * per partition (mapPartitions) so a real decoder would amortize codec
  * or model initialization once per task, not per row. The container has
  * no image/audio codecs, so [[decodeStub]] is a clearly-marked
  * deterministic fake — the Spark-side schema, batching and partition
  * behavior are real and tested (MultimodalSpec).
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String, n_bytes: Long)
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, feat_dim: Int, feat_norm: Double)

  /** STUB: stands in for an image/audio decoder + feature extractor.
    * Deterministic byte-bucket averages shaped like an 8-dim embedding. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val dim = 8
    val acc = new Array[Float](dim)
    val cnt = new Array[Int](dim)
    var i = 0
    while (i < payload.length) {
      val b = i % dim
      acc(b) += (payload(i) & 0xFF).toFloat
      cnt(b) += 1
      i += 1
    }
    var j = 0
    while (j < dim) { if (cnt(j) > 0) acc(j) /= cnt(j); j += 1 }
    acc
  }

  /** Batched per-partition feature extraction over binary payloads. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      // per-task init happens here once (decoder/model warm-up in real use)
      rows.map { r =>
        val feats = decodeStub(r.payload)
        val norm = math.sqrt(feats.map(f => f.toDouble * f).sum)
        MediaFeatures(r.doc_id, r.n_bytes, feats.length, norm)
      }
    }
  }

  /** documents.text encoded to UTF-8 bytes plays the role of the media
    * payload; metadata (mime, byte length) rides beside it. FULL value
    * oracle: the stub's byte-bucket math is exact integer arithmetic in
    * float (bucket sums ≪ 2²⁴), the mean is one native float division
    * (DuckDB REAL/REAL is single-precision — verified bit-identical),
    * and the norm is a double fold — so DuckDB replays decode end-to-end
    * from the characters (the corpus text is pure ASCII, pinned by
    * TestDataSpec, so bytes ≡ char codes). */
  val mm01 = Q.sql(
    "mm01_binary_meta",
    """WITH b AS (
      |  SELECT doc_id, (i-1)%8 AS bucket,
      |    ord(substring(text, CAST(i AS INT), 1)) AS bv
      |  FROM documents, unnest(range(1, length(text)+1)) t(i)),
      |m AS (
      |  SELECT doc_id, bucket,
      |    CAST(CAST(sum(bv) AS REAL)/CAST(count(*) AS REAL) AS REAL) AS mean
      |  FROM b GROUP BY doc_id, bucket),
      |n AS (
      |  SELECT doc_id, sqrt(sum(CAST(mean AS DOUBLE)*CAST(mean AS DOUBLE))) AS norm
      |  FROM m GROUP BY doc_id)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_bytes,
      |  CAST(8 AS INT) AS feat_dim,
      |  round(coalesce(n.norm, 0.0), 6) AS feat_norm
      |FROM documents d LEFT JOIN n USING(doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    implicit val enc = Encoders.product[MediaRecord]
    val media = Tables.documents(s, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("mime"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRecord]
    extractFeatures(media).toDF()
      .withColumn("feat_norm", round(col("feat_norm"), 6))
      .orderBy("doc_id")
  }

  final case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Long, checksum: Long)

  /** STUB: stands in for a pixel resampler — keeps every `factor`-th
    * byte. Real decode/resample plugs in here unchanged. */
  def resizeStub(frame: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((frame.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = frame(i * factor); i += 1 }
    out
  }

  /** Frame-sampling + resize plumbing (the video path of the multimodal
    * surface): the payload is treated as a sequence of fixed-size frames;
    * every `stride`-th frame is sliced out with codegen'd binary
    * `substring` over a posexploded frame-offset sequence — the row
    * explosion is all column expressions, so Catalyst sees and optimizes
    * it — and only the per-frame byte work (the resize stub) runs batched
    * in mapPartitions. Frames shorter than `frameBytes` (payload tail)
    * are dropped, as a real fixed-frame decoder would. */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int, stride: Int,
                   resizeFactor: Int): Dataset[Frame] = {
    implicit val enc = Encoders.product[Frame]
    val nFrames = (col("n_bytes") / frameBytes).cast("int")
    val sampled = media.toDF()
      .filter(nFrames > 0)
      .select(col("doc_id"),
        posexplode(sequence(lit(0), nFrames - 1, lit(stride))).as(Seq("_p", "frame_idx")))
      .select(col("doc_id"), col("frame_idx"))
    val frames = media.toDF().select(col("doc_id"), col("payload"))
      .join(sampled, "doc_id")
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)").as("frame"))
    frames.as[(Long, Int, Array[Byte])](
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.BINARY))
      .mapPartitions { rows =>
        rows.map { case (id, idx, frame) =>
          val resized = resizeStub(frame, resizeFactor)
          // modular 31-fold (t04's cross-engine discipline: stays inside
          // int64, so an independent engine can replay it bit-for-bit)
          var ck = 0L
          var i = 0
          while (i < resized.length) {
            ck = (ck * 31 + (resized(i) & 0xFF)) % 2147483647L
            i += 1
          }
          Frame(id, idx, resized.length.toLong, ck)
        }
      }
  }

  /** Frame-sample + resize: 128-byte frames, every 2nd frame, resized by
    * 2 — with a FULL value oracle over all four columns (doc_id,
    * frame_idx, n_bytes, checksum), mm03's closed-form-payload trick
    * applied to the video path.
    *
    * The registered payload is byte(i) = 96 + (doc_id·5 + i) % 32 with
    * the clip length taken from the document's UTF-8 byte length. The
    * Spark side runs the REAL binary path — an actual binary column,
    * codegen'd binary substrings over the posexploded frame grid, the
    * resize stub + modular checksum fold batched in mapPartitions
    * ([[sampleFrames]], unchanged) — while DuckDB replays the same fold
    * from the formula: resized byte k of frame f is payload byte
    * f·128 + 2k, so the checksum is a list_reduce over range(0,64).
    * MultimodalSpec keeps the frame-grid/resize/determinism/sensitivity
    * pins on planted payloads. */
  val mm02 = Q.sql(
    "mm02_frame_sample",
    """WITH m AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      |grid AS (
      |  SELECT doc_id, CAST(i * 2 AS INT) AS frame_idx
      |  FROM m, unnest(range(0,
      |    CASE WHEN n // 128 > 0 THEN (n // 128 - 1) // 2 + 1 ELSE 0 END)) t(i))
      |SELECT doc_id, frame_idx, CAST(64 AS BIGINT) AS n_bytes,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), k ->
      |      96 + (doc_id * 5 + frame_idx * 128 + 2 * k) % 32)),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS checksum
      |FROM grid
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    implicit val enc = Encoders.product[MediaRecord]
    val n = length(encode(col("text"), "UTF-8"))
    val byteChar = (i: Column) => chr(lit(96) + (col("doc_id") * 5 + i) % 32)
    val media = Tables.documents(s, dir)
      .select(
        col("doc_id"),
        // n = 0 would make sequence(0, -1) throw; empty doc → empty payload
        when(n > 0,
          encode(array_join(transform(sequence(lit(0L), n.cast("long") - 1, lit(1L)),
            byteChar), ""), "UTF-8"))
          .otherwise(encode(lit(""), "UTF-8")).as("payload"),
        lit("video/fake").as("mime"),
        n.cast("long").as("n_bytes"))
      .as[MediaRecord]
    sampleFrames(media, frameBytes = 128, stride = 2, resizeFactor = 2).toDF()
      .orderBy("doc_id", "frame_idx")
  }

  final case class AudioWindow(doc_id: Long, win_idx: Int, offset: Long,
                               energy: Double, peak: Int)

  /** Audio-path plumbing (the third modality beside mm01's image-style
    * decode and mm02's video frames): OVERLAPPING windows on a hop grid
    * — window w covers bytes [w·hop, w·hop + windowBytes), hop <
    * windowBytes, the STFT-style layout every audio featurizer consumes.
    * The hop grid and the window slices are column expressions
    * (posexplode over a sequence + codegen'd binary substring); only the
    * per-window sample math (RMS energy + peak over centered bytes — the
    * stand-in for a real DSP kernel) runs batched in mapPartitions.
    * Windows quieter than `minEnergy` are dropped AFTER feature
    * extraction with a declarative filter — voice-activity-style
    * trimming the optimizer can see. Partial tail windows are dropped,
    * as a fixed-window featurizer would. */
  def windowAudio(media: Dataset[MediaRecord], windowBytes: Int, hopBytes: Int,
                  minEnergy: Double): Dataset[AudioWindow] = {
    implicit val enc = Encoders.product[AudioWindow]
    val nWins = ((col("n_bytes") - windowBytes) / hopBytes).cast("int") + 1
    val grid = media.toDF()
      .filter(col("n_bytes") >= windowBytes)
      .select(col("doc_id"), posexplode(sequence(lit(0), nWins - 1)).as(Seq("_p", "win_idx")))
      .select(col("doc_id"), col("win_idx"))
    val windows = media.toDF().select(col("doc_id"), col("payload"))
      .join(grid, "doc_id")
      .select(col("doc_id"), col("win_idx"),
        (col("win_idx").cast("long") * hopBytes).as("offset"),
        expr(s"substring(payload, win_idx * $hopBytes + 1, $windowBytes)").as("win"))
    windows.as[(Long, Int, Long, Array[Byte])](
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { rows =>
        rows.map { case (id, idx, off, win) =>
          var sumSq = 0.0
          var peak = 0
          var i = 0
          while (i < win.length) {
            val centered = (win(i) & 0xFF) - 128
            sumSq += centered.toDouble * centered
            if (math.abs(centered) > peak) peak = math.abs(centered)
            i += 1
          }
          AudioWindow(id, idx, off, math.sqrt(sumSq / win.length), peak)
        }
      }
      .filter(col("energy") >= minEnergy)
  }

  /** Overlapping 256-byte windows, 128-byte hop, energy-trimmed — with a
    * FULL value oracle over all five columns (doc_id, win_idx, offset,
    * energy, peak).
    *
    * The container has no audio codec, so the payload is the decode
    * stub's stand-in: a closed-form ASCII byte pattern, byte(i) = 127
    * for every 7th doc (a "silent" clip) else 96 + (doc_id·7 + i) % 32,
    * with the clip length taken from the document's UTF-8 byte length so
    * sizes vary realistically. Because the pattern is closed-form, the
    * DuckDB oracle recomputes window RMS/peak directly from the formula
    * over the hop grid — no blob byte access needed — while the Spark
    * side still exercises the REAL binary path: the payload is an actual
    * binary column, windows are codegen'd binary substrings over the
    * posexploded grid, and the DSP kernel runs batched in mapPartitions
    * ([[windowAudio]], unchanged). Silent clips fall to the energy trim
    * (RMS 1.0 < 2.0) on both sides, so the declarative VAD filter stays
    * non-vacuous. MultimodalSpec keeps the hop-grid/overlap/trim/
    * determinism pins on planted payloads. */
  val mm03 = Q.sql(
    "mm03_audio_windows",
    """WITH m AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      |grid AS (
      |  SELECT doc_id, n, CAST(i AS INT) AS win_idx, i * 128 AS "offset"
      |  FROM m, unnest(range(0, CASE WHEN n >= 256 THEN (n - 256) // 128 + 1 ELSE 0 END)) t(i)),
      |w AS (
      |  SELECT doc_id, win_idx, "offset",
      |    sqrt(list_sum(list_transform(range(0, 256), j -> CAST(
      |        (CASE WHEN doc_id % 7 = 0 THEN 127 ELSE 96 + (doc_id * 7 + "offset" + j) % 32 END - 128)
      |      * (CASE WHEN doc_id % 7 = 0 THEN 127 ELSE 96 + (doc_id * 7 + "offset" + j) % 32 END - 128)
      |      AS DOUBLE))) / 256.0) AS energy,
      |    CAST(list_max(list_transform(range(0, 256), j ->
      |      abs(CASE WHEN doc_id % 7 = 0 THEN 127 ELSE 96 + (doc_id * 7 + "offset" + j) % 32 END - 128)))
      |      AS INT) AS peak
      |  FROM grid)
      |SELECT doc_id, win_idx, "offset", round(energy, 6) AS energy, peak
      |FROM w WHERE energy >= 2.0
      |ORDER BY doc_id, win_idx""".stripMargin) { (s, dir) =>
    implicit val enc = Encoders.product[MediaRecord]
    val n = length(encode(col("text"), "UTF-8"))
    val byteChar = (i: Column) =>
      when(col("doc_id") % 7 === 0, chr(lit(127)))
        .otherwise(chr(lit(96) + (col("doc_id") * 7 + i) % 32))
    val media = Tables.documents(s, dir)
      .select(
        col("doc_id"),
        // n = 0 would make sequence(0, -1) throw; empty doc → empty payload
        when(n > 0,
          encode(array_join(transform(sequence(lit(0L), n.cast("long") - 1, lit(1L)),
            byteChar), ""), "UTF-8"))
          .otherwise(encode(lit(""), "UTF-8")).as("payload"),
        lit("audio/fake").as("mime"),
        n.cast("long").as("n_bytes"))
      .as[MediaRecord]
    windowAudio(media, windowBytes = 256, hopBytes = 128, minEnergy = 2.0).toDF()
      .withColumn("energy", round(col("energy"), 6))
      .orderBy("doc_id", "win_idx")
  }

  // ------------------------------------------------------------- mm04
  // A REAL RIFF/WAV PCM16 parser — not a stub: header magic validation,
  // a bounded chunk walk to locate the `data` chunk (LIST/fact chunks
  // and RIFF's odd-size pad byte handled), little-endian field
  // extraction and signed 16-bit sample decode, all as PURE column
  // arithmetic over the binary payload (hex/conv/substr — no UDF, no
  // mapPartitions). The container has no audio files, so the BYTES are
  // planted (a valid WAV written by column expressions from a
  // closed-form sample law), but nothing about the parser knows that:
  // it reads fields and samples from the binary exactly as it would
  // from a recorded file, and MultimodalSpec feeds it WAVs written
  // independently by java.nio with extra chunks and odd sizes.

  /** Unsigned byte at 1-based `pos` of a binary column. */
  private def byteAt(bin: Column, pos: Column): Column =
    conv(hex(bin.substr(pos, lit(1))), 16, 10).cast("long")

  /** Little-endian u16/u32 at 1-based `pos`. */
  private def le16(bin: Column, pos: Column): Column =
    byteAt(bin, pos) + byteAt(bin, pos + 1) * 256L
  private def le32(bin: Column, pos: Column): Column =
    le16(bin, pos) + le16(bin, pos + 2) * 65536L

  /** ASCII chunk id at 1-based `pos`. */
  private def tagAt(bin: Column, pos: Column): Column =
    decode(bin.substr(pos, lit(4)), "UTF-8")

  /** Parse a RIFF/WAVE PCM16 payload column: validates the RIFF/WAVE
    * magics loudly (assert_true inside a filter predicate, so pruning
    * cannot drop it), walks up to `maxChunks` chunks from offset 13 to
    * find `data` (skipping fmt/LIST/fact and honoring the RIFF
    * even-byte pad rule), and extracts the canonical fmt fields plus
    * the decoded signed samples array. Mono PCM16 is asserted (the
    * entry's contract; a general reader would branch on block_align).
    *
    * Everything is column arithmetic over the binary — the 100 TB shape
    * is a parquet scan of blob columns plus a map-only projection. The
    * header walk (bounded, ~40 byte reads per row) stays hex/conv
    * column math; the SAMPLE decode — the corpus-scale loop — runs
    * through the native codegen [[graft.plans.PcmS16Le]] expression
    * (one branch-free pass over the byte array; the per-byte
    * hex/conv/substr formulation measured 70 s for ~20M samples at
    * sf0.1, the native pass replaces two string conversions per byte). */
  def parseWav(df: org.apache.spark.sql.DataFrame, payloadCol: String,
               maxChunks: Int = 6): org.apache.spark.sql.DataFrame = {
    val p = col(payloadCol)
    // Chunk walk as ONE runtime fold over sequence(1, maxChunks): the
    // accumulator struct carries (next header offset, fmt offset, data
    // offset), each step reads tag+size at the current offset and
    // advances past the chunk (+ pad byte). Lambda variables keep the
    // plan constant-size — embedding each offset EXPRESSION inside the
    // next (off_{n+1} references off_n ~9×) is exponential in maxChunks
    // and stalls the analyzer. Offsets past the payload end decode to
    // NULL and the fold carries the accumulator through unchanged.
    val walk = aggregate(
      sequence(lit(1), lit(maxChunks)),
      struct(lit(13L).as("off"), lit(null).cast("long").as("fmt"),
        lit(null).cast("long").as("data")),
      (acc, _) => {
        val off = acc.getField("off")
        val tag = tagAt(p, off)
        val size = le32(p, off + 4)
        struct(
          (off + 8L + size + pmod(size, lit(2L))).as("off"),
          when(tag === "fmt ", off).otherwise(acc.getField("fmt")).as("fmt"),
          when(tag === "data", off).otherwise(acc.getField("data")).as("data"))
      })
    val checked = df
      .filter(expr(
        s"isnull(assert_true(decode(substring($payloadCol, 1, 4), 'UTF-8') = 'RIFF' " +
          s"AND decode(substring($payloadCol, 9, 4), 'UTF-8') = 'WAVE', " +
          "'parseWav: not a RIFF/WAVE payload'))"))
      .withColumn("_walk", walk)
      .withColumn("_fmt_off", col("_walk").getField("fmt"))
      .withColumn("_data_off", col("_walk").getField("data"))
      .filter(expr(
        "isnull(assert_true(_fmt_off IS NOT NULL AND _data_off IS NOT NULL, " +
          "'parseWav: fmt /data chunk not found in walk'))"))
    val f = col("_fmt_off")
    val dOff = col("_data_off")
    val parsed = checked
      .withColumn("audio_format", le16(p, f + 8).cast("int"))
      .withColumn("num_channels", le16(p, f + 10).cast("int"))
      .withColumn("sample_rate", le32(p, f + 12).cast("int"))
      .withColumn("byte_rate", le32(p, f + 16).cast("int"))
      .withColumn("block_align", le16(p, f + 20).cast("int"))
      .withColumn("bits_per_sample", le16(p, f + 22).cast("int"))
      .withColumn("data_size", le32(p, dOff + 4))
      .filter(expr(
        "isnull(assert_true(audio_format = 1 AND num_channels = 1 " +
          "AND bits_per_sample = 16, 'parseWav: only mono PCM16 supported'))"))
      .withColumn("n_samples", (col("data_size") / 2L).cast("long"))
      // truncation is corruption and must fail LOUDLY here, not as a
      // silent NULL samples column downstream: the header-declared data
      // chunk (content at 1-based [_data_off+8, _data_off+7+data_size])
      // must actually fit the payload
      .filter(expr(
        s"isnull(assert_true(_data_off + 7 + data_size <= length($payloadCol), " +
          "'parseWav: data chunk truncated'))"))
    parsed
      .withColumn("samples",
        when(col("n_samples") > 0,
          pcmS16le(p, (dOff + 8L).cast("long"),
            col("n_samples").cast("long")))
          .otherwise(typedlit(Seq.empty[Int])))
      .drop("_walk", "_fmt_off", "_data_off")
  }

  /** Hex of `v`'s `nBytes` little-endian bytes (for the planted writer). */
  private def leHex(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(255L)), 2, "0")): _*)

  /** A VALID canonical mono PCM16 WAV payload built by column
    * expressions: 44-byte header + little-endian samples, all via hex +
    * unhex (raw bytes incl. NULs — the chr/encode path can't express
    * those). `sampleAt(k)` must yield a signed 16-bit column. */
  def wavPayload(nSamples: Column, sampleRate: Column,
                 sampleAt: Column => Column): Column = {
    val dataBytes = nSamples * 2L
    val header = concat(
      lit("52494646"), leHex(dataBytes + 36L, 4), // RIFF, riff size
      lit("57415645"), // WAVE
      lit("666d7420"), leHex(lit(16L), 4), // fmt , fmt size
      leHex(lit(1L), 2), leHex(lit(1L), 2), // PCM, mono
      leHex(sampleRate, 4), leHex(sampleRate * 2L, 4), // rate, byte rate
      leHex(lit(2L), 2), leHex(lit(16L), 2), // block align, bits
      lit("64617461"), leHex(dataBytes, 4)) // data, data size
    val samplesHex = when(nSamples > 0,
      array_join(transform(sequence(lit(0L), nSamples - 1),
        k => leHex(pmod(sampleAt(k).cast("long") + 65536L, lit(65536L)), 2)), ""))
      .otherwise(lit(""))
    unhex(concat(header, samplesHex))
  }

  /** Registered pass (r12): end-to-end WAV audio analysis through the
    * REAL parser — each document plants a valid mono PCM16 WAV (rate
    * 8000 + (doc_id%4)·4000 Hz, n = min(len(text), 400) samples, sample
    * law s(k) = (doc_id·31 + 7k) mod 2048 − 1024), [[parseWav]] reads
    * the header fields and samples BACK FROM THE BYTES, and 160-sample
    * windows with 80-sample hop compute RMS/peak from the parsed
    * samples. FULL value oracle: DuckDB recomputes rate/n/RMS/peak from
    * the closed-form law — agreement certifies the writer→parser round
    * trip byte-for-byte (a header-offset error, endianness swap, or
    * sign mistake shifts every window's RMS). Independent java.nio-
    * written WAVs (extra LIST chunk, odd sizes) are parsed in
    * MultimodalSpec so the parser is not writer-matched. */
  val mm04 = Q.sql(
    "mm04_wav_parse",
    """WITH m AS (
      |  SELECT doc_id, LEAST(length(text), 400) AS n,
      |    8000 + (doc_id % 4) * 4000 AS rate
      |  FROM documents),
      |grid AS (
      |  SELECT doc_id, n, rate, CAST(i AS INT) AS win_idx
      |  FROM m, unnest(range(0,
      |    CASE WHEN n >= 160 THEN (n - 160) // 80 + 1 ELSE 0 END)) t(i)),
      |w AS (
      |  SELECT doc_id, rate, n, win_idx,
      |    sqrt(list_sum(list_transform(range(0, 160), j -> CAST(
      |        ((doc_id * 31 + (win_idx * 80 + j) * 7) % 2048 - 1024)
      |      * ((doc_id * 31 + (win_idx * 80 + j) * 7) % 2048 - 1024)
      |      AS DOUBLE))) / 160.0) AS rms,
      |    CAST(list_max(list_transform(range(0, 160), j ->
      |      abs((doc_id * 31 + (win_idx * 80 + j) * 7) % 2048 - 1024)))
      |      AS INT) AS peak
      |  FROM grid)
      |SELECT doc_id, CAST(rate AS INT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples, win_idx,
      |  round(rms, 6) AS rms, peak
      |FROM w
      |ORDER BY doc_id, win_idx""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val n = least(length(col("text")), lit(400)).cast("long")
    val rate = (lit(8000L) + (col("doc_id") % 4) * 4000L)
    // materialize the planted payloads ONCE before parsing: in
    // production the blob column comes from storage (a plain attribute),
    // and without the barrier Catalyst inlines the whole writer
    // expression into every payload reference in parseWav's validation
    // filters and field projections (~8 copies per row — measured 66 s
    // vs ~5 s at sf0.1)
    val media = LoopState.pin(docs.select(col("doc_id"),
      wavPayload(n, rate,
        k => (col("doc_id") * 31L + k * 7L) % 2048L - 1024L).as("payload")),
      eager = false) // the parse job materializes; the barrier is the LogicalRDD itself (r16)
    val parsed = parseWav(media, "payload")
    val nWins = ((col("n_samples") - 160L) / 80L).cast("int") + 1
    parsed
      .filter(col("n_samples") >= 160L)
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("samples"),
        posexplode(sequence(lit(0), nWins - 1)).as(Seq("_p", "win_idx")))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("win_idx"),
        slice(col("samples"), col("win_idx") * 80 + 1, lit(160)).as("win"))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("win_idx"),
        round(
          sqrt(aggregate(col("win"), lit(0.0),
            (acc, v) => acc + (v.cast("double") * v.cast("double"))) / 160.0),
          6).as("rms"),
        array_max(transform(col("win"), v => abs(v))).cast("int").as("peak"))
      .orderBy("doc_id", "win_idx")
  }

  // ------------------------------------------------------------- mm05
  // The image twin of mm04: a REAL 24-bit BMP parser. Header fields are
  // bounded column arithmetic (the same hex/conv byte reads as the WAV
  // walk); the corpus-scale pixel decode — BGR triples, 4-byte row
  // padding, bottom-up row order — runs through the native codegen
  // rgb24_pixels expression. The bytes are planted from a closed-form
  // pixel law, but the parser reads everything back from the binary;
  // MultimodalSpec additionally feeds it java.nio-written BMPs so it is
  // not writer-matched.

  /** Parse a 24-bit uncompressed bottom-up BMP payload column: validates
    * the 'BM' magic and the canonical BITMAPINFOHEADER contract loudly
    * (header size 40, one plane, 24 bpp, BI_RGB, positive dimensions),
    * reads width/height/pixel-offset from the header bytes, and decodes
    * the padded bottom-up BGR rows to a TOP-DOWN `pixels` array of
    * packed `r<<16|g<<8|b` ints via [[graft.plans.Rgb24Pixels]].
    * Map-only over the blob column — mm04's 100 TB shape. */
  def parseBmp(df: org.apache.spark.sql.DataFrame, payloadCol: String)
      : org.apache.spark.sql.DataFrame = {
    val p = col(payloadCol)
    df
      .filter(expr(
        s"isnull(assert_true(decode(substring($payloadCol, 1, 2), 'UTF-8') = 'BM', " +
          "'parseBmp: not a BMP payload'))"))
      .withColumn("_data_off", le32(p, lit(11L)))
      .withColumn("_hdr_size", le32(p, lit(15L)))
      .withColumn("width", le32(p, lit(19L)))
      .withColumn("height", le32(p, lit(23L)))
      .withColumn("_planes", le16(p, lit(27L)))
      .withColumn("bits_per_pixel", le16(p, lit(29L)).cast("int"))
      .withColumn("_compression", le32(p, lit(31L)))
      .filter(expr(
        "isnull(assert_true(_hdr_size = 40 AND _planes = 1 " +
          "AND bits_per_pixel = 24 AND _compression = 0 " +
          "AND width > 0 AND width < 2147483648 " +
          "AND height > 0 AND height < 2147483648, " +
          "'parseBmp: only uncompressed 24bpp bottom-up BMP supported'))"))
      // loud truncation check (parseWav's): the padded pixel block
      // (1-based [_data_off+1, _data_off + rowSize*height]) must fit.
      // DIVISION form, never the product: rowSize*height overflows long
      // for header dims that pass the < 2^31 assert (ANSI mode would
      // then die with a bare arithmetic error instead of this message),
      // and height <= (len - off) DIV rowSize is the same bound for
      // positive rowSize — a negative len - off (off past the end)
      // fails it loudly too.
      .filter(expr(
        s"isnull(assert_true(height <= (length($payloadCol) - _data_off) " +
          s"DIV (((3 * width + 3) DIV 4) * 4), " +
          "'parseBmp: pixel data truncated'))"))
      .withColumn("pixels",
        rgb24Pixels(p, col("_data_off") + 1L,
          col("width"), col("height")))
      .withColumn("width", col("width").cast("int"))
      .withColumn("height", col("height").cast("int"))
      .drop("_data_off", "_hdr_size", "_planes", "_compression")
  }

  /** A VALID canonical 24bpp bottom-up BMP payload built by column
    * expressions (mm04's wavPayload pattern): 14-byte file header +
    * 40-byte BITMAPINFOHEADER + padded bottom-up BGR rows via hex +
    * unhex. `rgbAt(x, y)` must yield (r, g, b) columns in 0..255. */
  def bmpPayload(width: Column, height: Column,
                 rgbAt: (Column, Column) => (Column, Column, Column)): Column = {
    // Column `/` is DOUBLE division — truncate back to the BMP integer
    // row rule ((3w+3) div 4)*4 explicitly
    val rowSize = ((width * 3 + 3) / 4).cast("long") * 4
    val dataSize = rowSize * height
    val header = concat(
      lit("424d"), leHex(dataSize + 54L, 4), // BM, file size
      lit("00000000"), leHex(lit(54L), 4), // reserved, pixel offset
      leHex(lit(40L), 4), leHex(width, 4), leHex(height, 4), // info, w, h
      leHex(lit(1L), 2), leHex(lit(24L), 2), // planes, bpp
      leHex(lit(0L), 4), leHex(dataSize, 4), // BI_RGB, image size
      leHex(lit(2835L), 4), leHex(lit(2835L), 4), // 72 dpi
      leHex(lit(0L), 4), leHex(lit(0L), 4)) // palette counts
    // bottom-up: file row j holds image row y = height-1-j; BGR order +
    // zero pad bytes to the 4-byte row boundary
    val pad = (rowSize - width * 3) * 2 // hex chars of padding
    val rows = transform(sequence(lit(0L), height.cast("long") - 1), j => {
      val y = height.cast("long") - 1 - j
      concat(
        array_join(transform(sequence(lit(0L), width.cast("long") - 1), x => {
          val (r, g, b) = rgbAt(x, y)
          concat(lpad(hex(b), 2, "0"), lpad(hex(g), 2, "0"),
            lpad(hex(r), 2, "0"))
        }), ""),
        lit("000000").substr(lit(1), pad.cast("int")))
    })
    unhex(concat(header, array_join(rows, "")))
  }

  /** Registered pass (r12): end-to-end image analysis through the REAL
    * BMP parser — each document plants a 24bpp bottom-up BMP (width
    * 8 + doc_id%9 so the row padding takes every value 0..3, height
    * 6 + doc_id%5, pixel law ch(x,y) = (doc_id·7 + y·31 + x·13 + ch·5)
    * mod 256 with ch 0/1/2 = R/G/B), [[parseBmp]] reads dimensions and
    * pixels BACK FROM THE BYTES, and per-image channel sums + the peak
    * integer luma (299r+587g+114b) reduce the decoded pixel array.
    * FULL integer-exact value oracle: DuckDB recomputes every output
    * from the closed-form law — a padding slip, a BGR/RGB swap, or a
    * bottom-up flip error changes sums or the peak's location law. */
  val mm05 = Q.sql(
    "mm05_bmp_parse",
    """WITH m AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w, h, x.i AS x, y.i AS y
      |  FROM m, unnest(range(0, w)) x(i), unnest(range(0, h)) y(i)),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id * 7 + y * 31 + x * 13) % 256 AS r,
      |    (doc_id * 7 + y * 31 + x * 13 + 5) % 256 AS gg,
      |    (doc_id * 7 + y * 31 + x * 13 + 10) % 256 AS b
      |  FROM g)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(gg) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(max(299 * r + 587 * gg + 114 * b) AS BIGINT) AS peak_luma
      |FROM px GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val w = lit(8L) + col("doc_id") % 9
    val h = lit(6L) + col("doc_id") % 5
    def law(ch: Int)(x: Column, y: Column): Column =
      (col("doc_id") * 7L + y * 31L + x * 13L + ch * 5L) % 256L
    // mm04's materialization barrier: planted payloads behave like a
    // stored blob column, not an expression Catalyst can inline into
    // every parser reference
    val media = LoopState.pin(docs.select(col("doc_id"),
      bmpPayload(w, h,
        (x, y) => (law(0)(x, y), law(1)(x, y), law(2)(x, y))).as("payload")),
      eager = false) // single consumer (r16)
    val chSum = (shift: Int) => aggregate(col("pixels"), lit(0L),
      (acc, v) => acc + shiftright(v, shift).bitwiseAND(255))
    parseBmp(media, "payload")
      .select(col("doc_id"), col("width"), col("height"),
        chSum(16).as("sum_r"), chSum(8).as("sum_g"), chSum(0).as("sum_b"),
        array_max(transform(col("pixels"), v =>
          shiftright(v, 16).bitwiseAND(255) * 299L +
            shiftright(v, 8).bitwiseAND(255) * 587L +
            v.bitwiseAND(255) * 114L)).as("peak_luma"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- mm06
  // The video twin: a REAL YUV4MPEG2 (Y4M) parser — the one standard
  // video container that is genuinely parseable without a codec (ASCII
  // parameter header + uncompressed 4:2:0 planes), so the video path
  // can cross the stub boundary honestly like mm04/mm05 did. Frame
  // sampling + per-frame luma statistics are the mm02 semantics over a
  // real container walk.

  /** Parse a YUV4MPEG2 4:2:0 payload column: validates the magic and
    * stream-header contract loudly (even dimensions, a C420-family or
    * absent colorspace tag, frame section an exact multiple of the
    * frame size), extracts width/height/fps from the ASCII parameter
    * header (the byte-1:1 ISO-8859-1 decode keeps offsets honest), and
    * derives the frame count from the payload length. Returns the
    * input columns plus (width, height, fps_num, fps_den, n_frames)
    * and the internal `_hdr_len`/`_frame_tot` offsets for
    * [[frameLumaStats]]. Map-only over the blob column. */
  def parseY4m(df: org.apache.spark.sql.DataFrame, payloadCol: String)
      : org.apache.spark.sql.DataFrame = {
    val p = col(payloadCol)
    val hdr = decode(p.substr(lit(1), lit(160)), "ISO-8859-1")
    df
      .withColumn("_hdr", hdr)
      .filter(expr(
        "isnull(assert_true(substring(_hdr, 1, 10) = 'YUV4MPEG2 ' " +
          "AND instr(_hdr, '\\n') > 0, " +
          "'parseY4m: not a YUV4MPEG2 payload (or header > 160 bytes)'))"))
      .withColumn("_hdr_len", instr(col("_hdr"), "\n").cast("long"))
      .withColumn("width", regexp_extract(col("_hdr"), " W(\\d+)", 1).cast("long"))
      .withColumn("height", regexp_extract(col("_hdr"), " H(\\d+)", 1).cast("long"))
      .withColumn("fps_num", regexp_extract(col("_hdr"), " F(\\d+):(\\d+)", 1).cast("int"))
      .withColumn("fps_den", regexp_extract(col("_hdr"), " F(\\d+):(\\d+)", 2).cast("int"))
      .withColumn("_cs", regexp_extract(col("_hdr"), " C(\\w+)", 1))
      .filter(expr(
        "isnull(assert_true(width > 0 AND height > 0 " +
          "AND width % 2 = 0 AND height % 2 = 0 " +
          "AND (_cs = '' OR _cs LIKE '420%'), " +
          "'parseY4m: only even-dimension C420 streams supported'))"))
      // w*h*3 is even (even dims), so the double division is exact;
      // cast back to the integer byte count
      .withColumn("_frame_tot",
        lit(6L) + (col("width") * col("height") * 3L / 2L).cast("long"))
      .withColumn("n_frames",
        ((length(p) - col("_hdr_len")) / col("_frame_tot")).cast("long"))
      .filter(expr(
        "isnull(assert_true(n_frames >= 1 " +
          "AND (length(" + payloadCol + ") - _hdr_len) % _frame_tot = 0, " +
          "'parseY4m: frame section is not a whole number of frames'))"))
      .withColumn("width", col("width").cast("int"))
      .withColumn("height", col("height").cast("int"))
      .drop("_hdr", "_cs")
  }

  /** Sample every `stride`-th frame of a [[parseY4m]] output and reduce
    * each sampled frame's LUMA (Y) plane to (y_sum, y_max) via the
    * native [[graft.plans.U8Moments]] pass — per-frame FRAME markers
    * are validated from the bytes as the walk goes. The plane is never
    * materialized as an array: at corpus scale the consumer wants the
    * reduction, not W×H ints per frame. */
  def frameLumaStats(parsed: org.apache.spark.sql.DataFrame, payloadCol: String,
                     stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val p = col(payloadCol)
    val frameOff = col("_hdr_len") + col("frame_idx") * col("_frame_tot") + 1L
    parsed
      .select(col("*"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong)))
          .as("frame_idx"))
      .filter(expr(
        s"isnull(assert_true(decode(substring($payloadCol, " +
          "CAST(_hdr_len + frame_idx * _frame_tot + 1 AS INT), 6), " +
          "'ISO-8859-1') = 'FRAME\\n', 'parseY4m: bad FRAME marker'))"))
      .withColumn("_m", u8Moments(p, frameOff + 6L,
        (col("width") * col("height")).cast("long")))
      .withColumn("y_sum", element_at(col("_m"), 1))
      .withColumn("y_max", element_at(col("_m"), 2))
      .withColumn("frame_idx", col("frame_idx").cast("int"))
      .drop("_m", "_hdr_len", "_frame_tot")
  }

  /** A VALID Y4M 4:2:0 payload built by column expressions (the
    * wavPayload/bmpPayload pattern): ASCII stream header, per-frame
    * FRAME markers, Y plane from `yAt(frame, x, y)`, U and V planes
    * filled with `uvAt(frame)`. Dimensions must be even. */
  def y4mPayload(width: Column, height: Column, nFrames: Column,
                 yAt: (Column, Column, Column) => Column,
                 uvAt: Column => Column): Column = {
    val headerHex = hex(concat(
      lit("YUV4MPEG2 W"), width.cast("string"),
      lit(" H"), height.cast("string"),
      lit(" F25:1 Ip A1:1 C420\n")))
    val frames = transform(sequence(lit(0L), nFrames.cast("long") - 1), i => {
      val yPlane = array_join(
        transform(sequence(lit(0L), height.cast("long") - 1), yy =>
          array_join(
            transform(sequence(lit(0L), width.cast("long") - 1), x =>
              lpad(hex(yAt(i, x, yy)), 2, "0")), "")), "")
      // U and V planes: (w/2)*(h/2) bytes each = w*h/2 total
      val uv = call_function("repeat", lpad(hex(uvAt(i)), 2, "0"),
        ((width * height) / 2).cast("int"))
      concat(lit("4652414d450a"), yPlane, uv) // hex of "FRAME\n"
    })
    unhex(concat(headerHex, array_join(frames, "")))
  }

  /** Registered pass (r12): end-to-end video analysis through the REAL
    * Y4M parser — each document plants a C420 stream (even width
    * 4 + 2·(doc_id%3), even height 4 + 2·(doc_id%2), 3 + doc_id%4
    * frames at 25 fps, luma law y(f,x,row) = (doc_id·11 + f·17 +
    * row·5 + x·3) mod 256, chroma fill (doc_id + 7f) mod 256),
    * [[parseY4m]] reads the stream geometry BACK FROM THE BYTES, and
    * every 2nd frame's luma plane reduces to (sum, max) through the
    * native u8_moments pass — mm02's frame-sampling semantics over a
    * real container. FULL integer-exact value oracle: DuckDB
    * recomputes geometry, frame grid and luma moments from the law. */
  val mm06 = Q.sql(
    "mm06_y4m_parse",
    """WITH m AS (
      |  SELECT doc_id, 4 + 2 * (doc_id % 3) AS w, 4 + 2 * (doc_id % 2) AS h,
      |    3 + doc_id % 4 AS nf
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, w, h, nf, CAST(i AS INT) AS frame_idx
      |  FROM m, unnest(range(0, nf, 2)) t(i)),
      |g AS (
      |  SELECT doc_id, w, h, nf, frame_idx, x.i AS x, y.i AS y
      |  FROM f, unnest(range(0, w)) x(i), unnest(range(0, h)) y(i)),
      |px AS (
      |  SELECT doc_id, w, h, nf, frame_idx,
      |    (doc_id * 11 + frame_idx * 17 + y * 5 + x * 3) % 256 AS v
      |  FROM g)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(25 AS INT) AS fps_num, CAST(nf AS BIGINT) AS n_frames,
      |  frame_idx, CAST(sum(v) AS BIGINT) AS y_sum,
      |  CAST(max(v) AS BIGINT) AS y_max
      |FROM px GROUP BY doc_id, w, h, nf, frame_idx
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val w = lit(4L) + (col("doc_id") % 3) * 2L
    val h = lit(4L) + (col("doc_id") % 2) * 2L
    val nf = lit(3L) + col("doc_id") % 4
    // mm04's materialization barrier (a stored blob column's shape)
    val media = LoopState.pin(docs.select(col("doc_id"),
      y4mPayload(w, h, nf,
        (f, x, yy) => (col("doc_id") * 11L + f * 17L + yy * 5L + x * 3L) % 256L,
        f => (col("doc_id") + f * 7L) % 256L).as("payload")),
      eager = false) // single consumer (r16)
    frameLumaStats(parseY4m(media, "payload"), "payload", stride = 2)
      .select(col("doc_id"), col("width"), col("height"), col("fps_num"),
        col("n_frames"), col("frame_idx"), col("y_sum"), col("y_max"))
      .orderBy("doc_id", "frame_idx")
  }

  val all: Seq[Q] = Seq(mm01, mm02, mm03, mm04, mm05, mm06)
}
