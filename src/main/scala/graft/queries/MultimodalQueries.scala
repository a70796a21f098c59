package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Training-data pipeline pack, part 4: multimodal BINARY-column plumbing
  * over `documents` reinterpreted as a media table. The decode stage is a
  * stub (no codec libs here — see Multimodal.scala); these queries check
  * the REAL parts: binary payload handling, typed metadata, deterministic
  * frame sampling, and byte-level feature math, all DuckDB-replayable
  * (ASCII text → identical bytes in both engines). */
object MultimodalQueries {
  // ---- ingest: payload + typed meta + content hash -------------------------
  def mmIngestStats(s: SparkSession, d: String): DataFrame =
    Multimodal.ingestFromText(Tables.documents(s, d))
      .select(col("media_id"),
        col("meta").getField("format").as("format"),
        col("meta").getField("width").as("width"),
        col("meta").getField("height").as("height"),
        col("meta").getField("n_bytes").as("n_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("media_id"))
  val mmIngestStatsSql: String =
    """SELECT doc_id AS media_id, 'fake/' || source AS format,
      |  CAST(32 + n_chars % 64 AS INTEGER) AS width,
      |  CAST(32 + doc_id % 48 AS INTEGER) AS height,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS payload_md5
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- frame sampling: k evenly-spaced REAL frames, fingerprinted ----------
  /** Frame-ACCURATE sampling for decodable media: Y4M payloads built
    * in-plan decode through the codec seam into the per-frame table
    * ([[Multimodal.decodeY4mFrames]] — fingerprints at the decoder's
    * exact frame-body offsets, never byte windows), then slot j of 4
    * picks frame ⌊j·(nf−1)/3⌋ — first/last always sampled, interior
    * evenly spaced, all integer arithmetic. The oracle replays the
    * tiling arithmetic from the text (the [[mmFrameDedup]] pattern), so
    * a decoder off by one byte on any frame boundary hash-mismatches.
    * [[Multimodal.frameSample]] (evenly-spaced byte windows) remains the
    * OPAQUE-format arm — spec-covered — for media without a codec. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    val frames = Multimodal.decodeY4mFrames(Multimodal.asY4m(
      Multimodal.y4mFromText(Tables.documents(s, d)))).toDF()
    frames
      .withColumn("slot", explode(sequence(lit(0), lit(3))))
      .filter(col("frame_idx") ===
        expr("CAST((slot * (n_frames - 1)) DIV 3 AS INT)"))
      .select(col("media_id"), col("slot"), col("frame_idx"), col("frame_md5"))
      .orderBy(col("media_id"), col("slot"))
  }
  val mmFrameSampleSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CAST(4 + doc_id % 3 AS INTEGER) AS w,
      |         CAST(2 + doc_id % 2 AS INTEGER) AS h,
      |         CAST(2 + doc_id % 3 AS INTEGER) AS nf, text
      |  FROM documents
      |  WHERE length(text) > 0 AND strlen(text) = length(text)
      |), geom AS (
      |  SELECT media_id, nf, 3*w*h AS fs,
      |    repeat(text, CAST((nf*3*w*h + length(text) - 1) / length(text) AS INTEGER)) AS rep
      |  FROM m
      |), sl AS (
      |  SELECT media_id, nf, fs, rep, unnest(range(0, 4)) AS slot FROM geom
      |)
      |SELECT media_id, CAST(slot AS INTEGER) AS slot,
      |  CAST((slot * (nf - 1)) // 3 AS INTEGER) AS frame_idx,
      |  md5(substring(rep, CAST(1 + ((slot * (nf - 1)) // 3) * fs AS INTEGER), fs)) AS frame_md5
      |FROM sl ORDER BY media_id, slot""".stripMargin

  // ---- decode (stubbed codec): byte-statistics features --------------------
  /** The histogram is emitted as a CSV string, not ARRAY<BIGINT>: the
    * driver's pandas-based compare cannot hash numpy arrays, so an array
    * output column would crash the oracle harness before any comparison
    * (round-1 red row). Same information, hashable encoding. */
  def mmDecodeFeatures(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.asMedia(Multimodal.ingestFromText(Tables.documents(s, d)))
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), col("format"), col("n_bytes"),
        col("mean_byte"),
        array_join(col("byte_hist").cast("array<string>"), ",").as("byte_hist_csv"))
      .orderBy(col("media_id"))
  }
  val mmDecodeFeaturesSql: String =
    """WITH bytes AS (
      |  SELECT doc_id AS media_id, 'fake/' || source AS format,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    list_transform(string_split(text, ''), c -> ascii(c)) AS bs
      |  FROM documents
      |)
      |SELECT media_id, format, n_bytes,
      |  CAST(list_sum(bs) AS DOUBLE) / n_bytes AS mean_byte,
      |  array_to_string(list_transform(range(0, 16), i ->
      |    CAST(len(list_filter(bs, b -> b % 16 = i)) AS BIGINT)), ',') AS byte_hist_csv
      |FROM bytes ORDER BY media_id""".stripMargin

  // ---- REAL codec: PPM (P6) decode from actual bytes -----------------------
  /** Payloads are REAL P6 images built in-plan (header + the doc's ASCII
    * bytes tiled over w×h×3 samples, [[Multimodal.ppmFromText]]); the
    * decoder ([[Multimodal.parsePpm]]) parses magic/dims/maxval from the
    * bytes and averages each channel over the raw pixel array. The oracle
    * recomputes the identical features from the identical bytes — the
    * tiling rule in SQL — so a parser that misreads the header or
    * misaligns channels hash-mismatches immediately. */
  def mmDecodePpm(s: SparkSession, d: String): DataFrame =
    Multimodal.decodePpm(Multimodal.asPpm(
        Multimodal.ppmFromText(Tables.documents(s, d))))
      .toDF().orderBy(col("media_id"))
  val mmDecodePpmSql: String =
    """WITH src AS (
      |  SELECT doc_id AS media_id, CAST(4 + doc_id % 4 AS INTEGER) AS w,
      |         CAST(3 + doc_id % 3 AS INTEGER) AS h, text
      |  FROM documents WHERE length(text) > 0 AND strlen(text) = length(text)
      |), px AS (
      |  SELECT media_id, w, h,
      |    list_transform(range(0, w*h*3), i ->
      |      ascii(substring(text, CAST(1 + i % length(text) AS INTEGER), 1))) AS bs
      |  FROM src
      |)
      |SELECT media_id, w AS width, h AS height, 255 AS maxval,
      |  CAST(list_sum(list_transform(range(0, w*h), j -> bs[CAST(3*j+1 AS INTEGER)])) AS DOUBLE) / (w*h) AS mean_r,
      |  CAST(list_sum(list_transform(range(0, w*h), j -> bs[CAST(3*j+2 AS INTEGER)])) AS DOUBLE) / (w*h) AS mean_g,
      |  CAST(list_sum(list_transform(range(0, w*h), j -> bs[CAST(3*j+3 AS INTEGER)])) AS DOUBLE) / (w*h) AS mean_b
      |FROM px ORDER BY media_id""".stripMargin

  // ---- perceptual-hash (aHash) image dedup over real decoded pixels -------
  /** Average-hash near-dup grouping from the REAL PPM decode: bit j set
    * iff pixel j outshines the image mean (integer cross-multiply —
    * gray_j·n > Σgray, no mean divided), hashes grouped by (dims, hash)
    * with each image annotated by its group size — the perceptual
    * sibling of the byte-exact `mm_dedup_payload`. The oracle re-derives
    * every bit from the tiling rule in SQL, so a decoder misalignment
    * or a wrong bit order hash-mismatches immediately. */
  def mmPhashDedup(s: SparkSession, d: String): DataFrame = {
    val hashes = Multimodal.decodePpmHash(Multimodal.asPpm(
      Multimodal.ppmFromText(Tables.documents(s, d)))).toDF()
    val groups = hashes.groupBy(col("width"), col("height"), col("phash"))
      .agg(count(lit(1)).as("n_same"))
    hashes.join(groups, Seq("width", "height", "phash"))
      .select(col("media_id"), col("width"), col("height"), col("phash"),
        col("n_same"))
      .orderBy(col("media_id"))
  }
  val mmPhashDedupSql: String =
    """WITH src AS (
      |  SELECT doc_id AS media_id, CAST(4 + doc_id % 4 AS INTEGER) AS w,
      |         CAST(3 + doc_id % 3 AS INTEGER) AS h, text
      |  FROM documents WHERE length(text) > 0 AND strlen(text) = length(text)
      |), px AS (
      |  SELECT media_id, w, h,
      |    list_transform(range(0, w*h*3), i ->
      |      ascii(substring(text, CAST(1 + i % length(text) AS INTEGER), 1))) AS bs
      |  FROM src
      |), g AS (
      |  SELECT media_id, w, h,
      |    list_transform(range(0, w*h), j ->
      |      CAST(bs[CAST(3*j+1 AS INTEGER)] + bs[CAST(3*j+2 AS INTEGER)]
      |           + bs[CAST(3*j+3 AS INTEGER)] AS BIGINT)) AS gray
      |  FROM px
      |), hsh AS (
      |  SELECT media_id, w AS width, h AS height,
      |    CAST(list_sum(list_transform(range(0, least(w*h, 64)), j ->
      |      CASE WHEN gray[CAST(j+1 AS INTEGER)] * (w*h) > list_sum(gray)
      |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS phash
      |  FROM g
      |), grp AS (
      |  SELECT width, height, phash, COUNT(*) AS n_same
      |  FROM hsh GROUP BY 1, 2, 3)
      |SELECT h.media_id, h.width, h.height, h.phash, grp.n_same
      |FROM hsh h JOIN grp USING (width, height, phash)
      |ORDER BY media_id""".stripMargin

  // ---- REAL WAV decode: RIFF walk + per-channel PCM stats ------------------
  /** Real RIFF/WAVE payloads built in-plan (44-byte PCM header + the
    * doc's bytes tiled across interleaved stereo samples), decoded by the
    * REAL chunk-walking parser in the mapPartitions codec seam. The
    * oracle recomputes per-channel mean amplitude and peak from the same
    * text bytes — header mis-parses, channel misalignment, or a wrong
    * 128-bias all hash-mismatch immediately. */
  def mmDecodeWav(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeWav(Multimodal.asWav(
        Multimodal.wavFromText(Tables.documents(s, d))))
      .toDF().orderBy(col("media_id"))
  val mmDecodeWavSql: String =
    """WITH src AS (
      |  SELECT doc_id AS media_id,
      |         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sr,
      |         CAST(20 + doc_id % 50 AS BIGINT) AS nf, text
      |  FROM documents WHERE length(text) > 0 AND strlen(text) = length(text)
      |), amp AS (
      |  SELECT media_id, sr, nf,
      |    list_transform(range(0, CAST(nf*2 AS INTEGER)), i ->
      |      ascii(substring(text, CAST(1 + i % length(text) AS INTEGER), 1)) - 128) AS a
      |  FROM src
      |)
      |SELECT media_id, sr AS sample_rate, CAST(2 AS INTEGER) AS n_channels,
      |  nf AS n_frames,
      |  CAST(list_sum(list_transform(range(0, nf), j -> a[CAST(2*j+1 AS INTEGER)])) AS DOUBLE) / nf AS mean_l,
      |  CAST(list_sum(list_transform(range(0, nf), j -> a[CAST(2*j+2 AS INTEGER)])) AS DOUBLE) / nf AS mean_r,
      |  CAST(list_max(list_transform(range(0, nf), j -> abs(a[CAST(2*j+1 AS INTEGER)]))) AS BIGINT) AS peak_l,
      |  CAST(list_max(list_transform(range(0, nf), j -> abs(a[CAST(2*j+2 AS INTEGER)]))) AS BIGINT) AS peak_r
      |FROM amp ORDER BY media_id""".stripMargin

  // ---- windowed audio energy: VAD-gate features over real WAV windows ------
  private val EnergyWindow = 16

  /** The spectrogram-precursor read ([[Multimodal.wavWindowEnergy]]):
    * per non-overlapping [[EnergyWindow]]-frame window of each real WAV
    * payload, the exact integer per-channel energy Σ amplitude² and a
    * `below_avg` flag comparing the window's PER-FRAME energy against
    * the media's own average — the integer cross-multiplied form
    * (e_w·n_total < e_total·n_w), division-free, so the flag is
    * hash-exact. This is what a silence-trim / VAD gate consumes; an
    * absolute silence threshold would be vacuous on text-derived
    * amplitudes (printable ASCII − 128 is never near zero), the
    * relative flag splits windows meaningfully on any corpus. The
    * oracle replays the byte-tiling arithmetic from the text alone, so
    * a window-boundary or channel-interleave slip hash-mismatches. */
  def mmWavEnergy(s: SparkSession, d: String): DataFrame = {
    val win = Multimodal.wavWindowEnergy(Multimodal.asWav(
        Multimodal.wavFromText(Tables.documents(s, d))), EnergyWindow)
      .toDF()
    val tot = win.groupBy(col("media_id")).agg(
      sum(col("energy_l") + col("energy_r")).as("tot_e"),
      sum(col("n_frames")).as("tot_n"))
    win.join(tot, "media_id")
      .withColumn("below_avg",
        (col("energy_l") + col("energy_r")) * col("tot_n") <
          col("tot_e") * col("n_frames"))
      .select(col("media_id"), col("win_idx"), col("n_frames"),
        col("energy_l"), col("energy_r"), col("below_avg"))
      .orderBy(col("media_id"), col("win_idx"))
  }
  val mmWavEnergySql: String =
    s"""WITH src AS (
       |  SELECT doc_id AS media_id,
       |         CAST(20 + doc_id % 50 AS BIGINT) AS nf, text
       |  FROM documents WHERE length(text) > 0 AND strlen(text) = length(text)
       |), amp AS (
       |  SELECT media_id, nf,
       |    list_transform(range(0, CAST(nf*2 AS INTEGER)), i ->
       |      ascii(substring(text, CAST(1 + i % length(text) AS INTEGER), 1)) - 128) AS a
       |  FROM src
       |), win AS (
       |  SELECT media_id, CAST(u.w AS INTEGER) AS win_idx,
       |    CAST(LEAST(nf, (u.w + 1) * $EnergyWindow) - u.w * $EnergyWindow AS INTEGER) AS n_frames,
       |    CAST(list_sum(list_transform(
       |      range(CAST(u.w * $EnergyWindow AS INTEGER), CAST(LEAST(nf, (u.w + 1) * $EnergyWindow) AS INTEGER)),
       |      j -> CAST(a[CAST(2*j+1 AS INTEGER)] AS BIGINT) * a[CAST(2*j+1 AS INTEGER)])) AS BIGINT) AS energy_l,
       |    CAST(list_sum(list_transform(
       |      range(CAST(u.w * $EnergyWindow AS INTEGER), CAST(LEAST(nf, (u.w + 1) * $EnergyWindow) AS INTEGER)),
       |      j -> CAST(a[CAST(2*j+2 AS INTEGER)] AS BIGINT) * a[CAST(2*j+2 AS INTEGER)])) AS BIGINT) AS energy_r
       |  FROM amp, unnest(range(0, CAST((nf + ${EnergyWindow - 1}) // $EnergyWindow AS INTEGER))) AS u(w)
       |), tot AS (
       |  SELECT media_id, CAST(SUM(energy_l + energy_r) AS BIGINT) AS tot_e,
       |         CAST(SUM(n_frames) AS BIGINT) AS tot_n
       |  FROM win GROUP BY media_id
       |)
       |SELECT win.media_id, win_idx, n_frames, energy_l, energy_r,
       |       (energy_l + energy_r) * tot_n < tot_e * n_frames AS below_avg
       |FROM win JOIN tot USING (media_id)
       |ORDER BY media_id, win_idx""".stripMargin

  // ---- REAL Y4M video decode: frame walk + per-plane stats + fingerprints --
  /** Real YUV4MPEG2 payloads built in-plan (stream header + per-FRAME
    * C444 planes tiled continuously from the doc's bytes), decoded by the
    * REAL frame-walking parser. Per-plane means are integer-exact; the
    * first/middle/last frames are fingerprinted from their raw plane
    * bytes — frame sampling fed by REAL frame boundaries, not byte
    * windows. The oracle replays the tiling arithmetic: a parser that
    * misreads the header, miscounts a FRAME marker, or misaligns a plane
    * hash-mismatches immediately. */
  def mmDecodeVideo(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeY4m(Multimodal.asY4m(
        Multimodal.y4mFromText(Tables.documents(s, d))))
      .toDF().orderBy(col("media_id"))
  val mmDecodeVideoSql: String =
    """WITH src AS (
      |  SELECT doc_id AS media_id,
      |         CAST(4 + doc_id % 3 AS INTEGER) AS w,
      |         CAST(2 + doc_id % 2 AS INTEGER) AS h,
      |         CAST(2 + doc_id % 3 AS INTEGER) AS nf, text
      |  FROM documents WHERE length(text) > 0 AND strlen(text) = length(text)
      |), geom AS (
      |  SELECT media_id, w, h, nf, w*h AS pl, 3*w*h AS fs,
      |    repeat(text, CAST((nf*3*w*h + length(text) - 1) / length(text) AS INTEGER)) AS rep
      |  FROM src
      |)
      |SELECT media_id, w AS width, h AS height, nf AS n_frames,
      |  CAST(list_sum(list_transform(list_filter(range(0, nf*fs), o -> o % fs < pl),
      |    o -> ascii(substring(rep, CAST(1 + o AS INTEGER), 1)))) AS DOUBLE) / (nf*pl) AS mean_y,
      |  CAST(list_sum(list_transform(list_filter(range(0, nf*fs), o -> o % fs >= pl AND o % fs < 2*pl),
      |    o -> ascii(substring(rep, CAST(1 + o AS INTEGER), 1)))) AS DOUBLE) / (nf*pl) AS mean_cb,
      |  CAST(list_sum(list_transform(list_filter(range(0, nf*fs), o -> o % fs >= 2*pl),
      |    o -> ascii(substring(rep, CAST(1 + o AS INTEGER), 1)))) AS DOUBLE) / (nf*pl) AS mean_cr,
      |  md5(substring(rep, 1, fs)) AS f_first,
      |  md5(substring(rep, CAST(1 + ((nf-1)//2)*fs AS INTEGER), fs)) AS f_mid,
      |  md5(substring(rep, CAST(1 + (nf-1)*fs AS INTEGER), fs)) AS f_last
      |FROM geom ORDER BY media_id""".stripMargin

  // ---- cross-media duplicate-frame detection (re-encode / copy dedup) ------
  /** The frame-level dedup pass a video lake runs after ingest: the same
    * footage uploaded under many media ids is found from DECODED FRAME
    * fingerprints alone, never by comparing payloads. Fixture: media ids
    * group by ⌊doc_id/5⌋ and every member renders its group BASE doc's
    * text with the base's geometry ([[Multimodal.y4mFromText]] geomCol) —
    * five byte-identical "re-uploads" per footage group. The pipeline is
    * the real one end to end: Y4M payloads decode through the
    * mapPartitions codec seam, each media contributes its first/middle/
    * last REAL frame fingerprints, and a groupBy on the 32-char md5 finds
    * fingerprints spanning >1 media. Payloads never shuffle — only
    * (media_id, frame_idx, md5) rows do. The oracle replays the tiling
    * arithmetic, so a decoder that misreads one frame boundary breaks the
    * collision structure and hash-mismatches. */
  def mmFrameDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val members = docs.select(col("doc_id"),
      (col("doc_id") - pmod(col("doc_id"), lit(5))).as("gid"))
    val rows = members.join(
      docs.select(col("doc_id").as("gid"), col("text")), "gid")
    val feats = Multimodal.decodeY4m(Multimodal.asY4m(
      Multimodal.y4mFromText(rows, geomCol = "gid"))).toDF()
    feats
      .select(col("media_id"), explode(array_distinct(array(
        struct(lit(0).as("frame_idx"), col("f_first").as("fp")),
        struct(floor((col("n_frames") - 1) / 2).cast("int").as("frame_idx"),
          col("f_mid").as("fp")),
        struct((col("n_frames") - 1).cast("int").as("frame_idx"),
          col("f_last").as("fp"))))).as("fr"))
      .select(col("media_id"), col("fr.fp").as("fp"))
      .groupBy(col("fp"))
      .agg(countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_slots"), min(col("media_id")).as("rep_media"))
      .filter(col("n_media") > 1)
      .select(col("fp").as("frame_md5"), col("n_media"), col("n_slots"),
        col("rep_media"))
      .orderBy(col("frame_md5"))
  }
  val mmFrameDedupSql: String =
    """WITH m AS (
      |  SELECT d.doc_id AS media_id,
      |         CAST(4 + b.doc_id % 3 AS INTEGER) AS w,
      |         CAST(2 + b.doc_id % 2 AS INTEGER) AS h,
      |         CAST(2 + b.doc_id % 3 AS INTEGER) AS nf, b.text
      |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 5
      |  WHERE length(b.text) > 0 AND strlen(b.text) = length(b.text)
      |), geom AS (
      |  SELECT media_id, nf, 3*w*h AS fs,
      |    repeat(text, CAST((nf*3*w*h + length(text) - 1) / length(text) AS INTEGER)) AS rep
      |  FROM m
      |), fr AS (
      |  SELECT media_id, fs, rep,
      |    unnest(list_distinct([0, (nf-1)//2, nf-1])) AS f
      |  FROM geom
      |), fps AS (
      |  SELECT media_id,
      |    md5(substring(rep, CAST(1 + f*fs AS INTEGER), fs)) AS fp
      |  FROM fr
      |)
      |SELECT fp AS frame_md5, COUNT(DISTINCT media_id) AS n_media,
      |  COUNT(*) AS n_slots, MIN(media_id) AS rep_media
      |FROM fps GROUP BY fp HAVING COUNT(DISTINCT media_id) > 1
      |ORDER BY frame_md5""".stripMargin

  // ---- payload-level exact dedup (storage reclaim report) ------------------
  /** Byte-identical payloads across media ids — the first dedup pass of
    * any multimodal lake (hash the BINARY, never compare payloads), plus
    * the reclaim accounting ops wants: bytes freed if all but the lowest
    * id of each group were dropped. One shuffle on the content hash,
    * payloads never move. */
  def mmDedupPayload(s: SparkSession, d: String): DataFrame =
    Multimodal.ingestFromText(Tables.documents(s, d))
      .select(md5(col("payload")).as("payload_md5"), col("media_id"),
        col("meta").getField("n_bytes").as("n_bytes"))
      .groupBy(col("payload_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("rep_id"),
        max(col("n_bytes")).as("n_bytes"))
      .filter(col("n_copies") > 1)
      .select(col("payload_md5"), col("n_copies"), col("rep_id"),
        ((col("n_copies") - 1) * col("n_bytes")).as("reclaimable_bytes"))
      .orderBy(col("payload_md5"))
  val mmDedupPayloadSql: String =
    """SELECT md5(text) AS payload_md5, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS rep_id,
      |  (COUNT(*) - 1) * CAST(MAX(length(text)) AS BIGINT) AS reclaimable_bytes
      |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
      |ORDER BY payload_md5""".stripMargin

  // ---- modality-typed metadata (image / audio / video variants) ------------
  /** Same payload, three modality schemas: media type derives
    * deterministically from the source id; audio carries sample_rate +
    * duration, video fps + n_frames, image width × height — the typed-
    * metadata shape a mixed-modality lake needs (one binary column, one
    * modality tag, modality-specific struct fields, nulls elsewhere). */
  def mmModalityMeta(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val modality = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3).cast("int") + 1)
    docs.select(
        col("doc_id").as("media_id"), modality.as("modality"),
        length(col("text")).cast("long").as("n_bytes"),
        when(modality === "image", (lit(32) + col("n_chars") % 64).cast("int")).as("width"),
        when(modality === "image", (lit(32) + col("doc_id") % 48).cast("int")).as("height"),
        when(modality === "audio", lit(16000) + (col("doc_id") % 2).cast("int") * 28100).as("sample_rate"),
        when(modality === "audio", (col("n_chars") * 10).cast("long")).as("duration_ms"),
        when(modality === "video", lit(24) + (col("doc_id") % 2).cast("int") * 6).as("fps"),
        when(modality === "video", (col("n_chars") % 300 + 1).cast("long")).as("n_frames"))
      .orderBy(col("media_id"))
  }
  val mmModalityMetaSql: String =
    """SELECT doc_id AS media_id,
      |  (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CASE WHEN doc_id % 3 = 0 THEN CAST(32 + n_chars % 64 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 3 = 0 THEN CAST(32 + doc_id % 48 AS INTEGER) END AS height,
      |  CASE WHEN doc_id % 3 = 1 THEN 16000 + CAST(doc_id % 2 AS INTEGER) * 28100 END AS sample_rate,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars * 10 AS BIGINT) END AS duration_ms,
      |  CASE WHEN doc_id % 3 = 2 THEN 24 + CAST(doc_id % 2 AS INTEGER) * 6 END AS fps,
      |  CASE WHEN doc_id % 3 = 2 THEN CAST(n_chars % 300 + 1 AS BIGINT) END AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("mm_dedup_payload", mmDedupPayload, mmDedupPayloadSql),
    QueryDef("mm_modality_meta", mmModalityMeta, mmModalityMetaSql),
    QueryDef("mm_ingest_stats", mmIngestStats, mmIngestStatsSql),
    QueryDef("mm_frame_sample", mmFrameSample, mmFrameSampleSql),
    QueryDef("mm_decode_features", mmDecodeFeatures, mmDecodeFeaturesSql),
    QueryDef("mm_decode_ppm", mmDecodePpm, mmDecodePpmSql),
    QueryDef("mm_phash_dedup", mmPhashDedup, mmPhashDedupSql),
    QueryDef("mm_decode_wav", mmDecodeWav, mmDecodeWavSql),
    QueryDef("mm_wav_energy", mmWavEnergy, mmWavEnergySql),
    QueryDef("mm_decode_video", mmDecodeVideo, mmDecodeVideoSql),
    QueryDef("mm_frame_dedup", mmFrameDedup, mmFrameDedupSql))
}
