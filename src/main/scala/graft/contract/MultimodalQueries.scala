package graft
package contract

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.multimodal.Multimodal

import Shared._

/** Binary media payloads: images, audio and frames. */
object MultimodalQueries {

  val queries: Seq[ContractQuery] = Seq(
    // multimodal: typed metadata over binary payloads (oracle on meta)
    ContractQuery("q_media_meta", (s, dir) =>
      Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        .groupBy(col("mime"))
        .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"),
          min(col("n_bytes")).as("min_bytes"), max(col("n_bytes")).as("max_bytes"))
        .orderBy("mime"),
      """SELECT CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
             ELSE 'video/mp4' END AS mime,
           count(*) AS n_media,
           CAST(sum(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS BIGINT) AS total_bytes,
           min(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS min_bytes,
           max(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS max_bytes
         FROM documents GROUP BY 1 ORDER BY mime"""),

    // multimodal: REAL codec round trip — deterministic pixels encoded to
    // genuine PNG bytes (javax.imageio), decoded BACK from those bytes with
    // ImageIO.read in mapPartitions, per-channel sums from the decoded
    // pixels. The oracle replays the closed-form pixel generator (no codec),
    // so a hash match proves the PNG encode→decode path is lossless.
    ContractQuery("q_media_decode", (s, dir) =>
      Multimodal.decodeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id"),
      // real-decode twin: the oracle replays the closed-form pixel generator
      // v(id, idx) = (id*131 + idx*7) % 256 over a 12×8 RGB raster — no codec
      // on the oracle side, so a hash match certifies Spark's actual PNG
      // encode→ImageIO.read→pixels path reproduced every pixel exactly
      """WITH px AS (
           SELECT doc_id AS media_id, t.i AS idx,
             (doc_id * 131 + t.i * 7) % 256 AS v
           FROM documents, unnest(generate_series(0, 287)) AS t(i))
         SELECT media_id,
           CAST(12 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(sum(CASE WHEN idx % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN idx % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN idx % 3 = 2 THEN v END) AS BIGINT) AS sum_b
         FROM px GROUP BY media_id ORDER BY media_id"""),

    // multimodal: pixel features from the real decode — mean channel
    // intensity (one IEEE division of exact ints) + 8-bin integer-Rec.601
    // luminance histogram, all derived from ImageIO-decoded pixels
    ContractQuery("q_media_features", (s, dir) =>
      Multimodal.decodeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"),
          // divide by the DECODED raster size, not a copy of the 12x8
          // generator constant — dims changing at one site can't silently
          // skew the means (value identical: width*height = 96 today)
          (col("sum_r").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_r"),
          (col("sum_g").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_g"),
          (col("sum_b").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_b"),
          col("lum_b0"), col("lum_b1"), col("lum_b2"), col("lum_b3"),
          col("lum_b4"), col("lum_b5"), col("lum_b6"), col("lum_b7"))
        .orderBy("media_id"),
      // pixel-feature twin: channel means as ONE IEEE division of exact
      // integer sums (CAST both sides to DOUBLE — bare literals are DECIMAL
      // in DuckDB); luminance = integer Rec.601 with // division, bin = //32
      """WITH pxj AS (
           SELECT doc_id AS media_id,
             (doc_id * 131 + (t.j * 3 + 0) * 7) % 256 AS r,
             (doc_id * 131 + (t.j * 3 + 1) * 7) % 256 AS g,
             (doc_id * 131 + (t.j * 3 + 2) * 7) % 256 AS b
           FROM documents, unnest(generate_series(0, 95)) AS t(j)),
         lums AS (
           SELECT media_id, r, g, b,
             ((299 * r + 587 * g + 114 * b) // 1000) // 32 AS bin
           FROM pxj)
         SELECT media_id,
           CAST(sum(r) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_r,
           CAST(sum(g) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_g,
           CAST(sum(b) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_b,
           CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b0,
           CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b1,
           CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b2,
           CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b3,
           CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b4,
           CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b5,
           CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b6,
           CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b7
         FROM lums GROUP BY media_id ORDER BY media_id"""),

    // multimodal: REAL resize — ImageIO-decode the PNG, then an integer
    // 2x2 box-filter downsample (12x8 → 6x4; out pixel = truncating mean
    // of its block) with exact channel sums of the RESIZED raster. The
    // twin replays the pixel generator plus the same block mean, so a
    // hash match proves the decode+resize arithmetic end-to-end.
    ContractQuery("q_media_resize", (s, dir) =>
      Multimodal.resizeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")), factor = 2)
        .toDF()
        .orderBy("media_id"),
      // resize twin: replay the pixel generator over the OUTPUT raster
      // (6x4), each output pixel = truncating mean (// 4) of its 2x2 source
      // block per channel — the same integer arithmetic as the box filter
      // over the ImageIO-decoded pixels, so a hash match certifies the
      // decode+resize path end-to-end with no codec on the oracle side
      """WITH o AS (
           SELECT doc_id AS media_id, t.j % 6 AS xo, t.j // 6 AS yo
           FROM documents, unnest(generate_series(0, 23)) AS t(j)),
         px AS (
           SELECT media_id, xo, yo,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 0) * 7) % 256 AS r,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 1) * 7) % 256 AS g,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 2) * 7) % 256 AS b
           FROM o, unnest(generate_series(0, 1)) AS dy(d),
             unnest(generate_series(0, 1)) AS dx(e)),
         blk AS (
           SELECT media_id, xo, yo, sum(r) // 4 AS r4, sum(g) // 4 AS g4,
             sum(b) // 4 AS b4
           FROM px GROUP BY media_id, xo, yo)
         SELECT media_id, CAST(6 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(sum(r4) AS BIGINT) AS sum_r,
           CAST(sum(g4) AS BIGINT) AS sum_g,
           CAST(sum(b4) AS BIGINT) AS sum_b
         FROM blk GROUP BY media_id ORDER BY media_id"""),

    // multimodal: REAL WAV round trip — deterministic 16-bit PCM encoded
    // to genuine RIFF/WAVE with javax.sound.sampled, decoded back by the
    // JDK's WaveFileReader, features from the DECODED samples (exact
    // integer aggregates + one IEEE-exact rms). The oracle recomputes from
    // the closed-form sample formula, so a hash match proves the audio
    // codec path is lossless and actually exercised.
    ContractQuery("q_media_audio", (s, dir) =>
      Multimodal.decodeAudioFeatures(
          Multimodal.syntheticAudio(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id"),
      // audio twin: sample i and its predecessor both come straight from the
      // closed-form generator (no lag window needed); all aggregates are
      // BIGINT, rms = one DOUBLE division + correctly-rounded sqrt
      """WITH sm AS (
           SELECT doc_id AS media_id, t.i AS i,
             ((doc_id * 37 + t.i * 2654435761) % 65536) - 32768 AS s,
             CASE WHEN t.i > 0 THEN
               ((doc_id * 37 + (t.i - 1) * 2654435761) % 65536) - 32768
             END AS sp
           FROM documents, unnest(generate_series(0, 255)) AS t(i))
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(max(abs(s)) AS BIGINT) AS peak_abs,
           CAST(sum(CASE WHEN i > 0 AND ((s < 0) <> (sp < 0)) THEN 1
             ELSE 0 END) AS BIGINT) AS zero_crossings,
           sqrt(CAST(sum(s * s) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS rms
         FROM sm GROUP BY media_id ORDER BY media_id"""),

    // voice-activity detection on REAL decoded WAV: 32-sample frames,
    // a frame is voiced when its summed |sample| clears mean·frameSize
    // (decided in longs), segments/longest-run per clip — the
    // speech-corpus triage pass before any ASR spend. The twin replays
    // frame energies from the closed-form PCM generator codec-free and
    // runs gaps-and-islands for the segmentation, so a hash match
    // certifies decode AND run-length logic
    ContractQuery("q_media_vad", (s, dir) =>
      graft.multimodal.Vad.energySegments(
          Multimodal.syntheticAudio(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id"),
      // VAD twin: frame energies from the closed-form PCM generator
      // (32-sample frames over the 256-sample clip), voiced = frame
      // sum(|s|) >= 16384·32, then gaps-and-islands — islands keyed by
      // frame − row_number() within the voiced class — for segment count
      // and longest run; every decision in BIGINT
      """WITH sm AS (
           SELECT doc_id AS media_id, t.i AS i,
             abs(((doc_id * 37 + t.i * 2654435761) % 65536) - 32768) AS a
           FROM documents, unnest(generate_series(0, 255)) AS t(i)),
         f AS (
           SELECT media_id, i // 32 AS frame,
             CAST(sum(a) AS BIGINT) AS e
           FROM sm GROUP BY 1, 2),
         v AS (SELECT media_id, frame, e >= 524288 AS voiced FROM f),
         isl AS (
           SELECT media_id, frame, voiced,
             frame - row_number() OVER (PARTITION BY media_id, voiced
               ORDER BY frame) AS grp
           FROM v),
         runs AS (
           SELECT media_id, grp, CAST(count(*) AS BIGINT) AS len
           FROM isl WHERE voiced GROUP BY 1, 2),
         agg AS (
           SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
               AS n_voiced
           FROM v GROUP BY 1),
         seg AS (
           SELECT media_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(max(len) AS BIGINT) AS longest_run
           FROM runs GROUP BY 1)
         SELECT a.media_id, a.n_frames, a.n_voiced,
           coalesce(seg.n_segments, 0) AS n_segments,
           coalesce(seg.longest_run, 0) AS longest_run
         FROM agg a LEFT JOIN seg ON seg.media_id = a.media_id
         ORDER BY a.media_id"""),

    // multimodal: frame sampling plumbing (oracle: generate_series twin)
    ContractQuery("q_media_frames", (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .orderBy("media_id", "frame_idx"),
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
           FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
         f AS (
           SELECT media_id,
             CAST(floor((n_bytes / 64.0) / 4) AS INTEGER) AS n_frames
           FROM m)
         SELECT media_id, CAST(t.k AS BIGINT) AS frame_idx,
           CAST(t.k * 256 AS BIGINT) AS byte_offset
         FROM f, unnest(generate_series(0, n_frames - 1)) AS t(k)
         WHERE n_frames > 0
         ORDER BY media_id, frame_idx"""),

    // shot-boundary detection on REAL decoded frames: per-doc 6-frame
    // PNG sequences (scene seed switches at frame 3), ImageIO decode,
    // frame-to-frame sum-of-absolute-differences, integer cut decision
    // sad > 40·n_elems — the twin replays the closed-form pixel formula
    // codec-free, so a hash match certifies the encode→decode round trip
    ContractQuery("q_media_shots", (s, dir) =>
      Multimodal.shotBoundaries(
          Multimodal.syntheticFrames(t(s, dir, "documents")))
        .orderBy("media_id", "frame_idx"),
      // closed-form frame pixels → SAD → same integer cut rule
      """WITH px AS (
           SELECT doc_id AS media_id, f, i,
             (((doc_id * 2 + CASE WHEN f >= 3 THEN 1 ELSE 0 END) * 131
               + (i + f) * 7) % 256) AS v
           FROM documents,
                unnest(generate_series(0, 5)) AS t(f),
                unnest(generate_series(0, 143)) AS s(i)),
         sad AS (
           SELECT a.media_id, b.f AS frame_idx,
             CAST(sum(abs(b.v - a.v)) AS BIGINT) AS sad
           FROM px a JOIN px b
             ON a.media_id = b.media_id AND a.i = b.i AND b.f = a.f + 1
           GROUP BY 1, 2)
         SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, sad,
           sad > 40 * 144 AS is_cut
         FROM sad ORDER BY media_id, frame_idx"""),

    // media perceptual-hash near-dup: aHash/pHash-shaped bits (byte-slot
    // mean vs whole-payload mean, exact integer cross-multiplication) →
    // 4-bit band buckets → exact Hamming verify — image/audio near-dup
    // without pairwise payload compares. The twin replays the byte-slot
    // sums, the bit rule, the banding, and xor/bit_count in SQL.
    ContractQuery("q_media_phash", (s, dir) =>
      Multimodal.phashNearDupPairs(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")),
          dim = 32, maxHamming = 2)
        .orderBy("id_a", "id_b"),
      // byte-slot sums → integer-exact bit rule → 4-bit bands → xor verify
      """WITH m AS (
           SELECT doc_id AS media_id, text,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
           FROM documents),
         bytes AS (
           SELECT media_id, i, ord(substr(text, i, 1)) AS b
           FROM m, unnest(generate_series(1, CAST(n_bytes AS INTEGER))) AS t(i)),
         slots AS (
           SELECT media_id, (i - 1) % 32 AS slot,
             CAST(sum(b) AS BIGINT) AS s, count(*) AS c
           FROM bytes GROUP BY media_id, (i - 1) % 32),
         tot AS (
           SELECT media_id, CAST(sum(s) AS BIGINT) AS total,
             CAST(sum(c) AS BIGINT) AS n
           FROM slots GROUP BY media_id),
         ph AS (
           SELECT s.media_id,
             CAST(sum(CASE WHEN s.s * t.n > t.total * s.c
               THEN (CAST(1 AS BIGINT) << s.slot) ELSE 0 END) AS BIGINT) AS phash
           FROM slots s JOIN tot t USING (media_id)
           GROUP BY s.media_id),
         bands AS (
           SELECT media_id, phash, j AS band_idx,
             (phash >> (j * 4)) & 15 AS band_val
           FROM ph, unnest(generate_series(0, 7)) AS js(j)),
         cand AS (
           SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.phash AS pa, b.phash AS pb
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.media_id < b.media_id)
         SELECT id_a, id_b,
           CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
         FROM cand
         WHERE bit_count(xor(pa, pb)) <= 2
         ORDER BY id_a, id_b""")
  )
}
