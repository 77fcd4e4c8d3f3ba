package graft.sql

/** DuckDB oracle for the multimodal feature-summary query. Valid because
  * the fake payload is the utf-8 bytes of the (pure-ASCII) documents text:
  * codepoints == bytes, so the rolling checksum can be recomputed in SQL.
  * The mapPartitions path in [[graft.ops.MultimodalOps]] is thereby
  * hash-checked end-to-end despite not being a SQL-shaped operator. */
object MultimodalSql {

  /** Frame-sampling oracle — mirrors
    * [[graft.ops.MultimodalOps.frameSummary]]: every `stride`-th
    * `frameSize`-byte window, same rolling checksum, per modality. The
    * nested lambda (offsets list → per-frame checksum) avoids a lateral
    * join; offsets are the same exclusive-stop range as the JVM side. */
  def frameSummary(table: String, frameSize: Int, stride: Int): String =
    s"""WITH m AS (SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
  text FROM $table WHERE text IS NOT NULL),
f0 AS (SELECT modality,
  list_transform(range(0, greatest(strlen(text) - $frameSize + 1, 0), $stride), o ->
    list_reduce(list_transform(range(o + 1, o + 1 + $frameSize),
      i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)),
      (a, b) -> (a * 31 + b) & 2147483647)) AS css
  FROM m),
f AS (SELECT modality, unnest(css) AS cs FROM f0)
SELECT modality, COUNT(*) AS n_frames,
MIN(cs) AS min_checksum, MAX(cs) AS max_checksum
FROM f GROUP BY modality ORDER BY modality"""

  /** Mirror of [[graft.ops.MultimodalOps.imageDecodeStats]] over
    * [[graft.ops.MultimodalOps.imageCorpus]]: the engine round-trips a
    * REAL PNG (ImageIO encode → ImageIO decode) and reads dims + channel
    * sums off the decoded raster; PNG is lossless, so those must equal
    * this closed-form recomputation of the generator formula. A decoder
    * that mangled dims, channel order, or any pixel value hash-diverges. */
  def imageDecodeStats(table: String): String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM $table),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
ps AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(w * h AS BIGINT) AS n_pixels,
  CAST(SUM((doc_id * 3 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
  CAST(SUM((doc_id * 5 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((doc_id * 7 + x * 5 + y * 17) % 256) AS BIGINT) AS sum_b
FROM ps GROUP BY doc_id, w, h ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.imageAHash]]: closed-form
    * recomputation of the 8×8 block-mean perceptual hash from the
    * generator formula — integer gray `(r+g+b)//3`, `x*8//w` cell
    * mapping, per-cell `SUM(gray)//COUNT(*)` means, threshold =
    * `SUM(means)//64`, bits packed into two unsigned-32-bit halves
    * (cell 63 in one signed BIGINT would overflow `1 << 63`). The
    * engine computes the same bits off the DECODED raster. */
  def imageAHash(table: String): String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM $table),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
ps AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id,
  (((doc_id * 3 + x * 7 + y * 13) % 256) + ((doc_id * 5 + x * 11 + y * 3) % 256)
    + ((doc_id * 7 + x * 5 + y * 17) % 256)) // 3 AS gray,
  (y * 8 // h) * 8 + (x * 8 // w) AS c FROM ps),
cm AS (SELECT doc_id, c, SUM(gray) // COUNT(*) AS m FROM px GROUP BY 1, 2),
thr AS (SELECT doc_id, SUM(m) // 64 AS t FROM cm GROUP BY 1),
bits AS (SELECT cm.doc_id,
  CAST(SUM(CASE WHEN m >= t AND c >= 32 THEN (1::BIGINT << (c - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
  CAST(SUM(CASE WHEN m >= t AND c < 32 THEN (1::BIGINT << c) ELSE 0 END) AS BIGINT) AS ahash_lo
  FROM cm JOIN thr ON thr.doc_id = cm.doc_id GROUP BY 1)
SELECT d.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  b.ahash_hi, b.ahash_lo
FROM d JOIN bits b ON b.doc_id = d.doc_id ORDER BY d.doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.imageAHashPairs]]: the aHash
    * CTEs above, then exact Hamming over all same-or-colliding pairs —
    * the oracle can afford the quadratic form the engine's chunk-LSH
    * avoids, and pigeonhole completeness (≤ 7 differing bits ⇒ ≥ 1
    * equal byte chunk) makes the two pair sets equal. */
  def imageAHashPairs(table: String, maxDist: Int, limit: Int): String =
    s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM $table),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
ps AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id,
  (((doc_id * 3 + x * 7 + y * 13) % 256) + ((doc_id * 5 + x * 11 + y * 3) % 256)
    + ((doc_id * 7 + x * 5 + y * 17) % 256)) // 3 AS gray,
  (y * 8 // h) * 8 + (x * 8 // w) AS c FROM ps),
cm AS (SELECT doc_id, c, SUM(gray) // COUNT(*) AS m FROM px GROUP BY 1, 2),
thr AS (SELECT doc_id, SUM(m) // 64 AS t FROM cm GROUP BY 1),
bits AS (SELECT cm.doc_id,
  CAST(SUM(CASE WHEN m >= t AND c >= 32 THEN (1::BIGINT << (c - 32)) ELSE 0 END) AS BIGINT) AS hi,
  CAST(SUM(CASE WHEN m >= t AND c < 32 THEN (1::BIGINT << c) ELSE 0 END) AS BIGINT) AS lo
  FROM cm JOIN thr ON thr.doc_id = cm.doc_id GROUP BY 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
FROM bits a JOIN bits b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $maxDist
ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT $limit"""

  /** Mirror of [[graft.ops.MultimodalOps.compressedAudioHeaderStats]]
    * over [[graft.ops.MultimodalOps.compressedAudioCorpus]]: the engine
    * walks REAL MPEG-1 Layer III / ADTS frame headers bit by bit
    * (bitrate + rate index tables, spec frame-length arithmetic,
    * per-frame padding) and this recomputes the generator's closed form
    * — a parser that misread any index table, the 13-bit ADTS length
    * split, the synchsafe ID3v2 size, or the 144·bitrate/rate walk
    * hash-diverges on frame counts or byte totals. ADTS carries no
    * header bitrate: NULL for aac. */
  def compressedAudioHeaderStats(table: String): String =
    s"""WITH u AS (
  SELECT doc_id, 'mp3' AS format,
    list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1) AS sample_rate,
    CASE WHEN (doc_id // 2) % 4 = 3 THEN 1 ELSE 2 END AS channels,
    2 + doc_id % 5 AS n_frames, 1152 AS spf,
    CASE WHEN doc_id % 6 = 0 THEN 20 + doc_id % 40 ELSE 0 END AS tag_bytes,
    doc_id % 10 = 4 AS has_xing
  FROM $table WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 'aac' AS format,
    list_extract([48000, 44100, 32000, 24000], CAST(doc_id % 4 AS INT) + 1) AS sample_rate,
    1 + (doc_id // 2) % 2 AS channels,
    2 + doc_id % 5 AS n_frames, 1024 AS spf,
    0 AS tag_bytes,
    FALSE AS has_xing
  FROM $table WHERE doc_id % 2 = 1),
fr AS (SELECT doc_id, format, sample_rate,
  unnest(range(0, n_frames)) AS f FROM u),
fk AS (SELECT *, CASE WHEN format = 'mp3' THEN
    list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
      CAST(CASE WHEN doc_id % 10 = 4 THEN (doc_id + 3 * f) % 14
        ELSE doc_id % 14 END AS INT) + 1)
  ELSE NULL END AS kb FROM fr),
fl AS (SELECT doc_id,
  SUM(CASE WHEN format = 'mp3'
    THEN 144000 * kb // sample_rate + (doc_id + f) % 2
    ELSE 71 + (doc_id + f) % 50 END) AS total_bytes,
  SUM(kb) // COUNT(*) AS avg_kb
  FROM fk GROUP BY doc_id)
SELECT u.doc_id, u.format,
  CAST(u.sample_rate AS BIGINT) AS sample_rate,
  CAST(u.channels AS BIGINT) AS channels,
  CAST(fl.avg_kb AS BIGINT) AS bitrate_kbps,
  CAST(u.n_frames AS BIGINT) AS n_frames,
  CAST(u.spf AS BIGINT) AS samples_per_frame,
  CAST(u.n_frames * u.spf * 1000 // u.sample_rate AS BIGINT) AS duration_ms,
  CAST(fl.total_bytes + u.tag_bytes
    + CASE WHEN u.has_xing THEN 144000 * 128 // u.sample_rate ELSE 0 END
    AS BIGINT) AS total_bytes,
  CAST(u.tag_bytes AS BIGINT) AS tag_bytes,
  u.has_xing AS has_xing
FROM u JOIN fl USING (doc_id)
ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.compressedAudioCatalogSummary]]:
    * the header-stats closed form wrapped in the same format-keyed
    * aggregate. */
  def compressedAudioCatalogSummary(table: String): String =
    s"""WITH h AS (${compressedAudioHeaderStats(table)})
SELECT format, CAST(COUNT(*) AS BIGINT) AS n_clips,
  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
  CAST(SUM(total_bytes) AS BIGINT) AS total_bytes,
  CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms,
  CAST(MIN(sample_rate) AS BIGINT) AS min_sample_rate,
  CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate,
  CAST(SUM(CASE WHEN channels = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mono,
  CAST(SUM(CASE WHEN has_xing THEN 1 ELSE 0 END) AS BIGINT) AS n_xing
FROM h GROUP BY format ORDER BY format"""

  /** Mirror of [[graft.ops.MultimodalOps.audioDecodeStats]] over
    * [[graft.ops.MultimodalOps.audioCorpus]]: the engine round-trips a
    * REAL WAV (AudioSystem encode → AudioSystem decode) and reads sample
    * count, rate, channels and amplitude aggregates off the decoded PCM
    * stream; PCM is lossless, so those must equal this closed-form
    * recomputation of the generator formula. A decoder that mangled the
    * RIFF header, endianness, or any sample value hash-diverges. */
  def audioDecodeStats(table: String): String =
    s"""WITH d AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM $table),
idx AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
s AS (SELECT doc_id, n, (doc_id * 31 + i * 17) % 65536 - 32768 AS v FROM idx)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS channels,
  CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
  CAST(MAX(abs(v)) AS BIGINT) AS max_abs
FROM s GROUP BY doc_id, n ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.videoDecodeStats]] over
    * [[graft.ops.MultimodalOps.videoCorpus]]: the engine round-trips a
    * REAL uncompressed AVI (hand-built RIFF encode → hand-parsed decode)
    * and reads frame count, dims, fps and per-channel sums off the
    * decoded rasters; raw DIB frames are lossless, so those must equal
    * this closed-form recomputation of the generator formula. A parser
    * that mangled chunk framing, bottom-up row order, BGR byte order, or
    * the strh rate fields hash-diverges. */
  def videoDecodeStats(table: String): String =
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 6 AS w, 4 + doc_id % 4 AS h,
  2 + doc_id % 5 AS nf, 10 + doc_id % 3 AS fps FROM $table),
fs AS (SELECT doc_id, w, h, nf, fps, unnest(range(0, nf)) AS f FROM d),
xs AS (SELECT doc_id, w, h, nf, fps, f, unnest(range(0, w)) AS x FROM fs),
ps AS (SELECT doc_id, w, h, nf, fps, f, x, unnest(range(0, h)) AS y FROM xs)
SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height, CAST(fps AS BIGINT) AS fps,
  CAST(nf * w * h AS BIGINT) AS n_pixels,
  CAST(SUM((doc_id * 3 + f * 19 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
  CAST(SUM((doc_id * 5 + f * 23 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((doc_id * 7 + f * 29 + x * 5 + y * 17) % 256) AS BIGINT) AS sum_b
FROM ps GROUP BY doc_id, w, h, nf, fps ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.videoDecodeStats]] over
    * [[graft.ops.MultimodalOps.videoCorpusMjpeg]]: the engine round-trips
    * a REAL Motion-JPEG AVI (per-frame ImageIO JPEG encode at quality
    * 1.0 → container parse → per-frame ImageIO JPEG decode). Frames are
    * uniform gray, the one class a JPEG codec reproduces bit-exactly, so
    * decoded channel sums equal this closed form: every channel sums to
    * gray(id, f) · w · h per frame. A codec or container path that
    * altered ANY pixel hash-diverges. */
  def videoDecodeStatsMjpeg(table: String): String =
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 6 AS w, 4 + doc_id % 4 AS h,
  2 + doc_id % 5 AS nf, 10 + doc_id % 3 AS fps FROM $table),
fs AS (SELECT doc_id, w, h, nf, fps, unnest(range(0, nf)) AS f FROM d),
g AS (SELECT doc_id, w, h, nf, fps, (doc_id * 11 + f * 31) % 256 AS gray FROM fs)
SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height, CAST(fps AS BIGINT) AS fps,
  CAST(nf * w * h AS BIGINT) AS n_pixels,
  CAST(SUM(gray * w * h) AS BIGINT) AS sum_r,
  CAST(SUM(gray * w * h) AS BIGINT) AS sum_g,
  CAST(SUM(gray * w * h) AS BIGINT) AS sum_b
FROM g GROUP BY doc_id, w, h, nf, fps ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.videoDeltaDecodeStats]] over
    * [[graft.ops.MultimodalOps.videoCorpusDelta]]: the engine round-trips
    * a REAL DLT8 temporal-delta AVI (keyframe DIBs + per-channel mod-256
    * P-frame deltas, decoded by reference-frame ACCUMULATION) and this
    * recomputes the generator formulas in closed form — channel sums pin
    * the accumulated rasters, motion energy pins the delta bytes
    * themselves ((cur − prev) mod 256 per channel over non-key frames),
    * n_key pins the chunk-id walk. Mod-256 delta coding is lossless, so
    * decode == formula, the q95 contract. */
  def videoDeltaDecodeStats(table: String): String =
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 6 AS w, 4 + doc_id % 4 AS h,
  4 + doc_id % 5 AS nf, 10 + doc_id % 3 AS fps FROM $table),
fs AS (SELECT doc_id, w, h, nf, fps, unnest(range(0, nf)) AS f FROM d),
xs AS (SELECT doc_id, w, h, nf, fps, f, unnest(range(0, w)) AS x FROM fs),
ps AS (SELECT doc_id, w, h, nf, fps, f, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h, nf, fps,
  (doc_id * 3 + f * 19 + x * 7 + y * 13) % 256 AS r,
  (doc_id * 5 + f * 23 + x * 11 + y * 3) % 256 AS g,
  (doc_id * 7 + f * 29 + x * 5 + y * 17) % 256 AS b,
  CASE WHEN f % 3 <> 0 THEN
      ((doc_id * 3 + f * 19 + x * 7 + y * 13) % 256
        - (doc_id * 3 + (f - 1) * 19 + x * 7 + y * 13) % 256 + 256) % 256
    + ((doc_id * 5 + f * 23 + x * 11 + y * 3) % 256
        - (doc_id * 5 + (f - 1) * 23 + x * 11 + y * 3) % 256 + 256) % 256
    + ((doc_id * 7 + f * 29 + x * 5 + y * 17) % 256
        - (doc_id * 7 + (f - 1) * 29 + x * 5 + y * 17) % 256 + 256) % 256
  ELSE 0 END AS me
  FROM ps)
SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
  CAST((nf + 2) // 3 AS BIGINT) AS n_key,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(fps AS BIGINT) AS fps, CAST(nf * w * h AS BIGINT) AS n_pixels,
  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
  CAST(SUM(b) AS BIGINT) AS sum_b, CAST(SUM(me) AS BIGINT) AS motion_energy
FROM px GROUP BY doc_id, w, h, nf, fps ORDER BY doc_id"""

  /** Mirror of [[graft.ops.MultimodalOps.adpcmDecodeStats]] over
    * [[graft.ops.MultimodalOps.adpcmCorpus]]: replays the IMA ADPCM
    * predictor recurrence — the SAME 89-entry step table, index deltas,
    * int16/index clamps and nibble order the engine's
    * [[graft.ops.MultimodalOps.adpcmDecodeBlock]] runs — as a recursive
    * CTE advancing one decoded sample per iteration (the lambda-free
    * iterative-oracle pattern of UnigramLmSql; bounded state as plain
    * columns). The rolling checksum pins every sample VALUE and its
    * ORDER, so a wrong table entry, swapped nibble halves, a missed
    * clamp, or a mis-seeded block header all hash-diverge. All-integer
    * arithmetic: both engines compute the identical recurrence
    * exactly. */
  def adpcmDecodeStats(table: String): String = {
    val steps = ("[7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, " +
      "34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, " +
      "157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, " +
      "598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, " +
      "1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, " +
      "5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, " +
      "15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]")
    val idxDeltas = "[-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]"
    // within-block nibble index consumed when stepping OFF state j (< 64)
    val nib = "((r.doc_id * 7 + r.blk * 11 + r.j * 13) % 16)"
    val diff = s"(s.step // 8 + ($nib % 2) * (s.step // 4) " +
      s"+ (($nib // 2) % 2) * (s.step // 2) + (($nib // 4) % 2) * s.step)"
    // j = 64 -> next block's header sample (seed predictor emitted as-is)
    val newPred = s"""(CASE WHEN r.j = 64
      THEN (r.doc_id * 31 + (r.blk + 1) * 97) % 65536 - 32768
      WHEN $nib >= 8 THEN greatest(r.pred - $diff, -32768)
      ELSE least(r.pred + $diff, 32767) END)"""
    s"""WITH RECURSIVE
d AS MATERIALIZED (SELECT doc_id, 1 + doc_id % 3 AS nb FROM $table),
steps AS MATERIALIZED (SELECT i,
  list_extract($steps, CAST(i AS INT) + 1) AS step
  FROM (SELECT unnest(range(0, 89)) AS i)),
dec(doc_id, nb, blk, j, pred, idx, sum_abs, max_abs, cs) AS (
  SELECT doc_id, nb, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
    (doc_id * 31) % 65536 - 32768,
    doc_id % 89,
    abs((doc_id * 31) % 65536 - 32768),
    abs((doc_id * 31) % 65536 - 32768),
    ((doc_id * 31) % 65536) % 2147483648
  FROM d
  UNION ALL
  SELECT r.doc_id, r.nb,
    CASE WHEN r.j < 64 THEN r.blk ELSE r.blk + 1 END,
    CASE WHEN r.j < 64 THEN r.j + 1 ELSE CAST(0 AS BIGINT) END,
    $newPred,
    CASE WHEN r.j = 64 THEN (r.doc_id + (r.blk + 1) * 7) % 89
      ELSE least(greatest(r.idx
        + list_extract($idxDeltas, CAST($nib AS INT) + 1), 0), 88) END,
    r.sum_abs + abs($newPred),
    greatest(r.max_abs, abs($newPred)),
    (r.cs * 31 + $newPred + 32768) % 2147483648
  FROM dec r JOIN steps s ON s.i = r.idx
  WHERE r.blk < r.nb - 1 OR r.j < 64)
SELECT doc_id, CAST(nb AS BIGINT) AS n_blocks,
  CAST(nb * 65 AS BIGINT) AS n_samples,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(sum_abs AS BIGINT) AS sum_abs,
  CAST(max_abs AS BIGINT) AS max_abs,
  CAST(cs AS BIGINT) AS checksum
FROM dec WHERE blk = nb - 1 AND j = 64 ORDER BY doc_id"""
  }

  def modalitySummary(table: String): String =
    s"""WITH m AS (SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  list_reduce(list_transform(range(1, length(text)+1), i -> CAST(unicode(substr(text,i,1)) AS BIGINT)),
    (a, b) -> (a * 31 + b) & 2147483647) AS checksum
  FROM $table WHERE text IS NOT NULL)
SELECT modality, COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
MIN(checksum) AS min_checksum, MAX(checksum) AS max_checksum
FROM m GROUP BY modality ORDER BY modality"""
}
