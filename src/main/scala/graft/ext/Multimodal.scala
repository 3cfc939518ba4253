package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Functions.roundPortable
import graft.engine.ParquetCatalog
import graft.queries.Inventory.Q

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, processed by per-partition mappers.
  *
  * The decode step is REAL for the formats a bare JVM can honestly
  * own: [[MediaCodec]] parses complete BMP and WAV files byte-level
  * (magic sniff, little-endian fields, RIFF chunk walk). Formats
  * needing an external codec (JPEG/MP4) plug into the same
  * `mapPartitions` seam; unknown payloads decode to a "binary" row.
  *
  * Scale notes: `mapPartitions` keeps the decode embarrassingly
  * parallel with zero shuffle; payloads never serialize to the driver.
  * At 100 TB the payload column lives in its own parquet column chunk,
  * so metadata-only queries never read the bytes (column pruning), and
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory.
  */
object Multimodal {

  /** One media object: opaque payload + routing metadata. */
  final case class MediaItem(media_id: Long, kind: String, payload: Array[Byte])

  /** One sampled frame of a "video" payload. */
  final case class MediaFrame(media_id: Long, frame_idx: Int, frame_bytes: Long, frame_crc: Long)

  private def crc(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(bytes)
    c.getValue
  }

  /** 60-bit md5-derived payload hash — same construction as
    * `Dedup.hash60`, computed JVM-side for the per-partition mapper
    * (and reproducible as `('0x' || substr(md5(s),1,15))::BIGINT` in
    * the oracle).
    */
  def hash60Bytes(bytes: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(bytes).take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  val FrameBytes = 1024

  /** Sample every `step`-th fixed-size frame of "video" payloads. */
  def sampleFrames(items: Dataset[MediaItem], step: Int = 2): Dataset[MediaFrame] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaFrame]
    items.filter((i: MediaItem) => i.kind == "video").mapPartitions { it =>
      it.flatMap { item =>
        item.payload.grouped(FrameBytes).zipWithIndex.collect {
          case (frame, idx) if idx % step == 0 =>
            MediaFrame(item.media_id, idx, frame.length.toLong, crc(frame))
        }
      }
    }
  }

  /** The harness has no binary table; derive one deterministically
    * from `documents` (payload = UTF-8 bytes, kind by doc_id mod 3).
    * `asciiOnly` strips non-ASCII codepoints BEFORE encoding — for
    * consumers whose oracle replays byte offsets with character
    * functions (`frameDedup`), where a multi-byte codepoint would
    * silently desynchronize the two chunkings.
    */
  def mediaFromDocuments(s: SparkSession, dir: String,
      asciiOnly: Boolean = false): Dataset[MediaItem] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaItem]
    val txt =
      if (asciiOnly) regexp_replace(col("text"), "[^\\x00-\\x7F]", "")
      else col("text")
    ParquetCatalog.read(s, s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3).cast("int") + 1).as("kind"),
        encode(txt, "UTF-8").as("payload"))
      .as[MediaItem]
  }

  /** REAL decoded headers aggregated per kind — the metadata-catalog
    * query a media lake runs after ingest (how many items, how many
    * bytes, dimension/sample ranges). Decode is [[MediaCodec]]'s
    * byte-level parse of complete BMP/WAV payloads; the oracle replays
    * the GENERATOR's parameter algebra arithmetically, so any decoder
    * field extraction bug breaks the hash (round-10 retired the
    * md5-fake-dimension stub this query used to aggregate).
    */
  val features: Q = Q(
    (s, d) =>
      decodeMedia(syntheticMedia(s, d)).toDF()
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("width")).as("min_width"),
          max(col("height")).as("max_height"),
          sum(col("n_samples")).as("total_samples"),
          max(col("sample_rate")).as("max_sample_rate"))
        .orderBy("kind"),
    // generator algebra (see decodeQuery's oracle), aggregated: byte
    // sizes fold the real layout constants (54-byte BMP header +
    // 4-byte-padded rows; 44-byte WAV header + 2-byte PCM samples)
    Some("""WITH f AS (
           |  SELECT doc_id AS media_id,
           |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           |    CAST(CASE WHEN doc_id % 2 = 0
           |      THEN 54 + ((3 * (doc_id % 31 + 2) + 3) // 4 * 4) * (doc_id % 17 + 1)
           |      ELSE 44 + (doc_id % 100 + 1) * ((doc_id // 2) % 2 + 1) * 2 END AS BIGINT) AS n_bytes,
           |    CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 31 + 2 END AS INTEGER) AS width,
           |    CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 17 + 1 END AS INTEGER) AS height,
           |    CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 100 + 1 END AS BIGINT) AS n_samples,
           |    CAST(CASE WHEN doc_id % 2 = 1
           |      THEN [8000, 16000, 22050, 44100][CAST(((doc_id - 1) // 2) % 4 AS INTEGER) + 1]
           |      END AS INTEGER) AS sample_rate
           |  FROM documents
           |)
           |SELECT kind, count(*) AS n_items, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           |       min(width) AS min_width, max(height) AS max_height,
           |       CAST(sum(n_samples) AS BIGINT) AS total_samples,
           |       max(sample_rate) AS max_sample_rate
           |FROM f GROUP BY kind ORDER BY kind""".stripMargin)
  )

  /** ALL frame hashes of media payloads (step=1, unlike the sampled
    * view) — the content-ID substrate: (media_id, frame_idx, fh) with
    * fh = the 60-bit md5 hash of the frame bytes, reproducible in the
    * oracle as `('0x'||substr(md5(frame),1,15))::BIGINT`.
    */
  def frameHashes(items: Dataset[MediaItem],
      frameBytes: Int = FrameBytes): DataFrame = {
    implicit val enc =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.scalaLong)
    items.mapPartitions { it =>
      it.flatMap { item =>
        item.payload.grouped(frameBytes).zipWithIndex.map {
          case (frame, idx) => (item.media_id, idx, hash60Bytes(frame))
        }
      }
    }.toDF("media_id", "frame_idx", "fh")
  }

  // ------------------------------------------------------------------
  // Frame-hash media dedup — the content-ID shape (YouTube-style
  // duplicate detection reduces to exactly this): two payloads are
  // near-dup candidates when they SHARE a large fraction of distinct
  // frame hashes. Same posting-list equi-join architecture as the
  // n-gram shingle dedup (the only shuffle is on the frame hash;
  // candidate pairs are generated by collision, never by a media
  // cartesian), demonstrating that the text-dedup stack lifts to
  // binary media unchanged once frames are hashed — at 100 TB the
  // per-frame rows dwarf the media count, and both the distinct-set
  // collapse and the pair aggregation are plain map-side-combined
  // aggregates. Overlap is containment-normalized by the SMALLER
  // payload (a clip embedded in a longer cut still scores high).
  //
  // Frame size is the query's resolution knob and is set to the
  // FIXTURE's scale here: payloads are 48–553 bytes with zero exact
  // duplicates, so 1024-byte frames can never collide (measured: 0
  // pairs corpus-wide); 64-byte frames expose the planted near-dup
  // structure (29 colliding pairs, 24 above τ). A real video corpus
  // uses keyframe-sized chunks — the plumbing is identical.
  // ------------------------------------------------------------------
  val FrameOverlapTau = 0.5
  val DedupFrameBytes = 64

  val frameDedup: Q = Q(
    (s, d) => {
      // asciiOnly is ENFORCED, not assumed: the oracle chunks with
      // character substr while the engine chunks encoded bytes, so
      // both sides project to ASCII first (1 char = 1 byte by
      // construction; a no-op on the fixtures, which are ASCII)
      val fh = frameHashes(mediaFromDocuments(s, d, asciiOnly = true), DedupFrameBytes)
      val sets = fh.groupBy(col("media_id"))
        .agg(collect_set(col("fh")).as("fhs"))
        .select(col("media_id"), size(col("fhs")).cast("long").as("nf"),
          explode(col("fhs")).as("fh"))
      val pairs = sets.as("a").join(sets.as("b"),
          col("a.fh") === col("b.fh") && col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("video_a"), col("b.media_id").as("video_b"),
          col("a.nf").as("nfa"), col("b.nf").as("nfb"))
        .agg(count(lit(1)).as("shared_frames"))
      // gate on the RAW ratio (the oracle does too) — gating on the
      // rounded value would admit ratios that round UP across tau
      val raw = col("shared_frames") / least(col("nfa"), col("nfb"))
      pairs
        .filter(raw >= FrameOverlapTau)
        .select(col("video_a"), col("video_b"), col("shared_frames"),
          roundPortable(raw, 4).as("overlap"))
        .orderBy(col("video_a"), col("video_b"))
    },
    Some(s"""WITH media AS (
            |  -- mirror the engine's asciiOnly projection so 1 char = 1 byte
            |  -- holds by construction on BOTH sides, for any fixture text
            |  SELECT doc_id AS media_id,
            |    regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
            |  FROM documents
            |), frames AS (
            |  SELECT DISTINCT media_id,
            |    ('0x' || substr(md5(substr(text, CAST(k * $DedupFrameBytes + 1 AS BIGINT), $DedupFrameBytes)), 1, 15))::BIGINT AS fh
            |  FROM media, LATERAL unnest(range(0,
            |    CAST(ceil(octet_length(encode(text)) / $DedupFrameBytes.0) AS BIGINT))) AS r(k)
            |), sets AS (
            |  SELECT media_id, fh,
            |    count(*) OVER (PARTITION BY media_id) AS nf
            |  FROM frames
            |), pairs AS (
            |  SELECT a.media_id AS video_a, b.media_id AS video_b,
            |    a.nf AS nfa, b.nf AS nfb, count(*) AS shared_frames
            |  FROM sets a JOIN sets b ON a.fh = b.fh AND a.media_id < b.media_id
            |  GROUP BY 1, 2, 3, 4
            |)
            |SELECT video_a, video_b, CAST(shared_frames AS BIGINT) AS shared_frames,
            |  floor(CAST(shared_frames AS DOUBLE) / least(nfa, nfb) * 10000 + 0.5) / 10000 AS overlap
            |FROM pairs
            |WHERE CAST(shared_frames AS DOUBLE) / least(nfa, nfb) >= $FrameOverlapTau
            |ORDER BY video_a, video_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // REAL decode — the round that retires the "decode is a stub"
  // caveat for the formats a pure JVM can honestly own. Payloads are
  // complete BMP / WAV FILES (valid headers + body, built by
  // [[MediaCodec]] from doc_id-seeded parameters), and the decoder
  // does a REAL byte-level header parse (magic sniff, little-endian
  // field extraction, RIFF chunk walk) — no md5-derived fake
  // dimensions anywhere. The oracle replays the GENERATOR's parameter
  // algebra arithmetically; an encode/decode bug pair that cancels
  // here is still caught by MultimodalSpec, which round-trips the
  // parser against the JDK's independent ImageIO/AudioSystem writers.
  // Formats a bare JVM cannot parse (JPEG/MP4) decode to the "binary"
  // fallback row — a real deployment plugs a codec into the same
  // mapPartitions seam.
  // ------------------------------------------------------------------
  val WavRates: Seq[Int] = Seq(8000, 16000, 22050, 44100)

  /** Complete BMP/WAV files with doc_id-determined parameters —
    * even ids are 24bpp BMPs, odd ids 16-bit PCM WAVs.
    */
  def syntheticMedia(s: SparkSession, dir: String): Dataset[MediaItem] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaItem]
    implicit val encL = org.apache.spark.sql.Encoders.scalaLong
    ParquetCatalog.read(s, s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .map { id =>
        if (id % 2 == 0) {
          val w = (id % 31).toInt + 2
          val h = (id % 17).toInt + 1
          MediaItem(id, "image",
            MediaCodec.encodeBmp(w, h, (x, y, c) => ((id * 31 + x * 7 + y * 13 + c) % 256).toByte))
        } else {
          val channels = ((id / 2) % 2).toInt + 1
          val rate = WavRates((((id - 1) / 2) % 4).toInt)
          val nSamples = (id % 100) + 1
          MediaItem(id, "audio",
            MediaCodec.encodeWav(channels, rate, nSamples,
              i => ((id * 7 + i * 31) % 65536 - 32768).toShort))
        }
      }
  }

  /** Parse every payload's header per partition (the codec-init seam
    * real decoders need), emit the decoded fields.
    */
  def decodeMedia(items: Dataset[MediaItem]): Dataset[MediaCodec.Decoded] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaCodec.Decoded]
    items.mapPartitions(it => it.map(i => MediaCodec.decode(i.media_id, i.payload)))
  }

  val decodeQuery: Q = Q(
    (s, d) =>
      decodeMedia(syntheticMedia(s, d)).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("bits_per_pixel"),
          col("channels"), col("sample_rate"), col("n_samples"))
        .orderBy("media_id"),
    // the oracle recomputes the generator's parameter algebra; byte
    // sizes fold in the real formats' layout constants (54-byte BMP
    // headers + 4-byte-padded rows, 44-byte WAV headers + 2-byte PCM)
    Some("""SELECT doc_id AS media_id,
           |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           |  CAST(CASE WHEN doc_id % 2 = 0
           |    THEN 54 + ((3 * (doc_id % 31 + 2) + 3) // 4 * 4) * (doc_id % 17 + 1)
           |    ELSE 44 + (doc_id % 100 + 1) * ((doc_id // 2) % 2 + 1) * 2 END AS BIGINT) AS n_bytes,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 31 + 2 END AS INTEGER) AS width,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 17 + 1 END AS INTEGER) AS height,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 24 END AS INTEGER) AS bits_per_pixel,
           |  CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id // 2) % 2 + 1 END AS INTEGER) AS channels,
           |  CAST(CASE WHEN doc_id % 2 = 1
           |    THEN [8000, 16000, 22050, 44100][CAST(((doc_id - 1) // 2) % 4 AS INTEGER) + 1]
           |    END AS INTEGER) AS sample_rate,
           |  CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 100 + 1 END AS BIGINT) AS n_samples
           |FROM documents ORDER BY media_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // PERCEPTUAL near-dup for images: average-hash (aHash — the classic
  // public perceptual fingerprint: 8×8 nearest-neighbor downsample,
  // 1 bit per cell for brightness-above-mean) computed from a REAL
  // pixel-level BMP decode, then banded candidate pairs with exact
  // Hamming verify. This is the visual complement of
  // `multimodal_frame_dedup`'s byte-exact frame hashes: aHash is
  // invariant to global brightness shifts (bits compare to the
  // image's own mean), so re-encoded or uniformly-relit duplicates
  // that break byte hashes still collide here.
  //
  // Engine shape = the dedup family's candidates-then-verify: the
  // 64-bit hash splits into 8 row-bytes (bands); pairs sharing ANY
  // band byte are candidates (an equi-join on (band, value) — never
  // all-pairs), and τ = 7 < 8 bands makes the banding EXACT by
  // pigeonhole: ≤7 differing bits cannot touch all 8 bytes, so every
  // true near-dup shares a band. The Hamming verify runs only on
  // candidates. All arithmetic is integer (grid sums, band bytes,
  // bit_count of xor) — bit-identical across engines by construction.
  // The DuckDB oracle replays the GENERATOR's pixel algebra, so a
  // pixel-parse bug (orientation, stride, offset) breaks the
  // hash-match — the decoder is oracle-audited end to end.
  // ------------------------------------------------------------------
  val AHashTau = 7

  val perceptualDedup: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.Encoders
      implicit val encBands = Encoders.product[(Long, Array[Int])]
      val hashes = syntheticMedia(s, d)
        .mapPartitions(_.flatMap { i =>
          MediaCodec.decodeBmpGray8x8(i.payload).map { g =>
            val total = g.sum
            val bands = Array.tabulate(8) { y =>
              var b = 0
              var x = 0
              while (x < 8) {
                if (g(y * 8 + x) * 64 > total) b |= 1 << x
                x += 1
              }
              b
            }
            (i.media_id, bands)
          }
        })
        .toDF("media_id", "bands")
      val bands = hashes.select(col("media_id"), posexplode(col("bands")).as(Seq("k", "bk")))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.k") === col("b.k") && col("a.bk") === col("b.bk") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("media_id_a"), col("b.media_id").as("media_id_b"))
        .distinct()
      cand
        .join(hashes.select(col("media_id").as("media_id_a"), col("bands").as("ba")), Seq("media_id_a"))
        .join(hashes.select(col("media_id").as("media_id_b"), col("bands").as("bb")), Seq("media_id_b"))
        .withColumn("hamming",
          expr("aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)")
            .cast("long"))
        .filter(col("hamming") <= AHashTau)
        .select(col("media_id_a"), col("media_id_b"), col("hamming"))
        .orderBy("media_id_a", "media_id_b")
    },
    Some(s"""WITH img AS (
            |  SELECT doc_id AS id, doc_id % 31 + 2 AS w, doc_id % 17 + 1 AS h
            |  FROM documents WHERE doc_id % 2 = 0
            |), cell AS (
            |  SELECT id, y.y, x.x,
            |    (id * 31 + (x.x * w // 8) * 7 + (y.y * h // 8) * 13 + 0) % 256
            |    + (id * 31 + (x.x * w // 8) * 7 + (y.y * h // 8) * 13 + 1) % 256
            |    + (id * 31 + (x.x * w // 8) * 7 + (y.y * h // 8) * 13 + 2) % 256 AS gray
            |  FROM img, LATERAL unnest(range(0, 8)) AS y(y), LATERAL unnest(range(0, 8)) AS x(x)
            |), tot AS (
            |  SELECT id, sum(gray) AS total FROM cell GROUP BY 1
            |), band AS (
            |  SELECT c.id, c.y AS k,
            |         sum(CASE WHEN c.gray * 64 > t.total THEN 1 << c.x ELSE 0 END) AS bk
            |  FROM cell c JOIN tot t ON t.id = c.id GROUP BY 1, 2
            |), cand AS (
            |  SELECT DISTINCT a.id AS media_id_a, b.id AS media_id_b
            |  FROM band a JOIN band b ON a.k = b.k AND a.bk = b.bk AND a.id < b.id
            |), ham AS (
            |  SELECT c.media_id_a, c.media_id_b,
            |         sum(bit_count(xor(CAST(a.bk AS BIGINT), CAST(b.bk AS BIGINT)))) AS hamming
            |  FROM cand c
            |  JOIN band a ON a.id = c.media_id_a
            |  JOIN band b ON b.id = c.media_id_b AND b.k = a.k
            |  GROUP BY 1, 2
            |)
            |SELECT media_id_a, media_id_b, CAST(hamming AS BIGINT) AS hamming
            |FROM ham WHERE hamming <= $AHashTau ORDER BY 1, 2""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Audio ENERGY-ENVELOPE fingerprint — the audio twin of the aHash:
  // real 16-bit PCM SAMPLE decode (the new `decodeWavSamples`, same
  // hardened RIFF walk), 8 equal time windows, per-window Σs² energy
  // (exact longs — s² ≤ 1.07e9, far under 2⁶³), an above-mean
  // envelope bitmask and the peak window index. This is the
  // loudness-contour signature audio dedup pipelines bucket on before
  // any spectral work — and like the aHash it is invariant to
  // surrounding container bytes, unlike the byte-exact frame hashes.
  // All integer arithmetic; the oracle replays the generator's sample
  // algebra, so the SAMPLE parser (data-chunk offset, 16-bit LE
  // signedness, channel interleave count) is oracle-audited end to
  // end. One mapPartitions pass, zero shuffle before the output sort.
  // ------------------------------------------------------------------
  /** The (media_id, n_samples, total_energy, peak_window,
    * envelope_bits) signature relation — the real-PCM decode +
    * envelope fold shared by [[audioEnvelope]] (publishes it) and
    * [[audioDedup]] (buckets on it), so the fingerprint recipe cannot
    * drift between the profile and the dedup that keys on it.
    */
  def audioSignatures(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(Long, Long, Long, Int, Int)]
    syntheticMedia(s, d)
      .mapPartitions(_.flatMap { i =>
        MediaCodec.decodeWavSamples(i.payload).map { smp =>
          val n = smp.length
          val e = new Array[Long](8)
          var j = 0
          while (j < n) {
            val v = smp(j).toLong
            e((j * 8) / n) += v * v
            j += 1
          }
          val total = e.sum
          var peak = 0
          var bits = 0
          var w = 0
          while (w < 8) {
            if (e(w) > e(peak)) peak = w
            if (e(w) * 8 > total) bits |= 1 << w
            w += 1
          }
          (i.media_id, n.toLong, total, peak, bits)
        }
      })
      .toDF("media_id", "n_samples", "total_energy", "peak_window", "envelope_bits")
  }

  val audioEnvelope: Q = Q(
    (s, d) => audioSignatures(s, d).orderBy("media_id"),
    Some("""WITH aud AS (
           |  SELECT doc_id AS id, ((doc_id // 2) % 2 + 1) * (doc_id % 100 + 1) AS n
           |  FROM documents WHERE doc_id % 2 = 1
           |), smp AS (
           |  SELECT id, n, i.i, (id * 7 + i.i * 31) % 65536 - 32768 AS s
           |  FROM aud, LATERAL unnest(range(0, n)) AS i(i)
           |), win AS (
           |  SELECT id, i * 8 // n AS w, sum(s * s) AS e FROM smp GROUP BY 1, 2
           |), grid AS (
           |  SELECT a.id, a.n, g.w FROM aud a, LATERAL unnest(range(0, 8)) AS g(w)
           |), genergy AS (
           |  SELECT grid.id, grid.n, grid.w, coalesce(win.e, 0) AS e
           |  FROM grid LEFT JOIN win ON win.id = grid.id AND win.w = grid.w
           |), tot AS (
           |  SELECT id, sum(e) AS total FROM genergy GROUP BY 1
           |), ranked AS (
           |  SELECT id, w, e, row_number() OVER (PARTITION BY id ORDER BY e DESC, w) AS rn
           |  FROM genergy
           |), agg AS (
           |  SELECT g.id, any_value(g.n) AS n_samples, t.total,
           |         sum(CASE WHEN g.e * 8 > t.total THEN 1 << g.w ELSE 0 END) AS bits
           |  FROM genergy g JOIN tot t ON t.id = g.id GROUP BY 1, 3
           |)
           |SELECT a.id AS media_id, CAST(a.n_samples AS BIGINT) AS n_samples,
           |       CAST(a.total AS BIGINT) AS total_energy,
           |       CAST(r.w AS INTEGER) AS peak_window,
           |       CAST(a.bits AS INTEGER) AS envelope_bits
           |FROM agg a JOIN ranked r ON r.id = a.id AND r.rn = 1
           |ORDER BY media_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Audio near-dup PAIRS on the envelope fingerprint — the bucketed
  // candidates-then-verify shape (the registry's universal dedup
  // discipline) on the loudness contour: candidates share the exact
  // (envelope_bits, peak_window) signature — a 2048-key bucket space —
  // and verify on a ±20% total-energy band (integer cross-products,
  // no division in the decision). This is the cheap first gate an
  // audio pipeline runs before any spectral similarity: same contour
  // shape + same loudness class ⇒ candidate re-encode/duplicate. The
  // MaxBucket guard (same constant family as MinHash-LSH's) caps
  // degenerate contours; the pair join carries ids + two longs, and
  // the signature side is merge-hinted off the static broadcast path
  // like every corpus-derived join in the family.
  // ------------------------------------------------------------------
  val AudioMaxBucket = 1000

  val audioDedup: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sig = audioSignatures(s, d)
        .select(col("media_id"), col("total_energy"), col("peak_window"), col("envelope_bits"))
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy("envelope_bits", "peak_window")))
        .filter(col("bucket_n") <= AudioMaxBucket)
      val a = sig.select(col("envelope_bits"), col("peak_window"),
        col("media_id").as("media_id_a"), col("total_energy").as("ta"))
      val b = sig.select(col("envelope_bits"), col("peak_window"),
        col("media_id").as("media_id_b"), col("total_energy").as("tb"))
      a.join(b.hint("merge"), Seq("envelope_bits", "peak_window"))
        .filter(col("media_id_a") < col("media_id_b") &&
          col("ta") * 10 <= col("tb") * 12 && col("tb") * 10 <= col("ta") * 12)
        .select(col("media_id_a"), col("media_id_b"),
          col("envelope_bits"), col("peak_window"),
          graft.engine.Functions.roundPortable(
            least(col("ta"), col("tb")).cast(org.apache.spark.sql.types.DoubleType)
              / nullif(greatest(col("ta"), col("tb")), lit(0L))
                .cast(org.apache.spark.sql.types.DoubleType), 6).as("energy_ratio"))
        .orderBy("media_id_a", "media_id_b")
    },
    Some("""WITH aud AS (
           |  SELECT doc_id AS id, ((doc_id // 2) % 2 + 1) * (doc_id % 100 + 1) AS n
           |  FROM documents WHERE doc_id % 2 = 1
           |), smp AS (
           |  SELECT id, n, i.i, (id * 7 + i.i * 31) % 65536 - 32768 AS s
           |  FROM aud, LATERAL unnest(range(0, n)) AS i(i)
           |), win AS (
           |  SELECT id, i * 8 // n AS w, sum(s * s) AS e FROM smp GROUP BY 1, 2
           |), grid AS (
           |  SELECT a.id, a.n, g.w FROM aud a, LATERAL unnest(range(0, 8)) AS g(w)
           |), genergy AS (
           |  SELECT grid.id, grid.n, grid.w, coalesce(win.e, 0) AS e
           |  FROM grid LEFT JOIN win ON win.id = grid.id AND win.w = grid.w
           |), tot AS (
           |  SELECT id, sum(e) AS total FROM genergy GROUP BY 1
           |), ranked AS (
           |  SELECT id, w, e, row_number() OVER (PARTITION BY id ORDER BY e DESC, w) AS rn
           |  FROM genergy
           |), agg AS (
           |  SELECT g.id, t.total,
           |         sum(CASE WHEN g.e * 8 > t.total THEN 1 << g.w ELSE 0 END) AS bits
           |  FROM genergy g JOIN tot t ON t.id = g.id GROUP BY 1, 2
           |), sig AS (
           |  SELECT a.id, CAST(a.total AS BIGINT) AS total,
           |         CAST(a.bits AS INTEGER) AS bits, CAST(r.w AS INTEGER) AS peak
           |  FROM agg a JOIN ranked r ON r.id = a.id AND r.rn = 1
           |), guarded AS (
           |  SELECT * FROM (
           |    SELECT id, total, bits, peak,
           |           count(*) OVER (PARTITION BY bits, peak) AS bucket_n
           |    FROM sig) WHERE bucket_n <= 1000
           |)
           |SELECT a.id AS media_id_a, b.id AS media_id_b,
           |  a.bits AS envelope_bits, a.peak AS peak_window,
           |  floor(CAST(least(a.total, b.total) AS DOUBLE)
           |        / nullif(greatest(a.total, b.total), 0) * 1000000 + 0.5) / 1000000 AS energy_ratio
           |FROM guarded a JOIN guarded b ON a.bits = b.bits AND a.peak = b.peak AND a.id < b.id
           |WHERE a.total * 10 <= b.total * 12 AND b.total * 10 <= a.total * 12
           |ORDER BY media_id_a, media_id_b""".stripMargin)
  )

  val queries: Seq[(String, Q)] = Seq(
    "multimodal_features" -> features,
    "multimodal_frame_dedup" -> frameDedup,
    "multimodal_decode" -> decodeQuery,
    "multimodal_perceptual_dedup" -> perceptualDedup,
    "multimodal_audio_envelope" -> audioEnvelope,
    "multimodal_audio_dedup" -> audioDedup)
}
