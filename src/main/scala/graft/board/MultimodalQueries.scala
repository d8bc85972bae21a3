package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.MultimodalOps
import SparkEntry._

/** Multimodal rows: container and media decoders over the synthetic
  * per-document payloads (images, audio, video, archives, PDF).
  */
object MultimodalQueries {

  /** The EXIF field oracle — shared verbatim by q_multimodal_tiff:
    * a standalone .tif file is exactly the TIFF block APP1 carries,
    * so the JPEG-wrapped and bare flavors must census identically
    * (the two-physical-paths-one-oracle pattern).
    */
  private val exifFieldsOracleSql: String =
      s"""SELECT doc_id,
        |       CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |       'C' || CAST(doc_id % 5 AS VARCHAR) AS make,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS BIGINT) AS has_gps,
        |       CASE WHEN doc_id % 4 = 0 THEN '' WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 90 END AS BIGINT) AS lat_deg,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 60 END AS BIGINT) AS lat_min,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 7 % 60 END AS BIGINT) AS lat_sec,
        |       CASE WHEN doc_id % 4 = 0 THEN '' WHEN (doc_id // 2) % 2 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 180 END AS BIGINT) AS lon_deg,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 3 % 60 END AS BIGINT) AS lon_min,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id * 11 % 60 END AS BIGINT) AS lon_sec
        |FROM documents ORDER BY doc_id""".stripMargin

  /** The PDF text oracle: page k shows the k-th 6-token window, for
    * both the simple-font and the CID-font flavors.
    */
  private val pdfTextOracleSql: String =
      raw"""WITH t AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
           |         1 + doc_id % 4 AS np
           |  FROM documents),
           |p AS (SELECT doc_id, toks, unnest(generate_series(0, np - 1)) AS k FROM t)
           |SELECT doc_id,
           |       CAST(k AS BIGINT) AS page_idx,
           |       coalesce(array_to_string(toks[k * 6 + 1 : k * 6 + 6], ' '), '') AS page_text
           |FROM p ORDER BY doc_id, page_idx""".stripMargin

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_multimodal_features", run = { (s, dir) =>
        // the honest subset of the stub pipeline (real payload
        // measurements); the fabricated decode dims stay spec-only
        MultimodalOps.pipeline(s, dir)
          .select("kind", "n_items", "total_bytes", "hist_bucket6_total")
      },
      // honest multimodal features only: items, payload bytes, and one
      // byte-histogram bucket (bucket 6 = bytes 0x60-0x6f), recomputed
      // byte-for-byte in DuckDB via the hex dump of the UTF-8 payload —
      // the fabricated decode dims stay out of the oracle surface
      oracle = _ =>
        """WITH m AS (
          |  SELECT 'text/' || lang AS kind,
          |         octet_length(encode(text)) AS n_bytes,
          |         len(list_filter(regexp_extract_all(hex(encode(text)), '..'),
          |             p -> p[1] = '6')) AS hist6
          |  FROM documents)
          |SELECT kind, CAST(count(*) AS BIGINT) AS n_items,
          |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          |       CAST(sum(hist6) AS BIGINT) AS hist_bucket6_total
          |FROM m GROUP BY kind ORDER BY kind""".stripMargin),
    QuerySpec("q_multimodal_decode", run = { (s, dir) =>
        // REAL codec path under the hash gate: synthesize a valid
        // 24-bit BMP per doc (header literal + first 192 text bytes as
        // pixels), decode through the batched partition-local decoder,
        // and emit the TRUE width/height/mean/histogram — every output
        // byte is a pure function of the text, so DuckDB replays it
        val media = MultimodalOps.synthesizeBmp(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 16, height = 4)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      // REAL BMP decode replay: the synthesized pixel region is the
      // first 192 UTF-8 bytes of the text zero-padded, so width/height/
      // n_bytes are header constants and mean/histogram are byte math
      // over the same text both engines see (hex() is uppercase, but
      // the bucket-6 prefix '6' is a digit)
      oracle = _ =>
        """WITH px AS (
          |  SELECT doc_id,
          |         regexp_extract_all(substr(hex(encode(text)), 1, 384), '..') AS pairs
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(16 AS BIGINT) AS width,
          |       CAST(4 AS BIGINT) AS height,
          |       CAST(246 AS BIGINT) AS n_bytes,
          |       CAST(COALESCE(list_sum(list_transform(pairs,
          |            p -> CAST(('0x' || p) AS INT))), 0) AS DOUBLE) / 192E0 AS mean_byte,
          |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_png", run = { (s, dir) =>
        // REAL PNG header decode under the hash gate: synthesize a
        // PNG-framed record per doc (signature + IHDR literal with
        // valid CRC, text bytes as the chunk stream), decode through
        // the same batched decoder, and emit the TRUE IHDR dims —
        // width/height are header constants and the stats region is
        // exactly the text bytes, so DuckDB replays every column
        val media = MultimodalOps.synthesizePng(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 24, height = 7)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      // REAL PNG IHDR decode replay: dims are header constants (the
      // synthesized 33-byte signature+IHDR prefix), n_bytes = 33 + text
      // bytes, and the stats region is exactly the UTF-8 text — byte
      // math over the same payload both engines see
      oracle = _ =>
        """WITH px AS (
          |  SELECT doc_id,
          |         regexp_extract_all(hex(encode(text)), '..') AS pairs
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(24 AS BIGINT) AS width,
          |       CAST(7 AS BIGINT) AS height,
          |       CAST(33 + len(pairs) AS BIGINT) AS n_bytes,
          |       CASE WHEN len(pairs) = 0 THEN 0E0
          |            ELSE CAST(list_sum(list_transform(pairs,
          |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
          |       END AS mean_byte,
          |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_png_pixel_stats", run = { (s, dir) =>
        // FULL compressed-pixel codec path under the hash gate: per
        // doc a complete valid PNG is encoded (closed-form RGB pixels,
        // per-scanline filters cycling all five spec types, real zlib
        // deflate) and decoded back (real inflate + unfilter), then
        // reduced to exact pixel stats.  The pixel content is a pure
        // function of (doc_id % 50, x, y, c), so DuckDB recomputes
        // every column from arithmetic alone — compression cancels
        // out of the oracle but NOT out of the measured path
        val media = MultimodalOps.synthesizePngPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 50)
        MultimodalOps.pngPixelFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("px_sum"), col("px_md5"), col("grad_bits"), col("grad_word"))
          .orderBy("doc_id")
      },
      // FULL PNG codec replay: the decoded pixels are a closed-form
      // function of (doc_id % 50, x, y, channel), so the oracle
      // recomputes pixel sum / identity md5 (over the lowercase hex
      // dump — same ASCII both engines) / gradient hash from arithmetic
      // alone; deflate+inflate must round-trip bit-exactly for the
      // Spark side to match.  Scanline index algebra: i = y*48 + x*3 + c
      // for w=16, h=12; the gradient grid is 15×12 (j = y*15 + x).
      oracle = _ => {
        val pv = "(k*31 + ((i % 48) // 3) * 7 + (i // 48) * 13 + (i % 3) * 101) % 256"
        def gray(xExpr: String) =
          s"((k*31 + $xExpr * 7 + (j // 15) * 13) % 256 + " +
            s"(k*31 + $xExpr * 7 + (j // 15) * 13 + 101) % 256 + " +
            s"(k*31 + $xExpr * 7 + (j // 15) * 13 + 202) % 256) // 3"
        s"""WITH keys AS (
           |  SELECT DISTINCT doc_id % 50 AS k FROM documents
           |), f AS (
           |  SELECT k,
           |    list_transform(range(0, 576), i -> $pv) AS pxs,
           |    list_transform(range(0, 180), j ->
           |      CASE WHEN ${gray("(j % 15 + 1)")} > ${gray("(j % 15)")}
           |           THEN 1 ELSE 0 END) AS gb
           |  FROM keys
           |), fs AS (
           |  SELECT k,
           |    CAST(list_sum(pxs) AS BIGINT) AS px_sum,
           |    md5(array_to_string(list_transform(pxs,
           |        v -> lpad(lower(to_hex(v)), 2, '0')), '')) AS px_md5,
           |    CAST(list_sum(gb) AS BIGINT) AS grad_bits,
           |    CAST(list_sum(list_transform(range(0, 63),
           |        j -> gb[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT) AS grad_word
           |  FROM f
           |)
           |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
           |       px_sum, px_md5, grad_bits, grad_word
           |FROM documents JOIN fs ON documents.doc_id % 50 = fs.k
           |ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_png_pixel_dedup", run = { (s, dir) =>
        // pixel-level image dedup (the thing byte-level hashing can't
        // do: these PNGs deflate the same pixels into identical files
        // only because the encoder is shared — pixel identity is the
        // decoded-domain key): decode → group by pixel md5 → groups
        val media = MultimodalOps.synthesizePngPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 50)
        MultimodalOps.pngPixelFeatures(media).toDF()
          .groupBy(col("px_md5"))
          .agg(count(lit(1)).as("n_items"), min(col("id")).as("keep_id"))
          .filter(col("n_items") > 1)
          .orderBy("keep_id")
      },
      oracle = _ =>
        """WITH keys AS (
          |  SELECT DISTINCT doc_id % 50 AS k FROM documents
          |), f AS (
          |  SELECT k, md5(array_to_string(list_transform(range(0, 576), i ->
          |      lpad(lower(to_hex(
          |        (k*31 + ((i % 48) // 3) * 7 + (i // 48) * 13 + (i % 3) * 101) % 256
          |      )), 2, '0')), '')) AS px_md5
          |  FROM keys
          |)
          |SELECT px_md5, CAST(count(*) AS BIGINT) AS n_items,
          |       CAST(min(doc_id) AS BIGINT) AS keep_id
          |FROM documents JOIN f ON documents.doc_id % 50 = f.k
          |GROUP BY px_md5 HAVING count(*) > 1
          |ORDER BY keep_id""".stripMargin),
    QuerySpec("q_wav_sample_stats", run = { (s, dir) =>
        // sample-level audio decode under the hash gate: per doc a
        // canonical PCM WAV (closed-form 16-bit samples, 2ch × 200
        // frames) goes through the real RIFF walk + LE sample
        // extraction; every stat is exact integer arithmetic the
        // oracle recomputes without the container
        val media = MultimodalOps.synthesizeWavPcm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          channels = 2, samples = 200, sampleRate = 8000, keyMod = 40)
        MultimodalOps.wavSampleStats(media).toDF()
          .select(col("id").as("doc_id"),
            col("channel").cast("long").as("channel"),
            col("n_samples"), col("s_sum"),
            col("s_min").cast("long").as("s_min"),
            col("s_max").cast("long").as("s_max"),
            col("zero_cross"))
          .orderBy("doc_id", "channel")
      },
      // sample-level WAV replay: samples are (k*13 + ch*7 + t*31) % 65536
      // − 32768 with k = doc_id % 40 — the RIFF walk and the 16-bit LE
      // wire format must both be right for Spark to reproduce these
      oracle = _ =>
        """WITH keys AS (
          |  SELECT DISTINCT doc_id % 40 AS k FROM documents
          |), f AS (
          |  SELECT k, ch.c AS channel,
          |    list_transform(range(0, 200),
          |      t -> (k*13 + ch.c*7 + t*31) % 65536 - 32768) AS sv
          |  FROM keys, (SELECT unnest(range(2)) AS c) ch
          |), fs AS (
          |  SELECT k, channel,
          |    CAST(200 AS BIGINT) AS n_samples,
          |    CAST(list_sum(sv) AS BIGINT) AS s_sum,
          |    CAST(list_min(sv) AS BIGINT) AS s_min,
          |    CAST(list_max(sv) AS BIGINT) AS s_max,
          |    CAST(list_sum(list_transform(range(1, 200), t ->
          |      CASE WHEN (sv[t+1] >= 0) <> (sv[t] >= 0) THEN 1 ELSE 0 END))
          |      AS BIGINT) AS zero_cross
          |  FROM f
          |)
          |SELECT doc_id, channel, n_samples, s_sum, s_min, s_max, zero_cross
          |FROM documents JOIN fs ON documents.doc_id % 40 = fs.k
          |ORDER BY doc_id, channel""".stripMargin),
    QuerySpec("q_multimodal_jpeg_pixels", run = { (s, dir) =>
        // REAL lossy-codec pixel path under the hash gate: per doc a
        // baseline JPEG (closed-form triangle-wave RGB source, JDK
        // ImageIO encode at fixed quality) is decoded back through
        // ImageIO and reduced to exact decoded-domain integers — pixel
        // sum, decoded-pixel md5, 4×4 average-pooled gray thumb md5
        // (the downsampled perceptual key), and exact error-vs-source
        // columns that pin decode fidelity (max_err ≤ 33 across keys).
        // DCT+entropy decode is not SQL-replayable in principle, so
        // the oracle joins doc_id % 30 against the golden per-key
        // literal table derived by graft.tools.JpegGolden — the
        // q_bpe_train golden-literal discipline.
        val media = MultimodalOps.synthesizeJpegPixels(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 30, quality = 0.9f)
        MultimodalOps.jpegPixelFeatures(media, keyMod = 30).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("px_sum"), col("px_md5"), col("thumb_md5"),
            col("sum_abs_err"), col("max_err").cast("long").as("max_err"))
          .orderBy("doc_id")
      },
      // JPEG decoded-domain replay: lossy DCT decode is not SQL
      // arithmetic, so the per-key decoded stats are golden literals
      // (derived by graft.tools.JpegGolden — same codec calls the
      // distributed path runs; keyMod=30 w=16 h=12 quality=0.9 thumb=4);
      // DuckDB replays only the doc_id → key mapping.  The error columns
      // double as the decode-fidelity pin: a broken codec path cannot
      // reproduce the decoded md5 AND a ≤33 max error vs the closed-form
      // source simultaneously.
      oracle = _ =>
        """WITH g(k, px_sum, px_md5, thumb_md5, sum_abs_err, max_err) AS (VALUES
          |  (0, 97337, '3464f80dea9f6298e9425f602c032deb', '12966dc246ff1fd5bca2512cef93e83a', 2085, 19),
          |  (1, 99097, 'ba4f7f667ce08c592876f661f54f63af', '37df2dc292862a303047683b43d9d575', 1999, 18),
          |  (2, 97131, '1bd7b12f1f08ed8d667fb4f300132937', '9f35c2ed413db7da531b2d9b4c3aae14', 1973, 18),
          |  (3, 91740, '809eec706a7c5df3cdf5fc9c7b60ab1e', '35948f9e74a152958db81efc53d4fd98', 1876, 29),
          |  (4, 83906, '10942a7f1fbd16df49af91b703295239', '0801ac7bbf0b9cfb554ed8b735b57a68', 2050, 24),
          |  (5, 74326, '60f9760f1ea478f7c837c45288aec386', '535f41373d9b3c87dbfe125ae85804eb', 2036, 28),
          |  (6, 64619, '696ba13d23d2114293e998bdb9c473af', 'dea75f567b4b3a40ea4fd3065c78eaad', 1919, 18),
          |  (7, 56160, '27f3ff09b0d4522c66a294088971e883', '4cb44b29ed172cd91d0822788e94cd4c', 1926, 21),
          |  (8, 50310, '8bfa461b29fb9e28e3b7418657a2df2f', '618ba33e197d5707de29f57b435104f6', 2012, 22),
          |  (9, 47780, '8e09937e8e0b64e2447661f7bcfd9792', '2d27507467f03dfea5b9eac4fa5df6f2', 1980, 19),
          |  (10, 48913, '2bd9fd40c2ec7b46a702dff15d800d71', '02f789c5b6dfddfe6532db04d13bfd1f', 2111, 19),
          |  (11, 53557, '5d04a20cba3b84c25c7737cd92b7d52f', 'c4efa4c119b7484f07ca91fad65ef0c8', 1955, 24),
          |  (12, 61004, '22f4d104e1b64877ee54a5bb0d4ff124', 'abfc5bb723c23461a30f0ca7d2c35d53', 2010, 28),
          |  (13, 70333, '09b61dfe7c74fe85cb1e803d15a2f545', 'b8ea8b4249f0ddea95ef629b60ad225f', 2051, 30),
          |  (14, 80226, '1333240b0fdab6f6bb9b9393d826025e', 'ea5f902f52336365071f5eefcfe87b53', 2008, 20),
          |  (15, 88933, '66341fe6a0875e8fe38f2f2a910a977c', '2614c69b5f991db8550df2a7ffc4e9c6', 1983, 26),
          |  (16, 95445, 'e17fe7f2e8f972b640e4a64c5290e9fc', 'af3f0df26d2679c37adf030808b3ccb3', 1959, 21),
          |  (17, 98829, 'ddc38562865c6d884ed7d66cddaa508a', '22d1a28c54b42b4983ad2ddc20daaaa6', 2009, 21),
          |  (18, 98592, '35868022f31800268df10124d8541c07', 'd8cf1afbd91c1f15319bd37e5c829f3a', 1906, 19),
          |  (19, 94641, '1cfa229f952b6960e63555b0f5cccee3', 'a6b33e254df61042383c7ac89eea599b', 1799, 19),
          |  (20, 87755, '89bb3df7d6a648a6f556e39340add82a', 'c1336b1f4954836a9705178538c7e196', 2121, 27),
          |  (21, 78667, 'b5e6f5186452f31b7f18960ccf0dd5d7', '5a4034fcb1fe4f454497a7615031d360', 2027, 32),
          |  (22, 69007, 'def792ef574e5e0e616bc15037dbb792', '7d30fe12ff1634c44f8995c4c011b9ec', 2049, 21),
          |  (23, 59680, 'b32b361a054b29d97d7ac2a9369a8d22', 'fc2beff927c17ff8b8910f388a63eee5', 2030, 26),
          |  (24, 52650, '71872b92f14a5e3e8a4f3ad430ba53cf', '5073abe9ead140f0b3d7b95abbe8b297', 1966, 21),
          |  (25, 48473, 'fe3adaad77ea59dce55637d2d81a1173', 'a2f22853831cd472cb3965cea64d9f1c', 2075, 17),
          |  (26, 47934, 'ed1307e0108ceee56e4e5d2f1e456b4e', '2bcb4d99df1db040d135b48f785c135d', 1970, 19),
          |  (27, 51002, 'a04bbbfe1da11c277c395c857a424829', '87044db656dc3b8afcb7e27b33ba99f6', 2056, 20),
          |  (28, 57330, 'f8aa8b07431b5432b1cf6de24cc75271', 'a7651394a5a55e78c2e554f15c95c46a', 1942, 29),
          |  (29, 66024, '5becaec117b30fb46d96ee6e68a4f668', 'fbddb95df06d0e96bc6a1323db30b20e', 2134, 33))
          |SELECT doc_id,
          |       CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
          |       CAST(px_sum AS BIGINT) AS px_sum, px_md5, thumb_md5,
          |       CAST(sum_abs_err AS BIGINT) AS sum_abs_err,
          |       CAST(max_err AS BIGINT) AS max_err
          |FROM documents JOIN g ON documents.doc_id % 30 = g.k
          |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_mp4", run = { (s, dir) =>
        // REAL ISO BMFF container parse under the hash gate: synthesize
        // an MP4-framed record per doc (ftyp + structurally complete
        // moov with true dims/duration, text bytes as the mdat
        // payload), walk the boxes through the same batched decoder,
        // and emit the TRUE tkhd dims + mvhd duration — header
        // constants + text-byte stats, so DuckDB replays every column
        val media = MultimodalOps.synthesizeMp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 320, height = 180, durationMs = 7125L)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("durationMs").as("duration_ms"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      // REAL MP4 box-walk replay: dims and duration are moov header
      // constants (the synthesized 240-byte ftyp+moov+mdat prefix),
      // n_bytes = 240 + text bytes, and the stats region is exactly the
      // mdat payload — the UTF-8 text
      oracle = _ =>
        """WITH px AS (
          |  SELECT doc_id,
          |         regexp_extract_all(hex(encode(text)), '..') AS pairs
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(320 AS BIGINT) AS width,
          |       CAST(180 AS BIGINT) AS height,
          |       CAST(7125 AS BIGINT) AS duration_ms,
          |       CAST(240 + len(pairs) AS BIGINT) AS n_bytes,
          |       CASE WHEN len(pairs) = 0 THEN 0E0
          |            ELSE CAST(list_sum(list_transform(pairs,
          |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
          |       END AS mean_byte,
          |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_fmp4", run = { (s, dir) =>
        // FRAGMENTED MP4 (streaming-packager layout): moov declares no
        // duration; the decoder accumulates it from the moof/traf/
        // tfdt/trun chain (1 + doc_id%3 fragments × 200 ms), and byte
        // stats span every fragment's mdat — all replayable arithmetic
        val media = MultimodalOps.synthesizeFmp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 640, height = 360)
        MultimodalOps.decodeFeatures(media).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("durationMs").as("duration_ms"),
            col("nBytes").cast("long").as("n_bytes"),
            col("meanByte").as("mean_byte"),
            element_at(col("byteHistogram"), 7).as("hist_bucket6"))
          .orderBy("doc_id")
      },
      // fragmented-MP4 replay: nFrags = 1 + doc_id%3, duration = the
      // tfdt+trun accumulation = nFrags × Fmp4FragMs, n_bytes = fixed
      // header + per-fragment moof/mdat overhead (size constants from
      // MultimodalOps.fmp4Sizes) + text bytes, stats over all mdats =
      // the text bytes
      oracle = _ => {
        val (hdr, moofMid, moofLast) = graft.ops.MultimodalOps.fmp4Sizes
        val fragMs = graft.ops.MultimodalOps.Fmp4FragMs
        s"""WITH px AS (
          |  SELECT doc_id,
          |         regexp_extract_all(hex(encode(text)), '..') AS pairs,
          |         CAST(1 + doc_id % 3 AS BIGINT) AS n_frags
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(640 AS BIGINT) AS width,
          |       CAST(360 AS BIGINT) AS height,
          |       n_frags * $fragMs AS duration_ms,
          |       CAST($hdr + (n_frags - 1) * $moofMid + $moofLast
          |            + 8 * n_frags + len(pairs) AS BIGINT) AS n_bytes,
          |       CASE WHEN len(pairs) = 0 THEN 0E0
          |            ELSE CAST(list_sum(list_transform(pairs,
          |                 p -> CAST(('0x' || p) AS INT))) AS DOUBLE) / len(pairs)
          |       END AS mean_byte,
          |       CAST(len(list_filter(pairs, p -> p[1] = '6')) AS BIGINT) AS hist_bucket6
          |FROM px ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_fmp4_kf", run = { (s, dir) =>
        // keyframes of a STREAMING-PACKAGER file: no stss — the §8.8.8
        // trun flag resolution (per-sample → first-sample-flags → tfhd
        // default) decides sync samples, and offsets accumulate real
        // trun sample sizes from the moof-based data_offset
        val media = MultimodalOps.synthesizeFmp4Kf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          width = 640, height = 360)
        MultimodalOps.fmp4Keyframes(media).toDF()
          .select(col("id").as("doc_id"),
            col("nFrags").as("n_frags"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"),
            col("kf3Off").as("kf3_off"))
          .orderBy("doc_id")
      },
      // fMP4 keyframe replay: keyframes live in trun sample flags (no
      // stss in a fragmented file) — first sample of every fragment sync
      // (even fragments via first-sample-flags, odd via per-sample
      // flags, which also mark the LAST sample), so offsets are the
      // moof-relative data_offset plus real size accumulation, all
      // replayable from the fmp4KfSizes constants + text length
      oracle = _ => {
        val (hdr, me, mo) = graft.ops.MultimodalOps.fmp4KfSizes
        val k = graft.ops.MultimodalOps.Fmp4SamplesPerFrag
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n,
          |         CAST(1 + doc_id % 3 AS BIGINT) AS nf
          |  FROM documents),
          |d AS (
          |  SELECT doc_id, n, nf,
          |         n // nf AS len0,
          |         (2 * n) // nf - (n // nf) AS len1
          |  FROM px)
          |SELECT doc_id,
          |       nf AS n_frags,
          |       nf + nf // 2 AS n_keyframes,
          |       CAST($hdr + $me + 8 AS BIGINT) AS kf1_off,
          |       CAST(CASE WHEN nf >= 2
          |            THEN $hdr + $me + 8 + len0 + $mo + 8
          |            ELSE -1 END AS BIGINT) AS kf2_off,
          |       CAST(CASE WHEN nf >= 2
          |            THEN $hdr + $me + 8 + len0 + $mo + 8
          |                 + ${k - 1} * (len1 // $k) + least(${k - 1}, len1 % $k)
          |            ELSE -1 END AS BIGINT) AS kf3_off
          |FROM d ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_h264_meta", run = { (s, dir) =>
        // H.264 metadata WITHOUT pixel decode: real exp-Golomb SPS
        // parse (profile/level/coded dims/crop-adjusted display dims)
        // out of the avcC box, keyframe byte offsets from
        // stss × stsz/stsc/stco arithmetic — the sampling surface a
        // video-corpus user needs even when the codec stays undecoded
        val media = MultimodalOps.synthesizeAvc1Mp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.h264Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"), col("level"),
            col("codedWidth").as("coded_width"),
            col("codedHeight").as("coded_height"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      // H.264 metadata replay: the synthesized avcC SPS encodes profile/
      // level/dims as pure functions of doc_id (the DECODER recovers them
      // by real exp-Golomb bitstream parsing + crop arithmetic), the
      // free-box pad makes the mdat payload offset a constant, and the
      // keyframe offsets are stco + stsz prefix sums the SQL replays
      oracle = _ => {
        val off = graft.ops.MultimodalOps.Avc1MdatPayloadOff
        val ns = graft.ops.MultimodalOps.Avc1SampleCount
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         320 + 2 * (doc_id % 5) AS w,
          |         2 + doc_id % 3 AS g
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS BIGINT) AS profile,
          |       CAST(CASE doc_id % 3 WHEN 0 THEN 30 WHEN 1 THEN 31 ELSE 41 END AS BIGINT) AS level,
          |       CAST(((w + 15) // 16) * 16 AS BIGINT) AS coded_width,
          |       CAST(192 AS BIGINT) AS coded_height,
          |       CAST(w AS BIGINT) AS width,
          |       CAST(180 + 2 * (doc_id % 3) AS BIGINT) AS height,
          |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
          |       CAST($off AS BIGINT) AS kf1_off,
          |       CAST($off + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
          |FROM px ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_av1_meta", run = { (s, dir) =>
        // AV1 metadata WITHOUT pixel decode: real §5.5 sequence-header
        // OBU bit parse (profile/level/bit-depth/max dims) + keyframe
        // census from the frame OBUs' uncompressed-header prefix via
        // the WebM SimpleBlock + §5.3.2 OBU walk — keyframe offsets
        // are temporal-unit starts (the sequence OBU a seek must feed)
        val media = MultimodalOps.synthesizeAv1Webm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.av1Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"), col("level"),
            col("bitDepth").as("bit_depth"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      // AV1 sequence-header replay: profile id%3, 10-bit when id%2=1,
      // level 4+id%4, exact max-frame dims; keyframe offsets fold in the
      // profile/bitdepth-dependent sequence-OBU length (a layout
      // constant per (profile, high) pair, CASE over id%6)
      oracle = _ => {
        val off = graft.ops.MultimodalOps.Av1FirstTuOff
        val ns = graft.ops.MultimodalOps.Av1FrameCount
        val ovh = graft.ops.MultimodalOps.Av1BlockOverhead + 3 +
          graft.ops.MultimodalOps.Av1FramePadBytes
        val seqLenCase = (0 until 6).map { m =>
          s"WHEN $m THEN ${graft.ops.MultimodalOps.av1SeqObuLen(m % 3, m % 2 == 1)}"
        }.mkString(" ")
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         2 + doc_id % 3 AS g,
          |         CASE doc_id % 6 $seqLenCase END AS sl
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(doc_id % 3 AS BIGINT) AS profile,
          |       CAST(4 + doc_id % 4 AS BIGINT) AS level,
          |       CAST(CASE WHEN doc_id % 2 = 1 THEN 10 ELSE 8 END AS BIGINT) AS bit_depth,
          |       CAST(640 + doc_id % 9 AS BIGINT) AS width,
          |       CAST(360 + doc_id % 7 AS BIGINT) AS height,
          |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
          |       CAST($off AS BIGINT) AS kf1_off,
          |       CAST($off + sl + $ovh * g + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
          |FROM px ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_vp9_meta", run = { (s, dir) =>
        // VP9 metadata WITHOUT pixel decode: real §6.2 uncompressed-
        // header bit parse (profile, bit depth, color space, TRUE
        // frame_size dims) + keyframe census from the WebM SimpleBlock
        // walk — the VP9 analog of the avcC/SPS surface
        val media = MultimodalOps.synthesizeVp9Webm(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vp9Meta(media).toDF()
          .select(col("id").as("doc_id"), col("profile"),
            col("bitDepth").as("bit_depth"),
            col("colorSpace").as("color_space"),
            col("width"), col("height"),
            col("nKeyframes").as("n_keyframes"),
            col("kf1Off").as("kf1_off"), col("kf2Off").as("kf2_off"))
          .orderBy("doc_id")
      },
      // VP9 uncompressed-header replay: all fields are the synthesis
      // parameterization (profile id%4, 10-bit for profiles ≥ 2, color
      // space 1+id%5, exact frame_size dims); keyframe offsets are the
      // fixed header pad + per-block overhead + the text-split frame
      // lengths — pure integer arithmetic
      oracle = _ => {
        val off = graft.ops.MultimodalOps.Vp9FirstFrameOff
        val ns = graft.ops.MultimodalOps.Vp9FrameCount
        val ovh = graft.ops.MultimodalOps.Vp9BlockOverhead +
          graft.ops.MultimodalOps.Vp9FramePadBytes
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         2 + doc_id % 3 AS g
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(doc_id % 4 AS BIGINT) AS profile,
          |       CAST(CASE WHEN doc_id % 4 >= 2 THEN 10 ELSE 8 END AS BIGINT) AS bit_depth,
          |       CAST(1 + doc_id % 5 AS BIGINT) AS color_space,
          |       CAST(426 + doc_id % 7 AS BIGINT) AS width,
          |       CAST(240 + doc_id % 5 AS BIGINT) AS height,
          |       CAST(1 + ${ns - 1} // g AS BIGINT) AS n_keyframes,
          |       CAST($off AS BIGINT) AS kf1_off,
          |       CAST($off + $ovh * g + g * (n // $ns) + least(g, n % $ns) AS BIGINT) AS kf2_off
          |FROM px ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_npy", run = { (s, dir) =>
        // NumPy array census: dtype/order/shape/exact data offset from
        // the v1 ASCII header — no array bytes read
        val media = MultimodalOps.synthesizeNpy(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.npyMeta(media).toDF()
          .select(col("id").as("doc_id"), col("descr"),
            col("fortranOrder").as("fortran_order"), col("rank"),
            col("nElements").as("n_elements"),
            col("itemSize").as("item_size"),
            col("dataOffset").as("data_offset"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // npy replay: the ASCII dict header reconstructs byte-for-byte, so
      // the 64-aligned data offset is digit arithmetic both engines do
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         CASE doc_id % 3 WHEN 0 THEN '<f4' WHEN 1 THEN '<f2' ELSE '<i8' END AS descr,
          |         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 8 END AS isz,
          |         1 + doc_id % 4 AS r, 3 + doc_id % 5 AS c
          |  FROM documents),
          |h AS (
          |  SELECT px.*, length('{''descr'': ''' || descr ||
          |         ''', ''fortran_order'': False, ''shape'': (' ||
          |         CAST(r AS VARCHAR) || ', ' || CAST(c AS VARCHAR) || '), }') AS dlen
          |  FROM px)
          |SELECT doc_id, descr,
          |       false AS fortran_order,
          |       CAST(2 AS BIGINT) AS rank,
          |       CAST(r * c AS BIGINT) AS n_elements,
          |       CAST(isz AS BIGINT) AS item_size,
          |       CAST(((10 + dlen + 1 + 63) // 64) * 64 AS BIGINT) AS data_offset,
          |       CAST(r * c * isz AS BIGINT) AS n_bytes
          |FROM h ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_safetensors", run = { (s, dir) =>
        // checkpoint-lake census: tensor names/dtypes/shapes/byte
        // spans from the safetensors JSON header — no weight bytes read
        val media = MultimodalOps.synthesizeSafetensors(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.safetensorsMeta(media).toDF()
          .select(col("id").as("doc_id"), col("tensor"), col("dtype"),
            col("rank"), col("nElements").as("n_elements"),
            col("byteOffset").as("byte_offset"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id", "byte_offset")
      },
      // safetensors replay: the JSON header both engines can RECONSTRUCT
      // byte-for-byte (ASCII, deterministic field order), so even the
      // absolute byte offsets — 8 + header length + running data offset —
      // are exact id arithmetic plus a string_agg length
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, 1 + doc_id % 4 AS nt, 3 + doc_id % 5 AS cols FROM documents),
          |ks AS (SELECT doc_id, cols, unnest(generate_series(0, nt - 1)) AS k FROM px),
          |t AS (SELECT doc_id, k, cols,
          |        CASE WHEN (doc_id + k) % 2 = 0 THEN 'F32' ELSE 'F16' END AS dtype,
          |        (k + 1) * cols AS n_el,
          |        CASE WHEN (doc_id + k) % 2 = 0 THEN 4 ELSE 2 END AS bp
          |      FROM ks),
          |c AS (SELECT doc_id, k, dtype, n_el, cols, n_el * bp AS nb,
          |        coalesce(sum(n_el * bp) OVER (PARTITION BY doc_id ORDER BY k
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS datoff
          |      FROM t),
          |f AS (SELECT doc_id, k, dtype, n_el, nb, datoff,
          |        '"t' || CAST(k AS VARCHAR) || '":{"dtype":"' || dtype || '","shape":[' ||
          |        CAST(k + 1 AS VARCHAR) || ',' || CAST(cols AS VARCHAR) ||
          |        '],"data_offsets":[' || CAST(datoff AS VARCHAR) || ',' ||
          |        CAST(datoff + nb AS VARCHAR) || ']}' AS frag
          |      FROM c),
          |h AS (SELECT doc_id,
          |        length('{"__metadata__":{"format":"pt"},' ||
          |               string_agg(frag, ',' ORDER BY k) || '}') AS hlen
          |      FROM f GROUP BY doc_id)
          |SELECT f.doc_id,
          |       't' || CAST(k AS VARCHAR) AS tensor,
          |       dtype,
          |       CAST(2 AS BIGINT) AS rank,
          |       CAST(n_el AS BIGINT) AS n_elements,
          |       CAST(8 + h.hlen + f.datoff AS BIGINT) AS byte_offset,
          |       CAST(nb AS BIGINT) AS n_bytes
          |FROM f JOIN h ON f.doc_id = h.doc_id
          |ORDER BY f.doc_id, byte_offset""".stripMargin),
    QuerySpec("q_webdataset_samples", run = { (s, dir) =>
        // the member table feeding the distributed aggregation every
        // shard pipeline runs: group members into SAMPLES by basename
        // key (the WebDataset convention) — count, extension set, bytes
        val media = MultimodalOps.synthesizeTarShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarMembers(media).toDF()
          .select(col("id").as("doc_id"),
            regexp_extract(col("name"), "^(.*)\\.[^.]+$", 1).as("sample_key"),
            regexp_extract(col("name"), "\\.([^.]+)$", 1).as("ext"),
            col("size"))
          .groupBy("doc_id", "sample_key")
          .agg(count(lit(1)).as("n_members"),
            array_join(array_sort(collect_list(col("ext"))), ",").as("extensions"),
            sum(col("size")).as("n_bytes"))
          .orderBy("doc_id", "sample_key")
      },
      // WebDataset sample replay: members pair into samples by basename
      // key; per sample the member count, extension set, and byte total
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
          |  FROM documents),
          |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px)
          |SELECT doc_id,
          |       's' || CAST(k AS VARCHAR) AS sample_key,
          |       CAST(2 AS BIGINT) AS n_members,
          |       'cls,txt' AS extensions,
          |       CAST(n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END + 1 AS BIGINT) AS n_bytes
          |FROM ks ORDER BY doc_id, sample_key""".stripMargin),
    QuerySpec("q_multimodal_tar_members", run = { (s, dir) =>
        // WebDataset shard census: POSIX ustar member walk with
        // verified header checksums — names, sizes, and the exact
        // data offsets a random-access shard reader seeks to
        val media = MultimodalOps.synthesizeTarShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      // WebDataset tar replay: member names/sizes are the synthesis
      // parameterization; each member consumes 512 (header) +
      // 512-rounded data, so the exact data offsets replay as a
      // running sum over the member sequence
      oracle = _ => tarMembersOracleSql),
    QuerySpec("q_multimodal_targz_members", run = { (s, dir) =>
        // compressed-shard census: gzip inflate (bomb-guarded) + the
        // same verified ustar walk — the compression layer must not
        // change what the reader sees
        val media = MultimodalOps.synthesizeTarGzShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarGzMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      // .tar.gz replay: the gzip layer must be INVISIBLE to the member
      // table — same oracle arithmetic as the uncompressed shard
      oracle = _ => tarMembersOracleSql),
    QuerySpec("q_multimodal_tarzst_members", run = { (s, dir) =>
        // the zstd-compressed shard flavor: same bomb-guarded inflate
        // discipline, same walk, same oracle as raw/gzip
        val media = MultimodalOps.synthesizeTarZstShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tarZstMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("size"), col("dataOffset").as("data_offset"))
          .orderBy("doc_id", "member_idx")
      },
      // .tar.zst replay: the zstd layer must be INVISIBLE to the member
      // table — same oracle arithmetic as the raw and gzip shards
      oracle = _ => tarMembersOracleSql),
    QuerySpec("q_multimodal_id3", run = { (s, dir) =>
        // ID3v2.3 text-frame census: real tag walk (syncsafe header,
        // plain-u32 v2.3 frame sizes, ISO-8859-1 + UTF-8 encodings) —
        // audio attribution/provenance metadata, the EXIF sibling
        val media = MultimodalOps.synthesizeMp3Id3(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.id3Meta(media).toDF()
          .select(col("id").as("doc_id"), col("title"), col("artist"),
            col("album"), col("nFrames").as("n_frames"),
            col("tagBytes").as("tag_bytes"))
          .orderBy("doc_id")
      },
      // ID3 replay, BOTH wire versions: even ids carry v2.3 tags (plain
      // u32 frame sizes), odd ids v2.4 (syncsafe frame sizes) with an
      // extra ≥128-byte TXXX pad frame — the size where the two
      // encodings diverge, so a parser applying the wrong rule mis-hops
      // and this oracle catches it.  Tag fields are the synthesis
      // parameterization, the album is the shared first-token rule, and
      // the tag byte count folds the 10-byte frame headers + encoding
      // bytes (+ the v2.4 arm's 138 + id%64 TXXX bytes).
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         coalesce(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[1],
          |                  'untitled') AS alb
          |  FROM documents)
          |SELECT doc_id,
          |       'doc ' || CAST(doc_id AS VARCHAR) AS title,
          |       'src' || CAST(doc_id % 5 AS VARCHAR) AS artist,
          |       alb AS album,
          |       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS n_frames,
          |       CAST(51 + length(CAST(doc_id AS VARCHAR)) + octet_length(encode(alb))
          |            + CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 138 + doc_id % 64 END
          |         AS BIGINT) AS tag_bytes
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_vtt_cues", run = { (s, dir) =>
        // WebVTT cue extraction: real timestamp/settings/NOTE parsing
        // over synthesized caption files — the video-text alignment
        // rows a multimodal pairing pipeline joins on
        val vtt = MultimodalOps.synthesizeVtt(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vttCues(vtt, "id", "vtt").toDF()
          .select(col("id").as("doc_id"), col("cueIdx").as("cue_idx"),
            col("startMs").as("start_ms"), col("endMs").as("end_ms"),
            col("text").as("cue_text"))
          .orderBy("doc_id", "cue_idx")
      },
      // WebVTT replay: cue count/timings are id arithmetic, cue text is
      // the same token-window slice both engines compute from the raw
      // document (the q_doc_chunk tokenization pairing)
      oracle = _ =>
        s"""WITH t AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
          |         1 + doc_id % 4 AS nc
          |  FROM documents),
          |c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM t)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS cue_idx,
          |       CAST(k * (2000 + doc_id % 500) AS BIGINT) AS start_ms,
          |       CAST(k * (2000 + doc_id % 500) + 1500 + doc_id % 300 AS BIGINT) AS end_ms,
          |       coalesce(array_to_string(toks[k * 5 + 1 : k * 5 + 5], ' '), '') AS cue_text
          |FROM c ORDER BY doc_id, cue_idx""".stripMargin),
    QuerySpec("q_multimodal_gguf", run = { (s, dir) =>
        // GGUF checkpoint census: KV walk (alignment from the file's
        // own metadata) + per-tensor exact byte spans, no weight reads
        val media = MultimodalOps.synthesizeGguf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.ggufTensors(media).toDF()
          .select(col("id").as("doc_id"), col("tensorIdx").as("tensor_idx"),
            col("name"), col("typeId").as("type_id"),
            col("nDims").as("n_dims"), col("nElements").as("n_elements"),
            col("relOffset").as("rel_offset"),
            col("absOffset").as("abs_offset"),
            col("nTensorBytes").as("n_tensor_bytes"),
            col("kvCount").as("kv_count"))
          .orderBy("doc_id", "tensor_idx")
      },
      // GGUF replay: tensor table as id arithmetic — 52-byte infos, the
      // fixed 102-byte header+KV prefix, 32-aligned running offsets
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, 1 + doc_id % 3 AS nt FROM documents),
          |ks AS (SELECT doc_id, nt, unnest(generate_series(0, nt - 1)) AS t FROM px),
          |m AS (
          |  SELECT doc_id, nt, t,
          |         (1 + (doc_id + t) % 8) * (1 + (doc_id + t) % 16) AS n_elements,
          |         (doc_id + t) % 2 AS type_id
          |  FROM ks),
          |d AS (
          |  SELECT doc_id, nt, t, n_elements, type_id,
          |         n_elements * (4 - 2 * type_id) AS nb
          |  FROM m),
          |o AS (
          |  SELECT doc_id, nt, t, n_elements, type_id, nb,
          |         coalesce(sum((nb + 31) // 32 * 32)
          |           OVER (PARTITION BY doc_id ORDER BY t
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rel_off,
          |         (102 + 52 * nt + 31) // 32 * 32 AS data_start
          |  FROM d)
          |SELECT doc_id,
          |       CAST(t AS BIGINT) AS tensor_idx,
          |       'blk.' || CAST(t AS VARCHAR) || '.weight' AS name,
          |       CAST(type_id AS BIGINT) AS type_id,
          |       CAST(2 AS BIGINT) AS n_dims,
          |       CAST(n_elements AS BIGINT) AS n_elements,
          |       CAST(rel_off AS BIGINT) AS rel_offset,
          |       CAST(data_start + rel_off AS BIGINT) AS abs_offset,
          |       CAST(nb AS BIGINT) AS n_tensor_bytes,
          |       CAST(2 AS BIGINT) AS kv_count
          |FROM o ORDER BY doc_id, tensor_idx""".stripMargin),
    QuerySpec("q_multimodal_avro_blocks", run = { (s, dir) =>
        // Avro object-container census: metadata-map codec parse +
        // block walk with every sync marker verified against the
        // header's — record counts from the framing, no record decode
        val media = MultimodalOps.synthesizeAvro(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.avroBlocks(media).toDF()
          .select(col("id").as("doc_id"), col("blockIdx").as("block_idx"),
            col("nRecords").as("n_records"), col("dataSize").as("data_size"),
            col("offset"), col("codec"))
          .orderBy("doc_id", "block_idx")
      },
      // Avro replay: block table as id arithmetic INCLUDING the zigzag
      // varint widths (1 byte below 64, 2 below 8192, 3 below 2^20 —
      // enough for any document in the corpus), fixed 58-byte header
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
          |  FROM documents),
          |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
          |m AS (
          |  SELECT doc_id, k,
          |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS take
          |  FROM ks),
          |d AS (
          |  SELECT doc_id, k, take,
          |         (CASE WHEN take < 64 THEN 1 WHEN take < 8192 THEN 2 ELSE 3 END)
          |           + take AS data_size
          |  FROM m),
          |o AS (
          |  SELECT doc_id, k, data_size,
          |         58 + coalesce(sum(1 +
          |             (CASE WHEN data_size < 64 THEN 1
          |                   WHEN data_size < 8192 THEN 2 ELSE 3 END)
          |             + data_size + 16)
          |           OVER (PARTITION BY doc_id ORDER BY k
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM d)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS block_idx,
          |       CAST(1 AS BIGINT) AS n_records,
          |       CAST(data_size AS BIGINT) AS data_size,
          |       CAST(off AS BIGINT) AS offset,
          |       'null' AS codec
          |FROM o ORDER BY doc_id, block_idx""".stripMargin),
    QuerySpec("q_multimodal_tfrecords", run = { (s, dir) =>
        // TFRecord shard census: length-framed walk with BOTH masked
        // CRC-32Cs verified per record — the TF training-shard seek
        // table
        val media = MultimodalOps.synthesizeTfRecordShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.tfRecords(media).toDF()
          .select(col("id").as("doc_id"), col("recIdx").as("rec_idx"),
            col("offset"), col("length"))
          .orderBy("doc_id", "rec_idx")
      },
      // TFRecord replay: record table as id arithmetic; offsets are a
      // running sum of (16-byte framing + payload)
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 4 AS ns
          |  FROM documents),
          |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
          |m AS (
          |  SELECT doc_id, k,
          |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS len
          |  FROM ks),
          |o AS (
          |  SELECT doc_id, k, len,
          |         coalesce(sum(16 + len)
          |           OVER (PARTITION BY doc_id ORDER BY k
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM m)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS rec_idx,
          |       CAST(off AS BIGINT) AS offset,
          |       CAST(len AS BIGINT) AS length
          |FROM o ORDER BY doc_id, rec_idx""".stripMargin),
    QuerySpec("q_multimodal_avif", run = { (s, dir) =>
        // AVIF census: ftyp brand gate + meta/iprp/ipco box walk to
        // the first ispe — dims, item count, primary item, no decode
        val media = MultimodalOps.synthesizeAvif(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.avifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("nItems").as("n_items"),
            col("primaryItem").as("primary_item"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // AVIF replay: every census field is id arithmetic; the byte count
      // folds the fixed box layout (24 ftyp + 89 meta + 41 per item +
      // 8 mdat header) around the text payload
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n,
          |         1 + doc_id % 2 AS ni
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(1 + doc_id % 1200 AS BIGINT) AS width,
          |       CAST(1 + doc_id % 900 AS BIGINT) AS height,
          |       CAST(ni AS BIGINT) AS n_items,
          |       CAST(1 + doc_id % 7 AS BIGINT) AS primary_item,
          |       CAST(121 + 41 * ni + n AS BIGINT) AS n_bytes
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_zip_members", run = { (s, dir) =>
        // ZIP shard census: EOCD-first central-directory walk (the
        // spec-correct read path) with local-header signature checks —
        // names, methods, sizes, and the exact seek offsets
        val media = MultimodalOps.synthesizeZipShard(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.zipMembers(media).toDF()
          .select(col("id").as("doc_id"), col("memberIdx").as("member_idx"),
            col("name"), col("method"),
            col("compSize").as("comp_size"),
            col("uncompSize").as("uncomp_size"),
            col("localOff").as("local_off"))
          .orderBy("doc_id", "member_idx")
      },
      // ZIP replay: the tar oracle's sibling — member table as id
      // arithmetic, local-header offsets as a running sum of
      // (30-byte header + 6-byte name + data)
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n, 1 + doc_id % 3 AS ns
          |  FROM documents),
          |ks AS (SELECT doc_id, n, ns, unnest(generate_series(0, ns - 1)) AS k FROM px),
          |m AS (
          |  SELECT doc_id, k, 0 AS sub, 's' || CAST(k AS VARCHAR) || '.txt' AS name,
          |         n // ns + CASE WHEN k < n % ns THEN 1 ELSE 0 END AS size
          |  FROM ks
          |  UNION ALL
          |  SELECT doc_id, k, 1 AS sub, 's' || CAST(k AS VARCHAR) || '.cls' AS name,
          |         1 AS size
          |  FROM ks),
          |o AS (
          |  SELECT doc_id, name, size,
          |         row_number() OVER (PARTITION BY doc_id ORDER BY k, sub) - 1 AS member_idx,
          |         coalesce(sum(30 + 6 + size)
          |           OVER (PARTITION BY doc_id ORDER BY k, sub
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_off
          |  FROM m)
          |SELECT doc_id,
          |       CAST(member_idx AS BIGINT) AS member_idx,
          |       name,
          |       CAST(0 AS BIGINT) AS method,
          |       CAST(size AS BIGINT) AS comp_size,
          |       CAST(size AS BIGINT) AS uncomp_size,
          |       CAST(local_off AS BIGINT) AS local_off
          |FROM o ORDER BY doc_id, member_idx""".stripMargin),
    QuerySpec("q_multimodal_hls_segments", run = { (s, dir) =>
        // HLS media-playlist census: per-segment URI, rolling media
        // sequence, and EXACT integer-ms EXTINF durations (decimal-
        // string parse, no float ever exists)
        val m3u8 = MultimodalOps.synthesizeHls(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        MultimodalOps.hlsSegments(m3u8, "id", "m3u8").toDF()
          .select(col("id").as("doc_id"), col("segIdx").as("seg_idx"),
            col("seqNo").as("seq_no"),
            col("durationMs").as("duration_ms"), col("uri"))
          .orderBy("doc_id", "seg_idx")
      },
      // HLS replay: segment table as pure id arithmetic (durations were
      // synthesized as exact-millisecond decimal strings)
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, 1 + doc_id % 6 AS nsegs FROM documents),
          |ks AS (SELECT doc_id, nsegs, unnest(generate_series(0, nsegs - 1)) AS k FROM px)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS seg_idx,
          |       CAST(doc_id % 100 + k AS BIGINT) AS seq_no,
          |       CAST(1500 + (doc_id + k) % 800 AS BIGINT) AS duration_ms,
          |       'seg' || CAST(k AS VARCHAR) || '.ts' AS uri
          |FROM ks ORDER BY doc_id, seg_idx""".stripMargin),
    QuerySpec("q_multimodal_srt_cues", run = { (s, dir) =>
        // SubRip cue extraction: the comma-millisecond VTT sibling,
        // with the declared sequence number carried through
        val srt = MultimodalOps.synthesizeSrt(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.srtCues(srt, "id", "srt").toDF()
          .select(col("id").as("doc_id"), col("cueIdx").as("cue_idx"),
            col("seqNo").as("seq_no"),
            col("startMs").as("start_ms"), col("endMs").as("end_ms"),
            col("text").as("cue_text"))
          .orderBy("doc_id", "cue_idx")
      },
      // SubRip replay: same token-slice pattern as the VTT oracle, with
      // the declared sequence number and comma-millisecond timings
      oracle = _ =>
        s"""WITH t AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
          |         1 + doc_id % 5 AS nc
          |  FROM documents),
          |c AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM t)
          |SELECT doc_id,
          |       CAST(k AS BIGINT) AS cue_idx,
          |       CAST(k + 1 AS BIGINT) AS seq_no,
          |       CAST(k * (1800 + doc_id % 400) AS BIGINT) AS start_ms,
          |       CAST(k * (1800 + doc_id % 400) + 1200 + doc_id % 250 AS BIGINT) AS end_ms,
          |       coalesce(array_to_string(toks[k * 4 + 1 : k * 4 + 4], ' '), '') AS cue_text
          |FROM c ORDER BY doc_id, cue_idx""".stripMargin),
    QuerySpec("q_media_sniff", run = { (s, dir) =>
        // intake classification: a MIXED corpus (nine formats by
        // id % 9) classified by magic bytes BEFORE any per-format
        // census — the dispatch stage a lake with dishonest
        // extensions needs; the EPUB arm pins the ZIP second-stage
        // refine (zip:epub routes to the OCF census, plain zips stay).
        // ONE round-robin fan-out shared by all nine arms:
        // MultimodalOps.spread detects it (Filter over Repartition)
        // and skips its per-arm exchange — nine arm exchanges
        // measured +0.3-0.75 s on this row (r18)
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .repartition(math.max(1, s.sparkContext.defaultParallelism))
        def arm(m: Int)(f: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.Dataset[MultimodalOps.MediaRecord]) =
          f(docs.filter(pmod(col("doc_id"), lit(9)) === m))
        val mixed = Seq(
          arm(0)(d => MultimodalOps.synthesizePdf(d, "doc_id", "text")),
          arm(1)(d => MultimodalOps.synthesizeTarShard(d, "doc_id", "text")),
          arm(2)(d => MultimodalOps.synthesizeWarcGz(d, "doc_id", "text")),
          arm(3)(d => MultimodalOps.synthesizeJsonlZstShard(d, "doc_id", "text")),
          arm(4)(d => MultimodalOps.synthesizeWarc(d, "doc_id", "text")),
          arm(5)(d => MultimodalOps.synthesizeMp3Id3(d, "doc_id", "text")),
          arm(6)(d => MultimodalOps.synthesizeZipShard(d, "doc_id", "text")),
          arm(7)(d => MultimodalOps.synthesizeArrowIpc(d, "doc_id", "text")),
          arm(8)(d => MultimodalOps.synthesizeEpub(d, "doc_id", "text")))
          .reduce(_ union _)
        MultimodalOps.sniff(mixed)
          .select(col("id").as("doc_id"), col("kind"))
          .orderBy("doc_id")
      },
      // sniff replay: the synthesized arm IS the expected magic
      oracle = _ =>
        s"""SELECT doc_id,
          |       CASE doc_id % 9
          |         WHEN 0 THEN 'pdf' WHEN 1 THEN 'tar' WHEN 2 THEN 'gzip'
          |         WHEN 3 THEN 'zstd' WHEN 4 THEN 'warc' WHEN 5 THEN 'mp3-id3'
          |         WHEN 6 THEN 'zip' WHEN 7 THEN 'arrow-ipc'
          |         ELSE 'zip:epub' END AS kind
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("q_epub_meta", run = { (s, dir) =>
        // EPUB census (OCF): the ZIP walk + the container rules a
        // reader depends on — mimetype-first-and-stored, container.xml
        // → OPF path, manifest/spine counts
        val media = MultimodalOps.synthesizeEpub(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.epubMeta(media).toDF()
          .select(col("id").as("doc_id"), col("opfPath").as("opf_path"),
            col("nMembers").as("n_members"),
            col("nManifest").as("n_manifest"),
            col("nSpine").as("n_spine"))
          .orderBy("doc_id")
      },
      // EPUB replay: container path constant by synthesis, counts are
      // id arithmetic (3 fixed members + one chapter per spine item)
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 3 AS n FROM documents)
          |SELECT doc_id,
          |       'OEBPS/content.opf' AS opf_path,
          |       CAST(3 + n AS BIGINT) AS n_members,
          |       CAST(n AS BIGINT) AS n_manifest,
          |       CAST(n AS BIGINT) AS n_spine
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_pdf_meta", run = { (s, dir) =>
        // PDF structure census: header version gate, startxref window,
        // classic xref walk with every in-use offset bounds-checked,
        // chain coverage == /Size, page-tree /Count resolved through
        // the xref — the document-corpus intake metadata
        val media = MultimodalOps.synthesizePdf(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      // PDF replay: version constant, object count = catalog + page
      // tree + nPages pages + nPages content streams + the free entry
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
          |SELECT doc_id,
          |       '1.4' AS version,
          |       CAST(3 + 2 * np AS BIGINT) AS n_objects,
          |       CAST(np AS BIGINT) AS n_pages,
          |       CAST(1 AS BIGINT) AS n_sections,
          |       'classic' AS layout
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_pdf_meta_enc", run = { (s, dir) =>
        // encrypted-PDF detection: even ids carry a standard-
        // security-handler /Encrypt trailer (+1 object in /Size) —
        // the census surfaces encrypted=true with the page count
        // still resolved (dicts are never encrypted, only
        // strings/streams), making the extraction drop ATTRIBUTABLE
        // instead of indistinguishable from bit rot
        val media = MultimodalOps.synthesizePdfEncrypted(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("encrypted").cast("long").as("encrypted"))
          .orderBy("doc_id")
      },
      // encrypted-arm replay: even ids add the /Encrypt dict object
      // (+1 in /Size) and census as encrypted=1, pages still resolved
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
          |SELECT doc_id,
          |       '1.4' AS version,
          |       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END
          |            + 2 * np AS BIGINT) AS n_objects,
          |       CAST(np AS BIGINT) AS n_pages,
          |       CAST(doc_id % 2 = 0 AS BIGINT) AS encrypted
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_pdf_text", run = { (s, dir) =>
        // the PDF CONTENT step (the document-corpus sibling of the
        // WARC content path): page tree resolved through the xref
        // chain, content streams decoded (FlateDecode on odd ids),
        // shown text extracted from Tj / TJ / hex-string operators —
        // one row per page, text replaying the 6-token-window rule
        val media = MultimodalOps.synthesizePdfText(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfPageTexts(media).toDF()
          .select(col("id").as("doc_id"), col("pageIdx").as("page_idx"),
            col("text").as("page_text"))
          .orderBy("doc_id", "page_idx")
      },
      // PDF text replay: page k shows the k-th 6-token window — the
      // same token-slice convention as the VTT/SRT cue oracles; the
      // literal/TJ/hex show forms and the flate layer must be
      // byte-invisible
      oracle = _ => pdfTextOracleSql),
    QuerySpec("q_pdf_text_cid", run = { (s, dir) =>
        // the COMPOSITE-font (Type0/CID) text layout — what modern
        // Unicode-producing tools emit by default: odd pages show
        // 2-byte REMAPPED codes that only the font's ToUnicode CMap
        // (bfchar + both bfrange forms) can restore, even pages stay
        // simple-font — so Tf font tracking, CMap decode, and
        // /Resources inheritance from the Pages node must all work
        // for the text to replay
        val media = MultimodalOps.synthesizePdfCid(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfPageTexts(media).toDF()
          .select(col("id").as("doc_id"), col("pageIdx").as("page_idx"),
            col("text").as("page_text"))
          .orderBy("doc_id", "page_idx")
      },
      // CID text replay: identical window rule — the Type0 remapped
      // codes, ToUnicode CMap, and resources inheritance must be
      // text-invisible end to end
      oracle = _ => pdfTextOracleSql),
    QuerySpec("q_pdf_meta_xrs", run = { (s, dir) =>
        // PDF >= 1.5 cross-reference STREAMS — the modern-producer
        // default layout: /W field widths, /Index subsections,
        // FlateDecode with PNG predictors, type-2 entries resolved
        // through /Type/ObjStm object streams; the catalog uses the
        // no-whitespace /Type/Catalog form the tokenizer must accept
        val media = MultimodalOps.synthesizePdfXrs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      // xref-stream replay: even ids add the object stream (+1 object);
      // the xref stream object itself is always one more
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
          |SELECT doc_id,
          |       '1.5' AS version,
          |       CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 4 END
          |            + 2 * np AS BIGINT) AS n_objects,
          |       CAST(np AS BIGINT) AS n_pages,
          |       CAST(1 AS BIGINT) AS n_sections,
          |       'xref-stream' AS layout
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_pdf_meta_incr", run = { (s, dir) =>
        // incrementally-updated classic PDF (an editor re-save): the
        // census follows the trailer /Prev chain, counts coverage
        // across BOTH sections against the newest /Size, and resolves
        // the REPLACED catalog (newest entry wins)
        val media = MultimodalOps.synthesizePdfIncremental(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.pdfMeta(media).toDF()
          .select(col("id").as("doc_id"), col("version"),
            col("nObjects").as("n_objects"), col("nPages").as("n_pages"),
            col("nSections").as("n_sections"), col("layout"))
          .orderBy("doc_id")
      },
      // incremental replay: the appended revision adds one info object
      // (/Size + 1) and a second xref section chained via /Prev
      oracle = _ =>
        s"""WITH px AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents)
          |SELECT doc_id,
          |       '1.4' AS version,
          |       CAST(4 + 2 * np AS BIGINT) AS n_objects,
          |       CAST(np AS BIGINT) AS n_pages,
          |       CAST(2 AS BIGINT) AS n_sections,
          |       'classic' AS layout
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_webp", run = { (s, dir) =>
        // WebP header census: RIFF chunk walk + per-flavor (VP8/VP8L/
        // VP8X) dimension parse — no pixel decode
        val media = MultimodalOps.synthesizeWebp(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.webpMeta(media).toDF()
          .select(col("id").as("doc_id"), col("format"),
            col("width"), col("height"), col("hasAlpha").as("has_alpha"),
            col("nChunks").as("n_chunks"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // WebP replay: every census field is id arithmetic; the byte count
      // is the RIFF header + the fixed-size flavor chunk (VP8L pads its
      // odd 5-byte body) + the even-padded payload chunk
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
          |SELECT doc_id,
          |       CASE doc_id % 3 WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' ELSE 'VP8X' END AS format,
          |       CAST(1 + doc_id % 997 AS BIGINT) AS width,
          |       CAST(1 + doc_id % 737 AS BIGINT) AS height,
          |       CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 2 END AS BIGINT) AS has_alpha,
          |       CAST(2 AS BIGINT) AS n_chunks,
          |       CAST(12 + CASE doc_id % 3 WHEN 1 THEN 14 ELSE 18 END
          |              + 8 + n + n % 2 AS BIGINT) AS n_bytes
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_gif", run = { (s, dir) =>
        // GIF89a structure census: screen dims, color-table size,
        // frame count, and total animation delay — the LZW payload is
        // hopped via the format's own sub-block lengths, not decoded
        val media = MultimodalOps.synthesizeGif(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.gifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("nColors").as("n_colors"), col("nFrames").as("n_frames"),
            col("totalDelayCs").as("total_delay_cs"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // GIF replay: dims/colors/frames/delay are id arithmetic; the byte
      // count replays the per-frame sub-block split (255-byte blocks,
      // one length byte each, terminator per frame)
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         1 + doc_id % 3 AS nf,
          |         1 << (1 + CAST(doc_id % 8 AS INTEGER)) AS ncol
          |  FROM documents),
          |fr AS (
          |  SELECT doc_id, n, nf, ncol, unnest(generate_series(0, nf - 1)) AS f
          |  FROM px),
          |fb AS (
          |  SELECT doc_id, nf, ncol,
          |         n // nf + CASE WHEN f < n % nf THEN 1 ELSE 0 END AS take
          |  FROM fr),
          |agg AS (
          |  SELECT doc_id, nf, ncol,
          |         sum(8 + 10 + 1 + take + (take + 254) // 255 + 1) AS frame_bytes
          |  FROM fb GROUP BY doc_id, nf, ncol)
          |SELECT doc_id,
          |       CAST(1 + doc_id % 500 AS BIGINT) AS width,
          |       CAST(1 + doc_id % 300 AS BIGINT) AS height,
          |       CAST(ncol AS BIGINT) AS n_colors,
          |       CAST(nf AS BIGINT) AS n_frames,
          |       CAST(nf * (doc_id % 100) AS BIGINT) AS total_delay_cs,
          |       CAST(13 + 3 * ncol + frame_bytes + 1 AS BIGINT) AS n_bytes
          |FROM agg ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_vorbis_meta", run = { (s, dir) =>
        // Ogg Vorbis census: same verified-CRC page walk as Opus, with
        // the Vorbis identification header and the granule-is-PCM-
        // samples duration rule
        val media = MultimodalOps.synthesizeVorbis(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.vorbisMeta(media).toDF()
          .select(col("id").as("doc_id"), col("channels"),
            col("sampleRate").as("sample_rate"),
            col("bitrateNominal").as("bitrate_nominal"),
            col("nPages").as("n_pages"), col("lastGranule").as("last_granule"),
            col("durationMs").as("duration_ms"), col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // Ogg Vorbis replay: header fields are id arithmetic; page count
      // is fixed (BOS + comment/setup + 3 data pages); the byte count
      // replays the RFC 3533 page overhead (27 + lacing + body) with the
      // fixed 58-byte BOS and 65-byte header pages
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
          |         1024 * (1 + doc_id % 4) AS tpp
          |  FROM documents),
          |fr AS (SELECT doc_id, n, unnest(generate_series(0, 2)) AS f FROM px),
          |fb AS (
          |  SELECT doc_id, n // 3 + CASE WHEN f < n % 3 THEN 1 ELSE 0 END AS take
          |  FROM fr),
          |agg AS (
          |  SELECT doc_id, sum(27 + take // 255 + 1 + take) AS data_bytes
          |  FROM fb GROUP BY doc_id)
          |SELECT p.doc_id AS doc_id,
          |       CAST(1 + p.doc_id % 2 AS BIGINT) AS channels,
          |       CAST(sr AS BIGINT) AS sample_rate,
          |       CAST(1000 * (64 + 16 * (p.doc_id % 13)) AS BIGINT) AS bitrate_nominal,
          |       CAST(5 AS BIGINT) AS n_pages,
          |       CAST(3 * tpp AS BIGINT) AS last_granule,
          |       CAST(3 * tpp * 1000 // sr AS BIGINT) AS duration_ms,
          |       CAST(58 + 65 + data_bytes AS BIGINT) AS n_bytes
          |FROM px p JOIN agg a ON p.doc_id = a.doc_id
          |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_exif", run = { (s, dir) =>
        // EXIF census WITHOUT decode: JPEG marker walk + TIFF IFD
        // parse (orientation, make, GPS deg/min/sec rationals) — the
        // image-side PII surface the text redaction family can't see
        val media = MultimodalOps.synthesizeExifJpeg(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.exifMeta(media).toDF()
          .select(col("id").as("doc_id"), col("orientation"), col("make"),
            col("hasGps").as("has_gps"),
            col("latRef").as("lat_ref"), col("latDeg").as("lat_deg"),
            col("latMin").as("lat_min"), col("latSec").as("lat_sec"),
            col("lonRef").as("lon_ref"), col("lonDeg").as("lon_deg"),
            col("lonMin").as("lon_min"), col("lonSec").as("lon_sec"))
          .orderBy("doc_id")
      },
      // EXIF replay: every field is the synthesis parameterization
      // (fixed little-endian TIFF layout, so the whole block is id
      // arithmetic); GPS-less rows (id % 4 = 0) carry empty refs/zeros
      oracle = _ => exifFieldsOracleSql),
    QuerySpec("q_multimodal_tiff", run = { (s, dir) =>
        // standalone .tif census: the same IFD walk at offset 0 —
        // shares q_multimodal_exif's oracle verbatim (bare vs
        // JPEG-wrapped TIFF must census identically).  Odd ids take
        // the BigTIFF flavor (version 43, 8-byte offsets/counts) —
        // three physical paths, ONE oracle
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val media = MultimodalOps.synthesizeTiff(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id")
          .union(MultimodalOps.synthesizeBigTiff(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id"))
        MultimodalOps.tiffMeta(media).toDF()
          .select(col("id").as("doc_id"), col("orientation"), col("make"),
            col("hasGps").as("has_gps"),
            col("latRef").as("lat_ref"), col("latDeg").as("lat_deg"),
            col("latMin").as("lat_min"), col("latSec").as("lat_sec"),
            col("lonRef").as("lon_ref"), col("lonDeg").as("lon_deg"),
            col("lonMin").as("lon_min"), col("lonSec").as("lon_sec"))
          .orderBy("doc_id")
      },
      oracle = _ => exifFieldsOracleSql),
    QuerySpec("q_multimodal_exif_strip", run = { (s, dir) =>
        // the governance ACTION: strip every APP1 segment; everything
        // else byte-preserved, and re-parsing finds no EXIF
        import s.implicits._
        val media = MultimodalOps.synthesizeExifJpeg(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        media.map { r =>
          val stripped = MultimodalOps.exifStripBytes(r.content)
          (r.id, r.content.length.toLong, stripped.length.toLong,
            (r.content.length - stripped.length).toLong,
            if (MultimodalOps.exifMetaOf(
              MultimodalOps.MediaRecord(r.id, r.kind, stripped)).isDefined) 1L else 0L)
        }.toDF("doc_id", "n_before", "n_after", "exif_bytes", "exif_after")
          .orderBy("doc_id")
      },
      // EXIF-strip governance replay: the APP1 segment is the only thing
      // removed, so the byte deltas are the fixed TIFF-layout sizes
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE WHEN doc_id % 4 = 0 THEN 48 ELSE 162 END AS app1
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(4 + app1 + n + 4 * greatest(1, (n + 59999) // 60000) AS BIGINT) AS n_before,
          |       CAST(4 + n + 4 * greatest(1, (n + 59999) // 60000) AS BIGINT) AS n_after,
          |       CAST(app1 AS BIGINT) AS exif_bytes,
          |       CAST(0 AS BIGINT) AS exif_after
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_multimodal_opus_meta", run = { (s, dir) =>
        // Ogg/Opus census WITHOUT decode: RFC 3533 page walk with
        // REAL per-page CRC verification + RFC 7845 OpusHead parse;
        // duration from the last granule position minus pre-skip
        val media = MultimodalOps.synthesizeOpus(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.opusMeta(media).toDF()
          .select(col("id").as("doc_id"), col("channels"),
            col("preSkip").as("pre_skip"),
            col("inputSampleRate").as("input_sample_rate"),
            col("nPages").as("n_pages"),
            col("lastGranule").as("last_granule"),
            col("durationMs").as("duration_ms"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // Ogg/Opus replay: ID-header fields are the synthesis
      // parameterization; page count is fixed (2 header + 4 data), the
      // duration is the RFC 7845 rule ((last_granule - pre_skip) 48 kHz
      // ticks), and the byte census folds the RFC 3533 lacing rule
      // (27-byte header + ceil-ish (p/255 + 1) lacing values + payload)
      oracle = _ => {
        val np = graft.ops.MultimodalOps.OpusDataPages
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         480 * (1 + doc_id % 4) AS ticks
          |  FROM documents),
          |pg AS (
          |  SELECT doc_id, n, ticks, unnest(generate_series(0, ${np - 1})) AS k
          |  FROM px),
          |sz AS (
          |  SELECT doc_id, any_value(n) AS n, any_value(ticks) AS ticks,
          |         sum((n // $np + CASE WHEN k < n % $np THEN 1 ELSE 0 END) // 255) AS lace255
          |  FROM pg GROUP BY doc_id)
          |SELECT doc_id,
          |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
          |       CAST(312 + doc_id % 100 AS BIGINT) AS pre_skip,
          |       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 16000 END AS BIGINT) AS input_sample_rate,
          |       CAST(2 + $np AS BIGINT) AS n_pages,
          |       CAST(312 + doc_id % 100 + $np * ticks AS BIGINT) AS last_granule,
          |       CAST($np * ticks * 1000 // 48000 AS BIGINT) AS duration_ms,
          |       CAST(203 + n + lace255 AS BIGINT) AS n_bytes
          |FROM sz ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_mp3_vbr", run = { (s, dir) =>
        // VBR census: bitrate varies per frame (the real-corpus case
        // the CBR walk rejects); rate/mode stay consistent, duration
        // is exact 1152-samples arithmetic, bitrate RANGE reported
        val media = MultimodalOps.synthesizeMp3Vbr(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.mp3VbrMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("brMinKbps").as("br_min_kbps"),
            col("brMaxKbps").as("br_max_kbps"),
            col("firstFrameOff").as("first_frame_off"),
            col("nBytes").as("n_bytes"))
          .orderBy("doc_id")
      },
      // VBR MP3 replay: frame f's bitrate is 1 + (id+f) % 14, so the
      // frame census walks the same per-frame capacity series with a
      // running sum (generate_series + window) — variable-length layout,
      // still pure integer arithmetic
      oracle = _ => {
        val brCase = (1 to 14).map { i =>
          s"WHEN $i THEN ${graft.ops.MultimodalOps.Mp3BitrateKbps(i)}"
        }.mkString(" ")
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
          |  FROM documents),
          |fr AS (
          |  SELECT doc_id, n, sr,
          |         unnest(generate_series(0, 4095)) AS fi
          |  FROM px),
          |cum AS (
          |  SELECT doc_id, n, sr, fi,
          |         144 * (CASE 1 + (doc_id + fi) % 14 $brCase END) * 1000 // sr AS flen,
          |         CASE 1 + (doc_id + fi) % 14 $brCase END AS br,
          |         sum(144 * (CASE 1 + (doc_id + fi) % 14 $brCase END) * 1000 // sr - 4)
          |           OVER (PARTITION BY doc_id ORDER BY fi) AS cumcap
          |  FROM fr),
          |nf AS (
          |  SELECT doc_id, greatest(1, min(fi + 1)) AS n_frames
          |  FROM cum WHERE cumcap >= n GROUP BY doc_id),
          |kept AS (
          |  SELECT c.doc_id, c.sr, c.n, f.n_frames,
          |         min(c.br) AS br_min, max(c.br) AS br_max,
          |         sum(c.flen) AS body_bytes
          |  FROM cum c JOIN nf f ON c.doc_id = f.doc_id AND c.fi < f.n_frames
          |  GROUP BY c.doc_id, c.sr, c.n, f.n_frames)
          |SELECT doc_id,
          |       CAST(sr AS BIGINT) AS sample_rate,
          |       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
          |       CAST(n_frames AS BIGINT) AS n_frames,
          |       CAST(n_frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
          |       CAST(br_min AS BIGINT) AS br_min_kbps,
          |       CAST(br_max AS BIGINT) AS br_max_kbps,
          |       CAST(10 + doc_id % 17 AS BIGINT) AS first_frame_off,
          |       CAST(10 + doc_id % 17 + body_bytes AS BIGINT) AS n_bytes
          |FROM kept ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_aac_meta", run = { (s, dir) =>
        // AAC ADTS census WITHOUT decode: real 7-byte header parse
        // (sync/ID/layer/profile/rate/channels) hopping by the
        // EXPLICIT 13-bit frame length the stream declares
        val media = MultimodalOps.synthesizeAac(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.aacMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("objectType").as("object_type"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("nBytes").as("n_bytes"),
            col("maxFrameLen").as("max_frame_len"))
          .orderBy("doc_id")
      },
      // AAC ADTS replay: header fields are the synthesis
      // parameterization; the frame census is fixed (6 frames), frame
      // lengths are the 7-byte header plus the text-split payload, and
      // the duration is 1024-samples-per-frame integer arithmetic
      oracle = _ => {
        val srCase = (0 to 4).map { i =>
          s"WHEN $i THEN ${graft.ops.MultimodalOps.AdtsSampleRates(3 + i)}"
        }.mkString(" ")
        val ns = graft.ops.MultimodalOps.AdtsFrameCount
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE doc_id % 5 $srCase END AS sr
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(1 + doc_id % 3 AS BIGINT) AS object_type,
          |       CAST(sr AS BIGINT) AS sample_rate,
          |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
          |       CAST($ns AS BIGINT) AS n_frames,
          |       CAST($ns * 1024 * 1000 // sr AS BIGINT) AS duration_ms,
          |       CAST(n + 7 * $ns AS BIGINT) AS n_bytes,
          |       CAST(7 + n // $ns + CASE WHEN n % $ns > 0 THEN 1 ELSE 0 END AS BIGINT) AS max_frame_len
          |FROM px ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_mp3_meta", run = { (s, dir) =>
        // MP3 census WITHOUT decode: real ISO 11172-3 frame-header
        // parse (sync/version/layer/bitrate/rate/mode) + ID3v2 skip +
        // CBR frame-chain walk — the compressed-audio sibling of the
        // avcC/SPS surface
        val media = MultimodalOps.synthesizeMp3(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.mp3Meta(media).toDF()
          .select(col("id").as("doc_id"), col("version"), col("layer"),
            col("bitrateKbps").as("bitrate_kbps"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("firstFrameOff").as("first_frame_off"))
          .orderBy("doc_id")
      },
      // MP3 frame-header replay: every header field is the synthesis
      // parameterization; the frame census and duration are pure integer
      // arithmetic over the UTF-8 byte count (frameLen = 144·br·1000/sr,
      // capacity = frameLen − 4, MPEG-1 Layer III = 1152 samples/frame)
      oracle = _ => {
        val brCase = (1 to 14).map { i =>
          s"WHEN $i THEN ${graft.ops.MultimodalOps.Mp3BitrateKbps(i)}"
        }.mkString(" ")
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE 1 + doc_id % 14 $brCase END AS br,
          |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
          |  FROM documents),
          |fx AS (
          |  SELECT doc_id, n, br, sr, 144 * br * 1000 // sr - 4 AS cap FROM px)
          |SELECT doc_id,
          |       CAST(1 AS BIGINT) AS version,
          |       CAST(3 AS BIGINT) AS layer,
          |       CAST(br AS BIGINT) AS bitrate_kbps,
          |       CAST(sr AS BIGINT) AS sample_rate,
          |       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
          |       CAST(greatest(1, (n + cap - 1) // cap) AS BIGINT) AS n_frames,
          |       CAST(greatest(1, (n + cap - 1) // cap) * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
          |       CAST(10 + doc_id % 17 AS BIGINT) AS first_frame_off
          |FROM fx ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_multimodal_flac_meta", run = { (s, dir) =>
        // FLAC census WITHOUT decode: real STREAMINFO bit parse
        // (20/3/5/36-bit packed group) + metadata-block-chain hop to
        // the first audio byte
        val media = MultimodalOps.synthesizeFlac(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        MultimodalOps.flacMeta(media).toDF()
          .select(col("id").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("bitsPerSample").as("bits_per_sample"),
            col("totalSamples").as("total_samples"),
            col("durationMs").as("duration_ms"),
            col("audioOff").as("audio_off"),
            col("nAudioBytes").as("n_audio_bytes"))
          .orderBy("doc_id")
      },
      // FLAC STREAMINFO replay: rate/channels/precision are the packed
      // 64-bit group's synthesis parameterization; total samples and the
      // audio offset are integer arithmetic over the byte count and the
      // padding-block hop (4 magic + 38 STREAMINFO + 4 + id%31 padding)
      oracle = _ =>
        s"""WITH px AS (
          |  SELECT doc_id,
          |         octet_length(encode(text)) AS n,
          |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 96000 END AS sr
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(sr AS BIGINT) AS sample_rate,
          |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
          |       CAST(CASE WHEN doc_id % 2 = 1 THEN 24 ELSE 16 END AS BIGINT) AS bits_per_sample,
          |       CAST(4 * n + doc_id % 1000 AS BIGINT) AS total_samples,
          |       CAST((4 * n + doc_id % 1000) * 1000 // sr AS BIGINT) AS duration_ms,
          |       CAST(46 + doc_id % 31 AS BIGINT) AS audio_off,
          |       CAST(n AS BIGINT) AS n_audio_bytes
          |FROM px ORDER BY doc_id""".stripMargin),
    QuerySpec("q_mp4_frames", run = { (s, dir) =>
        // real MJPEG frames through the container: synthesize, frame-
        // sample every 2nd, decode sampled frames with the JDK codec
        val recs = MultimodalOps.synthesizeMjpegMp4(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          w = 16, h = 12, keyMod = 10, nFrames = 4)
        MultimodalOps.mjpegSampleFrames(recs, keyMod = 10, nFrames = 4,
            everyN = 2)
          .toDF()
          .select(col("id").cast("bigint").as("doc_id"), col("frame_idx"),
            col("width"), col("height"), col("px_sum"), col("thumb_md5"),
            col("max_err"))
          .orderBy("doc_id", "frame_idx")
      },
      // MJPEG frame replay: real JDK codec per sampled frame — decoded-
      // domain literals per (stream key, frame) derived by JpegGolden
      // (golden-literal discipline); DuckDB replays only id → key and
      // the every-2nd sampling
      oracle = _ => {
        val lits =
          """  (0, 0, 97337, '12966dc246ff1fd5bca2512cef93e83a', 19),
            |  (0, 2, 97131, '9f35c2ed413db7da531b2d9b4c3aae14', 18),
            |  (1, 0, 83906, '0801ac7bbf0b9cfb554ed8b735b57a68', 24),
            |  (1, 2, 64619, 'dea75f567b4b3a40ea4fd3065c78eaad', 18),
            |  (2, 0, 50310, '618ba33e197d5707de29f57b435104f6', 22),
            |  (2, 2, 48913, '02f789c5b6dfddfe6532db04d13bfd1f', 19),
            |  (3, 0, 61004, 'abfc5bb723c23461a30f0ca7d2c35d53', 28),
            |  (3, 2, 80226, 'ea5f902f52336365071f5eefcfe87b53', 20),
            |  (4, 0, 95445, 'af3f0df26d2679c37adf030808b3ccb3', 21),
            |  (4, 2, 98592, 'd8cf1afbd91c1f15319bd37e5c829f3a', 19),
            |  (5, 0, 87755, 'c1336b1f4954836a9705178538c7e196', 27),
            |  (5, 2, 69007, '7d30fe12ff1634c44f8995c4c011b9ec', 21),
            |  (6, 0, 52650, '5073abe9ead140f0b3d7b95abbe8b297', 21),
            |  (6, 2, 47934, '2bcb4d99df1db040d135b48f785c135d', 19),
            |  (7, 0, 57330, 'a7651394a5a55e78c2e554f15c95c46a', 29),
            |  (7, 2, 75903, '89fa5ccb3fdd75d9e8f327e91114d919', 26),
            |  (8, 0, 92952, 'd811b793f5873c3ae65ba3d2017ef2c2', 23),
            |  (8, 2, 99174, '86588702a4b1a155b11c8254c84534f4', 19),
            |  (9, 0, 91148, '8eda6c959a3a257f37f7d89559eeea77', 31),
            |  (9, 2, 73255, 'c403e2b78ff0fafda5515fb963938256', 26)""".stripMargin
        s"""WITH g(k, frame_idx, px_sum, thumb_md5, max_err) AS (VALUES
           |$lits)
           |SELECT d.doc_id AS doc_id, CAST(g.frame_idx AS BIGINT) AS frame_idx,
           |       CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
           |       CAST(g.px_sum AS BIGINT) AS px_sum, g.thumb_md5,
           |       CAST(g.max_err AS INT) AS max_err
           |FROM documents d JOIN g ON d.doc_id % 10 = g.k
           |ORDER BY doc_id, frame_idx""".stripMargin
      }))
}
