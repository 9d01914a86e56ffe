package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.QueryDef.sqlChecked

/** One on-disk media file: id parsed from the filename plus the raw bytes. */
final case class MediaFile(doc_id: Long, content: Array[Byte])

/** Output of the real PNG decode stage. */
final case class DecodedMedia(
    doc_id: Long, byte_len: Long, width: Long, height: Long, channels: Long)

/** Output of the real resize stage. */
final case class ResizedMedia(
    doc_id: Long, width: Long, height: Long, scale_num: Long, scale_den: Long)

/** One sampled, fully decoded frame of a multi-frame (animated GIF) file. */
final case class SampledFrame(
    doc_id: Long, frame_idx: Long, n_frames: Long,
    width: Long, height: Long, pix_hash: Long)

/** 64-bit dHash of one decoded image as 4×16-bit LSH bands. */
final case class PhashBands(doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

/** Mean-centered integer pixel embedding of one decoded image. */
final case class MmEmbed(doc_id: Long, e: Seq[Long])

/** Typed metadata + total energy of one decoded audio stream. */
final case class AudioMeta(
    doc_id: Long, n_samples: Long, sample_rate: Long, energy_total: Long)

/** One assembled webdataset sample: basename-grouped tar entries, the .png
  * member decoded for real and the .cls label parsed.
  */
final case class TarSample(
    doc_id: Long, shard: Long, byte_len: Long,
    width: Long, height: Long, channels: Long, label: Long)

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded via a per-partition batch function.
  *
  * mm_decode / mm_resize are REAL image decodes: committed PNG fixtures
  * ([[MediaFixtureGen]]) read through Spark's `binaryFile` source, decoded
  * with pure-JDK `javax.imageio` inside `mapPartitions` (the Scala analog of
  * `mapInPandas`: one iterator per partition, so codec setup amortizes
  * across the batch). The oracle re-derives width/height/channels
  * INDEPENDENTLY by parsing the PNG IHDR chunk bytes (offsets 16-25) in
  * SQL — the decode is checked against the file-format spec, not against
  * itself.
  *
  * mm_framesample is a REAL multi-frame decode as of round 7: committed
  * animated GIF fixtures (`ImageIO` reads every frame of an animated GIF —
  * the one multi-frame container the pure JDK can decode), every 8th frame
  * decoded and pixel-hashed; the oracle re-derives screen geometry, frame
  * count and the pixel hash from the raw bytes + the generator contract in
  * SQL.
  *
  * Scale: decode is embarrassingly parallel; no shuffle until the final
  * presentation sort. Partition sizing (`files.maxPartitionBytes` for big
  * files; `binaryFile` packs many small files per task) is the only knob
  * that matters at 100 TB of media bytes.
  */
object Multimodal {

  /** Committed PNG fixture dir (absolute so the DuckDB oracle reads the same
    * bytes; override with GRAFT_MEDIA_DIR).
    */
  private val mediaDir =
    graft.Fixtures.dir("media", "GRAFT_MEDIA_DIR")

  /** The binaryFile scan: path + raw bytes → (doc_id, content). */
  private def mediaFiles(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    // img_ prefix, not *.png: the ph_* perceptual-hash family lives in the
    // same fixture dir and must not leak into the decode queries
    s.read.format("binaryFile").option("pathGlobFilter", "img_*.png").load(mediaDir)
      .select(
        regexp_extract($"path", "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        $"content")
      .as[MediaFile]
  }

  /** Real PNG decode — geometry and band count from the decoded raster. */
  private def decode(m: MediaFile): DecodedMedia = {
    val img = ImageIO.read(new ByteArrayInputStream(m.content))
    DecodedMedia(m.doc_id, m.content.length.toLong,
      img.getWidth.toLong, img.getHeight.toLong,
      img.getRaster.getNumBands.toLong)
  }

  /** 8×9 integer box-mean luma grid of a decoded raster — the shared
    * feature stage of the dHash ([[phashOf]] takes neighbour-difference
    * signs) and the embedding bridge ([[embedFrames]] mean-centers it).
    */
  private def boxMeansOf(img: BufferedImage): Array[Array[Long]] = {
    val w = img.getWidth
    val h = img.getHeight
    val m = Array.ofDim[Long](8, 9)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        val xs = w * c / 9; val xe = w * (c + 1) / 9
        val ys = h * r / 8; val ye = h * (r + 1) / 8
        var sum = 0L
        var y = ys
        while (y < ye) {
          var x = xs
          while (x < xe) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xFF) +
              587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        m(r)(c) = 1000000L * sum / ((xe - xs).toLong * (ye - ys))
        c += 1
      }
      r += 1
    }
    m
  }

  /** 9×8 box-mean dHash of a decoded raster, as 4×16-bit bands (band k =
    * rows 2k..2k+1). All-integer: per-box luma sum (299R+587G+114B per
    * pixel), mean scaled ×1e6 with floor division, bit(r,c) = 1 iff
    * mean[r][c] < mean[r][c+1] — every step exactly replayable in SQL.
    */
  private def phashOf(img: BufferedImage): Array[Long] = {
    val m = boxMeansOf(img)
    val bands = Array.fill(4)(0L)
    for (rr <- 0 until 8; cc <- 0 until 8)
      if (m(rr)(cc) < m(rr)(cc + 1))
        bands(rr / 2) |= 1L << ((rr % 2) * 8 + cc)
    bands
  }

  /** binaryFile scan of the ph_* family → real decode → dHash bands. */
  private def phashFrames(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", "ph_*.png").load(mediaDir)
      .select(
        regexp_extract($"path", "ph_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        $"content")
      .as[MediaFile]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { mf =>
          val img = ImageIO.read(new ByteArrayInputStream(mf.content))
          val b = phashOf(img)
          PhashBands(mf.doc_id, b(0), b(1), b(2), b(3))
        }
      }
      .toDF()
  }

  /** Shared oracle CTE: per-image dHash bands recomputed from the committed
    * bytes (dims from the real IHDR) + the [[MediaFixtureGen.phashRgb]]
    * generator contract — the mm_framesample discipline: a decoder that
    * returned wrong rasters hash-mismatches every band value.
    */
  private val PhBandsSql =
    s"""g AS (
       |  SELECT CAST(regexp_extract(filename, 'ph_(\\d+)', 1) AS BIGINT) AS doc_id,
       |    CAST(CAST(concat('0x', substr(hex(content), 33, 8)) AS BIGINT) AS INT) AS w,
       |    CAST(CAST(concat('0x', substr(hex(content), 41, 8)) AS BIGINT) AS INT) AS h
       |  FROM read_blob('$mediaDir/ph_*.png')),
       |f AS (
       |  SELECT doc_id, w, h,
       |    CAST(CASE WHEN doc_id >= 1000 THEN ((doc_id - 1000) * 3) % 24
       |              ELSE doc_id END AS INT) AS fi,
       |    doc_id >= 1000 AS pert
       |  FROM g),
       |cells AS (
       |  SELECT doc_id, r, c,
       |    1000000 * list_sum(flatten(list_transform(
       |        generate_series(h * r // 8, h * (r + 1) // 8 - 1), y ->
       |          list_transform(generate_series(w * c // 9, w * (c + 1) // 9 - 1), x ->
       |            299 * ((x*31 + y*17 + fi*7 +
       |                    CASE WHEN pert AND x < 4 AND y < 4 THEN 128 ELSE 0 END) % 256)
       |          + 587 * ((x*13 + fi) % 256)
       |          + 114 * ((y*11 + fi*3) % 256)))))
       |      // ((w * (c + 1) // 9 - w * c // 9) * (h * (r + 1) // 8 - h * r // 8)) AS m
       |  FROM f,
       |    (SELECT unnest(generate_series(0, 7)) AS r),
       |    (SELECT unnest(generate_series(0, 8)) AS c)),
       |bits AS (
       |  SELECT a.doc_id, a.r, a.c, CASE WHEN a.m < b.m THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
       |  WHERE a.c < 8),
       |bands AS (
       |  SELECT doc_id, r // 2 AS band,
       |    CAST(SUM(bit * (1 << ((r % 2) * 8 + c))) AS BIGINT) AS v
       |  FROM bits GROUP BY doc_id, r // 2)""".stripMargin

  /** binaryFile scan of the ph_* family → real decode → 72-dim mean-centered
    * integer embedding: the box-mean lumas scaled to mean-luma units
    * (// 1e6), then centered as e_i = ml_i·72 − Σml (×72 keeps everything
    * integer while preserving the cosine direction exactly). Centering
    * removes the dominant DC brightness component that would pin all raw
    * box-mean cosines near 1. Integer coordinates ⇒ dots and norms are
    * EXACT in both engines, so the oracle hash-checks full cosine values,
    * not a tolerance band.
    */
  private[graft] def embedFrames(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", "ph_*.png").load(mediaDir)
      .select(
        regexp_extract($"path", "ph_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        $"content")
      .as[MediaFile]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { mf =>
          val img = ImageIO.read(new ByteArrayInputStream(mf.content))
          val m = boxMeansOf(img)
          val ml = for { r <- 0 until 8; c <- 0 until 9 } yield m(r)(c) / 1000000L
          val t = ml.sum
          MmEmbed(mf.doc_id, ml.map(_ * 72 - t))
        }
      }
  }

  /** Real WAV decode via `javax.sound.sampled`: 8-bit unsigned mono PCM,
    * so the decoded frame bytes ARE the sample values. Returns the sample
    * array per file.
    */
  private def decodeWav(content: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(content))
    val data = ais.readAllBytes()
    ais.close()
    data.map(_ & 0xFF)
  }

  private def audioFiles(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", "au_*.wav").load(mediaDir)
      .select(
        regexp_extract($"path", "au_(\\d+)\\.wav", 1).cast("long").as("doc_id"),
        $"content")
      .as[MediaFile]
  }

  /** 65-window energy-difference fingerprint of a decoded sample stream as
    * 4×16-bit bands (the [[phashOf]] scheme in the time domain): window
    * size n/65 (tail dropped), window energy = Σ|s−128|, bit(w) = 1 iff
    * e[w] < e[w+1]. All-integer → the oracle replays it from the WAV data
    * bytes directly.
    */
  private def audioBandsOf(samples: Array[Int]): Array[Long] = {
    val W = samples.length / 65
    val e = Array.tabulate(65) { w =>
      var acc = 0L
      var i = w * W
      while (i < (w + 1) * W) { acc += math.abs(samples(i) - 128); i += 1 }
      acc
    }
    val bands = Array.fill(4)(0L)
    for (b <- 0 until 64) if (e(b) < e(b + 1)) bands(b / 16) |= 1L << (b % 16)
    bands
  }

  private def audioBandFrames(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    audioFiles(s).mapPartitions(_.map { mf =>
      val b = audioBandsOf(decodeWav(mf.content))
      PhashBands(mf.doc_id, b(0), b(1), b(2), b(3))
    }).toDF()
  }

  /** Shared oracle CTE for the audio family: doc_id + sample count from the
    * canonical 44-byte RIFF header, per-window energies straight from the
    * data-section bytes (sample i lives at byte 44+i ⇒ hex pair 89+2i) —
    * a pure file-format replay, no generator formula in SQL.
    */
  private val AuBandsSql =
    s"""wav AS (
       |  SELECT CAST(regexp_extract(filename, 'au_(\\d+)', 1) AS BIGINT) AS doc_id,
       |    hex(content) AS h,
       |    CAST(octet_length(content) - 44 AS BIGINT) AS n
       |  FROM read_blob('$mediaDir/au_*.wav')),
       |e AS (
       |  SELECT doc_id, w,
       |    list_sum(list_transform(
       |      generate_series(w * (n // 65), (w + 1) * (n // 65) - 1),
       |      i -> abs(CAST(('0x' || substr(h, CAST(89 + 2 * i AS INT), 2)) AS INT) - 128))) AS e
       |  FROM wav, (SELECT unnest(generate_series(0, 64)) AS w)),
       |bits AS (
       |  SELECT a.doc_id, a.w, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
       |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
       |  WHERE a.w < 64),
       |bands AS (
       |  SELECT doc_id, w // 16 AS band,
       |    CAST(SUM(bit * (1 << (w % 16))) AS BIGINT) AS v
       |  FROM bits GROUP BY doc_id, w // 16)""".stripMargin

  /** IHDR fields re-derived in SQL: width @ bytes 16-19, height @ 20-23,
    * color type @ byte 25 (hex-string offsets 33/41/51, 1-indexed pairs).
    */
  private val IhdrSql =
    s"""SELECT CAST(regexp_extract(filename, 'img_(\\d+)', 1) AS BIGINT) AS doc_id,
       |  octet_length(content) AS byte_len,
       |  CAST(concat('0x', substr(hex(content), 33, 8)) AS BIGINT) AS width,
       |  CAST(concat('0x', substr(hex(content), 41, 8)) AS BIGINT) AS height,
       |  CAST(CASE CAST(concat('0x', substr(hex(content), 51, 2)) AS BIGINT)
       |    WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 4 THEN 2 WHEN 6 THEN 4 END AS BIGINT) AS channels
       |FROM read_blob('$mediaDir/img_*.png')""".stripMargin

  /** Shards in the generated webdataset fixture (doc_id % count).
    * Declared before `defs` — the oracle interpolates it at object init.
    */
  val TarShardCount = 4

  /** Shards the PACKER produces (deliberately ≠ [[TarShardCount]]). */
  val PackShardCount = 3

  /** Keep threshold for mm_clip_filter's alignment cosine — the LAION
    * operating point rescaled to this corpus' score distribution (keeps
    * roughly the aligned third; the distribution is ~symmetric around 0 on
    * unpaired synthetic data, exactly where misaligned pairs sit for CLIP).
    */
  val ClipKeepThreshold = 0.05

  val defs: Seq[QueryDef] = Seq(

    // Binary-column feature extraction (pure expressions, no decode).
    sqlChecked(
      "mm_features",
      """SELECT doc_id, strlen(text) AS byte_len, md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          octet_length($"text").cast("long").as("byte_len"),
          md5($"text".cast("binary")).as("content_hash"))
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // REAL decode pipeline: binaryFile scan → mapPartitions ImageIO decode →
    // typed geometry. Oracle parses the PNG IHDR chunk in SQL.
    sqlChecked(
      "mm_decode",
      s"""SELECT doc_id, byte_len, width, height, channels
         |FROM ($IhdrSql) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      mediaFiles(s)
        .mapPartitions { it => ImageIO.setUseCache(false); it.map(decode) }
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // REAL resize: decode, then an actual Graphics2D raster resample into an
    // aspect-preserving fit of 224×224 — output dims are read back from the
    // RESIZED image, not recomputed. Oracle mirrors the integer fit
    // arithmetic over IHDR dims.
    sqlChecked(
      "mm_resize",
      s"""SELECT doc_id,
         | (width * 224) // GREATEST(width, height) AS width,
         | (height * 224) // GREATEST(width, height) AS height,
         | CAST(224 AS BIGINT) AS scale_num, GREATEST(width, height) AS scale_den
         |FROM ($IhdrSql) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      mediaFiles(s)
        .mapPartitions { it =>
          ImageIO.setUseCache(false)
          it.map { m =>
            val img = ImageIO.read(new ByteArrayInputStream(m.content))
            val longSide = math.max(img.getWidth, img.getHeight).toLong
            val nw = (img.getWidth * 224 / longSide).toInt
            val nh = (img.getHeight * 224 / longSide).toInt
            val out = new BufferedImage(nw, nh, BufferedImage.TYPE_3BYTE_BGR)
            val g = out.createGraphics()
            g.drawImage(img, 0, 0, nw, nh, null)
            g.dispose()
            ResizedMedia(m.doc_id, out.getWidth.toLong, out.getHeight.toLong,
              224L, longSide)
          }
        }
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // REAL frame sampling over multi-frame media: committed animated GIFs
    // ([[MediaFixtureGen.writeGifs]]) through binaryFile →
    // `ImageReader.getNumImages(true)` + `read(i)` for every 8th frame —
    // an actual multi-frame decode, not arithmetic on byte length (the r06
    // stub). The per-frame pixel hash is computed from the DECODED raster;
    // the oracle re-derives everything from the committed bytes and the
    // generator contract independently of javax.imageio:
    //  - width/height from the GIF logical-screen-descriptor bytes (LE16 at
    //    offsets 6-9 — the IHDR pattern of mm_decode);
    //  - n_frames by counting byte-aligned Graphic Control Extension
    //    introducers (21 F9 04) in the hex dump — exact on this corpus
    //    because the generator writes one explicit GCE per frame
    //    (FrameCount agreement with the decoder is pinned by
    //    MultimodalSpec, so LZW-collision false positives can't go stale
    //    silently);
    //  - pix_hash by re-evaluating the generator's pixel formula
    //    v = (x·31 + y·17 + f·7 + doc·13) % 64 in SQL — the 64-gray
    //    indexed palette makes encode→decode pixel-exact, so a decoder that
    //    returned wrong rasters would hash-mismatch.
    // Generator shape: flatMap inside mapPartitions (one file row → many
    // frame rows, decode amortized per partition); embarrassingly parallel,
    // no shuffle before the presentation sort — at 100 TB of video this is
    // the mapInPandas batch-decode shape with a real codec behind it.
    sqlChecked(
      "mm_framesample",
      s"""WITH g AS (
         |  SELECT CAST(regexp_extract(filename, 'vid_(\\d+)', 1) AS BIGINT) AS doc_id,
         |    hex(content) AS h
         |  FROM read_blob('$mediaDir/vid_*.gif')),
         |dims AS (
         |  SELECT doc_id, h,
         |    CAST(concat('0x', substr(h, 15, 2), substr(h, 13, 2)) AS BIGINT) AS width,
         |    CAST(concat('0x', substr(h, 19, 2), substr(h, 17, 2)) AS BIGINT) AS height,
         |    len(list_filter(generate_series(1, len(h) - 5, 2),
         |        i -> substr(h, CAST(i AS INT), 6) = '21F904')) AS n_frames
         |  FROM g),
         |samp AS (
         |  SELECT doc_id, width, height, n_frames,
         |    unnest(generate_series(0, n_frames - 1, 8)) AS frame_idx
         |  FROM dims)
         |SELECT doc_id, frame_idx, n_frames, width, height,
         |  CAST(list_sum(flatten(list_transform(
         |    generate_series(0, CAST(height AS INT) - 1), y ->
         |      list_transform(generate_series(0, CAST(width AS INT) - 1), x ->
         |        ((x*31 + y*17 + frame_idx*7 + doc_id*13) % 64)
         |          * (1 + x + y*width))))) AS BIGINT) AS pix_hash
         |FROM samp ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      s.read.format("binaryFile").option("pathGlobFilter", "vid_*.gif").load(mediaDir)
        .select(
          regexp_extract($"path", "vid_(\\d+)\\.gif", 1).cast("long").as("doc_id"),
          $"content")
        .as[MediaFile]
        .mapPartitions { it =>
          ImageIO.setUseCache(false)
          it.flatMap { m =>
            val reader = ImageIO.getImageReadersByFormatName("gif").next()
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new ByteArrayInputStream(m.content))
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            val out = (0 until n by 8).map { i =>
              val img = reader.read(i)
              val w = img.getWidth
              val h = img.getHeight
              var acc = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = (img.getRGB(x, y) & 0xFF) / 4
                  acc += v.toLong * (1 + x + y.toLong * w)
                  x += 1
                }
                y += 1
              }
              SampledFrame(m.doc_id, i.toLong, n.toLong, w.toLong, h.toLong, acc)
            }
            reader.dispose()
            iis.close()
            out.iterator
          }
        }
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id", $"frame_idx"))
    },

    // Perceptual hash over REAL decoded images (the mm_ ↔ dd_ bridge: image
    // near-dup with the text families' banding discipline). dHash variant —
    // public aHash/dHash scheme: downsample to a 9×8 luma grid, hash bit =
    // sign of each horizontal neighbour difference — robust to re-encode /
    // small edits, cheap enough for a per-image scan stage. All-integer box
    // means (no Graphics2D resample) so the oracle replays the ENTIRE
    // pipeline from the committed bytes + the generator pixel contract.
    // Scale: 32 bytes of hash per image leave the decode stage — the
    // corpus' pixel bytes never shuffle.
    sqlChecked(
      "mm_phash",
      s"""WITH $PhBandsSql
         |SELECT doc_id,
         |  MAX(CASE WHEN band = 0 THEN v END) AS b0,
         |  MAX(CASE WHEN band = 1 THEN v END) AS b1,
         |  MAX(CASE WHEN band = 2 THEN v END) AS b2,
         |  MAX(CASE WHEN band = 3 THEN v END) AS b3
         |FROM bands GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      phashFrames(s)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Image NEAR-DUP detection over the dHash: 4×16-bit LSH bands bucket
    // the candidates (two hashes within Hamming distance ≤ 3 differ in ≤ 3
    // bands, so by pigeonhole they SHARE at least one — the candidate set
    // is COMPLETE, not approximate, unlike minhash banding), then the
    // exact Hamming verify runs per candidate pair. Planted variants
    // (ph_1000+k = base 3k with a perturbed corner) surface alongside the
    // genuine gradient near-dups of the formula corpus; PhashSpec pins the
    // planted pairs and the no-cartesian plan. Scale: the band join
    // shuffles (band, v) 16-byte keys — candidate volume is Σ bucket², the
    // dd_minhash_lsh bound — and each verify is 4 xors; nothing touches
    // pixels after the scan stage.
    sqlChecked(
      "mm_phash_dedup",
      s"""WITH $PhBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON b.band = a.band AND b.v = a.v AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(SUM(bit_count(xor(x.v, y.v))) AS BIGINT) AS dist
         |FROM cand
         |  JOIN bands x ON x.doc_id = doc_a
         |  JOIN bands y ON y.doc_id = doc_b AND y.band = x.band
         |GROUP BY doc_a, doc_b
         |HAVING SUM(bit_count(xor(x.v, y.v))) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      // model-sized cache (32 bytes/image of hash): feeds the band explode
      // twice (both join sides) and the verify join twice
      val ph = phashFrames(s).cache()
      val bands = ph.select($"doc_id", explode(array(
          struct(lit(0L).as("band"), $"b0".as("v")),
          struct(lit(1L).as("band"), $"b1".as("v")),
          struct(lit(2L).as("band"), $"b2".as("v")),
          struct(lit(3L).as("band"), $"b3".as("v")))).as("bv"))
        .select($"doc_id", $"bv.band".as("band"), $"bv.v".as("v"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val dist =
        bit_count($"x.b0".bitwiseXOR($"y.b0")) +
          bit_count($"x.b1".bitwiseXOR($"y.b1")) +
          bit_count($"x.b2".bitwiseXOR($"y.b2")) +
          bit_count($"x.b3".bitwiseXOR($"y.b3"))
      cand
        .join(ph.as("x"), $"doc_a" === col("x.doc_id"))
        .join(ph.as("y"), $"doc_b" === col("y.doc_id"))
        .select($"doc_a", $"doc_b", dist.cast("long").as("dist"))
        .filter($"dist" <= 3)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_a", $"doc_b"))
    },

    // IMAGE → EMBEDDING → ANN bridge: the third leg connecting the mm_
    // family to the similarity stack (mm_phash_dedup bridged mm↔dd). Real
    // decode → deterministic 72-dim mean-centered integer pixel embedding
    // ([[embedFrames]] — the stand-in for a CLIP-style encoder, which is
    // not in this container; the Spark-side plumbing is the real thing) →
    // exact integer-cosine brute-force top-5 per query image (broadcast
    // query side, one candidate scan — the sim_topk_bruteforce shape).
    // Integer coordinates make dot and norm EXACT in both engines, so the
    // oracle replays decode-equivalent features (generator pixel contract),
    // centering, cosines and ranking, and hash-checks the VALUES. At
    // 100 TB the embedding stage is the scan-parallel mapPartitions batch
    // and the search side plugs into the LSH/IVF/MIPS index paths.
    sqlChecked(
      "mm_embed_ann",
      s"""WITH $PhBandsSql,
         |sm AS (SELECT doc_id, r, c, m // 1000000 AS ml FROM cells),
         |tot AS (SELECT doc_id, SUM(ml) AS t FROM sm GROUP BY doc_id),
         |emb AS (SELECT sm.doc_id, r * 9 + c AS i, ml * 72 - t AS e
         |        FROM sm JOIN tot USING (doc_id)),
         |nn AS (SELECT doc_id, SUM(e * e) AS n2 FROM emb GROUP BY doc_id),
         |dots AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id, SUM(q.e * c.e) AS dp
         |  FROM emb q JOIN emb c ON c.i = q.i AND q.doc_id < 3 AND c.doc_id <> q.doc_id
         |  GROUP BY q.doc_id, c.doc_id),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    round(CAST(dp AS DOUBLE) / sqrt(CAST(qa.n2 AS DOUBLE) * CAST(ca.n2 AS DOUBLE)), 6) AS cos
         |  FROM dots JOIN nn qa ON qa.doc_id = query_id
         |            JOIN nn ca ON ca.doc_id = cand_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
         |  FROM scored)
         |SELECT query_id, cand_id, cos, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val emb = embedFrames(s).toDF()
        .withColumn("n2",
          aggregate(transform($"e", x => x * x), lit(0L), (acc, x) => acc + x))
      val q = emb.filter($"doc_id" < 3)
        .select($"doc_id".as("query_id"), $"e".as("qe"), $"n2".as("qn2"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id".asc)
      broadcast(q)
        .join(emb.as("c"), $"query_id" =!= $"c.doc_id")
        .select($"query_id", $"c.doc_id".as("cand_id"),
          round(
            aggregate(zip_with($"qe", $"c.e", (a, b) => a * b), lit(0L), (acc, x) => acc + x)
              .cast("double") / sqrt($"qn2".cast("double") * $"c.n2".cast("double")),
            6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
        .transform(d => graft.QueryDef.smallSort(d, $"query_id", $"rk"))
    },

    // AUDIO modality, real decode: committed WAV fixtures through
    // `javax.sound.sampled` (pure JDK, same discipline as the imageio
    // queries). 8-bit unsigned mono PCM means decoded frames == data-
    // section bytes, so the oracle replays geometry AND content from the
    // file bytes alone: sample rate from the RIFF header (LE32 @ byte 24),
    // total energy summed over the data section. A decoder returning wrong
    // frames mismatches energy_total on every row.
    sqlChecked(
      "mm_audio_decode",
      s"""SELECT doc_id,
         |  CAST(octet_length(content) - 44 AS BIGINT) AS n_samples,
         |  CAST(CAST(('0x' || substr(hex(content), 49, 2)) AS INT)
         |     + 256 * CAST(('0x' || substr(hex(content), 51, 2)) AS INT)
         |     + 65536 * CAST(('0x' || substr(hex(content), 53, 2)) AS INT)
         |     + 16777216 * CAST(('0x' || substr(hex(content), 55, 2)) AS INT) AS BIGINT) AS sample_rate,
         |  CAST(list_sum(list_transform(
         |    generate_series(0, octet_length(content) - 45),
         |    i -> abs(CAST(('0x' || substr(hex(content), CAST(89 + 2 * i AS INT), 2)) AS INT) - 128))) AS BIGINT) AS energy_total
         |FROM (SELECT CAST(regexp_extract(filename, 'au_(\\d+)', 1) AS BIGINT) AS doc_id, content
         |      FROM read_blob('$mediaDir/au_*.wav'))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      audioFiles(s)
        .mapPartitions(_.map { mf =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(mf.content))
          val rate = ais.getFormat.getSampleRate.toLong
          val samples = ais.readAllBytes().map(_ & 0xFF)
          ais.close()
          AudioMeta(mf.doc_id, samples.length.toLong, rate,
            samples.map(v => math.abs(v - 128).toLong).sum)
        })
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Audio fingerprint: the 65-window energy-difference hash per stream
    // (public Shazam-lineage shape reduced to its deterministic core:
    // band-energy deltas → sign bits). Pins the decode per WINDOW, not
    // just in total; the dedup twin consumes these bands.
    sqlChecked(
      "mm_audio_fingerprint",
      s"""WITH $AuBandsSql
         |SELECT doc_id,
         |  MAX(CASE WHEN band = 0 THEN v END) AS b0,
         |  MAX(CASE WHEN band = 1 THEN v END) AS b1,
         |  MAX(CASE WHEN band = 2 THEN v END) AS b2,
         |  MAX(CASE WHEN band = 3 THEN v END) AS b3
         |FROM bands GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      audioBandFrames(s)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // Audio NEAR-DUP via the fingerprint bands — the mm_phash_dedup
    // topology verbatim (complete for Hamming ≤ 3 by pigeonhole over the
    // 4 bands; planted WAV variants carry distances 0–3 including the
    // threshold boundary). Scale: 32 bytes of fingerprint per stream
    // shuffle; the audio bytes never leave the decode stage.
    sqlChecked(
      "mm_audio_dedup",
      s"""WITH $AuBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON b.band = a.band AND b.v = a.v AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(SUM(bit_count(xor(x.v, y.v))) AS BIGINT) AS dist
         |FROM cand
         |  JOIN bands x ON x.doc_id = doc_a
         |  JOIN bands y ON y.doc_id = doc_b AND y.band = x.band
         |GROUP BY doc_a, doc_b
         |HAVING SUM(bit_count(xor(x.v, y.v))) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val au = audioBandFrames(s).cache()
      val bands = au.select($"doc_id", explode(array(
          struct(lit(0L).as("band"), $"b0".as("v")),
          struct(lit(1L).as("band"), $"b1".as("v")),
          struct(lit(2L).as("band"), $"b2".as("v")),
          struct(lit(3L).as("band"), $"b3".as("v")))).as("bv"))
        .select($"doc_id", $"bv.band".as("band"), $"bv.v".as("v"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val dist =
        bit_count($"x.b0".bitwiseXOR($"y.b0")) +
          bit_count($"x.b1".bitwiseXOR($"y.b1")) +
          bit_count($"x.b2".bitwiseXOR($"y.b2")) +
          bit_count($"x.b3".bitwiseXOR($"y.b3"))
      cand
        .join(au.as("x"), $"doc_a" === col("x.doc_id"))
        .join(au.as("y"), $"doc_b" === col("y.doc_id"))
        .select($"doc_a", $"doc_b", dist.cast("long").as("dist"))
        .filter($"dist" <= 3)
        .transform(d => graft.QueryDef.largeSort(d, $"doc_a", $"doc_b"))
    },

    // WEBDATASET-STYLE TAR SHARD ingestion — the de facto container for
    // image corpora at scale (Weightman et al., webdataset: samples as
    // adjacent basename-grouped entries inside sequential .tar shards;
    // LAION releases ship this way). The shard is the parallelism unit:
    // binaryFile supplies only PATHS (one row per shard), each task opens
    // its shard as a STREAM through the Hadoop FS (never materializing
    // the shard in memory — at 100 TB shards are ~1 GB), walks entries
    // sequentially with commons-compress, assembles adjacent entries of
    // one basename into a sample (the webdataset adjacency contract makes
    // assembly shuffle-free), decodes the .png member for real and parses
    // the .cls label. No exchange anywhere before the presentation sort.
    // Oracle: geometry re-derived from the PNG IHDR bytes of the ORIGINAL
    // committed files (so tar extraction must be byte-preserving to
    // match), shard/label from the shard-construction contract.
    sqlChecked(
      "mm_tar_shards",
      s"""SELECT doc_id, doc_id % ${TarShardCount} AS shard, byte_len,
         |  width, height, channels, doc_id % 10 AS label
         |FROM ($IhdrSql) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      s.read.format("binaryFile").option("pathGlobFilter", "shard-*.tar")
        .load(tarShardDir)
        .select($"path").as[String]
        .mapPartitions(_.flatMap(readTarShard))
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // The WRITE side of the shard story — packing a corpus INTO webdataset
    // tars (what a pipeline that PRODUCES training data runs last): one
    // shuffle keyed on the shard assignment, entries sorted within
    // partitions, then a STREAMING per-partition tar writer through the
    // Hadoop FS that switches output files on shard change — no group is
    // ever materialized, a partition can carry several shards, and the
    // bytes written are the bytes read (no re-encode). Gated by the full
    // roundtrip: the packed shards are re-read with the same streaming
    // reader and must reproduce every sample's true geometry (IHDR
    // oracle) under the pack-side shard assignment (doc_id % 3, distinct
    // from the read fixture's % 4 so a leak between the two is visible).
    sqlChecked(
      "mm_tar_pack",
      s"""SELECT doc_id, doc_id % ${PackShardCount} AS shard, byte_len,
         |  width, height, channels, doc_id % 10 AS label
         |FROM ($IhdrSql) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = packedShardDir(s)
      s.read.format("binaryFile").option("pathGlobFilter", "shard-*.tar")
        .load(root)
        .select($"path").as[String]
        .mapPartitions(_.flatMap(readTarShard))
        .toDF()
        .transform(d => graft.QueryDef.largeSort(d, $"doc_id"))
    },

    // IMAGE-TEXT PAIR ALIGNMENT FILTERING — the LAION curation stage
    // (Schuhmann et al. 2021 kept a crawled pair only when the CLIP
    // image/text cosine cleared 0.28; Radford et al. 2021 for CLIP): score
    // every (caption, image-embedding) pair and keep the aligned ones. The
    // text encoder here is the public hashing-trick bag-of-words projection
    // (Weinberger et al. 2009): token -> (md5 dim, ±1 md5 sign) into the
    // image embedding's own dimensionality, so the score is a real
    // cross-modal cosine, deterministic and engine-portable. All sums are
    // EXACT INTEGERS (caption weights are ±1 counts; the image side is the
    // sim_quantize_int8 micro-unit quantization), so the score is
    // bit-identical under any partitioning — the ta_logreg discipline.
    // Scale: token explode + one (doc, dim) hash agg + one doc-keyed join
    // against the 64x-exploded embeddings; everything linear and co-keyed
    // on doc_id after the dim agg, no pairwise work, nothing collected.
    sqlChecked(
      "mm_clip_filter",
      s"""WITH dc AS (SELECT min(len(embedding)) AS d FROM embeddings),
         |toks AS (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
         |                       w -> w <> '')) AS w
         |  FROM documents),
         |dims AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5('clipdim:' || w),1,15)) AS BIGINT) % (SELECT d FROM dc) AS dim,
         |    CASE WHEN CAST(('0x' || substr(md5('clipsign:' || w),1,15)) AS BIGINT) % 2 = 0
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM toks),
         |cap AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS wgt FROM dims GROUP BY 1, 2),
         |cn AS (SELECT doc_id, CAST(SUM(wgt*wgt) AS BIGINT) AS cn2 FROM cap GROUP BY 1),
         |img AS (
         |  SELECT vec_id AS doc_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |inm AS (SELECT doc_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS in2 FROM img),
         |dot AS (
         |  SELECT c.doc_id, CAST(SUM(c.wgt * i.q[CAST(c.dim AS INT) + 1]) AS BIGINT) AS dotm
         |  FROM cap c JOIN inm i USING (doc_id) GROUP BY 1)
         |SELECT t.doc_id,
         |  round(CAST(t.dotm AS DOUBLE) / sqrt(CAST(c.cn2 * i.in2 AS DOUBLE)), 6) AS clip_sim,
         |  round(CAST(t.dotm AS DOUBLE) / sqrt(CAST(c.cn2 * i.in2 AS DOUBLE)), 6) >= $ClipKeepThreshold AS kept
         |FROM dot t JOIN cn c USING (doc_id) JOIN inm i USING (doc_id)
         |WHERE c.cn2 > 0 AND i.in2 > 0
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      graft.QueryDef.largeSort(
        clipScores(s, Tables.documents(s, dir), Tables.embeddings(s, dir)),
        col("doc_id"))
    }
  )

  /** The CLIP-style alignment scorer over arbitrary (documents-shaped,
    * embeddings-shaped) frames — exposed so ClipFilterSpec can feed PLANTED
    * aligned / misaligned pairs and pin the score's fixed points (a caption
    * whose hashed projection IS the image vector scores 1.0; its negation
    * scores -1.0). Returns (doc_id, clip_sim, kept).
    */
  def clipScores(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      embeds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.functions.Exprs
    // dimensionality probe: one scalar agg, model-sized driver traffic
    val d = embeds.agg(min(size($"embedding"))).collect().head.getInt(0)
    val dims = docs
      .select($"doc_id", explode(Exprs.normWords($"text")).as("w"))
      .select($"doc_id",
        (Exprs.hash60(concat(lit("clipdim:"), $"w")) % d).as("dim"),
        when(Exprs.hash60(concat(lit("clipsign:"), $"w")) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
    val cap = dims.groupBy($"doc_id", $"dim")
      .agg(sum($"sgn").as("wgt")) // map-side combined; ±1 counts, exact
    val cn = cap.groupBy($"doc_id").agg(sum($"wgt" * $"wgt").as("cn2"))
    val img = embeds.select($"vec_id".as("doc_id"),
      transform($"embedding",
        x => round(x.cast("double") * 1000000).cast("long")).as("q"))
    val inm = img.select($"doc_id", $"q",
      aggregate($"q", lit(0L), (acc, x) => acc + x * x).as("in2"))
    // skinny co-keyed join: embeddings exploded once to (doc, dim, qv)
    val imgDims = img.select($"doc_id", posexplode($"q").as(Seq("dim", "qv")))
    val dot = cap.join(imgDims, Seq("doc_id", "dim"))
      .groupBy($"doc_id").agg(sum($"wgt" * $"qv").as("dotm"))
    dot
      .join(cn, Seq("doc_id")).join(inm.select($"doc_id", $"in2"), Seq("doc_id"))
      .filter($"cn2" > 0 && $"in2" > 0)
      .select($"doc_id",
        round($"dotm".cast("double") /
          sqrt(($"cn2" * $"in2").cast("double")), 6).as("clip_sim"))
      .withColumn("kept", $"clip_sim" >= ClipKeepThreshold)
  }

  /** Write-once-per-JVM webdataset fixture: the committed img_*.png files
    * packed into [[TarShardCount]] tar shards by doc_id mod, each sample as
    * adjacent entries `img_NNNN.png` + `img_NNNN.cls` (label = id % 10).
    */
  lazy val tarShardDir: String = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val root = graft.Scratch.dir("graft-tar-shards")
    val imgs = new java.io.File(mediaDir).listFiles()
      .filter(_.getName.matches("img_\\d+\\.png")).sortBy(_.getName)
    for (shard <- 0 until TarShardCount) {
      val out = new TarArchiveOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$root/shard-$shard.tar")))
      def put(name: String, bytes: Array[Byte]): Unit = {
        val e = new TarArchiveEntry(name)
        e.setSize(bytes.length.toLong)
        e.setModTime(0L) // timestamp-free: shard bytes must not depend on wall clock
        out.putArchiveEntry(e)
        out.write(bytes)
        out.closeArchiveEntry()
      }
      for (f <- imgs) {
        val id = f.getName.stripPrefix("img_").stripSuffix(".png").toLong
        if (id % TarShardCount == shard) {
          val base = f.getName.stripSuffix(".png")
          put(s"$base.png", java.nio.file.Files.readAllBytes(f.toPath))
          put(s"$base.cls", (id % 10).toString.getBytes("UTF-8"))
        }
      }
      out.close()
    }
    root
  }

  /** Distributed webdataset PACKER (write-once per JVM): shard = doc_id %
    * [[PackShardCount]], one repartition on the shard key + an in-partition
    * sort, then a streaming per-partition tar writer via the Hadoop FS that
    * switches files on shard change. Entries per sample: `img_NNNN.png`
    * (the original bytes, no re-encode) + `img_NNNN.cls` (id % 10).
    */
  def packedShardDir(s: org.apache.spark.sql.SparkSession): String =
    graft.Scratch.memoDir("graft-tar-pack", "packed")(packInto(s, _))

  /** The packer's write topology against an explicit target dir (exposed
    * so TarShardsSpec can pin run-to-run byte determinism — the property
    * that makes a mid-write task RETRY safe).
    */
  def packInto(s: org.apache.spark.sql.SparkSession, root: String): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    mediaFiles(s).toDF()
        .withColumn("shard", col("doc_id") % PackShardCount)
        .repartition(PackShardCount, col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          var cur = -1L
          var out: TarArchiveOutputStream = null
          def put(name: String, bytes: Array[Byte]): Unit = {
            val e = new TarArchiveEntry(name)
            e.setSize(bytes.length.toLong)
            e.setModTime(0L) // timestamp-free: shard bytes must not depend on wall clock
            out.putArchiveEntry(e)
            out.write(bytes)
            out.closeArchiveEntry()
          }
          rows.foreach { r =>
            val (id, content, shard) =
              (r.getLong(0), r.getAs[Array[Byte]](1), r.getLong(2))
            if (shard != cur) {
              if (out != null) out.close()
              val p = new org.apache.hadoop.fs.Path(s"file:$root/shard-$shard.tar")
              val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
              out = new TarArchiveOutputStream(
                new java.io.BufferedOutputStream(fs.create(p, true)))
              cur = shard
            }
            val base = f"img_$id%04d"
            put(s"$base.png", content)
            put(s"$base.cls", (id % 10).toString.getBytes("UTF-8"))
          }
          if (out != null) out.close()
        }
  }

  /** Stream one tar shard from its (possibly remote) path and assemble
    * adjacent same-basename entries into decoded samples. Exposed for
    * TarShardsSpec.
    */
  def readTarShard(path: String): Iterator[TarSample] = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val shard = "shard-(\\d+)\\.tar".r.findFirstMatchIn(path).get.group(1).toLong
    val p = new org.apache.hadoop.fs.Path(new java.net.URI(path))
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // transparent .tar.zst support (zstd-jni ships with Spark): compressed
    // shards stream through the same sequential path — still never
    // materialized, still splittable only at shard granularity (which is
    // the webdataset contract anyway)
    val raw: java.io.InputStream =
      if (path.endsWith(".zst"))
        new com.github.luben.zstd.ZstdInputStream(fs.open(p))
      else fs.open(p)
    val tar = new TarArchiveInputStream(new java.io.BufferedInputStream(raw))
    ImageIO.setUseCache(false)
    val samples = scala.collection.mutable.Buffer.empty[TarSample]
    var curBase: String = null
    var png: Array[Byte] = null
    var cls: Array[Byte] = null
    def flush(): Unit = if (curBase != null) {
      val img = ImageIO.read(new ByteArrayInputStream(png))
      samples += TarSample(
        curBase.stripPrefix("img_").toLong, shard, png.length.toLong,
        img.getWidth.toLong, img.getHeight.toLong,
        img.getRaster.getNumBands.toLong,
        new String(cls, "UTF-8").toLong)
      png = null; cls = null
    }
    var e = tar.getNextEntry
    while (e != null) {
      val base = e.getName.substring(0, e.getName.lastIndexOf('.'))
      if (base != curBase) { flush(); curBase = base }
      val bytes = tar.readAllBytes()
      if (e.getName.endsWith(".png")) png = bytes else cls = bytes
      e = tar.getNextEntry
    }
    flush()
    tar.close()
    samples.iterator
  }
}
