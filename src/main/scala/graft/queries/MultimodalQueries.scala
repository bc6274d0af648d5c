package graft.queries

import graft.functions.GraftFunctions
import graft.multimodal.{MediaCodec, MediaFile, MediaOps}
import graft.operators.IvfIndex

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared queries for the multimodal column pipeline (SURVEY §2.3).
  * Metadata is REALLY decoded for all four kinds: `mediaFromDocuments`
  * plants PNG IHDR / JPEG SOF headers carrying id-derived dimensions
  * and WAV fmt/data / MP4 mvhd headers carrying id-derived durations;
  * the Spark side recovers them by parsing the BYTES ([[graft
  * .multimodal.MediaCodec]]), and the oracle re-derives them from the
  * id arithmetic independently — the compare can only pass if the
  * header parses are correct. */
object MultimodalQueries {

  /** Expected media metadata re-derived from the id arithmetic alone —
    * shared by q29 (in-memory payload path) and q132 (binaryFile
    * ingest path): both must recover identical values by PARSING the
    * container bytes. */
  private val mediaMetaOracle =
    """SELECT doc_id AS media_id,
        |       CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |            WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS kind,
        |       (CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 15
        |             WHEN 2 THEN 44 ELSE 144 END
        |          + octet_length(encode(text)))::BIGINT AS n_bytes,
        |       (CASE WHEN doc_id % 4 < 2 THEN doc_id * 7 % 1920 + 1 ELSE 0 END)::INT AS width,
        |       (CASE WHEN doc_id % 4 < 2 THEN doc_id * 13 % 1080 + 1 ELSE 0 END)::INT AS height,
        |       (CASE doc_id % 4
        |             WHEN 2 THEN octet_length(encode(text))::BIGINT * 1000
        |                  // ((8000 + doc_id % 8 * 1000) * (doc_id // 4 % 2 + 1) * 2)
        |             WHEN 3 THEN (doc_id * 31 % 100000) * 1000 // (600 + doc_id % 7 * 100)
        |             ELSE 0 END)::BIGINT AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin

  // ---- q296: perceptual-hash image near-dup ---------------------------

  /** The REAL-PIXEL image lake: every image document renders as a
    * genuine deflate-compressed grayscale PNG
    * ([[graft.multimodal.MediaCodec.pngEncodeGray]]) whose pixels are
    * a DETERMINISTIC function of the text — pixel i = body byte
    * (i mod len) — so the DuckDB oracle replays the whole chain from
    * (doc_id, text) arithmetic while the Spark side must actually
    * DECODE compressed pixel data to match. Plants: the first
    * [[PlantBound]]/4 images reappear under offset ids with ONE PIXEL
    * flipped — pixel (0,0) only feeds region (0,0), which only feeds
    * dHash bit (0,0), so a plant corrupts at most 1 of the 4 bands:
    * banding recall of the plants is structural, not probabilistic. */
  private val PlantOffset = 10000000L
  private val PlantBound = 240L
  private val HamThreshold = 6

  /** Deterministic pixel-lake dims: small enough that the oracle's
    * per-pixel unnest stays tractable, spread enough to exercise the
    * region arithmetic (w in [8, 71] hits the empty-region edge at
    * w = 8, h in [8, 55]). */
  private def imgDims(id: Long): (Int, Int) =
    ((id * 7 % 64 + 8).toInt, (id * 13 % 48 + 8).toInt)

  private[graft] def realPng(id: Long, text: String,
      plant: Boolean): Array[Byte] = {
    val body = text.getBytes("UTF-8")
    val (w, h) = imgDims(id)
    val lum = Array.tabulate(w * h)(i =>
      if (body.isEmpty) 0 else body(i % body.length) & 0xff)
    if (plant) lum(0) = (lum(0) + 128) % 256
    graft.multimodal.MediaCodec.pngEncodeGray(w, h, lum)
  }

  private def imageLake(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[MediaFile] = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val base = docs.filter(t => t._1 % 4 < 2).map { case (id, text) =>
      MediaFile(id, "image/png", realPng(id, text, plant = false))
    }
    val plants = docs.filter(t => t._1 % 4 == 0 && t._1 < PlantBound)
      .map { case (id, text) =>
        MediaFile(id + PlantOffset, "image/png",
          realPng(id, text, plant = true))
      }
    base.union(plants)
  }

  /** Degenerate-bucket cap for the media band joins — the safety net
    * ON TOP of the 32-bit pair banding ([[WordPairs]]): a band value
    * shared by k fingerprints yields k^2/2 candidate pairs, so
    * buckets above the cap are DROPPED before the self-join (the
    * `queries/NearDupQueries.scala` `maxBucketSize` discipline),
    * mirrored EXACTLY in the DuckDB oracles (HAVING count(*) <= cap)
    * so the gates stay hash-green at every SF. With pair bands the
    * only buckets that ever approach the cap are true duplicate
    * stacks (constant-image / constant-energy fingerprints) — the
    * 16-bit single-word bands this replaces grew occupancy linearly
    * with corpus size (80x shuffle on 10x data, round 13; still 28x
    * capped — the width, not the cap, was the bottleneck). */
  private[graft] val MediaBandCap = 512

  /** The 6 WORD-PAIR bands over the 4 16-bit fingerprint words: each
    * band key is 32 bits, so the band space is ~4.3e9 values and
    * bucket occupancy stays O(true near-dups) at ANY corpus size —
    * the structural fix for the 16-bit bands' linear bucket growth
    * (quadratic candidates). Recall is still structural: an image
    * plant corrupts 1 word (3 clean pairs survive), an audio plant
    * corrupts at most 2 words (>= 1 clean pair survives), and a
    * pixel-exact crop matches on all 6. */
  private val WordPairs =
    Seq(("b0", "b1"), ("b0", "b2"), ("b0", "b3"),
      ("b1", "b2"), ("b1", "b3"), ("b2", "b3"))

  /** DuckDB mirror of the pair-band candidate step: per word pair,
    * a capped-bucket CTE plus the 2-column equi-join, unioned —
    * exactly [[bandedHammingPairs]]/[[tileBandedPairs]]' shape. */
  private def pairBandCandSql(idCol: String,
      tiled: Boolean = false): String = {
    val oks = WordPairs.zipWithIndex.map { case ((bi, bj), k) =>
      s"ok$k AS (SELECT $bi AS v1, $bj AS v2 FROM bands GROUP BY 1, 2 " +
        s"HAVING count(*) <= $MediaBandCap)"
    }.mkString(",\n")
    val sel =
      if (tiled) s"a.$idCol AS id_a, a.tile AS tile_a, " +
        s"b.$idCol AS id_b, b.tile AS tile_b"
      else s"a.$idCol AS id_a, b.$idCol AS id_b"
    val selShort =
      if (tiled) s"a.$idCol, a.tile, b.$idCol, b.tile"
      else s"a.$idCol, b.$idCol"
    val branches = WordPairs.zipWithIndex.map { case ((bi, bj), k) =>
      val head = if (k == 0) sel else selShort
      s"  SELECT $head FROM bands a\n" +
        s"    JOIN ok$k ON a.$bi = ok$k.v1 AND a.$bj = ok$k.v2\n" +
        s"    JOIN bands b ON a.$bi = b.$bi AND a.$bj = b.$bj " +
        s"AND a.$idCol < b.$idCol"
    }.mkString("\n  UNION\n")
    oks + ",\ncand AS (\n" + branches + ")"
  }

  /** Shared Hamming-LSH tail over a (media_id, b0..b3) band frame:
    * candidates from per-PAIR-band equi-joins (never a cartesian —
    * the q32/q263 discipline) with the [[MediaBandCap]]
    * degenerate-bucket guard on top, verified by exact bit_count
    * Hamming distance. One definition for the image (q296) and audio
    * (q299) fingerprint gates, so a banding change cannot fork them.
    * The per-band cap filter is a groupBy on the SAME keys the join
    * shuffles on — co-partitioned, no extra exchange. */
  /** Exploded band rows: one (keep..., __k, __v1, __v2) row per
    * [[WordPairs]] band, so ALL six bands flow through ONE
    * (__k, __v1, __v2)-keyed chain — bucket-cap aggregation,
    * cap-filter semi-join, and candidate self-join — instead of six
    * independent per-band branches (guide §2.4: the q115
    * explode-the-operating-point collapse; before: ~3 band-keyed
    * exchanges per branch x 6 branches, after: one exchange of the
    * 6x-exploded rows that every downstream step reuses). The
    * candidate set is identical: a (pair, band) hit is one exploded
    * row on either side, and the union's dedup is the same
    * `.distinct()`. */
  private def bandRows(bands: org.apache.spark.sql.DataFrame,
      keep: Seq[String]): org.apache.spark.sql.DataFrame =
    bands.select(keep.map(col) :+
      posexplode(array(WordPairs.map { case (bi, bj) =>
        struct(col(bi).as("v1"), col(bj).as("v2"))
      }: _*)).as(Seq("__k", "__vs")): _*)
      .select(keep.map(col) ++ Seq(col("__k"),
        col("__vs.v1").as("__v1"), col("__vs.v2").as("__v2")): _*)

  private[graft] def bandedHammingPairs(
      bands0: org.apache.spark.sql.DataFrame,
      maxBucketSize: Int = MediaBandCap)
      : org.apache.spark.sql.DataFrame = {
    val bands = FrameMemo.checkpointed(bands0)
    val rows = bandRows(bands, Seq("media_id"))
    val ok = rows.groupBy(col("__k"), col("__v1"), col("__v2"))
      .agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBucketSize)
      .select(col("__k"), col("__v1"), col("__v2"))
    val l = rows.select(col("media_id").as("id_a"),
      col("__k"), col("__v1"), col("__v2"))
      .join(ok, Seq("__k", "__v1", "__v2"))
    val r = rows.select(col("media_id").as("id_b"),
      col("__k"), col("__v1"), col("__v2"))
    val cand = l.join(r, Seq("__k", "__v1", "__v2"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val xa = bands.select(col("media_id").as("id_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val xb = bands.select(col("media_id").as("id_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(xa, "id_a").join(xb, "id_b")
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .where(col("hamming") <= HamThreshold)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Matching DuckDB tail: assumes a CTE `cmp(media_id, bit, v)` of
    * fingerprint bits is in scope; emits bands -> band-join
    * candidates -> Hamming verify, mirroring [[bandedHammingPairs]]. */
  private def bandedTailSql: String =
    s"""bands AS (SELECT media_id,
       |    sum(CASE WHEN bit // 16 = 0 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b0,
       |    sum(CASE WHEN bit // 16 = 1 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b1,
       |    sum(CASE WHEN bit // 16 = 2 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b2,
       |    sum(CASE WHEN bit // 16 = 3 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b3
       |  FROM cmp GROUP BY 1),
       |${pairBandCandSql("media_id")}
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT cand.id_a, cand.id_b,
       |         (bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
       |          bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)))::BIGINT AS hamming
       |  FROM cand JOIN bands x ON x.media_id = cand.id_a
       |            JOIN bands y ON y.media_id = cand.id_b) t
       |WHERE hamming <= $HamThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** The q296 chain, shared by the gate and the plan/recall spec. */
  private[graft] def imagePhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    bandedHammingPairs(MediaOps.imageDHash(imageLake(spark, dir)))

  /** DuckDB replay of the whole q296 chain from (doc_id, text) alone —
    * possible precisely BECAUSE the lake's pixels are a deterministic
    * function of the text: plant (pixel-0 flip) -> per-pixel region
    * assignment `(y*8//h)*9 + (x*9//w)` -> integer region means ->
    * dHash gradient bits -> 16-bit bands -> band equi-join candidates
    * -> Hamming verify. The Spark side can only match by correctly
    * DECODING the deflate-compressed PNGs back to those pixels. */
  private val imagePhashSql =
    s"""WITH imgs AS (
       |  SELECT doc_id AS media_id, text AS body,
       |         (doc_id * 7 % 64 + 8)::BIGINT AS w,
       |         (doc_id * 13 % 48 + 8)::BIGINT AS h, 0 AS flip
       |  FROM documents WHERE doc_id % 4 < 2
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, text,
       |         (doc_id * 7 % 64 + 8)::BIGINT,
       |         (doc_id * 13 % 48 + 8)::BIGINT, 1
       |  FROM documents WHERE doc_id % 4 = 0 AND doc_id < $PlantBound),
       |px AS (SELECT media_id,
       |        unnest([(((i-1) // w) * 8 // h) * 9 + (((i-1) % w) * 9 // w)
       |                for i in generate_series(1, w * h)]) AS region,
       |        unnest([(CASE WHEN length(body) = 0 THEN 0
       |                      ELSE ord(substr(body, ((i-1) % length(body)) + 1, 1)) END
       |                 + CASE WHEN flip = 1 AND i = 1 THEN 128 ELSE 0 END) % 256
       |                for i in generate_series(1, w * h)]) AS v
       |      FROM imgs),
       |ra AS (SELECT media_id, region, sum(v) // count(*) AS avg FROM px GROUP BY 1, 2),
       |grid AS (SELECT ids.media_id, gs.j, coalesce(ra.avg, 0) AS avg
       |         FROM (SELECT media_id FROM imgs) ids
       |         CROSS JOIN generate_series(0, 71) gs(j)
       |         LEFT JOIN ra ON ra.media_id = ids.media_id AND ra.region = gs.j),
       |cmp AS (SELECT g1.media_id, (g1.j // 9) * 8 + (g1.j % 9) AS bit,
       |               CASE WHEN g1.avg > g2.avg THEN 1 ELSE 0 END AS v
       |        FROM grid g1 JOIN grid g2
       |          ON g2.media_id = g1.media_id AND g2.j = g1.j + 1
       |        WHERE g1.j % 9 < 8),
       |$bandedTailSql""".stripMargin

  // ---- q306: tile-grain (crop-robust) image near-dup -------------------

  /** Planted CROPS: the first [[PlantBound]]/4 images reappear under
    * offset ids as their BOTTOM-RIGHT QUADRANT — pixels identical to
    * the source's quadrant, so the crop's full-frame tile hashes
    * EXACTLY like the source's tile 4 and banding recall of every
    * crop pair is structural (hamming 0 on at least one tile pair).
    * Whole-image hashing (q296) cannot see these: a crop shares no
    * full-frame geometry with its source. */
  private val CropOffset = 30000000L

  private[graft] def croppedPng(id: Long, text: String): Array[Byte] = {
    val body = text.getBytes("UTF-8")
    val (w, h) = imgDims(id)
    val lum = Array.tabulate(w * h)(i =>
      if (body.isEmpty) 0 else body(i % body.length) & 0xff)
    val xs = w / 2
    val ys = h / 2
    val cw = w - xs
    val ch = h - ys
    val crop = Array.tabulate(cw * ch) { i =>
      val x = i % cw
      val y = i / cw
      lum((y + ys) * w + (x + xs))
    }
    graft.multimodal.MediaCodec.pngEncodeGray(cw, ch, crop)
  }

  private def cropLake(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[MediaFile] = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val base = docs.filter(t => t._1 % 4 < 2).map { case (id, text) =>
      MediaFile(id, "image/png", realPng(id, text, plant = false))
    }
    val crops = docs.filter(t => t._1 % 4 == 0 && t._1 < PlantBound)
      .map { case (id, text) =>
        MediaFile(id + CropOffset, "image/png", croppedPng(id, text))
      }
    base.union(crops)
  }

  /** The q306 chain: tile hashes -> per-band equi-join candidates at
    * (image, tile) grain (distinct union across bands, never a
    * cartesian) -> exact Hamming verify per TILE PAIR. Emits the
    * verified tile-pair rows — more granular than an image-pair
    * aggregate, so the compare pins every tile's hash. */
  private[graft] def imageTilePairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tileBandedPairs(MediaOps.imageTileDHash(cropLake(spark, dir)))

  /** The tile-grain banded-Hamming tail, with the same
    * [[MediaBandCap]] degenerate-bucket guard as
    * [[bandedHammingPairs]]: a 16-bit band value's bucket holds
    * (image, tile) rows, whose count grows linearly with the corpus,
    * so buckets above the cap are dropped before the self-join
    * (mirrored in the oracle's HAVING). */
  private[graft] def tileBandedPairs(
      tiles0: org.apache.spark.sql.DataFrame,
      maxBucketSize: Int = MediaBandCap)
      : org.apache.spark.sql.DataFrame = {
    val tiles = FrameMemo.checkpointed(tiles0)
    // same single-(__k,__v1,__v2)-chain collapse as
    // [[bandedHammingPairs]], at (media, tile) grain
    val rows = bandRows(tiles, Seq("media_id", "tile"))
    val ok = rows.groupBy(col("__k"), col("__v1"), col("__v2"))
      .agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBucketSize)
      .select(col("__k"), col("__v1"), col("__v2"))
    val l = rows.select(col("media_id").as("id_a"),
      col("tile").as("tile_a"), col("__k"), col("__v1"), col("__v2"))
      .join(ok, Seq("__k", "__v1", "__v2"))
    val r = rows.select(col("media_id").as("id_b"),
      col("tile").as("tile_b"), col("__k"), col("__v1"), col("__v2"))
    val cand = l.join(r, Seq("__k", "__v1", "__v2"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("tile_a"), col("id_b"), col("tile_b"))
      .distinct()
    val xa = tiles.select(col("media_id").as("id_a"),
      col("tile").as("tile_a"), col("b0").as("a0"), col("b1").as("a1"),
      col("b2").as("a2"), col("b3").as("a3"))
    val xb = tiles.select(col("media_id").as("id_b"),
      col("tile").as("tile_b"), col("b0").as("c0"), col("b1").as("c1"),
      col("b2").as("c2"), col("b3").as("c3"))
    cand.join(xa, Seq("id_a", "tile_a")).join(xb, Seq("id_b", "tile_b"))
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .where(col("hamming") <= HamThreshold)
      .select(col("id_a"), col("tile_a").cast("long").as("tile_a"),
        col("id_b"), col("tile_b").cast("long").as("tile_b"),
        col("hamming"))
      .orderBy(col("id_a"), col("id_b"), col("tile_a"), col("tile_b"))
  }

  /** DuckDB replay: the crop lake's pixels are arithmetic over
    * (doc_id, text) — a crop's pixel (x, y) reads the SOURCE pixel
    * field at (x + w/2, y + h/2) — so tiles, regions, gradient bits,
    * bands, candidates, and Hamming verification all replay without
    * decoding anything; Spark must decode compressed PNGs AND tile
    * them in tile-local coordinates to match. */
  private val imageTileSql = {
    // pixel value of image coords (x, y) through the crop offset
    def pix(x: String, y: String): String =
      s"""(CASE WHEN length(body) = 0 THEN 0
         |  ELSE ord(substr(body, ((($y + yoff) * w0 + ($x + xoff)) % length(body)) + 1, 1)) END)"""
        .stripMargin.replace("\n", " ")
    val x = "((i-1) % wi)"
    val y = "((i-1) // wi)"
    // quadrant decomposition of image coords
    val qx = s"(CASE WHEN $x < wi // 2 THEN 0 ELSE 1 END)"
    val qy = s"(CASE WHEN $y < hi // 2 THEN 0 ELSE 1 END)"
    val tx = s"($x - $qx * (wi // 2))"
    val ty = s"($y - $qy * (hi // 2))"
    val tw = s"(CASE WHEN $qx = 0 THEN wi // 2 ELSE wi - wi // 2 END)"
    val th = s"(CASE WHEN $qy = 0 THEN hi // 2 ELSE hi - hi // 2 END)"
    s"""WITH imgs AS (
       |  SELECT doc_id AS media_id, text AS body,
       |         (doc_id * 7 % 64 + 8)::BIGINT AS w0,
       |         (doc_id * 13 % 48 + 8)::BIGINT AS h0,
       |         (doc_id * 7 % 64 + 8)::BIGINT AS wi,
       |         (doc_id * 13 % 48 + 8)::BIGINT AS hi,
       |         0::BIGINT AS xoff, 0::BIGINT AS yoff
       |  FROM documents WHERE doc_id % 4 < 2
       |  UNION ALL
       |  SELECT doc_id + $CropOffset, text,
       |         (doc_id * 7 % 64 + 8)::BIGINT,
       |         (doc_id * 13 % 48 + 8)::BIGINT,
       |         (doc_id * 7 % 64 + 8)::BIGINT - (doc_id * 7 % 64 + 8) // 2,
       |         (doc_id * 13 % 48 + 8)::BIGINT - (doc_id * 13 % 48 + 8) // 2,
       |         ((doc_id * 7 % 64 + 8) // 2)::BIGINT,
       |         ((doc_id * 13 % 48 + 8) // 2)::BIGINT
       |  FROM documents WHERE doc_id % 4 = 0 AND doc_id < $PlantBound),
       |px AS (
       |  SELECT media_id, 0 AS tile,
       |    unnest([(($y * 8) // hi) * 9 + (($x * 9) // wi)
       |            for i in generate_series(1, wi * hi)]) AS region,
       |    unnest([${pix(x, y)} for i in generate_series(1, wi * hi)]) AS v
       |  FROM imgs
       |  UNION ALL
       |  SELECT media_id,
       |    unnest([1 + $qy * 2 + $qx for i in generate_series(1, wi * hi)]) AS tile,
       |    unnest([(($ty * 8) // $th) * 9 + (($tx * 9) // $tw)
       |            for i in generate_series(1, wi * hi)]) AS region,
       |    unnest([${pix(x, y)} for i in generate_series(1, wi * hi)]) AS v
       |  FROM imgs),
       |ra AS (SELECT media_id, tile, region, sum(v) // count(*) AS avg
       |       FROM px GROUP BY 1, 2, 3),
       |grid AS (SELECT t.media_id, t.tile, gs.j, coalesce(ra.avg, 0) AS avg
       |         FROM (SELECT DISTINCT media_id, tile FROM px) t
       |         CROSS JOIN generate_series(0, 71) gs(j)
       |         LEFT JOIN ra ON ra.media_id = t.media_id
       |           AND ra.tile = t.tile AND ra.region = gs.j),
       |cmp AS (SELECT g1.media_id, g1.tile,
       |               (g1.j // 9) * 8 + (g1.j % 9) AS bit,
       |               CASE WHEN g1.avg > g2.avg THEN 1 ELSE 0 END AS v
       |        FROM grid g1 JOIN grid g2
       |          ON g2.media_id = g1.media_id AND g2.tile = g1.tile
       |          AND g2.j = g1.j + 1
       |        WHERE g1.j % 9 < 8),
       |bands AS (SELECT media_id, tile,
       |    sum(CASE WHEN bit // 16 = 0 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b0,
       |    sum(CASE WHEN bit // 16 = 1 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b1,
       |    sum(CASE WHEN bit // 16 = 2 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b2,
       |    sum(CASE WHEN bit // 16 = 3 THEN v * (1 << (bit % 16)) ELSE 0 END)::BIGINT AS b3
       |  FROM cmp GROUP BY 1, 2),
       |${pairBandCandSql("media_id", tiled = true)}
       |SELECT id_a, tile_a, id_b, tile_b, hamming FROM (
       |  SELECT cand.id_a, cand.tile_a::BIGINT AS tile_a,
       |         cand.id_b, cand.tile_b::BIGINT AS tile_b,
       |         (bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
       |          bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)))::BIGINT AS hamming
       |  FROM cand JOIN bands x ON x.media_id = cand.id_a AND x.tile = cand.tile_a
       |            JOIN bands y ON y.media_id = cand.id_b AND y.tile = cand.tile_b) t
       |WHERE hamming <= $HamThreshold
       |ORDER BY id_a, id_b, tile_a, tile_b""".stripMargin
  }

  // ---- q299: acoustic-fingerprint audio near-dup ----------------------

  /** Planted near-identical WAVs: one content byte changed moves one
    * sample, hence one window energy, hence at most 2 gradient bits
    * (and at most 2 of 4 bands) — same structural-recall argument as
    * the image plants. */
  private val AudioPlantBound = 242L

  private def audioLake(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[MediaFile] = {
    import spark.implicits._
    val base = MediaOps.mediaFromDocuments(spark, dir)
      .filter(f => f.kind.startsWith("audio/"))
    val plants = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(t => t._1 % 4 == 2 && t._1 < AudioPlantBound)
      .map { case (id, text) =>
        val body = ("X" + text.drop(1)).getBytes("UTF-8")
        MediaFile(id + PlantOffset, "audio/wav",
          graft.multimodal.MediaCodec.wavBytes(
            (8000 + id % 8 * 1000).toInt, (id / 4 % 2 + 1).toInt, 16, body))
      }
    base.union(plants)
  }

  /** The q299 chain, shared by the gate and the recall spec. */
  private[graft] def audioFingerprintPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    bandedHammingPairs(MediaOps.audioFingerprint(audioLake(spark, dir)))

  /** DuckDB replay: plant -> LE16 signed-PCM sample decode from the
    * text bytes -> 65-window integer energy sums -> gradient bits ->
    * the shared banded-Hamming tail. */
  private val audioFpSql =
    s"""WITH auds AS (
       |  SELECT doc_id AS media_id, text AS body FROM documents WHERE doc_id % 4 = 2
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, 'X' || substr(text, 2) FROM documents
       |  WHERE doc_id % 4 = 2 AND doc_id < $AudioPlantBound),
       |smp AS (SELECT media_id,
       |        unnest([((k-1) * 65) // (length(body) // 2)
       |                for k in generate_series(1, length(body) // 2)]) AS w,
       |        unnest([abs(CASE WHEN ord(substr(body, 2*k-1, 1)) + 256 * ord(substr(body, 2*k, 1)) >= 32768
       |                    THEN ord(substr(body, 2*k-1, 1)) + 256 * ord(substr(body, 2*k, 1)) - 65536
       |                    ELSE ord(substr(body, 2*k-1, 1)) + 256 * ord(substr(body, 2*k, 1)) END)
       |                for k in generate_series(1, length(body) // 2)]) AS v
       |        FROM auds WHERE length(body) >= 2),
       |we AS (SELECT media_id, w, sum(v) AS e FROM smp GROUP BY 1, 2),
       |grid AS (SELECT ids.media_id, gs.j, coalesce(we.e, 0) AS e
       |         FROM (SELECT media_id FROM auds) ids
       |         CROSS JOIN generate_series(0, 64) gs(j)
       |         LEFT JOIN we ON we.media_id = ids.media_id AND we.w = gs.j),
       |cmp AS (SELECT g1.media_id, g1.j AS bit,
       |               CASE WHEN g1.e > g2.e THEN 1 ELSE 0 END AS v
       |        FROM grid g1 JOIN grid g2
       |          ON g2.media_id = g1.media_id AND g2.j = g1.j + 1
       |        WHERE g1.j < 64),
       |$bandedTailSql""".stripMargin

  // ---- q165: multimodal -> ANN composition ---------------------------

  /** IVF parameters for the media-feature ANN chain (Dim = 8 content
    * features; the embeddings chain's constants live in
    * SimilarityQueries and stay untouched). */
  private val MediaDim = MediaOps.FeatureDim
  private val MediaCents = 8
  private val MediaQueries = 6
  private val MediaTopK = 5

  /** DuckDB replay of the media IVF chain: q30's feature derivation
    * feeds the same seed -> one-Lloyd-round -> assign -> same-cell
    * cosine top-k chain the embeddings gates replay (the
    * SimilarityQueries CTE pattern at Dim = [[MediaDim]]). Zero-norm
    * vectors (empty-text audio/video rows have no nonzero component)
    * are excluded on both sides — cosine is undefined for them. */
  private val mediaAnnSql = {
    val d = MediaDim
    val scale = IvfIndex.Scale
    s"""WITH s AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 4 < 2 THEN doc_id * 7 % 1920 + 1 ELSE 0 END AS w,
       |         CASE WHEN doc_id % 4 < 2 THEN doc_id * 13 % 1080 + 1 ELSE 0 END AS h,
       |         length(text) AS len,
       |         list_aggregate([ord(substr(text, i, 1))
       |                         for i in generate_series(1, length(text))], 'sum') AS sbytes,
       |         length(text) - length(replace(text, ' ', '')) AS nws,
       |         length(regexp_replace(text, '[^a-z]', '', 'g')) AS nlower,
       |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS ndigit,
       |         len(list_distinct([substr(text, i, 1)
       |                            for i in generate_series(1, length(text))])) AS ndist
       |  FROM documents),
       |fv AS (
       |  SELECT doc_id AS vec_id,
       |         [ CAST(CAST(w::DOUBLE / 1920.0 AS FLOAT) AS DOUBLE),
       |           CAST(CAST(h::DOUBLE / 1080.0 AS FLOAT) AS DOUBLE),
       |           CAST(CAST(len::DOUBLE / (len + 1024)::DOUBLE AS FLOAT) AS DOUBLE),
       |           CAST(CAST(CASE WHEN len = 0 THEN 0.0 ELSE sbytes::DOUBLE / (len * 255)::DOUBLE END AS FLOAT) AS DOUBLE),
       |           CAST(CAST(CASE WHEN len = 0 THEN 0.0 ELSE nws::DOUBLE / len::DOUBLE END AS FLOAT) AS DOUBLE),
       |           CAST(CAST(CASE WHEN len = 0 THEN 0.0 ELSE nlower::DOUBLE / len::DOUBLE END AS FLOAT) AS DOUBLE),
       |           CAST(CAST(CASE WHEN len = 0 THEN 0.0 ELSE ndigit::DOUBLE / len::DOUBLE END AS FLOAT) AS DOUBLE),
       |           CAST(CAST(CASE WHEN len = 0 THEN 0.0 ELSE ndist::DOUBLE / len::DOUBLE END AS FLOAT) AS DOUBLE) ] AS v
       |  FROM s),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, v,
       |           sqrt(list_aggregate([x*x for x in v], 'sum')) AS nrm
       |    FROM fv) z WHERE nrm > 0),
       |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $MediaCents),
       |a0 AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |             list_aggregate([n.v[i]*c.cv[i] for i in generate_series(1, $d)], 'sum')
       |               / (n.nrm*c.cnrm) DESC, c.cid) AS rn
       |    FROM n CROSS JOIN c0 c) t WHERE rn = 1),
       |c1s AS (
       |  SELECT cid, i,
       |         CAST(sum(CAST(floor(v[i] * $scale) AS BIGINT)) AS BIGINT) AS sv,
       |         count(*)::BIGINT AS cnt
       |  FROM a0 CROSS JOIN generate_series(1, $d) t(i)
       |  GROUP BY cid, i),
       |c1 AS (
       |  SELECT cid, cv, sqrt(list_aggregate([x*x for x in cv], 'sum')) AS cnrm FROM (
       |    SELECT cid, list(sv::DOUBLE / (cnt::DOUBLE * $scale) ORDER BY i) AS cv
       |    FROM c1s GROUP BY cid) z),
       |cell AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |             list_aggregate([n.v[i]*c.cv[i] for i in generate_series(1, $d)], 'sum')
       |               / (n.nrm*c.cnrm) DESC, c.cid) AS rn
       |    FROM n CROSS JOIN c1 c) t WHERE rn = 1),
       |sims AS (
       |  SELECT q.vec_id AS qid, x.vec_id AS nid,
       |         list_aggregate([q.v[i]*x.v[i] for i in generate_series(1, $d)], 'sum')
       |           / (q.nrm * x.nrm) AS sim
       |  FROM cell q JOIN cell x ON q.cid = x.cid
       |  WHERE q.vec_id < $MediaQueries)
       |SELECT qid, nid, sim, rank FROM (
       |  SELECT qid, nid, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rank
       |  FROM sims) t
       |WHERE rank <= $MediaTopK ORDER BY qid, rank""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Metadata extraction over binary payloads: kind by id % 4,
    // n_bytes = real header size (PNG 33 / JPEG 15 / WAV 44 / MP4 144)
    // + utf-8 body, width/height parsed from image header bytes (0 for
    // the time-based kinds), duration from WAV data-over-byte-rate /
    // MP4 mvhd ticks-over-timescale math (0 for images).
    QueryDef("q29_media_meta", mediaMetaOracle) { (spark, dir) =>
      MediaOps.extractMeta(MediaOps.mediaFromDocuments(spark, dir))
        .toDF()
        .select(col("mediaId").as("media_id"), col("kind"),
          col("nBytes").as("n_bytes"), col("width"), col("height"),
          col("durationMs").as("duration_ms"))
        .orderBy(col("media_id"))
    },

    // The file-lake ingest path: every payload staged as its own
    // `<id>.bin` object (how a real multimodal corpus actually sits in
    // storage), read back through Spark's `binaryFile` source — a
    // partition-parallel listing + whole-object read with pushed-down
    // pathGlobFilter — id recovered from the PATH, bytes decoded by
    // the same header parsers as q29. Same oracle as q29: the gate
    // passes only if the file round trip preserved every byte and the
    // path→id→kind plumbing lines up row-for-row.
    QueryDef("q132_binaryfile_source", mediaMetaOracle) { (spark, dir) =>
      import spark.implicits._
      val path = stagedMediaFiles(spark, dir)
      val files = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(path)
        .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
          .cast("long").as("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) => MediaFile(id, MediaOps.kindOf(id), bytes) }
      MediaOps.extractMeta(files)
        .toDF()
        .select(col("mediaId").as("media_id"), col("kind"),
          col("nBytes").as("n_bytes"), col("width"), col("height"),
          col("durationMs").as("duration_ms"))
        .orderBy(col("media_id"))
    },

    // REAL content features, fully oracle-gated: f1/f2 are the
    // header-parsed dimensions (normalized), f3..f8 are byte
    // statistics over the content stream AFTER the container header —
    // which is exactly the utf-8 text, so the oracle re-derives every
    // component from (doc_id, text) without ever seeing the payload.
    // LOAD-BEARING fixture invariant: the text is pure ASCII
    // (octet_length(encode(text)) = length(text) for every row, all
    // SFs — verified), so the oracle's per-CHARACTER ord/substr stats
    // equal Spark's per-BYTE stats; a non-ASCII fixture would need
    // the oracle rewritten over encode(text). Each feature is one
    // double expression rounded once to float on both sides (IEEE
    // round-to-nearest on both engines), re-widened to double for the
    // value compare; empty text yields 0 fractions on both sides
    // (Spark guards len == 0, the oracle CASE-guards the division).
    // Emitted as exploded scalar rows (the driver compare can't hash
    // array cells).
    QueryDef("q30_media_features",
      """WITH s AS (
        |  SELECT doc_id,
        |         CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |              WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS kind,
        |         CASE WHEN doc_id % 4 < 2 THEN doc_id * 7 % 1920 + 1 ELSE 0 END AS w,
        |         CASE WHEN doc_id % 4 < 2 THEN doc_id * 13 % 1080 + 1 ELSE 0 END AS h,
        |         length(text) AS len,
        |         list_aggregate([ord(substr(text, i, 1))
        |                         for i in generate_series(1, length(text))], 'sum') AS sbytes,
        |         length(text) - length(replace(text, ' ', '')) AS nws,
        |         length(regexp_replace(text, '[^a-z]', '', 'g')) AS nlower,
        |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS ndigit,
        |         len(list_distinct([substr(text, i, 1)
        |                            for i in generate_series(1, length(text))])) AS ndist
        |  FROM documents),
        |fv AS (
        |  SELECT doc_id AS media_id, kind,
        |         [ w::DOUBLE / 1920.0, h::DOUBLE / 1080.0,
        |           len::DOUBLE / (len + 1024)::DOUBLE,
        |           CASE WHEN len = 0 THEN 0.0 ELSE sbytes::DOUBLE / (len * 255)::DOUBLE END,
        |           CASE WHEN len = 0 THEN 0.0 ELSE nws::DOUBLE / len::DOUBLE END,
        |           CASE WHEN len = 0 THEN 0.0 ELSE nlower::DOUBLE / len::DOUBLE END,
        |           CASE WHEN len = 0 THEN 0.0 ELSE ndigit::DOUBLE / len::DOUBLE END,
        |           CASE WHEN len = 0 THEN 0.0 ELSE ndist::DOUBLE / len::DOUBLE END ] AS f
        |  FROM s)
        |SELECT media_id, kind, i::BIGINT AS i,
        |       CAST(CAST(f[i] AS FLOAT) AS DOUBLE) AS fval
        |FROM fv CROSS JOIN generate_series(1, 8) t(i)
        |ORDER BY media_id, i""".stripMargin) { (spark, dir) =>
      MediaOps.extractFeatures(MediaOps.mediaFromDocuments(spark, dir))
        .toDF()
        .select(col("mediaId").as("media_id"), col("kind"),
          posexplode(col("feature")).as(Seq("i0", "f")))
        .select(col("media_id"), col("kind"),
          (col("i0") + 1).cast("long").as("i"),
          col("f").cast("double").as("fval"))
        .orderBy(col("media_id"), col("i"))
    },

    // Multimodal composed with ANN end-to-end: the q30 content-feature
    // vectors (decoded from the container BYTES) index through the
    // same IVF chain the embeddings corpus uses — seed centroids, one
    // quantized Lloyd round ([[IvfIndex]]'s order-independent means),
    // per-row argmax cell assignment (broadcast fold, zero shuffle) —
    // and serve a same-cell cosine top-k for the first
    // [[MediaQueries]] media objects. The oracle replays feature
    // extraction AND the whole index chain from (doc_id, text) alone,
    // so the gate passes only if decode -> featurize -> index -> probe
    // compose correctly.
    QueryDef("q165_media_ann", mediaAnnSql) { (spark, dir) =>
      GraftFunctions.register(spark)
      val feats = MediaOps
        .extractFeatures(MediaOps.mediaFromDocuments(spark, dir)).toDF()
        .select(col("mediaId").as("vec_id"),
          transform(col("feature"), f => f.cast("double")).as("v"))
        .withColumn("nrm", sqrt(GraftFunctions.vec_dot(col("v"), col("v"))))
        .where(col("nrm") > 0)
      val corpus = feats.repartition(spark.sparkContext.defaultParallelism)
      val seeds = feats.where(col("vec_id") < MediaCents)
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cnrm"))
      val assigned =
        IvfIndex.assignCells(corpus, IvfIndex.refine(corpus, seeds, 1))
      val q = broadcast(assigned.where(col("vec_id") < MediaQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cid").as("qcid")))
      val sims = q.join(assigned, col("qcid") === col("cid"))
        .select(col("qid"), col("vec_id").as("nid"),
          (GraftFunctions.vec_dot(col("qv"), col("v")) /
            (col("qnrm") * col("nrm"))).as("sim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid"))
      sims.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= MediaTopK)
        .orderBy(col("qid"), col("rank"))
    },

    // Perceptual-hash (dHash) image near-dup: decode-boundary
    // downsample -> 64-bit gradient hash as four 16-bit bands ->
    // band equi-join candidates -> Hamming verify. Planted
    // one-byte-perturbed copies must all surface (structural: <= 2
    // corrupted bands of 4); the oracle replays hash + banding +
    // verify byte for byte.
    QueryDef("q296_image_phash_neardup", imagePhashSql)(imagePhashPairs),

    // Tile-grain (CROP-robust) image near-dup: q296's physics at
    // sub-file grain — full frame + 4 quadrants per image, hashed in
    // tile-local coordinates, band equi-joins at (image, tile) grain,
    // exact Hamming verify per tile pair. Planted crops (bottom-right
    // quadrants under offset ids) surface at hamming 0 against the
    // source's tile 4 — the pairs whole-image hashing cannot see.
    QueryDef("q306_image_tile_neardup", imageTileSql)(imageTilePairs),

    // Acoustic-fingerprint audio near-dup (q296's audio sibling):
    // real LE16 signed-PCM decode -> windowed energy gradient -> the
    // same banded-Hamming LSH tail. One-sample-perturbed plants must
    // all surface; the oracle replays decode + fingerprint + banding.
    QueryDef("q299_audio_fingerprint_neardup", audioFpSql)(
      audioFingerprintPairs),

    // REAL video frame decode (the last former stub, now genuine):
    // each "video" doc becomes an MP4 whose mdat is a CONCATENATED
    // stream of real deflate-compressed grayscale PNG frames — frame
    // j's pixel p is body[(p + j) % len], so the frames exist ONLY as
    // encoded PNG bytes. sampleFrames walks the real PNG chunk
    // structure for the ticks and REALLY decodes every 2nd frame
    // (javax.imageio); the oracle re-derives each sampled frame's
    // exact luma sum from the id/text arithmetic — Spark must
    // decompress to match (MediaOpsSpec pins tick-walk exactness and
    // byte-different/pixel-identical re-encode equality).
    QueryDef("q320_video_frames",
      """WITH vids AS (
        |  SELECT doc_id AS media_id, text AS body,
        |         (doc_id % 3 + 2)::BIGINT AS nf,
        |         (doc_id * 3 % 12 + 4)::BIGINT AS w,
        |         (doc_id * 5 % 12 + 4)::BIGINT AS h
        |  FROM documents WHERE doc_id % 4 = 3),
        |frames AS (
        |  SELECT media_id, body, w, h,
        |         unnest([j for j in generate_series(0, nf - 1)]) AS j
        |  FROM vids),
        |sampled AS (SELECT * FROM frames WHERE j % 2 = 0),
        |px AS (
        |  SELECT media_id, j, w, h,
        |         unnest([CASE WHEN length(body) = 0 THEN 0
        |                      ELSE ord(substr(body,
        |                        ((i - 1 + j) % length(body)) + 1, 1)) % 256
        |                 END for i in generate_series(1, w * h)]) AS v
        |  FROM sampled)
        |SELECT media_id, CAST(j AS BIGINT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(sum(v) AS BIGINT) AS luma_sum
        |FROM px GROUP BY 1, 2, 3, 4
        |ORDER BY media_id, frame_idx""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val vids = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .where(col("doc_id") % 4 === 3)
        .as[(Long, String)]
        .map { case (id, text) =>
          val body = text.getBytes("UTF-8")
          val nf = (id % 3 + 2).toInt
          val w = (id * 3 % 12 + 4).toInt
          val h = (id * 5 % 12 + 4).toInt
          val frames = (0 until nf).map { j =>
            val lum = Array.tabulate(w * h)(p =>
              if (body.length == 0) 0 else body((p + j) % body.length) & 0xff)
            MediaCodec.pngEncodeGray(w, h, lum)
          }
          MediaFile(id, "video/mp4",
            MediaCodec.videoBytes(600, nf * 600L, frames))
        }
      MediaOps.sampleFrames(vids, every = 2)
        .select(col("media_id"), col("frame_idx").cast("long"),
          col("width"), col("height"), col("luma_sum"))
        .orderBy(col("media_id"), col("frame_idx"))
    }
  )

  /** File-lake staging for q132: each media payload written as
    * `<id>.bin` from the executors. */
  private def stagedMediaFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SessionMemo(spark, s"setup.mediaFiles:$dir") {
      val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val path = s"${SourceQueries.StagingRoot}/graft_media/files_$tag"
      // the staged lake is a DETERMINISTIC function of documents:
      // serve it across sessions when its commit marker is at least
      // as new as the fixture (a regenerated fixture re-stages)
      val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
      val m = graft.operators.IndexStore.markerMtime(path)
      val fresh = m > 0 && java.nio.file.Files.exists(src) &&
        m >= java.nio.file.Files.getLastModifiedTime(src).toMillis
      if (!fresh)
        MediaOps.writeMediaFiles(
          MediaOps.mediaFromDocuments(spark, dir), path)
      path
    }
}
