package graft

import graft.validate.PixelCheck
import graft.io.ImageTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Image payload integrity (BASELINE.json: decoded-pixel allclose,
  * PSNR >= 40 dB for lossy formats; caption equality at every
  * entity x timestamp).
  */
class PixelCheckSpec extends SparkSpec {

  test("PNG round-trip is lossless (PSNR = inf)") {
    Seq((42L, 16, 16), (7L, 33, 9)).foreach { case (seed, w, h) =>
      assert(PixelCheck.roundTripPsnr(seed, w, h, "png").isPosInfinity)
    }
  }

  test("JPEG round-trip reaches PSNR >= 40 dB") {
    Seq((42L, 32, 32), (7L, 48, 24)).foreach { case (seed, w, h) =>
      val p = PixelCheck.roundTripPsnr(seed, w, h, "jpeg")
      assert(p >= 40.0, s"PSNR $p < 40 for seed=$seed ${w}x$h")
    }
  }

  test("image table generation is deterministic and schema-correct") {
    val a = ImageTable.images(spark, 50).collect()
    val b = ImageTable.images(spark, 50).collect()
    assert(a.toSeq == b.toSeq)
    val schema = ImageTable.images(spark, 1).schema
    assert(schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "image_id" -> "string", "bytes" -> "binary", "w" -> "int",
      "h" -> "int", "fmt" -> "string", "caption" -> "string",
      "phash" -> "bigint"))
  }

  test("payload bytes cover w*h and are non-trivial") {
    val rows = ImageTable.images(spark, 20)
      .select(col("w"), col("h"), length(col("bytes")).as("n")).collect()
    rows.foreach { r =>
      assert(r.getInt(2) >= r.getInt(0) * r.getInt(1) / 2)
    }
  }

  test("caption equality at every entity x snapshot (deterministic)") {
    val s1 = ImageTable.snapshots(spark, 30).collect().toSeq
    val s2 = ImageTable.snapshots(spark, 30).collect().toSeq
    assert(s1 == s2)
  }

  test("imagesReal payloads are real codecs and the distributed audit " +
      "passes every row") {
    val audited = graft.multimodal.Multimodal.auditPayloads(
      ImageTable.imagesReal(spark, 60), seed = 42).collect()
    assert(audited.length == 60)
    audited.foreach { r =>
      assert(r.getAs[Boolean]("pixels_ok"),
        s"row ${r.getAs[String]("image_id")} failed: $r")
      assert(r.getAs[Int]("decoded_w") == r.getAs[Int]("w"))
      assert(r.getAs[Int]("decoded_h") == r.getAs[Int]("h"))
      val p = r.getAs[Double]("psnr_db")
      if (r.getAs[String]("fmt") == "png") assert(p.isPosInfinity)
      else assert(p >= 40.0, s"jpeg PSNR $p < 40")
    }
    // both codecs actually exercised
    val fmts = audited.map(_.getAs[String]("fmt")).toSet
    assert(fmts == Set("png", "jpeg"))
  }

  test("averageHash: container-invariant (png transcode twin hashes " +
      "equal), diverse across images, corrupt payloads flagged") {
    import graft.multimodal.Multimodal
    val base = ImageTable.imagesReal(spark, 30)
    val transcoded = Multimodal.transcode(base, "png")
    val h1 = Multimodal.averageHash(base)
      .select("image_id", "ahash", "ahash_ok").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val h2 = Multimodal.averageHash(transcoded)
      .select("image_id", "ahash", "ahash_ok").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(h1.values.forall(_._2) && h2.values.forall(_._2))
    assert(h1 == h2, "aHash must be a function of pixels, not container")
    // hashes aren't degenerate: more than one distinct value
    assert(h1.values.map(_._1).toSet.size > 1)
    // corrupt payload -> ok=false, no throw
    val bad = Multimodal.averageHash(
      base.limit(1).withColumn("bytes", lit(Array[Byte](9, 9))))
      .select("ahash_ok").head().getBoolean(0)
    assert(!bad)
  }

  test("tile hashing: a lossless quadrant crop reproduces tile 0's " +
      "perceptual hash AND exact fingerprint; cropExactDups recovers " +
      "provenance; fingerprints discriminate") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions._
    val base = ImageTable.imagesReal(spark, 12)
    val tiles = Multimodal.tileAverageHash(base, grid = 2)
      .select("image_id", "tile_hashes", "tiles_ok")
    val fps = Multimodal.tileFingerprint(base, grid = 2)
      .select("image_id", "tile_fps", "tiles_ok")
    val cropPlan = base
      .withColumn("cx", lit(0)).withColumn("cy", lit(0))
      .withColumn("cw", (col("w") / 2).cast("int"))
      .withColumn("ch", (col("h") / 2).cast("int"))
    val crops = Multimodal.cropEncode(cropPlan, "cx", "cy", "cw", "ch")
      .select(concat(col("image_id"), lit("_c")).as("image_id"),
        col("bytes"), col("fmt"))
    val cropA = Multimodal.averageHash(crops)
      .select("image_id", "ahash").collect()
      .map(r => r.getString(0).stripSuffix("_c") -> r.getLong(1)).toMap
    val cropF = Multimodal.tileFingerprint(crops, grid = 1)
      .select("image_id", "tile_fps").collect()
      .map(r => r.getString(0).stripSuffix("_c") ->
        r.getSeq[Long](1).head).toMap
    val tileMap = tiles.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val fpMap = fps.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    tileMap.keys.foreach { id =>
      assert(cropA(id) == tileMap(id)(0),
        s"$id: crop aHash != tile 0 perceptual hash")
      assert(cropF(id) == fpMap(id)(0),
        s"$id: crop fingerprint != tile 0 fingerprint")
    }
    // ids 0..11 all have distinct render identity -> distinct fps
    assert(fpMap.values.map(_(0)).toSet.size == 12)
    // exact provenance: each crop maps to exactly its source tile 0
    val cropFps = Multimodal.tileFingerprint(crops, grid = 1)
      .filter(col("tiles_ok"))
      .select(col("image_id").as("crop_id"),
        element_at(col("tile_fps"), 1).as("crop_fp"))
    val pairs = Multimodal.cropExactDups(fps, "image_id",
      cropFps, "crop_id", "crop_fp")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2))).toSet
    val expected = tileMap.keys.map(id => (s"${id}_c", id, 0)).toSet
    assert(pairs == expected, s"got $pairs")
    // the perceptual banded join at least CONTAINS the true pairs
    // (smooth synthetic renders collide perceptually by design)
    val cropAh = Multimodal.averageHash(crops)
      .select(col("image_id").as("crop_id"), col("ahash"))
    val near = Multimodal.cropNearDups(tiles, "image_id", cropAh,
      "crop_id", "ahash", maxDist = 0)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2))).toSet
    assert(expected.subsetOf(near), s"missing: ${expected -- near}")
  }

  test("audit flags corruption, truncation and null payloads " +
      "without throwing") {
    import org.apache.spark.sql.Row
    val base = ImageTable.imagesReal(spark, 8).collect()
    val schema = ImageTable.imagesReal(spark, 1).schema
    val bIdx = schema.fieldIndex("bytes")
    def mut(r: Row, f: Array[Byte] => Array[Byte]): Row =
      Row.fromSeq(r.toSeq.updated(bIdx,
        f(r.getAs[Array[Byte]](bIdx))))
    val corrupted = Seq(
      // wrong pixels: valid png of DIFFERENT content (shift the id ->
      // different seed) — decodes fine, fails allclose
      mut(base(0), _ => {
        val img = PixelCheck.toImage(
          PixelCheck.syntheticPixels(999L,
            base(0).getAs[Int]("w"), base(0).getAs[Int]("h")),
          base(0).getAs[Int]("w"), base(0).getAs[Int]("h"))
        PixelCheck.encode(img, base(0).getAs[String]("fmt"))
      }),
      mut(base(1), b => b.take(b.length / 2)), // truncated stream
      mut(base(2), _ => null), // null payload
      mut(base(3), _ => Array[Byte](1, 2, 3))) // garbage
    val audited = graft.multimodal.Multimodal.auditPayloads(
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            corrupted ++ base.drop(4)).asJava), schema),
      seed = 42).collect()
    val idIdx = schema.fieldIndex("image_id")
    val byId = audited.map(r =>
      r.getAs[String]("image_id") -> r.getAs[Boolean]("pixels_ok")).toMap
    corrupted.foreach { r => // mutated rows are schemaless: positional
      assert(!byId(r.getString(idIdx)),
        s"corrupt ${r.getString(idIdx)} passed")
    }
    assert(base.drop(4).forall(r => byId(r.getString(idIdx))))
  }

  test("withDecodeFeatures/withResizeFeatures quarantine a payload " +
      "that throws inside the codec (truncated after a valid magic)") {
    import org.apache.spark.sql.Row
    val base = ImageTable.imagesReal(spark, 4).collect()
    val schema = ImageTable.imagesReal(spark, 1).schema
    val bIdx = schema.fieldIndex("bytes")
    // keep a valid magic header so the decoder ENGAGES then throws
    val rows = Seq(Row.fromSeq(base(0).toSeq.updated(bIdx,
      base(0).getAs[Array[Byte]](bIdx).take(12)))) ++ base.drop(1)
    val d = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dec = graft.multimodal.Multimodal.withDecodeFeatures(
      d, graft.multimodal.Multimodal.ImageIoDecoder)
      .collect().map(r => r.getAs[String]("image_id") ->
        r.getAs[Boolean]("decode_ok")).toMap
    assert(!dec(base(0).getAs[String]("image_id")))
    assert(base.drop(1).forall(r =>
      dec(r.getAs[String]("image_id"))))
    val res = graft.multimodal.Multimodal.withResizeFeatures(
      d, graft.multimodal.Multimodal.ImageIoResizer, 8, 8)
      .collect().map(r => r.getAs[String]("image_id") ->
        r.getAs[Boolean]("resize_ok")).toMap
    assert(!res(base(0).getAs[String]("image_id")))
    assert(base.drop(1).forall(r =>
      res(r.getAs[String]("image_id"))))
  }

  test("lumaStats: constant image flat (std 0), real renders not " +
      "flat, corrupt/null payloads report luma_ok=false, flat=false") {
    import org.apache.spark.sql.Row
    val base = ImageTable.imagesReal(spark, 6).collect()
    val schema = ImageTable.imagesReal(spark, 1).schema
    val bIdx = schema.fieldIndex("bytes")
    val fIdx = schema.fieldIndex("fmt")
    def withBytes(r: Row, b: Array[Byte], fmt: String): Row =
      Row.fromSeq(r.toSeq.updated(bIdx, b).updated(fIdx, fmt))
    val w0 = base(0).getAs[Int]("w"); val h0 = base(0).getAs[Int]("h")
    val flatPng = PixelCheck.encode(
      PixelCheck.toImage(Array.fill(w0 * h0)(0xFF3366AA), w0, h0),
      "png")
    val rows = Seq(
      withBytes(base(0), flatPng, "png"),
      withBytes(base(1), Array[Byte](9, 9, 9), "png"), // garbage
      withBytes(base(2), null, "png")) ++ base.drop(3)
    val out = graft.multimodal.Multimodal.lumaStats(
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema), flatStd = 2.0)
      .collect()
      .map(r => r.getAs[String]("image_id") ->
        ((r.getAs[Double]("mean_luma"), r.getAs[Double]("std_luma"),
          r.getAs[Boolean]("flat"), r.getAs[Boolean]("luma_ok"))))
      .toMap
    val idIdx = schema.fieldIndex("image_id")
    val (fm, fs, ff, fok) = out(rows(0).getString(idIdx))
    // Welford accumulation: a constant image's deviation term is
    // exactly zero at every step, so std is exactly 0.0 (the old
    // E[X^2]-E[X]^2 form only reached ~1e-3 through cancellation)
    assert(fok && ff && fs == 0.0 && math.abs(fm - (0.299 * 0x33 +
      0.587 * 0x66 + 0.114 * 0xAA)) < 1e-6)
    Seq(1, 2).foreach { i =>
      val (_, _, fl, ok) = out(rows(i).getString(idIdx))
      assert(!ok && !fl)
    }
    base.drop(3).foreach { r =>
      val (_, std, fl, ok) = out(r.getString(idIdx))
      assert(ok && !fl && std > 10.0)
    }
    // the output schema must not carry payload bytes
    assert(!graft.multimodal.Multimodal.lumaStats(
      ImageTable.imagesReal(spark, 1)).columns.contains("bytes"))
  }

  test("channelStats: exact integer sums on a known raster, corrupt " +
      "payload refuses; channelNormalization exact corpus readout") {
    import org.apache.spark.sql.Row
    val schema = ImageTable.imagesReal(spark, 1).schema
    val bIdx = schema.fieldIndex("bytes")
    val fIdx = schema.fieldIndex("fmt")
    val base = ImageTable.imagesReal(spark, 3).collect()
    def withBytes(r: Row, b: Array[Byte]): Row =
      Row.fromSeq(r.toSeq.updated(bIdx, b).updated(fIdx, "png"))
    // 2x1 raster: (0x10, 0x20, 0x30) and (0x30, 0x20, 0x10)
    val px = PixelCheck.encode(
      PixelCheck.toImage(Array(0xFF102030, 0xFF302010), 2, 1), "png")
    // constant 4-px raster: every channel std exactly 0
    val const = PixelCheck.encode(
      PixelCheck.toImage(Array.fill(4)(0xFF405060), 2, 2), "png")
    val rows = Seq(
      withBytes(base(0), px),
      withBytes(base(1), const),
      withBytes(base(2), Array[Byte](1, 2, 3))) // corrupt
    val stats = graft.multimodal.Multimodal.channelStats(
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema))
    assert(!stats.columns.contains("bytes"))
    val byId = stats.collect()
      .map(r => r.getAs[String]("image_id") -> r).toMap
    val idIdx = schema.fieldIndex("image_id")
    val a = byId(rows(0).getString(idIdx))
    assert(a.getAs[Boolean]("channels_ok"))
    assert(a.getAs[Long]("n_px") == 2L)
    assert(a.getAs[Long]("r_sum") == 0x10 + 0x30)
    assert(a.getAs[Long]("g_sum") == 0x20 + 0x20)
    assert(a.getAs[Long]("b_sum") == 0x30 + 0x10)
    assert(a.getAs[Long]("r_sq") == 0x10 * 0x10 + 0x30 * 0x30)
    assert(a.getAs[Long]("b_sq") == 0x30 * 0x30 + 0x10 * 0x10)
    val c = byId(rows(2).getString(idIdx))
    assert(!c.getAs[Boolean]("channels_ok") && c.getAs[Long]("n_px") == 0L)
    // corpus readout over the two decodable images (failed row
    // contributes zeros and is only counted): 6 px total
    val norm = graft.multimodal.Multimodal.channelNormalization(stats)
      .collect()(0)
    assert(norm.getAs[Long]("n_images") == 2L)
    assert(norm.getAs[Long]("n_failed") == 1L)
    assert(norm.getAs[Long]("n_px") == 6L)
    val rMean = (0x10 + 0x30 + 4 * 0x40).toDouble / 6
    assert(math.abs(norm.getAs[Double]("r_mean") - rMean) < 1e-12)
    val rVar = (0x10 * 0x10 + 0x30 * 0x30 + 4 * 0x40 * 0x40).toDouble /
      6 - rMean * rMean
    assert(math.abs(norm.getAs[Double]("r_std") - math.sqrt(rVar)) < 1e-12)
    // constant image alone: std exactly 0 on every channel
    val only = graft.multimodal.Multimodal.channelNormalization(
      stats.filter(stats("image_id") === rows(1).getString(idIdx)))
      .collect()(0)
    assert(only.getAs[Double]("r_std") == 0.0 &&
      only.getAs[Double]("g_std") == 0.0 &&
      only.getAs[Double]("b_std") == 0.0)
  }

  // ---- every single-payload codec op on the payloads it must survive ----

  /** A 37x23 raster (odd sizes, so the integer cell bounds of every
    * grid are uneven) rendered exactly as `imagesReal` renders id 5,
    * so the audit passes it; `mirrored` flips its top 12 rows left to
    * right, so that the cells of row band 3 of an 8-row grid mix both.
    */
  private def goldenPng(mirrored: Boolean): Array[Byte] = {
    val (w, h) = (37, 23)
    val px = PixelCheck.syntheticPixels(ImageTable.pixelSeed(42L, 5L), w, h)
    val out = Array.tabulate(w * h) { i =>
      px(if (mirrored && i / w < 12) i / w * w + (w - 1 - i % w) else i) }
    PixelCheck.encode(PixelCheck.toImage(out, w, h), "png")
  }

  /** ids 1-3 carry a null, an empty and a truncated png payload; id 4
    * the half-mirrored raster's png bytes labelled webp and declared 40x20
    * (neither true); id 5 the raster as png, declared 37x23. The plan
    * columns drive the re-encoders.
    */
  private def payloadCases = {
    val png = goldenPng(mirrored = false)
    df("image_id string, bytes binary, w int, h int, fmt string, " +
      "tw int, th int, cx int, cy int, cw int, ch int, flip boolean, " +
      "rot int, jitter int",
      Seq[(Array[Byte], String, Int, Int)](
        (null, "png", 37, 23), (Array.emptyByteArray, "png", 37, 23),
        (png.take(png.length / 2), "png", 37, 23),
        (goldenPng(mirrored = true), "webp", 40, 20),
        (png, "png", 37, 23)).zipWithIndex.map { case ((b, f, w, h), i) =>
          org.apache.spark.sql.Row(f"img_${i + 1}%010d", b, w, h, f,
            10, 7, 1, 2, 5, 4, true, 90, 1)
        })
  }

  /** A value as the pins below spell it: doubles by `toString` (so NaN
    * and the last ulp show), arrays element-wise, payloads by length
    * and content hash.
    */
  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => s"b${b.length}#${java.util.Arrays.hashCode(b)}"
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", " ", "]")
    case x => x.toString
  }

  test("codec ops: exact failure rows on null, empty and truncated " +
      "payloads, sniffed decode of a mislabelled one, golden values " +
      "on an odd-sized raster") {
    import graft.multimodal.Multimodal
    val in = payloadCases
    val inRows = in.collect().map(r => r.getString(0) -> r).toMap
    val reEncoded = Seq("bytes", "fmt", "w", "h")
    def failing(v: String) = Seq.fill(3)(v)
    val zeros9 = "[0 0 0 0 0 0 0 0 0],false"
    // (op, output, its own columns, the five rows' values); a
    // re-encoder's "unchanged" row is the input row itself
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String],
        Seq[String])] = Seq(
      // the Decoder/Resizer see bytes (null as empty) and the declared
      // dims; a non-png/jpeg format goes to the stub
      ("withDecodeFeatures",
        Multimodal.withDecodeFeatures(in, Multimodal.ImageIoDecoder),
        Seq("decoded_w", "decoded_h", "mean_luma", "decode_ok"),
        failing("-1,-1,NaN,false") ++ Seq("40,20,6.43,true",
          "37,23,129.48256991774394,true")),
      // ImageIO.read gives null on null/empty bytes and throws on the
      // truncated stream: two different failure rows
      ("withResizeFeatures",
        Multimodal.withResizeFeatures(in, Multimodal.ImageIoResizer, 10, 7),
        Seq("resized_w", "resized_h", "resized_mean", "resized_checksum",
          "resize_ok"),
        Seq.fill(2)("-1,-1,NaN,-1,false") ++ Seq("0,0,NaN,0,false",
          "10,7,101.81428571428572,7127,true",
          "10,7,117.12857142857143,8199,true")),
      ("auditPayloads", Multimodal.auditPayloads(in, seed = 42),
        Seq("decoded_w", "decoded_h", "psnr_db", "pixels_ok"),
        failing("-1,-1,NaN,false") ++ Seq("37,23,NaN,false",
          "37,23,Infinity,true")),
      // every pixel op below decodes the webp-labelled png by sniffing
      ("averageHash", Multimodal.averageHash(in), Seq("ahash", "ahash_ok"),
        failing("0,false") ++ Seq("966367641599,true",
          "31138512895,true")),
      ("tileAverageHash", Multimodal.tileAverageHash(in, grid = 3),
        Seq("tile_hashes", "tiles_ok"),
        failing(zeros9) ++ Seq(
          "[553933340671 828811247615 141703738490879 54316973906986783 " +
            "828878356479 3238002687 31138512895 13958643711 " +
            "1130104881151],true",
          "[1130104881151 30601641983 13421772799 1130113269759 " +
            "13958643711 13421772799 31138512895 13958643711 " +
            "1130104881151],true")),
      ("tileFingerprint", Multimodal.tileFingerprint(in, grid = 3),
        Seq("tile_fps", "tiles_ok"),
        failing(zeros9) ++ Seq(
          "[7451854768614652282 -8554687653256306394 " +
            "1620988037393103337 5282307936238402372 " +
            "-8130546463870197144 -8723866479386319732 " +
            "2011891074671812771 4876054175117899247 " +
            "-3510352544930020127],true",
          "[-4059757599779176765 5749950808459186455 " +
            "-8620401581456803171 6274529887642892554 " +
            "-8904544279703963197 -5009967457100300427 " +
            "2011891074671812771 4876054175117899247 " +
            "-3510352544930020127],true")),
      ("differenceHash", Multimodal.differenceHash(in),
        Seq("dhash", "dhash_ok"),
        failing("0,false") ++ Seq("-4294967296,true", "0,true")),
      // Welford's order shows in the last ulp between the two rasters
      ("lumaStats", Multimodal.lumaStats(in),
        Seq("mean_luma", "std_luma", "flat", "luma_ok"),
        failing("0.0,0.0,false,false") ++ Seq(
          "129.48256991774386,43.20894087079406,false,true",
          "129.48256991774383,43.20894087079409,false,true")),
      ("channelStats", Multimodal.channelStats(in),
        Seq("n_px", "r_sum", "g_sum", "b_sum", "r_sq", "g_sq", "b_sq",
          "channels_ok"),
        failing("0,0,0,0,0,0,0,false") ++ Seq.fill(2)(
          "851,108123,108114,126298,18596121,18768398,25212770,true")),
      // transcode keeps the declared dims; the others write the new ones
      ("transcode", Multimodal.transcode(in, "jpeg"), reEncoded,
        failing("unchanged") ++ Seq("b1161#57561175,jpeg,40,20",
          "b1053#432946419,jpeg,37,23")),
      ("resizeEncode", Multimodal.resizeEncode(in, "tw", "th"), reEncoded,
        failing("unchanged") ++ Seq("b262#-488250524,png,10,7",
          "b261#-329566891,png,10,7")),
      ("augmentEncode", Multimodal.augmentEncode(in, "cx", "cy", "cw",
        "ch", Some("flip"), Some("jitter"), IndexedSeq(0, 3)), reEncoded,
        failing("unchanged") ++ Seq("b126#1159741929,png,5,4",
          "b123#-1584189760,png,5,4")),
      ("orientEncode", Multimodal.orientEncode(in, "flip", "rot"),
        reEncoded, failing("unchanged") ++ Seq(
          "b2173#-727608643,png,23,37", "b2173#-1876495130,png,23,37")))
    cases.foreach { case (op, out, cols, expected) =>
      val reEncoder = cols == reEncoded
      // an appending op drops the payload, a re-encoder keeps the schema
      assert(out.columns.toSeq == (if (reEncoder) in.columns.toSeq
        else in.columns.toSeq.filterNot(_ == "bytes") ++ cols), op)
      val rows = out.collect().map(r => r.getString(0) -> r).toMap
      assert(rows.size == 5, op)
      (1 to 5).map(i => f"img_$i%010d").zip(expected).foreach {
        case (id, want) =>
          val r = rows(id)
          if (want == "unchanged")
            assert(r.toSeq.map(show) == inRows(id).toSeq.map(show),
              s"$op $id")
          else {
            assert(cols.map(c => show(r.get(r.fieldIndex(c))))
              .mkString(",") == want, s"$op $id")
            // the columns an op does not own pass through
            out.columns.filterNot(cols.contains).foreach(c =>
              assert(show(r.get(r.fieldIndex(c))) ==
                show(inRows(id).get(inRows(id).fieldIndex(c))), s"$op $id $c"))
          }
      }
    }
  }

  test("source discipline: one codec lifecycle, two codec kernels in " +
      "Multimodal, one luma formula") {
    import scala.jdk.CollectionConverters._
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val root = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala above $cwd"))
    val pixelCheck = root.resolve("graft/validate/PixelCheck.scala")
    val multimodal = root.resolve("graft/multimodal/Multimodal.scala")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala")) finally walk.close()
    assert(sources.contains(pixelCheck) && sources.contains(multimodal))
    def lines(f: java.nio.file.Path) =
      java.nio.file.Files.readAllLines(f).asScala.toList
    val codecSite = "addTaskCompletionListener|new\\s+(graft\\.validate\\.)?" +
      "PixelCheck\\.Codec\\b"
    val hits = for {
      f <- sources if f != pixelCheck
      (line, i) <- lines(f).zipWithIndex
      if codecSite.r.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
    val mm = lines(multimodal)
    assert(mm.count(_.contains("Encoders.row")) <= 3)
    assert(mm.count(_.contains("0.299")) == 1)
  }
}
