package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MediaCodecs, Multimodal, Skew}
import graft.tools.Harness

/** Multimodal plumbing (X5) and skew utilities: payloads are REAL formats
  * (PPM images, RIFF/WAV audio, a synthetic video container) and decode is
  * real byte-level parsing — pinned below against handcrafted payloads —
  * plus the schema, batch shape, partition distribution, and determinism
  * that must hold for any decoder at scale. */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Harness.session("multimodal-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  test("binary payload schema survives the typed pipeline") {
    val media = Multimodal.fromDocuments(spark, sf)
    val schema = media.schema
    assert(schema("payload").dataType === org.apache.spark.sql.types.BinaryType)
    assert(media.count() === 500)
  }

  test("decode runs batched per partition and emits one feature row per record") {
    val media = Multimodal.fromDocuments(spark, sf).repartition(7)
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.count() === 500)
    assert(feats.rdd.getNumPartitions === 7, "batch shape must follow the partitioning")
    val row = feats.filter(col("doc_id") === 0).collect()(0)
    assert(row.byte_len > 0)
    assert(row.modality != "opaque", "synthesized payloads must decode")
  }

  test("PPM decode is exact on a handcrafted image") {
    // 2x1: pure red + pure white -> luma (0.299*255 + 255)/2
    val rgb = Array[Byte](255.toByte, 0, 0, 255.toByte, 255.toByte, 255.toByte)
    val img = MediaCodecs.decodePpm(MediaCodecs.encodePpm(2, 1, rgb))
    assert(img.width === 2 && img.height === 1)
    assert(math.abs(img.meanLuma - (0.299 * 255 + 255.0) / 2) < 1e-9)
    // header comments + multi-digit dims parse
    val wide = MediaCodecs.decodePpm(
      "P6\n# a comment\n12 10\n255\n".getBytes("US-ASCII") ++ Array.fill(12 * 10 * 3)(7.toByte))
    assert(wide.width === 12 && wide.height === 10)
  }

  test("WAV decode walks RIFF chunks and computes exact duration/RMS") {
    val samples = Array[Short](1000, -1000, 1000, -1000)
    val a = MediaCodecs.decodeWav(MediaCodecs.encodeWav(8000, samples))
    assert(a.sampleRate === 8000 && a.nSamples === 4)
    assert(a.durationMs === 0L) // 4 samples @ 8kHz = 0.5ms -> floor 0
    assert(math.abs(a.rms - 1000.0) < 1e-9)
    val long = MediaCodecs.decodeWav(MediaCodecs.encodeWav(8000, Array.fill[Short](8000)(100)))
    assert(long.durationMs === 1000L)
  }

  test("corrupt payloads degrade to opaque instead of failing the batch") {
    val r = Multimodal.MediaRecord(9L, "image", "P6\n999 999\n255\nshort".getBytes("US-ASCII"))
    import spark.implicits._
    val out = Multimodal.decodeFeatures(Seq(r).toDS()).collect()
    assert(out.length === 1 && out.head.modality === "opaque")
    assert(out.head.content_hash !== 0L)
  }

  test("hostile WAV chunk sizes terminate (no spin) and degrade to opaque") {
    // RIFF/WAVE with a chunk whose size field is -8: the advance
    // `8 + size + (size & 1)` would be 0 and the walk would never progress
    val bb = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(24).put("WAVE".getBytes("US-ASCII"))
    bb.put("junk".getBytes("US-ASCII")).putInt(-8)
    bb.put("data".getBytes("US-ASCII")).putInt(4).putInt(0)
    val hostile = bb.array()
    // decodeWav itself must reject rather than hang …
    assertThrows[IllegalArgumentException] { MediaCodecs.decodeWav(hostile) }
    // … and the pipeline-level decode must absorb it as opaque; a TRUNCATED
    // fmt chunk throws IndexOutOfBounds from the buffer reads — NonFatal,
    // must still degrade instead of killing the batch
    val trunc = java.util.Arrays.copyOfRange(
      MediaCodecs.encodeWav(8000, Array[Short](1, 2, 3)), 0, 16)
    import spark.implicits._
    val out = Multimodal.decodeFeatures(Seq(
      Multimodal.MediaRecord(1L, "audio", hostile),
      Multimodal.MediaRecord(2L, "audio", trunc)).toDS()).collect()
    assert(out.length === 2 && out.forall(_.modality === "opaque"))
  }

  test("decoded modality follows the payload bytes, not the routing label") {
    val feats = Multimodal.features(spark, sf)
    val byMod = feats.groupBy("modality").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byMod.keySet === Set("image", "audio", "video"))
    assert(byMod.values.sum === 500)
    // image rows carry real dims + luma; audio rows carry real duration/rms
    val img = feats.filter(col("modality") === "image")
    assert(img.filter(col("width") < 4 || col("height") < 4).count() === 0)
    val aud = feats.filter(col("modality") === "audio")
    assert(aud.filter(col("duration_ms") <= 0).count() === 0)
  }

  test("decode is deterministic across partitionings (content-derived)") {
    val a = Multimodal.features(spark, sf).orderBy("doc_id").collect().toSeq
    val b = Multimodal.decodeFeatures(Multimodal.fromDocuments(spark, sf).repartition(13))
      .toDF().orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("saltedSum equals plain sum (hot-key decomposition is exact)") {
    import spark.implicits._
    val df = (Seq.fill(1000)(("hot", 1.0)) ++ Seq(("cold", 2.0), ("cool", 3.0)))
      .toDF("k", "v")
    val salted = Skew.saltedSum(df, "k", "v", saltFactor = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted === Map("hot" -> 1000.0, "cold" -> 2.0, "cool" -> 3.0))
  }

  test("salt is deterministic and bounded") {
    import spark.implicits._
    val salts = (1 to 100).map(_.toString).toDF("v")
      .select(Skew.salt(col("v"), 16).as("s"))
      .collect().map(_.getLong(0))
    assert(salts.forall(s => s >= 0 && s < 16))
    val again = (1 to 100).map(_.toString).toDF("v")
      .select(Skew.salt(col("v"), 16).as("s"))
      .collect().map(_.getLong(0))
    assert(salts.toSeq === again.toSeq)
  }

  test("resizePpm: 2x nearest-neighbor halves dims (ceil) and round-trips the decoder") {
    val rgb = Array.tabulate(7 * 5 * 3)(i => (i % 251).toByte)
    val src = MediaCodecs.encodePpm(7, 5, rgb)
    val out = MediaCodecs.decodePpm(MediaCodecs.resizePpm(src, 2))
    assert(out.width === 4 && out.height === 3)
    // sampled pixels are exactly src(2x, 2y): check the top-left pixel's bytes
    val resized = MediaCodecs.resizePpm(src, 2)
    val rasterOff = resized.length - 4 * 3 * 3
    assert(resized(rasterOff) === rgb(0), "top-left pixel must be src(0,0)")
    // factor 1 is identity on the raster
    val id = MediaCodecs.decodePpm(MediaCodecs.resizePpm(src, 1))
    assert(id.width === 7 && id.height === 5 &&
      id.meanLuma === MediaCodecs.decodePpm(src).meanLuma)
  }

  test("frameSamples: stride-5 expansion emits ceil(n/5) rows with 40ms timestamps") {
    val media = Multimodal.fromDocuments(spark, sf)
    val samples = Multimodal.frameSamples(media, 5).toDF().cache()
    val videos = Multimodal.features(spark, sf).filter(col("modality") === "video")
      .select(col("doc_id"), col("n_frames"))
    val joined = samples.groupBy("doc_id").count().join(videos, "doc_id")
    assert(joined.filter(col("count") =!=
      ceil(col("n_frames").cast("double") / 5)).isEmpty, "wrong sample count")
    assert(samples.filter(col("ts_ms") =!= col("frame_idx") * 40).isEmpty)
    assert(samples.filter(col("frame_idx") % 5 =!= 0).isEmpty)
    samples.unpersist()
  }

  test("ahashPpm: pinned bits on handcrafted rasters, zero on uniform") {
    // uniform image: no cell mean exceeds the global mean -> all bits 0
    val flat = MediaCodecs.encodePpm(8, 8, Array.fill(8 * 8 * 3)(100.toByte))
    assert(MediaCodecs.ahashPpm(flat) === 0L)
    // top half bright, bottom dark, 8x8: pixel row y maps to cell row y,
    // so exactly cells 0..31 (bits 0..31) are above the mean
    val half = Array.tabulate(8 * 8 * 3)(i => if (i / 3 / 8 < 4) 200.toByte else 10.toByte)
    assert(MediaCodecs.ahashPpm(MediaCodecs.encodePpm(8, 8, half)) === 0x00000000FFFFFFFFL)
    // identical bytes -> identical hash (the dedup premise)
    val img = Multimodal.fromDocuments(spark, sf).filter(_.modality == "image").head()
    assert(MediaCodecs.ahashPpm(img.payload) === MediaCodecs.ahashPpm(img.payload))
    // small images leave unreachable cells at 0: a 4x4 raster touches only
    // even grid rows/cols -> every odd-cell bit must be unset
    val small = MediaCodecs.ahashPpm(
      MediaCodecs.encodePpm(4, 4, Array.tabulate(4 * 4 * 3)(i => (i * 7 % 256).toByte)))
    (0 until 64).foreach { c =>
      if (c / 8 % 2 == 1 || c % 2 == 1)
        assert((small >> c & 1L) === 0L, s"unreachable cell $c has a bit set")
    }
  }

  test("ahashWav: pinned bits on handcrafted clips, zero on constant amplitude") {
    // constant amplitude: every frame's mean energy equals the clip's -> 0
    val flat = MediaCodecs.encodeWav(8000, Array.fill(640)(1000.toShort))
    assert(MediaCodecs.ahashWav(flat) === 0L)
    // loud first half (640 samples = 10/frame): frames 0..31 above the mean
    val half = MediaCodecs.encodeWav(8000,
      Array.tabulate(640)(i => if (i < 320) 20000.toShort else 100.toShort))
    assert(MediaCodecs.ahashWav(half) === 0x00000000FFFFFFFFL)
    // byte-identical payloads fingerprint identically (the dedup premise)
    val clip = Multimodal.fromDocuments(spark, sf).filter(_.modality == "audio").head()
    assert(MediaCodecs.ahashWav(clip.payload) === MediaCodecs.ahashWav(clip.payload))
  }

  test("x95: audio near-dup pairs are audio docs and Hamming-bounded (dups live at sf0.1)") {
    val df = graft.operators.Queries.byName("x95_audio_phash").run(spark, sf).cache()
    assert(df.filter(col("hamming") < 0 || col("hamming") > 3).isEmpty)
    val auds = Multimodal.features(spark, sf)
      .filter(col("modality") === "audio").select(col("doc_id")).cache()
    assert(df.select(col("doc_a").as("doc_id")).distinct().exceptAll(auds).isEmpty)
    assert(df.select(col("doc_b").as("doc_id")).distinct().exceptAll(auds).isEmpty)
    // the sf0.001 fixture plants no audio dups — the oracle gate proves the
    // empty result is CORRECT here and the 5-pair result at sf0.1 matches
    auds.unpersist(); df.unpersist()
  }

  test("x94: image near-dup pairs are images, Hamming-bounded, and include the exact dups") {
    val df = graft.operators.Queries.byName("x94_image_phash").run(spark, sf).cache()
    assert(df.filter(col("hamming") < 0 || col("hamming") > 3).isEmpty)
    // both ends must be image-modality docs
    val imgs = Multimodal.features(spark, sf)
      .filter(col("modality") === "image").select(col("doc_id")).cache()
    assert(df.select(col("doc_a").as("doc_id")).distinct().exceptAll(imgs).isEmpty)
    assert(df.select(col("doc_b").as("doc_id")).distinct().exceptAll(imgs).isEmpty)
    // byte-identical payloads hash identically -> every exact-text dup pair
    // among images must surface with hamming 0
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("n_chars") % 3 === 0)
      .select(sha2(col("text"), 256).as("h"), col("doc_id"))
    val exactPairs = docs.join(docs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("h", "h2"), col("h") === col("h2") && col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    assert(df.count() > 0, "the fixture's image family should surface near-dups")
    // (no exact-text dup lands in the image modality at this SF — the law
    // still holds vacuously and bites at larger SFs)
    assert(exactPairs.exceptAll(
      df.filter(col("hamming") === 0).select(col("doc_a"), col("doc_b"))).isEmpty,
      "an exact image dup pair is missing from the hamming-0 set")
    imgs.unpersist(); df.unpersist()
  }

  test("sceneCuts: the cut rule re-derives from frameLumaSums and frames really differ") {
    val media = Multimodal.fromDocuments(spark, sf)
    val cuts = Multimodal.sceneCuts(media).collect().map(c => c.doc_id -> c).toMap
    assert(cuts.nonEmpty)
    // re-derive the summary independently from the codec helper on the
    // raw payloads for every multi-frame video
    val payloads = media.collect().filter(_.modality == "video")
      .map(r => r.doc_id -> graft.operators.MediaCodecs.frameLumaSums(r.payload))
      .filter(_._2.length >= 2).toMap
    assert(payloads.keySet === cuts.keySet, "one row per >=2-frame video")
    payloads.foreach { case (id, sums) =>
      val tot = sums.sum
      val deltas = sums.sliding(2).map(w => math.abs(w(1) - w(0))).toSeq
      val c = cuts(id)
      assert(c.n_frames === sums.length)
      assert(c.max_delta === deltas.max, s"doc $id max_delta")
      assert(c.cut_frame === deltas.indexOf(deltas.max) + 1, s"doc $id cut_frame (first argmax)")
      assert(c.n_cuts === deltas.count(d => 50L * d * sums.length >= tot), s"doc $id n_cuts")
    }
    // the weight mask is load-bearing: rotated frames must NOT all
    // measure equal (the failure mode of an unweighted rotated sum)
    assert(payloads.values.exists(_.distinct.length > 1),
      "every video's frames measure identical - the mask degenerated")
    // and the threshold discriminates: some videos cut, some don't
    val withCuts = cuts.values.count(_.n_cuts > 0)
    assert(withCuts > 0 && withCuts < cuts.size,
      s"2% rule fires on $withCuts/${cuts.size} videos - not discriminative")
  }
}
