package graft

import graft.llm.Multimodal

/** L5 plumbing (schema contract, batch shape, determinism, binary column
  * round-trip) plus the real header decode: PNG IHDR / JPEG SOF parsed
  * from hand-built fixture bytes with known dimensions. */
class MultimodalSpec extends SparkSpecBase {

  /** Minimal PNG: signature + a correct IHDR chunk (length, type, 13-byte
    * payload whose first 8 bytes are width/height, big-endian). */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    out.write(be32(13)) // IHDR payload length
    out.write("IHDR".getBytes("US-ASCII"))
    out.write(be32(w)); out.write(be32(h))
    out.write(Array[Byte](8, 2, 0, 0, 0)) // bit depth, color, ... (unused)
    out.write(be32(0)) // CRC (unchecked by the header parser)
    out.toByteArray
  }

  /** Minimal JPEG: SOI, an APP0 segment to prove the marker walk skips
    * non-frame segments, then SOF0 with the dimensions. */
  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(Array(0xff, 0xe0).map(_.toByte)) // APP0
    out.write(be16(16)); out.write(new Array[Byte](14))
    out.write(Array(0xff, 0xc0).map(_.toByte)) // SOF0
    out.write(be16(11)) // len: precision + dims + 1 component (3 bytes) + nf
    out.write(8.toByte) // precision
    out.write(be16(h)); out.write(be16(w))
    out.write(Array[Byte](1, 1, 0x11, 0))
    out.toByteArray
  }

  test("PNG IHDR and JPEG SOF headers decode to real dimensions") {
    assert(Multimodal.pngDims(pngBytes(640, 480)) === Some((640, 480)))
    assert(Multimodal.pngDims(pngBytes(1, 100000)) === Some((1, 100000)))
    assert(Multimodal.jpegDims(jpegBytes(1920, 1080)) === Some((1920, 1080)))
    assert(Multimodal.jpegDims(jpegBytes(8, 8)) === Some((8, 8)))
    // non-image payloads parse as neither (fallback path)
    val text = "just some text bytes".getBytes("UTF-8")
    assert(Multimodal.pngDims(text) === None && Multimodal.jpegDims(text) === None)
    // truncated headers are rejected, not mis-read
    assert(Multimodal.pngDims(pngBytes(640, 480).take(20)) === None)
    assert(Multimodal.jpegDims(jpegBytes(1920, 1080).take(6)) === None)
  }

  test("extractFeatures surfaces real dimensions from real image bytes") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, pngBytes(320, 200), "image/png", pngBytes(320, 200).length.toLong),
      Multimodal.MediaRow(2L, jpegBytes(64, 48), "image/jpeg", jpegBytes(64, 48).length.toLong),
      Multimodal.MediaRow(3L, "opaque".getBytes("UTF-8"), "application/octet-stream", 6L)
    ).toDS()
    val got = Multimodal.extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert((got(1L).width, got(1L).height) === ((320, 200)))
    assert((got(2L).width, got(2L).height) === ((64, 48)))
    // the opaque row takes the deterministic fallback, not garbage
    assert(got(3L).width === 16 + 6 % 64 && got(3L).height === 16 + 3 % 64)
    assert(got.values.forall(_.features.length === 8))
  }

  test("media table carries binary payloads with typed metadata") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, sfDir)
    val row = media.head()
    assert(row.payload.nonEmpty && row.byte_len === row.payload.length)
    assert(row.media_type.startsWith("image/px"))
    assert(media.count() === Tables.documents(spark, sfDir).count())
  }

  test("feature extraction is partition-batched, fixed-dim, deterministic") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sfDir))
    val rows = feats.collect()
    assert(rows.forall(_.features.length === 8))
    assert(rows.forall(f => f.features.forall(v => v >= 0f && v <= 1f)))
    assert(rows.forall(f => f.width >= 16 && f.height >= 16))
    val again = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sfDir)).collect()
    val m1 = rows.map(f => f.doc_id -> f.features.toSeq).toMap
    val m2 = again.map(f => f.doc_id -> f.features.toSeq).toMap
    assert(m1 === m2)
  }

  test("binaryFile source reads opaque payloads with typed metadata (L5 ingest path)") {
    import spark.implicits._
    val dir = new java.io.File(s"$scratchRoot/binmedia")
    dir.mkdirs()
    val payloads = Map("a.px" -> "alpha-bytes", "b.px" -> "beta", "c.px" -> "gamma-payload")
    payloads.foreach { case (name, content) =>
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, content.getBytes("UTF-8"))
    }
    val df = spark.read.format("binaryFile").option("pathGlobFilter", "*.px")
      .load(dir.getAbsolutePath)
    assert(df.columns.toSet === Set("path", "modificationTime", "length", "content"))
    val got = df.collect().map { r =>
      val name = r.getAs[String]("path").split("/").last
      name -> (new String(r.getAs[Array[Byte]]("content"), "UTF-8"), r.getAs[Long]("length"))
    }.toMap
    assert(got.keySet === payloads.keySet)
    payloads.foreach { case (k, v) =>
      assert(got(k)._1 === v && got(k)._2 === v.length.toLong)
    }
  }

  test("L5b frame sampling: stride, offsets, and the partial last frame") {
    import spark.implicits._
    // fixture docs are single-frame (~300 bytes); synthesize payloads that
    // exercise the stride and a partial final window
    val media = Seq(
      Multimodal.MediaRow(1L, new Array[Byte](1100), "video/x", 1100L), // 5 frames -> idx 0, 4; last len 76
      Multimodal.MediaRow(2L, new Array[Byte](2304), "video/x", 2304L), // 9 frames -> idx 0, 4, 8; all full
      Multimodal.MediaRow(3L, new Array[Byte](10), "video/x", 10L))     // 1 frame -> idx 0, len 10
      .toDS()
    val out = Multimodal.sampleFrames(media).collect()
      .map(f => (f.doc_id, f.frame_idx) -> (f.frame_off, f.frame_len, f.n_frames)).toMap
    assert(out.keySet === Set((1L, 0), (1L, 4), (2L, 0), (2L, 4), (2L, 8), (3L, 0)))
    assert(out((1L, 4)) === ((1024L, 76L, 5L)))
    assert(out((2L, 8)) === ((2048L, 256L, 9L)))
    assert(out((3L, 0)) === ((0L, 10L, 1L)))
    // fan-out is lazy per partition: a 1-partition stream of many payloads
    // emits without materializing the expanded table (smoke: count only)
    val many = spark.range(200).map(i =>
      Multimodal.MediaRow(i, Array.emptyByteArray, "video/x", 4096L)).repartition(1)
    assert(Multimodal.sampleFrames(many).count() === 200L * 4) // 16 frames -> 4 sampled
  }

  test("repartitioning does not change extracted features (no cross-row state)") {
    val base = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sfDir))
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    val repart = Multimodal.extractFeatures(
      Multimodal.mediaTable(spark, sfDir).repartition(7))
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    assert(base === repart)
  }
}
