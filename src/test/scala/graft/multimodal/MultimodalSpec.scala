package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "abc"), (2L, ""), (3L, "hello world"))
    .toDF("doc_id", "text")

  test("pack produces binary media with correct byte metadata") {
    val packed = Multimodal.pack(docs).collect().sortBy(_.doc_id)
    packed.map(_.n_bytes).toSeq shouldBe Seq(3L, 0L, 11L)
    packed(0).media.toSeq shouldBe "abc".getBytes("UTF-8").toSeq
    packed.forall(_.mime == "application/octet-stream") shouldBe true
  }

  test("png header parse recovers known dimensions without pixel decode") {
    val png = ImageCodec.encodePng(16, 12)((x, y) => (x * 16 + y) & 0xFFFFFF)
    ImageCodec.sniff(png) shouldBe Some("png")
    ImageCodec.header(png) shouldBe
      Some(ImageCodec.ImageMeta("png", 16, 12, 3)) // TYPE_INT_RGB → truecolor
    // header-only: the parser must succeed on just the leading bytes
    ImageCodec.header(png.take(33)) shouldBe
      Some(ImageCodec.ImageMeta("png", 16, 12, 3))
  }

  test("jpeg SOF walk finds frame dimensions across skipped segments") {
    // SOI, APP0 (len 4, 2 payload bytes), SOF0: len 11, precision 8,
    // height 0x0020=32, width 0x0030=48, 1 component (+3 spec bytes).
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x20, 0x00, 0x30, 0x01,
      0x01, 0x11, 0x00).map(_.toByte)
    ImageCodec.sniff(jpeg) shouldBe Some("jpeg")
    ImageCodec.header(jpeg) shouldBe Some(ImageCodec.ImageMeta("jpeg", 48, 32, 1))
    // truncated before the SOF → None, no exception
    ImageCodec.header(jpeg.take(10)) shouldBe None
  }

  test("gif and bmp headers parse little-endian dimensions") {
    val gif = "GIF89a".getBytes("US-ASCII") ++ Array(7, 0, 5, 0).map(_.toByte)
    ImageCodec.header(gif) shouldBe Some(ImageCodec.ImageMeta("gif", 7, 5, 3))
    val bmp = new Array[Byte](34)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(14) = 40 // BITMAPINFOHEADER
    bmp(18) = 9 // width 9
    bmp(22) = 6 // height 6
    bmp(28) = 24 // 24 bpp → 3 channels
    ImageCodec.header(bmp) shouldBe Some(ImageCodec.ImageMeta("bmp", 9, 6, 3))
    ImageCodec.header("not an image".getBytes("UTF-8")) shouldBe None
  }

  test("full decode computes exact luma over real pixels") {
    // one white + one black pixel: BT.601 luma 255 and 0 → mean 127.5
    val png = ImageCodec.encodePng(2, 1)((x, _) => if (x == 0) 0xFFFFFF else 0)
    val d = ImageCodec.decode(png).get
    d.meta shouldBe ImageCodec.ImageMeta("png", 2, 1, 3)
    d.lumaMean shouldBe 127.5
    d.thumb.length shouldBe 16 // 4×4 nearest-neighbor grayscale
  }

  test("feature extraction routes image vs opaque bytes and is deterministic") {
    val f1 = Multimodal.pipeline(spark, docs).orderBy("doc_id").collect()
    val f2 = Multimodal.pipeline(spark, docs.repartition(3)).orderBy("doc_id").collect()
    f1.toSeq shouldBe f2.toSeq // partitioning must not change features
    // doc 1 (odd → opaque text 'abc' = bytes 97,98,99): byte path
    f1(0).getAs[String]("format") shouldBe "binary"
    f1(0).getAs[Double]("byte_mean") shouldBe 98.0
    f1(0).isNullAt(f1(0).fieldIndex("width")) shouldBe true
    // doc 2 (even → real PNG of the empty text = all-black raster):
    // header dims + exact luma from the decoded pixels
    f1(1).getAs[String]("format") shouldBe "png"
    f1(1).getAs[Int]("width") shouldBe 16
    f1(1).getAs[Int]("height") shouldBe 12
    f1(1).getAs[Int]("channels") shouldBe 3
    f1(1).getAs[Double]("luma_mean") shouldBe 0.0
  }

  test("packed PNGs round-trip their raster through the real codec") {
    val media = Multimodal.packImages(Seq((7L, "xyz")).toDF("doc_id", "text"))
      .collect().head
    media.mime shouldBe "image/png"
    val d = ImageCodec.decode(media.media).get
    // raster = repeating 'x','y','z' gray bytes (120,121,122) → luma mean
    // is the mean of those byte values (gray pixel: luma(v,v,v) = v).
    d.meta shouldBe ImageCodec.ImageMeta("png", 16, 12, 3)
    d.lumaMean shouldBe 121.0
  }

  test("thumb is bounded for both codec paths") {
    val mixed = Multimodal.packImages(docs.filter($"doc_id" === 2))
      .unionByName(Multimodal.pack(docs.filter($"doc_id" =!= 2)))
    val feats = Multimodal.extractFeatures(mixed).collect()
    all(feats.map(_.thumb.length)) should be <= 16
  }

  test("frame sampling emits every stride-th fixed-size frame, drops the tail") {
    import spark.implicits._
    // 100 bytes / 16-byte frames -> 6 whole frames (idx 0..5); stride 2
    // keeps 0, 2, 4; the 4-byte tail is dropped.
    val bytes = Array.tabulate[Byte](100)(_.toByte)
    val media = Seq(Multimodal.MediaRow(1L, bytes, "application/octet-stream", 100L)).toDS()
    val frames = Multimodal.sampleFrames(media)
      .collect().sortBy(_.frame_idx)
    frames.map(_.frame_idx) shouldBe Array(0L, 2L, 4L)
    frames.foreach(_.frame.length shouldBe 16)
    frames(1).frame.head shouldBe 32.toByte // frame 2 starts at byte 32
  }
}
