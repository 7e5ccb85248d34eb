package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.Multimodal

/** The m01 decode path: REAL image decode through javax.imageio for
  * PNG/JPEG blobs (true dimensions/channels through the same batched
  * Spark plumbing the driver query uses), deterministic stub fallback
  * for non-image payloads. */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  /** encode a w x h image with a deterministic gradient fill. */
  private def fixture(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / math.max(1, w - 1)) << 16) |
        ((y * 255 / math.max(1, h - 1)) << 8) | 0x40)
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  test("decodeImage: real PNG/JPEG dimensions and channels, stub fallback otherwise") {
    val png = Multimodal.decodeImage(1L, fixture(37, 23, "png"))
    assert(png.isDefined, "PNG must decode")
    assert(png.get.width == 37 && png.get.height == 23)
    assert(png.get.channels == 3 && png.get.n_frames == 1)
    assert(png.get.feature > 0.0 && png.get.feature < 1.0)
    val jpg = Multimodal.decodeImage(2L, fixture(64, 48, "jpg"))
    assert(jpg.isDefined, "JPEG must decode")
    assert(jpg.get.width == 64 && jpg.get.height == 48)
    // non-image payloads refuse the real path and dispatch to the stub
    val text = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.decodeImage(3L, text).isEmpty)
    assert(Multimodal.decode(3L, text) == Multimodal.decodeStub(3L, text))
    // deterministic: same bytes, same record
    val bytes = fixture(16, 16, "png")
    assert(Multimodal.decode(4L, bytes) == Multimodal.decode(4L, bytes))
  }

  test("decodeAll: mixed image/non-image blobs through the batched Spark plumbing") {
    val s = spark
    import s.implicits._
    val blobs = Seq(
      (1L, fixture(37, 23, "png")),
      (2L, fixture(64, 48, "jpg")),
      (3L, "plain text payload".getBytes("UTF-8"))).toDS()
    val got = Multimodal.decodeAll(s, blobs).collect().sortBy(_.doc_id)
    assert(got.length == 3)
    // real decodes carry true dimensions
    assert(got(0).width == 37 && got(0).height == 23 && got(0).n_frames == 1)
    assert(got(1).width == 64 && got(1).height == 48)
    // the text blob matches the stub exactly (the oracle contract)
    assert(got(2) == Multimodal.decodeStub(3L, "plain text payload".getBytes("UTF-8")))
  }
}
