package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SeedSpec extends AnyFunSuite {

  test("one seed reproduces the image names and bytes exactly") {
    for (i <- Seq(0, 1, 17)) {
      assert(Images.shot(7L, i) == Images.shot(7L, i))
      assert(Images.jpeg(7L, i).sameElements(Images.jpeg(7L, i)))
    }
  }

  test("another seed changes the images") {
    assert(!Images.jpeg(7L, 3).sameElements(Images.jpeg(8L, 3)))
    assert((0 until 20).map(Images.shot(7L, _)) != (0 until 20).map(Images.shot(8L, _)))
  }

  test("images are reference-shaped: 600x600 RGB, named <date>_<device>_<shot>_<label>.jpg") {
    val shots = (0 until 40).map(Images.shot(11L, _))
    shots.foreach { s =>
      assert(s.fileName.matches("""2024-03-0\d_cam\d_\d{5}_[01]\.jpg"""), s.fileName)
      assert(s.fileName.endsWith(s"_${s.label}.jpg"))
    }
    assert(shots.map(_.label).toSet == Set(0, 1))
    assert(shots.exists(_.exif) && shots.exists(!_.exif))
    val bytes = Images.jpeg(11L, shots.indexWhere(_.exif))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == Images.Side && img.getHeight == Images.Side)
    // the Exif APP1 segment sits right after SOI
    assert((bytes(2) & 0xFF) == 0xFF && (bytes(3) & 0xFF) == 0xE1)
    assert(new String(bytes.slice(6, 10), "US-ASCII") == "Exif")
  }

  test("one seed reproduces the query order exactly; another seed changes it") {
    val qs = (1 to 30).map(i => s"q$i")
    assert(QueryWorkload.order(qs, 5L, 0) == QueryWorkload.order(qs, 5L, 0))
    assert(QueryWorkload.order(qs, 5L, 0).sorted == qs.sorted)
    assert(QueryWorkload.order(qs, 5L, 0) != QueryWorkload.order(qs, 6L, 0))
    // each pass has its own order
    assert(QueryWorkload.order(qs, 5L, 0) != QueryWorkload.order(qs, 5L, 1))
  }
}
