package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO

/** One generated camera shot: its file name and the label encoded in it. */
final case class Shot(index: Int, fileName: String, label: Int, exif: Boolean)

/** A seeded corpus of reference-shaped JPEGs: 600x600 RGB camera frames
  * named `<date>_<device>_<shot>_<label>.jpg`, about 120 KB each, a
  * seeded share carrying an Exif APP1 segment. The same seed gives the
  * same names and the same bytes.
  */
object Images {
  val Side = 600
  val ExifShare = 0.25

  private def rng(seed: Long, index: Int) =
    new scala.util.Random(seed * 1000003L + index * 7919L + 17L)

  def shot(seed: Long, index: Int): Shot = {
    val r = rng(seed, index)
    val label = r.nextInt(2)
    val device = s"cam${r.nextInt(8)}"
    // date only: Hadoop paths reject the colons of a full ISO time
    val date = f"2024-03-${1 + r.nextInt(7)}%02d"
    Shot(index, f"${date}_${device}_$index%05d_$label.jpg", label, r.nextDouble() < ExifShare)
  }

  /** The JPEG bytes of shot `index`: a smooth lit scene, a few objects,
    * sensor noise; label-1 frames run warmer so a model can learn them.
    */
  def jpeg(seed: Long, index: Int): Array[Byte] = {
    val s = shot(seed, index)
    val r = rng(seed, index)
    r.nextLong() // decouple pixel draws from the name draws
    val img = new BufferedImage(Side, Side, BufferedImage.TYPE_INT_RGB)
    val base = Array.fill(3)(40 + r.nextInt(140))
    if (s.label == 1) base(0) = math.min(255, base(0) + 50)
    val grad = Array.fill(3)(r.nextInt(60) - 30)
    val blobs = Array.fill(6)(Array(r.nextInt(Side), r.nextInt(Side), 30 + r.nextInt(120),
      r.nextInt(256), r.nextInt(256), r.nextInt(256)))
    val noise = new java.util.SplittableRandom(r.nextLong())
    val row = new Array[Int](Side)
    val px = new Array[Int](3)
    var y = 0
    while (y < Side) {
      var x = 0
      while (x < Side) {
        var c = 0
        while (c < 3) { px(c) = base(c) + grad(c) * (x + y) / Side; c += 1 }
        var k = 0
        while (k < blobs.length) {
          val bl = blobs(k)
          val dx = x - bl(0); val dy = y - bl(1)
          if (dx * dx + dy * dy < bl(2) * bl(2)) {
            c = 0
            while (c < 3) { px(c) = (px(c) + bl(3 + c)) / 2; c += 1 }
          }
          k += 1
        }
        var rgb = 0
        c = 0
        while (c < 3) {
          val v = px(c) + noise.nextInt(41) - 20
          rgb = (rgb << 8) | math.max(0, math.min(255, v))
          c += 1
        }
        row(x) = rgb
        x += 1
      }
      img.setRGB(0, y, Side, 1, row, 0, Side)
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    val bytes = bos.toByteArray
    if (s.exif) withExif(bytes, s) else bytes
  }

  /** Splice an Exif APP1 segment (Make, Model, DateTime) after SOI. */
  private def withExif(jpeg: Array[Byte], s: Shot): Array[Byte] = {
    val stamp = s.fileName.take(10).replace('-', ':') + " 12:00:00"
    val tags = Seq(0x010F -> "PerfbenchCam", 0x0110 -> s.fileName.split('_')(1),
      0x0132 -> stamp)
    val data = tags.map { case (_, v) => v.getBytes("US-ASCII") :+ 0.toByte }
    val ifdSize = 2 + tags.size * 12 + 4
    val tiffSize = 8 + ifdSize + data.map(_.length).sum
    val tiff = ByteBuffer.allocate(tiffSize).order(ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(8)
    tiff.putShort(tags.size.toShort)
    var off = 8 + ifdSize
    tags.zip(data).foreach { case ((tag, _), bytes) =>
      tiff.putShort(tag.toShort).putShort(2.toShort).putInt(bytes.length).putInt(off)
      off += bytes.length
    }
    tiff.putInt(0)
    data.foreach(b => tiff.put(b))
    val payload = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff.array()
    val len = payload.length + 2
    val app1 = Array(0xFF.toByte, 0xE1.toByte, (len >> 8).toByte, len.toByte) ++ payload
    jpeg.take(2) ++ app1 ++ jpeg.drop(2)
  }
}
