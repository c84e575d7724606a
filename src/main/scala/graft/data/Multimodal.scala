package graft.data

import org.apache.spark.sql.Dataset

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns with typed
  * metadata, processed in partition-batched passes (the Scala analogue of
  * `mapInPandas` — one iterator per partition, batch-shaped work inside).
  *
  * Images decode for real via `javax.imageio` (PNG/JPEG/GIF/BMP — part of the JDK, no
  * extra dependency). The JDK has no audio or video decoder, so those kinds have no
  * operators here. Bytes that do not decode as an image yield no row: a made-up
  * width or luma would pass for a real one downstream.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, bytes: Array[Byte])
  final case class DecodedImage(doc_id: Long, width: Int, height: Int, channels: Int,
      meanLuma: Double)
  final case class ResizedImage(doc_id: Long, width: Int, height: Int, thumbnail: Array[Byte])

  /** Real image codec on `javax.imageio` (JDK-bundled). Returns None when the bytes
    * are not a decodable image (crawled media is dirty — undecodable payloads are the
    * norm, not the exception).
    */
  object ImageIoCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    /** Decoders THROW (not just return null) on corrupt bodies behind a valid magic —
      * crawled media does this constantly, so every failure mode maps to None.
      */
    private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }

    def decodeImage(id: Long, bytes: Array[Byte]): Option[DecodedImage] =
      readImage(bytes).map { img =>
        val w = img.getWidth; val h = img.getHeight
        // one bulk conversion into an int[]; per-pixel getRGB(x, y) pays a
        // ColorModel conversion per call (10-50x slower on megapixel images)
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0.0
        var i = 0
        while (i < rgb.length) {
          val p = rgb(i) // Rec.601 luma over sRGB
          sum += 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
          i += 1
        }
        DecodedImage(id, w, h, img.getColorModel.getNumComponents,
          sum / (w.toLong * h) / 255.0)
      }

    /** Bilinear resize, re-encoded as PNG thumbnail bytes. */
    def resizeToPng(id: Long, bytes: Array[Byte], w: Int, h: Int): Option[ResizedImage] =
      readImage(bytes).map { src =>
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, w, h, null)
        g.dispose()
        val bos = new ByteArrayOutputStream()
        ImageIO.write(dst, "png", bos)
        ResizedImage(id, w, h, bos.toByteArray)
      }
  }

  /** Decode pass: partition-batched (mapPartitions keeps per-partition setup, like
    * mapInPandas batch init). Rows whose payload is not a decodable image are dropped,
    * so dirty crawled payloads never kill the job.
    */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions { it =>
      // ImageIO scans its reader SPI registry once per JVM; nothing else to init
      it.flatMap(m => ImageIoCodec.decodeImage(m.doc_id, m.bytes))
    }
  }

  /** Real decode+resize over raw media bytes (PNG thumbnails); rows whose payload is
    * not a decodable image are dropped.
    */
  def resizeImageBytes(media: Dataset[MediaRow], w: Int, h: Int): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions(_.flatMap(m =>
      ImageIoCodec.resizeToPng(m.doc_id, m.bytes, w, h)))
  }
}
