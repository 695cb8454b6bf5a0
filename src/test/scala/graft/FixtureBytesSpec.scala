package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{ApngCodec, ImageFixtures, PdfText, TiffCodec}
import graft.llm.ApngCodec.FrameSpec
import graft.llm.TiffCodec.Options
import graft.sources.Warc

/** The fixture encoders that deflate or LZW-compress their payloads
  * are oracle inputs: q215/q247/q257 replay PNG fixtures, q262 TIFF,
  * q270 APNG, q282 PDF and q290/q296 the WARC wire forms. Their bytes
  * are pinned by SHA-256 so a change to the shared compression kernels
  * cannot silently move any oracle input. */
class FixtureBytesSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  private val rgb = (x: Int, y: Int) =>
    ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256, (x + y * 2 + 101) % 256)
  private val gray = (x: Int, y: Int) => (x * 11 + y * 17 + 3) % 256

  private def cases: Seq[(String, Array[Byte])] = Seq(
    "tiff gray deflate" ->
      TiffCodec.encodeGray(37, 23, gray, opts = Options(compression = 8)),
    "tiff rgb lzw predictor" ->
      TiffCodec.encodeRgb(41, 19, rgb,
        Options(compression = 5, predictor = 2)),
    "pdf flate" ->
      PdfText.fixture(Seq(Seq("first line", "café — end"), Seq("page two")),
        flate = true),
    "apng two frames" ->
      ApngCodec.encode(Seq(FrameSpec(16, 10, 0, 0, rgb),
        FrameSpec(5, 4, 3, 2, (_, _) => (200, 10, 20),
          alpha = (x, y) => (x * 40 + y * 30) % 256, blend = 1))),
    "png rgb" -> ImageFixtures.pngFull(23, 17, rgb),
    "png rgba16 adam7" ->
      ImageFixtures.pngFull(13, 11, (x, y) => (x * 5003 % 65536,
        y * 7919 % 65536, (x + y) * 331 % 65536), rgba = true,
        interlace = true, depth = 16),
    "png gray2 adam7" ->
      ImageFixtures.pngGray(19, 9, gray, interlace = true, depth = 2),
    "warc zlib" ->
      Warc.deflateZlib(("wire text — café ☃ " + ("abc " * 200) + "end")
        .getBytes("UTF-8")))

  private val expected = Map(
    "tiff gray deflate" -> "44f12ebe4e15acb617f8ba6a684f269d2e4c5ea330b732b71e330c9e1bb0b7e6",
    "tiff rgb lzw predictor" -> "bccda6c8f62034a011665bb42017f63871cbd73620379daa11f14727aca15480",
    "pdf flate" -> "19ab4069c03798d82c2fd6e20aa0fb64c1a37caed4230398d1bd997493487dee",
    "apng two frames" -> "280eb93e1e777c5db7e5749b53932c31a42e4304349b08185f97c88dd07c1ca1",
    "png rgb" -> "115444a1c8c653ba91d2ee3cf27e89957c03b300a62e1ff9df6300e0cd0abb60",
    "png rgba16 adam7" -> "df706695e3a89aaa18a9eb6c81b00c9331fef9515893d54bedbf9d230b43a3b9",
    "png gray2 adam7" -> "d18235e18a3007fbe41ee302e1b7e20c24faeb28e651a27e16168c3deeea87c5",
    "warc zlib" -> "a9f43c2fbf8f287a4010c36c53ac5457579e505ae85a650852f9949b1e83d2c5")

  test("deflate/LZW fixture encoders emit the pinned bytes") {
    for ((name, bytes) <- cases) assert(sha256(bytes) == expected(name), name)
  }
}
