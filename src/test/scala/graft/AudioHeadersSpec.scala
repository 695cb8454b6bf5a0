package graft

import graft.llm.AudioFixtures
import graft.plans.{AudioMeta, AudioMetaNative}

class AudioHeadersSpec extends SparkSpec with Watchdog {
  import spark.implicits._

  private def parsed(bytes: Array[Byte])
      : (String, Option[Int], Option[Int], Option[Int], Option[Long]) = {
    val r = AudioMeta.parse(bytes)
    (r.getUTF8String(0).toString,
     if (r.isNullAt(1)) None else Some(r.getInt(1)),
     if (r.isNullAt(2)) None else Some(r.getInt(2)),
     if (r.isNullAt(3)) None else Some(r.getInt(3)),
     if (r.isNullAt(4)) None else Some(r.getLong(4)))
  }

  test("every fixture branch parses to its staged parameters") {
    assert(parsed(AudioFixtures.wav(44100, 2, 16, 1000)) ===
      (("wav", Some(44100), Some(2), Some(16), Some(1000L))))
    // the odd-sized LIST chunk before fmt exercises the pad-byte walk
    assert(parsed(AudioFixtures.wav(16000, 1, 8, 12345, withListChunk = true)) ===
      (("wav", Some(16000), Some(1), Some(8), Some(12345L))))
    assert(parsed(AudioFixtures.wav(8000, 1, 16, 0)) ===
      (("wav", Some(8000), Some(1), Some(16), Some(0L))))
    assert(parsed(AudioFixtures.wavTruncated) ===
      (("wav", None, None, None, None)))
    assert(parsed(AudioFixtures.flac(44100, 2, 16, 88200L)) ===
      (("flac", Some(44100), Some(2), Some(16), Some(88200L))))
    assert(parsed(AudioFixtures.flac(96000, 8, 24, 123456789L)) ===
      (("flac", Some(96000), Some(8), Some(24), Some(123456789L))))
    assert(parsed("nope".getBytes("UTF-8")) ===
      (("unknown", None, None, None, None)))
  }

  test("mp3: frame-header fields across versions; ID3 skip; reserved indices null") {
    import graft.llm.AudioFixtures.mp3
    // V1 table: 44100 / 48000 / 32000
    assert(parsed(mp3(3, 0, mono = false)) === (("mp3", Some(44100), Some(2), None, None)))
    assert(parsed(mp3(3, 1, mono = true)) === (("mp3", Some(48000), Some(1), None, None)))
    // V2 and V2.5 tables
    assert(parsed(mp3(2, 0, mono = false)) === (("mp3", Some(22050), Some(2), None, None)))
    assert(parsed(mp3(0, 2, mono = true)) === (("mp3", Some(8000), Some(1), None, None)))
    // ID3-prefixed: the syncsafe size skips to the frame
    assert(parsed(mp3(3, 2, mono = true, withId3 = true, id3Pad = 300)) ===
      (("mp3", Some(32000), Some(1), None, None)))
    // reserved sample-rate index (3) and reserved version (1): format
    // identified, fields null
    assert(parsed(mp3(3, 3, mono = false)) === (("mp3", None, None, None, None)))
    assert(parsed(mp3(1, 0, mono = false)) === (("mp3", None, None, None, None)))
    // ID3 tag with no frame after it
    assert(parsed(graft.llm.AudioFixtures.mp3Id3Only) ===
      (("mp3", None, None, None, None)))
  }

  test("packed-field edges: FLAC max fields, WAV 36-bit-safe frame math") {
    // FLAC bit-field extremes: 20-bit rate ceiling, 8 channels, 32-bit
    // depth, 36-bit total-sample count — no field may bleed into its
    // neighbor.
    assert(parsed(AudioFixtures.flac(655350, 8, 32, (1L << 36) - 1)) ===
      (("flac", Some(655350), Some(8), Some(32), Some((1L << 36) - 1))))
    // FLAC magic with a non-STREAMINFO first block: metadata unread.
    val badFirst = AudioFixtures.flac(44100, 2, 16, 1L)
      .updated(4, 0x04.toByte) // VORBIS_COMMENT type
    assert(parsed(badFirst) === (("flac", None, None, None, None)))
    // Empty input.
    assert(parsed(Array.emptyByteArray) === (("unknown", None, None, None, None)))
  }

  test("AIFF and AU headers: COMM/80-bit rate, AU encoding widths, truncation") {
    assert(parsed(AudioFixtures.aiff(22050, 2, 16, new Array[Byte](100))) ===
      (("aiff", Some(22050), Some(2), Some(16), Some(25L))))
    // AIFC wrapper (sowt): same COMM metadata
    assert(parsed(AudioFixtures.aiff(48000, 1, 16, new Array[Byte](24),
      comp = "sowt")) === (("aiff", Some(48000), Some(1), Some(16), Some(12L))))
    // frames come from COMM, not the data size, when declared
    assert(parsed(AudioFixtures.aiff(8000, 1, 16, new Array[Byte](10),
      frames = 777L)) === (("aiff", Some(8000), Some(1), Some(16), Some(777L))))
    // truncated FORM: format recognized, fields null
    assert(parsed(AudioFixtures.aiff(8000, 1, 16,
      new Array[Byte](10)).take(14)) === (("aiff", None, None, None, None)))
    // AU widths per encoding: 16-bit BE, mu-law (8), float64
    assert(parsed(AudioFixtures.au(8000, 1, 3, new Array[Byte](60))) ===
      (("au", Some(8000), Some(1), Some(16), Some(30L))))
    assert(parsed(AudioFixtures.au(44100, 2, 1, new Array[Byte](50),
      offset = 40)) === (("au", Some(44100), Some(2), Some(8), Some(25L))))
    assert(parsed(AudioFixtures.au(8000, 1, 7, new Array[Byte](80))) ===
      (("au", Some(8000), Some(1), Some(64), Some(10L))))
    // unknown encoding: rate/channels survive, width-derived fields null
    assert(parsed(AudioFixtures.au(8000, 1, 23, new Array[Byte](8))) ===
      (("au", Some(8000), Some(1), None, None)))
  }

  /** 28 bytes: RIFF/WAVE, then one JUNK chunk declaring `size` with
    * 8 payload bytes present. */
  private def wavWithChunkSize(size: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Unit = (0 until 4).foreach(k => b.write((v >>> (8 * k)).toInt))
    b.write("RIFF".getBytes("US-ASCII")); le32(20)
    b.write("WAVE".getBytes("US-ASCII"))
    b.write("JUNK".getBytes("US-ASCII")); le32(size)
    b.write(new Array[Byte](8))
    b.toByteArray
  }

  test("WAV chunk size 0xFFFFFFF8 (-8 as an Int): the null-field row, not a hang") {
    assert(within(10)(parsed(wavWithChunkSize(0xFFFFFFF8L))) ===
      (("wav", None, None, None, None)))
  }

  test("WAV chunk size 0x80000001: the null-field row, not an out-of-bounds read") {
    assert(within(10)(parsed(wavWithChunkSize(0x80000001L))) ===
      (("wav", None, None, None, None)))
  }

  test("ogg: Vorbis/Opus id headers, last-page granule, truncation") {
    import graft.llm.AudioFixtures.{oggOpus, oggTruncated, oggVorbis}
    // Vorbis: channels/rate from the \x01vorbis header; total PCM
    // samples from the EOS page's granule position
    assert(parsed(oggVorbis(44100, 2, 88200L)) ===
      (("ogg-vorbis", Some(44100), Some(2), None, Some(88200L))))
    assert(parsed(oggVorbis(8000, 1, 4000L)) ===
      (("ogg-vorbis", Some(8000), Some(1), None, Some(4000L))))
    // Opus: output rate is the codec's FIXED 48 kHz; the EOS granule
    // carries pre-skip the reader must subtract
    assert(parsed(oggOpus(2, 312, 96000L)) ===
      (("ogg-opus", Some(48000), Some(2), None, Some(96000L))))
    assert(parsed(oggOpus(1, 0, 480L)) ===
      (("ogg-opus", Some(48000), Some(1), None, Some(480L))))
    // a truncated page chain keeps the id-header fields, nulls the
    // duration (the WAV missing-chunk convention)
    assert(parsed(oggTruncated) ===
      (("ogg-vorbis", Some(32000), Some(2), None, None)))
    // multiplexed A/V: a second logical stream's physically-LAST
    // page carries a huge foreign granule — duration must track the
    // FIRST stream's serial
    import graft.llm.AudioFixtures.oggMultiplexed
    assert(parsed(oggMultiplexed(44100, 2, 88200L)) ===
      (("ogg-vorbis", Some(44100), Some(2), None, Some(88200L))))
    // an OGG wrapping an unknown codec is "ogg" with nulls — never
    // a guess
    val page = oggVorbis(1, 1, 1L).take(28 + 2) // header + partial body
    assert(parsed("OggS".getBytes("US-ASCII")) ===
      (("ogg", None, None, None, None)))
    assert(parsed(page)._1.startsWith("ogg"))
  }

  test("dataframe path (codegen) agrees with the static parser, null-safe") {
    val rows = AudioFixtures.all
    val df = rows.toDF("audio_id", "bytes")
      .union(Seq((99L, null.asInstanceOf[Array[Byte]])).toDF("audio_id", "bytes"))
    val got = df
      .select($"audio_id", AudioMetaNative.audioMeta(spark, $"bytes").as("m"))
      .select($"audio_id", $"m.format", $"m.sample_rate", $"m.channels",
              $"m.bits_per_sample", $"m.n_frames")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    rows.foreach { case (id, bytes) =>
      assert(got(id) === parsed(bytes), s"audio_id=$id")
    }
    assert(got(99L) === null)
  }
}
