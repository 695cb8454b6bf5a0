package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

import graft.util.Containers
import graft.util.Containers.{be16, be32, be64}

/** MP4 (ISO-BMFF) sample-table indexer: the frame index a video
  * pipeline needs to random-access samples WITHOUT a codec — per
  * sample: decode timestamp, duration, byte size, absolute file
  * offset, and the keyframe flag, straight from the moov/trak/stbl
  * metadata (stsd codec fourcc + dims, stts delta runs, stsz sizes,
  * stsc chunk-run map, stco/co64 chunk offsets, stss sync set).
  *
  * This is the honest boundary for codec-bound video (H.264/VP9
  * payloads stay undecoded): at 100 TB an indexing pass over moov
  * boxes is a metadata-scale job (moov is ~0.1% of file bytes) that
  * lets downstream frame-sampling read EXACT byte ranges instead of
  * scanning files. Parsing is defensive: boxes are framed by
  * [[graft.util.Containers.boxes]] (sizes bounds-checked against their
  * parent, largesize and to-the-end boxes followed), a box that does
  * not fit refuses, unknown boxes skip.
  *
  * `index` is the Spark path: (id, bytes) rows flatMap narrowly into
  * per-sample rows — no shuffle; at scale feed it moov prefixes, not
  * whole files.
  */
object Mp4Index {

  case class Sample(track: Int, codec: String, width: Int, height: Int,
                    timescale: Long, sample: Int, dts: Long,
                    duration: Long, size: Long, offset: Long,
                    keyframe: Boolean)

  /** Children (type, payloadStart, payloadEnd) of the box run in
    * [from, to); a box that does not fit refuses. */
  private def children(b: Array[Byte], from: Int, to: Int)
      : Seq[(String, Int, Int)] = {
    val out = ArrayBuffer[(String, Int, Int)]()
    val c = Containers.boxes(b, from, to)
    while (c.next()) {
      require(!c.overrun, s"box ${c.name} size ${c.size} out of range")
      out += ((c.name, c.start, c.end))
    }
    out.toSeq
  }

  private def find(b: Array[Byte], from: Int, to: Int,
                   typ: String): Option[(Int, Int)] =
    children(b, from, to).collectFirst { case (`typ`, s, e) => (s, e) }

  /** Every sample of every track carrying a complete stbl. */
  def parse(b: Array[Byte]): Seq[Sample] = {
    val (moovS, moovE) = find(b, 0, b.length, "moov").getOrElse(
      throw new IllegalArgumentException("MP4 carries no moov box"))
    children(b, moovS, moovE).filter(_._1 == "trak").zipWithIndex.flatMap {
      case ((_, trakS, trakE), trackNo) =>
        parseTrak(b, trakS, trakE, trackNo)
    }
  }

  private def parseTrak(b: Array[Byte], trakS: Int, trakE: Int,
                        track: Int): Seq[Sample] = {
    val (mdiaS, mdiaE) = find(b, trakS, trakE, "mdia").getOrElse(
      return Seq.empty)
    val timescale = find(b, mdiaS, mdiaE, "mdhd").map { case (s, _) =>
      val v = b(s) & 0xFF
      if (v == 1) be32(b, s + 20) else be32(b, s + 12)
    }.getOrElse(return Seq.empty)
    val (minfS, minfE) = find(b, mdiaS, mdiaE, "minf").getOrElse(
      return Seq.empty)
    val (stblS, stblE) = find(b, minfS, minfE, "stbl").getOrElse(
      return Seq.empty)

    // stsd: first sample entry's fourcc (+dims for visual entries)
    val (codec, w, h) = find(b, stblS, stblE, "stsd").map { case (s, e) =>
      val n = be32(b, s + 4)
      if (n == 0 || s + 16 > e) ("", 0, 0)
      else {
        val entryAt = s + 8
        val cc = new String(b, entryAt + 4, 4, "US-ASCII")
        // VisualSampleEntry: width/height at +32/+34 from entry start
        if (entryAt + 36 <= e)
          (cc, be16(b, entryAt + 32), be16(b, entryAt + 34))
        else (cc, 0, 0)
      }
    }.getOrElse(("", 0, 0))

    // stts: (count, delta) runs -> per-sample durations. Sum the run
    // counts BEFORE materializing anything — a hostile 1 KiB box can
    // declare billions of samples, and the cap must fire before the
    // allocation, not after.
    val durations = find(b, stblS, stblE, "stts").map { case (s, e) =>
      val n = be32(b, s + 4).toInt
      require(s + 8 + 8L * n <= e, "truncated stts")
      val total = (0 until n).map(i => be32(b, s + 8 + 8 * i)).sum
      require(total >= 0 && total <= 8000000,
        s"stts declares $total samples (cap 8M per track — a 2 h\n" +
          "60 fps track is ~450k; per-sample rows cost ~150 B each)")
      (0 until n).flatMap { i =>
        val cnt = be32(b, s + 8 + 8 * i).toInt
        val delta = be32(b, s + 12 + 8 * i)
        Seq.fill(cnt)(delta)
      }
    }.getOrElse(return Seq.empty)
    val nSamples = durations.size

    // stsz: uniform or per-sample
    val sizes = find(b, stblS, stblE, "stsz").map { case (s, e) =>
      val uniform = be32(b, s + 4)
      val cnt = be32(b, s + 8).toInt
      require(cnt == nSamples, s"stsz count $cnt != stts total $nSamples")
      if (uniform != 0) Seq.fill(cnt)(uniform)
      else {
        require(s + 12 + 4L * cnt <= e, "truncated stsz")
        (0 until cnt).map(i => be32(b, s + 12 + 4 * i))
      }
    }.getOrElse(return Seq.empty)

    // stsc runs -> samples-per-chunk per chunk index (1-based)
    val stsc = find(b, stblS, stblE, "stsc").map { case (s, e) =>
      val n = be32(b, s + 4).toInt
      require(s + 8 + 12L * n <= e, "truncated stsc")
      (0 until n).map { i =>
        (be32(b, s + 8 + 12 * i).toInt, be32(b, s + 12 + 12 * i).toInt)
      }
    }.getOrElse(return Seq.empty)

    // chunk offsets
    val chunkOffsets = find(b, stblS, stblE, "stco").map { case (s, e) =>
      val n = be32(b, s + 4).toInt
      require(s + 8 + 4L * n <= e, "truncated stco")
      (0 until n).map(i => be32(b, s + 8 + 4 * i))
    }.orElse(find(b, stblS, stblE, "co64").map { case (s, e) =>
      val n = be32(b, s + 4).toInt
      require(s + 8 + 8L * n <= e, "truncated co64")
      (0 until n).map(i => be64(b, s + 8 + 8 * i))
    }).getOrElse(return Seq.empty)

    // stss sync set (absent -> every sample is sync)
    val sync = find(b, stblS, stblE, "stss").map { case (s, e) =>
      val n = be32(b, s + 4).toInt
      require(s + 8 + 4L * n <= e, "truncated stss")
      (0 until n).map(i => be32(b, s + 8 + 4 * i).toInt).toSet
    }

    // expand stsc runs across the real chunk list
    val perChunk = new Array[Int](chunkOffsets.size)
    var run = 0
    var c = 0
    while (c < chunkOffsets.size) {
      while (run + 1 < stsc.size && stsc(run + 1)._1 <= c + 1) run += 1
      perChunk(c) = stsc(run)._2
      c += 1
    }
    require(perChunk.sum == nSamples,
      s"stsc/stco map covers ${perChunk.sum} samples, stts has $nSamples")

    // walk chunks -> absolute offsets; dts = running duration sum
    val out = ArrayBuffer[Sample]()
    var sample = 0
    var dts = 0L
    c = 0
    while (c < chunkOffsets.size) {
      var off = chunkOffsets(c)
      var k = 0
      while (k < perChunk(c)) {
        out += Sample(track, codec, w, h, timescale, sample, dts,
          durations(sample), sizes(sample), off,
          sync.forall(_.contains(sample + 1)))
        dts += durations(sample)
        off += sizes(sample)
        sample += 1
        k += 1
      }
      c += 1
    }
    out.toSeq
  }

  /** (id, track, codec, width, height, timescale, sample, dts,
    * duration, size, offset, keyframe) — narrow flatMap per file. */
  def index(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        parse(bytes).map(s => (id, s.track, s.codec, s.width, s.height,
          s.timescale, s.sample, s.dts, s.duration, s.size, s.offset,
          s.keyframe))
      }
      .toDF("id", "track", "codec", "width", "height", "timescale",
        "sample", "dts", "duration", "size", "offset", "keyframe")
  }
}
