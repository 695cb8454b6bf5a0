package perfbench

import java.util.SplittableRandom

import graft.sources.TeamRankingsNormalizer.TableSpec

/** Seeded input generators. Every generator is a pure function of its
  * seed and coordinates (collection day, spec, image id), so the same
  * seed gives byte-identical inputs in any process. */
object Gen {

  val Teams: Vector[String] = Vector(
    "Arizona", "Atlanta", "Baltimore", "Buffalo", "Carolina", "Chicago",
    "Cincinnati", "Cleveland", "Dallas", "Denver", "Detroit", "Green Bay",
    "Houston", "Indianapolis", "Jacksonville", "Kansas City", "Las Vegas",
    "LA Chargers", "LA Rams", "Miami", "Minnesota", "New England",
    "New Orleans", "NY Giants", "NY Jets", "Philadelphia", "Pittsburgh",
    "San Francisco", "Seattle", "Tampa Bay", "Tennessee", "Washington")

  val Books: Seq[String] = Seq("draftkings", "fanduel", "betmgm", "caesars",
    "pointsbetus", "bovada", "betrivers", "unibet")

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 27) * 0x94D049BB133111EBL))

  /** A week's slate: 16 games pairing all 32 teams, shuffled by seed. */
  def slate(seed: Long, day: Int): Seq[(String, String)] = {
    val r = rng(seed, day, 1)
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(Teams)
    order.grouped(2).map(p => (p(0), p(1))).toSeq
  }

  private def price(r: SplittableRandom): Double =
    (if (r.nextBoolean()) 100 + r.nextInt(250) else -(105 + r.nextInt(300))).toDouble

  /** One odds-API response in its JSON shape: games → bookmakers →
    * h2h/spreads/totals markets → outcomes; with its outcome count (the
    * rows it flattens to). */
  def oddsPayload(seed: Long, day: Int, commence: java.time.LocalDate): (String, Int) = {
    val r = rng(seed, day, 2)
    val games = slate(seed, day).zipWithIndex.map { case ((home, away), g) =>
      val spread = (r.nextInt(29) - 14) / 2.0
      val total = 37.5 + r.nextInt(16)
      val dropped = Books(r.nextInt(Books.size))
      val books = Books.filterNot(_ == dropped).map { book =>
        def o(name: String, point: Option[Double]) = Json.Obj(
          Seq("name" -> name, "price" -> price(r)) ++ point.map("point" -> _))
        Json.Obj(Seq("key" -> book, "markets" -> Seq(
          Json.Obj(Seq("key" -> "h2h", "outcomes" -> Seq(o(home, None), o(away, None)))),
          Json.Obj(Seq("key" -> "spreads", "outcomes" ->
            Seq(o(home, Some(spread)), o(away, Some(-spread))))),
          Json.Obj(Seq("key" -> "totals", "outcomes" ->
            Seq(o("Over", Some(total)), o("Under", Some(total))))))))
      }
      Json.Obj(Seq(
        "id" -> f"${java.lang.Long.toHexString(seed)}%s-$day%03d-$g%02d",
        "commence_time" -> s"${commence.plusDays(g % 4)}T${17 + g % 4}:00:00Z",
        "home_team" -> home, "away_team" -> away, "bookmakers" -> books))
    }
    (Json.encode(games), games.map(_.fields.collectFirst {
      case ("bookmakers", bs: Seq[_]) => bs.size * 6 }.get).sum)
  }

  /** One raw scraped rankings table for `spec`: "Team" with the
    * "(W-L)" suffix the real pages carry, record columns as "W-L[-T]",
    * and numeric cells mixing percents, "+" signs and "--" placeholders
    * so the normalizer's final pass rewrites them. */
  def rankingsTable(seed: Long, day: Int, specIdx: Int, spec: TableSpec): Seq[Seq[String]] = {
    val r = rng(seed, day, 3, specIdx)
    Teams.map { team =>
      val w = r.nextInt(14); val l = r.nextInt(14)
      s"$team ($w-$l)" +: spec.colsToKeep.map { c =>
        if (spec.recordCols.contains(c)) {
          val t = r.nextInt(6)
          if (t == 0) s"${r.nextInt(9)}-${r.nextInt(9)}-1" else s"${r.nextInt(9)}-${r.nextInt(9)}"
        } else r.nextInt(20) match {
          case 0 => "--"
          case 1 | 2 | 3 => f"${r.nextInt(1000) / 10.0}%.1f%%"
          case 4 => f"+${r.nextInt(200) / 10.0}%.1f"
          case _ => f"${r.nextInt(5000) / 100.0}%.2f"
        }
      }
    }
  }

  /** A stored rankings row as the collector leaves it: numeric strings
    * for every wide column (for pre-seeding the store's history). */
  def storedRankings(seed: Long, day: Int, columns: Seq[String]): Seq[Seq[String]] = {
    val r = rng(seed, day, 4)
    Teams.map(team => team +: columns.map(_ => f"${r.nextInt(5000) / 100.0}%.2f"))
  }

  /** Team venue coordinates (lat, lon), fixed per seed. */
  def venues(seed: Long): Seq[(String, Double, Double)] = {
    val r = rng(seed, 5)
    Teams.map(t => (t, 25.0 + r.nextInt(2300) / 100.0, -122.0 + r.nextInt(5000) / 100.0))
  }

  // ---- media ----------------------------------------------------------

  /** One encoded image: `group` is the base picture it re-encodes. */
  final case class Image(id: Long, group: Int, format: String, w: Int, h: Int,
                         bytes: Array[Byte])

  val Formats: Seq[String] = Seq("png", "png-adam7", "jpeg", "jpeg-progressive",
    "gif", "bmp", "tiff-lzw", "tiff-deflate", "tiff-packbits")

  val Lossless: Set[String] = Set("png", "png-adam7", "bmp", "tiff-lzw",
    "tiff-deflate", "tiff-packbits")

  /** A base picture: an 8×8 grid of dark/bright cells (so its 64-bit
    * average hash is far from every threshold) under a seeded gradient
    * and noise texture, so codecs see real entropy. */
  def picture(seed: Long, group: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val r = rng(seed, 6, group)
    val cells = Array.fill(64)(r.nextBoolean())
    val tint = Array.fill(3)(r.nextInt(40))
    val rgb = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val base = if (cells((y * 8 / h) * 8 + x * 8 / w)) 190 else 60
      val grad = (x * 24 / w) - (y * 16 / h)
      def ch(i: Int) = math.max(0, math.min(255, base + grad + tint(i) - 20 + r.nextInt(9) - 4))
      rgb(y * w + x) = (ch(0) << 16) | (ch(1) << 8) | ch(2)
    }
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, rgb, 0, w)
    img
  }

  /** Encode through the JDK's `javax.imageio` writers, so the corpus
    * does not depend on the program's own fixture encoders. */
  def encode(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val (kind, configure): (String, ImageWriteParam => Unit) = format match {
      case "png" => ("png", _ => ())
      case "png-adam7" => ("png", p => p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT))
      case "jpeg" => ("jpeg", p => {
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT); p.setCompressionQuality(0.9f) })
      case "jpeg-progressive" => ("jpeg", p => {
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT); p.setCompressionQuality(0.9f)
        p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT) })
      case "gif" => ("gif", _ => ())
      case "bmp" => ("bmp", _ => ())
      case t if t.startsWith("tiff-") => ("tiff", p => {
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionType(t match {
          case "tiff-lzw" => "LZW"
          case "tiff-deflate" => "Deflate"
          case _ => "PackBits"
        })
      })
    }
    val writer = ImageIO.getImageWritersByFormatName(kind).next()
    val bos = new java.io.ByteArrayOutputStream()
    val out = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(out)
      val param = writer.getDefaultWriteParam
      configure(param)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { out.close(); writer.dispose() }
    bos.toByteArray
  }

  /** The media corpus: `groups` base pictures of spread sizes, each
    * re-encoded in every format of [[Formats]]; the seed sets content. */
  def images(seed: Long, groups: Int): Seq[Image] = {
    (0 until groups).flatMap { g =>
      // sizes follow a fixed schedule (72 to 669 by 72 to 519 pixels), so
      // every seed decodes the same pixel count
      val w = 3 * (24 + (g * 97) % 200); val h = 3 * (24 + (g * 61) % 150)
      val pic = picture(seed, g, w, h)
      Formats.zipWithIndex.map { case (f, i) =>
        Image(g.toLong * Formats.size + i, g, f, w, h, encode(pic, f))
      }
    }
  }

  /** RGB plane of a decoded image as ImageIO sees it (the lossless oracle). */
  def imageIoPlane(bytes: Array[Byte]): Array[Float] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val rgb = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Float](w * h * 3)
    for (k <- rgb.indices) {
      out(3 * k) = ((rgb(k) >> 16) & 0xff).toFloat
      out(3 * k + 1) = ((rgb(k) >> 8) & 0xff).toFloat
      out(3 * k + 2) = (rgb(k) & 0xff).toFloat
    }
    out
  }
}
