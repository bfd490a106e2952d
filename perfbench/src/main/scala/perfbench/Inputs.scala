package perfbench

import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import scala.jdk.CollectionConverters._

/** Seeded input generators. Everything here is a pure function of the seed
  * and the sizes below; the program only ever sees the files written.
  * Ground truth the checks need (corrupt files, planted duplicate pairs)
  * goes to `truth.tsv`, beside the program's inputs.
  */
object Inputs {
  /** Landmark names carry the features the stat plans group on: first
    * letter, the six reference cities, the keyword "people", and the
    * three name-length bands (<10, 10..20, >20 characters).
    */
  private val Words = Seq("Abbey", "Bridge", "Castle", "Dome", "Embassy",
    "Fort", "Gate", "Harbor", "Island", "Jetty", "Keep", "Lighthouse",
    "Market", "Needle", "Obelisk", "Palace", "Quay", "Rotunda", "Spire",
    "Tower", "Usher Hall", "Viaduct", "Wharf", "Xanadu", "Yard", "Zoo")
  private val Places = graft.images.StatsPipeline.Cities ++ Seq("Lyon", "Oslo", "Kyoto")

  def landmarkName(seed: Long, l: Int): String = {
    val r = new SplittableRandom(seed * 7919L + l)
    val w = Words(r.nextInt(Words.size))
    r.nextInt(6) match {
      case 0 => f"$w%s $l%d"                                   // short
      case 1 => s"$w of ${Places(r.nextInt(Places.size))}"    // city, 10..20
      case 2 => s"${Places(r.nextInt(Places.size))} $w"
      case 3 => s"$w of the People ${l % 97}"                 // keyword
      case 4 => s"Old $w of ${Places(r.nextInt(Places.size))} by the river"
      case _ => s"${Words(r.nextInt(Words.size))} $w"
    }
  }

  /** Per-input-set ground truth, written beside the program's inputs. */
  final case class Truth(corrupt: Set[String], pairs: Set[(Long, Long)]) {
    def write(p: Path): Unit = Files.writeString(p,
      (corrupt.toSeq.sorted.map(id => s"corrupt\t$id") ++
        pairs.toSeq.sorted.map { case (a, b) => s"pair\t$a\t$b" }).mkString("", "\n", "\n"))
  }

  object Truth {
    def read(p: Path): Truth = {
      val rows = Files.readAllLines(p).asScala.filter(_.nonEmpty).map(_.split("\t").toSeq)
      Truth(rows.collect { case Seq("corrupt", id) => id }.toSet,
        rows.collect { case Seq("pair", a, b) => (a.toLong, b.toLong) }.toSet)
    }
  }

  // ---- images ------------------------------------------------------------

  /** A photo-like frame: two-colour gradient, random filled shapes, and
    * per-pixel noise of +-20 (the noise sets the JPEG size, ~80 KB at
    * 640x480).
    */
  def photo(r: SplittableRandom, w: Int, h: Int): Array[Int] = {
    val noise = 20
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    def color() = new java.awt.Color(r.nextInt(256), r.nextInt(256), r.nextInt(256))
    g.setPaint(new java.awt.GradientPaint(0, 0, color(), w.toFloat, h.toFloat, color()))
    g.fillRect(0, 0, w, h)
    (0 until 6 + r.nextInt(7)).foreach { _ =>
      g.setColor(color())
      val x = r.nextInt(w); val y = r.nextInt(h)
      val sw = 1 + r.nextInt(w / 2); val sh = 1 + r.nextInt(h / 2)
      if (r.nextBoolean()) g.fillOval(x - sw / 2, y - sh / 2, sw, sh)
      else g.fillRect(x - sw / 2, y - sh / 2, sw, sh)
    }
    g.dispose()
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) {
      val p = px(i)
      def ch(s: Int) = math.max(0, math.min(255, ((p >> s) & 0xFF) + r.nextInt(2 * noise + 1) - noise))
      px(i) = (ch(16) << 16) | (ch(8) << 8) | ch(0)
      i += 1
    }
    px
  }

  def encodeJpeg(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new java.io.ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.85f)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    out.toByteArray
  }

  /** Random bytes behind a prefix no image format claims: undecodable by
    * construction (a truncated JPEG would still decode).
    */
  def junk(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    r.nextBytes(b)
    "JUNK".getBytes("US-ASCII").copyToArray(b)
    b
  }

  /** dHash-64 over the generator's own pixels, written independently of
    * the program's: 9x8 box-filter means, BT.601 integer luma, bit set iff
    * a cell is brighter than its right neighbour.
    */
  def dHash(px: Array[Int], w: Int, h: Int): Long = {
    val gray = Array.ofDim[Int](8, 9)
    for (ty <- 0 until 8; tx <- 0 until 9) {
      val y0 = ty * h / 8; val y1 = math.max((ty + 1) * h / 8, y0 + 1)
      val x0 = tx * w / 9; val x1 = math.max((tx + 1) * w / 9, x0 + 1)
      var r = 0L; var g = 0L; var b = 0L
      for (y <- y0 until y1; x <- x0 until x1) {
        val p = px(y * w + x); r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
      }
      val n = (y1 - y0) * (x1 - x0)
      gray(ty)(tx) = (77 * (r / n).toInt + 150 * (g / n).toInt + 29 * (b / n).toInt) >> 8
    }
    var hsh = 0L
    for (y <- 0 until 8; x <- 0 until 8) hsh = (hsh << 1) | (if (gray(y)(x) > gray(y)(x + 1)) 1L else 0L)
    hsh
  }

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def writeLabels(dir: Path, seed: Long, ids: Seq[String], landmarks: Int,
      unlabelled: Set[String]): Unit = {
    Files.writeString(dir.resolve("labels.csv"),
      ids.filterNot(unlabelled).map { id =>
        s"$id;${new SplittableRandom(seed ^ id.hashCode.toLong).nextInt(landmarks)}"
      }.mkString("id;landmark_id\n", "\n", "\n"))
    Files.writeString(dir.resolve("names.csv"),
      (0 until landmarks).map(l => s"$l;${landmarkName(seed, l)}")
        .mkString("landmark_id;name\n", "\n", "\n"))
  }

  /** `jpeg_landmarks`: a 4-level sharded tree (`images/a/b/c/<id>.jpg`, the
    * reference's layout) of photo-like baseline JPEGs. The last `dupes`
    * images copy an earlier one: even ones byte for byte, odd ones with one
    * pixel edited before encoding (kept only while both files, decoded by
    * ImageIO, stay within two bits of perceptual hash, so every planted
    * pair is findable at Hamming <= 3). `corrupt` random-byte files follow
    * under the same extension.
    */
  def jpegLandmarks(dir: Path, seed: Long, n: Int, dupes: Int, corrupt: Int,
      landmarks: Int, w: Int, h: Int): Unit = {
    val r = new SplittableRandom(seed)
    val ids = (0 until n + corrupt).map(_ => f"${r.nextLong() >>> 4}%015x")
    val src = (n - dupes until n).map(i => i -> r.nextInt(n - dupes)).toMap
    val bad = ids.drop(n).toSet
    val unl = ids.take(n).filter(_ => r.nextInt(50) == 0).toSet
    def pixels(i: Int) = photo(new SplittableRandom(seed * 1000003L + i), w, h)
    def hashOf(jpeg: Array[Byte]) = {
      val img = ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      dHash(img.getRGB(0, 0, w, h, null, 0, w), w, h)
    }
    parallel(ids.indices) { i =>
      val rr = new SplittableRandom(seed * 7777777L + i)
      val bytes =
        if (i >= n) junk(rr, 40000 + rr.nextInt(40000))
        else src.get(i) match {
          case None => encodeJpeg(pixels(i), w, h)
          case Some(s) =>
            val orig = encodeJpeg(pixels(s), w, h)
            if (i % 2 == 0) orig
            else {
              val px = pixels(s)
              px(rr.nextInt(px.length)) ^= 0x030303
              val edited = encodeJpeg(px, w, h)
              if (java.lang.Long.bitCount(hashOf(orig) ^ hashOf(edited)) <= 2) edited else orig
            }
        }
      val id = ids(i)
      write(dir.resolve(s"images/${id(0)}/${id(1)}/${id(2)}/$id.jpg"), bytes)
    }
    writeLabels(dir, seed, ids, landmarks, unl)
    val num = ids.map(java.lang.Long.parseLong(_, 16))
    Truth(bad, src.map { case (i, s) => (math.min(num(i), num(s)), math.max(num(i), num(s))) }.toSet)
      .write(dir.resolve("truth.tsv"))
  }

  /** Runs `f` over `range` on a small fixed pool, failing on the first error. */
  def parallel(range: Range)(f: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Bench.Cores)
    try {
      val futures = range.map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      futures.foreach(_.get())
    } finally pool.shutdownNow()
  }
}
