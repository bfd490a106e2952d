package perfbench

import graft.images.{Detection, ImageOps, ImagePipeline, Plots, RunPipeline}
import graft.sources.Sources
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A workload: how to generate its inputs for a seed, and how to drive the
  * program over them once they exist.
  */
trait Workload {
  def name: String
  /** Untraced warm passes per run, at least. A fixed count, so that the
    * median always sits at the same point of the JIT warm-up: a time
    * window would run fewer passes on a slow host and so report passes
    * from earlier in the warm-up, widening the spread between runs.
    */
  def warmPasses: Int
  /** Writes the inputs for a seed; workloads generated outside the JVM
    * (see run.py) leave this empty.
    */
  def generate(dir: Path, seed: Long): Unit
  def open(spark: SparkSession, inputs: Path, seed: Long, out: Path): Live
}

/** A workload bound to a session and an input set. */
trait Live {
  /** Images or queries one pass processes. */
  def items: Long
  /** Bytes of the inputs one pass must read at least once. */
  def corpusBytes: Double
  /** The span a traced pass runs in: the layer the pass calls into. */
  def rootSpan: String
  /** One full pass; spans are recorded only when the tracer is enabled. */
  def pass(t: Tracer): Unit
  /** Latencies of the queries among a pass's SQL executions. */
  def queryLatencies(w: SparkStats.Window): Seq[Double]
  /** Names a traced pass's top-level SQL executions by layer, as child
    * spans of [[rootSpan]]: (span name, start ms, end ms).
    */
  def sqlSpans(w: SparkStats.Window): Seq[(String, Long, Long)]
  /** Untimed: computes what the checks compare against. */
  def prepare(): Unit
  /** Output checks on the passes' outputs. */
  def check(ops: Bench.Ops): Unit
  /** Trace-only per-layer probes outside the pass. */
  def probes(ops: Bench.Ops, stats: SparkStats): Seq[(String, Double, String)]
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(JpegLandmarks, EngineQueries).map(w => w.name -> w).toMap

  val Classes: Seq[Int] = RunPipeline.Config("", null, null, "").classesOfInterest

  /** Median seconds of `n` runs of `f`. */
  def timed(n: Int)(f: => Unit): Double = Bench.median((1 to n).map(_ => Bench.secondsOf(f)))

  def topLevel(w: SparkStats.Window): Seq[SparkStats.Sql] = w.sqls.filter(q => q.topLevel && q.endMs >= 0)
}

// ---- image workloads -------------------------------------------------------

/** `RunPipeline.run` over a seeded JPEG tree with planted near-duplicates;
  * traced runs also time the near-duplicate join over the same files.
  * Sizes are fixed; only content varies with the seed.
  */
object JpegLandmarks extends Workload {
  val name = "jpeg_landmarks"
  val warmPasses = 2
  val Images = 48
  val Dupes = 4
  val Corrupt = 1
  val Landmarks = 60
  def generate(dir: Path, seed: Long): Unit =
    Inputs.jpegLandmarks(dir, seed, Images, Dupes, Corrupt, Landmarks, 640, 480)
  def open(spark: SparkSession, inputs: Path, seed: Long, out: Path): Live =
    new ImageLive(spark, inputs, out)
}

final class ImageLive(spark: SparkSession, inputs: Path, outPath: Path) extends Live {
  import spark.implicits._

  private val imageDir = inputs.resolve("images").toString
  private val out = outPath.toString
  private val truth = Inputs.Truth.read(inputs.resolve("truth.tsv"))
  private val files: Seq[Path] = {
    val s = Files.walk(inputs.resolve("images"))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString) finally s.close()
  }
  private def idOf(p: Path) = p.getFileName.toString.takeWhile(_ != '.')
  private val labels: Map[String, String] = csv(inputs.resolve("labels.csv"))
  private val names: Map[String, String] = csv(inputs.resolve("names.csv"))
  private def csv(p: Path) = Files.readAllLines(p).asScala.drop(1).filter(_.nonEmpty)
    .map { l => val Array(k, v) = l.split(";", 2); k -> v }.toMap

  private val cfg = RunPipeline.Config(imageDir,
    Sources.readSemicolonCsv(spark, inputs.resolve("labels.csv").toString),
    Sources.readSemicolonCsv(spark, inputs.resolve("names.csv").toString),
    out)

  val items: Long = files.size - truth.corrupt.size
  val corpusBytes: Double = files.map(Files.size(_)).sum.toDouble

  private var pairs: Set[(Long, Long)] = Set.empty

  private def dedupInput: DataFrame =
    ImagePipeline.scanImages(spark, imageDir)
      .select(conv(col("id"), 16, 10).cast("long").as("img_id"), col("content"))

  private def findPairs(): Unit =
    pairs = ImagePipeline.imageNearDupPairs(dedupInput).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  val rootSpan = "images.run"

  def pass(t: Tracer): Unit = RunPipeline.run(spark, cfg)

  /** What a top-level SQL execution of `RunPipeline.run` is, from the path
    * it writes: a stage's compute runs inside the checkpoint that
    * materialises it; every execution that writes no file is a stat plan
    * (the golden CSVs are collected, then written by the driver).
    */
  private def layerOf(q: SparkStats.Sql): String = q.writes match {
    case None => "images.stats"
    case Some(p) if p.endsWith("/predictions") => "images.detect_stage"
    case Some(p) if p.endsWith("/rollup") => "images.rollup"
    case Some(p) if p.endsWith("/colors") => "images.colors_stage"
    case Some(p) if p.contains("/results_") => "sources.csv_write"
    case Some(_) => "sources.write"
  }

  def queryLatencies(w: SparkStats.Window): Seq[Double] =
    Workloads.topLevel(w).filter(layerOf(_) == "images.stats").map(q => (q.endMs - q.startMs) / 1e3)

  def sqlSpans(w: SparkStats.Window): Seq[(String, Long, Long)] =
    Workloads.topLevel(w).map(q => (layerOf(q), q.startMs, q.endMs))

  // ---- expectations: direct per-image calls, no Spark ----------------
  private var hist: Map[String, Map[Int, Long]] = Map.empty
  private var undecodable: Set[String] = Set.empty
  private var want: Expect.Stats = _

  private def direct(bytes: Array[Byte]): Option[Map[Int, Long]] =
    ImageOps.decode(bytes).map { img =>
      Detection.classHistogram(Detection.nms(
        new Detection.StubDetector().detect(Detection.letterboxImage(img))))
    }

  def prepare(): Unit = {
    val res = new java.util.concurrent.ConcurrentHashMap[String, Option[Map[Int, Long]]]()
    Inputs.parallel(files.indices) { i =>
      res.put(idOf(files(i)), direct(Files.readAllBytes(files(i))))
    }
    val all = res.asScala.toMap
    hist = all.collect { case (id, Some(h)) => id -> h }
    undecodable = all.collect { case (id, None) => id }.toSet
    want = new Expect.Stats(
      Expect.rollup(hist.iterator.collect { case (id, h) if labels.contains(id) => labels(id) -> h }),
      names)
  }

  private def golden(dir: String, name: String): (String, Seq[(String, Double)]) = {
    val ls = Files.readAllLines(java.nio.file.Paths.get(out, "stats", dir, s"$name.csv")).asScala.toSeq
    (ls.head, ls.tail.filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf(';'); l.take(i) -> l.drop(i + 1).toDouble
    })
  }

  private def sameGolden(got: (String, Seq[(String, Double)]), header: String, want: Expect.Table,
      value: Int): Boolean =
    got._1 == header && Expect.sameTable(got._2.map(r => Seq(r._1, r._2)),
      want.map(r => Seq(r(0), r(value).asInstanceOf[Number].doubleValue)))

  def check(ops: Bench.Ops): Unit = {
    val decodable = hist.size.toLong
    ops.check("decode failures are exactly the planted corrupt files")(undecodable == truth.corrupt)
    ops.check("items = decodable images")(items == decodable)
    ops.run("predictions") {
      val got = spark.read.parquet(s"$out/predictions").as[ImagePipeline.Predictions].collect()
        .map(p => p.id -> p.predictions).toMap
      ops.check("predictions count = decodable images")(got.size == decodable)
      ops.check("per-image histograms = direct decode/letterbox/detect/nms calls")(got == hist)
    }
    ops.run("rollup") {
      val n = spark.read.parquet(s"$out/rollup").agg(sum(col("image_count"))).head().getLong(0)
      ops.check("rollup image_count sums to labelled decodable images")(
        n == hist.keys.count(labels.contains))
    }
    ops.run("colors") {
      val got = spark.read.parquet(s"$out/colors").as[ImagePipeline.Colors].collect()
      ops.check("colors count = decodable images")(got.length == decodable)
      val byId = files.map(f => idOf(f) -> f).toMap
      ops.check("colors = direct averageColor/dominantColor/closestPrimary calls")(
        got.sortBy(_.id).take(24).forall { c =>
          val img = ImageOps.decode(Files.readAllBytes(byId(c.id))).get
          val avg = ImageOps.averageColor(img)
          val dom = ImageOps.dominantColor(img)
          c.averageColor == Seq(avg._1, avg._2, avg._3) &&
          c.dominantColor == Seq(dom._1, dom._2, dom._3) &&
          c.closestPrimary == ImageOps.closestPrimary(dom, ImageOps.Primaries)
        })
    }
    ops.run("golden csv") {
      val primary = golden("closest_primary", "results")
      ops.check("closest_primary: header and 6 rows summing to decodable")(
        primary._1 == "primary_color;count" && primary._2.size == 6 && primary._2.map(_._2).sum == decodable)
      val dominant = golden("dominant_count", "results")
      ops.check("dominant_count: header and counts summing to decodable")(
        dominant._1 == "dominant_color;count" && dominant._2.map(_._2).sum == decodable)
      Workloads.Classes.foreach { cls =>
        val c = cls.toString
        ops.check(s"alphabet_count/$c")(sameGolden(golden("alphabet_count", c), "letter;count", want.alphabet(cls), 1))
        ops.check(s"alphabet_count_avg/$c")(
          sameGolden(golden("alphabet_count_avg", c), "letter;avg_count", want.alphabet(cls), 2))
        ops.check(s"avg_obj_per_city/$c")(
          sameGolden(golden("avg_obj_per_city", c), "city;avg_detections", want.city(cls), 1))
        ops.check(s"dogs_by_name_length/$c")(sameGolden(golden("dogs_by_name_length", c),
          "length_of_landmark_name;avg_detections", want.nameLength(cls), 1))
      }
      val k = Workloads.Classes.head
      ops.check("people_in_places_with_people")(sameGolden(golden("people_in_places_with_people", k.toString),
        "files considered;avg_detections", want.keyword(k), 1))
      ops.check("dashboard html written")(Files.exists(java.nio.file.Paths.get(out, "dash.html")))
    }
  }

  private def recall: Double =
    if (truth.pairs.isEmpty) 1.0 else truth.pairs.count(pairs).toDouble / truth.pairs.size

  def probes(ops: Bench.Ops, stats: SparkStats): Seq[(String, Double, String)] = {
    val scans = (1 to 3).map(_ => stats.window(spark)(
      ImagePipeline.scanImages(spark, imageDir).agg(sum(length(col("content")))).collect())._2)
    val ckpt = Workloads.timed(3)(Sources.checkpoint(
      spark.read.parquet(s"$out/predictions"), s"$out/probe_checkpoint"))
    val plotsS = Workloads.timed(3)(Plots.writeAll(out, Workloads.Classes))
    val neardupS = Workloads.timed(3)(ops.run("near-duplicate join")(findPairs()))
    ops.check("near-duplicate recall = 1.0")(recall == 1.0)
    // single-thread kernels over a fixed sample: warm-up round, then the
    // median per-call time of three rounds
    val sample = files.filter(f => hist.contains(idOf(f))).take(16).map(Files.readAllBytes(_))
    val decoded = sample.map(b => ImageOps.decode(b).get)
    val boxed = decoded.map(i => Detection.letterboxImage(i))
    val det = new Detection.StubDetector()
    val raw = boxed.map(det.detect)
    def ms[T](xs: Seq[T])(f: T => Any): Double = {
      xs.foreach(f)
      Bench.median((1 to 3).map(_ => Bench.secondsOf(xs.foreach(f)) * 1e3 / xs.size))
    }
    val decodeMs = ms(sample)(ImageOps.decode)
    Seq(
      ("sources.scan_s", Bench.median(scans.map(_.wallS)), "s"),
      ("sources.scan_tasks", scans.last.tasks.size.toDouble, "count"),
      ("sources.checkpoint_s", ckpt, "s"),
      ("multimodal.decode_ms", decodeMs, "ms"),
      ("multimodal.decode_mb_per_s", sample.map(_.length).sum / 1e6 / (decodeMs * sample.size / 1e3), "MB/s"),
      ("multimodal.decode_failures", undecodable.size.toDouble, "count"),
      ("images.dominant_color_ms", ms(decoded)(ImageOps.dominantColor(_)), "ms"),
      ("images.letterbox_ms", ms(decoded)(Detection.letterboxImage(_)), "ms"),
      ("images.avg_color_ms", ms(decoded)(ImageOps.averageColor), "ms"),
      ("images.detect_ms", ms(boxed)(det.detect), "ms"),
      ("images.nms_ms", ms(raw)(Detection.nms(_)), "ms"),
      ("images.dhash_ms", ms(decoded)(ImageOps.dHash), "ms"),
      ("images.plots_s", plotsS, "s"),
      ("images.neardup_s", neardupS, "s"),
      ("images.neardup_recall", recall, "ratio"))
  }
}

// ---- engine_queries ----------------------------------------------------------

/** A frozen list of `SparkEntry.registry` queries, at least two from each
  * module group (operators, text, dedup, similarity, sources, streaming),
  * over a seeded star-schema catalog that perfbench/engine.py writes. A
  * pass runs the list once, in order, collecting each result as a client
  * would.
  */
object EngineQueries extends Workload {
  val name = "engine_queries"
  val warmPasses = 2
  /** Chosen for short warm latencies among queries whose oracle reads only
    * the catalog tables (the file-scan sources queries' oracles read
    * fixture trees at fixed paths).
    */
  val Queries: Seq[String] = Seq(
    "q_topk_orders", "q_grouping_sets",
    "q_doc_fingerprint", "q_term_scrub",
    "q_dup_size_hist", "q_simhash",
    "q_label_centroid", "q_pq_codes",
    "q_jsonl_roundtrip", "q_csv_roundtrip",
    "q_stream_warc_ingest", "q_stream_tumbling")
  def generate(dir: Path, seed: Long): Unit = ()
  def open(spark: SparkSession, inputs: Path, seed: Long, out: Path): Live =
    new EngineLive(spark, inputs, out)
}

final class EngineLive(spark: SparkSession, inputs: Path, outPath: Path) extends Live {
  private val dir = inputs.toString
  private val queries: Seq[graft.GraftQuery] = {
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    EngineQueries.Queries.map(byName)
  }
  /** The module a query is registered from (`graft.<module>.…`). */
  private def module(q: graft.GraftQuery): String = q.getClass.getName.split('.')(1)
  private def digest(rows: Array[org.apache.spark.sql.Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  val items: Long = queries.size.toLong
  val corpusBytes: Double = {
    val s = Files.list(inputs)
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum.toDouble
    finally s.close()
  }
  val rootSpan = "bench.pass"

  private val lastPass = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val digests = scala.collection.mutable.Map.empty[String, Set[Int]].withDefaultValue(Set.empty)
  private val lastRows = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]

  /** Cached data some queries leave behind is released after each one, as
    * the engine's Verify and Bench mains do, so no pass reads another's
    * cache.
    */
  def pass(t: Tracer): Unit = {
    lastPass.clear()
    queries.foreach { q =>
      val t0 = System.nanoTime()
      val (df, rows) = t.span(s"${module(q)}.query") {
        val df = q.run(spark, dir)
        (df, df.collect())
      }
      lastPass += (System.nanoTime() - t0) / 1e9
      digests(q.name) += digest(rows)
      lastRows(q.name) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      spark.catalog.clearCache()
    }
  }

  def queryLatencies(w: SparkStats.Window): Seq[Double] = lastPass.toSeq
  def sqlSpans(w: SparkStats.Window): Seq[(String, Long, Long)] = Nil
  def prepare(): Unit = ()

  /** Every pass must return the same rows for a query. The last pass's rows
    * are written, with the query's oracle SQL, for run.py to compare with
    * DuckDB over the same tables.
    */
  def check(ops: Bench.Ops): Unit = {
    val results = outPath.resolve("results")
    queries.foreach { q =>
      ops.check(s"${q.name}: same rows on every pass")(digests(q.name).size == 1)
      ops.run(s"${q.name}: write result") {
        lastRows(q.name).coalesce(1).write.mode("overwrite").parquet(results.resolve(q.name).toString)
      }
    }
    Files.createDirectories(results)
    Files.writeString(results.resolve("oracle.json"), Json.obj(
      queries.flatMap(q => q.oracle.map(sql => q.name -> Json.str(sql)))))
  }

  def probes(ops: Bench.Ops, stats: SparkStats): Seq[(String, Double, String)] = Nil
}
