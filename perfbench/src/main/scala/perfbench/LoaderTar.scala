package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SampleMapper
import graft.pipeline._

/** `loader_tar`: the reference's whole job — `create_dataset` +
  * `create_loader` — over seeded image shards. One closed-loop consumer
  * drains `GraftPipeline.loader(df, 64)` epoch after epoch with no
  * simulated training step. An operation is an epoch (its latency runs
  * from `create` until the loader is exhausted, the consumer's checks
  * excluded) or a batch check.
  *
  * Inputs: shards of `jpg` (a solid colour, 8..32 px a side) + `json`
  * (width, height, caption) + `txt`, and an aligned `_info` meta shard
  * (`json` with an aesthetic score) per shard. A share of images is
  * smaller than the size filter's 12 px, and a share of samples lacks
  * its `jpg` or `txt` member. Solid colours survive nearest resize and
  * centre crop unchanged, so every delivered pixel is predictable from
  * the generator alone.
  */
object LoaderTar extends Workload {
  val name = "loader_tar"
  val generatorVersion = 1

  // Small on purpose: the engine's pixel transforms index a linked list
  // per pixel (quadratic in pixel count), so 48 px images already cost
  // ~0.1 s each. The transform stage still dominates an epoch; the
  // traced run shows it as operators.transform_ms.
  val Shards = 2
  val PerShard = 40
  val MinSide = 12
  val MaxSide = 32
  val Crop = 16
  val BatchSize = 64

  // --- inputs ---------------------------------------------------------

  /** One generated sample and its predicted fate. */
  final case class Sample(key: String, shard: Int, w: Int, h: Int,
      rgb: Int, hasJpg: Boolean, hasTxt: Boolean, aesthetic: String) {
    def kept: Boolean = hasJpg && hasTxt && w >= MinSide && h >= MinSide
  }

  private val words = Vector("red", "small", "photo", "of", "a", "cat", "dog",
    "on", "the", "beach", "city", "night", "tree", "river", "old", "car",
    "blue", "sky", "house", "portrait", "street", "flower", "bird", "mountain")

  private def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
    val bos = new ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer")
    bos.toByteArray
  }

  /** The colour every pixel decodes to (JDK decoder), or an error when
    * the decoded image is not uniform.
    */
  private def decodedColour(bytes: Array[Byte]): Int = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    val c = img.getRGB(0, 0) & 0xffffff
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      require((img.getRGB(x, y) & 0xffffff) == c, "generated JPEG is not uniform")
    c
  }

  def generate(dir: Path, seed: Long): Unit = {
    val rng = new scala.util.Random(seed * 1000003L + 17)
    // a fixed mix of sizes and member gaps, dealt out by the seed, so
    // every seed asks for the same amount of work
    val span = MaxSide - 7
    val mix = rng.shuffle((0 until Shards * PerShard).map(i =>
      (8 + (i * 7) % span, 8 + (i * 11 + 3) % span, i % 33 != 0, i % 25 != 1)))
    val expect = new StringBuilder
    for (s <- 0 until Shards) {
      val main = ArrayBuffer[(String, Array[Byte])]()
      val meta = ArrayBuffer[(String, Array[Byte])]()
      for (i <- 0 until PerShard) {
        val key = f"s$s%02d_$i%05d"
        val (w, h, hasJpg, hasTxt) = mix(s * PerShard + i)
        val colour = rng.nextInt(0x1000000)
        val caption = Seq.fill(3 + rng.nextInt(8))(words(rng.nextInt(words.length))).mkString(" ")
        val aesthetic = f"${rng.nextDouble() * 10}%.4f".replace(',', '.')
        val bytes = jpeg(w, h, colour)
        val s0 = Sample(key, s, w, h, decodedColour(bytes), hasJpg, hasTxt, aesthetic)
        if (hasJpg) main += s"$key.jpg" -> bytes
        main += s"$key.json" -> Tars.utf8(
          s"""{"width":$w,"height":$h,"caption":${Json.str(caption)}}""")
        if (hasTxt) main += s"$key.txt" -> Tars.utf8(caption)
        meta += s"$key.json" -> Tars.utf8(s"""{"aesthetic":$aesthetic}""")
        expect ++= s"${s0.key}\t${s0.shard}\t${s0.w}\t${s0.h}\t${s0.rgb}\t${s0.hasJpg}\t${s0.hasTxt}\t${s0.aesthetic}\n"
      }
      Tars.write(dir.resolve("train").resolve(f"shard-$s%04d.tar").toFile, main.toSeq)
      Tars.write(dir.resolve("train_info").resolve(f"shard-$s%04d.tar").toFile, meta.toSeq)
    }
    Files.write(dir.resolve("expect.tsv"), expect.toString.getBytes("UTF-8"))
  }

  def load(inputs: Path): Seq[Sample] =
    Files.readAllLines(inputs.resolve("expect.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t")
      Sample(f(0), f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt,
        f(5).toBoolean, f(6).toBoolean, f(7))
    }

  // --- pipeline -------------------------------------------------------

  /** Lifts width/height out of the raw `json` member for the size
    * filter (preprocessors see undecoded bytes).
    */
  case object JsonSize extends SampleMapper {
    override def transform(df: DataFrame): DataFrame = {
      val js = decode(col("json"), "UTF-8")
      df.withColumn("width", get_json_object(js, "$.width").cast("long"))
        .withColumn("height", get_json_object(js, "$.height").cast("long"))
    }
  }
  OperatorRegistry.registerMapper("perfbench_json_size")(_ => JsonSize)

  private def trainDir(ctx: Ctx) = ctx.inputs.resolve("train").toString

  /** The pipeline, optionally cut after a stage (for the traced run's
    * stage-prefix variants): 1 meta join, 2 filters, 3 decode,
    * 4 transforms, 5 the full pipeline with the sample shuffle.
    */
  def config(ctx: Ctx, upTo: Int = 5): PipelineConfig = PipelineConfig(
    urls = Seq(trainDir(ctx)),
    extensions = Seq("jpg", "json", "txt"),
    metaSuffixes = Seq("info"),
    sampleShuffleSeed = if (upTo >= 5) Some(ctx.seed.toInt) else None,
    preprocessors = if (upTo < 2) Nil else Seq(
      FilterStage(OperatorRegistry.filter("simple_key_filter", Map("keys" -> "jpg,txt"))),
      MapperStage(OperatorRegistry.mapper("perfbench_json_size")),
      FilterStage(OperatorRegistry.filter("simple_size_filter",
        Map("height" -> MinSide.toString, "width" -> MinSide.toString)))),
    decoders = if (upTo < 3) Map.empty
      else Decoders.defaults ++ Map("jpg" -> Decoders.image("torchrgb")),
    postprocessors = if (upTo < 4) Nil else Seq(
      MapperStage(OperatorRegistry.mapper("image_transforms", Map(
        "resize" -> Crop.toString, "center_crop" -> Crop.toString, "layout" -> "chw")))))

  /** Checks one delivered row against the generator's prediction;
    * returns an error or null.
    */
  private def checkRow(r: Row, expected: Map[String, Sample], seen: mutable.Set[String]): String = {
    val key = r.getAs[String]("__key__")
    val s = expected.get(key).orNull
    if (s == null || !s.kept) return s"unexpected sample $key"
    if (!seen.add(key)) return s"sample $key delivered twice"
    if (r.getAs[String]("txt") == null) return s"$key: txt missing"
    val info = r.getAs[String]("json_info")
    if (info == null || !info.contains(s.aesthetic)) return s"$key: meta join gave $info"
    val img = r.getAs[Row]("jpg")
    if (img == null) return s"$key: image did not decode"
    if (img.getInt(0) != Crop || img.getInt(1) != Crop || img.getInt(2) != 3)
      return s"$key: decoded ${img.getInt(0)}x${img.getInt(1)}x${img.getInt(2)}"
    val px = img.getSeq[Float](3)
    val plane = Crop * Crop
    if (px.length != 3 * plane) return s"$key: ${px.length} pixel values"
    val want = Array((s.rgb >> 16) & 0xff, (s.rgb >> 8) & 0xff, s.rgb & 0xff).map(_ / 255.0f)
    var i = 0
    val it = px.iterator
    while (it.hasNext) {
      if (it.next() != want(i / plane)) return s"$key: pixel $i differs"
      i += 1
    }
    null
  }

  /** One full epoch, so the first measured epoch runs warm. */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit =
    GraftPipeline.loader(GraftPipeline.create(spark, config(ctx)), BatchSize).foreach(_ => ())

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double): PhaseResult = {
    val samples = load(ctx.inputs)
    val expected = samples.map(s => s.key -> s).toMap
    val keptKeys = samples.filter(_.kept).map(_.key).toSet
    val tr = ctx.tracer
    var attempted, failed, items = 0L
    var activeNs = 0L
    val lat = ArrayBuffer[Double]()
    val firstBatch = ArrayBuffer[Double]()
    val errors = ArrayBuffer[String]()
    var createNs, waitNs, batches, epochs = 0L
    var planted = !ctx.plantFault
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var ran = 0
    do {
      ran += 1
      attempted += 1 // the epoch itself
      tr.op("epoch") {
        try {
          val seen = mutable.HashSet[String]()
          var epochOk = true
          val t0 = System.nanoTime()
          val df = tr.span("pipeline.create", "pipeline")(GraftPipeline.create(spark, config(ctx)))
          val t1 = System.nanoTime()
          createNs += t1 - t0
          val it = tr.span("pipeline.loader", "pipeline")(GraftPipeline.loader(df, BatchSize))
          var last = t0
          var epochWait = 0L
          var done = false
          while (!done) {
            val b = tr.span("pipeline.loader.next", "pipeline")(if (it.hasNext) it.next() else null)
            val now = System.nanoTime()
            epochWait += now - last
            if (b == null) done = true
            else {
              attempted += 1
              if (last == t0) firstBatch += (now - t0) / 1e6
              val rows = if (!planted) { planted = true; b.drop(1) } else b
              val err = tr.span("check", "bench") {
                rows.iterator.map(checkRow(_, expected, seen)).find(_ != null).orNull
              }
              if (err != null) { failed += 1; epochOk = false; errors += err }
              items += b.length
              batches += 1
              last = System.nanoTime()
            }
          }
          if (seen != keptKeys) {
            epochOk = false
            errors += s"epoch delivered ${seen.size} samples, expected ${keptKeys.size}" +
              s" (${(keptKeys -- seen).size} missing)"
          }
          if (epochOk) {
            activeNs += epochWait; waitNs += epochWait; lat += epochWait / 1e6
          } else failed += 1
          epochs += 1
        } catch {
          case e: Exception => failed += 1; errors += s"epoch failed: $e"
        }
      }
    } while (System.nanoTime() < deadline || ran < MinOps)
    PhaseResult(attempted, failed, items, activeNs / 1e9, lat.toSeq,
      details = Map(
        "samples_per_s" -> Metric(items / math.max(activeNs / 1e9, 1e-9), "samples/s"),
        "first_batch_s" -> Metric(Stats.median(firstBatch.toSeq) / 1e3, "s"),
        "epochs" -> Metric(epochs, "count")),
      errors = errors.toSeq,
      layers = Map(
        "pipeline.create_ms" -> Metric(createNs / 1e6 / math.max(1, epochs), "ms"),
        "pipeline.loader.wait_ms" -> Metric(waitNs / 1e6, "ms"),
        "pipeline.loader.batches" -> Metric(batches, "count"),
        "pipeline.loader.first_batch_ms" -> Metric(Stats.median(firstBatch.toSeq), "ms")))
  }


  def layerExtras(spark: SparkSession, ctx: Ctx, spans: Seq[Span],
      out: mutable.Map[String, Metric]): Unit = {
    val url = trainDir(ctx)
    // jobs the loader's iteration started
    val loaderSpans = spans.filter(_.name.startsWith("pipeline.loader")).map(_.id).toSet
    out("pipeline.loader.jobs") = Metric(
      spans.count(s => s.layer == "spark" && loaderSpans(s.parent)), "count")

    // sources: direct listing calls with the workload's urls
    var shards: Seq[String] = Nil
    val listNs = (1 to 5).map { _ =>
      Timing.timedNs {
        shards = graft.sources.ShardListing.listShards(spark, Seq(url))
        graft.sources.ShardListing.resolveMetaShards(spark, shards, "info")
      }._2
    }
    out("sources.list_ms") = Metric(Stats.median(listNs.map(_ / 1e6)), "ms")
    out("sources.shards_listed") = Metric(shards.length, "count")

    // wdstar: bare scan of the same shards
    def scan = spark.read.format("wds-tar").option("shards", shards.mkString(","))
      .option("extensions", "jpg,json,txt").load()
    val scanMs = Timing.ms(Timing.force(scan))
    out("wdstar.scan_ms") = Metric(scanMs, "ms")
    out("wdstar.scan_bytes") = Metric(shards.map(s => new File(new java.net.URI(s)).length()).sum, "bytes")
    out("wdstar.samples_read") = Metric(scan.count(), "count")

    // stage-prefix deltas: + meta join, + filters, + decode, + transforms, + shuffle
    val prefix = (1 to 5).map(k => Timing.ms(Timing.force(GraftPipeline.create(spark, config(ctx, k)))))
    out("wdstar.meta_join_ms") = Metric(prefix(0) - scanMs, "ms")
    out("operators.filter_ms") = Metric(prefix(1) - prefix(0), "ms")
    out("pipeline.decode_ms") = Metric(prefix(2) - prefix(1), "ms")
    out("operators.transform_ms") = Metric(prefix(3) - prefix(2), "ms")
    out("pipeline.shuffle_ms") = Metric(prefix(4) - prefix(3), "ms")
    val read = GraftPipeline.create(spark, config(ctx, 1)).count()
    val kept = GraftPipeline.create(spark, config(ctx, 2)).count()
    out("operators.filter.pass_frac") = Metric(kept.toDouble / math.max(1L, read), "ratio")

    // functions: direct single-thread image decode over generated bytes
    val jpgs = Tars.read(new File(new java.net.URI(shards.head)))
      .collect { case (n, b) if n.endsWith(".jpg") => b }
    out("functions.kernel.image_decode_us") = Metric(
      Timing.perCallNs(300)(jpgs.foreach(graft.functions.ImageCodec.decodeAs("torchrgb", _))) /
        jpgs.length / 1e3, "us")
  }

  def kernelSamples(ctx: Ctx): Seq[String] = load(ctx.inputs).map(_.key)
}
