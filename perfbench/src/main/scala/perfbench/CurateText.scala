package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, FastText, TextFunctions}
import graft.pipeline._

/** `curate_text`: one LLM-data curation pass per operation, repeated
  * until the run's time is up. Filters (language, Gopher rules, quality)
  * run inside `GraftPipeline.create`; then HTML extraction (HTML pages
  * only), PII redaction and line dedup; exact dedup; MinHash + LSH bands,
  * Jaccard-verified candidate pairs and connected components for
  * near-duplicate removal; re-sharded `wds-tar` write with
  * `maxShardBytes`.
  *
  * The generator plants every property the pass acts on and records each
  * document's fate (kept, or why not), so the written shards are checked
  * against the generator, not against the engine.
  */
object CurateText extends Workload {
  val name = "curate_text"
  val generatorVersion = 1

  val Docs = 500
  val Shards = 6
  val ShingleN = 3
  val Hashes = 60
  val Bands = 20
  val Rows = 3
  val MinJaccard = 0.5
  val MaxShardBytes = 64L * 1024

  // --- inputs ---------------------------------------------------------

  /** A generated document. `fate` is "keep" or the reason it must go;
    * `cluster` groups exact copies ("x<n>") and near duplicates ("n<n>").
    */
  final case class Doc(id: Int, text: String, lang: String, mime: String,
      fate: String, cluster: String)

  private val en = TextFunctions.stopwords.head._2
  private val boiler = "read more about this topic on our site"

  private def vocabulary(rng: scala.util.Random): Vector[String] = {
    val stop = TextFunctions.stopwords.flatMap(_._2).toSet
    Iterator.continually {
      val n = 3 + rng.nextInt(7)
      Iterator.continually(('a' + rng.nextInt(26)).toChar).take(n).mkString
    }.filterNot(stop).distinct.take(5000).toVector
  }

  /** `n` tokens of running text in `stops`' language, split into lines
    * of sentences.
    */
  private def prose(rng: scala.util.Random, vocab: Vector[String],
      stops: Seq[String], n: Int): Vector[String] =
    Vector.tabulate(n) { i =>
      val w = if (rng.nextDouble() < 0.35) stops(rng.nextInt(stops.length))
        else vocab(rng.nextInt(vocab.length))
      if (i % 11 == 10) w + "." else w
    }

  private def lines(toks: Seq[String]): String =
    toks.grouped(16).map(_.mkString(" ")).mkString("\n")

  def generate(dir: Path, seed: Long): Unit = {
    val rng = new scala.util.Random(seed * 7919L + 3)
    val vocab = vocabulary(rng)
    val docs = ArrayBuffer[(String, String, String, String, String)]() // text, lang, mime, fate, cluster
    def keepLen() = 50 + rng.nextInt(30)
    var clusterNo = 0
    var draw = 0
    while (docs.length < Docs) {
      // a low-discrepancy draw: every seed gets the same category mix
      draw += 1
      val u = (draw * 0.6180339887498949) % 1.0
      if (u < 0.50) docs += ((lines(prose(rng, vocab, en, keepLen())), "en", "text/plain", "keep", ""))
      else if (u < 0.58) {
        val body = prose(rng, vocab, en, keepLen()).grouped(16).map(_.mkString(" ")).toSeq
        val html = "<html><head><style>p {color: red}</style></head><body>" +
          "<nav>home about contact</nav>\n<p>" + body.mkString("</p>\n<p>") +
          "</p><script>var x = 1;</script><footer>all rights reserved</footer></body></html>"
        docs += ((html, "en", "text/html", "keep", ""))
      } else if (u < 0.66) {
        val pii = rng.nextInt(3) match {
          case 0 => s"write to user${rng.nextInt(99999)}@mail${rng.nextInt(99)}.example.org"
          case 1 => s"server ${10 + rng.nextInt(200)}.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
          case _ => f"call ${200 + rng.nextInt(700)}-${rng.nextInt(1000)}%03d-${rng.nextInt(10000)}%04d"
        }
        val toks = prose(rng, vocab, en, keepLen())
        val at = rng.nextInt(toks.length)
        docs += ((lines(toks.patch(at, pii.split(" "), 0)), "en", "text/plain", "keep", ""))
      } else if (u < 0.72) {
        val ls = prose(rng, vocab, en, keepLen() - 10).grouped(16).map(_.mkString(" ")).toSeq
        val withBoiler = (ls.head +: boiler +: ls.tail) :+ boiler
        docs += ((withBoiler.mkString("\n"), "en", "text/plain", "keep", ""))
      } else if (u < 0.77) {
        clusterNo += 1
        val text = lines(prose(rng, vocab, en, keepLen()))
        (0 until 2 + rng.nextInt(2)).foreach(_ =>
          docs += ((text, "en", "text/plain", "keep", s"x$clusterNo")))
      } else if (u < 0.85) {
        clusterNo += 1
        val base = prose(rng, vocab, en, keepLen())
        docs += ((lines(base), "en", "text/plain", "keep", s"n$clusterNo"))
        (0 until 1 + rng.nextInt(3)).foreach { _ =>
          // edit three tokens far apart: Jaccard to the base stays >= 0.7
          val third = base.length / 3
          val edited = (0 until 3).foldLeft(base) { (t, k) =>
            t.updated(k * third + rng.nextInt(third), vocab(rng.nextInt(vocab.length)))
          }
          docs += ((lines(edited), "en", "text/plain", "keep", s"n$clusterNo"))
        }
      } else if (u < 0.91) {
        val (lang, stops) = TextFunctions.stopwords(1 + rng.nextInt(3))
        docs += ((lines(prose(rng, vocab, stops, keepLen())), lang, "text/plain", "drop:lang", ""))
      } else if (u < 0.96) {
        docs += ((lines(prose(rng, vocab, en, 120 + (rng.nextDouble() * rng.nextDouble() * 600).toInt)),
          "en", "text/plain", "drop:long", ""))
      } else if (u < 0.985) {
        docs += ((lines(prose(rng, vocab, en, 6 + rng.nextInt(14))), "en", "text/plain", "drop:short", ""))
      } else {
        val junk = Seq.fill(60)(s"#${rng.nextInt(9999)}!").mkString(" ")
        docs += ((junk, "und", "text/plain", "drop:quality", ""))
      }
    }
    // scatter copies across shards: ids follow a seeded permutation
    val placed = rng.shuffle(docs.take(Docs).toVector).zipWithIndex.map {
      case ((text, lang, mime, fate, cluster), id) => Doc(id, text, lang, mime, fate, cluster)
    }
    // exact copies and near duplicates: the smallest id of each cluster stays
    val survivors = placed.filter(_.cluster.nonEmpty).groupBy(_.cluster).values.map(_.map(_.id).min).toSet
    val fated = placed.map { d =>
      if (d.cluster.nonEmpty && !survivors(d.id)) d.copy(fate = s"drop:dup") else d
    }
    fated.groupBy(_.id % Shards).foreach { case (s, ds) =>
      Tars.write(dir.resolve("docs").resolve(f"shard-$s%04d.tar").toFile,
        ds.sortBy(_.id).flatMap { d =>
          val key = keyOf(d.id)
          Seq(s"$key.txt" -> Tars.utf8(d.text), s"$key.json" -> Tars.utf8(
            s"""{"lang":"${d.lang}","mime":"${d.mime}","url":"https://site${d.id % 97}.example.com/p${d.id}"}"""))
        })
    }
    Files.write(dir.resolve("expect.tsv"), fated.map(d => s"${d.id}\t${d.fate}\t${d.cluster}\t${d.mime}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def keyOf(id: Int): String = f"d$id%06d"

  final case class Fate(id: Int, fate: String, cluster: String, mime: String)

  def load(inputs: Path): Seq[Fate] =
    Files.readAllLines(inputs.resolve("expect.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", -1)
      Fate(f(0).toInt, f(1), f(2), f(3))
    }

  // --- the curation pass ----------------------------------------------

  private def docsDir(ctx: Ctx) = ctx.inputs.resolve("docs").toString

  def read(spark: SparkSession, ctx: Ctx): DataFrame = GraftPipeline.create(spark, PipelineConfig(
    urls = Seq(docsDir(ctx)),
    extensions = Seq("txt", "json"),
    postprocessors = Seq(
      FilterStage(OperatorRegistry.filter("lang_filter", Map("lang" -> "en"))),
      FilterStage(OperatorRegistry.filter("gopher_rules_filter")),
      FilterStage(OperatorRegistry.filter("text_quality_filter")))))

  def clean(df: DataFrame): DataFrame = {
    val isHtml = get_json_object(col("json"), "$.mime") === "text/html"
    val extracted = when(isHtml, TextFunctions.htmlExtract(col("txt"))).otherwise(col("txt"))
    df.select(col("__key__"), substring(col("__key__"), 2, 10).cast("long").as("doc_id"),
      TextFunctions.dedupLines(TextFunctions.redactPii(extracted)).as("txt"), col("json"))
  }

  /** Distinct shingles and LSH band buckets of the MinHash signature
    * per document: the engine's fused JVM kernel, the one its own dedup
    * queries use (the column-expression twin in DedupFunctions is
    * interpreted per element and runs ~20x slower).
    */
  def signatures(df: DataFrame): DataFrame =
    df.select(col("doc_id"), FastText.minhashAnalyze(Hashes, ShingleN, Bands, Rows)(col("txt")).as("a"))
      .select(col("doc_id"), col("a.sh").as("sh"), col("a.buckets").as("bands"))

  /** Candidate pairs: documents sharing at least one band bucket. */
  def candidates(sig: DataFrame): DataFrame = {
    val b = sig.select(col("doc_id"), explode(col("bands")).as("bucket"))
    b.as("x").join(b.as("y"), col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  def verified(sig: DataFrame, cand: DataFrame): DataFrame =
    cand.join(sig.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .filter(FastText.jaccardUdf(col("sa"), col("sb")) >= MinJaccard)
      .select("a", "b")

  /** Drops every near duplicate but the smallest id of its component. */
  def nearDedup(df: DataFrame, sig: DataFrame): DataFrame = {
    val comps = DedupFunctions.connectedComponents(verified(sig, candidates(sig)), "a", "b")
    df.join(comps, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id")).drop("label")
  }

  /** The whole pass up to the write. It persists the deduplicated docs
    * and their signatures; release them once the result is written.
    */
  def curated(spark: SparkSession, ctx: Ctx): DataFrame = {
    val tr = ctx.tracer
    val df = tr.span("pipeline.create", "pipeline")(read(spark, ctx))
    val cleaned = tr.span("functions.clean", "functions")(clean(df))
    val exact = tr.span("functions.exact_dedup", "functions")(
      DedupFunctions.exactDedup(cleaned, "txt", "doc_id")).persist()
    val sig = signatures(exact).persist()
    val kept = tr.span("functions.near_dup", "functions")(nearDedup(exact, sig))
    kept.select("__key__", "txt", "json")
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())

  def write(df: DataFrame, out: Path): Unit =
    df.write.format("wds-tar").option("maxShardBytes", MaxShardBytes.toString)
      .mode("overwrite").save(out.toString)

  /** Reads the written shards back (commons-compress, not the engine)
    * and checks them against the generator's fates. Returns errors.
    */
  def check(out: Path, fates: Seq[Fate], plant: Boolean): Seq[String] = {
    val docs = mutable.LinkedHashMap[String, String]()
    val errs = ArrayBuffer[String]()
    Fs.listFiles(out.toFile, ".tar").foreach { f =>
      Tars.read(f).foreach { case (n, b) =>
        if (n.endsWith(".txt")) {
          val k = n.stripSuffix(".txt")
          if (docs.put(k, new String(b, "UTF-8")).isDefined) errs += s"$k written twice"
        }
      }
    }
    if (plant && docs.nonEmpty) docs(keyOf(-1)) = docs.head._2
    val want = fates.filter(_.fate == "keep").map(f => keyOf(f.id)).toSet
    val got = docs.keySet.toSet
    if (got != want) {
      val extra = (got -- want).toSeq.sorted.take(5).map { k =>
        k + ":" + fates.find(f => keyOf(f.id) == k).map(_.fate).getOrElse("?")
      }
      errs += s"kept ${got.size} docs, expected ${want.size}; " +
        s"missing ${(want -- got).toSeq.sorted.take(5).mkString(",")}; extra ${extra.mkString(",")}"
    }
    val byHash = docs.groupBy { case (_, t) => graft.functions.PortableHash.md5HexJvm(t) }
    byHash.values.filter(_.size > 1).take(3).foreach(g => errs += s"same content: ${g.keys.mkString(",")}")
    fates.filter(_.cluster.nonEmpty).groupBy(_.cluster).foreach { case (c, fs) =>
      val n = fs.count(f => docs.contains(keyOf(f.id)))
      if (n != 1) errs += s"cluster $c kept $n docs"
    }
    docs.foreach { case (k, t) =>
      Pii.find(_.findFirstIn(t).isDefined).foreach(p => errs += s"$k still holds PII /$p/")
      if (HtmlLeft.findFirstIn(t).isDefined) errs += s"$k still holds HTML"
      val ls = t.split("\n").filter(_.trim.nonEmpty)
      if (ls.distinct.length != ls.length) errs += s"$k repeats a line"
    }
    errs.toSeq
  }

  private val Pii = Seq("[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+\\.[A-Za-z.]+",
    "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "\\d{3}-\\d{3}-\\d{4}").map(_.r)
  private val HtmlLeft = "(?i)</?(html|p|nav|script|style|footer|body)\\b".r

  private def outDir(ctx: Ctx) = ctx.work.resolve("curated")

  /** One full curation pass, so the first measured job runs warm. */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    write(curated(spark, ctx), Fs.fresh(outDir(ctx)))
    unpersistAll(spark)
  }

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double): PhaseResult = {
    val fates = load(ctx.inputs)
    val tr = ctx.tracer
    var attempted, failed, items = 0L
    var activeNs = 0L
    val lat = ArrayBuffer[Double]()
    val errors = ArrayBuffer[String]()
    var writeNs, bytes, shards = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      attempted += 1
      val out = Fs.fresh(outDir(ctx))
      tr.op("job") {
        try {
          val t0 = System.nanoTime()
          val df = curated(spark, ctx)
          val tw = System.nanoTime()
          tr.span("wdstar.write", "wdstar")(write(df, out))
          val t1 = System.nanoTime()
          unpersistAll(spark)
          val errs = tr.span("check", "bench")(check(out, fates, ctx.plantFault))
          if (errs.isEmpty) {
            lat += (t1 - t0) / 1e6; activeNs += t1 - t0; items += fates.length
            writeNs += t1 - tw
            val files = Fs.listFiles(out.toFile, ".tar")
            bytes += files.map(_.length()).sum; shards += files.length
          } else { failed += 1; errors ++= errs }
        } catch {
          case e: Exception => failed += 1; errors += s"curation job failed: $e"
        }
      }
    } while (System.nanoTime() < deadline || attempted < MinOps)
    val ok = math.max(1L, attempted - failed)
    PhaseResult(attempted, failed, items, activeNs / 1e9, lat.toSeq,
      details = Map(
        "docs_per_s" -> Metric(items / math.max(activeNs / 1e9, 1e-9), "docs/s"),
        "docs_kept" -> Metric(fates.count(_.fate == "keep"), "count")),
      errors = errors.toSeq,
      layers = Map(
        "wdstar.write_call_ms" -> Metric(writeNs / 1e6 / ok, "ms"),
        "wdstar.write_bytes" -> Metric(bytes / ok, "bytes"),
        "wdstar.shards_written" -> Metric(shards / ok, "count")))
  }

  def layerExtras(spark: SparkSession, ctx: Ctx, spans: Seq[Span],
      out: mutable.Map[String, Metric]): Unit = {
    // stage-prefix deltas: read → + clean → + exact dedup → + minhash → + components → + write
    val readMs = Timing.ms(Timing.force(read(spark, ctx)))
    val cleanMs = Timing.ms(Timing.force(clean(read(spark, ctx))))
    val exactMs = Timing.ms(Timing.force(DedupFunctions.exactDedup(clean(read(spark, ctx)), "txt", "doc_id")))
    val minhashMs = Timing.ms(Timing.force(signatures(
      DedupFunctions.exactDedup(clean(read(spark, ctx)), "txt", "doc_id"))))
    val nearMs = Timing.ms { Timing.force(curated(spark, ctx)); unpersistAll(spark) }
    val fullMs = Timing.ms { write(curated(spark, ctx), Fs.fresh(outDir(ctx))); unpersistAll(spark) }
    out("functions.text_clean_ms") = Metric(cleanMs - readMs, "ms")
    out("functions.exact_dedup_ms") = Metric(exactMs - cleanMs, "ms")
    out("functions.minhash_ms") = Metric(minhashMs - exactMs, "ms")
    out("functions.components_ms") = Metric(nearMs - minhashMs, "ms")
    out("wdstar.write_ms") = Metric(fullMs - nearMs, "ms")
    out("pipeline.read_ms") = Metric(readMs, "ms")

    val read0 = read(spark, ctx)
    val nRaw = GraftPipeline.create(spark, PipelineConfig(urls = Seq(docsDir(ctx)),
      extensions = Seq("txt", "json"))).count()
    val nRead = read0.count()
    out("operators.filter.pass_frac") = Metric(nRead.toDouble / math.max(1L, nRaw), "ratio")
    val exact = DedupFunctions.exactDedup(clean(read0), "txt", "doc_id").persist()
    val nExact = exact.count()
    out("functions.exact_dedup.removed_frac") = Metric(1.0 - nExact.toDouble / math.max(1L, nRead), "ratio")
    val sig = signatures(exact).persist()
    val nCand = candidates(sig).count()
    val nVer = verified(sig, candidates(sig)).count()
    out("functions.lsh.candidate_pairs") = Metric(nCand, "count")
    out("functions.lsh.precision") = Metric(nVer.toDouble / math.max(1L, nCand), "ratio")
    unpersistAll(spark)

    // direct single-thread text kernels over the generated documents
    val texts = Fs.listFiles(ctx.inputs.resolve("docs").toFile, ".tar").flatMap(Tars.read)
      .collect { case (n, b) if n.endsWith(".txt") => new String(b, "UTF-8") }
    val html = texts.filter(_.startsWith("<html"))
    def us(in: Seq[String])(f: String => String): Metric =
      Metric(Timing.perCallNs(300)(in.foreach(f)) / math.max(1, in.length) / 1e3, "us")
    out("functions.kernel.html_extract_us") = us(html)(TextFunctions.htmlExtractJvm)
    out("functions.kernel.pii_redact_us") = us(texts)(TextFunctions.redactPiiJvm)
    out("functions.kernel.dedup_lines_us") = us(texts)(TextFunctions.dedupLinesJvm)
  }

  def kernelSamples(ctx: Ctx): Seq[String] = (0 until Docs).map(keyOf)
}
