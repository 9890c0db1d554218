package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A metric as it is printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one measured phase of a workload produced. Failed operations are
  * counted in `failed` and never appear in `latenciesMs`. `details` are
  * the workload's own end-to-end figures (printed, not on the result
  * line); `layers` are per-layer figures a traced phase gathered.
  */
final case class PhaseResult(
    attempted: Long,
    failed: Long,
    items: Long,
    activeSeconds: Double,
    latenciesMs: Seq[Double],
    details: Map[String, Metric],
    errors: Seq[String],
    layers: Map[String, Metric] = Map.empty)

object Stats {

  /** Linear-interpolated quantile (`q` in [0,1]) of the values. */
  def quantile(values: Seq[Double], q: Double): Double = {
    if (values.isEmpty) return Double.NaN
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

}

object Json {

  /** A JSON number with ten significant digits, formatted without the
    * default locale (a comma decimal separator breaks parsers).
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros().toPlainString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def metrics(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) =>
      s"${str(k)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}"
    }.mkString("{", ",", "}")
}

/** Filesystem helpers for the benchmark's own working directory. */
object Fs {
  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def fresh(p: Path): Path = {
    deleteTree(p.toFile)
    Files.createDirectories(p)
  }

  def listFiles(f: File, suffix: String): Seq[File] =
    if (f.isFile) (if (f.getName.endsWith(suffix)) Seq(f) else Nil)
    else Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(listFiles(_, suffix)))
      .getOrElse(Nil)
}

/** Everything a workload needs to run: where its inputs and scratch
  * files live, how many local cores Spark gets, and the tracer.
  */
final case class Ctx(inputs: Path, work: Path, threads: Int, seed: Long,
    tracer: Tracer, plantFault: Boolean)

/** One seeded workload. */
trait Workload {
  val MinOps = 3

  def name: String

  /** Bumped whenever generated inputs change, so cached inputs are
    * regenerated instead of reused.
    */
  def generatorVersion: Int

  /** Writes the seeded inputs (and what the engine should make of them)
    * under `dir`.
    */
  def generate(dir: Path, seed: Long): Unit

  def sessionConf(ctx: Ctx): Map[String, String] = Map.empty

  /** Untimed-by-the-phase work that belongs to set-up: first contact with
    * every code path the measured phase uses.
    */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit

  /** Runs whole operations until `seconds` have passed and at least
    * [[MinOps]] operations ran (table_churn: blocks of statements), so
    * every run's median rests on several operations.
    */
  def measure(spark: SparkSession, ctx: Ctx, seconds: Double): PhaseResult

  /** Traced-run extras: stage-prefix variants and direct layer calls,
    * given the traced phase's spans (Spark jobs included). Adds
    * per-layer metrics to `out`.
    */
  def layerExtras(spark: SparkSession, ctx: Ctx, spans: Seq[Span],
      out: scala.collection.mutable.Map[String, Metric]): Unit

  /** Single-threaded direct kernel calls over this workload's inputs. */
  def kernelSamples(ctx: Ctx): Seq[String]
}

object Timing {
  /** Repeats `body` until at least `minMs` of work has been timed and
    * returns nanoseconds per call.
    */
  def perCallNs(minMs: Double)(body: => Unit): Double = {
    var calls = 0L
    val t0 = System.nanoTime()
    var el = 0L
    while (el < (minMs * 1e6).toLong || calls < 3) {
      body; calls += 1; el = System.nanoTime() - t0
    }
    el.toDouble / calls
  }

  def timedNs[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }

  /** Wall time of `body` in milliseconds. */
  def ms(body: => Unit): Double = timedNs(body)._2 / 1e6

  /** Noop write: forces every column of every row, like a consumer. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Report {
  /** One human-readable `metric <name> <value> <unit>` line. */
  def line(name: String, m: Metric): String =
    String.format(Locale.ROOT, "metric %-40s %16s %s", name, Json.num(m.value), m.unit)
}

/** Plain tar files through commons-compress, independent of the
  * engine's wds-tar reader and writer.
  */
object Tars {
  import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}

  def write(f: File, members: Seq[(String, Array[Byte])]): Unit = {
    f.getParentFile.mkdirs()
    val out = new TarArchiveOutputStream(new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
    try members.foreach { case (name, bytes) =>
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
    } finally out.close()
  }

  def read(f: File): Seq[(String, Array[Byte])] = {
    val in = new TarArchiveInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .filter(_.isFile).map(e => e.getName -> in.readAllBytes()).toVector
    finally in.close()
  }

  def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
}
