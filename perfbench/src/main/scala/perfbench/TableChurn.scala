package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.sources.snapshot.SnapshotLog

/** `table_churn`: one closed-loop client runs a seeded script of SQL
  * statements through stock `spark.sql` against one `GraftCatalog` table:
  * small INSERTs, MERGE upserts favouring recent (hot) keys, UPDATEs,
  * DELETEs, point and range SELECTs, `VERSION AS OF` reads, and an
  * OPTIMIZE closing every block of the script. The run executes whole
  * blocks, so every run sees the same statement mix.
  *
  * The benchmark applies the same script to its own in-memory copy of the
  * table in lockstep: every SELECT and the final table contents must
  * match that copy.
  */
object TableChurn extends Workload {
  val name = "table_churn"
  val generatorVersion = 1

  val InitialRows = 2000
  val ScriptBlocks = 100
  override val MinOps = 2
  val Table = "graft.bench.t"

  val CommitKinds = Set("insert", "merge", "update", "delete", "optimize")

  /** One scripted statement. `rows` are (id, v) pairs; `lo`/`hi` an id
    * range; `back` how many versions back a time-travel read goes.
    */
  final case class Stmt(kind: String, rows: Seq[(Long, Long)], lo: Long, hi: Long,
      delta: Long, back: Int) {
    def sql: String = kind match {
      case "insert" =>
        s"INSERT INTO $Table VALUES " + rows.map { case (id, v) => s"($id, $v, 'r$id')" }.mkString(", ")
      case "merge" =>
        s"MERGE INTO $Table AS t USING (SELECT CAST(id AS BIGINT) AS id, " +
          "CAST(v AS BIGINT) AS v, s FROM VALUES " +
          rows.map { case (id, v) => s"($id, $v, 'm$id')" }.mkString(", ") +
          " AS src(id, v, s)) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s " +
          "WHEN NOT MATCHED THEN INSERT *"
      case "update" => s"UPDATE $Table SET v = v + $delta WHERE id BETWEEN $lo AND $hi"
      case "delete" => s"DELETE FROM $Table WHERE id BETWEEN $lo AND $hi"
      case "optimize" => s"OPTIMIZE $Table"
      case "select" => s"SELECT id, v, s FROM $Table WHERE id = $lo"
      case "select_range" => s"SELECT count(*), sum(v) FROM $Table WHERE id BETWEEN $lo AND $hi"
      case "select_asof" => s"SELECT count(*), sum(v) FROM $Table VERSION AS OF %d"
    }
    def encode: String = Seq(kind, rows.map { case (a, b) => s"$a:$b" }.mkString(","),
      lo, hi, delta, back).mkString("\t")
  }

  object Stmt {
    def decode(l: String): Stmt = {
      val f = l.split("\t", -1)
      val rows = if (f(1).isEmpty) Nil else f(1).split(",").toSeq.map { p =>
        val Array(a, b) = p.split(":"); (a.toLong, b.toLong)
      }
      Stmt(f(0), rows, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toInt)
    }
  }

  /** Statement kinds of one block of the script; the seed orders each
    * block (OPTIMIZE always closes it) and picks keys, so every seed runs
    * the same mix.
    */
  val Block: Seq[String] = Seq("insert", "merge", "merge", "update", "delete") ++
    Seq.fill(7)("select") ++ Seq.fill(3)("select_range") ++ Seq.fill(2)("select_asof")

  /** The seeded statement script, `blocks` blocks long. Keys favour the
    * most recent ids.
    */
  def script(seed: Long, blocks: Int, block: Seq[String] = Block): Seq[Seq[Stmt]] = {
    val rng = new scala.util.Random(seed * 31337L + 5)
    var nextId = InitialRows.toLong
    def key(): Long =
      if (rng.nextDouble() < 0.8) math.max(0L, nextId - 1 - rng.nextInt(500))
      else (rng.nextDouble() * nextId).toLong
    Seq.fill(blocks)(rng.shuffle(block).map { kind =>
      kind match {
        case "insert" =>
          val rows = (0 until 4 + rng.nextInt(8)).map(i => (nextId + i, rng.nextInt(1000).toLong))
          nextId += rows.length
          Stmt("insert", rows, 0, 0, 0, 0)
        case "merge" =>
          val ids = Seq.fill(3 + rng.nextInt(6))(if (rng.nextDouble() < 0.7) key() else { nextId += 1; nextId - 1 })
          Stmt("merge", ids.distinct.map(id => (id, rng.nextInt(1000).toLong)), 0, 0, 0, 0)
        case "update" =>
          val lo = key(); Stmt("update", Nil, lo, lo + rng.nextInt(12), 1 + rng.nextInt(9), 0)
        case "delete" =>
          val lo = key(); Stmt("delete", Nil, lo, lo + rng.nextInt(3), 0, 0)
        case "select" => Stmt("select", Nil, key(), 0, 0, 0)
        case "select_range" =>
          val lo = key(); Stmt("select_range", Nil, lo, lo + 100 + rng.nextInt(400), 0, 0)
        case "select_asof" => Stmt("select_asof", Nil, 0, 0, 0, rng.nextInt(30))
      }
    } :+ Stmt("optimize", Nil, 0, 0, 0, 0))
  }

  /** One block per line group, blocks separated by an empty line. */
  def generate(dir: Path, seed: Long): Unit =
    Files.write(dir.resolve("script.tsv"), script(seed, ScriptBlocks)
      .map(_.map(_.encode).mkString("", "\n", "\n")).mkString("\n").getBytes("UTF-8"))

  def load(inputs: Path): Seq[Seq[Stmt]] =
    new String(Files.readAllBytes(inputs.resolve("script.tsv")), "UTF-8").split("\n\n").toSeq
      .map(_.split("\n").toSeq.filter(_.nonEmpty).map(Stmt.decode))

  override def sessionConf(ctx: Ctx): Map[String, String] = Map(
    "spark.sql.catalog.graft" -> "graft.plans.GraftCatalog",
    "spark.sql.catalog.graft.root" -> ctx.work.resolve("catalog").toString)

  private def tableDir(ctx: Ctx) = ctx.work.resolve("catalog").resolve("bench").resolve("t")

  /** The benchmark's own copy of the table: id -> (v, s). */
  final class Model {
    val rows = new java.util.TreeMap[java.lang.Long, (Long, String)]()
    def apply(s: Stmt): Long = s.kind match {
      case "insert" => s.rows.foreach { case (id, v) => rows.put(id, (v, s"r$id")) }; s.rows.length
      case "merge" => s.rows.foreach { case (id, v) => rows.put(id, (v, s"m$id")) }; s.rows.length
      case "update" =>
        val hit = rows.subMap(s.lo, true, s.hi, true).entrySet().asScala.toSeq
        hit.foreach(e => e.setValue((e.getValue._1 + s.delta, e.getValue._2))); hit.length
      case "delete" =>
        val hit = rows.subMap(s.lo, true, s.hi, true).keySet().asScala.toSeq
        hit.foreach(rows.remove); hit.length
      case _ => 0
    }
    def countSum(lo: Long = Long.MinValue, hi: Long = Long.MaxValue): (Long, Option[Long]) = {
      val vs = rows.subMap(lo, true, hi, true).values().asScala.map(_._1)
      (vs.size.toLong, if (vs.isEmpty) None else Some(vs.sum))
    }
  }

  private def rowsOf(r: Row): (Long, Option[Long]) =
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))

  /** Recreates the table with its initial rows (not timed). */
  private def reset(spark: SparkSession, table: String, rows: Int = InitialRows): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${table.split('.').init.mkString(".")}")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('stats.cols' = 'id')")
    spark.sql(s"INSERT INTO $table SELECT id, id * 7 % 1000 AS v, concat('r', id) AS s " +
      s"FROM range(0, $rows)")
  }

  private def initialModel(): Model = {
    val m = new Model
    (0L until InitialRows).foreach(id => m.rows.put(id, (id * 7 % 1000, s"r$id")))
    m
  }

  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val warm = "graft.warm.t"
    reset(spark, warm, 500)
    val v = SnapshotLog.latestVersion(spark, ctx.work.resolve("catalog").resolve("warm").resolve("t").toString).get
    script(ctx.seed + 99, 1, Block.distinct).head.foreach { s =>
      spark.sql(s.sql.replace(Table, warm).replace("%d", v.toString)).collect()
    }
  }

  /** Files the physical plan's file scans read (their `numFiles`). */
  private def filesScanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesScanned(a.executedPlan)
    case q: QueryStageExec => filesScanned(q.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(filesScanned).sum + other.subqueries.map(filesScanned).sum
  }

  def measure(spark: SparkSession, ctx: Ctx, seconds: Double): PhaseResult = {
    val blocks = load(ctx.inputs)
    val tr = ctx.tracer
    val traced = tr.enabled
    val dir = tableDir(ctx)
    reset(spark, Table)
    val model = initialModel()
    // version -> (count, sum(v)) of the model when that version was current
    val history = mutable.LinkedHashMap[Long, (Long, Option[Long])]()
    history(SnapshotLog.latestVersion(spark, dir.toString).get) = model.countSum()

    var attempted, failed = 0L
    var activeNs = 0L
    val lat = ArrayBuffer[Double]()
    val byKind = mutable.Map[String, ArrayBuffer[Double]]()
    val errors = ArrayBuffer[String]()
    var parseNs, planNs, resolveNs = 0L
    var resolves, reads = 0L
    var filesRead = 0L
    val writeAmp = ArrayBuffer[Double]()
    var optimizeNs, optimizeBytes, optimizes = 0L
    var planted = !ctx.plantFault
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // whole blocks until the time is up
    val it = blocks.iterator.zipWithIndex
      .takeWhile { case (_, i) => i < MinOps || System.nanoTime() < deadline }.flatMap(_._1)
    while (it.hasNext) {
      val s = it.next()
      val sql = if (s.kind != "select_asof") s.sql else {
        val vs = history.keys.toIndexedSeq
        s.sql.format(vs(math.max(0, vs.length - 1 - s.back)))
      }
      attempted += 1
      tr.op(s.kind) {
        try {
          if (traced) parseNs += Timing.timedNs(tr.span("sql.parse", "sql")(
            spark.sessionState.sqlParser.parsePlan(sql)))._2
          val before = if (traced && CommitKinds(s.kind)) Fs.dirBytes(dir.toFile) else 0L
          val t0 = System.nanoTime()
          val (result, df) =
            if (CommitKinds(s.kind)) {
              tr.span("sql.execute", "sql")(spark.sql(sql).collect()); (Array.empty[Row], null: DataFrame)
            } else {
              val df = tr.span("sql.analyze", "sql")(spark.sql(sql))
              if (traced) planNs += Timing.timedNs(tr.span("plans.plan", "plans")(df.queryExecution.executedPlan))._2
              (tr.span("sql.collect", "sql")(df.collect()), df)
            }
          val ns = System.nanoTime() - t0
          // the model, in lockstep; reads are checked against it
          val err: String = s.kind match {
            case k if CommitKinds(k) =>
              val changed = model.apply(s)
              val v = tr.span("snapshot.resolve", "snapshot") {
                val t = System.nanoTime()
                val v = SnapshotLog.latestVersion(spark, dir.toString).get
                if (traced) {
                  SnapshotLog.manifest(spark, dir.toString, v)
                  resolveNs += System.nanoTime() - t; resolves += 1
                }
                v
              }
              history(v) = model.countSum()
              if (traced) {
                val added = Fs.dirBytes(dir.toFile) - before
                if (k == "optimize") { optimizeNs += ns; optimizeBytes += added; optimizes += 1 }
                else if (changed > 0) {
                  val m = SnapshotLog.manifest(spark, dir.toString, v)
                  val rowBytes = m.files.map(_.bytes).sum.toDouble / math.max(1L, m.files.map(_.rows).sum)
                  writeAmp += added / (changed * rowBytes)
                }
              }
              null
            case "select" =>
              val want = Option(model.rows.get(s.lo)).map { case (v, str) => (s.lo, v, str) }.toSeq
              val got0 = result.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
              val got = if (!planted) { planted = true; got0 :+ ((-1L, 0L, "")) } else got0
              if (got == want) null else s"$sql returned $got, expected $want"
            case "select_range" =>
              val want = model.countSum(s.lo, s.hi)
              val got = rowsOf(result.head)
              if (got == want) null else s"$sql returned $got, expected $want"
            case "select_asof" =>
              val v = sql.split(" ").last.toLong
              val got = rowsOf(result.head)
              if (history.get(v).contains(got)) null else s"$sql returned $got, expected ${history.get(v)}"
          }
          if (err == null) {
            lat += ns / 1e6; activeNs += ns
            byKind.getOrElseUpdate(s.kind, ArrayBuffer()) += ns / 1e6
            if (traced && df != null) { filesRead += filesScanned(df.queryExecution.executedPlan); reads += 1 }
          } else { failed += 1; errors += err }
        } catch {
          case e: Exception => failed += 1; errors += s"${s.kind} failed: ${e.toString.take(300)}"
        }
      }
    }

    // final table checksum against the model
    attempted += 1
    val all = spark.sql(s"SELECT id, v, s FROM $Table ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val want = model.rows.asScala.toSeq.map { case (id, (v, str)) => (id.longValue, v, str) }
    if (all != want) { failed += 1; errors += s"final table has ${all.length} rows, model ${want.length}" }

    val latest = SnapshotLog.latestVersion(spark, dir.toString).get
    val live = SnapshotLog.manifest(spark, dir.toString, latest).files
    val liveBytes = live.map(_.bytes).sum.toDouble
    val logDir = dir.resolve("_log").toFile
    def pct(k: Seq[Double], q: Double) = Stats.quantile(k, q)
    val commitLat = byKind.filter(kv => CommitKinds(kv._1)).values.flatten.toSeq
    val readLat = byKind.filterNot(kv => CommitKinds(kv._1)).values.flatten.toSeq
    PhaseResult(attempted, failed, lat.length.toLong, activeNs / 1e9, lat.toSeq,
      details = Map(
        "commit_ms.p50" -> Metric(pct(commitLat, 0.5), "ms"),
        "commit_ms.p95" -> Metric(pct(commitLat, 0.95), "ms"),
        "read_ms.p50" -> Metric(pct(readLat, 0.5), "ms"),
        "read_ms.p95" -> Metric(pct(readLat, 0.95), "ms"),
        "commits" -> Metric(commitLat.length, "count"),
        "reads" -> Metric(readLat.length, "count"),
        "space_amp" -> Metric(Fs.dirBytes(dir.toFile) / math.max(liveBytes, 1.0), "ratio")) ++
        byKind.map { case (k, v) => s"stmt_ms.$k.p50" -> Metric(Stats.median(v.toSeq), "ms") },
      errors = errors.toSeq,
      layers = byKind.toSeq.map { case (k, v) => s"sql.stmt_ms.$k.p50" -> Metric(Stats.median(v.toSeq), "ms") }.toMap ++
        Map(
          "sql.parse_ms" -> Metric(parseNs / 1e6 / math.max(1L, attempted), "ms"),
          "plans.plan_ms" -> Metric(planNs / 1e6 / math.max(1L, readLat.length), "ms"),
          "snapshot.resolve_ms" -> Metric(resolveNs / 1e6 / math.max(1L, resolves), "ms"),
          "snapshot.files_scanned_per_read" -> Metric(filesRead.toDouble / math.max(1L, reads), "count"),
          "snapshot.write_amp" -> Metric(Stats.median(writeAmp.toSeq), "ratio"),
          "snapshot.optimize_ms" -> Metric(optimizeNs / 1e6 / math.max(1L, optimizes), "ms"),
          "snapshot.optimize.bytes_rewritten" -> Metric(optimizeBytes.toDouble / math.max(1L, optimizes), "bytes"),
          "snapshot.versions" -> Metric(latest, "count"),
          "snapshot.live_files" -> Metric(live.length, "count"),
          "snapshot.log_bytes" -> Metric(Fs.dirBytes(logDir), "bytes"),
          "snapshot.space_amp" -> Metric(Fs.dirBytes(dir.toFile) / math.max(liveBytes, 1.0), "ratio")))
  }

  def layerExtras(spark: SparkSession, ctx: Ctx, spans: Seq[Span],
      out: mutable.Map[String, Metric]): Unit = ()

  def kernelSamples(ctx: Ctx): Seq[String] =
    load(ctx.inputs).flatten.flatMap(_.rows.map { case (id, _) => s"r$id" })
}
