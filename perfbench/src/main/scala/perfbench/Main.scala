package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** One benchmark run in one JVM: set up a session, run the workload's
  * pass once cold, then timed passes back to back until the timed region
  * has lasted `--seconds` and at least [[MinTimedPasses]] passes ran. The
  * outputs of the last pass are written for the checker; timings go to
  * `--result` as JSON. `run.py` builds this program, makes the inputs and
  * reads the result.
  *
  * Arguments (all `--key value`): workload, data, work, result, seconds,
  * trace (0|1), trace-file, cores, launched (epoch ms of process launch),
  * ops (registry op names, comma-separated), seed-url, max-depth.
  */
object Main {
  /** Three passes give a median that one slow pass cannot move. */
  val MinTimedPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launched = a("launched").toLong
    val work = a("work")
    val cores = a("cores").toInt
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer =
      if (a("trace") == "1") Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val wl = Workload(a("workload"), spark, a, tracer)
    val setupS = (System.currentTimeMillis() - launched) / 1e3

    val runner = new Runner(spark, wl, tracer)
    val cold = runner.pass(0)
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    var p = 1
    while (p <= MinTimedPasses || System.nanoTime() - t0 < budgetNs) { runner.pass(p); p += 1 }
    val timed = runner.passes.filter(_.pass >= 1).toSeq

    wl.dump(s"$work/out")
    val rssMb = peakRssMb()
    val layers = tracer.map(t => Layers.metrics(t, wl, runner, timed)).getOrElse(Map.empty)
    tracer.foreach(t => Layers.writeTrace(t, a("trace-file")))
    val json = Json.obj(
      "setup_s" -> setupS,
      "cold_s" -> cold.wallS,
      "passes" -> runner.passes.map(r => Json.obj("pass" -> r.pass, "wall_s" -> r.wallS,
        "cpu_s" -> r.cpuS, "timed" -> (r.pass >= 1), "ops" -> Json.obj(r.opS.toSeq: _*))),
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "errors" -> runner.errors.toSeq, "peak_rss_mb" -> rssMb,
      "layers" -> Json.obj(layers.toSeq: _*))
    Files.write(Paths.get(a("result")), json.s.getBytes(UTF_8))
    spark.stop()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

final case class PassResult(pass: Int, wallS: Double, cpuS: Double,
    opS: mutable.LinkedHashMap[String, Double], codegenCompiles: Long, codegenNs: Long,
    residentBytes: Long)

/** Runs whole passes, one operation after another, from one thread. */
final class Runner(spark: SparkSession, wl: Workload, tracer: Option[Tracer]) {
  val passes = mutable.ArrayBuffer.empty[PassResult]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted, failed = 0L

  def pass(p: Int): PassResult = {
    val opS = mutable.LinkedHashMap.empty[String, Double]
    var resident = 0L
    // The benchmark's own clean-up (the previous pass's state, and each
    // op's cached blocks) is kept off the pass's wall and CPU clocks.
    wl.beginPass(p)
    var ownWallNs, ownCpuNs = 0L
    val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgNs0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val c0 = Main.cpuNs()
    val w0 = System.nanoTime()
    for (op <- wl.ops) {
      attempted += 1
      val s = System.nanoTime()
      try Tracer.within(tracer, p, "op", op, op)(wl.run(op, p))
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          if (errors.size < 20) errors += s"pass $p $op: ${e.toString.take(300)}"
      }
      val e = System.nanoTime()
      opS(op) = (e - s) / 1e9
      val ec = Main.cpuNs()
      // bytes the op left cached, read before this benchmark's release
      if (tracer.isDefined)
        resident += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      wl.release()
      ownCpuNs += Main.cpuNs() - ec
      ownWallNs += System.nanoTime() - e
    }
    val r = PassResult(p, (System.nanoTime() - w0 - ownWallNs) / 1e9,
      (Main.cpuNs() - c0 - ownCpuNs) / 1e9, opS,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cgNs0,
      resident)
    passes += r
    r
  }
}

/** A workload: the operations of one pass, how each runs, and what of
  * the last pass is written out for the checker. */
trait Workload {
  def ops: Seq[String]
  def beginPass(p: Int): Unit = ()
  def run(op: String, p: Int): Unit
  def dump(outDir: String): Unit
  def spark: SparkSession

  /** Drop everything the op left cached, so no op inherits another's
    * state. Runs after each op, off the pass clocks. */
  def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, a: Map[String, String],
      tracer: Option[Tracer]): Workload = name match {
    case "star-sql" | "similarity" =>
      new RegistryOps(spark, a("data"), a("ops").split(',').toSeq, tracer)
    case "wiki-etl" =>
      new WikiEtl(spark, a("data"), a("work"), a("seed-url"), a("max-depth").toInt, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def writeRows(spark: SparkSession, schema: StructType, rows: Array[Row], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
}

/** Registry ops through `SparkEntry.queries`: build the DataFrame, then
  * collect it, as a client of the analytics would. */
final class RegistryOps(val spark: SparkSession, data: String, val ops: Seq[String],
    tracer: Option[Tracer]) extends Workload {
  private val fns = graft.SparkEntry.queries
  ops.foreach(o => require(fns.contains(o), s"no registry op $o"))
  private val last = mutable.Map.empty[String, (StructType, Array[Row])]

  def run(op: String, p: Int): Unit = {
    last.remove(op) // a failed op leaves no output to check
    val df = Tracer.within(tracer, p, "queries", "build", op)(fns(op)(spark, data))
    // the traced run times planning apart; collect reuses the forced plan
    tracer.foreach(_.span(p, "plan", "plan", op)(df.queryExecution.executedPlan))
    last(op) = (df.schema, Tracer.within(tracer, p, "exec", "execute", op)(df.collect()))
  }

  def dump(outDir: String): Unit = {
    for ((op, (schema, rows)) <- last) Workload.writeRows(spark, schema, rows, s"$outDir/$op")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracle.toSeq: _*).s.getBytes(UTF_8))
  }
}

/** The reference's flow over a generated Wikipedia-shaped corpus:
  * crawl, write pages and ledger, categorize, load into JDBC, convert,
  * mark processed. Each pass works in its own directories and its own
  * in-memory Derby database. */
final class WikiEtl(val spark: SparkSession, data: String, work: String, seedUrl: String,
    maxDepth: Int, tracer: Option[Tracer]) extends Workload {
  import org.apache.spark.sql.functions._
  import graft.wiki._

  val ops = Seq("crawl", "write_html", "categorize", "jdbc", "convert", "mark")
  private val web = spark.read.parquet(s"$data/web.parquet")
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private var p = 0
  private var crawled: DataFrame = _
  private var pages: DataFrame = _
  private var model: Categorize.Model = _
  private var distribution: (StructType, Array[Row]) = _

  private def dir(p: Int, d: String) = s"$work/wiki/pass$p/$d"
  private def db(p: Int) = s"jdbc:derby:memory:perfbench_pass$p"
  private def step[T](name: String)(f: => T): T = Tracer.within(tracer, p, "wiki", name, name)(f)

  // The steps of a pass share the crawl's checkpoints and the page frame,
  // so a pass releases its cached state when the next one begins; the
  // last pass keeps it for `dump`.
  override def release(): Unit = ()

  override def beginPass(pass: Int): Unit = {
    if (pass > 0) {
      super.release()
      dropDb(pass - 1)
    }
    p = pass
  }

  private def dropDb(pass: Int): Unit =
    try java.sql.DriverManager.getConnection(s"${db(pass)};drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by SQLException

  def run(op: String, pass: Int): Unit = op match {
    case "crawl" =>
      crawled = step("crawl_s")(Crawl.crawl(spark, web, seedUrl, maxDepth))
    case "write_html" => step("write_html_s") {
      pages = crawled.join(web, "url")
        .select(col("url"), Urls.filenameFromUrl(col("url")).as("file_name"),
          col("html").as("value"))
        .localCheckpoint()
      Sinks.writeHtmlFiles(pages, dir(p, "html"))
      Sinks.appendLedger(pages.select(col("url"),
        concat(lit(dir(p, "html") + "/"), col("file_name")).as("html_path"),
        lit(null).cast("timestamp").as("last_modified")), dir(p, "ledger"))
    }
    case "categorize" =>
      model = step("categorize_s")(Categorize.run(spark, dir(p, "html")))
      distribution = step("distribution_s") {
        val d = Categorize.categoryDistribution(model)
        (d.schema, d.collect())
      }
    case "jdbc" =>
      step("jdbc_s")(Categorize.saveToJdbc(model, s"${db(p)};create=true", props))
    case "convert" =>
      step("convert_s")(Convert.run(spark, dir(p, "html"), dir(p, "converted")))
    case "mark" =>
      step("mark_s")(Sinks.markProcessed(pages.select("file_name"), dir(p, "html"), dir(p, "done")))
  }

  def dump(outDir: String): Unit = {
    crawled.write.mode("overwrite").parquet(s"$outDir/crawl")
    // the model frames re-read the page files, which `mark` has moved:
    // the model is checked as written to Derby and read back
    for (t <- Seq("pages", "categories", "page_categories"))
      spark.read.jdbc(db(p), t, props).write.mode("overwrite").parquet(s"$outDir/jdbc_$t")
    Workload.writeRows(spark, distribution._1, distribution._2, s"$outDir/distribution")
    Files.write(Paths.get(s"$outDir/wiki_dirs.json"), Json.obj(
      "html" -> dir(p, "html"), "done" -> dir(p, "done"), "ledger" -> dir(p, "ledger"),
      "converted" -> dir(p, "converted")).s.getBytes(UTF_8))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}
