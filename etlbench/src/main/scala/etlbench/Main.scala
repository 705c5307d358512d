package etlbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's main program. It runs one workload in one JVM as a
  * single closed-loop client: set up once, run one cold pass (and, for
  * `olap_mix`, one untimed pass that writes the results the oracle check
  * reads), then repeat passes until `--seconds` have elapsed. Every
  * operation's interval is recorded; outputs the checks need are written
  * to `--out` after the timed window. `run.py` generates the inputs,
  * launches this program, checks the outputs and computes the metrics.
  *
  * Usage: etlbench.Main --workload W --inputs DIR --out DIR --seconds S
  *        --trace 0|1 --cpus N
  */
object Main {
  val json = new ObjectMapper()
  def q(s: String): String = json.writeValueAsString(s)
  def readJson(path: String): JsonNode = json.readTree(new File(path))
  def write(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

  final case class Args(workload: String, inputs: String, out: String, seconds: Double,
      trace: Boolean, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("out"), m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt)
  }

  /** The session every workload runs on: the one the engine's own bench
    * uses (extensions, UTC, replayable hashes, UI off) on `local[cpus]`
    * with as many shuffle partitions as cores. */
  def session(a: Args, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cpus}]").appName("etlbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.replayableHashes", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/spark-warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, from the kernel (`VmHWM`). */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Runs one operation of a pass and records its interval. In a traced
    * window the operation also gets a job group (so the scheduler
    * counters attribute to it) and a top-level span. */
  final class Harness(val spans: Spans) {
    val ops = ArrayBuffer[String]()
    val passes = ArrayBuffer[String]()
    var phase = "cold"
    var pass = 0
    var spark: SparkSession = _

    def op[A](kind: String, name: String)(body: => A): Option[A] = {
      val i = ops.size
      if (spans.enabled) {
        spans.op = i
        spark.sparkContext.setJobGroup(s"op$i", s"$kind $name")
      }
      val t0 = Clock.nowNs()
      val r = try Right(spans(s"op.$kind")(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
      val t1 = Clock.nowNs()
      if (spans.enabled) spark.sparkContext.clearJobGroup()
      val err = r.left.toOption.map(e => s""","err":${q(String.valueOf(e.getMessage).take(500))}""").getOrElse("")
      r.left.foreach(e => System.err.println(s"[etlbench] $kind $name failed: $e"))
      ops += s"""{"i":$i,"pass":$pass,"phase":"$phase","kind":"$kind","name":${q(name)},"t0":$t0,"t1":$t1,"ok":${r.isRight}$err}"""
      r.toOption
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.out).mkdirs()
    val spans = new Spans
    val h = new Harness(spans)
    val w: Workload = a.workload match {
      case "olap_mix" => new OlapMix(a.inputs, a.out, h)
      case "lakehouse_rw" => new LakehouseRw(a.inputs, a.out, h)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up, from the start of this process to the first timed operation:
    // the session and the workload's initial state.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val t0 = Clock.nowNs()
    val spark = session(a, w.conf)
    val t1 = Clock.nowNs()
    w.setup(spark)
    val setup = s"""{"jvm_start":$jvmStart,"t0":$t0,"session_end":$t1,"t1":${Clock.nowNs()}}"""
    h.spark = spark

    // Passes until `seconds` have elapsed and at least `min` passes ran;
    // `before` may set each pass's phase.
    def window(seconds: Double, min: Int = 1)(before: Int => Unit): Unit = {
      val start = System.nanoTime()
      var n = 0
      while ((n < min || (System.nanoTime() - start) / 1e9 < seconds) && w.hasPass(h.pass)) {
        before(n)
        val (t0, c0) = (Clock.nowNs(), Clock.cpuNs())
        w.pass(spark, h.pass)
        val (t1, c1) = (Clock.nowNs(), Clock.cpuNs())
        h.passes += s"""{"pass":${h.pass},"phase":"${h.phase}","t0":$t0,"t1":$t1,"cpu_ns":${c1 - c0}}"""
        h.pass += 1
        n += 1
      }
    }

    // one cold pass: what a fresh process pays after its set-up
    window(0)(_ => h.phase = "cold")
    if (w.verifyPass) window(0)(_ => h.phase = "verify")
    val jobs = new JobRecorder
    val plans = new PlanRecorder
    def tracing(on: Boolean): Unit = if (on != spans.enabled) {
      if (on) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
      } else {
        org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        spark.listenerManager.unregister(plans)
      }
      spans.enabled = on
    }
    if (!a.trace) window(a.seconds, w.minTimedPasses)(_ => h.phase = "timed")
    else {
      // traced and untraced passes alternate, so the difference between
      // them is the tracing overhead at the same point of JIT warm-up
      window(2 * a.seconds, 2) { n =>
        tracing(n % 2 == 1)
        h.phase = if (n % 2 == 1) "traced" else "untraced"
      }
      tracing(false)
    }
    val hwm = vmHwmKb()

    write(s"${a.out}/ops.jsonl", h.ops)
    write(s"${a.out}/passes.jsonl", h.passes)
    write(s"${a.out}/setup.jsonl", Seq(setup))
    if (a.trace) {
      write(s"${a.out}/spans.jsonl", spans.json)
      write(s"${a.out}/jobs.jsonl", jobs.json)
      write(s"${a.out}/plans.jsonl", plans.json)
    }
    val extra = w.finish(spark)
    write(s"${a.out}/summary.json", Seq(
      s"""{"vmhwm_kb":$hwm,"storage_peak_bytes":${jobs.storagePeak}$extra}"""))
    spark.stop()
  }
}

/** One workload: its session settings, initial state and one pass of
  * operations. `finish` writes what the output checks need and returns
  * extra summary fields (a JSON fragment starting with a comma). */
trait Workload {
  def conf: Map[String, String] = Map.empty
  def setup(spark: SparkSession): Unit = ()
  /** Whether one untimed pass after the cold one writes results for the checks. */
  def verifyPass: Boolean = false
  /** Timed passes a run holds however long they take. */
  def minTimedPasses: Int = 1
  def hasPass(p: Int): Boolean = true
  def pass(spark: SparkSession, p: Int): Unit
  def finish(spark: SparkSession): String
}

/** The reference job's edges for `olap_mix`: an in-memory `Fetcher`
  * serving seeded CAIC documents and an in-memory `Submitter` keeping
  * every submitted document. */
final class Caic(inputs: String, h: Main.Harness) {
  import graft.caic.{CaicFixtures, CaicJob, GraftConfig}
  private val docs = Main.readJson(s"$inputs/caic_docs.json").elements().asScala
    .map(n => (n.get("areas").asText(), n.get("products").asText())).toIndexedSeq
  private var current = 0
  private val bodies = ArrayBuffer[String]()
  private val config = GraftConfig(debug = false, GraftConfig.DefaultApi, GraftConfig.DefaultLayer)

  private val fetcher = new CaicJob.Fetcher {
    // the areas URL pushes productType down into its query string
    def fetch(url: String): String = h.spans("caic.fetch") {
      if (url.contains("%2Farea%3F")) docs(current)._1 else docs(current)._2
    }
  }
  private val submitter = new CaicJob.Submitter {
    def submit(body: String): Unit = h.spans("caic.submit") {
      bodies += s"""{"pass":${h.pass},"variant":$current,"body":${Main.q(body)}}"""
    }
  }

  def run(spark: SparkSession): Unit = {
    current = h.pass % docs.size
    h.op("caic", "caic_run") {
      h.spans("caic.runOnce")(CaicJob.runOnce(spark, fetcher, submitter, config))
    }
  }

  def finish(out: String): Unit = {
    Main.write(s"$out/caic_bodies.jsonl", bodies)
    // the engine's pinned q37 fixture and golden output, so the checker
    // can first prove its model on them
    Main.write(s"$out/q37_golden.json", Seq(
      s"""{"areas":${Main.q(CaicFixtures.areasJson)},"products":${Main.q(CaicFixtures.productsJson)},""" +
        s""""oracle_sql":${Main.q(graft.SparkEntry.oracleSql("q37_caic_pipeline"))}}"""))
  }
}

/** `olap_mix`: passes over declared queries and one run of the reference
  * CAIC job, in a seeded order. Each query result goes to a `noop` write
  * with an observed row count, then the harness drains the engine's
  * caches. The untimed verify pass writes each result to parquet
  * instead, for the oracle check. */
final class OlapMix(inputs: String, out: String, h: Main.Harness) extends Workload {
  import org.apache.spark.sql.Observation
  import org.apache.spark.sql.functions.{count, lit}
  private val dir = new File(s"$inputs/olap").getAbsolutePath
  private val order = Main.readJson(s"$inputs/olap_order.json").elements().asScala
    .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq
  private val counts = ArrayBuffer[String]()
  private val verifyDir = s"$out/verify"
  private val caic = new Caic(inputs, h)
  private val queries = order.head.filter(_ != "caic_run")

  override def verifyPass: Boolean = true

  def pass(spark: SparkSession, p: Int): Unit = {
    val verify = h.phase == "verify"
    // INT64 micros so the oracle reads back the exact instants
    if (verify) spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for (name <- order(p % order.size)) if (name == "caic_run") caic.run(spark) else {
      val rows = h.op("query", name) {
        val df = h.spans("query.build")(graft.SparkEntry.queries(name)(spark, dir))
        val n = if (verify) {
          h.spans("query.parquet_write")(df.write.parquet(s"$verifyDir/$name"))
          -1L
        } else {
          val obs = Observation()
          h.spans("query.noop_write") {
            df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
          }
          obs.get("rows").asInstanceOf[Long]
        }
        h.spans("runenv.drain")(graft.Caches.drain())
        n
      }
      rows.filter(_ >= 0).foreach(n => counts += s"""{"pass":$p,"query":"$name","rows":$n}""")
    }
    if (verify) spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  def finish(spark: SparkSession): String = {
    Main.write(s"$out/olap_counts.jsonl", counts)
    caic.finish(out)
    Main.write(s"$verifyDir/oracle_sql.json", Seq(queries.map(n =>
      s"${Main.q(n)}: ${Main.q(graft.SparkEntry.oracleSql(n))}").mkString("{", ",", "}")))
    ""
  }
}

/** `lakehouse_rw`: a seeded sequence of commits, refreshes and reads on
  * one merge-on-read jsondoc table that carries a COUNT(DISTINCT)
  * materialized view and a text index. Statements come from the
  * generator with `{T}` (table), `{P}` (table path) and `{I}` (index
  * root) placeholders. Read results are kept for the model check, and
  * the table's version history is read once at the end. */
final class LakehouseRw(inputs: String, out: String, h: Main.Harness) extends Workload {
  private val spec = Main.readJson(s"$inputs/lake_ops.json")
  private val create = spec.get("create").elements().asScala.map(_.asText()).toSeq
  private val rounds = spec.get("rounds").elements().asScala.map(_.elements().asScala.toIndexedSeq).toIndexedSeq
  private val root = new File(s"$out/lake").getAbsolutePath
  private val path = s"$root/t"
  private def sub(sql: String): String =
    sql.replace("{T}", s"graftcat.`$path`").replace("{P}", path).replace("{I}", s"$root/idx")
  private val results = ArrayBuffer[String]()

  override def conf: Map[String, String] =
    Map("spark.sql.catalog.graftcat" -> classOf[graft.sources.GraftCatalog].getName)

  override def setup(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", s"$root/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    create.foreach(s => spark.sql(sub(s)).collect())
  }

  // a round's time is mostly its two refreshes, one sample each, so the
  // timed window holds at least two rounds
  override def minTimedPasses: Int = 2
  override def hasPass(p: Int): Boolean = p < rounds.size

  def pass(spark: SparkSession, p: Int): Unit =
    for ((o, k) <- rounds(p).zipWithIndex) {
      val kind = o.get("kind").asText()
      val i = h.ops.size
      val rows = h.op(kind, s"r${p}o$k") {
        h.spans(s"lake.$kind") {
          if (kind == "changes") {
            spark.read.format("graft-jsondoc").option("readChanges", "true")
              .option("startingVersion", o.get("start").asText())
              .option("endingVersion", o.get("end").asText())
              .option("path", path).load().collect()
          } else spark.sql(sub(o.get("sql").asText())).collect()
        }
      }
      val body = rows.filter(_ => o.has("check")).map(_.map(_.json).mkString("[", ",", "]")).getOrElse("null")
      results += s"""{"op":$i,"round":$p,"index":$k,"kind":"$kind","rows":$body}"""
    }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length()

  def finish(spark: SparkSession): String = {
    Main.write(s"$out/lake_results.jsonl", results)
    val versions = spark.sql(s"SELECT version FROM graftcat.`$path#history`").collect().map(_.getLong(0))
    s""","lake_versions":${versions.sorted.mkString("[", ",", "]")},""" +
      s""""lake_bytes":{"table":${du(new File(path))},"mv":${du(new File(s"$root/wh"))},""" +
      s""""index":${du(new File(s"$root/idx"))}}"""
  }
}
