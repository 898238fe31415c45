package graft.perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Sessions, SparkEntry, Tables}
import graft.gateway.{ArrowCodec, GatewayClient, GatewayServer, JobRuntime}

/** The benchmark harness. `run.py` writes the seeded plan file, starts this
  * main once per run, and checks what it writes to `result.tsv`.
  *
  * Usage: Main --workload W --work DIR --data SF_DIR --plan FILE
  *             --seconds N --trace 0|1
  *
  * Every call into graft goes through its public entry points
  * (`Sessions.local`, `Tables.register`, `SparkEntry.queries`,
  * `JobRuntime` behind `GatewayServer`/`GatewayClient`, `ArrowCodec`).
  * With `--trace 1` each call is wrapped in a span and a benchmark-owned
  * SparkListener counts the execution under it.
  */
object Main {

  /** The seeded plan written by run.py: one tab-separated record a line. */
  final case class Plan(cores: Int, healthMs: Int,
      statements: Vector[(Int, String, String)], warm: Vector[(Int, String, String)],
      corpusWarm: Option[String], corpus: Option[String], queries: Vector[String],
      tables: Vector[String])

  def readPlan(path: String): Plan = {
    val recs = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1).toVector).toVector
    def one(k: String) = recs.collectFirst { case r if r(0) == k => r(1) }
    def stmts(k: String) = recs.collect { case r if r(0) == k => (r(1).toInt, r(2), r(3)) }
    Plan(one("cores").get.toInt, one("health_ms").get.toInt, stmts("S"), stmts("W"),
      one("corpus_warm"), one("corpus"),
      recs.collect { case r if r(0) == "query" => r(1) },
      recs.collect { case r if r(0) == "table" => r(1) })
  }

  /** Result records, one tab-separated line each, flushed at exit. */
  final class Out {
    private val lines = new ConcurrentLinkedQueue[String]()
    def apply(fields: Any*): Unit =
      lines.add(fields.map(f => clean(String.valueOf(f))).mkString("\t"))
    /** The queries' DuckDB oracles, as JSON, for run.py's check. */
    def oracles(work: String, sql: Map[String, String]): Unit = {
      def q(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val tmp = Paths.get(s"$work/oracle_sql.json.tmp")
      Files.writeString(tmp, sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
      Files.move(tmp, Paths.get(s"$work/oracle_sql.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def write(path: String): Unit =
      Files.write(Paths.get(path), (lines.asScala.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
  def clean(s: String): String = s.replaceAll("[\t\r\n]", " ")

  def nowMs: Double = System.nanoTime() / 1e6
  def timed[A](f: => A): (A, Double) = { val t0 = nowMs; val a = f; (a, nowMs - t0) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val work = new File(kv("work")).getAbsolutePath
    val data = new File(kv("data")).getAbsolutePath
    val plan = readPlan(kv("plan"))
    val seconds = kv("seconds").toDouble
    val tracer = new Tracer(kv("trace") == "1")
    val out = new Out

    // run.py computes the expected outputs while this JVM sets up.
    out.oracles(work, SparkEntry.oracleSql.filter { case (k, _) => plan.queries.contains(k) })
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val (spark, startMs) = timed(
      tracer.span("sessions.start", "setup")(_ => Sessions.local(plan.cores.toString)))
    val (_, registerMs) = timed(tracer.span("tables.register", "setup")(_ =>
      Tables.register(spark, data, plan.tables: _*)))
    out("layer", "sessions.start_ms", startMs)
    out("layer", "tables.register_ms", registerMs)

    val healthJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = if (tracer.enabled) {
      val l = new ExecListener(healthJobs); spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val runtime = new JobRuntime(spark)
    val server = new GatewayServer(runtime)
    def client() = new GatewayClient("127.0.0.1", () => server.boundPort)
    val ctx = Ctx(work, spark, tracer, out, listener, plan, seconds, healthJobs,
      () => client(), drain _)

    val code =
      try {
        workload match {
          case "sql_gateway" | "result_stream" => Sql.run(ctx, workload)
          case "corpus_batch" => Corpus.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out("fatal", s"${e.getClass.getName}: ${e.getMessage}")
          1
      }
    out("rss_mb", vmHwmMb())
    if (tracer.enabled) {
      val spans = tracer.all
      val w = new PrintWriter(s"$work/spans.tsv", "UTF-8")
      try spans.foreach(s => w.println(Seq(s.id, s.parent, clean(s.request), s.name,
        f"${s.startNs / 1e6}%.3f", f"${s.endNs / 1e6}%.3f").mkString("\t")))
      finally w.close()
      tracer.layerTable.foreach { case (n, c, total, self) => out("span", n, c, total, self) }
    }
    out.write(s"$work/result.tsv")
    server.close(); runtime.close(); spark.stop()
    System.exit(code)
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(-1.0)

  // --- order-insensitive result digest, mirrored by run.py's canon() ---

  /** Canonical text of one value: integers exactly, every floating or
    * decimal value rounded to 6 significant digits (engines may sum in a
    * different order), nested values recursively. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case x @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte) =>
      x.toString
    case d: java.lang.Double => num(d)
    case f: java.lang.Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN))
      .stripTrailingZeros.toPlainString

  def digest(rows: Seq[Row]): String = {
    val lines = rows.map(r => r.toSeq.map(canon).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Encode then decode `rows` with ArrowCodec as the gateway wire does:
    * (encode ms, decode ms, encoded bytes). */
  def arrowRoundTrip(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Row]): (Double, Double, Long) = {
    val buf = new ByteArrayOutputStream()
    val (_, enc) = timed(ArrowCodec.write(schema, rows.iterator, buf, 4096))
    val bytes = buf.toByteArray
    val (_, dec) = timed(ArrowCodec.read(new ByteArrayInputStream(bytes)))
    (enc, dec, bytes.length.toLong)
  }
}

/** What every workload gets from setup. */
final case class Ctx(work: String, spark: SparkSession, tracer: Tracer, out: Main.Out,
    listener: Option[ExecListener], plan: Main.Plan, seconds: Double,
    healthJobs: java.util.Set[String], client: () => GatewayClient, drain: () => Unit) {

  /** Wait until run.py has its expected outputs (it then writes `go`), and
    * stamp the end of set-up. */
  def ready(): Unit = {
    val go = new File(s"$work/go")
    val t0 = Main.nowMs
    while (!go.exists()) {
      if (Main.nowMs - t0 > 120000) throw new IllegalStateException("run.py never signalled go")
      Thread.sleep(10)
    }
    out("ready", System.currentTimeMillis())
  }
}
