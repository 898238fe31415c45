package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.{SparkEntry, Tables}
import graft.gateway.GatewayClient
import Main.{median, nowMs, timed}

/** Open-loop `SELECT 1` health probe through the gateway. Probe k is due
  * at t0 + k·period; a generator thread hands it at its due time to a pool
  * of `conns` workers, each with its own gateway connection, and the probe
  * is timed from its due time, so a stall is charged to every probe it
  * delays. `late` is how far behind its schedule the generator ran. */
final class HealthProbe(ctx: Ctx, conns: Int) {
  import HealthProbe.Sample
  private val clients = new java.util.concurrent.LinkedBlockingQueue[GatewayClient]()
  (0 until conns).foreach(_ => clients.add(ctx.client()))
  private val workers = java.util.concurrent.Executors.newFixedThreadPool(conns)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  @volatile private var stopAt = Double.MaxValue
  private var generator: Thread = _

  private def probe(req: String, due: Double, late: Double): Sample = {
    val c = clients.take()
    try ctx.tracer.span("health", req) { root =>
      val ((job, parts), submitMs) = timed(ctx.tracer.span("health.submit", req, root)(_ =>
        c.submit("SELECT 1")))
      ctx.healthJobs.add(job)
      val (rows, fetchMs) = timed(ctx.tracer.span("health.fetch", req, root)(_ =>
        (0 until parts).flatMap(c.fetchPartitionArrow(job, _))))
      val ok = rows.size == 1 && rows.head.get(0) == 1
      Sample(nowMs - due, late, ok, submitMs, fetchMs)
    } catch { case NonFatal(_) => Sample(nowMs - due, late, false, 0, 0) }
    finally clients.add(c)
  }

  /** Untimed probes on every connection, so timed ones pay no set-up. */
  def warm(): Unit = (0 until 2 * conns).foreach(i => probe(s"health-warm-$i", nowMs, 0))

  /** Send probes due from `t0` until `until` or [[stop]], whichever is
    * first, and never fewer than [[HealthProbe.MIN_PROBES]]. */
  def start(t0: Double, until: Double = Double.MaxValue): Unit = {
    stopAt = until
    val period = ctx.plan.healthMs.toDouble
    generator = new Thread(() => {
      var k = 0
      var due = t0
      while (due < stopAt || k < HealthProbe.MIN_PROBES) {
        val wait = due - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val (kk, d, late) = (k, due, nowMs - due)
        workers.submit(new Runnable {
          def run(): Unit = samples.add(probe(s"health-$kk", d, late))
        })
        k += 1
        due = t0 + k * period
      }
    }, "perfbench-health")
    generator.start()
  }

  /** Stop issuing probes, let those in flight finish, record them all. */
  def stop(): Unit = {
    stopAt = math.min(stopAt, nowMs)
    generator.join()
    workers.shutdown()
    workers.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    clients.asScala.foreach(_.close())
    val ss = samples.asScala.toSeq
    ss.foreach(s => ctx.out("health", s.latMs, s.lateMs, if (s.ok) 1 else 0))
    if (ctx.tracer.enabled) {
      ctx.out("layer", "health.submit_ms", median(ss.map(_.submitMs)))
      ctx.out("layer", "health.fetch_ms", median(ss.map(_.fetchMs)))
      ctx.out("layer", "health.late_ms", median(ss.map(_.lateMs)))
    }
  }
}

object HealthProbe {
  /** The samples a p90 needs: ten beyond it. */
  val MIN_PROBES = 100
  final case class Sample(latMs: Double, lateMs: Double, ok: Boolean,
      submitMs: Double, fetchMs: Double)
}

/** Load counters of the listener, read after the bus has drained. */
object Exec {
  def snap(ctx: Ctx): Map[String, Long] = ctx.listener match {
    case Some(l) => ctx.drain(); l.load.snapshot
    case None => Map.empty
  }
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** The exec.* per-layer metrics for `d` spread over `per` operations,
    * with `execMs` the wall the work executed in. */
  def report(ctx: Ctx, d: Map[String, Long], per: Double, execMs: Double,
      busyWallMs: Double): Unit = {
    val o = ctx.out
    val mb = 1024.0 * 1024.0
    o("layer", "exec.ms", execMs)
    o("layer", "exec.jobs", d("jobs") / per)
    o("layer", "exec.stages", d("stages") / per)
    o("layer", "exec.tasks", d("tasks") / per)
    o("layer", "exec.task_run_ms", d("run_ms") / per)
    o("layer", "exec.task_cpu_ms", d("cpu_ns") / 1e6 / per)
    o("layer", "exec.shuffle_read_mb", d("shuffle_read") / mb / per)
    o("layer", "exec.shuffle_write_mb", d("shuffle_write") / mb / per)
    o("layer", "exec.spill_mb", d("spill") / mb / per)
    o("layer", "exec.gc_ms", d("gc_ms") / per)
    o("layer", "exec.core_busy",
      if (busyWallMs > 0) d("run_ms") / (busyWallMs * ctx.plan.cores) else 0.0)
  }
}

/** `sql_gateway` and `result_stream`: closed-loop clients, each on its own
  * gateway connection, pulling the next statement of the seeded sequence
  * until the time is up. The sequence comes in blocks (one statement of
  * each shape); a block begun before the deadline is finished, so every
  * run executes whole blocks and the same statement mix. A statement is
  * submitted, then every ticket is drained over `fetch_arrow`; its latency
  * runs from submit to the last decoded row. */
object Sql {
  final case class Op(sid: String, latMs: Double, rows: Vector[Row], err: Option[String],
      job: String, tickets: Int, submitMs: Double, fetchMs: Double)

  /** The seeded statement sequence, handed out whole block by whole block. */
  final class Sequence(stmts: Vector[(Int, String, String)], deadline: Double) {
    private var i = 0
    def next(): Option[(String, String)] = synchronized {
      val blockStart = i == 0 || (i < stmts.size && stmts(i)._1 != stmts(i - 1)._1)
      if (i >= stmts.size || (blockStart && nowMs >= deadline)) None
      else { val (_, sid, sql) = stmts(i); i += 1; Some((sid, sql)) }
    }
  }

  def execute(ctx: Ctx, c: GatewayClient, sid: String, sql: String, req: String): Op = {
    val start = nowMs
    try ctx.tracer.span("statement", req) { root =>
      val ((job, parts), submitMs) = timed(ctx.tracer.span("gateway.submit", req, root)(_ =>
        c.submit(sql)))
      val (rows, fetchMs) = timed(ctx.tracer.span("gateway.fetch", req, root)(_ =>
        (0 until parts).iterator.flatMap(c.fetchPartitionArrow(job, _)).toVector))
      Op(sid, nowMs - start, rows, None, job, parts, submitMs, fetchMs)
    } catch {
      case NonFatal(e) => Op(sid, nowMs - start, Vector.empty,
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), "", 0, 0, 0)
    }
  }

  private def parallel[A](ids: Seq[Int])(f: Int => A): Seq[A] = {
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, A]]()
    val ts = ids.map(i => new Thread(() => {
      results.put(i, try Right(f(i)) catch { case e: Throwable => Left(e) })
    }, s"perfbench-client-$i"))
    ts.foreach(_.start()); ts.foreach(_.join())
    ids.map(i => results.get(i).fold(e => throw e, identity))
  }

  def run(ctx: Ctx, workload: String): Unit = {
    val plan = ctx.plan
    val ids = 0 until (if (workload == "sql_gateway") plan.cores else 1)
    val conns = ids.map(i => i -> ctx.client()).toMap
    val warm = parallel(ids)(i => plan.warm.filter(_._1 == i).map {
      case (_, sid, sql) => execute(ctx, conns(i), sid, sql, s"warm-$sid") })
    warm.flatten.foreach(op => op.err.foreach(e => ctx.out("warm_error", op.sid, e)))
    val health = new HealthProbe(ctx, plan.cores)
    health.warm()
    val builds0 = Tables.tempBuildCount
    val exec0 = Exec.snap(ctx)
    ctx.ready()

    val t0 = nowMs
    val deadline = t0 + ctx.seconds * 1000
    val seq = new Sequence(plan.statements, deadline)
    health.start(t0, deadline)
    val ops = parallel(ids) { i =>
      Iterator.continually(seq.next()).takeWhile(_.isDefined).flatten.zipWithIndex.map {
        case ((sid, sql), k) => execute(ctx, conns(i), sid, sql, s"c$i-$k")
      }.toVector
    }.flatten
    val wall = nowMs - t0
    health.stop()
    conns.values.foreach(_.close())
    val execD = Exec.delta(exec0, Exec.snap(ctx))
    val builds = Tables.tempBuildCount - builds0

    ctx.out("window", wall)
    ops.foreach(op => ctx.out("op", op.sid, op.latMs, op.rows.size,
      op.err.map("ERR " + _).getOrElse(Main.digest(op.rows))))
    if (ctx.tracer.enabled) layers(ctx, ops, execD, wall, builds)
  }

  /** Per-layer metrics of a traced SQL run: the gateway spans of the
    * window, the listener's execution counters per statement, and side
    * measurements made after the window (build and planning of each
    * distinct statement in-process, ArrowCodec on the fetched rows). */
  private def layers(ctx: Ctx, ops: Seq[Op], execD: Map[String, Long], wall: Double,
      builds: Long): Unit = {
    val o = ctx.out
    val good = ops.filter(_.err.isEmpty)
    val n = math.max(good.size, 1).toDouble
    o("layer", "gateway.submit_ms", median(good.map(_.submitMs)))
    o("layer", "gateway.fetch_ms", median(good.map(_.fetchMs)))
    val tickets = good.map(_.tickets).sum
    o("layer", "gateway.tickets", tickets / n)
    val pageJobs = good.map(op => Option(ctx.listener.get.pageJobs.get(op.job))
      .map(_.get).getOrElse(0L)).sum
    o("layer", "gateway.page_jobs", pageJobs / math.max(tickets, 1).toDouble)
    o("layer", "tables.store_builds", builds / n)
    Exec.report(ctx, execD, n, median(good.map(_.latMs)), wall)

    val distinct = good.groupBy(_.sid).values.map(_.head).toSeq.sortBy(_.sid)
    val sqlOf = (ctx.plan.statements ++ ctx.plan.warm).map(s => s._2 -> s._3).toMap
    val e0 = Exec.snap(ctx)
    val bp = distinct.map { op =>
      val (df, b) = timed(ctx.tracer.span("build", op.sid)(_ => ctx.spark.sql(sqlOf(op.sid))))
      val (_, p) = timed(ctx.tracer.span("plan", op.sid)(_ => df.queryExecution.executedPlan))
      (b, p, df.schema, op)
    }
    val buildJobs = Exec.delta(e0, Exec.snap(ctx))("jobs")
    o("layer", "build.ms", median(bp.map(_._1)))
    o("layer", "build.jobs", buildJobs / math.max(distinct.size, 1).toDouble)
    o("layer", "plan.ms", median(bp.map(_._2)))
    arrow(ctx, bp.map { case (_, _, schema, op) => (schema, op.rows.take(1000)) })
  }

  /** ArrowCodec encode/decode cost on (up to 1000 of the) rows each
    * distinct statement returned; the first of three round trips only
    * warms the codec. */
  def arrow(ctx: Ctx, results: Seq[(org.apache.spark.sql.types.StructType, Vector[Row])]): Unit = {
    var enc, dec = 0.0; var bytes, rows = 0L
    for ((schema, rs) <- results; i <- 0 until 3) {
      val (e, d, b) = ctx.tracer.span("arrow.roundtrip", "arrow")(_ =>
        Main.arrowRoundTrip(schema, rs))
      if (i > 0) { enc += e; dec += d; bytes += b; rows += rs.size }
    }
    val krows = math.max(rows, 1L) / 1000.0
    ctx.out("layer", "arrow.encode_ms_per_krow", enc / krows)
    ctx.out("layer", "arrow.decode_ms_per_krow", dec / krows)
    ctx.out("layer", "arrow.bytes_per_row", bytes.toDouble / math.max(rows, 1L))
  }
}

/** `corpus_batch`: one caller runs the ordered pipeline list once through
  * `SparkEntry.queries(name)(spark, dir).write.format("noop")`, on a
  * corpus no store has been built for. Set-up runs the list on another
  * corpus first (JIT, codegen), whose store keys differ. */
object Corpus {
  final case class Q(name: String, builds: Long,
      df: Either[String, org.apache.spark.sql.DataFrame],
      buildMs: Double, planMs: Double, execMs: Double, buildJobs: Long,
      exec: Map[String, Long])

  def runOne(ctx: Ctx, dir: String, name: String, req: String): Q = {
    val tr = ctx.tracer
    val b0 = Tables.tempBuildCount
    val e0 = Exec.snap(ctx)
    var buildMs, planMs, execMs = 0.0
    var e1 = e0
    val df = try tr.span("corpus.query", req) { root =>
      val (df, b) = timed(tr.span("build", req, root)(_ =>
        SparkEntry.queries(name)(ctx.spark, dir)))
      buildMs = b
      e1 = Exec.snap(ctx)
      if (tr.enabled)
        planMs = timed(tr.span("plan", req, root)(_ => df.queryExecution.executedPlan))._2
      execMs = timed(tr.span("exec", req, root)(_ =>
        df.write.format("noop").mode("overwrite").save()))._2
      Right(df)
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val e2 = Exec.snap(ctx)
    Q(name, Tables.tempBuildCount - b0, df, buildMs, planMs, execMs,
      Exec.delta(e0, e1).getOrElse("jobs", 0L), Exec.delta(e1, e2))
  }

  def run(ctx: Ctx): Unit = {
    val plan = ctx.plan
    val warm = plan.queries.map(q => runOne(ctx, plan.corpusWarm.get, q, s"warm:$q"))
    warm.foreach(q => ctx.out("guard", "warm", q.name, q.builds, q.df.swap.getOrElse("")))
    val health = new HealthProbe(ctx, plan.cores)
    health.warm()
    ctx.ready()

    val t0 = nowMs
    health.start(t0)
    val qs = plan.queries.map(q => runOne(ctx, plan.corpus.get, q, q))
    val window = nowMs - t0
    health.stop()

    ctx.out("window", window)
    qs.foreach(q => ctx.out("guard", "timed", q.name, q.builds, q.df.swap.getOrElse("")))
    if (ctx.tracer.enabled) layers(ctx, qs)
    // The outputs, for the correctness check: the timed DataFrames run
    // again after the window (their build-time checkpoints are reused).
    qs.foreach { q =>
      try {
        val rows = q.df.fold(e => throw new IllegalStateException(e), _.collect().toSeq)
        ctx.out("check", q.name, rows.size, Main.digest(rows))
      } catch {
        case NonFatal(e) =>
          ctx.out("check", q.name, -1, s"ERR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** Per-layer metrics of a traced run, summed over the list. */
  private def layers(ctx: Ctx, qs: Seq[Q]): Unit = {
    val o = ctx.out
    o("layer", "tables.store_builds", qs.map(_.builds).sum)
    o("layer", "build.ms", qs.map(_.buildMs).sum)
    o("layer", "build.jobs", qs.map(_.buildJobs).sum)
    o("layer", "plan.ms", qs.map(_.planMs).sum)
    val d = qs.map(_.exec).reduce((a, b) => a.map { case (k, v) => k -> (v + b.getOrElse(k, 0L)) })
    val execMs = qs.map(_.execMs).sum
    Exec.report(ctx, d, 1.0, execMs, execMs)
    Seq("gateway.submit_ms", "gateway.fetch_ms", "gateway.tickets", "gateway.page_jobs")
      .foreach(o("layer", _, 0.0))
    Sql.arrow(ctx, Nil)
  }
}
