package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and starts it once per
  * run; it runs one workload closed-loop (the next operation starts when
  * the previous one has finished and been checked) for `--seconds`, and
  * writes one result object to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --cores <n> --tmp <dir> --out <file>
  *          --pins <pins.json> [--spans <file>] [--smoke]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, tmp: String, out: String,
                        pins: String, spans: Option[String], smoke: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", kv.getOrElse("--cores", "4").toInt, need("--tmp"),
      need("--out"), need("--pins"), kv.get("--spans"), a.contains("--smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val tracer = new Tracer(s"${args.workload}-seed${args.seed}")
    val gc = new GcProbe
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.tmp}/warehouse")
      // Spark's status store keeps finished jobs, stages, tasks and SQL
      // executions for its UI; kept small so the retained heap is graft's
      // state, not a record that grows with the number of jobs run
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new SparkProbe(spark.sparkContext)
    val ctx = new Ctx(spark, args, tracer, probe, gc, Pins.load(args.pins))
    val result =
      try Runner.run(ctx, Workloads(args.workload, ctx), t0)
      finally {
        args.spans.foreach(tracer.write)
        spark.stop()
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), result)
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer,
                val probe: SparkProbe, val gc: GcProbe,
                val pins: Map[String, (Long, Long)]) {
  lazy val dict = graft.Pipeline.broadcastDict(spark)
  /** Drop one document from the checked output: smoke's self-check that a
    * wrong output is counted as failed.
    */
  var perturb: Boolean = false
  def dir(name: String): String = s"${args.tmp}/$name"
  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** Expected-versus-observed checks of one operation. Every mismatch is
  * kept with its label; an operation with any mismatch, or one that
  * throws, counts once as failed.
  */
final class Expect {
  val mismatches = ArrayBuffer.empty[String]
  def apply[A](label: String, want: A, got: A): Unit =
    if (want != got) mismatches += s"$label: want $want, got $got"
}

/** What one closed-loop operation reports back: the micro-batch times it
  * contains and any per-operation counters the traced run summarises.
  */
final case class OpStats(batches: Seq[Double], counters: Map[String, Double] = Map.empty)

trait Workload {
  /** Documents one operation completes. */
  def docsPerOp: Long
  /** Inputs, expected outputs, and one first (compiling) operation. */
  def setup(e: Expect): Unit
  /** After setup, untimed operations run until this long has passed (at
    * least one), under the same between-operation regime as timed ones.
    */
  def warmSeconds: Double
  def op(n: Int, e: Expect): OpStats
  /** Per-layer metrics of the traced half, from its spans and counters;
    * `untracedWallS` is the median operation time of the untraced half.
    */
  def layers(traced: Seq[OpStats], untracedWallS: Double): Map[String, Double]
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kg_build" => new KgBuild(ctx)
    case "kg_materialize" => new KgMaterialize(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Seed-0 pins: (count, xor-hash) per workload, generated from a tree whose
  * 50 battery queries were DuckDB-exact.
  */
object Pins {
  def load(path: String): Map[String, (Long, Long)] = {
    import graft.json._
    Json.parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")) match {
      case JObj(fields) => fields.collect { case (k, o: JObj) =>
        k -> (o("count").asInstanceOf[JNum].literal.toLong, o("xor").asInstanceOf[JNum].literal.toLong)
      }.toMap
      case _ => Map.empty
    }
  }
}

object Runner {
  private def now: Long = System.nanoTime()

  def run(ctx: Ctx, w: Workload, t0: Long): String = {
    val gc = ctx.gc
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def checked[A](label: String)(body: Expect => A): Option[A] = {
      val e = new Expect
      attempted += 1
      val r =
        try Some(body(e))
        catch { case scala.util.control.NonFatal(ex) =>
          e.mismatches += s"$label threw ${ex.getClass.getName}: ${ex.getMessage}"; None }
      if (e.mismatches.nonEmpty) { failed += 1; failures ++= e.mismatches.take(5).map(m => s"$label: $m") }
      r
    }

    checked("setup")(w.setup)
    val warmUntil = now + (w.warmSeconds * 1e9).toLong
    var k = 0
    while (!ctx.args.smoke && (k == 0 || now < warmUntil)) {
      k += 1
      checked(s"warm-up $k")(e => w.op(-k, e))
      gc.sampleBetweenOps()
    }
    val setupS = Stats.secs(now - t0)

    // timed region: closed loop; the traced run spends its first half
    // untraced, so the two halves give the tracing overhead
    final case class Done(seconds: Double, stats: OpStats, traced: Boolean)
    val done = ArrayBuffer.empty[Done]
    val budgetNs = (ctx.args.seconds * 1e9).toLong
    val start = now
    var tracedFromMs = 0L
    gc.arm()
    var n = 0
    def loop(untilNs: Long, traced: Boolean): Unit = {
      var first = true
      while (first || now < untilNs) {
        first = false
        val a = now
        val r = checked(s"op $n")(e => w.op(n, e))
        val secs = Stats.secs(now - a)
        r.foreach(s => done += Done(secs, s, traced))
        n += 1
        gc.sampleBetweenOps()
      }
    }
    if (ctx.args.trace) {
      loop(start + budgetNs / 2, traced = false)
      ctx.tracer.enabled = true
      tracedFromMs = System.currentTimeMillis()
      loop(start + budgetNs, traced = true)
      ctx.tracer.enabled = false
    } else loop(start + budgetNs, traced = false)
    val tracedToMs = System.currentTimeMillis()
    gc.disarm()

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val okTimes = done.map(_.seconds).toSeq
    if (okTimes.nonEmpty) {
      val wall = Stats.median(okTimes)
      metrics("setup_s") = setupS
      metrics("wall_s") = wall
      metrics("docs_per_s") = w.docsPerOp / wall
      metrics("batch_p50_s") = Stats.median(done.flatMap(_.stats.batches).toSeq)
      metrics("peak_retained_mb") = gc.peakMb
    }
    if (ctx.args.trace) {
      val traced = done.filter(_.traced).toSeq
      val plain = done.filterNot(_.traced).toSeq
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val plainWall = if (plain.nonEmpty) Stats.median(plain.map(_.seconds)) else Double.NaN
      if (traced.nonEmpty && plain.nonEmpty) {
        layer("trace.overhead_frac") = Stats.median(traced.map(_.seconds)) / plainWall - 1
        layer ++= ctx.probe.summary(tracedFromMs, tracedToMs, traced.size,
          traced.map(_.seconds).sum, ctx.args.cores)
      }
      ctx.tracer.enabled = true
      checked("layers")(_ => layer ++= w.layers(traced.map(_.stats), plainWall))
      ctx.tracer.enabled = false
      layer("check.failed_frac") = failed.toDouble / attempted
      metrics ++= layer
    }
    // smoke self-check: one extra operation on a perturbed output must
    // fail its checks; it is not counted in attempted/failed
    val perturbedFails = ctx.args.smoke && {
      ctx.perturb = true
      val e = new Expect
      try w.op(n, e) catch { case scala.util.control.NonFatal(ex) => e.mismatches += ex.toString }
      ctx.perturb = false
      e.mismatches.nonEmpty
    }
    // recorded in every run, printed with the per-layer metrics
    metrics("host.control_docs_per_s") = Control.docsPerSecond(ctx.args.cores)

    val body = metrics.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString(",")
    val fails = failures.take(20).map(f => "\"" + Json.esc(f) + "\"").mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""ops":${done.size},"op_seconds":[${okTimes.map(Json.num).mkString(",")}],""" +
      s""""perturbed_op_failed":$perturbedFails,"failures":[$fails],"metrics":{$body}}"""
  }
}
