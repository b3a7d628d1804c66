package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def secs(ns: Long): Double = ns / 1e9
}

/** One recorded interval. `parent` is the id of the span that was open on
  * the same thread when this one started (0 = none); `run` identifies the
  * benchmark run, so spans of several runs can share one file.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, run: String) {
  def seconds: Double = Stats.secs(endNs - startNs)
}

/** In-memory span recorder. Spans are kept until [[write]], which the
  * benchmark calls once, at exit. When `enabled` is false, [[span]] only
  * runs its body: the untraced half of a run pays nothing.
  */
final class Tracer(val run: String) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent, run))
        open.set(stack)
      }
    }

  def spans: Vector[Span] = done.asScala.toVector
  def named(name: String): Vector[Span] = spans.filter(_.name == name)
  def seconds(name: String): Vector[Double] = named(name).map(_.seconds)

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${Json.esc(s.name)}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"run":"${Json.esc(s.run)}"}""" + "\n"
    }
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}

/** Heap left after each major collection, from GC notifications. Only
  * collections that end while the probe is armed count. Young collections
  * are ignored: after one, the old generation still holds every promoted
  * object that no full collection has examined yet, so their figures grow
  * with elapsed time rather than with what the program keeps.
  */
final class GcProbe {
  private val armed = new AtomicBoolean(false)
  private val peak = new AtomicLong(0)
  private val majors = new AtomicLong(0)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed.get && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          majors.incrementAndGet()
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def arm(): Unit = armed.set(true)
  def disarm(): Unit = armed.set(false)

  /** Sample what the program keeps between two operations. A first,
    * unsampled collection hands the finished operation's shuffles,
    * broadcasts and cached blocks to Spark's asynchronous cleaner; the
    * sampled one runs after the cleaner has had time to drop them, so the
    * figure does not depend on how far that cleanup happened to get.
    */
  def sampleBetweenOps(): Unit = {
    val was = armed.getAndSet(false)
    System.gc()
    Thread.sleep(300)
    armed.set(was)
    val before = majors.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (was && majors.get == before && System.nanoTime() < deadline) Thread.sleep(5)
  }
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Spark engine counters for the traced region, attributed by the event
  * timestamps Spark records, so late delivery cannot move an event into
  * or out of the region.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, shW: Long, shR: Long, spill: Long)
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]() // job start times, ms
  private val stages = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, submit, done

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled))
    }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Jobs started in the wall-clock window [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Int = {
    drain()
    jobs.asScala.count(t => t >= fromMs && t <= toMs)
  }

  /** Engine totals for one window, divided by `ops` closed-loop operations
    * where the figure is a total. The busy fraction sets executor run time
    * against `opSeconds`, the operations' own time (the window also holds
    * the collections between them), times `cores`.
    */
  def summary(fromMs: Long, toMs: Long, ops: Int, opSeconds: Double,
              cores: Int): Map[String, Double] = {
    drain()
    val ts = tasks.asScala.filter(t => t.launch >= fromMs && t.finish <= toMs).toVector
    val ss = stages.asScala.filter { case (_, a, b) => a >= fromMs && b <= toMs }.toVector
    val nJobs = jobs.asScala.count(t => t >= fromMs && t <= toMs)
    val per = math.max(ops, 1).toDouble
    val runS = ts.map(_.runMs).sum / 1000.0
    // skew of the slowest stage: max / median task duration
    val skew = ss.sortBy { case (_, a, b) => -(b - a) }.headOption.map { case (id, _, _) =>
      val d = ts.filter(_.stage == id).map(t => (t.finish - t.launch).toDouble)
      if (d.isEmpty) 1.0 else d.max / math.max(Stats.median(d), 1.0)
    }.getOrElse(1.0)
    Map(
      "spark.jobs" -> nJobs / per,
      "spark.stages" -> ss.size / per,
      "spark.tasks" -> ts.size / per,
      "spark.shuffle_write_bytes" -> ts.map(_.shW).sum / per,
      "spark.shuffle_read_bytes" -> ts.map(_.shR).sum / per,
      "spark.spill_bytes" -> ts.map(_.spill).sum / per,
      "spark.executor_run_s" -> runS / per,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / per,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / per,
      "spark.busy_frac" -> runS / (opSeconds * cores),
      "spark.task_skew" -> skew)
  }
}

/** The fixed pure-CPU control of graft.Bench (annotate + expand of
  * synthetic documents on plain threads, no Spark), on at most 4
  * threads. A slow host slows it as much as the workload, so a reader can
  * tell host noise from a code change. It is recorded, never gated.
  */
object Control {
  private def probe(threads: Int, docs: Long): Double = {
    val dict = graft.link.UnitDict.default
    val next = new AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < docs) {
          val d = graft.ingest.SynthCorpus.doc(i)
          val lines = graft.ingest.SpanCodec.lines(d.spans)
          val m = graft.annotate.Annotator.annotate(d.doc_id, lines, "utf-8", dict)
          graft.rdf.TripleExpand.expandDoc(m, lines)
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    docs / Stats.secs(System.nanoTime() - t0)
  }

  /** Best of repeated probes until two consecutive ones agree within 10%
    * (at most 3): the steady rate after JIT ramp-up.
    */
  def docsPerSecond(threads: Int, docs: Long = 1000): Double = {
    var best = 0.0; var last = -1.0; var i = 0; var settled = false
    while (i < 3 && !settled) {
      val r = probe(math.min(threads, 4), docs)
      settled = last > 0 && math.abs(r - last) <= 0.10 * math.max(r, last)
      last = r; best = math.max(best, r); i += 1
    }
    best
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString + ".0"
    else v.toString
}
