package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.{Pipeline, TripleRow}
import graft.annotate.{Annotator, JsonLd}
import graft.ingest.{Doc, SpanCodec, SynthCorpus}
import graft.link.UnitDict
import graft.rdf.TripleExpand
import graft.streaming.{ClaimStore, StreamingCuration}

/** Driver-side recomputation of a corpus slice's triples from the same
  * public per-document functions the pipeline runs, without Spark: the
  * seed-independent reference every Spark-side result is checked against.
  */
object Oracle {
  final case class Digest(count: Long, xor: Long, buckets: Map[Int, Long], distinct: Long)

  private def h(s: String, seed: Long): Long =
    if (s == null) seed else XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)

  /** Spark's `xxhash64(doc_id, subj, pred, obj)`. */
  def rowHash(doc: String, s: String, p: String, o: String): Long =
    h(o, h(p, h(s, h(doc, 42L))))

  /** Count, xor of row hashes, rows per predicate bucket, and (when
    * `distinct`) the number of distinct (subj, pred, obj) triples.
    */
  def digest(from: Long, until: Long, threads: Int, distinct: Boolean): Digest = {
    val dict = UnitDict.default
    val next = new java.util.concurrent.atomic.AtomicLong(from)
    final class Part {
      var count = 0L; var xor = 0L
      val buckets = mutable.HashMap.empty[Int, Long]
      val spo = mutable.HashSet.empty[Long]
      val bucketOf = mutable.HashMap.empty[String, Int]
    }
    val parts = Vector.fill(threads)(new Part)
    val ts = parts.map { part =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < until) {
          val d = SynthCorpus.doc(i)
          val lines = SpanCodec.lines(d.spans)
          val m = Annotator.annotate(d.doc_id, lines, "utf-8", dict)
          TripleExpand.expandDoc(m, lines).foreach { t =>
            part.count += 1
            part.xor ^= rowHash(d.doc_id, t.subj, t.pred, t.obj)
            val b = part.bucketOf.getOrElseUpdate(t.pred, Pipeline.predBucketOf(t.pred))
            part.buckets(b) = part.buckets.getOrElse(b, 0L) + 1
            if (distinct) part.spo += h(t.obj, h(t.pred, h(t.subj, 7L)))
          }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val buckets = parts.flatMap(_.buckets).groupMapReduce(_._1)(_._2)(_ + _)
    val spo = if (distinct) parts.map(_.spo).reduce(_ ++ _).size.toLong else 0L
    Digest(parts.map(_.count).sum, parts.map(_.xor).reduce(_ ^ _), buckets, spo)
  }
}

/** Corpus slices and the checked sink shared by the KG workloads. */
object Kg {
  def docs(spark: SparkSession, from: Long, until: Long, parts: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map(i => SynthCorpus.doc(i))
  }

  /** The perturbed-output self-check drops one document's triples. */
  def maybePerturb(ts: Dataset[TripleRow], perturb: Boolean, victim: String): Dataset[TripleRow] =
    if (perturb) ts.filter(col("doc_id") =!= lit(victim)) else ts

  /** (count, xor of row hashes) of a triples frame, in one job. */
  def countXor(ts: Dataset[_]): (Long, Long) = {
    val r = ts.select(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj")).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Single-thread pass over a fixed sample with one span around each
    * call into a layer; returns ns per document for each, plus triples
    * per document. The first pass only warms the code.
    */
  def samplePass(tracer: Tracer, docs: Long): Map[String, Double] = {
    val dict = UnitDict.default
    var triples = 0L
    def pass(): Unit = {
      var i = 1L
      while (i <= docs) {
        val d = tracer.span("sample.doc")(SynthCorpus.doc(i))
        val lines = tracer.span("sample.lines")(SpanCodec.lines(d.spans))
        val m = tracer.span("sample.annotate")(Annotator.annotate(d.doc_id, lines, "utf-8", dict))
        tracer.span("sample.render")(JsonLd.render(m).render)
        triples += tracer.span("sample.expand")(TripleExpand.expandDoc(m, lines)).size
        i += 1
      }
    }
    val was = tracer.enabled
    tracer.enabled = false
    pass()
    tracer.enabled = true
    triples = 0L
    val before = tracer.spans.size
    pass()
    tracer.enabled = was
    val mine = tracer.spans.drop(before)
    def ns(names: String*): Double =
      mine.filter(s => names.contains(s.name)).map(s => (s.endNs - s.startNs).toDouble).sum / docs
    Map(
      "ingest.ns_per_doc" -> ns("sample.doc", "sample.lines"),
      "annotate.ns_per_doc" -> ns("sample.annotate"),
      "render.ns_per_doc" -> ns("sample.render"),
      "expand.ns_per_doc" -> ns("sample.expand"),
      "expand.triples_per_doc" -> triples.toDouble / docs)
  }

  /** Offset of a seed's corpus slice: a multiple of 1024, so every slice
    * of the same length holds the same number of SynthCorpus's 5,000-row
    * documents (one per 1024 indices).
    */
  def offset(seed: Long, stride: Long): Long = 1024L * (1 + stride * java.lang.Math.floorMod(seed, 1000000L))

  def sampleDocs(smoke: Boolean): Long = if (smoke) 100L else 1000L
}

/** The prose corpus of graft's streaming-curation bench: each group of
  * `dupGroup` consecutive documents shares one text (three sentences under
  * a header line every document carries), so curation keeps exactly one
  * document per group.
  */
object Prose {
  val dupGroup = 5

  def doc(i: Long): (String, String) = {
    val k = i - i % dupGroup
    val body = (0 until 3).map(j =>
      s"the measurement run number ${k}_$j was completed and the result " +
        s"of the test is ${k * 37 + j} units that we have recorded with great care")
    (SynthCorpus.docId(i), ("shared boilerplate navigation header" +: body).mkString("\n"))
  }

  /** Groups with a document in [from, until). */
  def groups(from: Long, until: Long): Long = (until - 1) / dupGroup - from / dupGroup + 1
}

/** `kg_build`: SynthCorpus documents -> Pipeline.triples -> a checked
  * count + xor-hash sink. Annotate, expand and row encoding do nearly all
  * the work; nothing shuffles.
  */
final class KgBuild(ctx: Ctx) extends Workload {
  // a multiple of cores x 1024, so each of the 4 range partitions holds
  // one 5,000-row document and no task is a straggler
  private val n = if (ctx.args.smoke) 512L else 4096L
  private val from = Kg.offset(ctx.args.seed, 8)
  private val until = from + n
  private var want: (Long, Long) = (0L, 0L)
  def docsPerOp: Long = n

  private def build(): (Long, Long) = ctx.tracer.span("kg.build") {
    Kg.countXor(Kg.maybePerturb(
      Pipeline.triples(Kg.docs(ctx.spark, from, until, ctx.args.cores), ctx.dict),
      ctx.perturb, SynthCorpus.docId(from)))
  }

  def setup(e: Expect): Unit = {
    val d = Oracle.digest(from, until, ctx.args.cores, distinct = false)
    want = (d.count, d.xor)
    if (ctx.args.seed == 0 && !ctx.args.smoke) e("seed-0 pin", ctx.pins.get("kg_build"), Some(want))
    e("cold build", want, build())
  }

  // the JIT keeps ramping for several builds after the first
  def warmSeconds: Double = 12.0

  def op(i: Int, e: Expect): OpStats = {
    val t0 = System.nanoTime()
    e("count, xor", want, build())
    OpStats(Seq(Stats.secs(System.nanoTime() - t0)))
  }

  /** Cumulative prefixes of the pipeline, each its own job (to a noop sink,
    * the last to the checked sink) after the same between-operation
    * collections as a timed operation; a layer's self time is its prefix
    * minus the one before (best of 2). The self times add up to the last
    * prefix, which `kg.sum_over_wall` sets against the untraced `wall_s`.
    */
  def layers(traced: Seq[OpStats], untracedWallS: Double): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val dict = ctx.dict
    def docs = Kg.docs(spark, from, until, ctx.args.cores)
    def noop(ds: Dataset[_]): Unit = ds.write.mode("overwrite").format("noop").save()
    val prefixes: Vector[(String, () => Unit)] = Vector(
      "kg.prefix.corpus" -> (() => noop(docs)),
      "kg.prefix.lines" -> (() => noop(docs.map(d => (d.doc_id, SpanCodec.lines(d.spans).size)))),
      "kg.prefix.annotate" -> (() => noop(docs.map { d =>
        val ls = SpanCodec.lines(d.spans)
        (d.doc_id, Annotator.annotate(d.doc_id, ls, "utf-8", dict.value).tables.size)
      })),
      "kg.prefix.expand" -> (() => noop(docs.map { d =>
        val ls = SpanCodec.lines(d.spans)
        (d.doc_id, TripleExpand.expandDoc(Annotator.annotate(d.doc_id, ls, "utf-8", dict.value), ls).size)
      })),
      "kg.prefix.triples" -> (() => noop(Pipeline.triples(docs, dict))),
      "kg.prefix.check" -> (() => Kg.countXor(Pipeline.triples(docs, dict))))
    for (_ <- 1 to (if (ctx.args.smoke) 1 else 2); (name, f) <- prefixes) {
      ctx.gc.sampleBetweenOps() // disarmed here: collects, samples nothing
      ctx.tracer.span(name)(f())
    }
    val best = prefixes.map { case (name, _) => ctx.tracer.seconds(name).min }
    Map(
      "kg.ingest_s" -> best(1),
      "kg.annotate_s" -> (best(2) - best(1)),
      "kg.expand_s" -> (best(3) - best(2)),
      "kg.encode_s" -> (best(4) - best(3)),
      "kg.check_s" -> (best(5) - best(4)),
      "kg.sum_over_wall" -> best(5) / untracedWallS) ++
      Kg.samplePass(ctx.tracer, Kg.sampleDocs(ctx.args.smoke))
  }
}

/** `kg_materialize`: the RunPipeline product on the SnapTable path. One
  * operation writes the metadata to parquet, makes watermarked triple
  * appends, commits the metrics table, reads single buckets, compacts,
  * reads the whole table back and writes sorted N-Triples, each checked.
  * Table commits, the bucket-routing shuffle, parquet I/O and the sinks
  * dominate; annotate is a small share. The operation ends with prose
  * micro-batches, one per parquet chunk, through
  * `StreamingCuration.processBatch` and its claim store; the last batch
  * folds the earlier batches' sidecars. These are its micro-batches.
  */
final class KgMaterialize(ctx: Ctx) extends Workload {
  private val appends = 2
  private val per = if (ctx.args.smoke) 64L else 128L
  private val from = Kg.offset(ctx.args.seed, 2)
  private val until = from + appends * per
  private val probePreds = Vector(
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "http://www.w3.org/ns/oa#hasBody")
  private var want: Oracle.Digest = _
  def docsPerOp: Long = appends * per

  private val streamBatches = 2
  private val streamPer = if (ctx.args.smoke) 40L else 100L
  // not a multiple of the dup group: groups straddle batches, so a later
  // batch's duplicates are caught by the claims of an earlier one
  private val streamFrom = 3 + 1000L * java.lang.Math.floorMod(ctx.args.seed, 1000000L)
  private val curateCfg = graft.ops.Curation.CurateConfig(minWords = 5)
  private def chunk(b: Int) = ctx.dir(s"prose/chunk-$b")

  private def span[A](name: String)(f: => A): A = ctx.tracer.span(name)(f)

  def setup(e: Expect): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    for (b <- 0 until streamBatches) {
      val lo = streamFrom + b * streamPer
      spark.range(lo, lo + streamPer, 1, 1).map(i => Prose.doc(i)).toDF("doc_id", "text")
        .write.parquet(chunk(b))
    }
    want = Oracle.digest(from, until, ctx.args.cores, distinct = true)
    if (ctx.args.seed == 0 && !ctx.args.smoke)
      e("seed-0 pin", ctx.pins.get("kg_materialize"), Some((want.count, want.xor)))
    cycle(-1000, e)
  }

  def warmSeconds: Double = 0.0

  def op(i: Int, e: Expect): OpStats = cycle(i, e)

  private def dataFiles(root: String): Vector[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Vector.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
      finally s.close()
    }
  }

  private def cycle(i: Int, e: Expect): OpStats = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.dir(s"materialize-$i")
    val tRoot = s"$root/triples"
    val mRoot = s"$root/metrics"
    val victim = SynthCorpus.docId(from)
    def docs(a: Long, b: Long) = Kg.docs(spark, a, b, ctx.args.cores)

    span("sink.metadata") {
      Pipeline.metadata(docs(from, until), ctx.dict).write.parquet(s"$root/metadata")
      e("metadata rows", until - from, spark.read.parquet(s"$root/metadata").count())
    }
    (0 until appends).foreach { b =>
      span("table.append") {
        val lo = from + b * per
        Pipeline.writeTriplesSnap(
          Kg.maybePerturb(Pipeline.triples(docs(lo, lo + per), ctx.dict), ctx.perturb, victim),
          tRoot, append = b > 0, watermark = Some(s"append-$b"), filesPerBucket = 1)
      }
    }
    val beforeCompact = graft.table.SnapTable.snapshot(spark, tRoot).get
    val tableBytes = beforeCompact.files.map(_.bytes).sum.toDouble

    span("sink.metrics") {
      Pipeline.writeMetricsSnap(
        Pipeline.metrics(Pipeline.readTriplesSnap(spark, tRoot).as[TripleRow], s"cycle-$i", "materialize"),
        mRoot, watermark = Some(s"cycle-$i"))
      val total = graft.table.SnapTable.read(spark, mRoot).agg(sum("triple_count")).head().getLong(0)
      e("metrics triple_count", want.count, total)
    }
    val touched = probePreds.map { p =>
      val b = Pipeline.predBucketOf(p)
      span("table.read_pruned") {
        val df = Pipeline.readTriplesSnap(spark, tRoot, Some(Set(b)))
        e(s"bucket $b rows", want.buckets.getOrElse(b, 0L), df.filter(col("pred_bucket") === b).count())
        df.inputFiles.length.toDouble
      }
    }
    val rewritten = span("table.compact") {
      val after = Pipeline.compactTriplesSnap(spark, tRoot, minFilesPerBucket = appends)
      val gone = after.map(_.removed.toSet).getOrElse(Set.empty[String])
      beforeCompact.files.filter(f => gone(f.path)).map(_.bytes).sum.toDouble
    }
    span("table.read_full") {
      e("read-back count, xor", (want.count, want.xor),
        Kg.countXor(Pipeline.readTriplesSnap(spark, tRoot)))
    }
    val ntBytes = span("sink.ntriples") {
      Pipeline.writeSortedNTriples(
        Pipeline.readTriplesSnap(spark, tRoot).select("doc_id", "subj", "pred", "obj").as[TripleRow],
        s"$root/ntriples", compress = false)
      val parts = dataFiles(s"$root/ntriples").filter(_.getFileName.toString.startsWith("part-"))
      val lines = parts.map(p => java.nio.file.Files.lines(p)).map { s => try s.count() finally s.close() }.sum
      e("N-Triples lines = distinct triples", want.distinct, lines)
      parts.map(java.nio.file.Files.size(_)).sum.toDouble
    }
    final case class Batch(secs: Double, fromMs: Long, toMs: Long, seenBytes: Long,
                           pickedChunks: Long, fallbacks: Long, foldBytes: Long, fppPpm: Long)
    val stream = s"$root/stream"
    val m = ClaimStore.Metrics
    val batches = (0 until streamBatches).map { b =>
      m.reset()
      val (a, t0) = (System.currentTimeMillis(), System.nanoTime())
      span("stream.batch") {
        StreamingCuration.processBatch(spark.read.parquet(chunk(b)), b, stream, "doc_id", "text",
          curateCfg, compactEvery = streamBatches - 1)
      }
      Batch(Stats.secs(System.nanoTime() - t0), a, System.currentTimeMillis(),
        m.plannedSeenBytes.get, m.baseFilesSelected.get, m.fullFallbacks.get,
        m.foldSidecarBytes.get, m.probeFppPpm.get)
    }
    e("stream survivors = docs / dup group",
      Prose.groups(streamFrom, streamFrom + streamBatches * streamPer),
      spark.read.parquet(s"$stream/curated").count())
    e("sidecars folded", true, batches.last.foldBytes > 0)
    def perBatch(f: Batch => Long) = batches.map(f).sum.toDouble / streamBatches
    val streamCounters = Map(
      "stream.late_over_early" -> batches.last.secs / batches.head.secs,
      "claim.seen_bytes" -> perBatch(_.seenBytes),
      "claim.picked_chunks" -> perBatch(_.pickedChunks),
      "claim.full_fallbacks" -> perBatch(_.fallbacks),
      "claim.fold_sidecar_bytes" -> batches.map(_.foldBytes).sum.toDouble,
      "claim.probe_fpp_ppm" -> batches.map(_.fppPpm).max.toDouble) ++
      (if (ctx.tracer.enabled)
        Map("stream.jobs_per_batch" -> perBatch(b => ctx.probe.jobsIn(b.fromMs, b.toMs).toLong))
      else Map.empty)
    val files = dataFiles(root)
    def under(sub: String) = files.filter(_.startsWith(java.nio.file.Paths.get(sub)))
    val counters = Map(
      "table.commits" -> (under(tRoot) ++ under(mRoot)).count { p =>
        val f = p.getFileName.toString; f.startsWith("snap-") && f.endsWith(".json") }.toDouble,
      "table.files_written" -> (under(s"$tRoot/data") ++ under(s"$mRoot/data"))
        .count(_.getFileName.toString.endsWith(".parquet")).toDouble,
      "table.bytes_per_triple" -> tableBytes / math.max(want.count, 1L),
      "table.compact_bytes_rewritten" -> rewritten,
      "table.pruned_files_frac" -> touched.sum / touched.size / beforeCompact.files.size,
      "sink.ntriples_bytes" -> ntBytes) ++ streamCounters
    ctx.rmTree(root)
    OpStats(batches.map(_.secs), counters)
  }

  def layers(traced: Seq[OpStats], untracedWallS: Double): Map[String, Double] = {
    def med(name: String) = Stats.median(ctx.tracer.seconds(name))
    val counters = traced.flatMap(_.counters.keys).distinct
      .map(k => k -> Stats.median(traced.flatMap(_.counters.get(k)))).toMap
    Map(
      "sink.metadata_s" -> med("sink.metadata"),
      "table.append_s" -> med("table.append"),
      "sink.metrics_s" -> med("sink.metrics"),
      "table.read_pruned_s" -> med("table.read_pruned"),
      "table.compact_s" -> med("table.compact"),
      "table.read_full_s" -> med("table.read_full"),
      "sink.ntriples_s" -> med("sink.ntriples"),
      "stream.batch_s" -> med("stream.batch")) ++ counters ++ Kg.samplePass(ctx.tracer, Kg.sampleDocs(ctx.args.smoke))
  }
}
