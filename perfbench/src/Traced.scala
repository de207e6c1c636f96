package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import jsonld.core._
import jsonld.core.Rdf._
import jsonld.spark.{Detect, DetectedDoc, Pipeline, RepoFile}
import scala.collection.mutable

object Plans {
  /** (bytes, files) read by every file scan of an executed plan. */
  def fileScans(p: SparkPlan): Seq[(Long, Long)] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec =>
      Seq((s.metrics.get("filesSize").map(_.value).getOrElse(0L),
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)))
    case other => other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }
}

/** A [[DocumentLoader]] that counts the loads it serves. */
final class CountingLoader(inner: DocumentLoader) extends DocumentLoader {
  var loads = 0L
  def loadDocument(url: String): RemoteDocument = { loads += 1; inner.loadDocument(url) }
}

/** The traced run: per-layer metrics for one workload, after the same
  * setup as the untraced run.
  */
final class Traced(r: Run) {
  import Main._

  private val spark = r.spark
  private val out = mutable.ArrayBuffer.empty[(String, Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

  def run(): Seq[(String, Double, String)] = {
    passes()
    r.trace.span("replay.detect")(detectReplay())
    r.trace.span("replay.core")(coreReplay())
    r.warmQueries()
    r.trace.span("queries")(queries())
    r.auditQuarantine()
    setupMetrics()
    host()
    put("failed_op_share", r.failed.toDouble / r.attempted, "ratio")
    out.toSeq
  }

  // ------------------------------------------------------------ passes
  private def passes(): Unit = {
    val untraced = mutable.ArrayBuffer.empty[Double]
    val untracedTps = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val matches = mutable.ArrayBuffer.empty[Double]
    var stages: Seq[r.recorder.StageRec] = Nil
    var jobs = 0
    var last: PassResult = null
    (1 to 2).foreach { i =>
      r.trace.enabled = false
      val u = r.passOp(s"untraced-$i")
      untraced += u.seconds
      untracedTps += u.triplesPerS
      dropGraph(u.out)
      r.trace.enabled = true
      spark.sparkContext.addSparkListener(r.recorder)
      Bus.drain(spark.sparkContext)
      r.recorder.reset()
      val t = r.passOp(s"traced-$i", () => {
        Bus.drain(spark.sparkContext)
        stages = r.recorder.completed
        jobs = r.recorder.jobs
      })
      traced += t.seconds
      matches += r.trace.span("check.counters")(countersMatch(t))
      if (last != null) dropGraph(last.out)
      last = t
      spark.sparkContext.removeSparkListener(r.recorder)
    }
    r.trace.enabled = true
    dropGraph(r.lastGraph)
    r.lastGraph = last.out
    r.useGraph(last.out)
    val full = median(untraced.toSeq)
    put("trace.overhead_share", (median(traced.toSeq) - full) / full, "ratio")
    put("wall.build_triples_per_s", median(untracedTps.toSeq), "triples/s")
    put("counters.match", matches.sum / matches.size, "ratio")
    stageMetrics(stages, jobs, last.written)
    writeMetrics(last)
    prefixes(full)
  }

  private def dropGraph(dir: String): Unit = deleteTree(Paths.get(dir))

  /** `Pipeline.Counters` of a pass against counts derived from output
    * tables of the same input: 1 when all agree, else 0.
    */
  private def countersMatch(p: PassResult): Double = {
    val c1 = Pipeline.newCounters(spark)
    val detected = Pipeline.detectStage(r.corpus, c1).count()
    val c2 = Pipeline.newCounters(spark)
    val byOk = Pipeline.transformStage(Pipeline.detectStage(r.corpus, c2), r.ctx, c2)
      .toDF().groupBy("ok").count().collect().map(x => x.getBoolean(0) -> x.getLong(1)).toMap
    val (okRows, errRows) = (byOk.getOrElse(true, 0L), byOk.getOrElse(false, 0L))
    val c = p.counters
    val pairs = Seq(
      "docsDetected" -> (c.docsDetected.value.longValue, detected),
      "docsFailed" -> (c.docsFailed.value.longValue, errRows),
      "docsOk" -> (c.docsOk.value.longValue, detected - errRows),
      "quadsOut" -> (c.quadsOut.value.longValue, okRows))
    pairs.filter { case (_, (x, y)) => x != y }.foreach { case (n, (x, y)) =>
      log(s"counter $n = $x, output tables say $y")
    }
    if (yieldShare.isEmpty) yieldShare = Some(detected.toDouble / c1.filesIn.value.longValue)
    if (pairs.forall { case (_, (x, y)) => x == y }) 1.0 else 0.0
  }
  private var yieldShare: Option[Double] = None

  private def stageMetrics(stages: Seq[r.recorder.StageRec], jobs: Int, written: Long): Unit = {
    val map = stages.filter(_.shuffleWriteBytes > 0)
    val reduce = stages.filter(s => s.shuffleReadBytes > 0 && s.shuffleWriteBytes == 0)
    def role(name: String, xs: Seq[r.recorder.StageRec]): Unit = {
      put(s"spark.$name.run_s", xs.map(_.runS).sum, "s")
      put(s"spark.$name.cpu_s", xs.map(_.cpuS).sum, "s")
      put(s"spark.$name.gc_s", xs.map(_.gcS).sum, "s")
      val tasks = xs.flatMap(_.taskMs).map(_.toDouble)
      put(s"spark.$name.task_skew",
        if (tasks.isEmpty) Double.NaN else tasks.max / math.max(1.0, median(tasks)), "ratio")
    }
    role("map_stage", map)
    role("reduce_stage", reduce)
    put("exchange.shuffle_bytes_per_triple", map.map(_.shuffleWriteBytes).sum.toDouble / written,
      "B/triple")
    put("dedup.spill_bytes", stages.map(_.spillBytes).sum.toDouble, "B")
    put("dedup.kept_share", written.toDouble / map.map(_.shuffleWriteRecords).sum, "ratio")
    put("spark.jobs_per_pass", jobs.toDouble, "count")
  }

  private def writeMetrics(p: PassResult): Unit = {
    val s = Files.walk(Paths.get(p.out))
    val files = try {
      val it = s.iterator()
      val b = mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.startsWith("part-")) b += Files.size(f)
      }
      b.toSeq
    } finally s.close()
    put("write.bytes_per_triple", files.sum.toDouble / p.written, "B/triple")
    put("write.files", files.size.toDouble, "count")
  }

  /** Per-layer wall from successive prefixes of one pass, each forced with
    * the `noop` sink; the last layer is the full pass minus the dedup
    * prefix.
    */
  private def prefixes(fullPass: Double): Unit = {
    def force(name: String, df: => DataFrame): Double = r.trace.span(s"prefix.$name") {
      timed(df.write.format("noop").mode("overwrite").save())._2
    }
    val c = Pipeline.newCounters(spark)
    val scan = force("scan", r.corpus.toDF())
    val detect = force("detect", Pipeline.detectStage(r.corpus, c).toDF())
    val transform = force("transform",
      Pipeline.transformStage(Pipeline.detectStage(r.corpus, c), r.ctx, c).toDF())
    val dedup = force("dedup", Pipeline.dedupForWrite(Pipeline.quads(
      Pipeline.transformStage(Pipeline.detectStage(r.corpus, c), r.ctx, c)), r.Buckets))
    put("pipeline.scan_s", scan, "s")
    put("pipeline.detect_s", detect - scan, "s")
    put("pipeline.transform_s", transform - detect, "s")
    put("pipeline.dedup_s", dedup - transform, "s")
    put("pipeline.write_s", fullPass - dedup, "s")
  }

  // ------------------------------------------------------------ replays
  /** Evenly spaced files of the workload's own corpus. */
  private def sampleFiles(n: Int): IndexedSeq[RepoFile] = {
    val files = r.corpusSpec.files
    val m = math.min(n, files)
    (0 until m).map(j => r.corpusSpec.file(r.a.seed, j.toLong * files / m))
  }

  private def detectReplay(): Unit = {
    val files = sampleFiles(3000)
    var secs = 0.0
    (0 until 3).foreach { _ => secs = timed(files.foreach(f => Detect.detect(f).size))._2 }
    put("detect.us_per_file", secs * 1e6 / files.size, "us")
    put("detect.yield_share", yieldShare.getOrElse(Double.NaN), "ratio")
  }

  /** Single-thread replay of the workload's detected documents through
    * the core, phase by phase; the first round warms the JIT.
    */
  private def coreReplay(): Unit = {
    val docs: IndexedSeq[DetectedDoc] = sampleFiles(3000).flatMap(f => Detect.detect(f)).take(1500)
    val ns = Array.fill(5)(0L) // parse, context, expand, toRdf, c14n
    var loads = 0L; var quads = 0L; var bnodes = 0L
    (0 until 2).foreach { round =>
      java.util.Arrays.fill(ns, 0L); loads = 0; quads = 0; bnodes = 0
      val map = new MapDocumentLoader(r.ctx.value)
      docs.foreach { d =>
        val ctxLoader = new CountingLoader(map)
        val loader = new CountingLoader(map)
        val opts = JsonLdOptions(base = d.baseIri, documentLoader = loader)
        var t = System.nanoTime()
        def lap(i: Int): Unit = { val n = System.nanoTime(); ns(i) += n - t; t = n }
        try {
          val parsed = Json.parse(d.json)
          lap(0)
          parsed match {
            case m: Json.JObj @unchecked if m.contains("@context") =>
              val local = Json.deepClone(m("@context"))
              t = System.nanoTime()
              new Context(opts.copy(documentLoader = ctxLoader)).parse(local)
            case _ =>
          }
          lap(1)
          val expanded = Processor.expand(parsed, opts)
          lap(2)
          val ds = ToRdf.toRdf(expanded, opts)
          lap(3)
          bnodes += ds.allQuads.iterator.flatMap { case (g, q) =>
            Iterator(q.subject, q.obj).collect { case RBlank(v) => v }
          }.toSet.size
          t = System.nanoTime()
          quads += new Canonicalizer("URDNA2015", 100000L).canonicalQuads(ds).size
          lap(4)
        } catch { case _: Exception => t = System.nanoTime() }
        loads += loader.loads
      }
    }
    val n = docs.size.toDouble
    Seq("parse", "context", "expand", "toRdf", "c14n").zipWithIndex.foreach { case (p, i) =>
      put(s"core.$p.us_per_doc", ns(i) / 1e3 / n, "us")
    }
    put("core.context.loads_per_doc", loads / n, "count")
    put("core.quads_per_doc", quads / n, "count")
    put("core.bnodes_per_doc", bnodes / n, "count")
  }

  // ------------------------------------------------------------ queries
  private def queries(): Unit = {
    spark.sparkContext.addSparkListener(r.recorder)
    val ts = (0 until 4 * Queries.Classes.size).flatMap(_ => Option(r.runQuery(record = true)))
    spark.sparkContext.removeSparkListener(r.recorder)
    def med(f: r.QueryTiming => Double): Double =
      if (ts.isEmpty) Double.NaN else median(ts.map(f))
    put("graphops.compile_ms", med(_.compileMs), "ms")
    put("graphops.plan_ms", med(_.planMs), "ms")
    put("graphops.exec_ms", med(_.execMs), "ms")
    put("graphops.jobs_per_query", med(_.jobs.toDouble), "count")
    put("graphops.scan_bytes_per_query", med(_.scanBytes.toDouble), "B")
    put("graphops.files_per_query", med(_.files.toDouble), "count")
    val walls = ts.map(_.totalMs)
    put("wall.query_p50_ms", if (walls.isEmpty) Double.NaN else percentile(walls, 0.5), "ms")
    put("wall.query_p90_ms", if (walls.isEmpty) Double.NaN else percentile(walls, 0.9), "ms")
    Queries.Classes.foreach { c =>
      val xs = ts.filter(_.cls == c).map(_.totalMs)
      put(s"query.$c.p50_ms", if (xs.isEmpty) Double.NaN else median(xs), "ms")
    }
  }

  private def setupMetrics(): Unit = {
    put("setup.spark_s", r.sparkS, "s")
    put("setup.generate_s", r.generateS, "s")
    put("setup.warmup_s", r.warmupS, "s")
  }

  /** Host context, not program metrics: page-cache write bandwidth into
    * the work directory and single-thread SHA-256 throughput.
    */
  private def host(): Unit = {
    val f = r.work.resolve("host-probe.bin")
    val chunk = new Array[Byte](1 << 20)
    val (_, ws) = timed {
      val o = Files.newOutputStream(f)
      try (0 until 128).foreach(_ => o.write(chunk)) finally o.close()
    }
    Files.delete(f)
    put("host.write_gbps", 128.0 / 1024 / ws, "GB/s")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val (_, hs) = timed((0 until 64).foreach(_ => md.update(chunk)))
    md.digest()
    put("host.sha256_mbps", 64 / hs, "MB/s")
  }
}
