package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graftbench.Bus
import jsonld.spark.{CorpusIO, Pipeline, RepoFile}
import graft.ops.GraphOps
import scala.collection.mutable

/** Command line: --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --digests TSV [--bench-stamp HASH] [--smoke | --record-digests SEEDS].
  * Prints progress to stderr and, as the last line of stdout, one JSON
  * object: correct, attempted, failed and metrics (end-to-end metrics
  * untraced, per-layer metrics traced).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, digests: Path, benchStamp: String, smoke: Boolean,
                        recordSeeds: Seq[Long])

  /** Input sizes. `full` is what BENCHMARK.json's workloads run; `smoke`
    * only proves that every check can fire.
    */
  final case class Sizes(heavyDocs: Int, mixFiles: Int, warmupPasses: Int, warmupQueryRounds: Int)
  val FullSizes = Sizes(heavyDocs = 5000, mixFiles = 3000, warmupPasses = 4, warmupQueryRounds = 3)
  val SmokeSizes = Sizes(heavyDocs = 300, mixFiles = 600, warmupPasses = 1, warmupQueryRounds = 1)

  val Workloads = Seq("build_heavy", "build_repo_mix")

  def parse(argv: Array[String]): Args = {
    val m = mutable.HashMap.empty[String, String]
    var smoke = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => m(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    val w = m.getOrElse("workload", "build_heavy")
    require(smoke || Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "12").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("digests")).toAbsolutePath, m.getOrElse("bench-stamp", "dev"), smoke,
      m.get("record-digests").toSeq.flatMap(seedList))
  }

  /** "1,5-7" → 1, 5, 6, 7. */
  def seedList(spec: String): Seq[Long] = spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).flatMap {
    case r if r.indexOf('-') > 0 =>
      val Array(lo, hi) = r.split("-", 2)
      lo.toLong to hi.toLong
    case one => Seq(one.toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try {
        if (a.smoke) Smoke.run(a)
        else if (a.recordSeeds.nonEmpty) Digests.record(a)
        else { new Run(a, FullSizes).main(); 0 }
      }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // Spark's non-daemon threads must not keep a failed run alive
    Runtime.getRuntime.halt(code)
  }

  /** One `local[k]` session, k = min(4, the machine's cores) − 1, at least
    * 1: one core stays free for the JVM's JIT compiler and GC threads,
    * which would otherwise take turns with the executor threads. Every
    * setting the numbers depend on is pinned here.
    */
  def session(work: Path): SparkSession = {
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and SQL execution up to
      // these limits even without a UI; small limits keep the heap from
      // growing with the run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1fs] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
}

/** What one timed pass produced. */
final case class PassResult(seconds: Double, cpuS: Double, stealShare: Double, written: Long,
                            digest: String, docsFailed: Long, out: String,
                            counters: Pipeline.Counters, heapMb: Double) {
  def triplesPerS: Double = written / seconds
  def triplesPerCpuS: Double = written / cpuS
}

/** One benchmark run of one workload. */
final class Run(val a: Main.Args, sizes: Main.Sizes) {
  import Main._

  val Buckets = 32
  val TimedPasses = 4
  /** Query latencies keep falling for many rounds (JIT), so a slow host
    * that completed fewer rounds would also report colder ones; a fixed
    * minimum puts every run's latencies at the same point of that curve.
    */
  val QueryRounds = 6
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val trace = new Trace(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}", a.trace)
  val work: Path = a.work.resolve(s"run-${a.workload}-${ProcessHandle.current().pid()}")

  val corpusSpec: Gen.Corpus =
    if (a.workload == "build_heavy") Gen.Heavy(sizes.heavyDocs) else Gen.RepoMix(sizes.mixFiles)

  // ---------------------------------------------------- expected outputs
  lazy val metas: IndexedSeq[Gen.FileMeta] =
    (0L until corpusSpec.files.toLong).map(f => corpusSpec.meta(a.seed, f))
  lazy val expectedQuads: Long = metas.map(_.quads.toLong).sum
  lazy val expectedQuarantine: Seq[String] =
    (0L until corpusSpec.files.toLong).flatMap { f =>
      metas(f.toInt).quarantine.zipWithIndex.map { case (code, idx) =>
        s"${corpusSpec.docId(a.seed, f, idx)}|$code"
      }
    }.sorted
  lazy val oracle = new Queries.Oracle(a.seed, metas.flatMap(_.items))

  // ------------------------------------------------------ op accounting
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Deliberately wrong expectations. Only the smoke run sets them, to
    * prove that each check fails when its expectation is wrong.
    */
  var tamperQuads = 0L
  var tamperDigest = false
  var tamperQuarantine = false
  var tamperQuery = false

  def op(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Exception => log(s"$name threw: $e"); false
    }
    if (!ok) { failed += 1; failures += name; log(s"FAILED: $name") }
    ok
  }

  // ------------------------------------------------------------ session
  var spark: SparkSession = _
  var ctx: Broadcast[Map[String, String]] = _
  var corpusDir: String = _
  val recorder = new Recorder
  val heap = new HeapAfterGc

  def corpus: Dataset[RepoFile] = {
    val s = spark
    import s.implicits._
    spark.read.parquet(corpusDir).as[RepoFile]
  }

  def materialize(dir: String): Unit = {
    val s = spark
    import s.implicits._
    val spec = corpusSpec
    val seed = a.seed
    spark.range(0L, spec.files.toLong, 1L, 4 * spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(f => spec.file(seed, f)))
      .write.mode("overwrite").parquet(dir)
  }

  // --------------------------------------------------------------- pass
  private var passNo = 0
  private var refDigest: String = _

  /** scan → detect → transform → dedup → committed bucketed graph. Every
    * pass starts from a full GC, so no pass inherits its predecessor's
    * garbage.
    */
  def pass(label: String, afterTimed: () => Unit = () => ()): PassResult =
    trace.span(s"pass.$label") {
      passNo += 1
      val out = work.resolve(s"graph-$passNo").toString
      val counters = Pipeline.newCounters(spark)
      heap.startWindow()
      val cpu0 = Cpu.programS
      val steal0 = Cpu.stealS
      val (_, secs) = timed {
        val docs = trace.span("Pipeline.detectStage")(Pipeline.detectStage(corpus, counters))
        val pipe = trace.span("Pipeline.transformStage")(Pipeline.transformStage(docs, ctx, counters))
        val q = trace.span("Pipeline.quads")(Pipeline.quads(pipe))
        val deduped = trace.span("Pipeline.dedupForWrite")(Pipeline.dedupForWrite(q, Buckets))
        trace.span("CorpusIO.writeTriples")(CorpusIO.writeTriples(deduped, out, Buckets))
      }
      val cpuS = Cpu.programS - cpu0
      val stealShare = (Cpu.stealS - steal0) / (secs * Runtime.getRuntime.availableProcessors())
      val heapMb = heap.windowPeakMb()
      afterTimed()
      val (written, digest) = trace.span("check.readBack")(graphDigest(out))
      PassResult(secs, cpuS, stealShare, written, digest, counters.docsFailed.value, out, counters, heapMb)
    }

  /** Distinct quad count and an order-independent digest (sum of per-row
    * 64-bit hashes) of the written graph, read back from storage.
    */
  def graphDigest(dir: String): (Long, String) = {
    val cols = Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")
    val r = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** The graph digest every pass must reproduce: the committed table's
    * entry for this workload, size and seed. A seed the table lacks falls
    * back to the first digest any run of the same benchmark sources stored
    * in the work directory; that catches nondeterminism, but not a change
    * of the program between runs.
    */
  private def expectedDigest(first: String): String =
    Digests.load(a.digests).get((a.workload, corpusSpec.files, a.seed)) match {
      case Some((_, d)) => d
      case None =>
        val f = a.work.resolve("digests").resolve(a.benchStamp)
          .resolve(s"${a.workload}-${corpusSpec.files}-${a.seed}.txt")
        if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim
        else {
          log(s"no committed digest for ${a.workload} seed ${a.seed}; storing this run's")
          Files.createDirectories(f.getParent)
          Files.write(f, first.getBytes("UTF-8"))
          first
        }
    }

  /** The per-pass output checks. */
  def checkPass(p: PassResult): Boolean = {
    if (refDigest == null) refDigest = expectedDigest(p.digest)
    val expDigest = if (tamperDigest) "0" else refDigest
    val checks = Seq(
      "distinct quads" -> (p.written == expectedQuads + tamperQuads),
      "graph digest" -> (p.digest == expDigest),
      "quarantined docs" -> (p.docsFailed == expectedQuarantine.size.toLong))
    checks.filterNot(_._2).foreach { case (n, _) =>
      log(s"check '$n' failed: written=${p.written} expected=${expectedQuads + tamperQuads} " +
        s"digest=${p.digest} expected=$expDigest docsFailed=${p.docsFailed} " +
        s"expected=${expectedQuarantine.size}")
    }
    checks.forall(_._2)
  }

  def passOp(label: String, afterTimed: () => Unit = () => ()): PassResult = {
    var r: PassResult = null
    op(s"pass $label") { r = pass(label, afterTimed); checkPass(r) }
    if (r == null) throw new IllegalStateException(s"pass $label did not complete")
    r
  }

  /** Every quarantined document, with its code, equals the injected set. */
  def auditQuarantine(): Boolean = op("quarantine audit") {
    val s = spark
    import s.implicits._
    val c = Pipeline.newCounters(spark)
    val got = Pipeline.quarantine(
      Pipeline.transformStage(Pipeline.detectStage(corpus, c), ctx, c))
      .select(concat_ws("|", col("docId"), col("errorCode"))).as[String].collect().toSeq.sorted
    val exp =
      if (tamperQuarantine) (expectedQuarantine :+ "phantom|invalid input").sorted else expectedQuarantine
    val ok = got == exp && !got.exists(_.endsWith("|crash"))
    if (!ok) log(s"quarantine: got ${got.take(5)}… (${got.size}), expected ${exp.take(5)}… (${exp.size})")
    ok
  }

  // ------------------------------------------------------------ queries
  var graph: DataFrame = _

  def useGraph(dir: String): Unit =
    graph = spark.read.parquet(dir)
      .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))

  final case class QueryTiming(cls: String, compileMs: Double, planMs: Double, execMs: Double,
                               cpuMs: Double, jobs: Int, scanBytes: Long, files: Long) {
    def totalMs: Double = compileMs + planMs + execMs
  }

  private var queryNo = 0L

  /** Send one query, collect every row, check it against the oracle.
    * Returns null when the query threw (the op is counted as failed).
    */
  def runQuery(record: Boolean): QueryTiming = {
    val q = oracle.query(queryNo)
    queryNo += 1
    if (record) { Bus.drain(spark.sparkContext); recorder.reset() }
    var timing: QueryTiming = null
    op(s"query ${q.cls} #${queryNo - 1}") {
      trace.span(s"query.${q.cls}") {
        val cpu0 = Cpu.programS
        val (df, compile) = timed(trace.span("GraphOps.query")(GraphOps.query(graph, q.text)))
        val (plan, planS) = timed(trace.span("executedPlan")(df.queryExecution.executedPlan))
        val (rows, exec) = timed(trace.span("collect")(df.collect()))
        val cpuMs = (Cpu.programS - cpu0) * 1e3
        val (jobs, bytes, files) =
          if (record) {
            Bus.drain(spark.sparkContext)
            val scans = Plans.fileScans(df.queryExecution.executedPlan)
            (recorder.jobs, scans.map(_._1).sum, scans.map(_._2).sum)
          } else (0, 0L, 0L)
        timing = QueryTiming(q.cls, compile * 1e3, planS * 1e3, exec * 1e3, cpuMs, jobs, bytes, files)
        val ok = q.check(rows) && !tamperQuery
        if (!ok) log(s"query ${q.cls} answer mismatch: ${q.text.replace('\n', ' ')} → " +
          rows.take(5).mkString(",") + s" (${rows.length} rows), expected ${q.expected.take(5)}")
        ok
      }
    }
    timing
  }

  // -------------------------------------------------------------- setup
  var sparkS = 0.0
  var generateS = 0.0
  var warmupS = 0.0
  val buildTps = mutable.ArrayBuffer.empty[Double]
  val buildTpcs = mutable.ArrayBuffer.empty[Double]
  val passHeapMb = mutable.ArrayBuffer.empty[Double]
  var lastGraph: String = _

  /** JVM + Spark start, generation and materialization, then warm-up
    * passes back to back (queries in between disturb the passes that
    * follow; the queries are warmed up after the timed passes, see
    * [[warmQueries]]). Pass and query times of a fresh JVM keep falling
    * for many rounds (JIT compilation), so the warm-up count is fixed:
    * every run starts timing at the same point of that curve.
    */
  def setup(): Unit = {
    Files.createDirectories(work)
    spark = trace.span("setup.spark")(session(a.work))
    sparkS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx = spark.sparkContext.broadcast(Gen.contextMap)
    corpusDir = work.resolve("corpus").toString
    generateS = timed(trace.span("setup.generate")(materialize(corpusDir)))._2
    log(f"spark ${sparkS}%.2fs, generate ${generateS}%.2fs " +
      s"(${corpusSpec.files} files, $expectedQuads quads expected, " +
      s"${expectedQuarantine.size} quarantined expected)")
    val (_, w) = timed(trace.span("setup.warmup") {
      (1 to sizes.warmupPasses).foreach { i =>
        val r = passOp(s"warmup-$i")
        log(f"warm-up pass $i: ${r.seconds}%.2fs ${r.triplesPerS}%.0f triples/s, heap ${r.heapMb}%.0f MB")
        if (lastGraph != null) dropGraph(lastGraph)
        lastGraph = r.out
      }
    })
    warmupS = w
  }

  private def dropGraph(dir: String): Unit = deleteTree(Paths.get(dir))

  def setupS: Double = sparkS + generateS + warmupS

  /** Untimed rounds of every query class on the current graph; counted
    * as warm-up. Run after the timed passes: queries between passes
    * disturb the passes that follow.
    */
  def warmQueries(): Unit =
    warmupS += timed(trace.span("setup.warmup")(
      (1 to sizes.warmupQueryRounds).foreach(_ =>
        Queries.Classes.foreach(_ => runQuery(record = false)))))._2

  /** Timed passes; the last pass's graph becomes the queried graph. */
  def timedPasses(minPasses: Int, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < minPasses || System.nanoTime() < end) {
      n += 1
      val r = passOp(s"timed-$n")
      buildTps += r.triplesPerS
      buildTpcs += r.triplesPerCpuS
      passHeapMb += r.heapMb
      log(f"timed pass $n: ${r.seconds}%.2fs ${r.triplesPerS}%.0f triples/s, " +
        f"${r.cpuS}%.2f CPU-s ${r.triplesPerCpuS}%.0f triples/CPU-s, heap ${r.heapMb}%.0f MB, " +
        f"steal ${r.stealShare * 100}%.0f%%")
      dropGraph(lastGraph)
      lastGraph = r.out
    }
    useGraph(lastGraph)
  }

  // --------------------------------------------------------------- runs
  def main(): Unit = {
    try {
      setup()
      val out = if (a.trace) new Traced(this).run() else untraced()
      if (failed > 0) log(s"failed ops: ${failures.mkString(", ")}")
      trace.write(a.work.resolve("traces").resolve(s"${trace.runId}.jsonl"))
      println(json(failed == 0, attempted, failed, out))
    } finally close()
  }

  def close(stopSpark: Boolean = true): Unit = {
    if (spark != null && stopSpark) spark.stop()
    deleteTree(work)
  }

  /** Build passes for 40% of the run, then the closed query loop (one
    * client) over the last pass's graph for the rest. The end-to-end
    * figures are CPU times; wall times go to the log (and, from the traced
    * run, to the per-layer metrics).
    */
  def untraced(): Seq[(String, Double, String)] = {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    timedPasses(minPasses = TimedPasses, a.seconds * 0.4)
    warmQueries()
    // whole rounds of the class rotation: with equal counts per class the
    // percentiles fall inside one class's latencies, not between two
    val end = System.nanoTime() + (a.seconds * 0.6e9).toLong
    while (System.nanoTime() < end || latencies.size < QueryRounds * Queries.Classes.size) {
      // a query that throws has no latency; it counts in `failed`
      val round = Queries.Classes.flatMap(_ => Option(runQuery(record = false)))
      log(round.map(t => f"${t.totalMs}%.0f/${t.cpuMs}%.0f").mkString("query round (ms wall/CPU): ", " ", ""))
      latencies ++= round.map(_.totalMs)
      cpus ++= round.map(_.cpuMs)
    }
    auditQuarantine()
    log(f"${latencies.size} queries: wall p50 ${percentile(latencies.toSeq, 0.5)}%.1f ms, " +
      f"p90 ${percentile(latencies.toSeq, 0.9)}%.1f ms; build ${median(buildTps.toSeq)}%.0f triples/s; " +
      f"setup $setupS%.2fs (spark $sparkS%.2f, generate $generateS%.2f, warmup $warmupS%.2f)")
    val share = failed.toDouble / attempted
    println(f"failed_op_share $share%.4f ratio ($failed of $attempted ops)")
    Seq(
      ("build_triples_per_cpu_s", median(buildTpcs.toSeq), "triples/cpu-s"),
      ("query_cpu_p50_ms", percentile(cpus.toSeq, 0.5), "ms"),
      ("query_cpu_p90_ms", percentile(cpus.toSeq, 0.9), "ms"),
      ("heap_after_gc_mb", passHeapMb.sum / passHeapMb.size, "MB"),
      ("setup_s", setupS, "s"))
  }
}
