package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen `graft.Bench` driver contract. Times individual SparkEntry
  * queries with the SAME session config and the SAME action (`.count()`
  * over the whole build-then-count expression, interleaved best-of-k),
  * and additionally records per-query Spark job counts and shuffle-write
  * bytes (from a listener) plus, on request, `.explain("formatted")`
  * dumps for the plan evidence in plans/r06.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra [reps=3] [explainDir=...] [q1 q2 ...]"
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  */
object BenchExtra {

  private val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.collectFirst { case s if s.startsWith("reps=") => s.drop(5).toInt }
      .getOrElse(3)
    val explainDir = args.collectFirst { case s if s.startsWith("explainDir=") => s.drop(11) }
    val suffix = args.collectFirst { case s if s.startsWith("suffix=") => s.drop(7) }
      .getOrElse("before")
    val wanted = args.filterNot(s => s.contains("=")).toSeq
    Bench.cleanWorkRoot()
    val spark = Bench.newSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    val names =
      if (wanted.nonEmpty) wanted
      else SparkEntry.queries.keys.toSeq.sorted

    def snap(): (Long, Long) = {
      org.apache.spark.sql.GraftInternal.waitListenerBus(spark)
      (jobs.get(), shuffleBytes.get())
    }

    // one warmup pass (JIT) then `reps` interleaved timed passes, min per
    // query — the Bench discipline. Pass p runs the names rotated by p, so
    // no query always holds the same slot (the first slot reads slower).
    val all = (0 to reps).map { pass =>
      val r = pass % math.max(names.size, 1)
      (names.drop(r) ++ names.take(r)).map { name =>
        val (j0, s0) = snap()
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[benchextra] $name FAILED: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        val (j1, s1) = snap()
        name -> (sec, ok, j1 - j0, s1 - s0)
      }.toMap
    }
    val timed = all.drop(1) // drop warmup pass
    explainDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      names.foreach { name =>
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"${name}_$suffix.txt"), txt)
        } catch { case e: Throwable =>
          System.err.println(s"[benchextra] explain $name failed: ${e.getMessage}")
        }
      }
    }
    val out = names.map { name =>
      val per = timed.map(_(name))
      val best = per.map(_._1).min
      val ok = per.forall(_._2)
      val lastJobs = per.last._3
      val lastShufMb = per.last._4 / 1048576.0
      f""""$name":{"sec":$best%.3f,"ok":$ok,"jobs":$lastJobs,"shuffle_mb":$lastShufMb%.2f}"""
    }.mkString("{", ",", "}")
    val totalBest = names.map(n => timed.map(_(n)._1).min).sum
    println(f"""{"queries":$out,"total_best_sec":$totalBest%.2f,"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
