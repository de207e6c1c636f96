package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The committed table of expected graph digests, `perfbench/digests.tsv`:
  * one line per workload, corpus size and seed, with the distinct-quad
  * count and the digest ([[Run.graphDigest]]) of the graph graft wrote when
  * the table was recorded. Every pass must reproduce its line, so a change
  * that alters the written graph (a literal's datatype or language, a
  * blank-node label) fails the pass even when the quad count holds. A
  * change that alters the graph on purpose re-records the table with
  * `--record-digests` and says why.
  */
object Digests {
  type Key = (String, Int, Long)

  def load(p: Path): Map[Key, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(w, files, seed, quads, digest) = l.split("\t")
        (w, files.toInt, seed.toLong) -> (quads.toLong, digest)
      }.toMap

  /** One pass per workload and seed in one session; the quad count must
    * match the generator's, then the line is written. Lines of other seeds
    * and sizes are kept.
    */
  def record(a: Main.Args): Int = {
    val lines = scala.collection.mutable.TreeMap.empty[Key, (Long, String)] ++= load(a.digests)
    var bad = 0
    for (w <- Main.Workloads; seed <- a.recordSeeds) {
      val r = new Run(a.copy(workload = w, seed = seed, trace = false),
        Main.FullSizes.copy(warmupPasses = 0))
      try {
        r.setup()
        val p = r.pass("record")
        if (p.written != r.expectedQuads || p.docsFailed != r.expectedQuarantine.size) {
          Main.log(s"$w seed $seed: wrote ${p.written} quads, expected ${r.expectedQuads}; not recorded")
          bad += 1
        } else lines((w, r.corpusSpec.files, seed)) = (p.written, p.digest)
        Main.log(s"$w seed $seed: ${p.written} quads, digest ${p.digest}")
      } finally r.close(stopSpark = false)
    }
    val header = "# workload\tfiles\tseed\tdistinct_quads\tdigest"
    Files.write(a.digests, (header +: lines.toSeq.map { case ((w, f, s), (q, d)) =>
      s"$w\t$f\t$s\t$q\t$d" }).asJava)
    println(Main.json(bad == 0, a.recordSeeds.size * Main.Workloads.size, bad, Nil))
    if (bad == 0) 0 else 1
  }
}
