package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * - `bruteForceTopK` is the exactness baseline: broadcast the query
  *   vector, one codegen'd pass computing cosine, TakeOrdered for top-k.
  *   At 100 TB this is a full scan but zero shuffle (top-k is a
  *   treeReduce-style limit).
  * - `lshTopK` is the scale path: sign-random-projection buckets (an
  *   IVF/LSH hybrid): vectors land in 2^planes buckets keyed by the sign
  *   pattern against deterministic pseudo-random hyperplanes; the probe
  *   touches only the query's bucket (and optionally hamming-1 neighbors).
  *   Bucketing is a narrow map; the candidate set join is an equi-join on
  *   the bucket code.
  *
  * All arithmetic uses `zip_with`/`aggregate` higher-order functions —
  * codegen'd, no UDF.
  */
object SimilarityOps {

  /** Cosine similarity between an embedding column and a literal query
    * vector, computed in double precision, left-to-right sums.
    */
  def cosineToQuery(emb: Column, query: Seq[Double]): Column = {
    val q = array(query.map(lit): _*)
    val embD = transform(emb, x => x.cast("double"))
    val dot = aggregate(zip_with(embD, q, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(embD, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = math.sqrt(query.map(x => x * x).sum)
    dot / (na * lit(nb))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth cut for ANN at corpus scale (a 100 TB float32
    * embedding store becomes 25 TB; cell-probe scans stream 4× more
    * vectors per byte). Per-vector scale `127 / max|x_i|`, elements
    * `clamp(floor(x·scale + 0.5), −127, 127)` — half-up rounding in
    * double precision, deterministic and engine-replayable (float32
    * widens to double exactly, so both engines see identical inputs).
    * The all-zero vector keeps scale 0 and quantizes to zeros. One
    * narrow codegen'd projection: no shuffle, no UDF.
    *
    * Output: (vec_id, scale — the dequantizer is `q_i / scale`, q —
    * Array[Long] in [−127, 127]).
    */
  def quantizeInt8(vectors: DataFrame, id: Column, emb: Column): DataFrame =
    vectors.select(id.as("vec_id"),
        transform(emb, x => x.cast("double")).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale",
        when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          greatest(lit(-127L), least(lit(127L),
            floor(x * col("scale") + lit(0.5)).cast("long")))).as("q"))

  def bruteForceTopK(vectors: DataFrame, emb: Column, id: Column,
                     query: Seq[Double], k: Int): DataFrame =
    vectors.select(id.as("vec_id"), round(cosineToQuery(emb, query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed portable hash mapped to [-1, 1). No RNG state → task-retry
    * safe; portable ([[PortableHash.h60]]) → the DuckDB oracle reproduces
    * the exact bucket codes.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(PortableHash.h60(concat(lit(s"plane$plane:"), dim.cast("string"))), lit(2000001L))
      .cast("double") / 1000000.0) - lit(1.0)

  /** DuckDB SQL fragment mirroring [[planeComponent]]; `dimExpr` is a
    * 0-based dimension-index expression.
    */
  def planeComponentSql(plane: Int, dimExpr: String): String =
    s"((${PortableHash.sqlH60(s"'plane$plane:' || CAST($dimExpr AS VARCHAR)")} % 2000001) / 1000000.0 - 1.0)"

  /** DuckDB SQL fragment mirroring [[srpCode]] over a FLOAT[] column.
    * The dot product folds left-to-right in double precision, exactly as
    * Spark's `aggregate` does, so the sign (and thus the bucket) is
    * bit-identical. DuckDB lambda indexes are 1-based, hence `i - 1`.
    */
  def srpCodeSql(embExpr: String, planes: Int): String =
    (0 until planes).map { p =>
      val dot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($embExpr, (x, i) -> CAST(x AS DOUBLE) * ${planeComponentSql(p, "i - 1")})), (a, b) -> a + b)"
      s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Sign-random-projection bucket code over `planes` hyperplanes.
    * Handles ANY per-row vector length (the plane component is hashed from
    * the dimension index on the fly) — but that hash costs planes×dims md5
    * evaluations PER ROW; for fixed-dimension corpora use
    * [[srpCodeFixedDims]], which is bit-identical and hash-free per row.
    */
  def srpCode(emb: Column, planes: Int): Column = {
    val embD = transform(emb, x => x.cast("double"))
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(embD, sequence(lit(0), size(emb) - 1),
          (x, i) => x * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** [[srpCode]] with the hyperplane components PRECOMPUTED driver-side and
    * shipped as literal arrays — they depend only on (plane, dim), never on
    * the row, so evaluating the portable hash per row is pure waste (at 64
    * dims × 8 planes that's 512 md5 calls per row eliminated; measured as
    * most of the bucketing cost). Bit-identical to [[srpCode]] for vectors
    * of exactly `dims` elements: same hash → same component → same
    * left-to-right double fold → same sign. Vectors of OTHER lengths get a
    * null dot (zip_with length mismatch) → bit 0; use the dynamic
    * [[srpCode]] for ragged corpora.
    */
  def srpCodeFixedDims(emb: Column, planes: Int, dims: Int): Column = {
    val embD = transform(emb, x => x.cast("double"))
    val bits = (0 until planes).map { p =>
      val plane = array((0 until dims).map(i => lit(planeComponentValue(p, i))): _*)
      val dot = aggregate(zip_with(embD, plane, (x, c) => x * c),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  private def srpCodeFor(emb: Column, planes: Int, dims: Option[Int]): Column =
    dims match {
      case Some(d) => srpCodeFixedDims(emb, planes, d)
      case None => srpCode(emb, planes)
    }

  /** Bucketed ANN: probe only vectors sharing the query's SRP bucket,
    * then exact cosine within the bucket. Recall/latency knob = planes.
    *
    * `multiProbe` additionally probes every hamming-1 neighbor bucket
    * (planes+1 probes total): near neighbors split off by a single
    * hyperplane are recovered, so `planes` can grow (smaller buckets →
    * less scan) without the single-probe recall cliff. Still a narrow
    * filter — probe codes are a tiny IN-list, no join shape change.
    */
  def lshTopK(vectors: DataFrame, emb: Column, id: Column,
              query: Seq[Double], k: Int, planes: Int = 8,
              multiProbe: Boolean = false): DataFrame = {
    // the query's length IS the corpus dimensionality (vectors of any other
    // length are incomparable with the query anyway) → precomputed planes
    val coded = vectors.select(id.as("vec_id"), emb.as("emb"),
      srpCodeFixedDims(emb, planes, query.size).as("bucket"))
    // query bucket computed the same way, driver-side
    val queryBits = (0 until planes).map { p =>
      val dot = query.zipWithIndex.map { case (x, i) =>
        // must mirror planeComponent exactly; xxhash64 of the same string
        x * planeComponentValue(p, i)
      }.sum
      if (dot >= 0) 1L << p else 0L
    }
    val queryBucket = queryBits.reduce(_ | _)
    val probes: Seq[Long] =
      if (multiProbe) queryBucket +: (0 until planes).map(p => queryBucket ^ (1L << p))
      else Seq(queryBucket)
    coded.filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"), round(cosineToQuery(col("emb"), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Driver-side mirror of planeComponent — same portable 60-bit md5
    * prefix hash over the same UTF-8 string.
    */
  private def planeComponentValue(plane: Int, dim: Int): Double = {
    val pm = PortableHash.h60(s"plane$plane:$dim") % 2000001L
    pm.toDouble / 1000000.0 - 1.0
  }

  /** Embedding-cosine near-duplicate pairs: SRP-bucketed candidates (an
    * equi-join on the bucket code — never all pairs), verified with exact
    * cosine ≥ `threshold` inside the bucket. Vectors with negligible norm
    * are excluded up front (cosine is undefined there, and a zero-vector
    * flood would all land in one bucket). Like MinHash-LSH, single-probe
    * bucketing trades recall for linearity: pairs split by a hyperplane are
    * missed; lower `planes` (or multi-probe) to raise recall.
    */
  def embeddingNearDuplicates(vectors: DataFrame, emb: Column, id: Column,
                              threshold: Double, planes: Int = 4,
                              maxBucket: Int = 10000,
                              multiProbe: Boolean = false,
                              dims: Option[Int] = None): DataFrame =
    embeddingNearDuplicatesWithStats(vectors, emb, id, threshold, planes, maxBucket,
      multiProbe, dims)._1

  /** [[embeddingNearDuplicates]] plus the cap-drop side-output: one row per
    * overflowed SRP bucket with the count of vectors dropped by `maxBucket`
    * — a capped degenerate bucket is observable, never silent.
    *
    * `multiProbe` recovers pairs split by a single hyperplane: the LEFT
    * side explodes into its bucket plus all `planes` hamming-1 codes and
    * the join matches probe = right.bucket — each hamming-≤1 pair matches
    * exactly once (identity probe for same-bucket pairs, the one flipped
    * bit otherwise), so the equi-join shape and pair uniqueness both hold.
    * Cost: candidate fan-out ×(planes+1) on one side — the price of recall
    * at high `planes`, still never all-pairs.
    */
  def embeddingNearDuplicatesWithStats(vectors: DataFrame, emb: Column, id: Column,
                                       threshold: Double, planes: Int = 4,
                                       maxBucket: Int = 10000,
                                       multiProbe: Boolean = false,
                                       dims: Option[Int] = None): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val embD = transform(emb, x => x.cast("double"))
    val norm = sqrt(aggregate(transform(embD, x => x * x), lit(0.0), (acc, x) => acc + x))
    // norm is precomputed per VECTOR (not per pair): the verify join's cost
    // is pairs × dot-product; folding each side's norm into the bucketed
    // rows removes two of the three per-pair array aggregations. Cached:
    // both join sides and the cap-drop stats read it.
    val ranked = vectors
      .filter(norm > 1e-9)
      .select(id.as("vec_id"), emb.as("emb"), srpCodeFor(emb, planes, dims).as("bucket"),
        norm.as("norm"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .cache()
    val coded = ranked.filter(col("rn") <= maxBucket).drop("rn")
    val capDrops = ranked.filter(col("rn") > maxBucket)
      .groupBy(col("bucket")).agg(count(lit(1)).as("dropped_vectors"))
    val dot = aggregate(
      zip_with(transform(col("l.emb"), x => x.cast("double")),
        transform(col("r.emb"), x => x.cast("double")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val (left, joinKey) =
      if (multiProbe) {
        val probeCodes = array((col("bucket") +:
          (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))): _*)
        (coded.withColumn("probe", explode(probeCodes)),
          col("l.probe") === col("r.bucket"))
      } else (coded, col("l.bucket") === col("r.bucket"))
    val pairs = left.as("l").join(coded.as("r"),
        joinKey && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        round(dot / (col("l.norm") * col("r.norm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    (pairs, capDrops)
  }

  // ------------------------------------------------------------- IVF ANN

  /** Assign each vector to its nearest centroid (argmax cosine) — the IVF
    * coarse-quantizer step. Centroids arrive as (cellId, components)
    * literals (trained/sampled offline, tiny — they ship inside the plan,
    * the distributed analog of a broadcast); the scored array + `array_max`
    * keeps the whole assignment in one codegen'd projection, no shuffle.
    * Ties break toward the smaller cellId (struct max compares the cosine
    * first, then the negated id).
    */
  def ivfAssign(emb: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val scored = centroids.map { case (cid, c) =>
      struct(cosineToQuery(emb, c).as("c"), lit(-cid).as("n"))
    }
    -array_max(array(scored: _*)).getField("n")
  }

  /** Driver-side cosine with the exact arithmetic of [[cosineToQuery]]:
    * left-to-right double folds, dot / (normA * normB).
    */
  def cosineScalar(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val na = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
    val nb = math.sqrt(b.foldLeft(0.0)((acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** IVF (inverted-file) approximate nearest neighbor: vectors are
    * partitioned into `centroids.size` cells by nearest centroid; the
    * probe computes the query's `nprobe` nearest cells DRIVER-side (a few
    * scalar cosines) and scans only those cells with exact cosine → top-k.
    *
    * This is the other standard scale path next to SRP-LSH ([[lshTopK]]):
    * recall is controlled by nprobe/nlist instead of hyperplane count, and
    * cell sizes follow the data distribution instead of random cuts. The
    * plan is a narrow filter (cell IN probes) over one assignment
    * projection — no shuffle, no join; at 100 TB the assignment column is
    * precomputed once at ingest and the probe prunes by cell partition.
    */
  def ivfTopK(vectors: DataFrame, emb: Column, id: Column,
              centroids: Seq[(Int, Seq[Double])], query: Seq[Double],
              k: Int, nprobe: Int): DataFrame = {
    val probes = centroids
      .map { case (cid, c) => (cid, cosineScalar(query, c)) }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(nprobe).map(_._1)
    vectors
      .select(id.as("vec_id"), emb.as("emb"), ivfAssign(emb, centroids).as("cell"))
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), round(cosineToQuery(col("emb"), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic distributed k-means (Lloyd) for the IVF coarse
    * quantizer — upgrades [[ivfTopK]]'s codebook from "k designated rows
    * stand in for an offline-trained codebook" to an actually trained
    * one, without giving up reproducibility:
    *
    *  - '''init''': the k vectors with the smallest ids (stable across
    *    engines, partitionings, retries — no RNG);
    *  - '''assignment''': [[ivfAssign]], the same codegen'd argmax-cosine
    *    projection the query path uses;
    *  - '''update''': per-cell means computed from per-element QUANTIZED
    *    integer micro-units — `sum(long)` is order-independent, so the
    *    result is bit-identical no matter how the data is partitioned
    *    (a plain float mean is partition-order dependent and breaks
    *    retry/engine reproducibility);
    *  - empty cells keep their previous centroid.
    *
    * Plan per iteration: one narrow assignment projection + posexplode +
    * one hash aggregate on (cell, dim) — uniform keys, k·dims rows to the
    * driver (the codebook, tiny by construction). At 100 TB this is the
    * standard "train on a sample, assign at ingest" shape; pass a
    * sampled DataFrame for the training set.
    */
  def trainIvfCentroids(vectors: DataFrame, emb: Column, id: Column,
                        k: Int, iterations: Int = 5): Seq[(Int, Seq[Double])] = {
    require(k >= 1, "k must be >= 1")
    require(iterations >= 0, "iterations must be >= 0")
    // cache the training set: the init collect + every Lloyd iteration
    // reads it, and without the cache each pass re-evaluates the full
    // upstream lineage (for a parquet-backed training set that's
    // iterations+1 scans instead of one)
    val train = vectors.select(id.as("vid"), emb.as("v")).cache()
    try {
      val init = train
        .orderBy(col("vid")).limit(k)
        .collect()
        .zipWithIndex
        .map { case (r, i) => (i + 1, r.getSeq[Float](1).map(_.toDouble).toSeq) }
        .toSeq
      // a k-cell codebook needs k seeds — silently training a smaller
      // one would break every caller that probes `nprobe of k` cells
      require(init.size == k,
        s"training set has only ${init.size} vectors, need at least k = $k")
      (1 to iterations).foldLeft(init) { (cents, _) =>
        // assignment in its own projection stage: combining the argmax
        // struct with a generator alias in ONE select strips the struct's
        // field names during resolution (Spark re-resolves the projection
        // around the generator)
        val sums = train
          .select(col("v"))
          .select(ivfAssign(col("v"), cents).as("cell"), col("v"))
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg(sum((col("x").cast("double") * 1000000.0).cast("long")).as("qsum"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        cents.map { case (cid, c) =>
          val updated = c.indices.map { d =>
            sums.get((cid, d)) match {
              case Some((qsum, n)) => qsum.toDouble / n / 1000000.0
              case None => c(d) // empty cell: keep previous centroid
            }
          }
          (cid, updated)
        }
      }
    } finally train.unpersist()
  }

  /** DuckDB SQL fragment computing cosine(`aExpr`, `bExpr`) over FLOAT[]
    * columns with the exact arithmetic of [[cosineToQuery]] /
    * [[cosineScalar]]: cast-to-double, left-to-right folds (0.0-seeded
    * list_reduce, matching Spark's `aggregate`), dot / (normA * normB) —
    * so cell argmax comparisons are bit-identical, not merely close.
    * DuckDB lambda indexes are 1-based, hence `b[i]` pairing `a`'s i-th.
    */
  def cosineFoldSql(aExpr: String, bExpr: String): String = {
    def fold(body: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $body), (a, b) -> a + b)"
    val dot = fold(s"list_transform($aExpr, (x, i) -> CAST(x AS DOUBLE) * CAST($bExpr[i] AS DOUBLE))")
    val na = s"sqrt(${fold(s"list_transform($aExpr, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    val nb = s"sqrt(${fold(s"list_transform($bExpr, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    s"($dot / ($na * $nb))"
  }
}
