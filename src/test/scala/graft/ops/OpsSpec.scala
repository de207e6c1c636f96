package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Training-data operator semantics + the portable-hash contract that the
  * DuckDB oracles rely on (JVM mirror == Spark column value), plus
  * plan-shape assertions for the ops family (candidate generation must be
  * an equi-join, never a cartesian product).
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("PortableHash: JVM mirror equals the Spark column for varied inputs") {
    val sp = spark; import sp.implicits._
    val inputs = Seq("", "hello", "plane0:17", "päö δ 漢字", "a|b|c", "0|the")
    val sparkVals = inputs.toDF("s").select(PortableHash.h60(col("s")))
      .collect().map(_.getLong(0))
    val jvmVals = inputs.map(PortableHash.h60)
    assert(sparkVals.toSeq == jvmVals)
    assert(jvmVals.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("fingerprint is order-sensitive and matches a JVM fold of the chain") {
    val sp = spark; import sp.implicits._
    val df = Seq(("one two three", 1L), ("three two one", 2L), ("", 3L))
      .toDF("text", "doc_id")
    val got = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def chain(words: Seq[String]): Long =
      words.foldLeft(0L)((acc, w) => PortableHash.h60(s"$acc|$w"))
    assert(got(1L) == chain(Seq("one", "two", "three")))
    assert(got(2L) == chain(Seq("three", "two", "one")))
    assert(got(1L) != got(2L), "order-insensitive fingerprint")
    assert(got(3L) == 0L, "empty doc fingerprint must be the fold seed")
  }

  test("tfIdf: rare terms outrank stopwords, rank caps at topK, ties break on token") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "the the the zebra")).toDF("doc_id", "text")
    val got = TextOps.tfIdf(docs, col("doc_id"), col("text"), topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 3: "the" tf=3 df=3 → 3*1e6*3/3 = 3e6; "zebra" tf=1 df=1 → 3e6 —
    // tie breaks lexically: "the" then "zebra"
    assert(got((3L, 1L)) == (("the", 3L, 3L, 3000000L)))
    assert(got((3L, 2L)) == (("zebra", 1L, 1L, 3000000L)))
    // doc 1: "cat"/"mat" tf=1 df=1 → 3e6 beat "the" tf=2 df=3 → 2e6
    assert(got((1L, 1L))._1 == "cat" && got((1L, 2L))._1 == "mat")
    // rank never exceeds topK
    assert(got.keys.forall(_._2 <= 2L))
    // partition-invariance: same result from a different layout
    val re = TextOps.tfIdf(docs.repartition(7), col("doc_id"), col("text"), topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(re == got)
  }

  test("bm25: shorter doc outranks longer at equal tf; absent terms drop docs; n_hits counts distinct terms") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "spark join"),                       // both terms, short
      (2L, "spark join filler filler filler"),  // both terms, longer → lower
      (3L, "filler only text here")).toDF("doc_id", "text")
    val got = TextOps.bm25(docs, col("doc_id"), col("text"), Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(3L), "doc without any query term must not appear")
    assert(got(1L)._2 == 2L && got(2L)._2 == 2L)
    assert(got(1L)._1 > got(2L)._1, "length normalization must favor the shorter doc")
    // partition-invariance of the quantized scores
    val re = TextOps.bm25(docs.repartition(5), col("doc_id"), col("text"),
        Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(re == got)
  }

  test("quantizeInt8: max element saturates to ±127, zeros stay zero, dequant error bounded") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizeInt8(df, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getSeq[Long](2)))).toMap
    val (s1, q1) = got(1L)
    assert(s1 == 127.0, "scale is 127 / max|x|")
    assert(q1 == Seq(64L, -127L, 32L, 0L))  // 0.5*127+0.5=64.0 → 64; -127+0.5 → -127
    val (s2, q2) = got(2L)
    assert(s2 == 0.0 && q2 == Seq(0L, 0L, 0L, 0L), "zero vector stays zero")
    // dequantization error ≤ half a quantization step
    q1.zip(Seq(0.5, -1.0, 0.25, 0.0)).foreach { case (q, x) =>
      assert(math.abs(q / s1 - x) <= 0.5 / s1 + 1e-12)
    }
  }

  test("canonicalizeUrl: case/fragment/tracking/param-order variants collapse; path case kept") {
    val sp = spark; import sp.implicits._
    val urls = Seq(
      "HTTPS://WWW.Example.COM/Page/1?utm_source=x&b=2&a=1#frag",
      "https://www.example.com/Page/1?a=1&b=2",
      "https://www.example.com/page/1?a=1&b=2", // path case differs → distinct
      "not a url at all#frag",
      "https://host/bare").toDF("u")
    val got = urls.select(TextOps.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == got(1), "variants must canonicalize identically")
    assert(got(0) == "https://www.example.com/Page/1?a=1&b=2")
    assert(got(2) == "https://www.example.com/page/1?a=1&b=2")
    assert(got(2) != got(1), "path case is significant")
    assert(got(3) == "not a url at all", "non-URL passes through sans fragment")
    assert(got(4) == "https://host/bare")
  }

  test("gopherQuality: repetition and word-count rules fire; micro-units partition-invariant") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over lazy dogs"),  // 8 words, varied → passes
      (2L, "spam spam spam spam spam ham"),              // top-word frac 5/6 → fails
      (3L, "too short"),                                 // 2 words → fails
      (4L, "x #### <<<< {{{{ }}}} yyyy zzzz wwww vvvv")) // symbols → fails
      .toDF("doc_id", "text")
    val got = TextOps.gopherQuality(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L)._4, s"doc 1 should pass, got ${got(1L)}")
    assert(!got(2L)._4 && got(2L)._3 == 833333L, "5/6 repetition → 833333 micro, fails")
    assert(!got(3L)._4, "2 words < minWords")
    assert(!got(4L)._4, "symbol ratio over budget")
    val re = TextOps.gopherQuality(docs.repartition(5), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5))).toMap
    assert(re == got)
  }

  test("contamination: shared n-grams flag probes, multiset counting, clean docs listed with zero") {
    val sp = spark; import sp.implicits._
    val probe = Seq(
      (1L, "alpha beta gamma delta"),              // shares "alpha beta gamma"
      (2L, "alpha beta gamma alpha beta gamma x"), // shares it TWICE (multiset)
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma epsilon").toDF("text")
    val got = TextOps.contamination(probe, col("doc_id"), col("text"),
        bench, col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(1L) == ((1L, 2L, true)))
    assert(got(2L) == ((2L, 5L, true)), "repeated contamination must count per occurrence")
    assert(got(3L) == ((0L, 2L, false)), "clean doc appears with zero hits")
  }

  test("piiStats: counts per type, redaction order preserves phone digits from the IP regex") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@test.org and x@y.io here"),
      (2L, "call +44 123 4567 8901 now"),
      (3L, "server 192.168.0.1 and 10.0.0.255"),
      (4L, "nothing sensitive")).toDF("doc_id", "text")
    val got = TextOps.piiStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((2L, 0L, 0L)))
    assert(got(2L) == ((0L, 0L, 1L)))
    assert(got(3L) == ((0L, 2L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L)))
    // redaction fingerprint equals the hash of the hand-redacted text
    val fp = TextOps.piiStats(docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
      .collect().head.getLong(4)
    assert(fp == PortableHash.h60("call [PHONE] now"))
  }

  test("simhash60: identical texts agree; near texts are hamming-close; bits fit in 60") {
    val sp = spark; import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completamente diferente conjunto de palabras sin relación alguna aquí"
    val rows = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val hs = DedupOps.simhashBuckets(rows, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) == hs(2L))
    assert(hs.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(hamming(hs(1L), hs(3L)) < hamming(hs(1L), hs(4L)),
      s"near doc not closer: near=${hamming(hs(1L), hs(3L))} far=${hamming(hs(1L), hs(4L))}")
  }

  test("minhashNearDuplicates finds planted near-dups, collapses exact dups, respects the cap") {
    val sp = spark; import sp.implicits._
    // NB the tokenizer is lower → split [^a-z]+, so words must differ in
    // LETTERS; doc 3 differs from doc 1 only in case/punctuation → shingle
    // Jaccard exactly 1 → every band collides (deterministic detection)
    val ws = (0 until 30).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}word")
    val body = ws.mkString(" ")
    val nearBody = ws.map(_.toUpperCase).mkString(", ") + "!!!"
    val docs = Seq(
      (1L, body), (2L, body),          // exact dups → collapse to doc 1
      (3L, nearBody),                  // near-dup of 1 (tokenizes identically)
      (4L, (0 until 30).map(i => s"zz${('a' + i % 26).toChar}other").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDuplicates(docs, col("text"), col("doc_id"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 3L)), s"planted near-dup not found: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "exact duplicate doc 2 must be collapsed before LSH")
    // cap = 1 → one row per bucket → no pairs can form
    val capped = DedupOps.minhashNearDuplicates(docs, col("text"), col("doc_id"),
      threshold = 0.5, maxBucket = 1)
    assert(capped.count() == 0)
  }

  test("minhash cap drops are reported, never silent (WithStats side-output)") {
    val sp = spark; import sp.implicits._
    // 6 distinct texts that tokenize identically (case/punct variants) →
    // 6 reps, all landing in the SAME bucket of every band
    val ws = (0 until 30).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}word")
    val variants = Seq(" ", ", ", " - ", "  ", " ~ ", " ! ")
    val docs = variants.zipWithIndex.map { case (sep, i) =>
      ((i + 1).toLong, ws.mkString(sep) + (if (i % 2 == 0) "" else "."))
    }.toDF("doc_id", "text")
    val bands = 8
    val (pairs, drops) = DedupOps.minhashNearDuplicatesWithStats(
      docs, col("text"), col("doc_id"), bands = bands, threshold = 0.5, maxBucket = 2)
    // cap 2 → 4 of the 6 band rows dropped in each of the 8 band buckets
    val dropRows = drops.collect()
    assert(dropRows.map(_.getAs[Long]("dropped_docs")).sum == 4L * bands,
      s"expected ${4 * bands} dropped band rows: ${dropRows.toSeq}")
    // kept docs (1,2) still pair up — the cap trims, it doesn't zero out
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    // and with a roomy cap the side-output is empty
    val (_, noDrops) = DedupOps.minhashNearDuplicatesWithStats(
      docs, col("text"), col("doc_id"), threshold = 0.5, maxBucket = 100)
    assert(noDrops.count() == 0)
  }

  test("embedding cap drops are reported, never silent (WithStats side-output)") {
    val sp = spark; import sp.implicits._
    // 5 near-identical vectors → one SRP bucket; cap 2 → 3 dropped
    val vecs = (1 to 5).map(i => (i.toLong, Array(1f, 0.001f * i, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val (pairs, drops) = SimilarityOps.embeddingNearDuplicatesWithStats(
      vecs, col("embedding"), col("vec_id"), threshold = 0.9, planes = 2, maxBucket = 2)
    assert(drops.collect().map(_.getAs[Long]("dropped_vectors")).sum == 3L)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("connectedComponents labels transitive chains; duplicateClusters tops the dedup stack") {
    val sp = spark; import sp.implicits._
    // components: {1,2,3,4} (a chain), {10,11}, {20} (isolated)
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val got = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))

    // duplicateClusters: exact dups AND transitive near-dups share one rep
    val ws = (0 until 30).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}word")
    val body = ws.mkString(" ")
    val docs = Seq(
      (1L, body), (5L, body),                     // exact dups of each other
      (3L, ws.map(_.toUpperCase).mkString(", ")), // near-dup of 1 (tokenizes same)
      (7L, "totally unrelated content here with many different words")
    ).toDF("doc_id", "text")
    val clusters = DedupOps.duplicateClusters(docs, col("text"), col("doc_id"),
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 5L -> 1L, 3L -> 1L, 7L -> 7L), clusters.toString)
  }

  test("connectedComponents: O(log n) rounds on a 1000-link chain; 3 rounds must raise") {
    val sp = spark; import sp.implicits._
    // the adversarial case for min-label propagation: a diameter-1000
    // chain needs ~1000 label rounds, but large-star/small-star must
    // close it in O(log n) — 12 rounds is the ⌈log₂ 1001⌉ = 10 bound plus
    // the fixpoint-detection round and one slack round
    val n = 1000L
    val chainNodes = (0L to n).toDF("id")
    val chainEdges = (0L until n).map(i => (i, i + 1)).toDF("a", "b")
    val labels = DedupOps.connectedComponents(chainNodes, chainEdges, maxIterations = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n.toInt + 1 && labels.values.forall(_ == 0L),
      "every chain node must label to the minimum id 0")
    // too small a round budget raises (observable non-convergence), not mislabels
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(chainNodes, chainEdges, maxIterations = 3).collect()
    }
    // empty edge set: all singletons, no iteration
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.connectedComponents(Seq(7L).toDF("id"), none)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 7L)))
    val docs = Seq((1L, "aa bb cc dd"), (5L, "aa bb cc dd"),
      (9L, "zz yy xx ww")).toDF("doc_id", "text")
    val clusters = DedupOps.duplicateClusters(docs, col("text"), col("doc_id"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 5L -> 1L, 9L -> 9L))
  }

  test("exactDuplicatePairs recovers the dup→rep mapping the LSH collapse hides") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "aa bb cc"), (4L, "aa bb cc"), (2L, "aa bb cc"),
      (3L, "unrelated words here")).toDF("doc_id", "text")
    val got = DedupOps.exactDuplicatePairs(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0), (1L, 4L, 1.0)))
  }

  test("embeddingNearDuplicates: no false positives vs brute force; cosines correct") {
    val sp = spark; import sp.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f, 0f)),  // near-dup of 1
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 0f))        // zero vector → excluded
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.embeddingNearDuplicates(
        vecs, col("embedding"), col("vec_id"), threshold = 0.9, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // whatever the buckets did, every reported pair must truly be >= 0.9
    assert(got.forall(_._3 >= 0.9))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), "zero vector must be excluded")
    // (1,2) cosine ≈ 0.995 — same orthant for any hyperplane set, so SRP
    // with few planes must keep them together
    assert(got.map(p => (p._1, p._2)).contains((1L, 2L)), s"missed near-dup: ${got.toSeq}")
  }

  test("srpCodeFixedDims is bit-identical to the dynamic srpCode") {
    val sp = spark; import sp.implicits._
    val vecs = (1 to 50).map(i =>
      (i.toLong, Array(math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat,
        (i % 7 - 3) * 0.25f, -0.5f + i * 0.01f)))
      .toDF("vec_id", "embedding")
    val both = vecs.select(
      SimilarityOps.srpCode(col("embedding"), 10).as("dynamic"),
      SimilarityOps.srpCodeFixedDims(col("embedding"), 10, 4).as("fixed"))
      .collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)),
      both.filter(r => r.getLong(0) != r.getLong(1)).take(3).toSeq.toString)
  }

  test("multi-probe recovers hamming-1 near-dup pairs that single-probe misses at planes=12") {
    val sp = spark; import sp.implicits._
    val planes = 12
    // deterministic hyperplanes → find a planted pair of high-cosine vectors
    // whose SRP codes differ in exactly ONE bit (split by one hyperplane)
    val family = (1 to 60).map(i => (i.toLong, Array(1f, i * 0.01f, 0.3f, 0f)))
    val codes = family.toDF("vec_id", "embedding")
      .select(col("vec_id"), SimilarityOps.srpCode(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val planted = (for {
      (ia, va) <- family; (ib, vb) <- family
      if ia < ib && java.lang.Long.bitCount(codes(ia) ^ codes(ib)) == 1 &&
        cosine(va, vb) >= 0.99
    } yield (ia, ib, va, vb)).headOption
    assert(planted.nonEmpty, "test family produced no hamming-1 high-cosine pair; widen the grid")
    val (ia, ib, va, vb) = planted.get

    val two = Seq((ia, va), (ib, vb)).toDF("vec_id", "embedding")
    val single = SimilarityOps.embeddingNearDuplicates(
      two, col("embedding"), col("vec_id"), threshold = 0.9, planes = planes)
    assert(single.count() == 0, "single-probe unexpectedly found the split pair")
    val multi = SimilarityOps.embeddingNearDuplicates(
      two, col("embedding"), col("vec_id"), threshold = 0.9, planes = planes,
      multiProbe = true)
    assert(multi.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((ia, ib)),
      "multi-probe must recover the hamming-1 pair exactly once")

    // and lshTopK: a query equal to va must find vb only with multiProbe
    val q = va.map(_.toDouble).toSeq
    val oneVec = Seq((ib, vb)).toDF("vec_id", "embedding")
    assert(SimilarityOps.lshTopK(oneVec, col("embedding"), col("vec_id"), q, 5, planes).count() == 0)
    assert(SimilarityOps.lshTopK(oneVec, col("embedding"), col("vec_id"), q, 5, planes,
      multiProbe = true).collect().map(_.getLong(0)).toSeq == Seq(ib))
  }

  test("multimodal decode stub is the portable hash contract end-to-end") {
    val sp = spark; import sp.implicits._
    val payload = "some media bytes".getBytes("UTF-8")
    val f = MultimodalOps.decodeStub(payload)
    assert(f.length == 8)
    val expected0 =
      ((PortableHash.h60(payload ++ ":f0".getBytes("UTF-8")) % 1000003L).toDouble / 1000003.0).toFloat
    assert(f(0) == expected0)
    // featureSummary quantization: floor(f0 * 1e6) summed as long
    val media = spark.createDataset(Seq(
      MultimodalOps.MediaRow(1L, "image", "application/octet-stream", payload, 64, 64, -1L)))
    val sum = MultimodalOps.featureSummary(MultimodalOps.extractFeatures(media)).collect()(0)
    assert(sum.getAs[Long]("f0_micro_sum") == math.floor(expected0.toDouble * 1e6).toLong)
    assert(sum.getAs[Long]("total_bytes") == payload.length.toLong)
  }

  test("real PNG decode: generated payload is a genuine PNG; decode reports header truth") {
    val sp = spark; import sp.implicits._
    val png = MultimodalOps.pngBytes(23, 11, seed = 42L)
    // PNG magic: a REAL container format, not a fake
    assert(png.take(8).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    assert(MultimodalOps.decodeImage(png) == ((23, 11, 3)))
    // determinism: same (w, h, seed) → byte-identical PNG
    assert(java.util.Arrays.equals(png, MultimodalOps.pngBytes(23, 11, seed = 42L)))
    // garbage payload must raise, not return a silent placeholder
    assertThrows[IllegalArgumentException](
      MultimodalOps.decodeImage("not an image".getBytes("UTF-8")))
    // distributed round-trip: encode in one mapPartitions, decode in
    // another, dims must match the generator formula for every row
    val imgs = spark.createDataset(Seq(6L, 9L, 300L))
      .map(id => MultimodalOps.ImageRow(id,
        MultimodalOps.pngBytes(MultimodalOps.imageWidth(id), MultimodalOps.imageHeight(id), id)))
    val got = MultimodalOps.decodeImages(imgs).collect()
      .map(d => d.mediaId -> ((d.width, d.height, d.channels))).toMap
    assert(got == Map(
      6L -> ((14, 14, 3)), 9L -> ((17, 17, 3)), 300L -> ((52, 20, 3))))
  }

  test("real WAV decode: generated payload is genuine RIFF/WAVE; header truth round-trips") {
    val sp = spark; import sp.implicits._
    val wav = MultimodalOps.wavBytes(sampleRate = 11000, frames = 250, seed = 9L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE",
      "payload must be a real RIFF/WAVE container")
    val d = MultimodalOps.decodeAudio(wav)
    assert(d.sampleRateHz == 11000 && d.channels == 1 &&
      d.bitsPerSample == 16 && d.frames == 250L)
    assert(d.durationMicros == 250L * 1000000L / 11000L)
    assertThrows[IllegalArgumentException](
      MultimodalOps.decodeAudio("not audio".getBytes("UTF-8")))
    // distributed: encode in one mapPartitions, decode in another
    val rows = spark.createDataset(Seq(7L, 13L))
      .map(id => MultimodalOps.AudioRow(id, MultimodalOps.wavBytes(
        MultimodalOps.audioSampleRate(id), MultimodalOps.audioFrames(id), id)))
    val got = MultimodalOps.decodeAudios(rows).collect()
      .map(a => a.mediaId -> ((a.sampleRateHz, a.frames))).toMap
    assert(got == Map(7L -> ((15000, 107L)), 13L -> ((13000, 113L))))
  }

  test("LSH candidate generation plans an equi-join, never a cartesian product") {
    val sp = spark; import sp.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"doc number $i " + (1 to 10).map(j => s"w${i % 7}$j").mkString(" ")))
      .toDF("doc_id", "text")
    val p = DedupOps.minhashNearDuplicates(docs, col("text"), col("doc_id"), threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH degenerated to all-pairs:\n$p")
    val p2 = SimilarityOps.embeddingNearDuplicates(
        Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding"),
        col("embedding"), col("vec_id"), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"embedding near-dup degenerated to all-pairs:\n$p2")
  }

  test("localCheckpointWithSum: count and wrapping long sum ride one materialization") {
    val sp = spark; import sp.implicits._
    val df = Seq(Some(10L), None, Some(30L)).toDF("v")
    val (out, n, s) = org.apache.spark.sql.GraftInternal.localCheckpointWithSum(df, "v")
    assert(n == 3L && s == 40L) // a null row counts, and adds 0
    assert(out.select("v").collect().map(r => Option(r.get(0))).toSet ==
      Set(Some(10L), None, Some(30L)))
    // the sum wraps past Long.MaxValue like JVM long addition
    val (_, n1, s1) = org.apache.spark.sql.GraftInternal
      .localCheckpointWithSum(Seq(Long.MaxValue, 2L).toDF("v"), "v")
    assert(n1 == 2L && s1 == Long.MinValue + 1L)
    // an empty frame: no rows, sum 0
    val (_, n2, s2) = org.apache.spark.sql.GraftInternal
      .localCheckpointWithSum(df.filter(col("v") > 100L), "v")
    assert(n2 == 0L && s2 == 0L)
  }
}
