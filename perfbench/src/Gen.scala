package graftbench

import jsonld.spark.RepoFile

/** Seeded workload generator.
  *
  * Every file is a pure function of (seed, file index), so generation runs
  * inside Spark tasks in any order and the driver can re-derive any single
  * file. The expected outputs the checks compare against (distinct quad
  * counts, quarantine codes, query answers) are derived from the same
  * description, never from graft's output. All generated strings use only
  * `[a-z0-9 -]`, so no JSON escaping is needed.
  */
object Gen {
  val V = "http://bench.example/v#"
  val ItemNs = "http://bench.example/item/"
  val GroupNs = "http://bench.example/group/"
  val KindNs = "http://bench.example/kind/"
  val RingNs = "http://bench.example/ring/"
  val CtxNs = "http://bench.example/ctx/"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val Groups = 48
  val Kinds = 8
  /** Scores have six digits, so lexical order (what ORDER BY sorts by)
    * equals numeric order.
    */
  val ScoreMin = 100000
  val ScoreSpan = 900000

  /** Remote contexts: (url, term count). Served only through the
    * broadcast context map.
    */
  val RemoteContexts: Seq[(String, Int)] =
    Seq((CtxNs + "small.jsonld", 1000), (CtxNs + "medium.jsonld", 1500),
      (CtxNs + "large.jsonld", 2000))
  val MissingContext = CtxNs + "missing.jsonld"

  /** splitmix64 over (seed, index, salt): stateless, so any value can be
    * drawn in any task.
    */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + (salt + 1) * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, i: Long, salt: Long): Double =
    (mix(seed, i, salt) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, i: Long, salt: Long, n: Int): Int =
    ((mix(seed, i, salt) >>> 1) % n).toInt

  private val Words = Array(
    "graph", "node", "edge", "vector", "spark", "stream", "table", "query",
    "shard", "index", "merge", "split", "token", "frame", "value", "label",
    "river", "stone", "cloud", "field", "light", "north", "orbit", "pixel",
    "quartz", "radar", "solar", "tiger", "urban", "vivid", "wheat", "yield",
    "amber", "basin", "cedar", "delta", "ember", "fjord", "glade", "harbor",
    "island", "jungle", "kernel", "lagoon", "meadow", "nectar", "oasis", "prairie",
    "quiver", "ridge", "savanna", "tundra", "upland", "valley", "willow", "zenith",
    "anchor", "beacon", "canyon", "dune", "estuary", "forest", "geyser", "hollow")
  private val Langs = Array("en", "de", "fr", "es", "it", "nl", "pt", "sv")

  def words(seed: Long, i: Long, salt: Long, n: Int): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb += ' '
      sb ++= Words(below(seed, i * 97 + j, salt, Words.length))
      j += 1
    }
    sb.toString
  }

  def commit(seed: Long, i: Long, salt: Long): String =
    f"${mix(seed, i, salt)}%016x${mix(seed, i, salt + 1)}%016x${mix(seed, i, salt + 2)}%016x".take(40)

  // ------------------------------------------------------------- items

  /** The queryable facts of one item: its score, group and kind. */
  final case class Item(k: Long, score: Int, group: Int, kind: Int) {
    def iri: String = ItemNs + k
  }
  def item(seed: Long, k: Long): Item =
    Item(k, ScoreMin + below(seed, k, 11, ScoreSpan), below(seed, k, 12, Groups),
      below(seed, k, 13, Kinds))

  /** Which optional fields an item document carries. `ctx` is -1 for an
    * inline `@vocab` context, else an index into [[RemoteContexts]].
    */
  final case class Shape(ctx: Int, langSource: Boolean, label: Boolean, tags: Int,
                         sections: Int, terms: Int) {
    /** Distinct quads the document yields: type, text, score, group, kind
      * plus the optional fields; each section is one link and three values.
      */
    def quads: Int = 5 + (if (langSource) 2 else 0) + (if (label) 1 else 0) + tags +
      sections * 4 + terms
  }
  /** build_heavy's document: 47 quads, 8 blank nodes told apart by their
    * first-degree hashes.
    */
  val HeavyShape = Shape(-1, langSource = true, label = false, tags = 8, sections = 8, terms = 0)
  val SmallShape = Shape(-1, langSource = false, label = true, tags = 4, sections = 0, terms = 0)
  def remoteShape(c: Int) = Shape(c, langSource = false, label = true, tags = 0, sections = 0, terms = 5)

  private def tag(k: Long, i: Int): String = "tag" + ((k + i) % 50)
  private def termIdx(seed: Long, k: Long, c: Int, j: Int): Int = {
    val stride = RemoteContexts(c)._2 / 5
    j * stride + below(seed, k, 30 + j, stride)
  }

  /** The item's JSON-LD document. The `@id` is always absolute, so byte
    * copies in other repos yield identical quads.
    */
  def itemDoc(seed: Long, k: Long, s: Shape): String = {
    val it = item(seed, k)
    val sb = new StringBuilder(1700)
    if (s.ctx < 0) sb ++= s"""{"@context":{"@vocab":"$V"},"""
    else sb ++= s"""{"@context":"${RemoteContexts(s.ctx)._1}","""
    sb ++= s""""@id":"${it.iri}""""
    sb ++= s""","@type":"Item","text":"${words(seed, k, 21, 36)}","score":${it.score}"""
    if (s.ctx < 0)
      sb ++= s""","group":{"@id":"$GroupNs${it.group}"},"kind":{"@id":"$KindNs${it.kind}"}"""
    else
      sb ++= s""","group":"$GroupNs${it.group}","kind":"$KindNs${it.kind}""""
    if (s.langSource)
      sb ++= s""","lang":"${Langs(below(seed, k, 14, Langs.length))}","source":"src${below(seed, k, 15, 400)}""""
    if (s.label) sb ++= s""","label":"label $k""""
    if (s.tags > 0)
      sb ++= (0 until s.tags).map(i => "\"" + tag(k, i) + "\"").mkString(""","tags":[""", ",", "]")
    if (s.sections > 0)
      sb ++= (0 until s.sections).map { i =>
        // value and body embed k: blank-node subjects get per-document
        // canonical labels (_:c14nN) that repeat across documents, so a
        // value shared by two documents would merge under corpus dedup
        s"""{"name":"section-$k-$i","value":${k * 8 + i},"body":"body $k $i ${words(seed, k * 8 + i, 22, 10)}"}"""
      }.mkString(""","sections":[""", ",", "]")
    if (s.terms > 0)
      sb ++= (0 until s.terms).map(j => s""""t${termIdx(seed, k, s.ctx, j)}":"v-$k-$j"""")
        .mkString(",", ",", "")
    sb += '}'
    sb.toString
  }

  /** Rows `SELECT ?p ?o WHERE { <item> ?p ?o }` returns, blank-node objects
    * written as "_:" (their canonical labels are not part of the contract).
    */
  def pointRows(seed: Long, k: Long, s: Shape): Seq[(String, String)] = {
    val it = item(seed, k)
    val b = Seq.newBuilder[(String, String)]
    b += RdfType -> (V + "Item")
    b += (V + "text") -> words(seed, k, 21, 36)
    b += (V + "score") -> it.score.toString
    b += (V + "group") -> (GroupNs + it.group)
    b += (V + "kind") -> (KindNs + it.kind)
    if (s.langSource) {
      b += (V + "lang") -> Langs(below(seed, k, 14, Langs.length))
      b += (V + "source") -> s"src${below(seed, k, 15, 400)}"
    }
    if (s.label) b += (V + "label") -> s"label $k"
    (0 until s.tags).foreach(i => b += (V + "tags") -> tag(k, i))
    (0 until s.sections).foreach(_ => b += (V + "sections") -> "_:")
    (0 until s.terms).foreach(j => b += (V + "t" + termIdx(seed, k, s.ctx, j)) -> s"v-$k-$j")
    b.result()
  }

  /** A remote context of `n` terms: the item vocabulary plus `n` plain
    * terms, so processing it costs what a large real-world context costs.
    */
  def remoteContext(n: Int): String = {
    val sb = new StringBuilder(n * 48)
    sb ++= s"""{"@context":{"Item":"${V}Item","text":"${V}text","score":"${V}score","label":"${V}label","""
    sb ++= s""""group":{"@id":"${V}group","@type":"@id"},"kind":{"@id":"${V}kind","@type":"@id"}"""
    var i = 0
    while (i < n) { sb ++= s""","t$i":"${V}t$i""""; i += 1 }
    sb ++= "}}"
    sb.toString
  }
  def contextMap: Map[String, String] =
    RemoteContexts.map { case (url, n) => url -> remoteContext(n) }.toMap

  // -------------------------------------------------- workload corpora

  /** What one generated file must produce. */
  final case class FileMeta(
      docs: Int, // documents the extractor yields
      quads: Int, // distinct quads contributed (0 for fork copies)
      items: Seq[(Long, Shape)], // queryable items it introduces
      quarantine: Seq[String]) // error code per document quarantined

  trait Corpus extends Serializable {
    def files: Int
    def file(seed: Long, f: Long): RepoFile
    def meta(seed: Long, f: Long): FileMeta
    def docId(seed: Long, f: Long, idx: Int): String = {
      val r = file(seed, f)
      s"${r.repo}/${r.path}@${r.commit.take(12)}#$idx"
    }
  }

  /** build_heavy: every file one heavy `.jsonld` document. */
  final case class Heavy(files: Int) extends Corpus {
    def file(seed: Long, f: Long): RepoFile =
      RepoFile(s"org${f % 100}", s"heavy/doc$f.jsonld", commit(seed, f, 1), "jsonld",
        itemDoc(seed, f, HeavyShape))
    def meta(seed: Long, f: Long): FileMeta =
      FileMeta(1, HeavyShape.quads, Seq(f -> HeavyShape), Nil)
  }

  /** build_repo_mix: a source-repo-shaped corpus. Files `[0, originals)`
    * are originals; the rest are byte copies of originals in fork repos.
    */
  final case class RepoMix(files: Int) extends Corpus {
    val originals: Int = files - files / 10
    private val SrcExt = Array("scala" -> "scala", "python" -> "py", "javascript" -> "js", "go" -> "go")

    /** Category of an original file. A seeded Weyl sequence, not
      * independent draws: every seed gets the same category shares.
      *
      * The shares below, the 10% fork copies and the one source file in
      * five that mentions "@context" are assumptions, not measurements:
      * no census of a real repository corpus backs them. They were chosen
      * so that detect, context processing and c14n each take a visible
      * part of a pass. Read a change in this workload's figures with that
      * in mind; once a measured corpus sample exists, derive them from it.
      */
    def category(seed: Long, f: Long): Int = {
      val w = unit(seed, 0, 2) + f * 0.6180339887498949
      val u = w - math.floor(w)
      if (u < 0.50) Source
      else if (u < 0.62) Small
      else if (u < 0.70) Html
      else if (u < 0.88) Remote
      else if (u < 0.96) Ring
      else Malformed
    }
    final val Source = 0; final val Small = 1; final val Html = 2; final val Remote = 3
    final val Ring = 4; final val Malformed = 5

    private def origin(seed: Long, f: Long): Long =
      if (f < originals) f else below(seed, f, 40, originals).toLong

    def file(seed: Long, f: Long): RepoFile = {
      val o = origin(seed, f)
      val orig = original(seed, o)
      if (o == f) orig
      else orig.copy(repo = s"fork${f % 7}-${orig.repo}", commit = commit(seed, f, 1))
    }

    private def islands(seed: Long, f: Long): Int = 1 + below(seed, f, 3, 2)
    private def ringSize(seed: Long, f: Long): Int = 8 + below(seed, f, 4, 9)
    private def malformedKind(seed: Long, f: Long): Int = below(seed, f, 5, 3)
    private def remoteCtx(seed: Long, f: Long): Int = below(seed, f, 6, RemoteContexts.size)
    private def sourceHasMarker(seed: Long, f: Long): Boolean = unit(seed, f, 7) < 0.2

    private def original(seed: Long, f: Long): RepoFile = {
      val repo = s"repo${f % 300}"
      val c = commit(seed, f, 1)
      category(seed, f) match {
        case Source =>
          val (lang, ext) = SrcExt(below(seed, f, 8, SrcExt.length))
          RepoFile(repo, s"src/mod$f.$ext", c, lang, sourceText(seed, f))
        case Small =>
          RepoFile(repo, s"data/item$f.jsonld", c, "jsonld", itemDoc(seed, 2 * f, SmallShape))
        case Html =>
          val body = (0 until islands(seed, f)).map { i =>
            s"""<script type="application/ld+json">${itemDoc(seed, 2 * f + i, SmallShape)}</script>"""
          }
          RepoFile(repo, s"site/page$f.html", c, "html",
            s"""<!DOCTYPE html><html><head><title>${words(seed, f, 23, 4)}</title>${body.head}</head>""" +
              s"""<body><p>${words(seed, f, 24, 30)}</p>${body.tail.mkString}</body></html>""")
        case Remote =>
          RepoFile(repo, s"manifest/item$f.json", c, "json",
            itemDoc(seed, 2 * f, remoteShape(remoteCtx(seed, f))))
        case Ring =>
          val n = ringSize(seed, f)
          // a directed ring of identical blank nodes: every node has the
          // same first-degree hash, which forces N-degree hashing; the
          // named graph makes each ring's quads distinct across documents
          val nodes = (0 until n).map(i => s"""{"@id":"_:r$i","next":"_:r${(i + 1) % n}"}""")
          RepoFile(repo, s"data/ring$f.jsonld", c, "jsonld",
            s"""{"@context":{"next":{"@id":"${V}next","@type":"@id"}},"@id":"$RingNs$f",""" +
              nodes.mkString(""""@graph":[""", ",", "]}"))
        case _ =>
          val doc = itemDoc(seed, 2 * f, SmallShape)
          val content = malformedKind(seed, f) match {
            case 0 => doc.take(doc.length / 2)
            case 1 => doc.replace(s"""{"@vocab":"$V"}""", "\"" + MissingContext + "\"")
            case _ => doc.replace(s""""@id":"${ItemNs}${2 * f}"""", "\"@id\":42")
          }
          RepoFile(repo, s"data/bad$f.jsonld", c, "jsonld", content)
      }
    }

    private def sourceText(seed: Long, f: Long): String = {
      val lines = (0 until 30).map { j =>
        val w = words(seed, f * 31 + j, 25, 3).split(' ')
        s"  val ${w(0)}_$j = ${w(1)}(${w(2)}, $j)"
      }
      val marker =
        if (sourceHasMarker(seed, f)) "  // serializes records with an \"@context\" header\n" else ""
      s"object Mod$f {\n$marker${lines.mkString("\n")}\n}\n"
    }

    def meta(seed: Long, f: Long): FileMeta = {
      val o = origin(seed, f)
      val m = originalMeta(seed, o)
      if (o == f) m else m.copy(quads = 0, items = Nil)
    }

    private def originalMeta(seed: Long, f: Long): FileMeta = category(seed, f) match {
      case Source => FileMeta(0, 0, Nil, Nil)
      case Small => FileMeta(1, SmallShape.quads, Seq((2 * f) -> SmallShape), Nil)
      case Html =>
        val n = islands(seed, f)
        FileMeta(n, n * SmallShape.quads, (0 until n).map(i => (2 * f + i) -> SmallShape), Nil)
      case Remote =>
        val s = remoteShape(remoteCtx(seed, f))
        FileMeta(1, s.quads, Seq((2 * f) -> s), Nil)
      case Ring => FileMeta(1, ringSize(seed, f), Nil, Nil)
      case _ =>
        FileMeta(1, 0, Nil, Seq(malformedKind(seed, f) match {
          case 0 => "invalid input"
          case 1 => "loading remote context failed"
          case _ => "invalid @id value"
        }))
    }
  }
}
