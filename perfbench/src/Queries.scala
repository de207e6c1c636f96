package graftbench

import org.apache.spark.sql.Row
import Gen.{Item, Shape}

/** The query loop's classes and the answers the generator derives for them.
  *
  * No query joins through a blank node: canonical labels (`_:c14n0`…)
  * repeat in every document and the written graph keeps no document
  * scope, so such a join would conflate documents.
  */
object Queries {
  val Classes: Seq[String] = Seq("point", "star", "topk", "range", "ask")

  final case class Query(cls: String, text: String, expected: Seq[String]) {
    /** Rows normalized to strings; compared in order for `topk`, as
      * multisets otherwise.
      */
    def check(rows: Array[Row]): Boolean = {
      val got = rows.toSeq.map(normalize)
      if (cls == "topk") got == expected else got.sorted == expected.sorted
    }
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: String => if (s.startsWith("_:")) "_:" else s
    case d: Double => BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
    case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
    case o => o.toString
  }
  private def normalize(r: Row): String = (0 until r.length).map(i => cell(r.get(i))).mkString("|")
  private def num(x: Long): String = BigDecimal(x).bigDecimal.stripTrailingZeros.toPlainString

  /** Facts of the items a corpus introduces, indexed for answering. */
  final class Oracle(seed: Long, items: Seq[(Long, Shape)]) {
    private val byK: Map[Long, Shape] = items.toMap
    private val facts: Array[Item] = items.map(i => Gen.item(seed, i._1)).toArray
    private val byScore = facts.sortBy(_.score)
    private val byGroup: Map[Int, Array[Item]] =
      facts.groupBy(_.group).map { case (g, xs) =>
        g -> xs.sortWith((a, b) => a.score > b.score || (a.score == b.score && a.iri < b.iri))
      }
    require(facts.nonEmpty, "corpus introduces no items")
    private def pick(i: Long, salt: Long): Item = facts(Gen.below(seed, i, salt, facts.length))

    /** The `i`-th query of the closed loop: classes in fixed rotation, so
      * every run sends the same class mix; parameters drawn from the seed.
      */
    def query(i: Long): Query = {
      val V = Gen.V
      Classes((i % Classes.size).toInt) match {
        case "point" =>
          val it = pick(i, 60)
          Query("point", s"SELECT ?p ?o WHERE { <${it.iri}> ?p ?o }",
            Gen.pointRows(seed, it.k, byK(it.k)).map { case (p, o) => s"$p|$o" })
        case "star" =>
          val kind = pick(i, 61).kind
          val exp = facts.filter(_.kind == kind).groupBy(_.group).toSeq.map { case (g, xs) =>
            s"${Gen.GroupNs}$g|${xs.length}|${num(xs.map(_.score.toLong).sum)}"
          }
          Query("star",
            s"""SELECT ?g (COUNT(?s) AS ?n) (SUM(?x) AS ?t) WHERE {
               |  ?s <${V}kind> <${Gen.KindNs}$kind> . ?s <${V}group> ?g . ?s <${V}score> ?x
               |} GROUP BY ?g""".stripMargin, exp)
        case "topk" =>
          val g = pick(i, 62).group
          Query("topk",
            s"""SELECT ?s ?x WHERE { ?s <${V}group> <${Gen.GroupNs}$g> . ?s <${V}score> ?x }
               |ORDER BY DESC(?x) ?s LIMIT 10""".stripMargin,
            byGroup(g).take(10).toSeq.map(it => s"${it.iri}|${it.score}"))
        case "range" =>
          // about 40 matches whatever the item count
          val width = math.max(1, (40.0 * Gen.ScoreSpan / facts.length).toInt)
          val lo = Gen.ScoreMin + Gen.below(seed, i, 63, Gen.ScoreSpan - width)
          val hi = lo + width
          Query("range",
            s"SELECT ?s WHERE { ?s <${V}score> ?x . FILTER(?x >= $lo && ?x < $hi) }",
            byScore.filter(it => it.score >= lo && it.score < hi).toSeq.map(_.iri))
        case _ =>
          val it = pick(i, 64)
          val g = if (Gen.below(seed, i, 65, 2) == 0) it.group
                  else (it.group + 1 + Gen.below(seed, i, 66, Gen.Groups - 1)) % Gen.Groups
          Query("ask", s"ASK { <${it.iri}> <${V}group> <${Gen.GroupNs}$g> }",
            Seq((g == it.group).toString))
      }
    }
  }
}
