package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Graph-side operators: Direct Mapping semantics (literal + reference
  * triples, null skipping), BGP compilation (constant pushdown, shared-var
  * joins, repeated-var filters, no accidental cartesians), degree/stat
  * aggregations, and IVF ANN (assignment determinism, probe recall).
  */
class GraphOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  import GraphOps._

  private def quads(rows: (String, String, String, String)*) = {
    val sp = spark; import sp.implicits._
    rows.toDF("subj", "pred", "obj", "dt")
  }

  test("directMapping: literal triple per column, reference triple per FK, nulls skipped") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "alice", Some(7), Some(30L)), (2L, "bob", None, None))
      .toDF("id", "name", "dept", "age")
    val got = GraphOps.directMapping(df, "person", "id", refs = Map("dept" -> "dept"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("urn:dm:person/1", "urn:dm:person#name", "alice", XsdString),
      ("urn:dm:person/1", "urn:dm:person#dept", "7", XsdInteger),
      ("urn:dm:person/1", "urn:dm:person#ref-dept", "urn:dm:dept/7", ""),
      ("urn:dm:person/1", "urn:dm:person#age", "30", XsdInteger),
      ("urn:dm:person/2", "urn:dm:person#name", "bob", XsdString)))
  }

  test("directMapping is a narrow plan: no shuffle exchange") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "x")).toDF("id", "name")
    val plan = GraphOps.directMapping(df, "t", "id").queryExecution.executedPlan
    def hasExchange(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] ||
        p.children.exists(hasExchange)
    assert(!hasExchange(plan), s"directMapping must not shuffle:\n$plan")
  }

  test("bgp: chain join binds shared variables across patterns") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n2", ""),
      ("n1", "p:of", "r1", ""), ("n2", "p:of", "r2", ""),
      ("r1", "p:name", "ASIA", XsdString), ("r2", "p:name", "EUROPE", XsdString))
    val got = select(kg, """?c <p:in> ?n . ?n <p:of> ?r . ?r <p:name> "ASIA" """)
      .select("c", "n", "r").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("c1", "n1", "r1"), ("c2", "n1", "r1")))
  }

  test("bgp: repeated variable inside one pattern compiles to a self-equality filter") {
    val kg = quads(("a", "p:knows", "a", ""), ("a", "p:knows", "b", ""))
    val got = select(kg, "?x <p:knows> ?x")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a"))
  }

  test("bgp: variable predicate is projected like any other binding") {
    val kg = quads(("s", "p:a", "o1", ""), ("s", "p:b", "o2", ""))
    val got = select(kg, "<s> ?p ?o")
      .select("p", "o").orderBy("p").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("p:a", "o1"), ("p:b", "o2")))
  }

  test("bgp: shared-variable joins never plan a cartesian product") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("n1", "p:of", "r1", ""), ("r1", "p:name", "ASIA", XsdString))
    val plan = select(kg, """?c <p:in> ?n . ?n <p:of> ?r . ?r <p:name> "ASIA" """)
      .queryExecution.executedPlan
    def hasCartesian(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        p.children.exists(hasCartesian)
    assert(!hasCartesian(plan), s"BGP chain must be equi-joins only:\n$plan")
  }

  test("degrees: out from subjects, in from IRI objects only, zeros coalesced") {
    val kg = quads(
      ("a", "p:x", "b", ""), ("a", "p:y", "lit", XsdString), ("b", "p:x", "a", ""),
      ("c", "p:x", "a", ""))
    val got = GraphOps.degrees(kg).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("a") == ((2L, 2L))) // out: p:x+p:y; in: from b and c
    assert(got("b") == ((1L, 1L)))
    assert(got("c") == ((1L, 0L)))
    assert(!got.contains("lit"), "literal objects must not become nodes")
  }

  test("predicateStats counts per predicate") {
    val kg = quads(("a", "p:x", "b", ""), ("c", "p:x", "d", ""), ("a", "p:y", "e", ""))
    val got = GraphOps.predicateStats(kg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("p:x" -> 2L, "p:y" -> 1L))
  }

  test("bgpQuads: constant graph selects one named graph; graph variable joins across quads") {
    val sp = spark; import sp.implicits._
    val quadTable = Seq(
      ("s1", "p:a", "o1", "", "g1"),
      ("s1", "p:a", "o2", "", "g2"),
      ("s2", "p:b", "o1", "", "g1"),
      ("d1", "p:a", "o9", "", "")) // default graph
      .toDF("subj", "pred", "obj", "dt", "graph")
    // GRAPH <g1> { ?s p:a ?o }
    val inG1 = select(quadTable, "GRAPH <g1> { ?s <p:a> ?o }")
      .select("s", "o").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(inG1 == Set(("s1", "o1")))
    // GRAPH "" — the default graph
    val inDefault = select(quadTable, """GRAPH "" { ?s <p:a> ?o }""")
      .select("s").collect().map(_.getString(0)).toSet
    assert(inDefault == Set("d1"))
    // GRAPH ?g { ?s p:a ?o . ?s2 p:b ?o } — graph variable joins both patterns
    val sameGraph = select(quadTable, "GRAPH ?g { ?s <p:a> ?o . ?s2 <p:b> ?o }")
      .select("g", "s", "s2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(sameGraph == Set(("g1", "s1", "s2")),
      "o1 is shared only inside g1; g2's o2 has no p:b partner")
  }

  test("ask returns one boolean row; describe unions subject and incoming-edge triples") {
    val kg = quads(
      ("n1", "p:name", "Nation One", XsdString),
      ("n1", "p:of", "r1", ""),
      ("c1", "p:in", "n1", ""),
      ("x", "p:lit", "n1", XsdString)) // literal that LOOKS like the node — not an edge
    val hit = askQuery(kg, "ASK { ?c <p:in> <n1> }")
      .collect()
    assert(hit.length == 1 && hit(0).getBoolean(0))
    val miss = askQuery(kg, "ASK { ?c <p:in> <n9> }")
      .collect()
    assert(miss.length == 1 && !miss(0).getBoolean(0))
    val desc = describeQuery(kg, "DESCRIBE <n1>").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(desc == Set(("n1", "p:name"), ("n1", "p:of"), ("c1", "p:in")),
      "describe must include subject triples + IRI in-edges, not literal lookalikes")
  }

  test("bgp: constant-only pattern acts as an existence gate") {
    val kg = quads(("s", "p:flag", "on", ""), ("a", "p:x", "b", ""))
    val withFlag = select(kg, "<s> <p:flag> <on> . ?x <p:x> ?y")
    assert(withFlag.count() == 1, "existing constant triple must pass bindings through")
    val withoutFlag = select(kg, "<s> <p:flag> <off> . ?x <p:x> ?y")
    assert(withoutFlag.count() == 0, "absent constant triple must gate out all bindings")
  }

  /** The one group a bare pattern block parses to. */
  private def group(text: String): Sparql.Group = Sparql.parse(text) match {
    case Sparql.BareQuery(Seq(g: Sparql.Group)) => g
    case other => fail(s"not a one-group pattern block: $other")
  }

  test("parsePatterns: vars, IRIs, quoted literals (with spaces), dot separators") {
    val pats = group(
      """?c <urn:p#in> ?n .
        |?n <urn:p#name> "MIDDLE EAST" .
        |?n <urn:p#of> <urn:r/1>""".stripMargin).triples
    assert(pats == Seq(
      TriplePattern(Var("c"), Const("urn:p#in"), Var("n")),
      TriplePattern(Var("n"), Const("urn:p#name"), Const("MIDDLE EAST")),
      TriplePattern(Var("n"), Const("urn:p#of"), Const("urn:r/1"))))
    // trailing dot is tolerated
    assert(group("?a <urn:p> ?b .").triples.length == 1)
    assertThrows[IllegalArgumentException](group("?a <urn:p>"))
    assertThrows[IllegalArgumentException](group("?a bare ?b"))
  }

  test("construct: template instantiation per binding, set semantics") {
    // the duplicated quad yields the (c2, r1) solution twice
    val kg = quads(("c1", "p:in", "r1", ""), ("c2", "p:in", "r1", ""), ("c2", "p:in", "r1", ""))
    val got = constructQuery(kg,
      """CONSTRUCT { ?cust <urn:locatedIn> ?reg . ?reg <urn:hasMember> ?cust }
        |WHERE { ?cust <p:in> ?reg }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("c1", "urn:locatedIn", "r1"), ("c2", "urn:locatedIn", "r1"),
      ("r1", "urn:hasMember", "c1"), ("r1", "urn:hasMember", "c2")))
  }

  test("bgpOptional: unmatched optional rows survive with nulls; unanchored group rejected") {
    val kg = quads(
      ("n1", "p:of", "r1", ""), ("n2", "p:of", "r2", ""),
      ("s1", "p:supp", "n1", ""))
    val got = select(kg, "?n <p:of> ?r . OPTIONAL { ?s <p:supp> ?n }")
      .select("n", "r", "s").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set(("n1", "r1", Some("s1")), ("n2", "r2", None)))
    assertThrows[IllegalArgumentException] {
      select(kg, "?n <p:of> ?r . OPTIONAL { ?x <p:supp> ?y }")
    }
  }

  test("transitiveClosure: chain and diamond close fully; iterative doubling converges") {
    val sp = spark; import sp.implicits._
    // chain 1→2→3→4 plus a side edge 5→3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L)).toDF("src", "dst")
    val got = GraphOps.transitiveClosure(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(
      (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L),
      (3L, 4L),
      (5L, 3L), (5L, 4L)))
  }

  test("transitiveClosure: empty edge set returns empty without iterating") {
    val sp = spark; import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.transitiveClosure(empty).count() == 0)
  }

  test("ask is lazy: construction runs no Spark job") {
    val kg = quads(("a", "p:x", "b", ""))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = askQuery(kg, "ASK { ?s <p:x> ?o }")
      // deterministic sync: drain the async listener bus instead of
      // sleeping (fixed sleeps made both asserts timing-dependent)
      org.apache.spark.GraftTestAccess.waitListenerBus(spark.sparkContext)
      assert(jobs == 0, "building the ASK DataFrame must not execute anything")
      val got = plan.collect()
      assert(got.length == 1 && got(0).getBoolean(0))
      org.apache.spark.GraftTestAccess.waitListenerBus(spark.sparkContext)
      assert(jobs > 0, "collect() must be what runs the job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("parsePatterns: quoted literal containing ' . ' does not split the pattern") {
    val pats = group("""?a <urn:p#note> "one . two" . ?a <urn:p#of> ?b""").triples
    assert(pats == Seq(
      TriplePattern(Var("a"), Const("urn:p#note"), Const("one . two")),
      TriplePattern(Var("a"), Const("urn:p#of"), Var("b"))))
  }

  test("parseQuery: FILTER clauses extract (numeric + string), patterns parse around them") {
    val q = group(
      """?n <urn:p#rk> ?rk . FILTER(?rk >= 2) .
        |?n <urn:p#name> ?name . FILTER(?name != "EGYPT")""".stripMargin)
    assert(q.triples.length == 2)
    assert(q.filters == Seq(
      VarFilter("rk", ">=", Left(2.0)),
      VarFilter("name", "!=", Right("EGYPT"))))
  }

  test("bgpFiltered: numeric filter casts the lexical form; string filter compares lexically") {
    val kg = quads(
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "2", XsdInteger),
      ("n3", "p:rk", "10", XsdInteger),
      ("n1", "p:name", "ALGERIA", XsdString), ("n2", "p:name", "BRAZIL", XsdString),
      ("n3", "p:name", "CANADA", XsdString))
    val got = select(kg,
      """?n <p:rk> ?rk . ?n <p:name> ?name . FILTER(?rk >= 2) . FILTER(?name != "CANADA")""")
      .select("n").collect().map(_.getString(0)).toSet
    // numeric: "10" ≥ 2 holds (lexical compare would put "10" < "2")
    assert(got == Set("n2"), "n3 is dropped by the string filter, n1 by the numeric one")
  }

  test("bgpUnion: branch solutions union by name; vars missing in a branch are null") {
    val kg = quads(
      ("s1", "p:supp", "n1", ""), ("c1", "p:cust", "n1", ""), ("c2", "p:cust", "n2", ""))
    val got = select(kg, "{ ?m <p:supp> ?n } UNION { ?m <p:cust> ?n . ?m <p:cust> ?n2 }")
      .select("m", "n", "n2").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set(
      ("s1", "n1", None), // supp branch has no n2 → null
      ("c1", "n1", Some("n1")), ("c2", "n2", Some("n2"))))
  }

  test("pathPlus/pathStar close a hierarchy predicate; withPathClosure joins as a virtual pattern") {
    val kg = quads(
      ("a", "p:broader", "b", ""), ("b", "p:broader", "c", ""),
      ("b", "p:label", "mid", XsdString), // literal — not an edge
      ("x", "p:other", "y", ""))
    def pairs(text: String) = select(kg, text).select("x", "y").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val plus = pairs("?x <p:broader>+ ?y")
    assert(plus == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val star = pairs("?x <p:broader>* ?y")
    assert(star == plus ++ Set(("a", "a"), ("b", "b"), ("c", "c")))
    // bridge: ?d <p:broader>+ ?anc joins into a BGP like any pattern
    val got = select(kg, "?d <p:broader>+ ?anc . ?d <p:label> ?lbl")
      .select("d", "anc", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("b", "c", "mid")))
  }

  test("select: '+' / '*' / '?' paths over a frame with a graph column match its 4-column projection") {
    val sp = spark; import sp.implicits._
    val quadTable = Seq(
      ("a", "p:broader", "b", "", "g1"),
      ("b", "p:broader", "c", "", "g2"),
      ("b", "p:label", "mid", XsdString, "g1"),
      ("x", "p:other", "y", "", ""))
      .toDF("subj", "pred", "obj", "dt", "graph")
    val triples = quadTable.select("subj", "pred", "obj", "dt")
    def pairs(df: org.apache.spark.sql.DataFrame, op: String) =
      query(df, s"SELECT ?x ?y WHERE { ?x <p:broader>$op ?y }").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val edges = Set(("a", "b"), ("b", "c"))
    val identity = Set(("a", "a"), ("b", "b"), ("c", "c"))
    val expected = Map(
      "+" -> (edges + (("a", "c"))), "*" -> (edges + (("a", "c")) ++ identity),
      "?" -> (edges ++ identity))
    for ((op, want) <- expected) {
      assert(pairs(triples, op) == want, s"<p:broader>$op over (subj, pred, obj, dt)")
      assert(pairs(quadTable, op) == want, s"<p:broader>$op over (subj, pred, obj, dt, graph)")
    }
  }

  /** Path pairs of `<p>op` over one edge set, computed on the driver. */
  private def pathPairs(edges: Set[(String, String)], op: String): Set[(String, String)] = {
    val identity = edges.flatMap { case (a, b) => Set((a, a), (b, b)) }
    var closed = edges
    var grown = op != "?"
    while (grown) {
      val next = closed ++ (for ((a, b) <- closed; (c, d) <- edges if b == c) yield (a, d))
      grown = next.size > closed.size
      closed = next
    }
    if (op == "+") closed else closed ++ identity
  }

  for (op <- Seq("+", "*", "?"))
    test(s"GRAPH block path <p>$op closes per graph: GRAPH <g> selects, GRAPH ?g binds, no cross-graph hops") {
      val sp = spark; import sp.implicits._
      val g1 = Set(("a", "b"), ("b", "c"))
      val g2 = Set(("c", "d")) // continues g1's chain in another graph
      val quadTable = (g1.toSeq.map { case (x, y) => (x, "p:broader", y, "", "g1") } ++
        g2.toSeq.map { case (x, y) => (x, "p:broader", y, "", "g2") } :+
        (("b", "p:label", "mid", XsdString, "g1")))
        .toDF("subj", "pred", "obj", "dt", "graph")
      def pairs(text: String) = select(quadTable, text).select("x", "y").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs(s"GRAPH <g1> { ?x <p:broader>$op ?y }") == pathPairs(g1, op))
      val bound = select(quadTable, s"GRAPH ?g { ?x <p:broader>$op ?y }")
        .select("g", "x", "y").collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(bound == pathPairs(g1, op).map { case (x, y) => ("g1", x, y) } ++
        pathPairs(g2, op).map { case (x, y) => ("g2", x, y) })
      // outside GRAPH the chain connects across graphs; inside it does not
      val outside = pairs(s"?x <p:broader>$op ?y")
      assert(outside == pathPairs(g1 ++ g2, op))
      if (op != "?") assert(outside.contains(("a", "d")) && !bound.exists(t => (t._2, t._3) == (("a", "d"))))
      // both kinds in one group: each pattern sees its own closure triples once
      val both = select(quadTable, s"?x <p:broader>$op ?y . GRAPH ?g { ?x <p:broader>$op ?y }")
      assert(both.count() == bound.size)
      // FROM NAMED closes over the named side only
      val named = select(quadTable,
        s"SELECT ?g ?x ?y FROM NAMED <g1> WHERE { GRAPH ?g { ?x <p:broader>$op ?y } }")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(named == pathPairs(g1, op).map { case (x, y) => ("g1", x, y) })
    }

  test("select: composed text query — UNION branches with FILTER and OPTIONAL") {
    val kg = quads(
      ("s1", "p:supp", "n1", ""), ("c1", "p:cust", "n1", ""), ("c2", "p:cust", "n2", ""),
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "3", XsdInteger),
      ("c2", "p:label", "big", XsdString))
    val got = select(kg,
      """{ ?m <p:supp> ?n }
        |UNION
        |{ ?m <p:cust> ?n . ?n <p:rk> ?rk . FILTER(?rk >= 2) .
        |  OPTIONAL { ?m <p:label> ?lbl } }""".stripMargin)
      .select("m", "n", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    // supp branch: s1 (no lbl column → null); cust branch: only c2 (n2 rk=3), lbl bound
    assert(got == Set(("s1", "n1", None), ("c2", "n2", Some("big"))))
  }

  test("select: GRAPH blocks mix with graph-agnostic patterns; quoted UNION/braces are safe") {
    val sp = spark; import sp.implicits._
    val quadTable = Seq(
      ("n1", "p:name", "N ONE", "", "g1"),
      ("n2", "p:name", "UNION { }", "", "g2"), // literal traps for the splitter
      ("c1", "p:in", "n1", "", ""),
      ("c2", "p:in", "n2", "", ""))
      .toDF("subj", "pred", "obj", "dt", "graph")
    val got = select(quadTable,
      """?c <p:in> ?n . GRAPH ?g { ?n <p:name> ?nm }""")
      .select("c", "g", "nm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("c1", "g1", "N ONE"), ("c2", "g2", "UNION { }")))
    // constant graph narrows; the graph-agnostic pattern still matches any graph
    val onlyG1 = select(quadTable,
      """?c <p:in> ?n . GRAPH <g1> { ?n <p:name> ?nm }""")
      .select("c").collect().map(_.getString(0)).toSeq
    assert(onlyG1 == Seq("c1"))
    // a literal containing UNION must not split the query
    val litSafe = select(quadTable, """?n <p:name> "UNION { }" """)
      .select("n").collect().map(_.getString(0)).toSeq
    assert(litSafe == Seq("n2"))
  }

  test("bgpMinus / select MINUS: anti-join removes compatible solutions; unanchored rejected") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n2", ""), ("c3", "p:in", "n2", ""),
      ("n1", "p:of", "rA", ""))
    val minus = select(kg,
      """?c <p:in> ?n . MINUS { ?n <p:of> <rA> }""")
      .select("c").collect().map(_.getString(0)).toSet
    assert(minus == Set("c2", "c3"), "n1's customers must be anti-joined away")
    // with a shared variable, FILTER NOT EXISTS compiles to the same anti-join
    val notExists = select(kg,
      """?c <p:in> ?n . FILTER NOT EXISTS { ?n <p:of> <rA> }""")
      .select("c").collect().map(_.getString(0)).toSet
    assert(notExists == minus)
    assertThrows[IllegalArgumentException] {
      select(kg, "?c <p:in> ?n . MINUS { ?x <p:of> ?y }")
    }
  }

  test("select VALUES: inline constants restrict a bound variable; free var rejected") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n2", ""), ("c3", "p:in", "n3", ""),
      ("n1", "p:name", "A B", XsdString))
    val got = select(kg,
      """?c <p:in> ?n . VALUES ?n { <n1> <n3> }""")
      .select("c").collect().map(_.getString(0)).toSet
    assert(got == Set("c1", "c3"))
    // quoted literal values work too (spaces preserved)
    val lit = select(kg, """?n <p:name> ?nm . VALUES ?nm { "A B" }""")
      .select("n").collect().map(_.getString(0)).toSeq
    assert(lit == Seq("n1"))
    assertThrows[IllegalArgumentException] {
      select(kg, """?c <p:in> ?n . VALUES ?free { <x> }""")
    }
  }

  test("select: keyword lookalikes inside IRIs and literals are data, not syntax") {
    val kg = quads(
      ("s1", "urn:rel/union/member", "o1", ""),
      ("s2", "p:note", "MINUS { x }", XsdString),
      ("s3", "p:note", "FILTER(?y > 1)", XsdString))
    // 'union' inside an IRI must not split the query
    val viaIri = select(kg, "?s <urn:rel/union/member> ?o")
      .select("s").collect().map(_.getString(0)).toSeq
    assert(viaIri == Seq("s1"))
    // 'MINUS { … }' / 'FILTER(…)' inside literals must stay literals
    val minusLit = select(kg, """?s <p:note> "MINUS { x }" """)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(minusLit == Seq("s2"))
    val filterLit = select(kg, """?s <p:note> "FILTER(?y > 1)" """)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(filterLit == Seq("s3"))
    // and a variable named ?union is a normal variable
    val viaVar = select(kg, "?union <urn:rel/union/member> ?o")
      .select("union").collect().map(_.getString(0)).toSeq
    assert(viaVar == Seq("s1"))
  }

  test("select: FILTER '<'/'<=' operators inside UNION branches are operators, not IRI openers") {
    val kg = quads(
      ("s1", "p:supp", "n1", ""), ("c1", "p:cust", "n1", ""), ("c2", "p:cust", "n2", ""),
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "3", XsdInteger))
    // round-4 scanner flipped inIri at the bare '<' and swallowed the
    // following UNION — this must parse as two branches
    val got = select(kg,
      """{ ?m <p:cust> ?n . ?n <p:rk> ?rk . FILTER(?rk < 2) }
        |UNION
        |{ ?m <p:supp> ?n }""".stripMargin)
      .select("m", "n").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("c1", "n1"), ("s1", "n1")),
      "c2 dropped by rk<2; supplier branch must survive the '<' before it")
    // '<=' variant, operator in the SECOND branch
    val le = select(kg,
      """{ ?m <p:supp> ?n }
        |UNION
        |{ ?m <p:cust> ?n . ?n <p:rk> ?rk . FILTER(?rk <= 1) }""".stripMargin)
      .select("m").collect().map(_.getString(0)).toSet
    assert(le == Set("s1", "c1"))
  }

  test("select: a variable named ?where works in the headed form") {
    val kg = quads(("a", "p:x", "b", ""), ("c", "p:y", "d", ""))
    val got = select(kg, "SELECT ?where WHERE { ?where <p:x> ?o }")
    assert(got.columns.toSeq == Seq("where"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("ask: the optional WHERE keyword after ASK") {
    val kg = quads(("c1", "p:in", "n1", ""))
    assert(askQuery(kg, "ASK WHERE { ?c <p:in> <n1> }").collect()(0).getBoolean(0))
    assert(!askQuery(kg, "ask where { ?c <p:in> <n9> }").collect()(0).getBoolean(0))
  }

  test("select: the head ends at '{' when WHERE is left out") {
    val kg = quads(("a", "p:x", "b", ""), ("c", "p:y", "d", ""))
    val got = select(kg, "SELECT ?s { ?s <p:x> ?o }")
    assert(got.columns.toSeq == Seq("s"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(select(kg, "SELECT DISTINCT * { ?s <p:y> ?o }").select("s", "o").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("c", "d")))
  }

  test("select: redundant braces around a UNION branch or a whole body are stripped") {
    val kg = quads(("a", "p:x", "b", ""), ("c", "p:y", "d", ""))
    def subjects(q: String): Set[String] =
      select(kg, q).select("s").collect().map(_.getString(0)).toSet
    assert(subjects("{ { ?s <p:x> ?o } } UNION { ?s <p:y> ?o }") == Set("a", "c"))
    assert(subjects("SELECT ?s WHERE { { { ?s <p:x> ?o } } }") == Set("a"))
    // a nested group beside sibling triples stays unsupported
    val err = intercept[IllegalArgumentException](
      select(kg, "SELECT ?s WHERE { ?s <p:x> ?o . { ?s <p:y> ?o } }"))
    assert(err.getMessage.contains("nested group"), err.getMessage)
  }

  test("select: '?my_union' variable does not trigger a bogus top-level split") {
    val kg = quads(("a", "p:x", "b", ""))
    val got = select(kg, "?my_union <p:x> ?o")
      .select("my_union", "o").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "b")))
  }

  test("select: plain pattern block equals bgp; empty branch rejected") {
    val kg = quads(("a", "p:x", "b", ""), ("b", "p:x", "c", ""))
    val viaSelect = select(kg, "?s <p:x> ?o").select("s", "o").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaSelect == Set(("a", "b"), ("b", "c")))
    val viaHead = select(kg, "SELECT ?s ?o WHERE { ?s <p:x> ?o }").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaHead == viaSelect)
    assertThrows[IllegalArgumentException](select(kg, "{ } UNION { ?a <p:x> ?b }"))
  }

  test("stratifiedSample: deterministic across runs, honors 0/1 rates, subset semantics") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    def run(rates: Map[String, Double]) =
      SampleOps.stratifiedSample(docs, col("lang"), col("id"), rates)
        .collect().map(_.getLong(0)).toSet
    val a = run(Map("en" -> 0.5))
    assert(a == run(Map("en" -> 0.5)), "same salt+rates must select the same rows")
    assert(a.forall(_ % 2 == 0), "default rate 0.0 must drop unlisted strata")
    assert(a.nonEmpty && a.size < 200, "rate 0.5 keeps a strict non-empty subset")
    assert(run(Map("en" -> 1.0, "de" -> 1.0)).size == 400, "rate 1.0 keeps everything")
    val half = run(Map("en" -> 0.25))
    assert(half.subsetOf(a), "lower rate selects a subset of the higher rate (same gate)")
  }

  test("select: SELECT head — projection, DISTINCT, ORDER BY, LIMIT") {
    val kg = quads(
      ("c1", "p:in", "n2", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n1", ""),
      ("c4", "p:in", "n3", ""))
    val got = select(kg,
      """SELECT DISTINCT ?n WHERE { ?c <p:in> ?n } ORDER BY DESC(?n) LIMIT 2""")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("n3", "n2"))
    // projection narrows columns and keeps duplicates without DISTINCT
    val proj = select(kg, """SELECT ?n WHERE { ?c <p:in> ?n } ORDER BY ?n""")
    assert(proj.columns.toSeq == Seq("n"))
    assert(proj.collect().map(_.getString(0)).toSeq == Seq("n1", "n1", "n2", "n3"))
  }

  test("select: aggregate projections with GROUP BY — the whole query through text") {
    val kg = quads(
      ("s1", "p:supp", "n1", ""), ("c1", "p:cust", "n1", ""), ("c2", "p:cust", "n2", ""),
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "3", XsdInteger))
    val got = select(kg,
      """SELECT ?n (COUNT(*) AS ?members) (COUNT(?rk) AS ?ranked) WHERE {
        |  { ?m <p:supp> ?n }
        |  UNION
        |  { ?m <p:cust> ?n . ?n <p:rk> ?rk . FILTER(?rk >= 2) }
        |} GROUP BY ?n ORDER BY ?n""".stripMargin)
    assert(got.columns.toSeq == Seq("n", "members", "ranked"))
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("n1", 1L, 0L), ("n2", 1L, 1L)))
    // global aggregate: no GROUP BY, one row
    val total = select(kg, """SELECT (COUNT(*) AS ?n) WHERE { ?m <p:cust> ?x }""")
      .collect()
    assert(total.length == 1 && total(0).getLong(0) == 2L)
    // SUM casts the lexical form to double
    val s = select(kg,
      """SELECT (SUM(?rk) AS ?total) WHERE { ?n <p:rk> ?rk }""").collect()
    assert(s(0).getDouble(0) == 4.0)
  }

  test("select: malformed heads and trailing garbage raise loudly") {
    val kg = quads(("a", "p:x", "b", ""))
    assertThrows[IllegalArgumentException](
      select(kg, "SELECT ?s WHERE { ?s <p:x> ?o } FROB 3"))
    assertThrows[IllegalArgumentException](
      select(kg, "SELECT ?s ?bogus& WHERE { ?s <p:x> ?o }"))
    assertThrows[IllegalArgumentException](
      select(kg, "SELECT ?s ?o WHERE { ?s <p:x> ?o } GROUP BY ?s")) // no aggregate
    assertThrows[IllegalArgumentException](
      select(kg, "SELECT ?o (COUNT(*) AS ?n) WHERE { ?s <p:x> ?o } GROUP BY ?s")) // ?o not grouped
  }

  test("select: property-path '+'/'*' terse forms auto-bridge the closure") {
    val kg = quads(
      ("a", "p:broader", "b", ""), ("b", "p:broader", "c", ""),
      ("b", "p:label", "mid", XsdString))
    val plus = select(kg, "?d <p:broader>+ ?anc . ?d <p:label> ?lbl")
      .select("d", "anc", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(plus == Set(("b", "c", "mid")))
    // zero-or-more includes the identity pairs
    val star = select(kg,
      """SELECT ?d (COUNT(*) AS ?n) WHERE { ?d <p:broader>* ?x } GROUP BY ?d ORDER BY ?d""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(star == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("select: sequence path <a>/<b> chains through a dropped internal variable") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("n1", "p:of", "r1", ""),
      ("r1", "p:name", "ASIA", XsdString),
      ("c9", "p:in", "n9", "")) // dangling — no p:of hop
    val got = select(kg, "?c <p:in>/<p:of> ?r . ?r <p:name> ?nm")
    assert(!got.columns.exists(_.startsWith("__seq")),
      "internal hop variables must be dropped from the output")
    val rows = got.select("c", "r", "nm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("c1", "r1", "ASIA")))
    // sequence segment with a closure suffix: <p:in>/<p:of>+ composes
    val kg2 = quads(
      ("c1", "p:in", "n1", ""), ("n1", "p:of", "m", ""), ("m", "p:of", "top", ""))
    val comp = select(kg2, "?c <p:in>/<p:of>+ ?r")
      .select("c", "r").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(comp == Set(("c1", "m"), ("c1", "top")))
  }

  test("select: inverse path ^<p> swaps the hop; composes inside sequences") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("n1", "p:of", "r1", ""))
    val inv = select(kg, "?n ^<p:in> ?c")
      .select("n", "c").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(inv == Set(("n1", "c1"), ("n1", "c2")))
    // region back to its customers: forward p:of inverted, then inverse p:in
    val seq = select(kg, "?r ^<p:of>/^<p:in> ?c")
      .select("r", "c").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(seq == Set(("r1", "c1"), ("r1", "c2")))
  }

  test("select: alternation <a>|<b> is one IN-filtered pattern; closure inside alternation rejected") {
    val kg = quads(
      ("s1", "p:supp", "n1", ""), ("c1", "p:cust", "n1", ""), ("c2", "p:cust", "n2", ""),
      ("x1", "p:other", "n1", ""))
    val got = select(kg, "?m <p:supp>|<p:cust> ?n")
      .select("m", "n").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("s1", "n1"), ("c1", "n1"), ("c2", "n2")))
    assertThrows[IllegalArgumentException](select(kg, "?m <p:supp>+|<p:cust> ?n"))
  }

  test("select: zero-or-one path <p>? is identity plus single hop, lazily planned") {
    val kg = quads(
      ("a", "p:next", "b", ""), ("b", "p:next", "c", ""))
    val got = select(kg, "?x <p:next>? ?y")
      .select("x", "y").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("a", "a"), ("b", "b"), ("c", "c"), // identity over domain∪range
      ("a", "b"), ("b", "c")))            // the single hops
  }

  test("parseQuery/select: FILTER(?a < ?b) compares two bound variables numerically") {
    val q = group("?n <p:a> ?x . ?n <p:b> ?y . FILTER(?x < ?y)")
    assert(q.filters == Seq(VarCompare("x", "<", "y")))
    val kg = quads(
      ("n1", "p:a", "2", XsdInteger), ("n1", "p:b", "10", XsdInteger),
      ("n2", "p:a", "5", XsdInteger), ("n2", "p:b", "3", XsdInteger))
    val got = select(kg, "?n <p:a> ?x . ?n <p:b> ?y . FILTER(?x < ?y)")
      .select("n").collect().map(_.getString(0)).toSeq
    assert(got == Seq("n1"), "numeric compare: 2 < 10 holds, 5 < 3 fails ('10' lexical would fail)")
  }

  test("askQuery / describeQuery / query dispatcher") {
    val kg = quads(
      ("n1", "p:name", "One", XsdString), ("n1", "p:of", "r1", ""),
      ("c1", "p:in", "n1", ""))
    val hit = GraphOps.askQuery(kg, "ASK { ?c <p:in> ?n . ?n <p:of> ?r }").collect()
    assert(hit.length == 1 && hit(0).getBoolean(0))
    val miss = GraphOps.askQuery(kg, "ASK { ?c <p:in> <n9> }").collect()
    assert(miss.length == 1 && !miss(0).getBoolean(0))
    val desc = GraphOps.describeQuery(kg, "DESCRIBE <n1>").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(desc == Set(("n1", "p:name"), ("n1", "p:of"), ("c1", "p:in")))
    // the dispatcher routes all four forms
    assert(GraphOps.query(kg, "ASK { ?c <p:in> ?n }").collect()(0).getBoolean(0))
    assert(GraphOps.query(kg, "DESCRIBE <n1>").count() == 3)
    assert(GraphOps.query(kg, "SELECT ?c WHERE { ?c <p:in> ?n }").columns.toSeq == Seq("c"))
    assert(GraphOps.query(kg,
      "CONSTRUCT { ?n <p:has> ?c } WHERE { ?c <p:in> ?n }").count() == 1)
    assert(GraphOps.query(kg, "?c <p:in> ?n").count() == 1) // bare block
    assertThrows[IllegalArgumentException](GraphOps.askQuery(kg, "ASK { ?c <p:in> ?n } junk"))
  }

  test("select: HAVING, OFFSET, COUNT(DISTINCT ?v)") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n1", ""),
      ("c4", "p:in", "n2", ""), ("c5", "p:in", "n3", ""), ("c5b", "p:in", "n3", ""))
    val having = select(kg,
      """SELECT ?n (COUNT(*) AS ?members) WHERE { ?c <p:in> ?n }
        |GROUP BY ?n HAVING(?members >= 2) ORDER BY ?n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(having == Seq(("n1", 3L), ("n3", 2L)))
    val sliced = select(kg,
      """SELECT DISTINCT ?n WHERE { ?c <p:in> ?n } ORDER BY ?n LIMIT 1 OFFSET 1""")
      .collect().map(_.getString(0)).toSeq
    assert(sliced == Seq("n2"), "OFFSET skips n1, LIMIT keeps one")
    val cd = select(kg,
      """SELECT (COUNT(DISTINCT ?n) AS ?n_nations) WHERE { ?c <p:in> ?n }""")
      .collect()
    assert(cd.length == 1 && cd(0).getLong(0) == 3L)
    // SUM/AVG(DISTINCT) supported since session 5; SAMPLE(DISTINCT) stays out
    assertThrows[IllegalArgumentException](select(kg,
      "SELECT (SAMPLE(DISTINCT ?n) AS ?x) WHERE { ?c <p:in> ?n }"))
    assertThrows[IllegalArgumentException](select(kg,
      "SELECT ?n WHERE { ?c <p:in> ?n } HAVING(?n > 1)")) // HAVING without aggregate
  }

  test("constructQuery: CONSTRUCT { template } WHERE { body } end-to-end") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("n1", "p:of", "r1", ""))
    val got = GraphOps.constructQuery(kg,
      """CONSTRUCT { ?c <urn:locatedIn> ?r . ?r <urn:hasMember> ?c }
        |WHERE { ?c <p:in> ?n . ?n <p:of> ?r }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("c1", "urn:locatedIn", "r1"), ("c2", "urn:locatedIn", "r1"),
      ("r1", "urn:hasMember", "c1"), ("r1", "urn:hasMember", "c2")))
    assertThrows[IllegalArgumentException](
      GraphOps.constructQuery(kg, "CONSTRUCT { ?a <p> ?b }")) // no WHERE
  }

  // ----------------------------------------------------------- IVF ANN

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("ivfAssign: vectors go to their nearest centroid, ties to the smaller cell id") {
    val sp = spark; import sp.implicits._
    val centroids = Seq(1 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0))
    val df = Seq(
      (10L, vec(0.9, 0.1)), // near centroid 1
      (11L, vec(0.1, 0.9)), // near centroid 2
      (12L, vec(1.0, 1.0))  // equidistant → cell 1 (smaller id)
    ).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        SimilarityOps.ivfAssign(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(10L -> 1, 11L -> 2, 12L -> 1))
  }

  test("ivfTopK: probe finds planted neighbors; larger nprobe is a superset") {
    val sp = spark; import sp.implicits._
    val query = Seq(1.0, 0.0, 0.0)
    val centroids = Seq(1 -> Seq(1.0, 0.0, 0.0), 2 -> Seq(0.0, 1.0, 0.0), 3 -> Seq(0.0, 0.0, 1.0))
    val rows = Seq(
      (1L, vec(0.99, 0.01, 0.0)), (2L, vec(0.95, 0.05, 0.0)),
      (3L, vec(0.0, 1.0, 0.05)), (4L, vec(0.05, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val top1probe = SimilarityOps.ivfTopK(rows, col("embedding"), col("vec_id"),
        centroids, query, k = 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1probe == Seq(1L, 2L), "nearest cell holds exactly the planted neighbors")
    val top3probe = SimilarityOps.ivfTopK(rows, col("embedding"), col("vec_id"),
        centroids, query, k = 4, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(top3probe == Set(1L, 2L, 3L, 4L), "full probe recovers everything")
  }

  test("trainIvfCentroids: recovers cluster structure; bit-identical across partitionings") {
    val sp = spark; import sp.implicits._
    // three tight clusters on the axes, interleaved by id so the
    // deterministic smallest-id seeding starts with one seed per cluster
    def axis(c: Int): Seq[Double] = Seq.tabulate(3)(d => if (d == c) 10.0 else 0.0)
    def jitter(base: Seq[Double], i: Int): Seq[Float] =
      base.zipWithIndex.map { case (b, d) => (b + 0.01 * ((i * 7 + d) % 5)).toFloat }
    val rows = (1L to 60L).map(i => (i, jitter(axis((i % 3).toInt), i.toInt)))
      .toDF("vec_id", "embedding")
    val c1 = SimilarityOps.trainIvfCentroids(rows.repartition(1),
      col("embedding"), col("vec_id"), k = 3, iterations = 4)
    val c7 = SimilarityOps.trainIvfCentroids(rows.repartition(7),
      col("embedding"), col("vec_id"), k = 3, iterations = 4)
    assert(c1 == c7, "quantized-sum update must be bit-identical across partitionings")
    // each trained centroid points at a distinct cluster axis
    assert(c1.map(_._2.zipWithIndex.maxBy(_._1)._2).toSet == Set(0, 1, 2))
    // and the trained codebook assigns each cluster to one coherent cell
    val assigned = rows.select(col("vec_id"),
        SimilarityOps.ivfAssign(col("embedding"), c1).as("cell"))
      .collect().map(r => (r.getLong(0) % 3, r.getInt(1)))
    assert(assigned.groupBy(_._1).values.forall(_.map(_._2).toSet.size == 1),
      "every member of a cluster must land in the same trained cell")
  }

  test("FILTER: boolean composition && / || / ! with parens") {
    val kg = quads(
      ("n1", "p:rk", "0", XsdInteger), ("n2", "p:rk", "2", XsdInteger),
      ("n3", "p:rk", "4", XsdInteger), ("n4", "p:rk", "9", XsdInteger))
    val got = GraphOps.select(kg,
      """?n <p:rk> ?rk . FILTER(?rk >= 4 || (?rk < 1 && !(?n = "n9")))""")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("n1", "n3", "n4"))
  }

  test("FILTER: REGEX / STRSTARTS / CONTAINS / STRLEN string predicates") {
    val kg = quads(
      ("n1", "p:name", "ALGERIA", XsdString), ("n2", "p:name", "ARGENTINA", XsdString),
      ("n3", "p:name", "CHINA", XsdString), ("n4", "p:name", "JAPAN", XsdString))
    def names(filter: String): Set[String] =
      GraphOps.select(kg, s"?n <p:name> ?name . FILTER($filter)")
        .collect().map(_.getString(1)).toSet
    assert(names("""REGEX(?name, "^A.*A$")""") == Set("ALGERIA", "ARGENTINA"))
    assert(names("""REGEX(?name, "^a.*a$", "i")""") == Set("ALGERIA", "ARGENTINA"))
    assert(names("""STRSTARTS(?name, "CH")""") == Set("CHINA"))
    assert(names("""CONTAINS(?name, "PA")""") == Set("JAPAN"))
    assert(names("""STRLEN(?name) <= 5""") == Set("CHINA", "JAPAN"))
    assert(names("""STRENDS(?name, "INA") && STRLEN(?name) > 5""") == Set("ARGENTINA"))
  }

  test("FILTER: arithmetic expressions, reversed comparison, IRI operand") {
    val kg = quads(
      ("n1", "p:a", "3", XsdInteger), ("n2", "p:a", "7", XsdInteger),
      ("n1", "p:ref", "urn:x", ""), ("n2", "p:ref", "urn:y", ""))
    val arith = GraphOps.select(kg,
      """?n <p:a> ?a . FILTER((?a * 2) + 1 > 10)""").collect().map(_.getString(1)).toSet
    assert(arith == Set("n2"))
    val reversed = GraphOps.select(kg,
      """?n <p:a> ?a . FILTER(5 < ?a)""").collect().map(_.getString(1)).toSet
    assert(reversed == Set("n2"))
    val iri = GraphOps.select(kg,
      """?n <p:ref> ?o . FILTER(?o = <urn:x>)""").collect().map(_.getString(0)).toSet
    assert(iri == Set("n1"))
  }

  test("FILTER: BOUND over an OPTIONAL variable; !BOUND is the negation idiom") {
    val kg = quads(
      ("n1", "p:name", "a", XsdString), ("n2", "p:name", "b", XsdString),
      ("n1", "p:note", "x", XsdString))
    val unbound = GraphOps.select(kg,
      """?n <p:name> ?nm . OPTIONAL { ?n <p:note> ?note } . FILTER(!BOUND(?note))""")
      .collect().map(_.getString(0)).toSet
    assert(unbound == Set("n2"))
    val bound = GraphOps.select(kg,
      """?n <p:name> ?nm . OPTIONAL { ?n <p:note> ?note } . FILTER(BOUND(?note))""")
      .collect().map(_.getString(0)).toSet
    assert(bound == Set("n1"))
  }

  test("FILTER EXISTS keeps rows with a compatible match; NOT EXISTS drops them") {
    val kg = quads(
      ("n1", "p:name", "a", XsdString), ("n2", "p:name", "b", XsdString),
      ("s1", "p:in", "n1", ""))
    val exists = GraphOps.select(kg,
      """?n <p:name> ?nm . FILTER EXISTS { ?s <p:in> ?n }""")
      .collect().map(_.getString(0)).toSet
    assert(exists == Set("n1"))
    val notExists = GraphOps.select(kg,
      """?n <p:name> ?nm . FILTER NOT EXISTS { ?s <p:in> ?n }""")
      .collect().map(_.getString(0)).toSet
    assert(notExists == Set("n2"))
  }

  test("BIND: CONCAT and arithmetic aliases; FILTER sees the alias; rebind rejected") {
    val kg = quads(
      ("n1", "p:name", "a", XsdString), ("n1", "p:rk", "2", XsdInteger),
      ("n2", "p:name", "b", XsdString), ("n2", "p:rk", "4", XsdInteger))
    val got = GraphOps.select(kg,
      """SELECT ?label ?score WHERE {
        |  ?n <p:name> ?nm . ?n <p:rk> ?rk .
        |  BIND(CONCAT("x-", ?nm) AS ?label) . BIND(?rk * 10 + ?rk AS ?score) .
        |  FILTER(?score >= 30)
        |} ORDER BY ?label""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("x-b", 44.0)))
    val err = intercept[IllegalArgumentException] {
      GraphOps.select(kg, """?n <p:name> ?nm . BIND("z" AS ?nm)""")
    }
    assert(err.getMessage.contains("already bound"))
    val noAs = intercept[IllegalArgumentException] {
      GraphOps.select(kg, """?n <p:name> ?nm . BIND(?nm)""")
    }
    assert(noAs.getMessage.contains("BIND"))
  }

  test("GROUP_CONCAT sorts deterministically and honors SEPARATOR; SAMPLE is min") {
    val kg = quads(
      ("n1", "p:in", "r1", ""), ("n2", "p:in", "r1", ""), ("n3", "p:in", "r2", ""))
    val got = GraphOps.select(kg,
      """SELECT ?r (GROUP_CONCAT(?n; SEPARATOR="|") AS ?members)
        |       (SAMPLE(?n) AS ?first) WHERE {
        |  ?n <p:in> ?r
        |} GROUP BY ?r ORDER BY ?r""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("r1", "n1|n2", "n1"), ("r2", "n3", "n3")))
  }

  test("subquery: { SELECT … } compiles recursively and joins on shared variables") {
    val kg = quads(
      ("n1", "p:name", "a", XsdString), ("n2", "p:name", "b", XsdString),
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n2", ""))
    val got = GraphOps.select(kg,
      """SELECT ?name ?n_members WHERE {
        |  ?n <p:name> ?name .
        |  { SELECT ?n (COUNT(*) AS ?n_members) WHERE { ?c <p:in> ?n } GROUP BY ?n }
        |} ORDER BY ?name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 2L), ("b", 1L)))
    // a branch that is ONLY a subquery works too (modifiers then apply outside)
    val alone = GraphOps.select(kg,
      """SELECT ?n_members WHERE {
        |  { SELECT ?n (COUNT(*) AS ?n_members) WHERE { ?c <p:in> ?n } GROUP BY ?n }
        |} ORDER BY ?n_members LIMIT 1""".stripMargin)
      .collect().map(_.getLong(0))
    assert(alone.toSeq == Seq(1L))
    val inOptional = intercept[IllegalArgumentException] {
      GraphOps.select(kg,
        """?n <p:name> ?name . OPTIONAL { SELECT ?n WHERE { ?c <p:in> ?n } }""")
    }
    assert(inOptional.getMessage.contains("not supported"))
  }

  test("FILTER literal traps: expression lookalikes inside literals stay data") {
    val kg = quads(
      ("n1", "p:name", "FILTER(?x < 5)", XsdString),
      ("n2", "p:name", "b && c", XsdString))
    val got = GraphOps.select(kg,
      """?n <p:name> ?nm . FILTER(CONTAINS(?nm, "&&") || ?nm = "FILTER(?x < 5)")""")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("n1", "n2"))
    val single = intercept[IllegalArgumentException] {
      GraphOps.select(kg, """?n <p:name> ?nm . FILTER(?nm = "a" & ?nm = "b")""")
    }
    assert(single.getMessage.contains("&&"))
  }

  test("PREFIX + a: CURIEs expand everywhere; literal lookalikes stay data") {
    val kg = quads(
      ("d1", GraphOps.RdfTypeIri, "urn:v:Document", ""),
      ("d2", GraphOps.RdfTypeIri, "urn:v:Image", ""),
      ("d1", "urn:v:lang", "en", XsdString),
      ("d3", "urn:v:lang", "v:x", XsdString))
    val typed = GraphOps.query(kg,
      """PREFIX v: <urn:v:>
        |SELECT ?d WHERE { ?d a v:Document }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(typed == Seq("d1"))
    // a CURIE lookalike inside a literal must stay data, and a CURIE in
    // OBJECT position must expand (the rewrite is text-wide, not
    // predicate-only)
    val lit = GraphOps.select(kg,
      """PREFIX v: <urn:v:>
        |SELECT ?d WHERE { ?d <urn:v:lang> "v:x" }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(lit == Seq("d3"))
    val obj = GraphOps.select(kg,
      """PREFIX v: <urn:v:>
        |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |SELECT ?d WHERE { ?d rdf:type v:Image }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(obj == Seq("d2"))
  }

  test("FILTER IN / NOT IN: =-chain semantics over numbers and strings") {
    val kg = quads(
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "2", XsdInteger),
      ("n3", "p:rk", "3", XsdInteger))
    val in = GraphOps.select(kg, """?n <p:rk> ?rk . FILTER(?rk IN (1, 3))""")
      .collect().map(_.getString(0)).toSet
    assert(in == Set("n1", "n3"))
    val notIn = GraphOps.select(kg, """?n <p:rk> ?rk . FILTER(?n NOT IN ("n1", "n9"))""")
      .collect().map(_.getString(0)).toSet
    assert(notIn == Set("n2", "n3"))
  }

  test("negated property set: !<p> and !(<a>|<b>) match all other predicates, unbound") {
    val kg = quads(
      ("s", "p:a", "1", XsdInteger), ("s", "p:b", "2", XsdInteger),
      ("s", "p:c", "3", XsdInteger))
    val one = GraphOps.select(kg, """?s !<p:a> ?o""")
    assert(one.columns.toSeq == Seq("o", "s"), "the negated predicate must not bind")
    assert(one.collect().map(_.getString(0)).toSet == Set("2", "3"))
    val two = GraphOps.select(kg, """?s !(<p:a>|<p:c>) ?o""")
      .collect().map(_.getString(0)).toSet
    assert(two == Set("2"))
  }

  test("term introspection: DATATYPE / isIRI / isBlank / isLiteral / isNumeric") {
    val kg = quads(
      ("n1", "p:name", "alice", XsdString),
      ("n1", "p:age", "30", XsdInteger),
      ("n1", "p:ref", "urn:x", ""),
      ("n1", "p:note", "_:b0", ""))
    def objs(f: String): Set[String] =
      GraphOps.select(kg, s"?s !<p:none> ?o . FILTER($f)")
        .collect().map(_.getString(0)).toSet
    assert(objs("isLiteral(?o)") == Set("alice", "30"))
    assert(objs("isIRI(?o)") == Set("urn:x"))
    assert(objs("isBlank(?o)") == Set("_:b0"))
    assert(objs("isNumeric(?o)") == Set("30"))
    assert(objs(s"""DATATYPE(?o) = <$XsdString>""") == Set("alice"))
    // the tracked companion column is internal — never in query output
    val out = GraphOps.select(kg, "?s !<p:none> ?o . FILTER(isLiteral(?o))")
    assert(out.columns.toSeq == Seq("o", "s"))
  }

  test("string value functions: UCASE / LCASE / SUBSTR / REPLACE / STRBEFORE / STRAFTER") {
    val kg = quads(
      ("n1", "p:name", "Alpha_One", XsdString),
      ("n2", "p:name", "beta", XsdString))
    val got = GraphOps.select(kg,
      """SELECT ?s ?u ?l ?sub ?rep ?b4 ?aft WHERE {
        |  ?s <p:name> ?name .
        |  BIND(UCASE(?name) AS ?u) . BIND(LCASE(?name) AS ?l) .
        |  BIND(SUBSTR(?name, 2, 3) AS ?sub) .
        |  BIND(REPLACE(?name, "a", "x") AS ?rep) .
        |  BIND(STRBEFORE(?name, "_") AS ?b4) . BIND(STRAFTER(?name, "_") AS ?aft)
        |} ORDER BY ?s""".stripMargin)
      .collect().map(r => (0 to 6).map(r.getString))
    assert(got(0) == Seq("n1", "ALPHA_ONE", "alpha_one", "lph", "Alphx_One", "Alpha", "One"))
    assert(got(1) == Seq("n2", "BETA", "beta", "eta", "betx", "", ""),
      "STRBEFORE/STRAFTER must return empty on a missing delimiter")
  }

  test("IF and COALESCE: conditional values, OPTIONAL defaults") {
    val kg = quads(
      ("n1", "p:rk", "1", XsdInteger), ("n2", "p:rk", "3", XsdInteger),
      ("n1", "p:note", "special", XsdString))
    val got = GraphOps.select(kg,
      """SELECT ?n ?band ?note2 WHERE {
        |  ?n <p:rk> ?rk .
        |  OPTIONAL { ?n <p:note> ?note } .
        |  BIND(IF(?rk >= 2, "high", "low") AS ?band) .
        |  BIND(COALESCE(?note, "none") AS ?note2)
        |} ORDER BY ?n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("n1", "low", "special"), ("n2", "high", "none")))
  }

  test("clause keywords inside IRIs and literals cannot hijack extraction") {
    val kg = quads(
      ("s", "urn:x/FILTER(y)", "1", XsdInteger),
      ("s", "urn:x/BIND(z)", "2", XsdInteger))
    // an IRI containing FILTER(…) is a term — the clause scanner must
    // not consume and blank it
    val one = GraphOps.select(kg, "?s <urn:x/FILTER(y)> ?o")
      .collect().map(_.getString(0)).toSeq
    assert(one == Seq("1"))
    // a literal containing ' AS ?x' must not hijack the BIND alias split
    val two = GraphOps.select(kg,
      """?s <urn:x/BIND(z)> ?o . BIND(CONCAT(?o, " AS ?fake") AS ?lab)""")
      .select("lab").collect().map(_.getString(0)).toSeq
    assert(two == Seq("2 AS ?fake"))
  }

  test("FROM / FROM NAMED: dataset clause scopes plain patterns and GRAPH blocks") {
    val sp = spark; import sp.implicits._
    val kg = Seq(
      ("n1", "p:name", "a", "", "g1"), ("n2", "p:name", "b", "", "g2"),
      ("n1", "p:rk", "1", XsdInteger, "g1"), ("n2", "p:rk", "2", XsdInteger, "g2"))
      .toDF("subj", "pred", "obj", "dt", "graph")
    val from = GraphOps.select(kg,
      "SELECT ?s FROM <g1> WHERE { ?s <p:name> ?nm }")
      .collect().map(_.getString(0)).toSeq
    assert(from == Seq("n1"), "FROM must restrict the default graph")
    val fromNamed = GraphOps.select(kg,
      "SELECT ?s ?g FROM NAMED <g2> WHERE { GRAPH ?g { ?s <p:rk> ?rk } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(fromNamed == Seq(("n2", "g2")), "FROM NAMED must scope GRAPH blocks")
    // a dataset clause is a COMPLETE specification: FROM without
    // FROM NAMED leaves the GRAPH side empty
    assert(GraphOps.select(kg,
      "SELECT ?s FROM <g1> WHERE { GRAPH ?g { ?s <p:rk> ?rk } }").count() == 0)
    // and both sides compose: plain pattern from g1, GRAPH block from g2
    val both = GraphOps.select(kg,
      """SELECT ?s ?t FROM <g1> FROM NAMED <g2> WHERE {
        |  ?s <p:name> ?nm . GRAPH ?g { ?t <p:rk> ?rk }
        |}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(both == Seq(("n1", "n2")))
  }

  test("updateClosure: incremental delta maintenance equals full recompute") {
    val sp = spark; import sp.implicits._
    // chain with a branch; hold out two edges whose new paths must
    // alternate old-closure segments and BOTH new edges (1→7 below)
    val all = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L), (6L, 7L))
    val held = Set((2L, 3L), (6L, 7L))
    val base = all.filterNot(held)
    val c0 = GraphOps.transitiveClosure(base.toDF("src", "dst"))
    val updated = GraphOps.updateClosure(c0, held.toSeq.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = GraphOps.transitiveClosure(all.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(updated == full, "delta maintenance must equal the full re-closure")
    assert(updated.contains((1L, 7L)), "the alternating old/new/old/new path must appear")
    // empty delta is the identity
    assert(GraphOps.updateClosure(c0,
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == c0.count())
  }

  test("HAVING takes the full expression grammar; CONSTRUCT WHERE short form") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n2", ""))
    val hv = GraphOps.select(kg,
      """SELECT ?n (COUNT(*) AS ?c) WHERE { ?m <p:in> ?n }
        |GROUP BY ?n HAVING(?c >= 2 || ?n = "n2") ORDER BY ?n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hv == Seq(("n1", 2L), ("n2", 1L)),
      "n2 passes only through the || branch — composition is load-bearing")
    val cw = GraphOps.query(kg, "CONSTRUCT WHERE { ?m <p:in> ?n }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(cw == Set(("c1", "p:in", "n1"), ("c2", "p:in", "n1"), ("c3", "p:in", "n2")))
    // the short form requires a PLAIN pattern block
    intercept[IllegalArgumentException] {
      GraphOps.constructQuery(kg, "CONSTRUCT WHERE { ?m <p:in> ?n . FILTER(?n = \"n1\") }")
    }
  }

  test("SELECT head expression projections: (expr AS ?alias)") {
    val kg = quads(
      ("n1", "p:rk", "2", XsdInteger), ("n2", "p:rk", "4", XsdInteger))
    val got = GraphOps.select(kg,
      """SELECT ?n (?rk * 2 AS ?rk2) (CONCAT(?n, "!") AS ?bang) WHERE {
        |  ?n <p:rk> ?rk
        |} ORDER BY ?n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq(("n1", 4.0, "n1!"), ("n2", 8.0, "n2!")))
    val err = intercept[IllegalArgumentException] {
      GraphOps.select(kg,
        """SELECT (?rk * 2 AS ?x) (COUNT(*) AS ?c) WHERE { ?n <p:rk> ?rk } GROUP BY ?rk""")
    }
    assert(err.getMessage.contains("BIND"))
  }

  test("ivfTopK agrees with brute force when probing all cells") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(42)
    val dims = 8
    val rows = (1L to 60L).map(i => (i, Seq.fill(dims)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val query = Seq.fill(dims)(rng.nextGaussian())
    val centroids = (1 to 4).map(c => c -> Seq.tabulate(dims)(d => if (d == c % dims) 1.0 else 0.1))
    val ivf = SimilarityOps.ivfTopK(rows, col("embedding"), col("vec_id"),
        centroids, query, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = SimilarityOps.bruteForceTopK(rows, col("embedding"), col("vec_id"),
        query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute, "nprobe = nlist must reduce to exact top-k")
  }

  // ------------------------------------------------------ SPARQL Update

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  test("updateQuery INSERT DATA: set semantics, typed literals, existing triple is a no-op") {
    val kg = quads(("s1", "p:name", "ann", XsdString), ("s1", "p:knows", "s2", ""))
    val got = asSet(GraphOps.updateQuery(kg,
      """INSERT DATA {
        |  <s1> <p:name> "ann" .
        |  <s2> <p:age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |  <s2> <p:knows> <s1> }""".stripMargin))
    assert(got == Set(
      ("s1", "p:name", "ann", XsdString),
      ("s1", "p:knows", "s2", ""),
      ("s2", "p:age", "30", XsdInteger),
      ("s2", "p:knows", "s1", "")))
  }

  test("updateQuery DELETE DATA removes on (subj,pred,obj) identity; absent triple is a no-op") {
    val kg = quads(("s1", "p:name", "ann", XsdString), ("s1", "p:knows", "s2", ""))
    val got = asSet(GraphOps.updateQuery(kg,
      """DELETE DATA { <s1> <p:name> "ann" . <s9> <p:name> "ghost" }"""))
    assert(got == Set(("s1", "p:knows", "s2", "")))
  }

  test("updateQuery DELETE WHERE: pattern block doubles as the delete template") {
    val kg = quads(
      ("s1", "p:knows", "s2", ""), ("s2", "p:knows", "s3", ""),
      ("s1", "p:name", "ann", XsdString))
    val got = asSet(GraphOps.updateQuery(kg, "DELETE WHERE { ?a <p:knows> ?b }"))
    assert(got == Set(("s1", "p:name", "ann", XsdString)))
  }

  test("updateQuery DELETE/INSERT WHERE: both templates see pre-update solutions, delete first") {
    val kg = quads(("c1", "p:in", "n1", ""), ("c2", "p:in", "n1", ""), ("c3", "p:in", "n2", ""))
    val got = asSet(GraphOps.updateQuery(kg,
      """DELETE { ?c <p:in> <n1> } INSERT { ?c <p:in> <n2> }
        |WHERE { ?c <p:in> <n1> }""".stripMargin))
    assert(got == Set(("c1", "p:in", "n2", ""), ("c2", "p:in", "n2", ""), ("c3", "p:in", "n2", "")))
  }

  test("updateQuery INSERT WHERE derives new triples; set-dedup against existing") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("n1", "p:part", "r1", ""),
      ("c1", "p:reg", "r1", ""))
    val got = asSet(GraphOps.updateQuery(kg,
      "INSERT { ?c <p:reg> ?r } WHERE { ?c <p:in> ?n . ?n <p:part> ?r }"))
    assert(got == Set(
      ("c1", "p:in", "n1", ""), ("n1", "p:part", "r1", ""), ("c1", "p:reg", "r1", "")))
  }

  test("updateQuery rejects variables in DATA blocks, unbound template vars, and paths in templates") {
    val kg = quads(("s1", "p:knows", "s2", ""))
    assert(intercept[IllegalArgumentException] {
      GraphOps.updateQuery(kg, "INSERT DATA { ?s <p:x> <o> }")
    }.getMessage.contains("variable-free"))
    assert(intercept[IllegalArgumentException] {
      GraphOps.updateQuery(kg, "INSERT { ?a <p:x> ?nope } WHERE { ?a <p:knows> ?b }")
    }.getMessage.contains("not bound"))
    assert(intercept[IllegalArgumentException] {
      GraphOps.updateQuery(kg, "DELETE WHERE { ?a <p:knows>+ ?b }")
    }.getMessage.contains("no paths"))
  }

  test("updateQuery PREFIX expansion and FILTER in the WHERE body") {
    val kg = quads(("s1", "urn:x#age", "4", XsdInteger), ("s2", "urn:x#age", "9", XsdInteger))
    val got = asSet(GraphOps.updateQuery(kg,
      """PREFIX x: <urn:x#>
        |DELETE { ?s x:age ?a } WHERE { ?s x:age ?a . FILTER(?a >= 5) }""".stripMargin))
    assert(got == Set(("s1", "urn:x#age", "4", XsdInteger)))
  }

  test("pageRank: mass conserved, dangling handled, bit-identical across partitionings") {
    val sp = spark; import sp.implicits._
    // star + dangling sink: a,b,c -> d; d has no out-edges
    val edges = Seq(("a", "d"), ("b", "d"), ("c", "d"), ("a", "b"))
      .toDF("src", "dst")
    val r1 = GraphOps.pageRank(edges, iterations = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // rank mass conserved up to quantization
    assert(math.abs(r1.values.sum - 1.0) < 1e-6, s"mass ${r1.values.sum}")
    // d collects from three sources: strictly the max
    assert(r1("d") > r1("a") && r1("d") > r1("b") && r1("d") > r1("c"))
    // b gets a's split contribution: above the source-only floor
    assert(r1("b") > r1("c"))
    val r2 = GraphOps.pageRank(edges.repartition(7), iterations = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(r1 == r2, "quantized sums must make ranks partition-invariant")
  }

  test("MD5 / SHA256 value functions emit lowercase hex digests") {
    val kg = quads(("s1", "p:name", "ann", XsdString))
    val got = GraphOps.select(kg,
      """SELECT (MD5(?v) AS ?m) (SHA256(?v) AS ?s) WHERE { ?x <p:name> ?v }""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq((md5Hex("ann"), sha256Hex("ann"))))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("numeric functions ABS/ROUND/CEIL/FLOOR; ROUND is half-up") {
    val kg = quads(
      ("n1", "p:v", "-3", XsdInteger), ("n2", "p:v", "5", XsdInteger))
    val got = GraphOps.select(kg,
      """SELECT ?n (ABS(?v) AS ?a) (ROUND(?v / 2) AS ?r) (CEIL(?v / 2) AS ?c) (FLOOR(?v / 2) AS ?f)
        |WHERE { ?n <p:v> ?v } ORDER BY ?n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    // -3/2 = -1.5: half-up ROUND → -1 (floor(-1.0)), CEIL → -1, FLOOR → -2
    assert(got == Seq(("n1", 3.0, -1.0, -1.0, -2.0), ("n2", 5.0, 3.0, 3.0, 2.0)))
  }

  // --------------------------------------------- sameAs entity resolution

  test("resolveSameAs: chain clique merges to lexicographic min, sameAs rows dropped, dedup") {
    val kg = quads(
      ("n:b", GraphOps.OwlSameAs, "n:c", ""),
      ("n:c", GraphOps.OwlSameAs, "n:a", ""),       // chain b–c–a: clique {a,b,c} → canon n:a
      ("n:a", "p:name", "ann", XsdString),
      ("n:b", "p:name", "ann", XsdString),          // collides with n:a's after rewrite
      ("n:c", "p:note", "extra", XsdString),        // fresh triple landing on n:a
      ("d:1", "p:ref", "n:b", ""),                  // IRI object rewritten
      ("d:1", "p:tag", "n:b", XsdString))           // literal that LOOKS like the alias — untouched
    val got = asSet(GraphOps.resolveSameAs(kg))
    assert(got == Set(
      ("n:a", "p:name", "ann", XsdString),
      ("n:a", "p:note", "extra", XsdString),
      ("d:1", "p:ref", "n:a", ""),
      ("d:1", "p:tag", "n:b", XsdString)))
  }

  test("resolveSameAs: no sameAs edges is the identity; two disjoint cliques stay disjoint") {
    val plain = quads(("s", "p:x", "o", ""))
    assert(asSet(GraphOps.resolveSameAs(plain)) == Set(("s", "p:x", "o", "")))
    val two = quads(
      ("x:2", GraphOps.OwlSameAs, "x:1", ""),
      ("y:2", GraphOps.OwlSameAs, "y:1", ""),
      ("x:2", "p:v", "1", XsdInteger),
      ("y:2", "p:v", "2", XsdInteger))
    assert(asSet(GraphOps.resolveSameAs(two)) == Set(
      ("x:1", "p:v", "1", XsdInteger),
      ("y:1", "p:v", "2", XsdInteger)))
  }

  test("resolveSameAs: shuffle-join fallback (broadcastCap = 0) matches the broadcast path") {
    // r6: the alias→canon mapping is size-gated — past broadcastCap every
    // mapping-shaped join degrades to a plain shuffle join. Same quads in,
    // identical resolved graph out on both paths.
    val kg = quads(
      ("n:b", GraphOps.OwlSameAs, "n:c", ""),
      ("n:c", GraphOps.OwlSameAs, "n:a", ""),
      ("n:a", "p:name", "ann", XsdString),
      ("n:b", "p:name", "ann", XsdString),
      ("n:c", "p:note", "extra", XsdString),
      ("d:1", "p:ref", "n:b", ""),
      ("d:1", "p:tag", "n:b", XsdString))
    val expected = Set(
      ("n:a", "p:name", "ann", XsdString),
      ("n:a", "p:note", "extra", XsdString),
      ("d:1", "p:ref", "n:a", ""),
      ("d:1", "p:tag", "n:b", XsdString))
    assert(asSet(GraphOps.resolveSameAs(kg, broadcastCap = 0L)) == expected)
    assert(asSet(GraphOps.resolveSameAs(kg)) == expected)
  }

  test("resolveSameAs: a 60-link chain resolves to its least IRI in default rounds") {
    // diameter 60: min-label propagation would need 60 rounds, past the
    // default budget of 20; the canonical IRI sits at the far end from the
    // one alias that holds a triple
    def iri(i: Int) = f"urn:e:$i%04d"
    val chain = (0 until 60).map(i => (iri(i + 1), GraphOps.OwlSameAs, iri(i), ""))
    val kg = quads(chain :+ ((iri(60), "p:name", "far", XsdString)): _*)
    assert(asSet(GraphOps.resolveSameAs(kg)) == Set(("urn:e:0000", "p:name", "far", XsdString)))
  }

  test("hits: 20 iterations leave no persisted frames behind (unpersist discipline)") {
    val sp = spark; import sp.implicits._
    sp.catalog.clearCache()
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val out = GraphOps.hits(edges, iterations = 20)
    assert(out.count() == 3)
    // r6: per-round state is localCheckpoint'ed (self-releasing), not
    // persist'ed — a long run must not grow the CacheManager at all
    assert(sp.sharedState.cacheManager.isEmpty,
      "hits left persisted frames in the CacheManager")
  }

  // --------------------------------------------- RDFS materialization

  private val RdfType = GraphOps.RdfTypeIri

  test("rdfsMaterialize: subClassOf chain, subPropertyOf chain, domain/range over derived preds") {
    val kg = quads(
      ("c:Cat", GraphOps.RdfsSubClassOf, "c:Animal", ""),
      ("c:Animal", GraphOps.RdfsSubClassOf, "c:Thing", ""),
      ("p:hasPet", GraphOps.RdfsSubPropertyOf, "p:keeps", ""),
      ("p:keeps", GraphOps.RdfsSubPropertyOf, "p:relatedTo", ""),
      ("p:keeps", GraphOps.RdfsDomain, "c:Keeper", ""),
      ("p:keeps", GraphOps.RdfsRange, "c:Kept", ""),
      ("x:tom", RdfType, "c:Cat", ""),
      ("x:ann", "p:hasPet", "x:tom", ""),
      ("x:ann", "p:label", "ann", XsdString))
    val got = asSet(GraphOps.rdfsMaterialize(kg))
    val expectedNew = Set(
      // schema closures
      ("c:Cat", GraphOps.RdfsSubClassOf, "c:Thing", ""),
      ("p:hasPet", GraphOps.RdfsSubPropertyOf, "p:relatedTo", ""),
      // rdfs7 through the 2-hop property chain
      ("x:ann", "p:keeps", "x:tom", ""),
      ("x:ann", "p:relatedTo", "x:tom", ""),
      // rdfs2/rdfs3 fire on the DERIVED p:keeps triple
      ("x:ann", RdfType, "c:Keeper", ""),
      ("x:tom", RdfType, "c:Kept", ""),
      // rdfs9 through the 2-hop class chain
      ("x:tom", RdfType, "c:Animal", ""),
      ("x:tom", RdfType, "c:Thing", ""))
    assert(got == asSet(kg) ++ expectedNew)
  }

  test("rdfsMaterialize: literals never range-typed; derived dup of asserted collapses; no schema is identity") {
    val kg = quads(
      ("p:name", GraphOps.RdfsRange, "c:Name", ""),
      ("x:a", "p:name", "bob", XsdString),         // literal object: rdfs3 must NOT fire
      ("c:A", GraphOps.RdfsSubClassOf, "c:B", ""),
      ("x:a", RdfType, "c:A", ""),
      ("x:a", RdfType, "c:B", ""))                 // asserted; rdfs9 re-derives it → dedup
    val got = asSet(GraphOps.rdfsMaterialize(kg))
    assert(got == asSet(kg))
    val plain = quads(("s", "p:x", "o", ""))
    assert(asSet(GraphOps.rdfsMaterialize(plain)) == Set(("s", "p:x", "o", "")))
  }

  // --------------------------------------------------------- BFS distances

  test("shortestPaths: level-synchronous BFS takes the shortest of two routes; unreachable absent") {
    val sp = spark; import sp.implicits._
    // diamond a→b→d, a→c→d→e plus a long detour a→x→y→d and an island z→w
    val edges = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("d", "e"),
      ("a", "x"), ("x", "y"), ("y", "d"), ("z", "w")).toDF("src", "dst")
    val got = GraphOps.shortestPaths(edges, Seq("a").toDF("node"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "x" -> 1L,
      "d" -> 2L, "y" -> 2L, "e" -> 3L))
  }

  test("shortestPaths: multi-source min, cycle terminates, raises when maxIterations too low") {
    val sp = spark; import sp.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val got = GraphOps.shortestPaths(edges, Seq("a", "c").toDF("node"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "c" -> 0L, "b" -> 1L))
    val chain = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    intercept[IllegalStateException] {
      GraphOps.shortestPaths(chain, Seq("1").toDF("node"), maxIterations = 2)
    }
  }

  // ------------------------------------------------- IRI minting / sameTerm

  test("IRI(CONCAT(...)) mints node identities usable in a CONSTRUCT template") {
    val kg = quads(("n:1", "p:name", "ann", XsdString))
    val got = GraphOps.constructQuery(kg,
      """CONSTRUCT { ?node <p:of> ?n } WHERE {
        |  ?n <p:name> ?name . BIND(IRI(CONCAT("m:", ?name)) AS ?node) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("m:ann", "p:of", "n:1")))
  }

  test("SAMETERM is lexical identity — no numeric coercion, unlike '='") {
    val kg = quads(("a", "p:v", "01", XsdInteger), ("b", "p:v", "1", XsdInteger))
    def run(filter: String) = GraphOps.select(kg,
      s"SELECT ?x WHERE { ?x <p:v> ?v . FILTER($filter) } ORDER BY ?x")
      .collect().map(_.getString(0)).toSeq
    assert(run("SAMETERM(?v, \"1\")") == Seq("b"))
    assert(run("?v = 1") == Seq("a", "b"))
  }

  test("var-var SAMETERM between unlinked patterns folds into an equi-join, not a cartesian") {
    val kg = quads(
      ("c1", "p:in", "n1", ""), ("s1", "q:in", "n1", ""), ("s2", "q:in", "n2", ""))
    val df = GraphOps.select(kg,
      """SELECT ?c ?s WHERE { ?c <p:in> ?a . ?s <q:in> ?b .
        |FILTER(SAMETERM(?a, ?b)) } ORDER BY ?c ?s""".stripMargin)
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("c1", "s1")))
    def hasCartesian(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        p.children.exists(hasCartesian)
    assert(!hasCartesian(df.queryExecution.executedPlan))
  }

  // ------------------------------------------------ named-graph updates

  private def quads5(rows: (String, String, String, String, String)*) = {
    val sp = spark; import sp.implicits._
    rows.toDF("subj", "pred", "obj", "dt", "graph")
  }

  private def asSet5(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4))).toSet

  test("updateQuadsQuery: CLEAR/DROP/CREATE graph management forms") {
    val q = quads5(
      ("s1", "p:a", "o1", "", "g:1"), ("s2", "p:b", "o2", "", "g:2"),
      ("s3", "p:c", "o3", "", ""))
    def run(u: String) = asSet5(GraphOps.updateQuadsQuery(q, u))
    assert(run("CLEAR GRAPH <g:1>") ==
      Set(("s2", "p:b", "o2", "", "g:2"), ("s3", "p:c", "o3", "", "")))
    assert(run("DROP SILENT GRAPH <g:1>") == run("CLEAR GRAPH <g:1>"))
    assert(run("CLEAR DEFAULT") ==
      Set(("s1", "p:a", "o1", "", "g:1"), ("s2", "p:b", "o2", "", "g:2")))
    assert(run("CLEAR NAMED") == Set(("s3", "p:c", "o3", "", "")))
    assert(run("CLEAR ALL") == Set.empty)
    assert(run("CREATE GRAPH <g:9>") == asSet5(q))
  }

  test("updateQuadsQuery: ADD set-unions, COPY replaces, MOVE relabels and clears source") {
    val q = quads5(
      ("s1", "p:a", "o1", "", "g:1"), ("s1", "p:a", "o1", "", "g:2"),
      ("s2", "p:b", "o2", "", "g:2"))
    def run(u: String) = asSet5(GraphOps.updateQuadsQuery(q, u))
    // s1's triple already in g:2 → no duplicate
    assert(run("ADD <g:1> TO <g:2>") == asSet5(q))
    assert(run("ADD GRAPH <g:2> TO GRAPH <g:1>") == asSet5(q) +
      (("s2", "p:b", "o2", "", "g:1")))
    assert(run("COPY <g:1> TO <g:2>") == Set(
      ("s1", "p:a", "o1", "", "g:1"), ("s1", "p:a", "o1", "", "g:2")))
    assert(run("MOVE <g:2> TO DEFAULT") == Set(
      ("s1", "p:a", "o1", "", "g:1"),
      ("s1", "p:a", "o1", "", ""), ("s2", "p:b", "o2", "", "")))
    assert(run("COPY <g:1> TO <g:1>") == asSet5(q))
  }

  test("updateQuadsQuery: INSERT/DELETE DATA with GRAPH blocks and default-graph triples") {
    val q = quads5(("s1", "p:a", "o1", "", "g:1"))
    val got = asSet5(GraphOps.updateQuadsQuery(q,
      """INSERT DATA {
        |  <d:1> <p:x> "v" .
        |  GRAPH <g:1> { <s1> <p:a> <o1> . <s9> <p:z> <o9> }
        |  GRAPH <g:2> { <s2> <p:b> <o2> } }""".stripMargin))
    assert(got == Set(
      ("s1", "p:a", "o1", "", "g:1"),            // re-insert is a no-op
      ("s9", "p:z", "o9", "", "g:1"),
      ("s2", "p:b", "o2", "", "g:2"),
      ("d:1", "p:x", "v", XsdString, "")))
    val afterDel = asSet5(GraphOps.updateQuadsQuery(q,
      "DELETE DATA { GRAPH <g:1> { <s1> <p:a> <o1> } }"))
    assert(afterDel == Set.empty)
  }

  test("updateQuadsQuery: WITH scopes templates and WHERE to one graph; plain form hits default") {
    val q = quads5(
      ("c1", "p:in", "n1", "", "g:a"), ("c1", "p:in", "n1", "", "g:b"),
      ("c2", "p:in", "n1", "", ""))
    val got = asSet5(GraphOps.updateQuadsQuery(q,
      """WITH <g:a> DELETE { ?c <p:in> <n1> } INSERT { ?c <p:in> <n2> }
        |WHERE { ?c <p:in> <n1> }""".stripMargin))
    assert(got == Set(
      ("c1", "p:in", "n2", "", "g:a"),           // rewritten in g:a only
      ("c1", "p:in", "n1", "", "g:b"),
      ("c2", "p:in", "n1", "", "")))
    val plain = asSet5(GraphOps.updateQuadsQuery(q,
      "DELETE WHERE { ?c <p:in> ?n }"))
    assert(plain == Set(
      ("c1", "p:in", "n1", "", "g:a"), ("c1", "p:in", "n1", "", "g:b")))
  }

  // ------------------------------------------------- triangle counting

  test("triangleCount: degree-ordered enumeration counts each triangle once per corner") {
    val sp = spark; import sp.implicits._
    // K4 on {a,b,c,d} (4 triangles, each node in 3) plus a pendant edge,
    // a duplicate edge, a reversed edge, and a self-loop
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("c", "b"), ("b", "a"), ("d", "e"), ("e", "e")).toDF("src", "dst")
    val got = GraphOps.triangleCount(edges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L, "e" -> 0L))
  }

  test("triangleCount: triangle-free graph is all zeros") {
    val sp = spark; import sp.implicits._
    val chain = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    val got = GraphOps.triangleCount(chain)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("1" -> 0L, "2" -> 0L, "3" -> 0L, "4" -> 0L))
  }

  test("DESCRIBE ?v WHERE: every matched node described, both edge directions, literal lookalikes untouched") {
    val kg = quads(
      ("n:1", "p:in", "r:0", ""), ("n:2", "p:in", "r:0", ""),
      ("n:3", "p:in", "r:1", ""),
      ("n:1", "p:name", "one", XsdString),
      ("c:9", "p:ref", "n:1", ""),          // incoming IRI edge → described
      ("c:8", "p:note", "n:1", XsdString))  // literal that LOOKS like n:1 → not an edge
    val got = asSet(GraphOps.query(kg,
      "DESCRIBE ?n WHERE { ?n <p:in> <r:0> }"))
    assert(got == Set(
      ("n:1", "p:in", "r:0", ""), ("n:2", "p:in", "r:0", ""),
      ("n:1", "p:name", "one", XsdString),
      ("c:9", "p:ref", "n:1", "")))
  }

  test("VALUES multi-variable: row-wise restriction, arity and boundness checked") {
    val kg = quads(
      ("c:1", "p:in", "n:1", ""), ("c:2", "p:in", "n:2", ""),
      ("n:1", "p:reg", "r:0", ""), ("n:2", "p:reg", "r:1", ""))
    val got = GraphOps.select(kg,
      """SELECT ?c ?r WHERE { ?c <p:in> ?n . ?n <p:reg> ?r .
        |  VALUES (?n ?r) { (<n:1> <r:0>) (<n:2> <r:9>) } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // (n:2, r:9) matches no solution — VALUES is row-wise, not per-column
    assert(got == Seq(("c:1", "r:0")))
    val err = intercept[IllegalArgumentException](GraphOps.select(kg,
      "SELECT ?c WHERE { ?c <p:in> ?n . VALUES (?n ?r) { (<n:1> <r:0>) } }"))
    assert(err.getMessage.contains("not bound"))
    val arity = intercept[IllegalArgumentException](GraphOps.select(kg,
      """SELECT ?c WHERE { ?c <p:in> ?n . ?n <p:reg> ?r .
        |  VALUES (?n ?r) { (<n:1>) } }""".stripMargin))
    assert(arity.getMessage.contains("arity"))
  }

  test("dateTime accessors: YEAR..SECONDS numeric, TZ covers Z/offset/absent") {
    val kg = quads(
      ("e1", "p:ts", "2024-03-05T10:30:02Z", "http://www.w3.org/2001/XMLSchema#dateTime"),
      ("e2", "p:ts", "1999-12-31T23:59:59.25+05:30", "http://www.w3.org/2001/XMLSchema#dateTime"),
      ("e3", "p:ts", "2001-07-04T00:08:01", "http://www.w3.org/2001/XMLSchema#dateTime"))
    val got = GraphOps.select(kg,
      """SELECT ?e (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
        |  (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (SECONDS(?t) AS ?s) (TZ(?t) AS ?tz)
        |WHERE { ?e <p:ts> ?t } ORDER BY ?e""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getString(7))).toSeq
    assert(got == Seq(
      ("e1", 2024.0, 3.0, 5.0, 10.0, 30.0, 2.0, "Z"),
      ("e2", 1999.0, 12.0, 31.0, 23.0, 59.0, 59.25, "+05:30"),
      ("e3", 2001.0, 7.0, 4.0, 0.0, 8.0, 1.0, "")))
    // SECONDS inside a FILTER: fractional comparison excludes e1/e3
    val f = GraphOps.select(kg,
      "SELECT ?e WHERE { ?e <p:ts> ?t . FILTER(SECONDS(?t) > 59) }")
      .collect().map(_.getString(0)).toSeq
    assert(f == Seq("e2"))
  }

  test("ENCODE_FOR_URI: RFC 3986 unreserved kept, space %20, reserved percent-encoded") {
    val kg = quads(("s", "p:v", "A b&c/d~e.f-g_h*i", XsdString))
    val got = GraphOps.select(kg,
      "SELECT (ENCODE_FOR_URI(?v) AS ?e) WHERE { ?s <p:v> ?v }")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("A%20b%26c%2Fd~e.f-g_h%2Ai"))
  }

  test("STRDT / STRLANG: constructed terms introspect via DATATYPE and LANG") {
    val kg = quads(("s", "p:v", "42", XsdString))
    val got = GraphOps.select(kg,
      """SELECT ?t (DATATYPE(?t) AS ?tdt) ?l (LANG(?l) AS ?ltag) WHERE {
        |  ?s <p:v> ?v .
        |  BIND(STRDT(?v, <http://www.w3.org/2001/XMLSchema#integer>) AS ?t) .
        |  BIND(STRLANG(CONCAT(?v, "!"), "fr-CA") AS ?l) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got == Seq(("42", XsdInteger, "42!", "fr-CA")))
    // LANGMATCHES sees the constructed tag
    val m = GraphOps.select(kg,
      """SELECT ?l WHERE { ?s <p:v> ?v . BIND(STRLANG(?v, "fr-CA") AS ?l) .
        |  FILTER(LANGMATCHES(LANG(?l), "fr")) }""".stripMargin).count()
    assert(m == 1)
  }

  test("featurePropagation: exact 2-hop path counting, missing features default 0, partition-invariant") {
    val sp = spark; import sp.implicits._
    // chain a→b→c plus d→c: with all-ones init,
    // hop1: a=1, b=1+1=2, c=1+1+1=3, d=1
    // hop2: a=1, b=1+a=3(2+1), c=3+b(2)+d(1)=6, d=1
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "c")).toDF("src", "dst")
    val ones = Seq("a", "b", "c", "d").toDF("node").withColumn("f", lit(1L))
    val got = GraphOps.featurePropagation(edges, ones, hops = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 1L, "b" -> 3L, "c" -> 6L, "d" -> 1L), s"got $got")
    // missing features default to zero
    val partial = Seq(("a", 10L)).toDF("node", "f")
    val g2 = GraphOps.featurePropagation(edges, partial, hops = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(g2 == Map("a" -> 10L, "b" -> 10L, "c" -> 0L, "d" -> 0L))
    val re = GraphOps.featurePropagation(edges.repartition(5), ones, hops = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(re == got)
  }

  test("randomWalks: hash-seeded picks are valid neighbors, dead ends truncate, partition-invariant") {
    val sp = spark; import sp.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("x", "y"))
      .toDF("src", "dst")
    val starts = Seq("a", "x").toDF("node")
    val rows = GraphOps.randomWalks(edges, starts, walkLen = 4, walksPerNode = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val adj = Map("a" -> Set("b", "c"), "b" -> Set("c"), "c" -> Set("a"),
      "x" -> Set("y"), "y" -> Set.empty[String])
    val byWalk = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.sortBy(_._3)).toMap
    assert(byWalk.keySet == Set(("a", 1), ("a", 2), ("x", 1), ("x", 2)))
    byWalk.foreach { case ((s, _), visits) =>
      assert(visits.head._4 == s, "step 0 is the start")
      visits.toSeq.sliding(2).foreach {
        case Seq(u, v) => assert(adj(u._4).contains(v._4),
          s"step ${v._3}: ${u._4} -> ${v._4} is not an edge")
        case _ =>
      }
    }
    // x -> y then y is a dead end: every x-walk has exactly steps 0 and 1
    assert(byWalk(("x", 1)).map(_._4).toSeq == Seq("x", "y"))
    // determinism across partitionings
    val re = GraphOps.randomWalks(edges.repartition(5), starts, walkLen = 4,
        walksPerNode = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(re.sortBy(identity).toSeq == rows.sortBy(identity).toSeq)
  }

  test("skipGramPairs: window-bounded co-occurrence counts, walks never cross") {
    val sp = spark; import sp.implicits._
    // two hand-built walks: (s,1): a b c d ; (s,2): a x
    val walks = Seq(
      ("s", 1, 0, "a"), ("s", 1, 1, "b"), ("s", 1, 2, "c"), ("s", 1, 3, "d"),
      ("s", 2, 0, "a"), ("s", 2, 1, "x"))
      .toDF("start", "wid", "step", "node")
    val got = GraphOps.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("a", "b")) == 1L && got(("b", "a")) == 1L)
    assert(got(("a", "c")) == 1L, "distance 2 inside window")
    assert(!got.contains(("a", "d")), "distance 3 outside window")
    assert(got(("a", "x")) == 1L, "second walk pairs")
    assert(!got.contains(("b", "x")), "pairs never cross walks")
    assert(got(("b", "d")) == 1L && got(("c", "d")) == 1L)
  }

  test("labelPropagation: majority vote, lexical tie-break, clamped seeds, unreached stays null") {
    val sp = spark; import sp.implicits._
    //   a(seed X) — m — b(seed Y)   m ties X/Y → lexical min X
    //   b — c                        c takes Y in round 2 via b
    //   a — m2, b — m2               m2 majority? one X one Y → tie → X
    //   iso1 — iso2                  never reached → null labels
    val edges = Seq(("a", "m"), ("b", "m"), ("b", "c"), ("a", "m2"), ("b", "m2"),
      ("iso1", "iso2")).toDF("src", "dst")
    val seeds = Seq(("a", "X"), ("b", "Y")).toDF("node", "label")
    val got = GraphOps.labelPropagation(edges, seeds, iterations = 3)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(got("a") == Some("X") && got("b") == Some("Y"), "seeds are clamped")
    assert(got("m") == Some("X"), "X/Y tie must break to the lexically smaller")
    assert(got("m2") == Some("X"))
    assert(got("c") == Some("Y"))
    assert(got("iso1").isEmpty && got("iso2").isEmpty, "unreached stays unlabeled")
    // seed clamping under adversarial majority: surround a seed with the
    // other label — it must not flip
    val edges2 = Seq(("a", "y1"), ("a", "y2"), ("a", "y3")).toDF("src", "dst")
    val seeds2 = Seq(("a", "X"), ("y1", "Y"), ("y2", "Y"), ("y3", "Y")).toDF("node", "label")
    val g2 = GraphOps.labelPropagation(edges2, seeds2, iterations = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(g2("a") == "X", "clamped seed must not flip under majority pressure")
  }

  test("clusteringCoefficient: K4 corner = 1.0, pendant = 0, open wedge center = 0") {
    val sp = spark; import sp.implicits._
    // K4 {a,b,c,d}: every node deg 3, 3 triangles → coeff 2*3/(3*2) = 1.
    // e hangs off d (deg 1 → 0 by convention); d now deg 4, still 3
    // triangles → 2*3/(4*3) = 0.5 → 500000 micro.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e")).toDF("src", "dst")
    val got = GraphOps.clusteringCoefficient(edges)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((3L, 3L, 1000000L)))
    assert(got("d") == ((4L, 3L, 500000L)))
    assert(got("e") == ((1L, 0L, 0L)))
  }

  test("kCore: peeling erodes the pendant chain, keeps the clique, raises in-core degrees") {
    val sp = spark; import sp.implicits._
    // K4 plus a chain d-e-f: k=2 drops f then e (two peel rounds, the
    // chain re-exposes), keeps K4 with degree 3 each; k=4 empties.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
    val core2 = GraphOps.kCore(edges, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(core2 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(GraphOps.kCore(edges, k = 4).isEmpty)
  }

  // the K4-plus-pendant-chain graph above and a 60-link chain, shared by
  // the round-budget and job-count cases below
  private def pendantChain = {
    val sp = spark; import sp.implicits._
    Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
  }

  test("convergence operators: one round budget, one non-convergence error") {
    val sp = spark; import sp.implicits._
    val ccNodes = (0L to 1000L).toDF("id")
    val ccEdges = (0L until 1000L).map(i => (i, i + 1)).toDF("a", "b")
    val chain8 = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val stored = GraphOps.transitiveClosure(Seq((100L, 101L)).toDF("src", "dst"))
    val chain3 = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    // (error name, the rounds it needs, a budget too small, the run, its
    // row count). The rounds needed are those each operator's own loop
    // needed before the shared round loop, so maxIterations keeps its meaning.
    val cases = Seq[(String, Int, Int, Int => DataFrame, Long)](
      ("connectedComponents", 11, 3,
        m => DedupOps.connectedComponents(ccNodes, ccEdges, maxIterations = m), 1001L),
      ("kCore(k=2)", 3, 1, m => GraphOps.kCore(pendantChain, k = 2, maxIterations = m), 4L),
      ("transitiveClosure", 4, 1, m => GraphOps.transitiveClosure(chain8, maxIterations = m), 36L),
      ("updateClosure", 4, 1,
        m => GraphOps.updateClosure(stored, chain8, maxIterations = m), 37L),
      ("closureDelta", 4, 1, m => GraphOps.closureDelta(stored, chain8, maxIterations = m), 36L),
      ("shortestPaths", 4, 2,
        m => GraphOps.shortestPaths(chain3, Seq("1").toDF("node"), maxIterations = m), 4L))
    for ((op, needed, tooFew, run, rows) <- cases) {
      assert(run(needed).count() == rows, op)
      for (m <- Seq(tooFew, needed - 1).distinct) {
        val e = intercept[IllegalStateException](run(m).count())
        assert(e.getMessage == s"$op did not converge in $m rounds — raise maxIterations")
      }
    }
  }

  test("job counts: a kCore peel and a connected-components round are a few jobs each") {
    val sp = spark; import sp.implicits._
    val chain60 = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def jobsOf(df: => DataFrame): Int = {
      org.apache.spark.GraftTestAccess.waitListenerBus(spark.sparkContext)
      val before = jobs
      df.collect()
      org.apache.spark.GraftTestAccess.waitListenerBus(spark.sparkContext)
      jobs - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 3 peels here and 7 rounds for the chain: per round one checkpoint
      // job plus one job per shuffle
      val kc = jobsOf(GraphOps.kCore(pendantChain, k = 2))
      assert(kc <= 13, s"kCore ran $kc jobs")
      val cc = jobsOf(DedupOps.connectedComponents((0L to 60L).toDF("id"), chain60))
      assert(cc <= 36, s"connectedComponents ran $cc jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hits: authority concentrates on the pointed-at hub target; bit-identical across partitionings") {
    val sp = spark; import sp.implicits._
    // s1,s2,s3 all point at t; s1 also points at u. t has no out-edges.
    val edges = Seq(("s1", "t"), ("s2", "t"), ("s3", "t"), ("s1", "u"))
      .toDF("src", "dst")
    val got = GraphOps.hits(edges, iterations = 2)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    // t is the only authority target of 3 hubs; u only of s1
    assert(got("t")._2 > got("u")._2)
    assert(got("t")._2 > 0.7, s"t should dominate authority, got ${got("t")._2}")
    // t and u have no out-edges → zero hub
    assert(got("t")._1 == 0.0 && got("u")._1 == 0.0)
    // s1 points at both t and u → strictly more hub mass than s2/s3
    assert(got("s1")._1 > got("s2")._1 && got("s2")._1 == got("s3")._1)
    val repart = GraphOps.hits(edges.repartition(7), iterations = 2)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(repart == got, "quantized sums must make HITS partition-invariant")
  }

  test("updateQuadsQuery: a literal containing the word GRAPH never derails the DATA split; REDUCED works") {
    val q = quads5(("s0", "p:x", "o0", "", ""))
    val got = asSet5(GraphOps.updateQuadsQuery(q,
      """INSERT DATA { <s1> <p:note> "my GRAPH theory notes" .
        |GRAPH <g:1> { <s2> <p:y> <o2> } }""".stripMargin))
    assert(got == Set(
      ("s0", "p:x", "o0", "", ""),
      ("s1", "p:note", "my GRAPH theory notes", XsdString, ""),
      ("s2", "p:y", "o2", "", "g:1")))
    val r = GraphOps.select(quads(("a", "p:v", "1", XsdInteger), ("b", "p:v", "1", XsdInteger)),
      "SELECT REDUCED ?v WHERE { ?x <p:v> ?v }").collect()
    assert(r.length == 1 && r(0).getString(0) == "1")
  }

  test("BASE declaration resolves relative IRIs via RFC 3986; absolute ones untouched") {
    val kg = quads(
      ("http://ex.org/data/n1", "http://ex.org/voc#name", "ann", XsdString),
      ("http://ex.org/data/n1", "p:other", "x", XsdString))
    val got = GraphOps.select(kg,
      """BASE <http://ex.org/data/>
        |PREFIX v: <http://ex.org/voc#>
        |SELECT ?nm WHERE { <n1> v:name ?nm . <n1> <../voc#name> ?nm }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("ann"))
  }

  test("query() dispatches update forms: 4-col to updateQuery, 5-col to updateQuadsQuery") {
    val flat = GraphOps.query(quads(("s", "p:x", "o", "")),
      "INSERT DATA { <s2> <p:y> <o2> }")
    assert(asSet(flat) == Set(("s", "p:x", "o", ""), ("s2", "p:y", "o2", "")))
    val named = GraphOps.query(quads5(("s", "p:x", "o", "", "g:1")),
      "CLEAR GRAPH <g:1>")
    assert(named.count() == 0)
  }

  test("aggregates over expressions: (SUM(?a * ?b) AS ?x), AVG/MIN/MAX forms") {
    val kg = quads(
      ("o1", "p:price", "3", XsdInteger), ("o1", "p:qty", "4", XsdInteger),
      ("o2", "p:price", "5", XsdInteger), ("o2", "p:qty", "2", XsdInteger))
    val got = GraphOps.select(kg,
      """SELECT (SUM(?p * ?q) AS ?rev) (AVG(?p + ?q) AS ?apq) (MAX(?p - ?q) AS ?mx)
        |WHERE { ?o <p:price> ?p . ?o <p:qty> ?q }""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((22.0, 7.0, 3.0)))
  }

  // ---------------------------------------------------- language tags

  test("lang-tagged literals: @tag in DATA blocks, LANG, LANGMATCHES, DATATYPE=rdf:langString") {
    val kg = quads(("r:1", "p:name", "x", XsdString))
    val upd = GraphOps.updateQuery(kg,
      """INSERT DATA { <r:1> <p:label> "Europa"@de .
        |  <r:1> <p:label> "Europe"@en-GB . <r:1> <p:label> "plain" }""".stripMargin)
    assert(asSet(upd).contains(("r:1", "p:label", "Europa", "@de")))
    val en = GraphOps.select(upd,
      """SELECT ?l (LANG(?l) AS ?tag) (DATATYPE(?l) AS ?dt) WHERE {
        |  ?r <p:label> ?l . FILTER(LANGMATCHES(LANG(?l), "en")) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(en == Seq(("Europe", "en-GB", GraphOps.RdfLangString)),
      "basic filtering: 'en' must match 'en-GB' only")
    val anyTag = GraphOps.select(upd,
      """SELECT ?l WHERE { ?r <p:label> ?l .
        |  FILTER(LANGMATCHES(LANG(?l), "*")) } ORDER BY ?l""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(anyTag == Seq("Europa", "Europe"), "'*' matches any tagged literal, not plain")
  }
}
