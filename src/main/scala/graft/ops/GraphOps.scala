package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph-side operators over a materialized triple table: the KG this
  * engine CONSTRUCTS (detect→expand→toRDF→c14n) is also a KG users QUERY.
  * Three families, all declarative DataFrame plans so Catalyst keeps
  * pushdown/pruning/broadcast decisions:
  *
  *  - '''Direct Mapping''' (relational→RDF per the W3C "A Direct Mapping
  *    of Relational Data to RDF" recommendation): turns any DataFrame into
  *    (subj, pred, obj, dt) triples — row node from the primary key, one
  *    literal triple per column, one reference triple per foreign key.
  *    The triple explosion is a single narrow `explode` over a literal
  *    struct array: one scan, no shuffle, fully codegen'd. At 100 TB this
  *    is the bulk-ingest path from warehouse tables into the KG.
  *
  *  - '''SPARQL''' over the quad table, entered as query text only:
  *    [[select]], [[query]] (dispatches on the query form),
  *    [[constructQuery]], [[askQuery]], [[describeQuery]], and the
  *    functional updates [[updateQuery]] / [[updateQuadsQuery]]. The
  *    text is parsed once into a small algebra ([[Sparql]]); one
  *    compiler turns each basic graph pattern into filtered projections
  *    of the triple table joined on shared variables. Constant terms
  *    become pushable predicates (they reach the parquet scan of a
  *    predicate-bucketed triple table), and join sizing is left to
  *    Catalyst/AQE — selective patterns broadcast, large ones shuffle on
  *    the shared variable.
  *
  *  - '''Graph statistics''': predicate histogram and per-node
  *    in/out-degrees — single hash aggregations (map-side partials), the
  *    standard profile queries over a freshly built KG.
  *
  * Reference scope note: json-gold stops at algorithm outputs (expand /
  * toRDF / frame — e.g. `/root/reference/ld/api.go`); querying the
  * resulting graph is corpus-level capability this engine adds on top.
  */
object GraphOps {

  /** A term in a triple pattern: either a variable (joins/projections
    * bind it) or a constant (compiles to a pushable equality filter).
    */
  sealed trait Term
  final case class Var(name: String) extends Term
  final case class Const(value: String) extends Term
  /** Predicate alternation `<a>|<b>`: matches any of the constants —
    * compiles to a pushable IN filter, no union of branches needed.
    */
  final case class ConstIn(values: Seq[String]) extends Term
  /** SPARQL negated property set `!<p>` / `!(<a>|<b>)`: matches any
    * predicate EXCEPT the listed constants — a pushable NOT-IN filter.
    * The predicate is not bound (per the spec, a negated set never
    * introduces a variable).
    */
  final case class ConstNotIn(values: Seq[String]) extends Term

  val RdfTypeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val RdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  final case class TriplePattern(s: Term, p: Term, o: Term)

  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val XsdDouble = "http://www.w3.org/2001/XMLSchema#double"
  val XsdBoolean = "http://www.w3.org/2001/XMLSchema#boolean"
  val XsdDate = "http://www.w3.org/2001/XMLSchema#date"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"

  /** XSD datatype IRI for a Spark column type (Direct Mapping §Datatype
    * Mappings). Doubles map to xsd:double but their LEXICAL form here is
    * Spark's `cast(string)` (Java Double.toString) — callers needing
    * canonical XSD doubles should pre-format; integer/string/boolean/date
    * lexical forms are already canonical.
    */
  def xsdOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => XsdInteger
    case FloatType | DoubleType => XsdDouble
    case _: DecimalType => XsdDecimal
    case BooleanType => XsdBoolean
    case DateType => XsdDate
    case TimestampType => XsdDateTime
    case _ => XsdString
  }

  /** Row-node IRI for `table` keyed by `pk` — `urn:dm:<table>/<pk>`. */
  def rowIri(tableName: String, pk: Column): Column =
    concat(lit(s"urn:dm:$tableName/"), pk.cast("string"))

  /** W3C-style Direct Mapping of a DataFrame to triples.
    *
    * Emits, per row with primary key `pk`:
    *  - a literal triple `<urn:dm:T/pk> <urn:dm:T#col> "value"^^xsd:…`
    *    for every non-pk column (nulls skipped, as the spec mandates);
    *  - additionally, for every column in `refs` (column → referenced
    *    table), a reference triple
    *    `<urn:dm:T/pk> <urn:dm:T#ref-col> <urn:dm:R/fk>` with dt "" —
    *    the IRI-object convention this engine's pipeline quads use.
    *
    * Plan shape: one scan → `explode` of a per-row literal struct array →
    * null filter. No shuffle, whole-stage codegen; at 10^12 rows this
    * scales with the scan.
    */
  def directMapping(table: DataFrame, tableName: String, pk: String,
                    refs: Map[String, String] = Map.empty): DataFrame = {
    val entries: Seq[Column] = table.schema.fields.filter(_.name != pk).toSeq.flatMap { f =>
      val literal = struct(
        lit(s"urn:dm:$tableName#${f.name}").as("pred"),
        col(f.name).cast("string").as("obj"),
        lit(xsdOf(f.dataType)).as("dt"))
      refs.get(f.name) match {
        case Some(refTable) => Seq(literal, struct(
          lit(s"urn:dm:$tableName#ref-${f.name}").as("pred"),
          rowIri(refTable, col(f.name)).as("obj"),
          lit("").as("dt")))
        case None => Seq(literal)
      }
    }
    explodeTriples(table, tableName, pk, entries)
  }

  /** Only the foreign-key reference triples of a table — the edge-only
    * projection of [[directMapping]] for fact tables whose literal columns
    * (measures) don't belong in the graph.
    */
  def referenceTriples(table: DataFrame, tableName: String, pk: String,
                       refs: Map[String, String]): DataFrame = {
    val entries = refs.toSeq.sortBy(_._1).map { case (fkCol, refTable) =>
      struct(
        lit(s"urn:dm:$tableName#ref-$fkCol").as("pred"),
        rowIri(refTable, col(fkCol)).as("obj"),
        lit("").as("dt"))
    }
    explodeTriples(table, tableName, pk, entries)
  }

  /** Shared tail of the mapping operators: row IRI + one `explode` over
    * the per-row (pred, obj, dt) entries + the spec's null skip.
    */
  private def explodeTriples(table: DataFrame, tableName: String, pk: String,
                             entries: Seq[Column]): DataFrame =
    table.select(rowIri(tableName, col(pk)).as("subj"), explode(array(entries: _*)).as("po"))
      .select(col("subj"), col("po.pred").as("pred"), col("po.obj").as("obj"),
        col("po.dt").as("dt"))
      .filter(col("obj").isNotNull)

  /** Companion-column suffix for tracked datatypes: an object-position
    * variable `?v` compiled with `trackDt` carries `v__dt` alongside —
    * the term-introspection filters (DATATYPE / isIRI / isLiteral /
    * isBlank / isNumeric) read it. [[compileBody]] drops these from
    * query output.
    */
  private val DtSuffix = "__dt"

  /** The one basic-graph-pattern compiler, to a join plan over a (subj,
    * pred, obj, dt[, graph]) quad table. Each pattern becomes a filtered
    * projection of the table (constant terms → equality predicates,
    * pushable to the scan; repeated variables within a pattern →
    * self-equality filters; variables project); patterns then fold into
    * inner joins on their shared variables, left to right — the query's
    * textual order is the join order. Catalyst/AQE picks broadcast vs
    * shuffle per join from actual sizes. Output: one column per distinct
    * variable. A pattern with no shared variable with the accumulated
    * prefix forms a cartesian product (valid SPARQL, rarely intended) —
    * allowed, but visible in the plan.
    *
    * A `Some(term)` graph constrains its pattern's `graph` column — a
    * constant selects one graph (`""` is the default graph, this
    * engine's pipeline convention), a variable binds per quad and joins
    * like any other; `None` matches quads in any graph. With `trackDt`,
    * object-position variables also project their quad's `dt` column as
    * `v__dt` (two patterns binding the same object variable join on it
    * too — same term, same datatype, so the extra key never changes the
    * solution set).
    *
    * Bucket pruning: over a predicate-bucketed parquet graph whose
    * schema carries its bucket count (`Pipeline.BucketsKey` on `pred`,
    * recorded by the graph's writer), a pattern whose predicate is a
    * constant or an alternation of constants scans only the `predBucket`
    * directories of those predicates (`GraftInternal.predBucketPruner`).
    * Any other frame — a variable or negated predicate, a cached or
    * in-memory table, a union with path closure triples, a graph with no
    * count in its schema — is scanned whole. The plan walk happens once
    * per call, and only when some pattern has a constant predicate; it
    * does no I/O.
    */
  private def compilePatterns(quads: DataFrame,
                              patterns: Seq[(Option[Term], TriplePattern)],
                              trackDt: Boolean): DataFrame = {
    require(patterns.nonEmpty, "empty basic graph pattern")
    // (bucket count, pruning function) of the bucketed graph `quads` reads
    lazy val pruner =
      org.apache.spark.sql.GraftInternal.predBucketPruner(quads, jsonld.spark.Pipeline.BucketsKey)
    def scan(terms: Seq[(String, Term)]): DataFrame =
      terms.collectFirst {
        case ("pred", Const(v)) => Seq(v)
        case ("pred", ConstIn(vs)) if vs.nonEmpty => vs
      }.flatMap(vs => pruner.map { case (n, prune) =>
        prune(vs.map(jsonld.spark.Pipeline.bucketOf(_, n)).distinct.sorted)
      }).getOrElse(quads)
    def one(terms: Seq[(String, Term)]): DataFrame = {
      val constFilter = terms.collect {
        case (c, Const(v)) => col(c) === lit(v)
        case (c, ConstIn(vs)) => col(c).isin(vs: _*)
        case (c, ConstNotIn(vs)) => !col(c).isin(vs: _*)
      }.reduceOption(_ && _).getOrElse(lit(true))
      val vars = terms.collect { case (c, Var(n)) => (c, n) }
      val eqFilter = vars.groupBy(_._2).values.collect {
        case group if group.size > 1 =>
          group.map(g => col(g._1)).sliding(2).collect { case Seq(a, b) => a === b }
            .reduce(_ && _)
      }.reduceOption(_ && _).getOrElse(lit(true))
      val proj = vars.groupBy(_._2).toSeq.sortBy(_._1)
        .flatMap { case (n, group) =>
          col(group.head._1).as(n) +:
            (if (trackDt && group.exists(_._1 == "obj"))
              Seq(col("dt").as(n + DtSuffix))
            else Seq.empty)
        }
      val base = scan(terms).filter(constFilter && eqFilter)
      if (proj.isEmpty) base.select(lit(1).as("__matched")).limit(1)
      else base.select(proj: _*)
    }
    patterns.map { case (g, p) =>
      one(Seq("subj" -> p.s, "pred" -> p.p, "obj" -> p.o) ++ g.map("graph" -> _))
    }.reduce(joinOnShared(_, _))
  }

  /** Join `right` onto `left` on their shared variables with join type
    * `how` — the one shared-variable join of the compiler (patterns,
    * sub-selects, OPTIONAL / MINUS / EXISTS / NOT EXISTS groups). With no
    * shared variable, an empty `anchored` allows a cartesian product
    * (plain patterns); otherwise the group it names must share one and
    * the call raises (an unanchored OPTIONAL or MINUS is almost
    * certainly a bug, rejected rather than guessed).
    */
  private def joinOnShared(left: DataFrame, right: DataFrame, how: String = "inner",
                           anchored: String = ""): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet).toSeq.sorted
    require(shared.nonEmpty || anchored.isEmpty, s"$anchored shares no variable with its branch")
    if (shared.isEmpty) left.crossJoin(right) else left.join(right, shared, how)
  }

  /** Internal-variable namespace for path-sequence expansion; [[select]]
    * drops these columns from its output. The parser numbers them per
    * parse, so two sequence patterns in different blocks of one query
    * never join on a shared internal name.
    */
  private[ops] val SeqVarPrefix = "__seq"

  /** A parsed FILTER constraint — one `Column` predicate over the
    * solution bindings.
    */
  sealed trait Constraint { def column: Column }

  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case "=" => l === r
    case "!=" => l =!= r
    case "<" => l < r
    case "<=" => l <= r
    case ">" => l > r
    case ">=" => l >= r
    case other => throw new IllegalArgumentException(s"unsupported FILTER op '$other'")
  }

  /** A value-level expression inside FILTER / BIND: variables, literals,
    * string functions, arithmetic. `stringTyped` drives comparison
    * semantics — a comparison with a string-typed side compares
    * lexically, anything else casts both sides to double (so literal
    * "42" matches 42.0, SPARQL's numeric-value semantics over this
    * engine's lexical-form storage).
    */
  sealed trait ValueExpr { def column: Column; def stringTyped: Boolean = false }
  final case class VEVar(name: String) extends ValueExpr { def column: Column = col(name) }
  final case class VENum(v: Double) extends ValueExpr { def column: Column = lit(v) }
  final case class VEStr(s: String) extends ValueExpr {
    def column: Column = lit(s); override def stringTyped = true
  }
  /** `STRLEN(e)` — numeric. */
  final case class VEStrLen(e: ValueExpr) extends ValueExpr {
    def column: Column = length(e.column.cast("string")).cast("double")
  }
  /** `STR(e)` — the lexical form (SPARQL's node-to-string cast). */
  final case class VEStrCast(e: ValueExpr) extends ValueExpr {
    def column: Column = e.column.cast("string"); override def stringTyped = true
  }
  /** `CONCAT(e, …)` — string concatenation (null-propagating, as SPARQL
    * CONCAT errors on unbound arguments and the error eliminates the row).
    */
  final case class VEConcat(args: Seq[ValueExpr]) extends ValueExpr {
    def column: Column = concat(args.map(_.column.cast("string")): _*)
    override def stringTyped = true
  }
  /** Numeric arithmetic `+ - * /` over double-cast operands; a
    * non-numeric lexical form casts to null and the row drops
    * (error-eliminates-row).
    */
  final case class VEArith(op: Char, l: ValueExpr, r: ValueExpr) extends ValueExpr {
    def column: Column = {
      val (a, b) = (l.column.cast("double"), r.column.cast("double"))
      op match {
        case '+' => a + b
        case '-' => a - b
        case '*' => a * b
        case '/' => a / b
      }
    }
  }
  final case class VENeg(e: ValueExpr) extends ValueExpr {
    def column: Column = -e.column.cast("double")
  }
  /** `IRI(e)` / `URI(e)` — IRI construction from a lexical form, THE
    * KG-construction primitive for minting node identities
    * (`BIND(IRI(CONCAT("urn:me:", ?key)) AS ?node)` then use `?node` in
    * a CONSTRUCT template). In this engine's storage model an IRI is its
    * lexical form with `dt = ""`, so the column is the string itself;
    * string-typed so comparisons against it stay lexical. Relative-IRI
    * resolution against a base is out of scope (pass absolute forms).
    */
  final case class VEIri(e: ValueExpr) extends ValueExpr {
    def column: Column = e.column.cast("string")
    override def stringTyped = true
  }
  /** SPARQL hash functions `MD5` / `SHA256` — lowercase hex digest of
    * the lexical form (string-typed, usable in BIND/SELECT heads and
    * comparisons; both engines agree byte-for-byte, so hash-derived
    * columns stay value-gateable).
    */
  final case class VEHash(func: String, e: ValueExpr) extends ValueExpr {
    def column: Column = func match {
      case "MD5" => md5(e.column.cast("string"))
      case "SHA256" => sha2(e.column.cast("string"), 256)
    }
    override def stringTyped = true
  }
  /** SPARQL numeric functions `ABS` / `ROUND` / `CEIL` / `FLOOR` over a
    * double-cast operand (non-numeric → null → error-eliminates-row,
    * like [[VEArith]]). ROUND follows SPARQL's round-half-up (toward
    * +∞), not banker's rounding — `floor(x + 0.5)` exactly.
    */
  final case class VENumFn(func: String, e: ValueExpr) extends ValueExpr {
    def column: Column = {
      val a = e.column.cast("double")
      func match {
        case "ABS" => abs(a)
        case "ROUND" => floor(a + lit(0.5)).cast("double")
        case "CEIL" => ceil(a).cast("double")
        case "FLOOR" => floor(a).cast("double")
      }
    }
  }
  /** SPARQL dateTime accessors `YEAR` / `MONTH` / `DAY` / `HOURS` /
    * `MINUTES` / `SECONDS` / `TZ` over an xsd:dateTime LEXICAL form
    * (`YYYY-MM-DDThh:mm:ss[.fff][Z|±hh:mm]` — the canonical lexical is
    * positional through the minutes, so fixed-offset substrings are
    * exact and engine-portable; SECONDS and TZ need the variable tail
    * and use an anchored regex). Numeric accessors are double-typed
    * like the rest of this grammar; a malformed lexical yields null
    * (error-eliminates-row). TZ returns `"Z"`, `"±hh:mm"`, or `""` when
    * the literal carries no timezone, per fn:timezone-from-dateTime's
    * SPARQL rendering.
    */
  final case class VEDateFn(func: String, e: ValueExpr) extends ValueExpr {
    def column: Column = {
      val s = e.column.cast("string")
      func match {
        case "YEAR" => substring(s, 1, 4).cast("double")
        case "MONTH" => substring(s, 6, 2).cast("double")
        case "DAY" => substring(s, 9, 2).cast("double")
        case "HOURS" => substring(s, 12, 2).cast("double")
        case "MINUTES" => substring(s, 15, 2).cast("double")
        case "SECONDS" =>
          regexp_extract(s, ":(\\d{2}(?:\\.\\d+)?)(?:Z|[+-]\\d{2}:\\d{2})?$", 1)
            .cast("double")
        case "TZ" => regexp_extract(s, "(Z|[+-]\\d{2}:\\d{2})$", 1)
      }
    }
    override def stringTyped: Boolean = func == "TZ"
  }
  /** SPARQL `ENCODE_FOR_URI` — percent-encode everything outside RFC
    * 3986's unreserved set (ALPHA / DIGIT / `-` / `.` / `_` / `~`),
    * UTF-8 bytes uppercase-hex. Implemented as the codegen'd
    * `url_encode` (application/x-www-form-urlencoded) with its three
    * deltas patched: space `+`→`%20`, `~` restored (unreserved), `*`
    * encoded (`%2A` — reserved in 3986, bare in form-encoding).
    */
  final case class VEEncodeUri(e: ValueExpr) extends ValueExpr {
    def column: Column = {
      val enc = url_encode(e.column.cast("string"))
      val sp = regexp_replace(enc, "\\+", "%20")
      val tilde = regexp_replace(sp, "%7E", "~")
      regexp_replace(tilde, "\\*", "%2A")
    }
    override def stringTyped = true
  }
  /** SPARQL `STRDT(lexical, <datatype>)` / `STRLANG(lexical, "tag")` —
    * construct a typed / language-tagged literal. The value is the
    * lexical form; the constructed datatype (or `@tag`, this engine's
    * language-tag channel) rides the variable's `__dt` companion when
    * the expression is BIND-bound, so `DATATYPE` / `LANG` / `LANGMATCHES`
    * introspect it like any pattern-bound term.
    */
  final case class VEStrDt(e: ValueExpr, dt: String) extends ValueExpr {
    def column: Column = e.column.cast("string")
    override def stringTyped = true
  }
  final case class VEStrLang(e: ValueExpr, tag: String) extends ValueExpr {
    def column: Column = e.column.cast("string")
    override def stringTyped = true
  }

  /** Boolean composition of constraints — Spark's three-valued AND/OR
    * matches SPARQL's: an errored (null) operand drops the row unless the
    * other side decides (`null OR true` keeps it, exactly SPARQL §17.2).
    */
  final case class AndC(l: Constraint, r: Constraint) extends Constraint {
    def column: Column = l.column && r.column
  }
  final case class OrC(l: Constraint, r: Constraint) extends Constraint {
    def column: Column = l.column || r.column
  }
  final case class NotC(c: Constraint) extends Constraint {
    def column: Column = !c.column
  }
  /** `BOUND(?v)` — true when the (OPTIONAL-introduced) variable is bound. */
  final case class BoundC(variable: String) extends Constraint {
    def column: Column = col(variable).isNotNull
  }
  /** String tests `REGEX` (find semantics, optional `"i"` flag) /
    * `STRSTARTS` / `STRENDS` / `CONTAINS` over arbitrary value
    * expressions.
    */
  final case class StrTest(func: String, target: ValueExpr, arg: ValueExpr,
                           ignoreCase: Boolean = false) extends Constraint {
    def column: Column = {
      val t = target.column.cast("string")
      val a = arg.column.cast("string")
      func match {
        case "REGEX" =>
          regexp_like(t, if (ignoreCase) concat(lit("(?i)"), a) else a)
        case "STRSTARTS" => startswith(t, a)
        case "STRENDS" => endswith(t, a)
        case "CONTAINS" => contains(t, a)
      }
    }
  }
  /** `SAMETERM(a, b)` — RDF term identity, which on this engine's
    * lexical-form storage is STRING equality of the two sides (no
    * numeric coercion: `sameTerm("01", "1")` is false where `?x = 1`
    * numeric-compares true — exactly SPARQL's sameTerm-vs-`=`
    * distinction for plain literals).
    */
  final case class SameTermC(l: ValueExpr, r: ValueExpr) extends Constraint {
    def column: Column = l.column.cast("string") === r.column.cast("string")
  }
  /** `UCASE` / `LCASE` — case mapping over the lexical form. */
  final case class VECase(func: String, e: ValueExpr) extends ValueExpr {
    def column: Column = {
      val t = e.column.cast("string")
      if (func == "UCASE") upper(t) else lower(t)
    }
    override def stringTyped = true
  }
  /** `SUBSTR(e, start[, len])` — 1-based, like SPARQL (and SQL). The
    * 2-arg form runs to the end of the string.
    */
  final case class VESubstr(e: ValueExpr, start: ValueExpr,
                            len: Option[ValueExpr]) extends ValueExpr {
    def column: Column = {
      val t = e.column.cast("string")
      val s = start.column.cast("int")
      t.substr(s, len.map(_.column.cast("int")).getOrElse(length(t)))
    }
    override def stringTyped = true
  }
  /** `REPLACE(e, pattern, replacement)` — regex replace of ALL matches
    * (SPARQL's fn:replace semantics; Spark's regexp_replace is global).
    */
  final case class VEReplace(e: ValueExpr, pat: ValueExpr,
                             rep: ValueExpr) extends ValueExpr {
    def column: Column = regexp_replace(e.column.cast("string"),
      pat.column.cast("string"), rep.column.cast("string"))
    override def stringTyped = true
  }
  /** `STRBEFORE` / `STRAFTER` with a LITERAL delimiter (the common
    * form): the part before/after the FIRST occurrence, `""` when the
    * delimiter does not occur — exactly SPARQL's empty-string-on-no-
    * match rule.
    */
  final case class VEStrSplit(func: String, e: ValueExpr,
                              delim: String) extends ValueExpr {
    def column: Column = {
      val t = e.column.cast("string")
      val pos = instr(t, delim)
      if (func == "STRBEFORE") when(pos > 0, t.substr(lit(1), pos - 1)).otherwise(lit(""))
      else when(pos > 0, t.substr(pos + delim.length, length(t))).otherwise(lit(""))
    }
    override def stringTyped = true
  }

  /** Align branch types for IF/COALESCE: any string-typed member casts
    * everything to string; otherwise columns pass through (variables are
    * lexical strings already, numerics are doubles — Spark coerces).
    */
  private def alignTypes(args: Seq[ValueExpr]): Seq[Column] =
    if (args.exists(_.stringTyped)) args.map(_.column.cast("string"))
    else args.map(_.column)

  /** `IF(cond, then, else)` — SPARQL's conditional expression. */
  final case class VEIf(cond: Constraint, t: ValueExpr, f: ValueExpr) extends ValueExpr {
    def column: Column = {
      val Seq(tc, fc) = alignTypes(Seq(t, f))
      when(cond.column, tc).otherwise(fc)
    }
    override def stringTyped: Boolean = t.stringTyped || f.stringTyped
  }
  /** `COALESCE(e, …)` — first bound (non-null) value; the idiomatic
    * default for OPTIONAL-introduced variables.
    */
  final case class VECoalesce(args: Seq[ValueExpr]) extends ValueExpr {
    def column: Column = coalesce(alignTypes(args): _*)
    override def stringTyped: Boolean = args.exists(_.stringTyped)
  }

  /** `DATATYPE(?v)` — the tracked datatype IRI of an object-position
    * variable (`""` for IRIs in this engine's quad storage). Needs the
    * enclosing query compiled with datatype tracking — automatic in the
    * text grammar; a variable never bound in object position resolves
    * to a loud missing-column error.
    */
  final case class VEDatatype(variable: String) extends ValueExpr {
    // language-tagged literals store their tag as "@tag" in the dt slot
    // (RDF 1.1: tag and datatype are mutually exclusive on a literal);
    // DATATYPE must surface the spec datatype, rdf:langString
    def column: Column = {
      val dt = col(variable + DtSuffix)
      when(dt.startsWith("@"), lit(RdfLangString)).otherwise(dt)
    }
    override def stringTyped = true
  }
  /** `LANG(?v)` — the language tag of a tagged literal (`""` for plain /
    * typed literals and IRIs). Tags live in the tracked dt companion as
    * `"@tag"` (mutually exclusive with a datatype per RDF 1.1), so this
    * rides the same opt-in tracking as DATATYPE.
    */
  final case class VELang(variable: String) extends ValueExpr {
    def column: Column = {
      val dt = col(variable + DtSuffix)
      when(dt.startsWith("@"), dt.substr(lit(2), length(dt))).otherwise(lit(""))
    }
    override def stringTyped = true
  }
  /** `LANGMATCHES(tag, range)` — RFC 4647 basic filtering: `"*"` matches
    * any non-empty tag; otherwise case-insensitive exact match or
    * subtag-prefix match (`"en"` matches `"en-GB"`).
    */
  final case class LangMatchesC(tag: ValueExpr, range: ValueExpr) extends Constraint {
    def column: Column = {
      val t = lower(tag.column.cast("string"))
      val r = lower(range.column.cast("string"))
      when(r === "*", t =!= "")
        .otherwise(t === r || t.startsWith(concat(r, lit("-"))))
    }
  }
  /** Term-kind tests over the tracked datatype: `isIRI` / `isBlank`
    * (dt `""`, split on the `_:` bnode prefix), `isLiteral` (dt non-
    * empty), `isNumeric` (dt in the XSD numeric set).
    */
  final case class TermTest(func: String, variable: String) extends Constraint {
    private def dt = col(variable + DtSuffix)
    def column: Column = func match {
      case "ISIRI" => dt === lit("") && !col(variable).startsWith("_:")
      case "ISBLANK" => dt === lit("") && col(variable).startsWith("_:")
      case "ISLITERAL" => dt =!= lit("")
      case "ISNUMERIC" => dt.isin(XsdInteger, XsdDecimal, XsdDouble)
    }
  }

  /** Generalized comparison over value expressions (the simple var-vs-
    * constant / var-vs-var shapes stay [[VarFilter]]/[[VarCompare]]).
    */
  final case class ExprCmp(l: ValueExpr, op: String, r: ValueExpr) extends Constraint {
    def column: Column =
      if (l.stringTyped || r.stringTyped)
        cmp(op, l.column.cast("string"), r.column.cast("string"))
      else cmp(op, l.column.cast("double"), r.column.cast("double"))
  }

  /** A parsed `FILTER(?var op operand)` constraint: `op` is one of
    * `= != < <= > >=`; the operand is numeric (`Left` — both sides
    * compare as doubles, so literal "42" matches 42.0) or a quoted
    * string (`Right` — lexical comparison).
    */
  final case class VarFilter(variable: String, op: String,
                             operand: Either[Double, String]) extends Constraint {
    def column: Column = operand match {
      case Left(num) => cmp(op, col(variable).cast("double"), lit(num))
      case Right(s) => cmp(op, col(variable), lit(s))
    }
  }

  /** `FILTER(?a op ?b)` — two bound variables compared NUMERICALLY
    * (lexical forms cast to double; a non-numeric value yields null and
    * the solution drops, SPARQL's error-eliminates-row behavior).
    */
  final case class VarCompare(a: String, op: String, b: String) extends Constraint {
    def column: Column = cmp(op, col(a).cast("double"), col(b).cast("double"))
  }

  /** A parsed `BIND(expr AS ?alias)` clause. */
  final case class Binding(alias: String, expr: ValueExpr)

  /** Apply FILTER constraints to a solution-bindings frame: each filter
    * is one `Column` predicate over the bindings. Catalyst pushes a
    * filter that touches a single pattern's variable back below the join
    * on its own — applying it post-join keeps SPARQL's semantics (filters
    * see the whole solution row) without giving up pushdown.
    */
  private def applyFilters(bindings: DataFrame, filters: Seq[Constraint]): DataFrame =
    filters.foldLeft(bindings)((acc, f) => acc.filter(f.column))

  /** SPARQL VALUES: `VALUES ?v { <x> "1" }` or the row form `VALUES
    * (?a ?b) { (<x> "1") (<y> "2") }` — an inline solution RELATION
    * inner-joined onto the bindings across all its variables (broadcast:
    * inline data is driver-literal by construction; for a handful of
    * values the optimizer folds it to an IN-filter-shaped plan). Every
    * variable must be bound by the pattern block (a free VALUES variable
    * would be a cartesian — rejected); every row must carry the full
    * arity (UNDEF is not supported — rejected loudly, not silently
    * null-joined).
    */
  private def bgpValues(bindings: DataFrame, vars: Seq[String],
                        rows: Seq[Seq[String]]): DataFrame = {
    require(vars.nonEmpty, "VALUES needs at least one variable")
    vars.foreach(v => require(bindings.columns.contains(v),
      s"VALUES variable ?$v is not bound by the pattern block"))
    require(rows.nonEmpty, s"empty VALUES list for (${vars.map("?" + _).mkString(" ")})")
    rows.foreach(r => require(r.size == vars.size,
      s"VALUES row arity ${r.size} != variable arity ${vars.size}"))
    val spark = bindings.sparkSession
    val schema = StructType(vars.map(v => StructField(v, StringType)))
    val rel = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r: _*)): _*), schema).distinct()
    bindings.join(broadcast(rel), vars)
  }

  /** Compile a SPARQL-SHAPED query text in one call — the composed form
    * of the whole pattern surface:
    *
    * {{{
    * select(quads, """
    *   SELECT ?n (COUNT(*) AS ?n_members) WHERE {
    *     { ?m <urn:s#ref> ?n }
    *     UNION
    *     { ?m <urn:c#ref> ?n . ?n <urn:n#rk> ?rk . FILTER(?rk >= 2) .
    *       OPTIONAL { ?m <urn:label> ?lbl } .
    *       GRAPH ?g { ?n <urn:n#name> ?nm } }
    *   } GROUP BY ?n ORDER BY ?n LIMIT 10
    * """)
    * }}}
    *
    * Grammar (subset, not full SPARQL): triple patterns with ` . `
    * separators; `FILTER(expr)` where expr composes comparisons
    * (`= != < <= > >=` over variables, numbers, strings, IRIs,
    * `STRLEN/STR/CONCAT` calls and `+ - * /` arithmetic) with
    * `&& || !` and parens, plus the predicates `BOUND(?v)`,
    * `REGEX(?v, "pat"[, "i"])`, `STRSTARTS/STRENDS/CONTAINS(?v, "s")`;
    * `FILTER EXISTS { patterns }` / `FILTER NOT EXISTS { patterns }`
    * (semi/anti join on shared variables); `BIND(expr AS ?v)`;
    * `{ SELECT … }` sub-selects (compiled recursively, joined on their
    * projected shared variables); `OPTIONAL { patterns [FILTERs] }`
    * (left-joined on shared variables, FILTERs inside apply to the
    * optional side before the join); `MINUS { patterns [FILTERs] }`
    * (left-anti on shared variables — NOT EXISTS);
    * `VALUES ?v { <iri> "lit" … }` (inline constants, broadcast
    * inner join); `GRAPH ?g|<iri>|"" { patterns }`
    * (requires a `graph` column); `UNION` between top-level groups
    * (brace the groups) — solutions union by name, branch-unbound
    * variables null; property paths in predicate position: `<p>+` /
    * `<p>*` / `<p>?` closures (bridged automatically by [[bridgePaths]],
    * which makes a `+`/`*` query EAGER at call time: the closure loop
    * runs Spark jobs), sequences `<a>/<b>` (chained through internal
    * variables dropped from the output), inverse hops `^<p>`,
    * alternations `<a>|<b>` and negated sets `!<p>` / `!(<a>|<b>)`.
    *
    * Solution modifiers (the `SELECT … WHERE { … }` form; a bare
    * pattern block without the head returns all bindings as before):
    * projection by variable, `DISTINCT`, aggregate projections
    * `(COUNT(*)|COUNT(?v)|COUNT(DISTINCT ?v)|SUM(?v)|MIN(?v)|MAX(?v)|
    * AVG(?v)|SAMPLE(?v)|GROUP_CONCAT(?v[; SEPARATOR="s"]) AS ?alias)`
    * (SAMPLE picks the minimum and GROUP_CONCAT sorts its
    * values — both deterministic where SPARQL leaves the choice
    * implementation-defined) with `GROUP BY ?v …` (SUM/AVG cast the lexical
    * form to double; MIN/MAX compare lexically; COUNT(?v) counts bound
    * solutions), `HAVING(?alias op const)`,
    * `ORDER BY [ASC|DESC](?v) …`, `LIMIT n`, `OFFSET n` (OFFSET skips
    * before LIMIT caps, SPARQL's slice order). Unparseable trailing
    * text raises — never silently ignored. The text is lexed and parsed
    * once ([[Sparql]]): literals, IRIs and variables are tokens, so a
    * keyword lookalike inside a literal or an IRI (`"UNION { }"`,
    * `<urn:rel/union/x>`) is data, and any variable name works.
    * The sibling query forms: [[constructQuery]], [[askQuery]],
    * [[describeQuery]], or the keyword-dispatching [[query]].
    */
  def select(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case s: Sparql.Select => compileSelect(quads, s)
    case Sparql.BareQuery(where) => compileBody(quads, where)
    case _ => throw new IllegalArgumentException(
      s"select expects a SELECT query or a pattern block, got '${text0.trim.take(80)}'")
  }

  /** The RDF dataset a SELECT runs against: `FROM <g>` graphs form the
    * default graph (patterns outside GRAPH blocks match only them);
    * `FROM NAMED <g>` graphs are the ones GRAPH blocks may select.
    * `None` = no dataset clause, the full quad table on both sides. Per
    * SPARQL, ANY dataset clause fully specifies the dataset: with only
    * `FROM NAMED`, the default graph is empty (and vice versa).
    */
  final case class Dataset(defaults: Seq[String], named: Seq[String])

  /** `CONSTRUCT { template } WHERE { body }` through the text grammar —
    * the body accepts everything [[select]]'s pattern surface does
    * (UNION/FILTER/OPTIONAL/MINUS/GRAPH/VALUES/paths), the template is a
    * plain triple block instantiated per solution via [[construct]]
    * (set semantics: output triples are distinct). `CONSTRUCT WHERE
    * { plain patterns }` is SPARQL's short form: the block doubles as
    * the template, so it must be plain triples.
    */
  def constructQuery(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case q: Sparql.ConstructQuery => run(quads, q)
    case _ => throw new IllegalArgumentException(
      s"constructQuery expects 'CONSTRUCT { … } WHERE { … }', got '$text0'")
  }

  /** `ASK { body }` through the text grammar: one row, one boolean
    * column `matched`; the body accepts the full pattern surface. A
    * LAZY plan like every other query form — a global aggregate over the
    * body with a `limit 1` in between, so the scan short-circuits at the
    * first solution and no job runs until the caller acts on the result
    * — unless the body uses `+`/`*` paths, whose bridging is eager.
    */
  def askQuery(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case q: Sparql.AskQuery => run(quads, q)
    case _ => throw new IllegalArgumentException(s"askQuery expects 'ASK { … }', got '$text0'")
  }

  /** `DESCRIBE <iri>` through the text grammar — the symmetric concise
    * bounded description of [[describe]]; `DESCRIBE ?v WHERE { … }`
    * describes every node the body binds to `?v`.
    */
  def describeQuery(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case q @ (_: Sparql.DescribeIri | _: Sparql.DescribeVar) => run(quads, q)
    case _ => throw new IllegalArgumentException(
      s"describeQuery expects 'DESCRIBE <iri>' or 'DESCRIBE ?v WHERE { … }', got '$text0'")
  }

  /** One entry point for every query form — dispatches on the parsed
    * form: `SELECT …` / bare pattern block → [[select]], `CONSTRUCT …` →
    * [[constructQuery]], `ASK …` → [[askQuery]], `DESCRIBE …` →
    * [[describeQuery]], and the update forms → [[updateQuadsQuery]] when
    * the input carries a graph column, else [[updateQuery]] (an update
    * returns the UPDATED table).
    */
  def query(quads: DataFrame, text0: String): DataFrame = run(quads, Sparql.parse(text0))

  private def run(quads: DataFrame, q: Sparql.Query): DataFrame = q match {
    case s: Sparql.Select => compileSelect(quads, s)
    case Sparql.BareQuery(where) => compileBody(quads, where)
    case Sparql.ConstructQuery(template, where) => construct(compileBody(quads, where), template)
    case Sparql.AskQuery(where) =>
      compileBody(quads, where).limit(1)
        .select(lit(1).as("one"))
        .agg((count(col("one")) > 0).as("matched"))
    case Sparql.DescribeIri(iri) => describe(quads, iri)
    case Sparql.DescribeVar(v, where) =>
      // every distinct binding of ?v is described. Both description legs
      // are semi-joins keyed on the node IRI — the matched-node set is
      // usually tiny relative to the graph, so Catalyst broadcasts it and
      // the graph is never shuffled.
      val nodes = compileSelect(quads,
        Sparql.Select(distinct = false, Seq(Sparql.ProjVar(v)), None, where)).distinct()
      quads.join(nodes.select(col(v).as("subj")), Seq("subj"), "left_semi")
        .unionByName(
          quads.filter(col("dt") === "")
            .join(nodes.select(col(v).as("obj")), Seq("obj"), "left_semi")
            .select(quads.columns.map(col).toSeq: _*))
        .distinct()
    case u: Sparql.Update =>
      if (quads.columns.contains("graph")) updateQuads(quads, u) else update(quads, u)
  }

  private def compileSelect(quads: DataFrame, s: Sparql.Select): DataFrame = {
    // a head projecting DATATYPE/LANG needs the dt companions the body
    // would otherwise drop — force tracking into every branch and keep
    // the companions through to the head projection
    val headDt = introspects(s.projs)
    applyModifiers(compileBody(quads, s.where, s.dataset, keepDt = headDt), s)
  }

  /** True when an expression tree reads a term's datatype or kind
    * (DATATYPE / LANG / LANGMATCHES / isIRI / isLiteral / isBlank /
    * isNumeric) — the nodes that need object variables' `__dt`
    * companions.
    */
  private def introspects(node: Any): Boolean = node match {
    case _: VEDatatype | _: VELang | _: LangMatchesC | _: TermTest => true
    case xs: Iterable[_] => xs.exists(introspects)
    case p: Product => p.productIterator.exists(introspects)
    case _ => false
  }

  /** The pattern surface below the optional SELECT head: compile the
    * UNION branches (each group bridges its own path closures; a
    * sub-select compiles against the RAW quads and does its own
    * bridging), drop the internal sequence-hop columns.
    */
  private def compileBody(quads: DataFrame, where: Seq[Sparql.Branch],
                          dataset: Option[Dataset] = None,
                          keepDt: Boolean = false): DataFrame = {
    val df = where.map {
      case g: Sparql.Group => compileGroup(quads, g, dataset, forceTrackDt = keepDt)
      case s: Sparql.Select => compileSelect(quads, s)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // drop internal columns: sequence-hop variables and tracked-datatype
    // companions (`?x__dt` is reserved alongside `?__seqN`) — unless the
    // caller's SELECT head still needs the companions
    df.drop(df.columns.filter(c =>
      c.startsWith(SeqVarPrefix) || (!keepDt && c.endsWith(DtSuffix))).toSeq: _*)
  }

  /** The virtual predicate a closure term compiles to: `<p>+` matches
    * the triples `(s, "p+", o)` [[bridgePaths]] adds. Inside a GRAPH
    * block the closure runs per graph and its triples carry their graph
    * under a name no IRI can spell (IRIs hold no space), so a pattern
    * outside GRAPH never matches them as well.
    */
  private[ops] def closurePred(iri: String, suffix: String, inGraph: Boolean): String =
    iri + suffix + (if (inGraph) " in GRAPH" else "")

  /** Augment `quads` with the virtual closure triples of every path term
    * a group mentions ([[closurePred]] names them), so a path pattern
    * joins like any other:
    *
    *  - `p+` (one-or-more): the [[transitiveClosure]] of the predicate's
    *    IRI-object edges (literals don't form edges);
    *  - `p*` (zero-or-more): `p+` plus the identity pair for every node
    *    incident to a `p` edge — SPARQL's zero-length path over the
    *    predicate's domain∪range;
    *  - `p?` (zero-or-one): the edges plus that identity pair — no
    *    closure iteration, so the plan stays lazy and `p?` is safe on
    *    any predicate.
    *
    * `+` and `*` are EAGER: each closure materializes when this runs,
    * and, like [[transitiveClosure]], they are meant for hierarchy-shaped
    * predicates (rdfs:subClassOf, skos:broader, parent trees). At 100×
    * scale these are stored, incrementally maintained closure tables
    * ([[updateClosure]]) and this bridge compiles against them instead.
    *
    * A path outside GRAPH blocks closes over the edges of every graph
    * at once; its triples belong to no graph (every column beyond
    * (subj, pred, obj, dt) is null on them). A path inside a GRAPH block
    * closes over (graph, node) pairs — a hop never crosses graphs — and
    * its triples carry their `graph`, so `GRAPH <g>` selects g's pairs
    * and `GRAPH ?g` binds `?g`. Under FROM NAMED the caller passes the
    * named side, so those closures see only the named graphs.
    */
  private def bridgePaths(quads: DataFrame, paths: Seq[Sparql.PathRef]): DataFrame =
    paths.foldLeft(quads) { case (q, Sparql.PathRef(p, suffix, inGraph)) =>
      def node(c: String): Column =
        if (inGraph) struct(col("graph").as("g"), col(c).as("n")) else col(c)
      val edges = q.filter(col("pred") === lit(p) && col("dt") === "")
        .select(node("subj").as("src"), node("obj").as("dst"))
      def withIdentity(pairs: DataFrame): DataFrame = {
        val nodes = edges.select(col("src").as("n"))
          .union(edges.select(col("dst").as("n"))).distinct()
        pairs.unionByName(nodes.select(col("n").as("src"), col("n").as("dst"))).distinct()
      }
      val pairs = suffix match {
        case "+" => transitiveClosure(edges)
        case "*" => withIdentity(transitiveClosure(edges))
        case _ => withIdentity(edges)
      }
      val pred = lit(closurePred(p, suffix, inGraph)).as("pred")
      val triples =
        if (inGraph) pairs.select(col("src.n").as("subj"), pred, col("dst.n").as("obj"),
          lit("").as("dt"), col("src.g").as("graph"))
        else pairs.select(col("src").as("subj"), pred, col("dst").as("obj"), lit("").as("dt"))
      q.unionByName(triples, allowMissingColumns = true)
    }

  // ---------------------------------------------- solution modifiers

  /** The simple-argument (`*` / `?var`) aggregate column of a ProjAgg. */
  private def simpleAggColumn(a: Sparql.ProjAgg): Column = a.func match {
    case "COUNT" if a.distinctArg =>
      countDistinct(col(a.arg.getOrElse(
        throw new IllegalArgumentException("COUNT(DISTINCT) needs a ?variable"))))
    case "COUNT" => a.arg.map(v => count(col(v))).getOrElse(count(lit(1)))
    case "SUM" if a.distinctArg => sum_distinct(col(a.arg.getOrElse(
      throw new IllegalArgumentException("SUM needs a ?variable"))).cast("double"))
    case "SUM" => sum(col(a.arg.getOrElse(
      throw new IllegalArgumentException("SUM needs a ?variable"))).cast("double"))
    // AVG DISTINCT = sum of distinct values / their count; MIN/MAX over
    // DISTINCT are spec-identical to the plain forms (fall through)
    case "AVG" if a.distinctArg =>
      val v = col(a.arg.getOrElse(
        throw new IllegalArgumentException("AVG needs a ?variable"))).cast("double")
      sum_distinct(v) / countDistinct(v)
    case "AVG" => avg(col(a.arg.getOrElse(
      throw new IllegalArgumentException("AVG needs a ?variable"))).cast("double"))
    case "MIN" => min(col(a.arg.getOrElse(
      throw new IllegalArgumentException("MIN needs a ?variable"))))
    case "MAX" => max(col(a.arg.getOrElse(
      throw new IllegalArgumentException("MAX needs a ?variable"))))
    // SPARQL leaves SAMPLE's pick implementation-defined; min makes it
    // deterministic (and cross-engine replayable)
    case "SAMPLE" => min(col(a.arg.get))
    // SPARQL leaves GROUP_CONCAT's order implementation-defined; sorting
    // before the join makes it deterministic across partitionings/
    // retries — the only shuffle-stable choice
    case "GROUP_CONCAT" =>
      array_join(array_sort(collect_list(col(a.arg.get).cast("string"))),
        a.sep.getOrElse(" "))
  }

  /** Compile the tail modifiers onto the solution bindings: aggregate /
    * group, project, HAVING, DISTINCT, ORDER BY, OFFSET, LIMIT — in
    * SPARQL's evaluation order.
    */
  private def applyModifiers(bindings: DataFrame, s: Sparql.Select): DataFrame = {
    import Sparql.{ProjAgg, ProjExpr, ProjVar}
    val projs = s.projs
    val groupVars = s.groupBy
    val having = s.having
    val aggs = projs.collect { case a: ProjAgg => a }
    val plainVars = projs.collect { case ProjVar(n) => n }
    val exprProjs = projs.collect { case e: ProjExpr => e }
    val projected =
      if (aggs.nonEmpty || groupVars.nonEmpty) {
        require(aggs.nonEmpty,
          "GROUP BY requires at least one aggregate projection in SELECT")
        require(exprProjs.isEmpty,
          "expression projections cannot mix with aggregates — BIND the " +
            "expression in the body instead")
        val keys = if (groupVars.nonEmpty) groupVars else plainVars
        val stray = plainVars.filterNot(keys.contains)
        require(stray.isEmpty,
          s"non-aggregated projection(s) ${stray.mkString(", ")} must appear in GROUP BY")
        val aggCols = aggs.map { a =>
          val c = a.exprArg match {
            case Some(e) =>
              // expression aggregate: the inner expression's own typing
              // applies (arithmetic is double; string funcs are string)
              a.func match {
                case "SUM" => sum(e.column.cast("double"))
                case "AVG" => avg(e.column.cast("double"))
                case "MIN" => min(e.column)
                case "MAX" => max(e.column)
                case other => throw new IllegalArgumentException(
                  s"$other does not take an expression argument")
              }
            case None => simpleAggColumn(a)
          }
          c.as(a.alias)
        }
        val agged =
          if (keys.isEmpty) bindings.agg(aggCols.head, aggCols.tail: _*)
          else bindings.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        // output columns in the head's declared order
        agged.select(projs.map {
          case ProjVar(n) => col(n)
          case a: ProjAgg => col(a.alias)
        }: _*)
      } else if (projs.nonEmpty) bindings.select(projs.map {
        case ProjVar(n) => col(n)
        case ProjExpr(e, alias) => e.column.as(alias)
        case a: ProjAgg => col(a.alias) // unreachable: aggs handled above
      }: _*)
      else bindings
    require(having.isEmpty || aggs.nonEmpty,
      "HAVING requires an aggregate projection in SELECT")
    val filtered = applyFilters(projected, having)
    val dd = if (s.distinct) filtered.distinct() else filtered
    val ordered =
      if (s.orderBy.isEmpty) dd
      else dd.orderBy(s.orderBy.map { case (v, desc) =>
        if (desc) col(v).desc else col(v).asc
      }: _*)
    // SPARQL slice order: OFFSET skips first, LIMIT caps what remains
    val sliced = s.offset.map(ordered.offset).getOrElse(ordered)
    s.limit.map(sliced.limit).getOrElse(sliced)
  }

  /** One group: compile base join → inner-join sub-selects → left-join
    * OPTIONAL blocks → anti-join MINUS blocks → semi-join EXISTS →
    * anti-join NOT EXISTS → single- then multi-variable VALUES → BIND
    * columns → FILTERs. (BIND applies after the group's joins and before
    * its FILTERs — a filter can reference a bound alias; a BIND
    * referencing a variable from a LATER pattern in the same group works
    * too, a deliberate simplification of SPARQL's position-sensitive
    * BIND scope.)
    */
  private def compileGroup(rawQuads: DataFrame, g: Sparql.Group,
                           dataset: Option[Dataset] = None,
                           forceTrackDt: Boolean = false): DataFrame = {
    // dataset scoping (FROM / FROM NAMED): the default-graph side feeds
    // every non-GRAPH pattern and sub-block; the named side feeds GRAPH
    // blocks. Per SPARQL, a dataset clause is a complete specification —
    // an absent FROM NAMED empties the GRAPH side (isin of an empty
    // list is false). Sub-selects currently re-enter against the FULL
    // quad table — a documented deviation (SPARQL scopes the dataset
    // over subqueries too).
    val defaultBase = dataset match {
      case Some(d) => rawQuads.filter(col("graph").isin(d.defaults: _*))
      case None => rawQuads
    }
    val namedBase = dataset match {
      case Some(d) => rawQuads.filter(col("graph").isin(d.named: _*))
      case None => rawQuads
    }
    // bridge path closures for THIS group only (sub-selects compile
    // against the raw quads and bridge their own paths — bridging the raw
    // table once per scope keeps the virtual closure triples single-
    // counted). Without a dataset plain and GRAPH patterns share one
    // frame, so it carries both kinds of closure triples.
    val (graphPaths, plainPaths) = g.paths.partition(_.inGraph)
    val quads = bridgePaths(defaultBase, if (dataset.isEmpty) plainPaths ++ graphPaths else plainPaths)
    val namedQuads = if (dataset.isEmpty) quads else bridgePaths(namedBase, graphPaths)
    // datatype tracking is opt-in per group: only when an expression in
    // this group (incl. its OPTIONAL/MINUS/EXISTS blocks) introspects
    // terms do object variables carry their v__dt companion columns
    val trackDt = forceTrackDt || introspects(Seq(g.filters, g.binds, g.blocks))
    val plainPatterns = g.triples.map(p => (Option.empty[Term], p))
    val graphPatterns = g.graphs.flatMap { case (gt, ps) => ps.map(p => (Some(gt): Option[Term], p)) }
    val mixed = plainPatterns ++ graphPatterns
    val subFrames = g.subSelects.map(compileSelect(rawQuads, _))
    require(mixed.nonEmpty || subFrames.nonEmpty, s"UNION branch has no patterns: '${g.src}'")
    // without a dataset clause, plain and GRAPH patterns compile over
    // ONE frame (a plain pattern matches quads in any graph); with one,
    // the two groups compile over their dataset sides and join on
    // shared variables
    val patternBase: Option[DataFrame] =
      if (mixed.isEmpty) None
      else if (dataset.isEmpty) Some(compilePatterns(quads, mixed, trackDt))
      else Some(Seq(quads -> plainPatterns, namedQuads -> graphPatterns)
        .collect { case (q, ps) if ps.nonEmpty => compilePatterns(q, ps, trackDt) }
        .reduce(joinOnShared(_, _)))
    def joinSub(acc: DataFrame, sub: DataFrame) = joinOnShared(acc, sub, anchored = "sub-select")
    val base = patternBase match {
      case Some(pb) => subFrames.foldLeft(pb)(joinSub)
      case None => subFrames.reduce(joinSub)
    }
    // OPTIONAL / MINUS / EXISTS / NOT EXISTS blocks: patterns plus their
    // own FILTERs, joined onto the group on shared variables
    val withBlocks = Seq("OPTIONAL" -> "left_outer", "MINUS" -> "left_anti",
        "FILTER EXISTS" -> "left_semi", "FILTER NOT EXISTS" -> "left_anti")
      .foldLeft(base) { case (acc0, (kind, how)) =>
        g.blocks.filter(_.kind == kind).foldLeft(acc0) { (acc, b) =>
          joinOnShared(acc,
            applyFilters(compilePatterns(quads, b.triples.map(None -> _), trackDt), b.filters),
            how, anchored = s"$kind group '${b.src}'")
        }
      }
    // one-column VALUES first, then the row form
    val withValues = (g.values.filterNot(_.rowForm) ++ g.values.filter(_.rowForm))
      .foldLeft(withBlocks)((acc, v) => bgpValues(acc, v.vars, v.rows))
    val withBinds = g.binds.foldLeft(withValues) { (acc, b) =>
      require(!acc.columns.contains(b.alias),
        s"BIND alias ?${b.alias} is already bound in this branch")
      val bound = acc.withColumn(b.alias, b.expr.column)
      // STRDT/STRLANG construct a term with a datatype / language tag:
      // publish it on the alias's __dt companion so DATATYPE/LANG/
      // LANGMATCHES introspect the constructed term like any other
      // (dropped downstream unless the query tracks datatypes)
      b.expr match {
        case VEStrDt(_, dt) => bound.withColumn(b.alias + DtSuffix, lit(dt))
        case VEStrLang(_, tag) => bound.withColumn(b.alias + DtSuffix, lit("@" + tag))
        case _ => bound
      }
    }
    applyFilters(withBinds, g.filters)
  }

  /** SPARQL CONSTRUCT core: instantiate each `template` pattern once per
    * solution row of `bindings` and union into one RDF graph with set
    * semantics (`distinct` — constructed graphs never hold duplicate
    * triples). Variables take the binding's value, constants pass
    * through. Output columns (subj, pred, obj); datatype bookkeeping is
    * the caller's concern when templates construct literals.
    */
  private def construct(bindings: DataFrame, template: Seq[Sparql.TripleTmpl]): DataFrame = {
    require(template.nonEmpty, "empty CONSTRUCT template")
    def c(t: Term): Column = t match {
      case Var(n) => col(n)
      case Const(v) => lit(v)
      case other => throw new IllegalArgumentException(
        s"a CONSTRUCT template term must be a variable or constant, got $other")
    }
    template.map(p =>
        bindings.select(c(p.s).as("subj"), c(p.p).as("pred"), c(p.o).as("obj")))
      .reduce(_.unionByName(_))
      .distinct()
  }

  /** SPARQL DESCRIBE (concise bounded description, symmetric flavor):
    * every triple where the node is the subject, plus every triple
    * pointing AT the node (IRI objects only). Two pushable equality
    * filters unioned — no join.
    */
  private def describe(quads: DataFrame, node: String): DataFrame =
    quads.filter(col("subj") === lit(node))
      .unionByName(quads.filter(col("obj") === lit(node) && col("dt") === ""))

  /** PageRank over a directed edge list (`src`, `dst`) — node importance
    * for a constructed KG (which entities matter most in the graph). A
    * FIXED iteration count (not an epsilon test), so the result is a
    * replayable function of the input: the DuckDB oracle re-runs the
    * same iterations as chained CTEs and the gate is value-level.
    *
    * Deterministic across partitionings/retries the same way
    * `trainIvfCentroids` is: the only order-sensitive reduction — the
    * per-target contribution sum and the dangling-mass sum — runs over
    * QUANTIZED micro-unit longs (`floor(x·10¹²)`), so Spark's arbitrary
    * aggregation order cannot perturb low bits. Per iteration: one
    * shuffle join of ranks onto edges (both sides keyed by node/src) and
    * one hash aggregation on dst; ranks are lineage-cut per round. At
    * 10^12 edges each round is the canonical rank-join — co-partition
    * the stored edge table by src and the join degenerates to a local
    * zip, exactly how a production deployment would lay it out.
    *
    * Dangling nodes (no out-edges) redistribute their mass uniformly,
    * the standard correction — rank mass is conserved up to
    * quantization (≤ 10⁻¹² per node per round).
    *
    * Output: (node, rank) for every node incident to an edge.
    */
  def pageRank(edges0: DataFrame, iterations: Int = 3,
               damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val Q = 1e12
    val cached = scala.collection.mutable.Buffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { df.persist(); cached += df; df }
    val edges = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint()
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank")).localCheckpoint()
    for (i <- 1 to iterations) {
      val withDeg = ranks.join(outDeg, ranks("node") === outDeg("src"), "left")
      // dangling mass: quantized BIGINT sum — kept as a 1-row FRAME and
      // cross-joined in, so a round adds NO driver action of its own
      val dangling = withDeg.filter(col("deg").isNull)
        .agg((coalesce(sum(floor(col("rank") * Q).cast("long")), lit(0L)) / Q)
          .as("dm"))
      val perEdge = withDeg.filter(col("deg").isNotNull)
        .select(col("src"), floor(col("rank") / col("deg") * Q).cast("long").as("q"))
      val contrib = edges.join(perEdge, "src")
        .groupBy(col("dst").as("node")).agg(sum(col("q")).as("qs"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("qs"), lit(0L)) / Q + col("dm") / n)).as("rank"))
      // persist (lazy, computed once for the two consumers of the next
      // round) instead of an EAGER per-round localCheckpoint — the whole
      // iteration chain then runs as one pipelined DAG at consumption;
      // a periodic checkpoint still bounds lineage depth for long runs
      ranks = if (i % 5 == 0 && i < iterations) next.localCheckpoint()
              else keep(next)
    }
    // single materialization job + cache release (unpersist discipline)
    materializeAndRelease(ranks, cached.toSeq)
  }

  val OwlSameAs = "http://www.w3.org/2002/07/owl#sameAs"

  /** owl:sameAs entity resolution — the KG-construction step that fuses
    * aliases of one real-world entity into a single node. sameAs edges
    * (`?a <owl:sameAs> ?b`, both ends IRIs) span an equivalence relation,
    * so:
    *
    *  1. connected components over the sameAs subgraph
    *     ([[DedupOps.connectedComponents]]); each clique's canonical
    *     representative is its lexicographically SMALLEST IRI —
    *     deterministic and engine-independent, which is what makes the
    *     whole op value-gateable against a declarative recursive-CTE
    *     oracle;
    *  2. every quad's subject — and IRI object (`dt = ""`; literals whose
    *     lexical form happens to equal an alias IRI are NOT touched — is
    *     rewritten through the (alias → canonical) mapping;
    *  3. the sameAs triples themselves are dropped (their information now
    *     lives in the merged node identity), and rewrites that collide
    *     with triples the graph already holds — or with each other —
    *     collapse to one (set semantics).
    *
    * Scale shape: in a real corpus the sameAs subgraph is a small
    * fraction of the graph (a link-discovery / record-linkage output), so
    * the clique mapping BROADCASTS: the full graph is touched only by
    * broadcast-hash joins — the rewrite pass is map-side — and set-dedup
    * probes the small rewritten slice against the (broadcast) collidable
    * slice of the untouched graph, never a whole-graph `distinct()`.
    * The CC rounds are joins over the alias subgraph alone and take
    * O(log n) rounds even on an n-link alias chain. `broadcastCap` gates
    * on the mapping's row count (one row per alias that is not its
    * clique's representative), counted while the mapping's checkpoint
    * materializes — no extra job. A mapping too big to broadcast
    * (pathological: most nodes are aliases) degrades to shuffle joins
    * with the same plan. Raises on non-convergence rather than returning
    * partially-merged identities.
    */
  def resolveSameAs(quads: DataFrame, sameAsPred: String = OwlSameAs,
                    maxIterations: Int = 20,
                    broadcastCap: Long = 50000000L): DataFrame = {
    val edges = quads
      .filter(col("pred") === sameAsPred && col("dt") === "")
      .select(col("subj").as("a"), col("obj").as("b"))
    // every alias is an edge endpoint, so the CC takes no further nodes
    // (`limit(0)` folds away in planning: no second scan of the graph);
    // the checkpoint counts the mapping's rows for the broadcast gate
    val (mapping, nAlias) = org.apache.spark.sql.GraftInternal.localCheckpointWithCount(
      DedupOps.connectedComponents(edges.select(col("a").as("id")).limit(0), edges, maxIterations)
        .filter(col("id") =!= col("component")))
    // size gate (r5 review #3): at web scale owl:sameAs alias sets are
    // NOT always vocabulary-sized — hundreds of millions of cross-links
    // force-broadcast would OOM the driver or trip the 8 GB broadcast
    // hard cap. Past the cap every mapping-shaped join degrades to a
    // plain shuffle join with the identical plan semantics (same pattern
    // as schemaClosure's driver-side cap).
    val small = nAlias <= broadcastCap
    def bcast(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val noSameAs = quads.filter(col("pred") =!= sameAsPred)
    val joined = noSameAs
      .join(bcast(mapping.select(col("id").as("s_alias"),
        col("component").as("s_canon"))), col("subj") === col("s_alias"), "left")
      .join(bcast(mapping.select(col("id").as("o_alias"),
        col("component").as("o_canon"))),
        col("obj") === col("o_alias") && col("dt") === "", "left")
    val untouched = joined
      .filter(col("s_canon").isNull && col("o_canon").isNull)
      .select(col("subj"), col("pred"), col("obj"), col("dt"))
    val rewritten = joined
      .filter(col("s_canon").isNotNull || col("o_canon").isNotNull)
      .select(coalesce(col("s_canon"), col("subj")).as("subj"), col("pred"),
        coalesce(col("o_canon"), col("obj")).as("obj"), col("dt"))
      .distinct()
    // a rewritten triple can only equal an untouched one if the untouched
    // row's subject is canonical, or its IRI object is — both slices are
    // broadcast-join-selectable and small (sized by the alias cliques,
    // not the graph). One scan with two left joins and an OR filter, not
    // a union of two semi-joins: the graph pass behind `untouched` (scan
    // + both mapping joins) is expensive and the union form evaluated it
    // twice, plus a distinct shuffle. canonSet is distinct so each left
    // join matches at most once and no row duplicates — and the anti-join
    // below is multiplicity-insensitive anyway.
    val canonSet = mapping.select(col("component").as("c")).distinct()
    val collidable = untouched
      .join(bcast(canonSet.select(col("c").as("c_s"))),
        col("subj") === col("c_s"), "left")
      .join(bcast(canonSet.select(col("c").as("c_o"))),
        col("obj") === col("c_o") && col("dt") === "", "left")
      .filter(col("c_s").isNotNull || col("c_o").isNotNull)
      .select(col("subj"), col("pred"), col("obj"), col("dt"))
    untouched.union(
      rewritten.join(bcast(collidable),
        Seq("subj", "pred", "obj", "dt"), "left_anti"))
  }

  val RdfsSubClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val RdfsSubPropertyOf = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
  val RdfsDomain = "http://www.w3.org/2000/01/rdf-schema#domain"
  val RdfsRange = "http://www.w3.org/2000/01/rdf-schema#range"

  /** RDFS forward-chaining materialization over the ρdf fragment (the
    * minimal RDFS of Muñoz, Pérez & Gutierrez: subClassOf /
    * subPropertyOf / domain / range / type — the rules that matter for
    * KG construction), stratified so ONE pass reaches the fixpoint:
    *
    *  1. transitive closure of the (tiny) subPropertyOf and subClassOf
    *     schema graphs — [[transitiveClosure]], log-rounds doubling;
    *  2. rdfs7: `(x p y), p ⊑ q ⟹ (x q y)` — instance triples
    *     broadcast-joined against the subPropertyOf closure;
    *  3. rdfs2/rdfs3: domain typing over the rdfs7-EXTENDED triple set
    *     (a domain on a super-property types subjects reached through
    *     derived triples too); range typing only for IRI objects
    *     (`dt = ""` — literals are never typed);
    *  4. rdfs9: `(x type c), c ⊑ d ⟹ (x type d)` over ALL type triples
    *     — asserted, rdfs7-derived (a property may be sub-property OF
    *     rdf:type), and the fresh domain/range ones;
    *  5. derived closure triples (p ⊑⁺ q, c ⊑⁺ d) join the output.
    *
    * This stratification is complete for ρdf because no instance rule
    * derives schema triples — the standard no-meta-schema assumption
    * (a property that is itself sub-property of rdfs:domain etc. is out
    * of fragment, as in ter Horst's pD* treatments).
    *
    * Scale shape: schema graphs are vocabulary-sized (thousands of
    * classes/properties vs billions of instance triples), so EVERY rule
    * is a broadcast-hash join against the instance table — map-side, no
    * instance shuffle. The one shuffle is the final set-dedup: derived
    * triples `distinct()` then anti-join the asserted graph on
    * (subj, pred, obj, dt) — sized by the derived set, and co-shuffle
    * with the stored graph disappears under a (subj,pred,obj)-bucketed
    * layout, the same contract [[resolveSameAs]] and `updateQuery`
    * document. Output: asserted ∪ derived, a set.
    */
  def rdfsMaterialize(quads: DataFrame, maxIterations: Int = 20): DataFrame = {
    // materialize the asserted graph ONCE: the two schema collects, four
    // schema-slice filters, every rule join, and the final anti-join all
    // read it — without the cut each reader re-evaluates the caller's
    // full upstream plan (measured 7.5 s → 2.3 s on the sf0.1 gated
    // query). localCheckpoint, not cache: the lifetime is this call's
    // plan, no unpersist bookkeeping for the caller. At stored-table
    // scale the input IS a materialized table and this is a no-op cost.
    val q4 = quads.select(col("subj"), col("pred"), col("obj"), col("dt"))
      .localCheckpoint()
    def schemaEdges(p: String) = q4
      .filter(col("pred") === p && col("dt") === "")
      .select(col("subj").as("src"), col("obj").as("dst"))
    val spoC = schemaClosure(schemaEdges(RdfsSubPropertyOf), maxIterations)
    val scoC = schemaClosure(schemaEdges(RdfsSubClassOf), maxIterations)
    val dom = q4.filter(col("pred") === RdfsDomain && col("dt") === "")
      .select(col("subj").as("d_p"), col("obj").as("d_c"))
    val rng = q4.filter(col("pred") === RdfsRange && col("dt") === "")
      .select(col("subj").as("r_p"), col("obj").as("r_c"))
    val derived7 = q4.join(broadcast(spoC), col("pred") === col("src"))
      .select(col("subj"), col("dst").as("pred"), col("obj"), col("dt"))
    val ext = q4.unionByName(derived7)
    val t2 = ext.join(broadcast(dom), col("pred") === col("d_p"))
      .select(col("subj"), lit(RdfTypeIri).as("pred"), col("d_c").as("obj"),
        lit("").as("dt"))
    val t3 = ext.filter(col("dt") === "")
      .join(broadcast(rng), col("pred") === col("r_p"))
      .select(col("obj").as("subj"), lit(RdfTypeIri).as("pred"),
        col("r_c").as("obj"), lit("").as("dt"))
    val typesAll = ext.filter(col("pred") === RdfTypeIri)
      .select(col("subj"), col("obj"))
      .unionByName(t2.select(col("subj"), col("obj")))
      .unionByName(t3.select(col("subj"), col("obj")))
    val t9 = typesAll.join(broadcast(scoC), col("obj") === col("src"))
      .select(col("subj"), lit(RdfTypeIri).as("pred"), col("dst").as("obj"),
        lit("").as("dt"))
    val closureTriples = spoC.select(col("src").as("subj"),
        lit(RdfsSubPropertyOf).as("pred"), col("dst").as("obj"), lit("").as("dt"))
      .unionByName(scoC.select(col("src").as("subj"),
        lit(RdfsSubClassOf).as("pred"), col("dst").as("obj"), lit("").as("dt")))
    val derived = derived7.unionByName(t2).unionByName(t3).unionByName(t9)
      .unionByName(closureTriples)
      .distinct()
      .join(q4, Seq("subj", "pred", "obj", "dt"), "left_anti")
    q4.unionByName(derived)
  }

  /** Transitive closure of a SCHEMA graph (subClassOf / subPropertyOf
    * edges): ontologies are vocabulary-sized by definition — thousands
    * of classes against billions of instance triples — so the closure is
    * computed driver-side in one collect (the same tiny-by-contract
    * driver action as the IVF codebook) instead of spending an iterative
    * round of Spark jobs per hop; an unexpectedly huge edge set (over
    * 100k rows) falls back to the distributed [[transitiveClosure]]
    * rather than flooding the driver.
    */
  private def schemaClosure(edges: DataFrame, maxIterations: Int): DataFrame = {
    val cap = 100000
    val local = edges.limit(cap + 1).collect()
    if (local.length > cap) return transitiveClosure(edges, maxIterations)
    val adj = scala.collection.mutable.Map[String, scala.collection.mutable.Set[String]]()
    local.foreach(r =>
      adj.getOrElseUpdate(r.getString(0), scala.collection.mutable.Set()) += r.getString(1))
    val out = scala.collection.mutable.Buffer[(String, String)]()
    for (src <- adj.keys.toSeq.sorted) {
      val seen = scala.collection.mutable.Set[String]()
      var frontier: Set[String] = adj(src).toSet
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(n =>
          adj.get(n).map(_.toSet).getOrElse(Set.empty)).diff(seen)
      }
      seen.foreach(d => out += ((src, d)))
    }
    if (out.isEmpty) edges.limit(0)
    else {
      val sp = edges.sparkSession
      sp.createDataFrame(out.toSeq).toDF("src", "dst")
    }
  }

  /** Per-node triangle counts over an undirected-ized edge list — the
    * clustering-structure profile of a constructed KG (communities,
    * link-farm detection, graph health). The classic degree-ordered
    * orientation (Chiba–Nishizeki / MapReduce "compact-forward"): every
    * edge points from its lower-(degree, id) endpoint to the higher, so
    * each triangle is enumerated EXACTLY once from its minimum corner,
    * and — the 100-TB point — wedge generation fans out from the
    * low-degree side: a star hub of degree d contributes no d² wedge
    * blow-up because its edges all point INTO it. Two shuffles join the
    * wedge set back to the oriented edges; keys are uniform node ids.
    * The orientation only affects enumeration order, never the triangle
    * SET, so an id-oriented declarative replay (the DuckDB oracle)
    * value-gates the result.
    *
    * Output: (node, n_triangles) for EVERY node incident to an edge
    * (zero-triangle nodes included, self-loops dropped, parallel edges
    * collapsed).
    */
  def triangleCount(edges0: DataFrame): DataFrame = {
    val und = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()
    val nodes = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .distinct()
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val keyed = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = keyed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, struct(col("db").as("d"), col("b").as("i")))
          .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("kv"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.u").as("t1"), col("e1.v").as("t2"), col("e2.v").as("t3"))
    val tris = wedges.join(
      oriented.select(col("u").as("t2"), col("v").as("t3")), Seq("t2", "t3"))
    val corners = tris.select(col("t1").as("n"))
      .union(tris.select(col("t2").as("n")))
      .union(tris.select(col("t3").as("n")))
      .groupBy("n").agg(count(lit(1)).as("c"))
    nodes.join(corners, Seq("n"), "left")
      .select(col("n").as("node"), coalesce(col("c"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: triangles through the node
    * over the wedges it centers — `2·tri / (deg·(deg−1))` on the
    * undirected simple graph. The coefficient is emitted in INTEGER
    * micro-units (`floor(1e6 · 2 · tri / (deg · (deg − 1)))` via pure
    * BIGINT arithmetic), so the value is bit-identical across engines,
    * partitionings, and retries — same quantization discipline as
    * [[pageRank]]. Cost on top of [[triangleCount]] is one degree
    * aggregation plus one equi-join on the uniform node id; at corpus
    * scale the triangle enumeration dominates and its degree-ordered
    * orientation already bounds the wedge fan-out (see there). Nodes of
    * degree < 2 center no wedge and get coefficient 0 by convention.
    *
    * Output: (node, degree, n_triangles, coeff_micro).
    */
  def clusteringCoefficient(edges0: DataFrame): DataFrame = {
    val und = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    triangleCount(edges0).join(deg, Seq("node"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
            (lit(2000000L) * col("n_triangles")) /
              (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0L)).cast("long").as("coeff_micro"))
  }

  /** k-core decomposition membership: the maximal induced subgraph in
    * which every node has degree ≥ k, found by the standard peeling
    * fixpoint over the undirected edge set ([[Fixpoint.run]]). Each round
    * is one peel: it keeps the edges whose two endpoints both have degree
    * ≥ k in the current set, by two windowed counts over the symmetric
    * view (one shuffle each on the uniform node id, no join). The
    * fixpoint is a peel that removes nothing, so P peels that remove
    * nodes need `maxIterations ≥ P + 1`. Each round removes the whole
    * current "shell", so a handful of rounds is typical, and the edge set
    * only ever shrinks, so round cost decays. The k-core is unique (the
    * union of two subgraphs with min-degree ≥ k has min-degree ≥ k), so a
    * declarative unrolled replay — the DuckDB oracle chains the same peel
    * round a fixed number of times; extra rounds past the fixpoint are
    * no-ops — value-gates the result.
    *
    * Output: (node, core_degree) for k-core members — their degree
    * WITHIN the core (≥ k by construction).
    */
  def kCore(edges0: DataFrame, k: Int, maxIterations: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val core = Fixpoint.run(s"kCore(k=$k)", maxIterations, und) { e =>
      // over the symmetric view, the rows with b = x are as many as those
      // with a = x, so each window counts one endpoint's degree
      e.union(e.select(col("b").as("a"), col("a").as("b")))
        .withColumn("da", count(lit(1)).over(Window.partitionBy("a")))
        .withColumn("db", count(lit(1)).over(Window.partitionBy("b")))
        .filter(col("a") < col("b") && col("da") >= k && col("db") >= k)
        .select(col("a"), col("b"))
    }
    core.select(col("a").as("node")).union(core.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  /** Semi-supervised label propagation: seed nodes carry fixed labels
    * (CLAMPED — they never change, the standard semi-supervised
    * contract), and for `iterations` synchronous rounds every node
    * adopts the MAJORITY label among its (undirected) neighbors'
    * current labels — ties break on the lexicographically smallest
    * label, nodes with no labeled neighbor keep their previous label
    * (initially null). Everything is integer counts and string
    * comparisons, so the op is deterministic across partitionings and
    * replayable declaratively (the DuckDB oracle unrolls the same
    * rounds with the same argmax ordering). Per round: one equi-join of
    * the symmetrized edge table against the CURRENT labeled set (shrunk
    * to labeled nodes only), one hash-count, one per-node argmax window
    * — all keyed on the uniform node id; lineage cut per round. The
    * entity-classification workhorse over a constructed KG: seed a few
    * typed nodes, let the link structure type the rest.
    *
    * Output: (node, label) for every node incident to an edge; label
    * null where no seed's influence reached within the round budget.
    */
  def labelPropagation(edges0: DataFrame, seeds: DataFrame,
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val edges = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val nodes = und.select(col("src").as("node")).distinct()
    val seedsFixed = seeds.select(col("node"), col("label").as("seed_label"))
      .localCheckpoint()
    var labels = nodes
      .join(seedsFixed, Seq("node"), "left")
      .select(col("node"), col("seed_label").as("label"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val nb = und.join(
          labels.filter(col("label").isNotNull)
            .select(col("node").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("node"), col("label"))
      // majority argmax as TWO hash aggregations instead of a row_number
      // window: min(struct(-count, label)) is exactly "max count, ties to
      // the lexicographically smallest label", and both aggregation
      // levels get map-side partials — no per-node sort task, skew-safe
      // on a hub node's neighbor list (guide §2.5)
      val picked = nb.groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("new_label"))
      labels = labels.join(picked, Seq("node"), "left")
        .join(seedsFixed, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("seed_label"), col("new_label"), col("label")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** k-hop integer feature propagation — the message-passing primitive
    * GNN data preparation runs at corpus scale (sparse matrix–vector
    * multiply chained k times): each hop every node's feature becomes
    * `own + Σ feature(in-neighbors)` (GCN-with-self-loop shape). Pure
    * BIGINT arithmetic, so the result is exact, partition-invariant,
    * and declaratively replayable — no quantization needed at all. Per
    * hop: one equi-join of the edge table against the current feature
    * vector plus one hash aggregation on the destination — the textbook
    * SpMV-as-relational-rounds; co-partition the stored edge table by
    * `src` and the join side is shuffle-free. Missing features default
    * to 0; with all-ones init, hop h computes the number of ≤h-step
    * in-paths per node (weighted path counting).
    *
    * Output: (node, f) for every node incident to an edge.
    */
  def featurePropagation(edges0: DataFrame, features: DataFrame,
                         hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val edges = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var f = nodes.join(features.select(col("node"), col("f")), Seq("node"), "left")
      .select(col("node"), coalesce(col("f"), lit(0L)).cast("long").as("f"))
      .localCheckpoint()
    for (_ <- 1 to hops) {
      val msg = edges
        .join(f.select(col("node").as("src"), col("f").as("mf")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("mf")).as("sf"))
      f = f.join(msg, Seq("node"), "left")
        .select(col("node"), (col("f") + coalesce(col("sf"), lit(0L))).as("f"))
        .localCheckpoint()
    }
    f
  }

  /** Deterministic random walks — the node2vec/DeepWalk corpus
    * generator, the step before any graph-embedding training run. At
    * each step the walk at node `cur` moves to the neighbor whose
    * 1-based index (neighbors ordered by destination id) equals
    * `h60(start|wid|step|cur) mod out-degree + 1` — a hash-seeded
    * choice instead of an RNG, so the walk corpus is bit-identical
    * across partitionings, retries, AND engines (the DuckDB oracle
    * replays every step with the same h60 and the same `row_number`
    * neighbor ordering). Dead ends (no out-edges) terminate the walk —
    * shorter walks are emitted, not padded. Per step: one equi-join
    * against the degree table and one against the indexed adjacency,
    * both keyed on the uniform node id; the adjacency is built once
    * (one window over `src`). Walk count fans out via a literal
    * sequence explode — no driver loop over walks.
    *
    * Output: (start, wid, step, node) — every visit, step 0 = start.
    */
  def randomWalks(edges0: DataFrame, starts: DataFrame, walkLen: Int = 3,
                  walksPerNode: Int = 2): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    val edges = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = edges.select(col("src"), col("dst"), row_number().over(w).as("idx"))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint()
    var state = starts.select(col("node").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(1), lit(walksPerNode))).as("wid"))
      .select(col("start"), col("wid"), col("start").as("node"))
    var acc = state.select(col("start"), col("wid"), lit(0).as("step"), col("node"))
    for (step <- 1 to walkLen) {
      val pick = state.join(deg, state("node") === deg("src"))
        .select(col("start"), col("wid"), col("node"),
          (PortableHash.h60(concat_ws("|", col("start"), col("wid"),
            lit(step), col("node"))) % col("deg") + 1).as("pick"))
      state = pick.join(adj,
          pick("node") === adj("src") && pick("pick") === adj("idx"))
        .select(col("start"), col("wid"), col("dst").as("node"))
        .localCheckpoint()
      acc = acc.union(
        state.select(col("start"), col("wid"), lit(step).as("step"), col("node")))
    }
    acc
  }

  /** Skip-gram training pairs from a walk corpus ([[randomWalks]]
    * output): every ordered (center, context) pair of visits within the
    * same walk at step distance 1..window — the co-occurrence multiset
    * word2vec-style embedding training consumes. One self-join keyed on
    * the walk identity (start, wid) with a bounded step-distance
    * predicate (walks are short, so the per-walk blow-up is ≤
    * 2·window·len — a constant factor, not a cartesian), then one hash
    * aggregation into pair counts.
    *
    * Output: (center, context, n_pairs).
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("start"), col("wid"), col("step"), col("node"))
    val b = a.select(col("start"), col("wid"), col("step").as("bstep"),
      col("node").as("bnode"))
    a.join(b, Seq("start", "wid"))
      .filter(col("step") =!= col("bstep") &&
        abs(col("step") - col("bstep")) <= window)
      .select(col("node").as("center"), col("bnode").as("context"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Materialize `result` in ONE job (eager local checkpoint — the
    * whole iteration chain runs as a single pipelined DAG with each
    * persisted round-intermediate computed exactly once) and then
    * release every cache entry that fed it. Two effects, both from the
    * r5 review: fixed-round iterative ops stop paying an eager
    * checkpoint job per round (guide §1.2 — job count was the dominant
    * cost at bench scale), and persisted frames no longer outlive the
    * operator call (the unpersist discipline: repeated invocations
    * across a 116-query sweep previously accumulated cached blocks
    * until LRU pressure).
    */
  private def materializeAndRelease(result: DataFrame,
                                    cached: Seq[DataFrame]): DataFrame = {
    val out = result.localCheckpoint()
    cached.foreach(df => try df.unpersist(false) catch { case _: Exception => () })
    out
  }

  /** HITS (Kleinberg) hub/authority scores over a directed edge list,
    * fixed `iterations` rounds of the mutual recurrence with L1
    * normalization: `auth ∝ Σ hub(in-neighbors)`, then
    * `hub ∝ Σ auth(out-neighbors)`. Every sum is QUANTIZED — per-node
    * scores truncate to BIGINT twelfth-units before the aggregate, and
    * the L1 total is itself a BIGINT sum — so results are bit-identical
    * across partitionings/retries and replayable declaratively (the
    * DuckDB oracle chains the identical expression tree per round, the
    * [[pageRank]] discipline). Per round: two equi-joins + two hash
    * aggregations on uniform node ids, one broadcast 1-row total each —
    * no driver action inside the loop; lineage is cut per round.
    * Fixed-round semantics (not convergence-tested): HITS is specified
    * here as an N-round operator precisely so two engines can agree on
    * the exact output.
    *
    * Output: (node, hub, auth) for every node incident to an edge,
    * scores L1-normalized within each vector.
    */
  def hits(edges0: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val Q = 1e12
    val edges = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().localCheckpoint()
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      // auth step: quantize hub, sum into each edge target, L1-normalize.
      // Per-round localCheckpoint instead of the previous persist():
      // r5 flagged the persists as a cache LEAK (never unpersisted,
      // accumulating across the 116-query sweep); checkpointed rounds
      // self-release via the ContextCleaner and keep the AQE-coalesced
      // partitioning, so a 20-iteration run no longer grows the cache.
      val hq = hub.select(col("node"), floor(col("hub") * Q).cast("long").as("q"))
      val aSum = edges.join(hq, edges("src") === hq("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("q")).as("qs"))
      val aTot = aSum.agg(sum(col("qs")).as("tot"))
      auth = nodes.join(aSum, Seq("node"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          (coalesce(col("qs"), lit(0L)).cast("double") / col("tot")).as("auth"))
        .localCheckpoint()
      // hub step: quantize auth, sum into each edge source, L1-normalize
      val aq = auth.select(col("node"), floor(col("auth") * Q).cast("long").as("q"))
      val hSum = edges.join(aq, edges("dst") === aq("node"))
        .groupBy(col("src").as("node")).agg(sum(col("q")).as("qs"))
      val hTot = hSum.agg(sum(col("qs")).as("tot"))
      hub = nodes.join(hSum, Seq("node"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          (coalesce(col("qs"), lit(0L)).cast("double") / col("tot")).as("hub"))
        .localCheckpoint()
    }
    hub.join(auth, Seq("node"))
  }

  /** Single-source-set shortest HOP distances by level-synchronous BFS:
    * round d's frontier is exactly the set of nodes first reached at
    * distance d, so no per-node min() is ever needed — a node entering
    * the frontier IS at its shortest distance, and the anti-join against
    * the settled set both deduplicates and terminates. Each round is one
    * equi-join of the (shrinking) frontier against the edge table plus one
    * anti-join against the settled table, all keyed on the uniform node
    * id. It converges when the frontier empties, after eccentricity + 1
    * rounds; the round budget and its error are [[Fixpoint.rounds]]'s.
    * A disconnected remainder is fine: unreached nodes simply don't appear.
    *
    * At 10^12 edges this is the textbook Pregel-style BFS as relational
    * rounds: co-partition the stored edge table by `src` and the
    * per-round join is shuffle-free on the edge side; the settled table
    * grows monotonically and only ever probes an anti-join. For graphs
    * whose diameter is large AND whose closure is small,
    * [[transitiveClosure]]'s doubling reaches fixpoint in log-rounds
    * instead — BFS wins when the reachable set is wide but shallow,
    * closure when deep but narrow.
    *
    * Output: (node, distance) for every node reachable from `sources`
    * (`node` column), sources themselves at distance 0.
    */
  def shortestPaths(edges0: DataFrame, sources: DataFrame,
                    maxIterations: Int = 30): DataFrame = {
    val edges = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    // ONE job per BFS level: the frontier checkpoint's materialization
    // count doubles as the liveness test, and `dist` needs no checkpoint
    // of its own — it is a plain union of the already-materialized
    // frontier frames (guide §1.2: previously 3 jobs per level, and the
    // level count is the tree depth, so this is the whole query's cost)
    var (frontier, nFrontier) = org.apache.spark.sql.GraftInternal.localCheckpointWithCount(
      sources.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("distance")))
    var dist = frontier
    if (nFrontier > 0) Fixpoint.rounds("shortestPaths", maxIterations) { i =>
      // the level's distance is the loop counter — a driver constant —
      // so it never rides through the join/distinct/anti-join: the
      // frontier shuffles a single node column and the distinct and
      // anti-join share the same key shape
      val (f, nf) = org.apache.spark.sql.GraftInternal.localCheckpointWithCount(
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node"))
          .distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit((i + 1).toLong).as("distance")))
      frontier = f
      // the settled table re-materializes every FOURTH level, not every
      // level: in between it is a short union chain of already-
      // materialized frontier frames (narrow — no shuffle), so the
      // per-level O(|settled|) checkpoint copy and its job happen D/4
      // times instead of D. (The two extremes both measured worse: a
      // checkpoint per level pays D full copies; no checkpoint at all
      // re-reads every prior level's RDD in each anti-join build.)
      if (nf > 0) {
        val u = dist.union(frontier)
        dist = if (i % 4 == 3) u.localCheckpoint() else u
      }
      nf == 0
    }
    dist
  }

  /** Transitive closure of a directed edge list (`src`, `dst`) by
    * iterative doubling ([[doublingClosure]]): after round i the path set
    * covers all lengths up to 2^i, so a diameter-D graph converges in
    * ⌈log₂ D⌉ + 1 rounds — O(log D) self-joins instead of the O(D) rounds
    * of frontier BFS. This matters at corpus scale: each round is a full
    * shuffle join, and at 10^12 edges ten shuffles vs a thousand is the
    * whole game.
    *
    * Output: all (src, dst) pairs with dst reachable in ≥ 1 step. Beware
    * the closure of a dense graph is quadratic — this is for
    * hierarchy/ancestry-shaped relations (rdfs:subClassOf, parent trees,
    * skos:broader), not social graphs.
    */
  def transitiveClosure(edges: DataFrame, maxIterations: Int = 20): DataFrame =
    doublingClosure("transitiveClosure", edges.select(col("src"), col("dst")).distinct(),
      maxIterations)

  /** Close `paths` under composition: the [[Fixpoint.run]] of
    * `p ∪ chain(p, p)`, each round doubling the path lengths covered. */
  private def doublingClosure(op: String, paths: DataFrame, maxIterations: Int): DataFrame =
    Fixpoint.run(op, maxIterations, paths)(p => p.union(chain(p, p)).distinct())

  /** Paths that run through `l` then `r`: (l.src, r.dst) where l.dst = r.src. */
  private def chain(l: DataFrame, r: DataFrame): DataFrame =
    l.as("l").join(r.as("r"), col("l.dst") === col("r.src"))
      .select(col("l.src").as("src"), col("r.dst").as("dst"))

  /** Incrementally maintain a materialized transitive closure: given
    * the closure `C` of an edge set and a batch of NEW edges `ΔE`,
    * compute the closure of the union WITHOUT re-closing the old edge
    * set — [[closureDelta]] (all the join work, sized by the delta)
    * plus a disjoint append. This is the maintenance operation behind
    * the closure-table shape [[bridgePaths]] documents for 100×
    * scale: the nightly ingest appends edges, this folds them in.
    *
    * Output: the UPDATED closure (old ∪ new paths), same (src, dst)
    * schema. Value-gated against the full-recompute recursive-CTE
    * oracle (`kg_closure_delta`).
    */
  def updateClosure(closure: DataFrame, newEdges: DataFrame,
                    maxIterations: Int = 20): DataFrame = {
    val c = materializedClosure(closure)
    val fresh = closureDeltaOn("updateClosure", c, newEdges, maxIterations)
    // disjoint by construction (closureDelta anti-joins the stored set),
    // so the merge is a plain append — NOT a whole-closure distinct():
    // at stored-table scale the old closure never reshuffles
    c.union(fresh)
  }

  /** The APPEND HALF of [[updateClosure]] — just the paths the new edges
    * create that the stored closure doesn't already hold. This is the
    * shape a 100-TB deployment actually runs: the closure lives in a
    * partitioned table, the nightly ingest computes this delta and
    * APPENDS it; nothing ever rewrites the stored set. Semi-naive delta
    * iteration, all joins sized by the delta:
    *
    * normalization first — every path with EXACTLY ONE new edge,
    * optionally C-extended on either side (`Δ ∪ CΔ ∪ ΔC ∪ CΔC`).
    * Because C is transitively CLOSED, two adjacent C-segments compose
    * inside C, so any multi-new-edge path decomposes into these
    * segments joined end to end, and [[doublingClosure]] of that set
    * needs only the Δ⋈Δ self-join per round (each round doubles the
    * new-edge count a path may contain: O(log k) rounds for paths
    * through k new edges). The C-joins probe the stored closure with the
    * SMALL side broadcast; the per-round self-join never touches C.
    */
  def closureDelta(closure: DataFrame, newEdges: DataFrame,
                   maxIterations: Int = 20): DataFrame =
    closureDeltaOn("closureDelta", materializedClosure(closure), newEdges, maxIterations)

  /** The stored closure as a materialized (src, dst) frame: [[updateClosure]]
    * reads it twice (the delta joins and the final append), and a frame
    * fresh out of [[transitiveClosure]] is already one — re-checkpointing
    * it would be a pure O(|closure|) copy job on the query's biggest frame.
    */
  private def materializedClosure(closure: DataFrame): DataFrame =
    if (org.apache.spark.sql.GraftInternal
          .isMaterializedWithColumns(closure, Seq("src", "dst"))) closure
    else closure.select(col("src"), col("dst")).localCheckpoint()

  /** [[closureDelta]] over an ALREADY-materialized closure frame `c`. */
  private def closureDeltaOn(op: String, c: DataFrame, newEdges: DataFrame,
                             maxIterations: Int): DataFrame = {
    val (edges, nEdges) = org.apache.spark.sql.GraftInternal.localCheckpointWithCount(
      newEdges.select(col("src"), col("dst")).distinct())
    if (nEdges == 0) return edges // empty frame, right schema
    val cEdges = chain(c, edges)
    val delta = doublingClosure(op,
      edges.union(cEdges).union(chain(edges, c)).union(chain(cEdges, c)).distinct(),
      maxIterations)
    // only genuinely new paths: a new edge may connect a pair the old
    // edges already connected
    delta.join(c, Seq("src", "dst"), "left_anti")
  }

  /** Triple count per predicate — the first profiling query over any
    * freshly constructed KG. One hash aggregation with map-side partials.
    */
  def predicateStats(quads: DataFrame): DataFrame =
    quads.groupBy(col("pred")).agg(count(lit(1)).as("n_triples"))

  /** Per-node out-degree (triples with the node as subject) and in-degree
    * (IRI-object triples pointing at it — literals don't create edges,
    * hence the `dt = ""` filter). Two partial-aggregated counts joined
    * full-outer on the node IRI; at KG scale both sides shuffle once on
    * the same key.
    */
  def degrees(quads: DataFrame): DataFrame = {
    val out = quads.groupBy(col("subj").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val in = quads.filter(col("dt") === "")
      .groupBy(col("obj").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  // ------------------------------------------------------ SPARQL Update

  /** Constant-only data triples (INSERT DATA / DELETE DATA) as a local
    * quad DataFrame — a handful of driver-side rows, broadcast-sized by
    * construction.
    */
  private def dataQuads(spark: SparkSession, block: Seq[Sparql.TripleTmpl]): DataFrame = {
    val rows = block.map { t =>
      (t.s, t.p, t.o) match {
        case (Const(s), Const(p), Const(o)) => (s, p, o, t.dt)
        case _ => throw new IllegalArgumentException(
          s"a DATA block must be variable-free: '${t.s} ${t.p} ${t.o}'")
      }
    }
    spark.createDataFrame(rows).toDF("subj", "pred", "obj", "dt")
  }

  /** Instantiate a template per solution binding — [[construct]] with
    * the `dt` column kept. Template variables must be bound by the WHERE
    * body (checked loudly; an unbound template variable is a query bug,
    * not a null triple).
    */
  private def instantiateQuads(bindings: DataFrame, tmpl: Seq[Sparql.TripleTmpl]): DataFrame = {
    val bound = bindings.columns.toSet
    def c(t: Term): Column = t match {
      case Var(n) =>
        require(bound.contains(n), s"template variable ?$n is not bound by the WHERE body")
        col(n)
      case Const(v) => lit(v)
      case other => throw new IllegalArgumentException(s"bad template term $other")
    }
    tmpl.map(t => bindings.select(
        c(t.s).as("subj"), c(t.p).as("pred"), c(t.o).as("obj"), lit(t.dt).as("dt")))
      .reduce(_.unionByName(_))
      .distinct()
  }

  /** RDF-set DELETE: drop every quad whose (subj, pred, obj) appears in
    * `del` — `dt` is derived metadata here, not identity. One left-anti
    * hash join; the delete side is the (usually small) probe side, so at
    * stored-graph scale AQE broadcasts it and the big table never
    * shuffles.
    */
  private def deleteQuads(quads: DataFrame, del: DataFrame): DataFrame =
    quads.join(del.select("subj", "pred", "obj").distinct(),
      Seq("subj", "pred", "obj"), "left_anti")

  /** RDF-set INSERT: append the quads of `ins` not already present
    * (same (subj, pred, obj) identity as [[deleteQuads]]). Presence is
    * one left-anti join probing the NEW rows against the stored table —
    * never a distinct() over the whole graph, which would reshuffle
    * 100 TB to add a handful of triples.
    */
  private def insertQuads(quads: DataFrame, ins: DataFrame): DataFrame =
    quads.unionByName(
      ins.distinct().join(quads.select("subj", "pred", "obj"),
        Seq("subj", "pred", "obj"), "left_anti"))

  /** SPARQL 1.1 Update over the (subj, pred, obj, dt) quad table —
    * FUNCTIONAL, Spark-style: returns the updated table as a new lazy
    * DataFrame (the input is never mutated; a caller owning a stored
    * graph writes the result back, and a closure-table owner folds the
    * inserted edges in with [[updateClosure]]). Forms:
    *
    *  - `INSERT DATA { triples }` / `DELETE DATA { triples }` —
    *    variable-free blocks; typed literals `"lex"^^<dt>` and
    *    language-tagged ones `"lex"@tag` supported.
    *  - `DELETE WHERE { patterns }` — the pattern block doubles as the
    *    delete template (spec short form).
    *  - `DELETE { tmpl } INSERT { tmpl } WHERE { body }` — either
    *    template optional (at least one); both instantiate against the
    *    SAME pre-update solutions, deletes apply before inserts
    *    (SPARQL §3.1.3), and the body accepts [[select]]'s full pattern
    *    surface (UNION/FILTER/OPTIONAL/MINUS/GRAPH/VALUES/paths).
    *
    * Set semantics throughout: inserting an existing triple is a no-op,
    * matching on (subj, pred, obj) identity — `dt` travels with the
    * triple but does not distinguish it. A template VARIABLE in object
    * position instantiates with `dt = ""` (IRI-valued assumption);
    * insert literal values through constants. PREFIX declarations
    * expand as in [[select]].
    */
  def updateQuery(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case u: Sparql.Update => update(quads, u)
    case _ => throw new IllegalArgumentException(updateForms(text0))
  }

  private def updateForms(text: String): String =
    s"updateQuery expects INSERT DATA / DELETE DATA / DELETE WHERE / " +
      s"DELETE/INSERT … WHERE, got '${text.trim.take(80)}'"

  private def update(quads: DataFrame, u: Sparql.Update): DataFrame = u match {
    case Sparql.DataUpdate(insert, segments) =>
      require(segments.forall(_._1.isEmpty),
        "GRAPH blocks in a DATA update need a graph column — use updateQuadsQuery")
      require(segments.nonEmpty, "empty data/template block")
      val dq = dataQuads(quads.sparkSession, segments.flatMap(_._2))
      if (insert) insertQuads(quads, dq) else deleteQuads(quads, dq)
    case Sparql.DeleteWhere(template, where) =>
      deleteQuads(quads, instantiateQuads(compileBody(quads, where), template))
    case Sparql.Modify(del, ins, where) =>
      val bindings = compileBody(quads, where)
      val afterDelete = del.fold(quads)(t => deleteQuads(quads, instantiateQuads(bindings, t)))
      ins.fold(afterDelete)(t => insertQuads(afterDelete, instantiateQuads(bindings, t)))
    case other => throw new IllegalArgumentException(
      s"${other.productPrefix} needs a named-graph table — use updateQuadsQuery")
  }

  /** Rewrite one named graph through `f` (which sees a plain 4-column
    * triple table), leaving every other graph's rows untouched — the
    * quad-table analog of a per-partition update: at stored-table scale
    * with a graph-partitioned layout this touches ONLY the target
    * graph's files.
    */
  private def mapGraphSlice(quads: DataFrame, g: String)
                           (f: DataFrame => DataFrame): DataFrame =
    quads.filter(col("graph") =!= lit(g)).unionByName(
      f(quads.filter(col("graph") === lit(g)).select("subj", "pred", "obj", "dt"))
        .withColumn("graph", lit(g)))

  /** SPARQL 1.1 Update over a NAMED-GRAPH quad table (subj, pred, obj,
    * dt, graph) — the default graph is `graph = ""` (this engine's
    * convention throughout). FUNCTIONAL like [[updateQuery]]: returns
    * the updated table, never mutates the input. Forms:
    *
    *  - graph management: `CLEAR`/`DROP` `GRAPH <g> | DEFAULT | NAMED |
    *    ALL` (CLEAR and DROP coincide — this model keeps no empty-graph
    *    bookkeeping, so `CREATE GRAPH <g>` is likewise a no-op, as the
    *    spec's SILENT mode allows); `ADD | COPY | MOVE [GRAPH] <g|DEFAULT>
    *    TO [GRAPH] <g|DEFAULT>` with the spec's semantics (ADD is
    *    set-union via the same probe-small-side insert as updateQuery,
    *    COPY replaces the target, MOVE also clears the source;
    *    same-graph source/target is a no-op).
    *  - `INSERT DATA` / `DELETE DATA` whose block mixes top-level
    *    triples (default graph) and `GRAPH <g> { … }` sub-blocks.
    *  - `WITH <g> DELETE { … } INSERT { … } WHERE { … }` — the whole
    *    update (patterns AND templates) scoped to graph g.
    *  - any plain [[updateQuery]] form — applied to the default graph.
    *
    * Every form rewrites ONLY the targeted graph slice ([[mapGraphSlice]]);
    * untargeted graphs' rows flow through untouched, so a
    * graph-partitioned stored table updates one partition's files.
    */
  def updateQuadsQuery(quads: DataFrame, text0: String): DataFrame = Sparql.parse(text0) match {
    case u: Sparql.Update => updateQuads(quads, u)
    case _ => throw new IllegalArgumentException(updateForms(text0))
  }

  private def updateQuads(quads: DataFrame, u: Sparql.Update): DataFrame = u match {
    case Sparql.CreateGraph(_) => quads
    case Sparql.ClearAll => quads.limit(0)
    case Sparql.ClearNamed => quads.filter(col("graph") === lit(""))
    case Sparql.ClearGraph(g) => quads.filter(col("graph") =!= lit(g))
    case Sparql.Transfer(op, src, dst) =>
      if (src == dst) quads
      else {
        val srcRows = quads.filter(col("graph") === lit(src))
          .select("subj", "pred", "obj", "dt")
        op match {
          case "ADD" => mapGraphSlice(quads, dst)(t => insertQuads(t, srcRows))
          case "COPY" => quads.filter(col("graph") =!= lit(dst))
            .unionByName(srcRows.withColumn("graph", lit(dst)))
          case "MOVE" => quads
            .filter(col("graph") =!= lit(dst) && col("graph") =!= lit(src))
            .unionByName(srcRows.withColumn("graph", lit(dst)))
        }
      }
    case Sparql.WithGraph(g, inner) => mapGraphSlice(quads, g)(slice => update(slice, inner))
    case Sparql.DataUpdate(insert, segments) =>
      segments.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(quads) { case (acc, (g, parts)) =>
        val dq = parts.map(p => dataQuads(quads.sparkSession, p._2)).reduce(_.unionByName(_))
        mapGraphSlice(acc, g)(t => if (insert) insertQuads(t, dq) else deleteQuads(t, dq))
      }
    case _ => mapGraphSlice(quads, "")(slice => update(slice, u))
  }
}
