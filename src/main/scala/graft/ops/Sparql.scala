package graft.ops

import scala.collection.mutable.ArrayBuffer

import GraphOps._

/** The SPARQL front end of [[GraphOps]]: one lexer and one recursive-
  * descent parser for every query and update form. Text is lexed once —
  * `PREFIX`/`BASE` prologues expand and relative IRIs resolve while
  * lexing — and parsed once into the small algebra below, which
  * GraphOps' compiler folds into DataFrame plans. Literals, IRIs,
  * variables and keywords are tokens, so a keyword lookalike inside a
  * literal or an IRI can never act as syntax.
  */
private[ops] object Sparql {

  // ------------------------------------------------------------ tokens

  sealed trait Tok { def pos: Int }
  /** `<iri>` or an expanded prefixed name; `suffix` is a touching path
    * closure `+`/`*`/`?`, `""` when there is none.
    */
  final case class TIri(iri: String, suffix: String, pos: Int) extends Tok
  /** `"lex"` with its optional `^^<dt>` (`dt`) or `@tag` (`lang`) tail. */
  final case class TLit(lex: String, dt: String, lang: String, pos: Int) extends Tok
  final case class TVar(name: String, pos: Int) extends Tok
  final case class TNum(text: String, pos: Int) extends Tok
  /** Keywords, function names and `a`. */
  final case class TWord(word: String, pos: Int) extends Tok
  /** Punctuation `{ } ( ) . , ; | / ^ !` and the expression operators. */
  final case class TSym(sym: String, pos: Int) extends Tok
  final case class TEnd(pos: Int) extends Tok

  private def show(t: Tok): String = t match {
    case TIri(v, sfx, _) => s"<$v>$sfx"
    case TLit(l, dt, lang, _) =>
      "\"" + l + "\"" + (if (dt.nonEmpty) s"^^<$dt>" else if (lang.nonEmpty) "@" + lang else "")
    case TVar(n, _) => "?" + n
    case TNum(n, _) => n
    case TWord(w, _) => w
    case TSym(s, _) => s
    case TEnd(_) => "<end>"
  }

  private def isNameChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
  private def isAsciiLetter(c: Char): Boolean = c < 128 && c.isLetter

  /** RFC 3986 scheme test: an absolute IRI starts `scheme:`. */
  private def absolute(v: String): Boolean = {
    val c = v.indexOf(':')
    c > 0 && isAsciiLetter(v.head) &&
      v.substring(1, c).forall(ch => ch < 128 && (ch.isLetterOrDigit || "+.-".indexOf(ch) >= 0))
  }

  /** Tokenize query text. A leading prologue of `PREFIX name: <iri>` and
    * `BASE <iri>` declarations is consumed here: a prefixed name
    * `name:local` becomes the IRI token it abbreviates, and every
    * relative `<iri>` after the prologue resolves against the base
    * (RFC 3986, [[jsonld.core.Uri.resolve]]). `<` opens an IRI only when
    * a `>` closes it before any whitespace; otherwise it is the less-
    * than operator. A closure suffix `+`/`*`/`?` belongs to the IRI it
    * touches when whitespace, `/`, `|` or the end of the text follows
    * it — `<p>?x` is malformed, not a path and a variable.
    */
  private def lex(s: String): IndexedSeq[Tok] = {
    val out = ArrayBuffer[Tok]()
    val prefixes = scala.collection.mutable.Map[String, String]()
    var base: Option[String] = None
    var prologue = true
    var i = 0
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg in '$s'")
    // end of the run of chars from `from` that satisfy `p`
    def span(from: Int)(p: Char => Boolean): Int = {
      var j = from
      while (j < s.length && p(s(j))) j += 1
      j
    }
    // index of the '>' closing an IRI opened at `from`, or -1
    def iriClose(from: Int): Int = {
      val j = span(from + 1)(c => !c.isWhitespace && c != '>' && c != '<')
      if (j < s.length && s(j) == '>') j else -1
    }
    def rawIri(): String = {
      i = span(i)(_.isWhitespace)
      val close = if (i < s.length && s(i) == '<') iriClose(i) else -1
      if (close < 0) fail("expected an <iri>")
      val v = s.substring(i + 1, close)
      i = close + 1
      v
    }
    def resolved(v: String): String = base match {
      case Some(b) if !absolute(v) => jsonld.core.Uri.resolve(b, v)
      case _ => v
    }
    // `name:` at `i`; with `local`, the local part too: word chars, '#',
    // '-' and inner '.'s
    def pname(local: Boolean): String = {
      val e = span(i)(isNameChar)
      if (e == i || e >= s.length || s(e) != ':') fail("expected a prefixed name")
      val name = s.substring(i, e)
      i = e + 1
      if (!local) return name
      var j = span(i)(c => isNameChar(c) || "#.-".indexOf(c) >= 0)
      while (j > i && s(j - 1) == '.') j -= 1
      val iri = prefixes.getOrElse(name, fail(s"undeclared prefix '$name:'")) + s.substring(i, j)
      i = j
      iri
    }
    def iriToken(v: String, at: Int): Tok = {
      val suffix =
        if (i < s.length && "+*?".indexOf(s(i)) >= 0) {
          if (i + 1 < s.length && !s(i + 1).isWhitespace && s(i + 1) != '/' && s(i + 1) != '|')
            fail(s"malformed term '${s.substring(at, i + 2)}'")
          i += 1
          s(i - 1).toString
        } else ""
      TIri(v, suffix, at)
    }
    while (i < s.length) {
      val c = s(i)
      val at = i
      val word = s.substring(i, span(i)(isNameChar))
      if (c.isWhitespace) i += 1
      else if (prologue && word.equalsIgnoreCase("BASE")) {
        i += word.length
        base = Some(rawIri())
      } else if (prologue && word.equalsIgnoreCase("PREFIX")) {
        i = span(i + word.length)(_.isWhitespace)
        val name = pname(local = false)
        prefixes(name) = rawIri()
      } else {
        prologue = false
        if (c == '"') {
          val close = s.indexOf('"', i + 1)
          if (close < 0) fail("unterminated string literal")
          val lexical = s.substring(i + 1, close)
          i = close + 1
          if (s.startsWith("^^", i)) {
            i += 2
            val dt = if (i < s.length && s(i) == '<') resolved(rawIri()) else pname(local = true)
            out += TLit(lexical, dt, "", at)
          } else if (i + 1 < s.length && s(i) == '@' && isAsciiLetter(s(i + 1))) {
            val j = span(i + 1)(c => isAsciiLetter(c) || c.isDigit || c == '-')
            out += TLit(lexical, "", s.substring(i + 1, j), at)
            i = j
          } else out += TLit(lexical, "", "", at)
        } else if (c == '<' && iriClose(i) >= 0) out += iriToken(resolved(rawIri()), at)
        else if (c == '?') {
          if (s.length - i < 2 || !isNameChar(s(i + 1))) fail("bare '?'")
          i = span(i + 1)(isNameChar)
          out += TVar(s.substring(at + 1, i), at)
        } else if (c.isDigit) {
          i = span(i)(_.isDigit)
          if (i + 1 < s.length && s(i) == '.' && s(i + 1).isDigit) i = span(i + 1)(_.isDigit)
          out += TNum(s.substring(at, i), at)
        } else if (c.isLetter || c == '_') {
          val e = at + word.length
          if (e < s.length && s(e) == ':') out += iriToken(pname(local = true), at)
          else { out += TWord(word, at); i = e }
        } else if (c == '&') {
          if (!s.startsWith("&&", i)) fail("single '&' is not an operator — use '&&'")
          out += TSym("&&", at); i += 2
        } else {
          val two = s.substring(i, math.min(s.length, i + 2))
          if (Set("||", "!=", "<=", ">=")(two)) { out += TSym(two, at); i += 2 }
          else if ("{}().,;|/^!<>=+-*".indexOf(c.toInt) >= 0) { out += TSym(c.toString, at); i += 1 }
          else fail(s"unexpected character '$c'")
        }
      }
    }
    out += TEnd(s.length)
    out.toIndexedSeq
  }

  // ----------------------------------------------------------- algebra

  /** A property-path closure term: `<iri>` with suffix `+`/`*`/`?`.
    * `inGraph` marks one inside a GRAPH block, whose closure runs per
    * named graph.
    */
  final case class PathRef(iri: String, suffix: String, inGraph: Boolean)

  /** An OPTIONAL / MINUS / FILTER EXISTS / FILTER NOT EXISTS body
    * (`kind`): triples and FILTERs.
    */
  final case class Block(kind: String, src: String, triples: Seq[TriplePattern],
                         filters: Seq[Constraint])

  /** `VALUES ?v { … }` (one column) or the row form `VALUES (?a ?b) { (…) … }`. */
  final case class Values(vars: Seq[String], rows: Seq[Seq[String]], rowForm: Boolean)

  /** One UNION branch: a group, or a sub-select standing alone. */
  sealed trait Branch

  /** A group graph pattern. `triples` are the plain patterns in textual
    * order, `graphs` the GRAPH blocks in block order; `paths` lists the
    * closure terms the group (its blocks included, its sub-selects not)
    * mentions, first occurrence first.
    */
  final case class Group(src: String, triples: Seq[TriplePattern],
                         graphs: Seq[(Term, Seq[TriplePattern])], subSelects: Seq[Select],
                         blocks: Seq[Block], values: Seq[Values], binds: Seq[Binding],
                         filters: Seq[Constraint], paths: Seq[PathRef]) extends Branch

  /** One SELECT-head projection: a plain variable, an aggregate, or a
    * value-expression alias.
    */
  sealed trait Proj
  final case class ProjVar(name: String) extends Proj
  /** `(expr AS ?alias)` — non-aggregate expression projection. */
  final case class ProjExpr(expr: ValueExpr, alias: String) extends Proj
  /** `arg = None` is `COUNT(*)`; `distinctArg` is `COUNT(DISTINCT ?v)`;
    * `sep` is GROUP_CONCAT's SEPARATOR; `exprArg` an aggregate over an
    * expression, `(SUM(?a * ?b) AS ?x)`.
    */
  final case class ProjAgg(func: String, arg: Option[String], alias: String,
                           distinctArg: Boolean = false,
                           sep: Option[String] = None,
                           exprArg: Option[ValueExpr] = None) extends Proj

  /** One template / DATA triple: the three terms plus the datatype the
    * instantiated triple carries — `""` for an IRI, xsd:string for a
    * plain literal, the `^^` datatype, or `"@tag"`. A variable in object
    * position instantiates with `""`: template variables are assumed
    * IRI-valued (the common rewiring case); reinserting a literal value
    * needs the constant form.
    */
  final case class TripleTmpl(s: Term, p: Term, o: Term, dt: String)

  sealed trait Query extends Product
  final case class Select(distinct: Boolean, projs: Seq[Proj], dataset: Option[Dataset],
                          where: Seq[Branch], groupBy: Seq[String] = Nil,
                          having: Seq[Constraint] = Nil, orderBy: Seq[(String, Boolean)] = Nil,
                          limit: Option[Int] = None, offset: Option[Int] = None)
    extends Branch with Query
  /** A pattern block without a head: all bindings, no modifiers. */
  final case class BareQuery(where: Seq[Branch]) extends Query
  final case class ConstructQuery(template: Seq[TripleTmpl], where: Seq[Branch]) extends Query
  final case class AskQuery(where: Seq[Branch]) extends Query
  final case class DescribeIri(iri: String) extends Query
  final case class DescribeVar(variable: String, where: Seq[Branch]) extends Query

  sealed trait Update extends Query
  /** INSERT DATA / DELETE DATA: (graph, triples) segments in textual
    * order — top-level runs target the default graph `""`.
    */
  final case class DataUpdate(insert: Boolean, segments: Seq[(String, Seq[TripleTmpl])]) extends Update
  final case class DeleteWhere(template: Seq[TripleTmpl], where: Seq[Branch]) extends Update
  final case class Modify(delete: Option[Seq[TripleTmpl]], insert: Option[Seq[TripleTmpl]],
                          where: Seq[Branch]) extends Update
  final case class WithGraph(graph: String, update: Update) extends Update
  final case class CreateGraph(graph: String) extends Update
  /** CLEAR / DROP one graph (`""` is DEFAULT). */
  final case class ClearGraph(graph: String) extends Update
  case object ClearNamed extends Update
  case object ClearAll extends Update
  /** ADD / COPY / MOVE between graphs (`""` is DEFAULT). */
  final case class Transfer(op: String, src: String, dst: String) extends Update

  def parse(text: String): Query = new Parser(text).query()

  // ------------------------------------------------------------ parser

  private val AggFuncs = Set("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE")
  private val ExprAggFuncs = Set("SUM", "MIN", "MAX", "AVG")
  private val CmpOps = Set("=", "!=", "<", "<=", ">", ">=")

  private final class Parser(text: String) {
    private val toks = lex(text)
    private val end0 = toks.length - 1
    private var pos = 0
    // fresh sequence-path variables, unique within one parse
    private var seqN = 0
    // closure terms of the group being parsed; true while inside GRAPH { }
    private var paths = ArrayBuffer[PathRef]()
    private var inGraph = false

    // index of each '{' token's matching '}'
    private val closeOf: Array[Int] = {
      val a = Array.fill(toks.length)(-1)
      var open = List.empty[Int]
      toks.indices.foreach { i =>
        if (isSym("{", toks(i))) open = i :: open
        else if (isSym("}", toks(i))) {
          if (open.isEmpty) fail(s"unbalanced braces in '${text.trim}'")
          a(open.head) = i
          open = open.tail
        }
      }
      if (open.nonEmpty) fail(s"unbalanced braces in '${text.trim}'")
      a
    }

    private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    private def peek: Tok = toks(pos)
    private def ahead(n: Int): Tok = toks(math.min(pos + n, end0))
    private def next(): Tok = { val t = toks(pos); if (pos < end0) pos += 1; t }
    private def isSym(s: String, t: Tok = peek): Boolean = t match {
      case TSym(x, _) => x == s
      case _ => false
    }
    private def isKw(k: String, t: Tok = peek): Boolean = t match {
      case TWord(w, _) => w.equalsIgnoreCase(k)
      case _ => false
    }
    /** Consume the symbol or keyword `s` if it is next. */
    private def accept(s: String): Boolean = {
      val hit = isSym(s) || isKw(s)
      if (hit) next()
      hit
    }
    private def expect(s: String): Unit =
      if (!accept(s)) fail(s"expected '$s', got '${show(peek)}'")
    /** Source text of tokens [from, to). */
    private def src(from: Int, to: Int): String =
      if (to <= from) "" else text.substring(toks(from).pos, toks(to).pos).trim
    private def variable(): String = next() match {
      case TVar(n, _) => n
      case t => fail(s"expected a ?variable, got '${show(t)}'")
    }
    private def iri(): String = next() match {
      case TIri(v, "", _) => v
      case t => fail(s"expected an <iri>, got '${show(t)}'")
    }
    private def typedLiteral(t: Tok): Nothing =
      fail(s"typed and language-tagged literals are allowed only in templates and DATA blocks: '${show(t)}'")
    private def done(what: String): Unit =
      if (pos < end0) fail(s"unrecognized text after $what: '${src(pos, end0)}'")

    def query(): Query = peek match {
      case TWord(w, _) => w.toUpperCase match {
        case "SELECT" => select(end0)
        case "CONSTRUCT" => construct()
        case "ASK" =>
          next()
          accept("WHERE")
          val q = AskQuery(braced(body))
          done("ASK block")
          q
        case "DESCRIBE" => describe()
        case "INSERT" | "DELETE" | "CLEAR" | "DROP" | "CREATE" | "ADD" | "COPY" | "MOVE" | "WITH" =>
          val u = update()
          done("update")
          u
        case _ => BareQuery(body(end0))
      }
      case _ => BareQuery(body(end0))
    }

    /** `{ … }` parsed by `inner` up to the closing brace. */
    private def braced[A](inner: Int => A): A = {
      if (!isSym("{")) fail(s"expected a '{' block, got '${src(pos, end0)}'")
      val close = closeOf(pos)
      next()
      val a = inner(close)
      if (pos != close) fail(s"unrecognized text in block: '${src(pos, close)}'")
      next()
      a
    }

    // ------------------------------------------------ query forms

    private def construct(): Query = {
      expect("CONSTRUCT")
      // short form `CONSTRUCT WHERE { … }`: the plain pattern block
      // doubles as the template
      val short = accept("WHERE")
      val save = pos
      val tmpl = braced(templateBlock)
      if (short) pos = save
      else if (!accept("WHERE")) fail(s"expected WHERE after the CONSTRUCT template in '${text.trim}'")
      val q = ConstructQuery(tmpl, braced(body))
      done("WHERE block")
      q
    }

    private def describe(): Query = {
      expect("DESCRIBE")
      val q = peek match {
        case TIri(v, "", _) => next(); DescribeIri(v)
        case TVar(v, _) if isKw("WHERE", ahead(1)) => next(); next(); DescribeVar(v, braced(body))
        case _ => fail(s"describeQuery expects 'DESCRIBE <iri>' or 'DESCRIBE ?v WHERE { … }', got '${text.trim}'")
      }
      done("DESCRIBE")
      q
    }

    private def select(end: Int): Select = {
      expect("SELECT")
      // REDUCED permits (but does not require) duplicate elimination —
      // eliminating is always a conforming implementation, so it
      // compiles exactly like DISTINCT
      val distinct = accept("DISTINCT") || accept("REDUCED")
      val projs = ArrayBuffer[Proj]()
      val defaults = ArrayBuffer[String]()
      val named = ArrayBuffer[String]()
      var star = false
      // the head ends at WHERE or, that keyword being optional, at `{`
      while (!isKw("WHERE") && !isSym("{")) {
        if (pos >= end) fail("SELECT needs a WHERE { … } block")
        if (accept("FROM")) {
          if (accept("NAMED")) named += iri() else defaults += iri()
        } else if (isSym("*") && projs.isEmpty && !star) { next(); star = true }
        else if (star) fail(s"unrecognized SELECT projection '${show(peek)}' after '*'")
        else projs += projection()
      }
      accept("WHERE")
      val where = braced(body)
      val groupBy = ArrayBuffer[String]()
      val having = ArrayBuffer[Constraint]()
      val orderBy = ArrayBuffer[(String, Boolean)]()
      var limit = Option.empty[Int]
      var offset = Option.empty[Int]
      def count(): Int = next() match {
        case TNum(n, _) if n.forall(_.isDigit) => n.toInt
        case t => fail(s"expected a row count, got '${show(t)}'")
      }
      while (pos < end) {
        if (accept("GROUP")) {
          expect("BY")
          do groupBy += variable() while (peek.isInstanceOf[TVar])
        } else if (accept("HAVING")) {
          // the full filter grammar over the projected aggregate aliases
          having += parenConstraint()
        } else if (accept("ORDER")) {
          expect("BY")
          do {
            val desc = accept("DESC")
            if (desc || accept("ASC")) {
              expect("(")
              orderBy += variable() -> desc
              expect(")")
            } else orderBy += variable() -> false
          } while (peek.isInstanceOf[TVar] || isKw("ASC") || isKw("DESC"))
        } else if (accept("LIMIT")) limit = Some(count())
        else if (accept("OFFSET")) offset = Some(count())
        else fail(s"unrecognized text after WHERE block: '${src(pos, end)}'")
      }
      val dataset =
        if (defaults.isEmpty && named.isEmpty) None
        else Some(Dataset(defaults.toSeq, named.toSeq))
      Select(distinct, projs.toSeq, dataset, where, groupBy.toSeq, having.toSeq,
        orderBy.toSeq, limit, offset)
    }

    private def projection(): Proj = peek match {
      case TVar(n, _) => next(); ProjVar(n)
      case TSym("(", _) =>
        next()
        def alias(): String =
          if (accept("AS")) variable()
          else fail(s"unrecognized SELECT projection: expected AS, got '${show(peek)}'")
        val p = (peek, ahead(1)) match {
          case (TWord(w, _), TSym("(", _)) if w.equalsIgnoreCase("GROUP_CONCAT") =>
            next(); next()
            val v = variable()
            val sep =
              if (accept(";")) { expect("SEPARATOR"); expect("="); Some(plainLit("SEPARATOR needs a quoted string")) }
              else None
            expect(")")
            ProjAgg("GROUP_CONCAT", Some(v), alias(), sep = sep)
          case (TWord(w, _), TSym("(", _)) if AggFuncs(w.toUpperCase) && simpleAggArg(pos + 2) =>
            val f = w.toUpperCase
            next(); next()
            val dist = accept("DISTINCT")
            val arg = if (accept("*")) None else Some(variable())
            expect(")")
            if (dist) require(f != "SAMPLE",
              "SAMPLE(DISTINCT) is meaningless — SAMPLE already picks one value")
            require(!(f == "SAMPLE" && arg.isEmpty), "SAMPLE needs a ?variable")
            ProjAgg(f, arg, alias(), distinctArg = dist)
          case (TWord(w, _), TSym("(", _)) if ExprAggFuncs(w.toUpperCase) =>
            next(); next()
            val e = parseValue()
            expect(")")
            ProjAgg(w.toUpperCase, None, alias(), exprArg = Some(e))
          case _ =>
            val e = parseValue()
            ProjExpr(e, alias())
        }
        expect(")")
        p
      case t => fail(s"unrecognized SELECT projection '${show(t)}'")
    }

    // `[DISTINCT] (* | ?v) )` starting at token i: an aggregate's simple argument
    private def simpleAggArg(i: Int): Boolean = {
      val j = if (isKw("DISTINCT", toks(math.min(i, end0)))) i + 1 else i
      j + 1 <= end0 && (isSym("*", toks(j)) || toks(j).isInstanceOf[TVar]) && isSym(")", toks(j + 1))
    }

    // ---------------------------------------------- graph patterns

    /** Top-level UNION branches between `pos` and `end`. A branch that
      * is one `{ … }` block loses its braces, as often as they nest; a
      * braced branch holding a lone `SELECT` is a sub-select.
      */
    private def body(end: Int): Seq[Branch] = {
      val out = ArrayBuffer[Branch]()
      var more = true
      while (more) {
        var stop = pos
        while (stop < end && !isKw("UNION", toks(stop)))
          stop = if (isSym("{", toks(stop))) closeOf(stop) + 1 else stop + 1
        out += branch(stop)
        more = stop < end
        if (more) next()
      }
      out.toSeq
    }

    private def branch(end: Int): Branch =
      if (isSym("{") && closeOf(pos) == end - 1) braced(branch)
      else if (isKw("SELECT")) select(end)
      else group(end)

    private def group(end: Int): Group = {
      val start = pos
      val outer = paths
      paths = ArrayBuffer()
      val triples = ArrayBuffer[TriplePattern]()
      val graphs = ArrayBuffer[(Term, Seq[TriplePattern])]()
      val subs = ArrayBuffer[Select]()
      val blocks = ArrayBuffer[Block]()
      val values = ArrayBuffer[Values]()
      val binds = ArrayBuffer[Binding]()
      val filters = ArrayBuffer[Constraint]()
      while (pos < end) {
        if (accept(".")) ()
        else if (isKw("FILTER") && (isKw("NOT", ahead(1)) || isKw("EXISTS", ahead(1)))) {
          next()
          val kind = if (accept("NOT")) "FILTER NOT EXISTS" else "FILTER EXISTS"
          expect("EXISTS")
          blocks += block(kind)
        } else if (accept("FILTER")) filters += parenConstraint()
        else if (accept("OPTIONAL")) blocks += block("OPTIONAL")
        else if (accept("MINUS")) blocks += block("MINUS")
        else if (accept("GRAPH")) {
          val g = next() match {
            case TVar(n, _) => Var(n)
            case TIri(v, "", _) => Const(v)
            case TLit(l, "", "", _) => Const(l)
            case t => fail(s"GRAPH needs a ?variable, <iri> or quoted graph term, got '${show(t)}'")
          }
          inGraph = true
          graphs += g -> braced { close =>
            noSubSelect("GRAPH")
            val ts = ArrayBuffer[TriplePattern]()
            while (pos < close) if (!accept(".")) ts ++= triple(close)
            ts.toSeq
          }
          inGraph = false
        } else if (accept("VALUES")) {
          // `VALUES ?v { c … }` or the row form `VALUES (?a ?b) { (c c) … }`
          val rowForm = accept("(")
          val vars = ArrayBuffer[String]()
          do vars += variable() while (rowForm && !accept(")"))
          values += Values(vars.toSeq, braced { close =>
            noSubSelect("VALUES")
            val rows = ArrayBuffer[Seq[String]]()
            while (pos < close) rows += {
              if (!rowForm) Seq(valuesConst())
              else {
                expect("(")
                val row = ArrayBuffer[String]()
                while (!accept(")")) row += valuesConst()
                row.toSeq
              }
            }
            rows.toSeq
          }, rowForm)
        } else if (accept("BIND")) {
          expect("(")
          val e = parseValue()
          if (!accept("AS"))
            fail(s"BIND needs the form 'BIND(expr AS ?var)', got '${show(peek)}' where AS belongs")
          binds += Binding(variable(), e)
          expect(")")
        } else if (isSym("{")) {
          if (!isKw("SELECT", ahead(1))) fail(
            s"a nested group is supported only as a UNION branch or a sub-select: '${src(pos, closeOf(pos) + 1)}'")
          subs += braced(select)
        } else triples ++= triple(end)
      }
      val g = Group(src(start, end), triples.toSeq, graphs.toSeq, subs.toSeq, blocks.toSeq,
        values.toSeq, binds.toSeq, filters.toSeq, paths.distinct.toSeq)
      paths = outer
      g
    }

    /** An OPTIONAL / MINUS / EXISTS body: triples and `FILTER( … )`. */
    private def block(kind: String): Block = braced { close =>
      noSubSelect(kind)
      val start = pos
      val triples = ArrayBuffer[TriplePattern]()
      val filters = ArrayBuffer[Constraint]()
      while (pos < close) {
        if (accept(".")) ()
        else if (isKw("FILTER") && isSym("(", ahead(1))) { next(); filters += parenConstraint() }
        else if (accept("{")) {
          noSubSelect(kind)
          fail(s"a nested group inside $kind { … } is not supported")
        } else triples ++= triple(close)
      }
      Block(kind, src(start, close), triples.toSeq, filters.toSeq)
    }

    private def noSubSelect(keyword: String): Unit =
      if (isKw("SELECT") || (isSym("{") && isKw("SELECT", ahead(1))))
        fail(s"a sub-select inside $keyword { … } is not supported — join it at the group level")

    private def valuesConst(): String = next() match {
      case TIri(v, "", _) => v
      case TLit(l, "", "", _) => l
      case t: TLit => typedLiteral(t)
      case t => fail(s"unrecognized VALUES entry '${show(t)}'")
    }

    /** One triple pattern `subject path object`, expanded to one pattern
      * per path hop: a sequence `<a>/<b>` chains through fresh internal
      * variables, an inverse hop `^<p>` swaps its subject and object.
      */
    private def triple(end: Int): Seq[TriplePattern] = {
      val start = pos
      def nextTerm(): Unit =
        if (pos >= end || isSym(".")) fail(s"pattern needs exactly 3 terms: '${src(start, pos)}'")
      nextTerm()
      val s = term()
      nextTerm()
      val segs = ArrayBuffer(segment())
      while (accept("/")) segs += segment()
      nextTerm()
      val o = term()
      if (!(pos >= end || isSym(".") || isSym("{") || peek.isInstanceOf[TWord]))
        fail(s"pattern needs exactly 3 terms: '${src(start, pos + 1)}'")
      val nodes = s +: segs.indices.init.map { _ =>
        val v = Var(SeqVarPrefix + seqN)
        seqN += 1
        v
      } :+ o
      segs.indices.map { i =>
        val (inverse, p) = segs(i)
        if (inverse) TriplePattern(nodes(i + 1), p, nodes(i))
        else TriplePattern(nodes(i), p, nodes(i + 1))
      }
    }

    private def term(): Term = next() match {
      case TVar(n, _) => Var(n)
      case TIri(v, "", _) => Const(v)
      case TLit(l, "", "", _) => Const(l)
      case t: TLit => typedLiteral(t)
      case t => fail(s"unrecognized term '${show(t)}'")
    }

    /** One path hop (the `/`-separated pieces of a sequence): an optional
      * inverse `^`, then `<iri>`, `a`, `?var`, a closure `<iri>+`/`*`/`?`
      * (a virtual closure predicate, [[GraphOps.closurePred]]), an
      * alternation `<a>|<b>` of plain IRIs ([[ConstIn]]), or a negated
      * set `!<p>` / `!(<a>|<b>)` ([[ConstNotIn]]).
      */
    private def segment(): (Boolean, Term) = {
      val inverse = accept("^")
      def plainIris(what: String): Seq[String] = {
        val out = ArrayBuffer[String]()
        do next() match {
          case TIri(v, "", _) => out += v
          case t => fail(s"$what needs plain IRIs, got '${show(t)}'")
        } while (accept("|"))
        out.toSeq
      }
      val t = peek
      val p = t match {
        case TSym("!", _) =>
          next()
          val paren = accept("(")
          val vs = plainIris("a negated property set")
          if (paren) expect(")")
          ConstNotIn(vs)
        case TIri(_, "", _) if isSym("|", ahead(1)) => ConstIn(plainIris("an alternation"))
        case TIri(v, "", _) => next(); Const(v)
        case TIri(v, sfx, _) =>
          next()
          if (isSym("|")) fail(s"an alternation needs plain IRIs, got '${show(t)}'")
          paths += PathRef(v, sfx, inGraph)
          Const(closurePred(v, sfx, inGraph))
        case TWord("a", _) => next(); Const(RdfTypeIri)
        case TVar(n, _) => next(); Var(n)
        case TLit(l, "", "", _) => next(); Const(l)
        case l: TLit => typedLiteral(l)
        case _ => fail(s"unrecognized term '${show(t)}'")
      }
      inverse -> p
    }

    // ------------------------------------------- templates and DATA

    /** Template / DATA triples separated by `.`: `<iri>`/`?var`
      * subjects, `<iri>`/`a`/`?var` predicates (no paths), and
      * `<iri>`/`?var`/`"lit"`/`"lex"^^<dt>`/`"lex"@tag` objects. Stops at
      * `end`, or at a GRAPH keyword when `stopAtGraph`.
      */
    private def template(end: Int, stopAtGraph: Boolean): Seq[TripleTmpl] = {
      val out = ArrayBuffer[TripleTmpl]()
      def atStop: Boolean = pos >= end || (stopAtGraph && isKw("GRAPH"))
      while (!atStop) {
        if (!accept(".")) {
          val start = pos
          val s = next() match {
            case TVar(n, _) => Var(n)
            case TIri(v, "", _) => Const(v)
            case t: TLit => fail(s"a triple subject cannot be a literal: '${show(t)}'")
            case t => fail(s"unrecognized term '${show(t)}'")
          }
          val pt = next()
          val p = pt match {
            case TIri(v, "", _) if !isSym("/") && !isSym("|") => Const(v)
            case TWord("a", _) => Const(RdfTypeIri)
            case TVar(n, _) => Var(n)
            case _ => fail(s"a data/template predicate must be <iri>, 'a', or ?var (no paths): '${show(pt)}'")
          }
          if (atStop || isSym(".")) fail(s"a data/template triple needs exactly 3 terms: '${src(start, pos)}'")
          val (o, dt) = next() match {
            case TVar(n, _) => (Var(n), "")
            case TIri(v, "", _) => (Const(v), "")
            // a language tag rides the dt slot as "@tag" (mutually
            // exclusive with a datatype per RDF 1.1)
            case TLit(l, dt, lang, _) =>
              (Const(l), if (lang.nonEmpty) "@" + lang else if (dt.nonEmpty) dt else XsdString)
            case t => fail(s"unrecognized term '${show(t)}'")
          }
          if (!(atStop || isSym(".")))
            fail(s"a data/template triple needs exactly 3 terms: '${src(start, pos + 1)}'")
          out += TripleTmpl(s, p, o, dt)
        }
      }
      out.toSeq
    }

    private def templateBlock(end: Int): Seq[TripleTmpl] = {
      val t = template(end, stopAtGraph = false)
      require(t.nonEmpty, "empty data/template block")
      t
    }

    /** A DATA block: top-level triples (default graph) and
      * `GRAPH <g> { … }` blocks, as segments in textual order.
      */
    private def dataBlock(end: Int): Seq[(String, Seq[TripleTmpl])] = {
      val segs = ArrayBuffer[(String, Seq[TripleTmpl])]()
      while (pos < end) {
        if (accept("GRAPH")) {
          val g = next() match {
            case TIri(v, "", _) => v
            case t => fail(s"expected GRAPH <iri> { … } in DATA block at: '${show(t)}'")
          }
          segs += g -> braced(templateBlock)
        } else {
          val t = template(end, stopAtGraph = true)
          if (t.nonEmpty) segs += "" -> t
        }
      }
      segs.toSeq
    }

    // ------------------------------------------------------ updates

    private def update(): Update = {
      def where(after: String): Seq[Branch] =
        if (accept("WHERE")) braced(body)
        else fail(s"expected WHERE after the $after: '${src(pos, end0)}'")
      def graphRef(): String =
        if (accept("DEFAULT")) "" else { accept("GRAPH"); iri() }
      val kw = next() match { case TWord(w, _) => w.toUpperCase; case _ => "" }
      kw match {
        case "INSERT" | "DELETE" if accept("DATA") => DataUpdate(kw == "INSERT", braced(dataBlock))
        case "DELETE" if accept("WHERE") =>
          // the pattern block doubles as the delete template
          val save = pos
          val tmpl = braced(templateBlock)
          pos = save
          DeleteWhere(tmpl, braced(body))
        case "DELETE" =>
          val del = braced(templateBlock)
          val ins = if (accept("INSERT")) Some(braced(templateBlock)) else None
          Modify(Some(del), ins, where("update template(s)"))
        case "INSERT" =>
          val ins = braced(templateBlock)
          Modify(None, Some(ins), where("INSERT template"))
        case "WITH" => WithGraph(iri(), update())
        case "CREATE" =>
          accept("SILENT"); expect("GRAPH")
          CreateGraph(iri())
        case "CLEAR" | "DROP" =>
          accept("SILENT")
          if (accept("NAMED")) ClearNamed
          else if (accept("ALL")) ClearAll
          else if (accept("DEFAULT")) ClearGraph("")
          else { expect("GRAPH"); ClearGraph(iri()) }
        case "ADD" | "COPY" | "MOVE" =>
          accept("SILENT")
          val from = graphRef()
          expect("TO")
          Transfer(kw, from, graphRef())
        case _ => fail(s"updateQuery expects INSERT DATA / DELETE DATA / DELETE WHERE / " +
          s"DELETE/INSERT … WHERE, got '${text.trim.take(80)}'")
      }
    }

    // ------------------------------------------ FILTER / BIND expressions

    /** `( constraint )` — a FILTER or HAVING body. */
    private def parenConstraint(): Constraint = {
      expect("(")
      val c = parseConstraint()
      expect(")")
      c
    }

    /** Constraint grammar: `||` over `&&` over `!`/parens/atoms; atoms
      * are comparisons (`expr op expr`, `expr [NOT] IN (…)`), `BOUND`,
      * the term tests, `SAMETERM`, `LANGMATCHES`, or the string tests.
      */
    private def parseConstraint(): Constraint = {
      var l = parseAndChain()
      while (accept("||")) l = OrC(l, parseAndChain())
      l
    }
    private def parseAndChain(): Constraint = {
      var l = parseUnary()
      while (accept("&&")) l = AndC(l, parseUnary())
      l
    }
    private def parseUnary(): Constraint =
      if (accept("!")) NotC(parseUnary()) else parseAtom()

    private def varArg(f: String): String = {
      expect("(")
      val v = next() match {
        case TVar(n, _) => n
        case t => fail(s"$f needs a ?variable, got '${show(t)}'")
      }
      expect(")")
      v
    }
    private def args(n: Int): Seq[ValueExpr] = {
      expect("(")
      val out = (1 to n).map { i => if (i > 1) expect(","); parseValue() }
      expect(")")
      out
    }
    private def varArgs(): Seq[ValueExpr] = {
      expect("(")
      val out = ArrayBuffer(parseValue())
      while (accept(",")) out += parseValue()
      expect(")")
      out.toSeq
    }
    private def plainLit(what: String, nonEmpty: Boolean = false): String = next() match {
      case TLit(l, "", "", _) if !nonEmpty || l.nonEmpty => l
      case t => fail(s"$what, got '${show(t)}'")
    }

    private def parseAtom(): Constraint = {
      if (isSym("(")) {
        // ambiguous: boolean group '(?a>1 || ?b<2)' vs arithmetic group
        // '(?a+1) > ?b' — try boolean first, backtrack to a comparison
        val save = pos
        try return parenConstraint()
        catch { case _: IllegalArgumentException => pos = save }
      }
      val t = peek
      t match {
        case TWord(w, _) if isSym("(", ahead(1)) => w.toUpperCase match {
          case "BOUND" => next(); BoundC(varArg("BOUND"))
          case f @ ("ISIRI" | "ISBLANK" | "ISLITERAL" | "ISNUMERIC") => next(); TermTest(f, varArg(f))
          case "SAMETERM" => next(); val Seq(l, r) = args(2); SameTermC(l, r)
          case "LANGMATCHES" => next(); val Seq(tag, range) = args(2); LangMatchesC(tag, range)
          case f @ ("REGEX" | "STRSTARTS" | "STRENDS" | "CONTAINS") =>
            next(); expect("(")
            val target = parseValue(); expect(",")
            val arg = parseValue()
            var ignoreCase = false
            if (accept(",")) { // REGEX flags — only "i" is supported
              val flags = next()
              require(f == "REGEX" && (flags match { case TLit("i", "", "", _) => true; case _ => false }),
                s"only the REGEX \"i\" flag is supported, got '${show(flags)}' for $f")
              ignoreCase = true
            }
            expect(")")
            StrTest(f, target, arg, ignoreCase)
          case _ => comparison()
        }
        case _ => comparison()
      }
    }

    private def comparison(): Constraint = {
      val l = parseValue()
      val negated = accept("NOT")
      if (negated || accept("IN")) {
        // SPARQL IN / NOT IN: sugar for an =-chain disjunction, so each
        // member keeps mkCmp's numeric-vs-lexical semantics
        if (negated) expect("IN")
        val anyEq = varArgs().map(v => mkCmp(l, "=", v): Constraint).reduce(OrC(_, _))
        if (negated) NotC(anyEq) else anyEq
      } else {
        val op = next()
        val sym = op match { case TSym(s, _) if CmpOps(s) => s; case _ => "" }
        require(sym.nonEmpty, s"expected a comparison operator, got '${show(op)}'")
        mkCmp(l, sym, parseValue())
      }
    }

    /** Value grammar: `+ -` over `* /` over unary minus / parens /
      * variables / numbers / strings / IRIs / function calls.
      */
    private def parseValue(): ValueExpr = {
      var l = parseMul()
      while (isSym("+") || isSym("-")) {
        val op = next().asInstanceOf[TSym].sym.head
        l = VEArith(op, l, parseMul())
      }
      l
    }
    private def parseMul(): ValueExpr = {
      var l = parseFactor()
      while (isSym("*") || isSym("/")) {
        val op = next().asInstanceOf[TSym].sym.head
        l = VEArith(op, l, parseFactor())
      }
      l
    }
    private def parseFactor(): ValueExpr = {
      val t = peek
      def one(): ValueExpr = args(1).head
      t match {
        case TSym("-", _) => next(); VENeg(parseFactor())
        case TSym("(", _) => next(); val e = parseValue(); expect(")"); e
        case TVar(n, _) => next(); VEVar(n)
        case TLit(l, "", "", _) => next(); VEStr(l)
        case l: TLit => typedLiteral(l)
        case TIri(v, "", _) => next(); VEStr(v) // IRIs compare lexically
        case TNum(n, _) => next(); VENum(n.toDouble)
        case TWord(w, _) if isSym("(", ahead(1)) => w.toUpperCase match {
          case "DATATYPE" => next(); VEDatatype(varArg("DATATYPE"))
          case "LANG" => next(); VELang(varArg("LANG"))
          case "STRLEN" => next(); VEStrLen(one())
          case f @ ("ABS" | "ROUND" | "CEIL" | "FLOOR") => next(); VENumFn(f, one())
          case f @ ("YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS" | "TZ") =>
            next(); VEDateFn(f, one())
          case "ENCODE_FOR_URI" => next(); VEEncodeUri(one())
          case "STRDT" =>
            next(); expect("(")
            val e = parseValue(); expect(",")
            val d = next() match {
              case TIri(v, "", _) => v
              case x => fail(s"STRDT needs an <iri> datatype, got '${show(x)}'")
            }
            expect(")")
            VEStrDt(e, d)
          case "STRLANG" =>
            next(); expect("(")
            val e = parseValue(); expect(",")
            val tag = plainLit("STRLANG needs a quoted language tag", nonEmpty = true)
            expect(")")
            VEStrLang(e, tag)
          case f @ ("MD5" | "SHA256") => next(); VEHash(f, one())
          case "IRI" | "URI" => next(); VEIri(one())
          case f @ ("UCASE" | "LCASE") => next(); VECase(f, one())
          case "SUBSTR" =>
            next()
            val a = varArgs()
            require(a.size == 2 || a.size == 3, s"SUBSTR takes 2 or 3 arguments, got ${a.size}")
            VESubstr(a(0), a(1), a.lift(2))
          case "REPLACE" => next(); val Seq(e, pat, rep) = args(3); VEReplace(e, pat, rep)
          case f @ ("STRBEFORE" | "STRAFTER") =>
            next(); expect("(")
            val e = parseValue(); expect(",")
            val d = plainLit(s"$f needs a quoted literal delimiter")
            expect(")")
            VEStrSplit(f, e, d)
          case "STR" => next(); VEStrCast(one())
          case "CONCAT" => next(); VEConcat(varArgs())
          case "IF" =>
            next(); expect("(")
            val cond = parseConstraint(); expect(",")
            val a = parseValue(); expect(",")
            val b = parseValue(); expect(")")
            VEIf(cond, a, b)
          case "COALESCE" => next(); VECoalesce(varArgs())
          case _ => fail(s"unrecognized expression token '${show(t)}'")
        }
        case _ => fail(s"unrecognized expression token '${show(t)}'")
      }
    }
  }

  /** Comparison constructor: the simple shapes keep their dedicated
    * (public, pattern-matchable) classes; everything else generalizes.
    */
  private def mkCmp(l: ValueExpr, op: String, r: ValueExpr): Constraint = (l, r) match {
    case (VEVar(a), VEVar(b)) => VarCompare(a, op, b)
    case (VEVar(a), VENum(d)) => VarFilter(a, op, Left(d))
    case (VEVar(a), VEStr(s)) => VarFilter(a, op, Right(s))
    case _ => ExprCmp(l, op, r)
  }
}
