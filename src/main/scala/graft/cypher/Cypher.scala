package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph

/** Cypher text surface: the subset the reference's own cypher layer
  * exercises (raphtory-cypher/src/lib.rs:241-622 run_cypher tests;
  * parser fixtures raphtory-cypher/src/parser/mod.rs:742-1663),
  * transpiled to DataFrame operations instead of a bespoke executor —
  * the Spark-first analogue of the reference's Cypher→DataFusion
  * transpiler (raphtory-cypher/src/transpiler/mod.rs).
  *
  * Supported:
  *  - MATCH with chained and comma-separated patterns, both arrow
  *    directions plus undirected `-[e]-` (each event in both
  *    orientations, RelPattern::undirected), anonymous or named
  *    nodes/edges;
  *  - relationship uniqueness: two edge variables in ONE MATCH never
  *    bind the same event (openCypher; the reference transpiler injects
  *    the same pairwise unique_edge_filter predicates,
  *    transpiler/mod.rs:620-646); reusing an edge variable across
  *    patterns is rejected like Cypher does;
  *  - variable-length relationships `-[e*m..n]->` (also `*n`, `*..n`,
  *    any direction incl. undirected): one row per distinct path,
  *    relationship uniqueness enforced WITHIN each path, hop count via
  *    length(e)/size(e). The reference grammar parses RangeLiteral
  *    (cypher.pest:203) but its transpiler never executes it; we require
  *    a finite upper bound n <= 8 (unbounded closure belongs to
  *    Components.inComponentOf / outComponentOf). A path's internal events also cross-check
  *    against every other edge variable and path of the same MATCH
  *    (array-membership / array-overlap on the accumulated event ids);
  *  - named paths `p = <pattern>` (reference PatternPart,
  *    cypher.pest:156-158 — parsed there, never executed): `p` binds the
  *    path's relationship count, read via length(p)/size(p); and
  *    shortestPath((a)-[*m..n]->(b)) / allShortestPaths(...) around one
  *    variable-length hop — shortestPath keeps ONE row per endpoint pair
  *    at the minimal hop count (hash aggregate), allShortestPaths every
  *    tying path (semi-join against the pair minima);
  *  - multi-part queries: WITH [DISTINCT] *|items [ORDER BY] [LIMIT]
  *    [WHERE] chaining into further MATCH/UNWIND parts (WITH * carries
  *    the whole scope, optionally appending extra non-aggregate items;
  *    RETURN *, items likewise), and
  *    UNWIND <list> AS x (grammar raphtory-cypher/src/parser/
  *    cypher.pest:26-55 MultiPartQuery/Unwind — the reference parses
  *    these but its transpiler `unimplemented!`s most arms,
  *    transpiler/mod.rs:602-1151; we execute them);
  *  - OPTIONAL MATCH (pattern/WHERE constraints filter the optional
  *    side, then a LEFT join on the shared node variables; unmatched
  *    rows keep NULL bindings) — must share a variable with the
  *    preceding scope;
  *  - UNION / UNION ALL across full queries (same output columns
  *    required; mixing UNION and UNION ALL rejected, as openCypher does);
  *  - edge labels = layer filters, node labels = node_type filters
  *    (the reference binds edge labels to layer tables,
  *    lib.rs:383-401, parser/mod.rs:1473);
  *  - inline property maps `{src: 0}` (lib.rs:401);
  *  - WHERE with =, <>, <, <=, >, >=, STARTS WITH, ENDS WITH, CONTAINS,
  *    IN <list>, IS [NOT] NULL, AND, OR, NOT (Cypher precedence: looser
  *    than comparisons) over literals, node/edge variables and their
  *    properties (lib.rs:410,565; parser fixtures mod.rs:1710-1790);
  *  - expressions: arithmetic + - * / % ^ at openCypher precedence
  *    (string `+` concatenates, integer `/` truncates, `^` binds
  *    tighter than unary minus and returns float), XOR, unary minus,
  *    CASE (simple and searched), and scalar functions — type(e), id(n),
  *    labels(n), startNode/endNode(e), coalesce, toInteger/toFloat/
  *    toString/toBoolean, abs/sqrt/round/floor/ceil/sign, toUpper/
  *    toLower/trim/ltrim/rtrim/reverse/left/right/substring/replace/
  *    split, range/head/last, size/length — all mapped to codegen'd
  *    Catalyst functions
  *    (the reference grammar parses these shapes, cypher.pest Expr/
  *    FunctionInvocation, but its transpiler executes almost none);
  *  - RETURN items (var, var.prop, aliases, bare edge var = the whole
  *    event row, type(e) = layer; lib.rs:241-255), RETURN *, DISTINCT,
  *    ORDER BY ... ASC|DESC, SKIP, LIMIT;
  *  - aggregates count(*)/count(x)/sum/min/max/avg/collect with Cypher
  *    implicit grouping (non-aggregate RETURN/WITH items become the
  *    keys), each accepting expression-DISTINCT (count(DISTINCT x),
  *    collect(DISTINCT x) -> collect_set; count(DISTINCT e) over a
  *    whole edge variable counts distinct event tuples); plus
  *    stDev/stDevP (sample/population) and percentileCont/
  *    percentileDisc(expr, p) — cont is Catalyst's exact interpolating
  *    percentile, disc is nearest-rank over a sorted collect.
  *
  * Bindings: an edge variable binds one exploded edge EVENT row (the
  * reference returns one row per event, lib.rs:241-255) with columns
  * `<e>_src/_dst/_ts/_seq/_layer` plus any extra event property
  * columns; a node variable binds `<n>_vid` (+ `<n>_name` /
  * `<n>_node_type` / node prop columns when referenced); a WITH/UNWIND
  * alias binds a plain value column. `v.id` on a node resolves to its
  * vid; `e.id` is unsupported (the rebuild has no dense edge ids — use
  * (src, dst, seq)).
  */
object Cypher {

  /** The aggregate functions (shared by parser and planner: the parser
    * routes these to [[Fn]], everything else to [[FnN]]). */
  private val AggNames =
    Set("count", "sum", "min", "max", "avg", "collect", "stdev", "stdevp")

  // ---------- AST ----------
  sealed trait Expr
  case class Lit(value: Any) extends Expr
  case class ListLit(items: Seq[Expr]) extends Expr
  case class VarRef(v: String) extends Expr
  case class Prop(v: String, name: String) extends Expr
  case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  case class And(l: Expr, r: Expr) extends Expr
  case class Or(l: Expr, r: Expr) extends Expr
  /** Boolean XOR (reference grammar bin_op, cypher.pest:211-214) with
    * openCypher precedence OR < XOR < AND and SQL NULL semantics. */
  case class Xor(l: Expr, r: Expr) extends Expr
  case class Not(e: Expr) extends Expr
  /** Aggregate call: count/sum/min/max/avg/collect — count(*) has arg
    * None. Scalar functions parse to [[FnN]]. */
  case class Fn(name: String, arg: Option[Expr], distinct: Boolean = false) extends Expr
  /** Two-argument holistic aggregate percentileCont/percentileDisc(expr, p)
    * — p must be a numeric literal in [0,1] (openCypher; the reference
    * grammar parses these FunctionInvocation shapes, never executes them). */
  case class PctFn(name: String, arg: Expr, p: Double) extends Expr
  /** Scalar function call (lower-cased name, any arity): type(e), id(n),
    * coalesce, substring, toInteger, abs, ... — see exprCol for the map. */
  case class FnN(name: String, args: Seq[Expr]) extends Expr
  /** Arithmetic: + - * / % at openCypher precedence (mul binds tighter);
    * `+` concatenates when either side is a string, `/` truncates when
    * both sides are integers (openCypher integer division). */
  case class Arith(op: String, l: Expr, r: Expr) extends Expr
  case class Neg(e: Expr) extends Expr
  /** CASE — searched (subject None: WHEN <pred> THEN ...) or simple
    * (subject Some(e): WHEN <value> THEN ... compares e = value). */
  case class CaseExpr(subject: Option[Expr], whens: Seq[(Expr, Expr)],
                      els: Option[Expr]) extends Expr
  case class IsNull(e: Expr, not: Boolean) extends Expr
  /** Boolean pattern predicate: a bare pattern expression in a WHERE /
    * RETURN position (`WHERE (a)-[:x]->(b)`), the legacy function form
    * `exists((a)-->(b))`, or an `EXISTS { [MATCH] pattern [WHERE ...] }`
    * subquery (openCypher; the reference grammar's PatternWhere arm,
    * cypher.pest:141-158, which its transpiler never executes). Planned
    * as a decorrelated key-distinct left join — see existsCol. */
  case class PatternPred(chain: Chain, where: Option[Expr]) extends Expr
  /** Correlated match count: `COUNT { [MATCH] pattern [WHERE ...] }`
    * subquery or the legacy `size((a)-->(b))` form — a scalar per outer
    * row (NOT an aggregate), 0 when nothing matches. Planned like
    * [[PatternPred]] but the decorrelated subquery aggregates count(*)
    * per correlated-key tuple before the left join. */
  case class PatternCount(chain: Chain, where: Option[Expr]) extends Expr
  /** List comprehension `[x IN list WHERE pred | map]` (either part
    * optional) — planned as Spark HOFs: filter(list, x -> pred) then
    * transform(..., x -> map). */
  case class ListComp(v: String, list: Expr, pred: Option[Expr],
                      map: Option[Expr]) extends Expr
  /** Quantified list predicate all/any/none/single(x IN list WHERE p) —
    * forall / exists / !exists / size(filter)=1 HOFs. */
  case class Quant(name: String, v: String, list: Expr, pred: Expr) extends Expr
  /** reduce(acc = init, x IN list | step) — the aggregate() HOF. */
  case class ReduceExpr(acc: String, init: Expr, v: String, list: Expr,
                        step: Expr) extends Expr
  /** Pattern comprehension `[(a)-[e]->(b) [WHERE p] | expr]` (openCypher;
    * the reference grammar's PatternComprehension arm — parsed there,
    * never executed by its transpiler): one list element per matching
    * path, duplicates kept, element order unspecified. Planned like
    * [[PatternCount]] — the decorrelated subquery aggregates
    * collect_list(expr) per correlated-key tuple — with an empty-array
    * coalesce so unmatched outer rows get [] (not NULL). */
  case class PatternComp(chain: Chain, where: Option[Expr], map: Expr) extends Expr
  /** Query parameter `$name` (grammar Parameter, cypher.pest:394) —
    * resolved from the params map passed to run() and planned as a
    * literal (scalars) or array-of-literals (Seq/Array values, usable
    * with IN and the list HOFs). */
  case class Param(name: String) extends Expr

  case class NodePat(v: Option[String], label: Option[String], props: Map[String, Lit])
  /** `undirected = true` for `-[e]-`: the pattern matches each event in
    * both orientations (two rows, standard Cypher semantics); `e.src`/
    * `e.dst` keep the STORAGE endpoints, only the pattern-endpoint
    * binding flips (reference RelPattern::undirected). */
  /** range = variable-length `*m..n` (openCypher RangeLiteral — the
    * reference grammar parses it, cypher.pest:203, but its transpiler
    * never executes it; we do, with a required finite upper bound). */
  case class EdgePat(v: Option[String], label: Option[String], props: Map[String, Lit],
                     range: Option[(Long, Option[Long])],
                     leftToRight: Boolean, undirected: Boolean = false)
  /** One pattern part: an optional named-path binding `p = ...`
    * (reference PatternPart, cypher.pest:156-158 — parsed there, never
    * executed; we bind `p` to its hop count, read via length(p)/size(p))
    * and an optional shortestPath/allShortestPaths wrapper (shortest =
    * 1/2) around a single variable-length hop. */
  case class Chain(first: NodePat, hops: Seq[(EdgePat, NodePat)],
                   pathVar: Option[String] = None, shortest: Int = 0)
  case class RetItem(expr: Expr, alias: Option[String])

  /** One reading clause of a (possibly multi-part) query. */
  sealed trait Part
  case class MatchPart(chains: Seq[Chain], where: Option[Expr],
                       optional: Boolean = false) extends Part
  /** `star = true` for `WITH * [, extra items]`: the whole current scope
    * carries through unchanged and extra (non-aggregate) items append as
    * new value bindings. */
  case class WithPart(distinct: Boolean, items: Seq[RetItem],
                      orderBy: Seq[(Expr, Boolean)], skip: Option[Long],
                      limit: Option[Long], where: Option[Expr],
                      star: Boolean = false) extends Part
  case class UnwindPart(list: Expr, alias: String) extends Part
  /** `CALL proc(args) [YIELD cols] [WHERE pred]` — procedure invocation
    * against the [[Procedures]] registry (an extension beyond the
    * reference grammar). `yields` are (column, alias) pairs; empty with
    * `yieldAll` yields every catalogue column. */
  case class CallPart(proc: String, args: Seq[Expr],
                      yields: Seq[(String, Option[String])], yieldAll: Boolean,
                      where: Option[Expr]) extends Part

  case class Query(parts: Seq[Part], distinct: Boolean,
                   returnAll: Boolean, items: Seq[RetItem],
                   orderBy: Seq[(Expr, Boolean)], skip: Option[Long],
                   limit: Option[Long])

  // ---------- tokenizer ----------
  private sealed trait Tok
  private case class TIdent(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TPunct(s: String) extends Tok
  private case class TParam(s: String) extends Tok

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = s.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) s.length else j
        out += TIdent(s.substring(i, end)); i = end
      } else if (c.isDigit) {
        val j = s.indexWhere(ch => !(ch.isDigit || ch == '.'), i)
        val end = if (j < 0) s.length else j
        out += TNum(s.substring(i, end)); i = end
      } else if (c == '\'' || c == '"') {
        val end = s.indexOf(c, i + 1)
        require(end > 0, s"unterminated string at $i")
        out += TStr(s.substring(i + 1, end)); i = end + 1
      } else if (c == '$') { // query parameter $name / $0 (grammar Parameter)
        val j = s.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i + 1)
        val end = if (j < 0) s.length else j
        require(end > i + 1, s"empty parameter name at $i")
        out += TParam(s.substring(i + 1, end)); i = end
      } else {
        val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
        if (Set("->", "<-", "<>", "<=", ">=").contains(two)) { out += TPunct(two); i += 2 }
        else { out += TPunct(c.toString); i += 1 }
      }
    }
    out.result()
  }

  // ---------- parser (recursive descent over the token vector) ----------
  final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def kw(k: String): Boolean = peek match {
      case Some(TIdent(s)) if s.equalsIgnoreCase(k) => pos += 1; true
      case _ => false
    }
    private def peekKw(k: String): Boolean = peek match {
      case Some(TIdent(s)) => s.equalsIgnoreCase(k)
      case _ => false
    }
    private def expectKw(k: String): Unit = require(kw(k), s"expected $k at token $pos")
    private def punct(p: String): Boolean = peek match {
      case Some(TPunct(s)) if s == p => pos += 1; true
      case _ => false
    }
    private def expectPunct(p: String): Unit = require(punct(p), s"expected '$p' at token $pos: ${peek}")
    private def ident(): String = next() match {
      case TIdent(s) => s
      case t => throw new IllegalArgumentException(s"expected identifier, got $t")
    }

    private def num(s: String, neg: Boolean): Lit = {
      require(s.count(_ == '.') <= 1, s"malformed number $s")
      val sign = if (neg) "-" else ""
      Lit(if (s.contains('.')) (sign + s).toDouble else (sign + s).toLong)
    }

    private def literal(): Lit = next() match {
      case TNum(s) => num(s, neg = false)
      case TPunct("-") => next() match { // negative numeric literal
        case TNum(s) => num(s, neg = true)
        case t => throw new IllegalArgumentException(s"expected number after '-', got $t")
      }
      case TStr(s) => Lit(s)
      case TIdent(s) if s.equalsIgnoreCase("true") => Lit(true)
      case TIdent(s) if s.equalsIgnoreCase("false") => Lit(false)
      case t => throw new IllegalArgumentException(s"expected literal, got $t")
    }

    private def propMap(): Map[String, Lit] = {
      if (!punct("{")) return Map.empty
      val b = Map.newBuilder[String, Lit]
      var more = true
      while (more) {
        val k = ident(); expectPunct(":")
        b += k -> literal()
        more = punct(",")
      }
      expectPunct("}")
      b.result()
    }

    private def nodePat(): NodePat = {
      expectPunct("(")
      val v = peek match {
        case Some(TIdent(s)) if !s.equalsIgnoreCase("") => pos += 1; Some(s)
        case _ => None
      }
      val label = if (punct(":")) Some(ident()) else None
      val props = propMap()
      expectPunct(")")
      NodePat(v, label, props)
    }

    /** openCypher RangeLiteral after the type: `*`, `*n`, `*m..n`, `*..n`,
      * `*m..`. The tokenizer folds digits and dots into one TNum, so
      * `1..3` arrives as TNum("1..3") and `..3` as two '.' puncts. */
    private def rangeOpt(): Option[(Long, Option[Long])] = {
      if (!punct("*")) return None
      peek match {
        case Some(TNum(s)) if s.contains("..") =>
          pos += 1
          val parts = s.split("\\.\\.", -1)
          require(parts.length == 2 && parts(0).nonEmpty, s"malformed range *$s")
          Some((parts(0).toLong, if (parts(1).isEmpty) None else Some(parts(1).toLong)))
        case Some(TNum(s)) =>
          pos += 1
          require(!s.contains('.'), s"malformed range *$s")
          Some((s.toLong, Some(s.toLong)))
        case Some(TPunct(".")) =>
          pos += 1; expectPunct(".")
          next() match {
            case TNum(n) => Some((1L, Some(n.toLong)))
            case t => throw new IllegalArgumentException(s"expected upper bound after *.., got $t")
          }
        case _ => Some((1L, None))
      }
    }

    /** `-[e:L*m..n {..}]->`, `-[e:L {..}]-` (undirected) or `<-[e:L {..}]-` */
    private def edgePat(): Option[EdgePat] = {
      if (punct("-")) {
        expectPunct("[")
        val v = peek match { case Some(TIdent(s)) => pos += 1; Some(s); case _ => None }
        val label = if (punct(":")) Some(ident()) else None
        val range = rangeOpt()
        val props = propMap()
        expectPunct("]")
        if (punct("->")) Some(EdgePat(v, label, props, range, leftToRight = true))
        else { expectPunct("-"); Some(EdgePat(v, label, props, range, leftToRight = true, undirected = true)) }
      } else if (punct("<-")) {
        expectPunct("[")
        val v = peek match { case Some(TIdent(s)) => pos += 1; Some(s); case _ => None }
        val label = if (punct(":")) Some(ident()) else None
        val range = rangeOpt()
        val props = propMap()
        expectPunct("]")
        expectPunct("-")
        Some(EdgePat(v, label, props, range, leftToRight = false))
      } else None
    }

    private def chain(): Chain = {
      val first = nodePat()
      val hops = Seq.newBuilder[(EdgePat, NodePat)]
      var e = edgePat()
      while (e.isDefined) {
        hops += ((e.get, nodePat()))
        e = edgePat()
      }
      Chain(first, hops.result())
    }

    /** PatternPart (cypher.pest:156-158): `[p =] [shortestPath(|
      * allShortestPaths(] <chain> [)]`. A chain proper always starts
      * with '(', so a leading identifier is unambiguous. */
    private def patternPart(): Chain = {
      val pathVar = peek match {
        case Some(TIdent(v)) if pos + 1 < toks.length && toks(pos + 1) == TPunct("=") =>
          pos += 2; Some(v)
        case _ => None
      }
      val shortest = peek match {
        case Some(TIdent(s)) if s.equalsIgnoreCase("shortestPath") =>
          pos += 1; expectPunct("("); 1
        case Some(TIdent(s)) if s.equalsIgnoreCase("allShortestPaths") =>
          pos += 1; expectPunct("("); 2
        case _ => 0
      }
      val ch = chain()
      if (shortest > 0) {
        expectPunct(")")
        require(ch.hops.length == 1 && ch.hops.head._1.range.isDefined,
          "shortestPath/allShortestPaths takes exactly one variable-length relationship " +
            "(e.g. shortestPath((a)-[*1..6]->(b)))")
      }
      ch.copy(pathVar = pathVar, shortest = shortest)
    }

    private def operand(): Expr = peek match {
      case Some(TPunct("(")) =>
        // a '(' in expression position is either a pattern expression
        // ((a)-[e]->(b), boolean pattern predicate) or a parenthesized
        // expression — try the pattern first and backtrack (pos is the
        // only parser state) when it has no hop or fails to parse
        val save = pos
        val pat =
          try {
            val ch = chain()
            if (ch.hops.nonEmpty) Some(ch) else { pos = save; None }
          } catch { case _: Exception => pos = save; None }
        pat match {
          case Some(ch) => PatternPred(ch, None)
          case None => punct("("); val e = expr(); expectPunct(")"); e
        }
      case Some(TPunct("[")) => // list literal or [x IN list WHERE p | m]
        punct("[")
        val comp = peek.exists(_.isInstanceOf[TIdent]) && pos + 1 < toks.length &&
          (toks(pos + 1) match { case TIdent(s) => s.equalsIgnoreCase("IN"); case _ => false })
        if (comp) { // list comprehension (openCypher FilterExpression)
          val v = ident(); expectKw("IN")
          val list = addExpr()
          val pred = if (kw("WHERE")) Some(expr()) else None
          val map = if (punct("|")) Some(expr()) else None
          expectPunct("]")
          ListComp(v, list, pred, map)
        } else {
          // pattern comprehension [(a)-[e]->(b) WHERE p | expr] — try the
          // pattern form first and backtrack (pos is the only parser
          // state) when there is no hop or no `|` map part; the fallback
          // list literal still parses bare patterns as boolean pattern
          // predicates through operand()'s '(' arm
          val save = pos
          val pat: Option[Expr] =
            if (peek.contains(TPunct("("))) {
              try {
                val ch = chain()
                if (ch.hops.isEmpty) { pos = save; None }
                else {
                  val where = if (kw("WHERE")) Some(expr()) else None
                  expectPunct("|")
                  val m = expr()
                  expectPunct("]")
                  Some(PatternComp(ch, where, m))
                }
              } catch { case _: Exception => pos = save; None }
            } else None
          pat.getOrElse {
            val items = Seq.newBuilder[Expr]
            if (!punct("]")) {
              items += expr()
              while (punct(",")) items += expr()
              expectPunct("]")
            }
            ListLit(items.result())
          }
        }
      case Some(_: TNum) | Some(_: TStr) => literal()
      case Some(TParam(n)) => pos += 1; Param(n)
      case Some(TIdent(s)) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") => literal()
      case Some(TIdent(s)) if s.equalsIgnoreCase("CASE") =>
        pos += 1
        val subject = if (peekKw("WHEN")) None else Some(expr())
        val whens = Seq.newBuilder[(Expr, Expr)]
        while (kw("WHEN")) {
          val c = expr(); expectKw("THEN"); whens += ((c, expr()))
        }
        val ws = whens.result()
        require(ws.nonEmpty, "CASE needs at least one WHEN branch")
        val els = if (kw("ELSE")) Some(expr()) else None
        expectKw("END")
        CaseExpr(subject, ws, els)
      case Some(_: TIdent) =>
        val v = ident()
        if ((v.equalsIgnoreCase("EXISTS") || v.equalsIgnoreCase("COUNT"))
            && peek.contains(TPunct("{"))) {
          // EXISTS / COUNT { [MATCH] pattern [WHERE expr] } subqueries;
          // the legacy exists(pattern) / size(pattern) forms need no
          // special case — their arguments parse as pattern expressions
          // through the '(' arm above
          punct("{")
          kw("MATCH")
          val ch = chain()
          val where = if (kw("WHERE")) Some(expr()) else None
          expectPunct("}")
          if (v.equalsIgnoreCase("EXISTS")) PatternPred(ch, where)
          else PatternCount(ch, where)
        } else if (punct("(")) { // function call: count(*) / count(x) / sum / type / ...
          def lambdaHead = peek.exists(_.isInstanceOf[TIdent]) && pos + 1 < toks.length &&
            (toks(pos + 1) match { case TIdent(s) => s.equalsIgnoreCase("IN"); case _ => false })
          def accHead = peek.exists(_.isInstanceOf[TIdent]) && pos + 1 < toks.length &&
            toks(pos + 1) == TPunct("=")
          if (Set("all", "any", "none", "single")(v.toLowerCase) && lambdaHead) {
            // quantified list predicate: all(x IN list WHERE pred)
            val x = ident(); expectKw("IN")
            val list = addExpr()
            expectKw("WHERE"); val pred = expr(); expectPunct(")")
            Quant(v.toLowerCase, x, list, pred)
          } else if (v.equalsIgnoreCase("reduce") && accHead) {
            // reduce(acc = init, x IN list | step)
            val accv = ident(); expectPunct("="); val init = expr(); expectPunct(",")
            val x = ident(); expectKw("IN")
            val list = addExpr()
            expectPunct("|"); val step = expr(); expectPunct(")")
            ReduceExpr(accv, init, x, list, step)
          } else if (v.equalsIgnoreCase("count") && punct("*")) { expectPunct(")"); Fn("count", None) }
          else {
            // openCypher aggregate-DISTINCT: count(DISTINCT x), collect(DISTINCT x), ...
            val d = kw("DISTINCT")
            val args = Seq.newBuilder[Expr]
            if (!punct(")")) {
              args += expr()
              while (punct(",")) args += expr()
              expectPunct(")")
            }
            val as = args.result()
            val nm = v.toLowerCase
            if (AggNames(nm)) {
              require(as.length == 1, s"aggregate $nm takes exactly one argument")
              require(!d || !Set("stdev", "stdevp")(nm),
                s"DISTINCT is not supported for $nm")
              Fn(nm, Some(as.head), d)
            } else if (nm == "percentilecont" || nm == "percentiledisc") {
              require(as.length == 2, s"$nm takes (expression, percentile)")
              require(!d, s"DISTINCT is not supported for $nm")
              val p = as(1) match {
                case Lit(x: Long) => x.toDouble
                case Lit(x: Double) => x
                case other => throw new IllegalArgumentException(
                  s"$nm percentile must be a numeric literal, got $other")
              }
              require(p >= 0.0 && p <= 1.0, s"$nm percentile must be in [0,1], got $p")
              PctFn(nm, as.head, p)
            } else {
              require(!d, s"DISTINCT is only valid inside an aggregate, not $nm()")
              FnN(nm, as)
            }
          }
        }
        else if (punct(".")) Prop(v, ident()) else VarRef(v)
      case t => throw new IllegalArgumentException(s"unexpected token $t")
    }

    /** Exponentiation `^` binds tighter than unary minus (openCypher:
      * -2^2 = -(2^2) = -4) and is right-associative (2^3^2 = 2^(3^2)). */
    private def powExpr(): Expr = {
      val l = operand()
      peek match {
        case Some(TPunct("^")) => pos += 1; Arith("^", l, unary())
        case _ => l
      }
    }

    /** Unary minus: parsed AFTER `^` so pow binds tighter; a minus whose
      * operand resolves to a plain numeric literal folds into it (the
      * shape propMap/literal also accept). */
    private def unary(): Expr = peek match {
      case Some(TPunct("-")) =>
        pos += 1
        unary() match {
          case Lit(n: Long) => Lit(-n)
          case Lit(d: Double) => Lit(-d)
          case e => Neg(e)
        }
      case _ => powExpr()
    }

    private def mulExpr(): Expr = {
      var l = unary()
      var more = true
      while (more) peek match {
        case Some(TPunct(p)) if p == "*" || p == "/" || p == "%" =>
          pos += 1; l = Arith(p, l, unary())
        case _ => more = false
      }
      l
    }

    private def addExpr(): Expr = {
      var l = mulExpr()
      var more = true
      while (more) peek match {
        case Some(TPunct(p)) if p == "+" || p == "-" =>
          pos += 1; l = Arith(p, l, mulExpr())
        case _ => more = false
      }
      l
    }

    private def cmp(): Expr = {
      val l = addExpr()
      peek match {
        case Some(TPunct(p)) if Set("=", "<>", "<", "<=", ">", ">=").contains(p) =>
          pos += 1; Cmp(p, l, addExpr())
        case Some(TIdent(s)) if s.equalsIgnoreCase("STARTS") =>
          pos += 1; expectKw("WITH"); Cmp("starts", l, addExpr())
        case Some(TIdent(s)) if s.equalsIgnoreCase("ENDS") =>
          pos += 1; expectKw("WITH"); Cmp("ends", l, addExpr())
        case Some(TIdent(s)) if s.equalsIgnoreCase("CONTAINS") =>
          pos += 1; Cmp("contains", l, addExpr())
        case Some(TIdent(s)) if s.equalsIgnoreCase("IN") => // list membership
          pos += 1; Cmp("in", l, addExpr())
        case Some(TIdent(s)) if s.equalsIgnoreCase("IS") => // IS [NOT] NULL postfix
          pos += 1
          val neg = kw("NOT")
          expectKw("NULL")
          IsNull(l, neg)
        case _ => l
      }
    }

    /** NOT binds looser than comparisons, tighter than AND (Cypher
      * precedence: `NOT a.x ENDS WITH 'z'` negates the comparison —
      * reference parser fixture mod.rs:1790). */
    private def notExpr(): Expr = peek match {
      case Some(TIdent(s)) if s.equalsIgnoreCase("NOT") => pos += 1; Not(notExpr())
      case _ => cmp()
    }

    private def andExpr(): Expr = {
      var l = notExpr()
      while (kw("AND")) l = And(l, notExpr())
      l
    }

    private def xorExpr(): Expr = {
      var l = andExpr()
      while (kw("XOR")) l = Xor(l, andExpr())
      l
    }

    def expr(): Expr = {
      var l = xorExpr()
      while (kw("OR")) l = Or(l, xorExpr())
      l
    }

    private def retItem(): RetItem = {
      val e = cmp()
      val alias = if (kw("AS")) Some(ident()) else None
      RetItem(e, alias)
    }

    private def retItems(): Seq[RetItem] = {
      val items = Seq.newBuilder[RetItem]
      items += retItem()
      while (punct(",")) items += retItem()
      items.result()
    }

    private def orderByOpt(): Seq[(Expr, Boolean)] = {
      val order = Seq.newBuilder[(Expr, Boolean)]
      if (kw("ORDER")) {
        expectKw("BY")
        // uniform expression entry; resolveOrder still requires the
        // parsed item to reference a projected column
        def orderItem(): (Expr, Boolean) = {
          val e = addExpr()
          val asc = if (kw("DESC")) false else { kw("ASC"); true }
          (e, asc)
        }
        order += orderItem()
        while (punct(",")) order += orderItem()
      }
      order.result()
    }

    private def limitOpt(): Option[Long] =
      if (kw("LIMIT")) next() match {
        case TNum(s) => Some(s.toLong)
        case t => throw new IllegalArgumentException(s"expected LIMIT count, got $t")
      } else None

    private def skipOpt(): Option[Long] =
      if (kw("SKIP")) next() match {
        case TNum(s) => Some(s.toLong)
        case t => throw new IllegalArgumentException(s"expected SKIP count, got $t")
      } else None

    def query(): Query = {
      val parts = Seq.newBuilder[Part]
      var sawReturn = false
      var lastWasCall = false // standalone `CALL proc()` needs no RETURN
      while (!sawReturn) {
        val atUnion = peek.exists {
          case TIdent(s) => s.equalsIgnoreCase("UNION"); case _ => false
        }
        if ((peek.isEmpty || atUnion) && lastWasCall)
          return Query(parts.result(), distinct = false, returnAll = true,
            Seq.empty, Seq.empty, None, None)
        lastWasCall = peek.exists {
          case TIdent(s) => s.equalsIgnoreCase("CALL"); case _ => false
        }
        val optional = kw("OPTIONAL")
        if (optional) expectKw("MATCH")
        if (optional || kw("MATCH")) {
          val chains = Seq.newBuilder[Chain]
          chains += patternPart()
          while (punct(",")) chains += patternPart()
          val where = if (kw("WHERE")) Some(expr()) else None
          parts += MatchPart(chains.result(), where, optional)
        } else if (kw("UNWIND")) {
          val list = addExpr()
          expectKw("AS")
          parts += UnwindPart(list, ident())
        } else if (kw("CALL")) {
          // CALL name(args) [YIELD * | col [AS alias], ...] [WHERE pred]
          val name = ident()
          expectPunct("(")
          val args = Seq.newBuilder[Expr]
          if (!punct(")")) {
            args += addExpr()
            while (punct(",")) args += addExpr()
            expectPunct(")")
          }
          var yieldAll = false
          val yields = Seq.newBuilder[(String, Option[String])]
          if (kw("YIELD")) {
            if (punct("*")) yieldAll = true
            else {
              def item(): (String, Option[String]) = {
                val c = ident()
                (c, if (kw("AS")) Some(ident()) else None)
              }
              yields += item()
              while (punct(",")) yields += item()
            }
          } else yieldAll = true // bare CALL yields every catalogue column
          val where = if (kw("WHERE")) Some(expr()) else None
          parts += CallPart(name, args.result(), yields.result(), yieldAll, where)
        } else if (kw("WITH")) {
          // grammar order (openCypher / cypher.pest:32-55):
          // WITH [DISTINCT] *|items [, items] [ORDER BY] [SKIP] [LIMIT] [WHERE]
          val distinct = kw("DISTINCT")
          val star = punct("*")
          val items =
            if (!star) retItems()
            else if (punct(",")) retItems()
            else Seq.empty
          val order = orderByOpt()
          val skip = skipOpt()
          val limit = limitOpt()
          val where = if (kw("WHERE")) Some(expr()) else None
          parts += WithPart(distinct, items, order, skip, limit, where, star)
        } else {
          expectKw("RETURN")
          sawReturn = true
        }
      }
      val distinct = kw("DISTINCT")
      var returnAll = false
      val items = Seq.newBuilder[RetItem]
      if (punct("*")) {
        returnAll = true
        if (punct(",")) items ++= retItems() // RETURN *, extra AS x
      } else items ++= retItems()
      val order = orderByOpt()
      val skip = skipOpt()
      val limit = limitOpt()
      Query(parts.result(), distinct, returnAll, items.result(), order, skip, limit)
    }

    /** Top level: query [UNION [ALL] query]...; returns the branches and
      * whether they combine with ALL (openCypher rejects mixing UNION and
      * UNION ALL in one query, and so do we). */
    private[cypher] def queryList(): (Seq[Query], Boolean) = {
      val qs = Seq.newBuilder[Query]
      qs += query()
      var all = Option.empty[Boolean]
      while (kw("UNION")) {
        val a = kw("ALL")
        require(all.forall(_ == a), "invalid combination of UNION and UNION ALL")
        all = Some(a)
        qs += query()
      }
      require(pos == toks.length, s"trailing tokens from $pos: ${toks.drop(pos)}")
      (qs.result(), all.getOrElse(false))
    }
  }

  // ---------- planner: Query -> DataFrame ----------

  def run(g: LinkGraph, text: String): DataFrame = run(g, text, Map.empty[String, Any])

  /** Run with query parameters: `$name` in any expression position reads
    * params("name") — scalars become literals, Seq/Array values become
    * array literals (so `a.id IN $ids` and the list HOFs work). */
  def run(g: LinkGraph, text: String, params: Map[String, Any]): DataFrame = {
    val (qs, all) = new Parser(tokenize(text)).queryList()
    val frames = qs.map(plan(g, _, params))
    val combined = frames.reduce { (a, b) =>
      require(a.columns.toSeq == b.columns.toSeq,
        s"UNION branches must return the same columns " +
          s"(${a.columns.mkString(",")} vs ${b.columns.mkString(",")})")
      a.unionByName(b)
    }
    if (qs.length > 1 && !all) combined.dropDuplicates() else combined
  }

  private def plan(g: LinkGraph, q: Query, params: Map[String, Any]): DataFrame = {
    var fresh = 0
    val synth = scala.collection.mutable.Set.empty[String]
    def freshEdge(): String = { fresh += 1; val n = s"_e$fresh"; synth += n; n }

    // node var -> the column holding its vid in the assembled frame
    val bound = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val edgeVars = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    // WITH/UNWIND alias -> plain value column
    val valueVars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // var-length edge var -> its hop-count column (read via length/size)
    val varLenVars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var acc: DataFrame = null

    def mergeOn(df: DataFrame, conds: Seq[Column]): Unit = {
      acc =
        if (acc == null) df
        else if (conds.isEmpty) acc.crossJoin(df)
        else acc.join(df, conds.reduce(_ && _))
    }

    def edgeFrame(ev: String, pat: EdgePat): DataFrame = {
      var df = g.edges
      pat.label.foreach(l => df = df.filter(col("layer") === l))
      pat.props.foreach { case (k, Lit(v)) => df = df.filter(col(k) === lit(v)) }
      val cols = df.columns.toSeq
      edgeVars(ev) = cols.map(c => s"${ev}_$c")
      val renamed = df.select(cols.map(c => col(c).as(s"${ev}_$c")): _*)
      if (pat.undirected) {
        // both orientations as extra pattern-endpoint columns; the real
        // `<e>_src/_dst` keep storage endpoints for property access.
        // Self-loop events take only the fwd branch — their reversed
        // orientation is the identical row, and openCypher matches an
        // undirected pattern against a self-loop relationship ONCE.
        val fwd = renamed.withColumn(s"${ev}__a", col(s"${ev}_src"))
          .withColumn(s"${ev}__b", col(s"${ev}_dst"))
        val rev = renamed.filter(col(s"${ev}_src") =!= col(s"${ev}_dst"))
          .withColumn(s"${ev}__a", col(s"${ev}_dst"))
          .withColumn(s"${ev}__b", col(s"${ev}_src"))
        fwd.unionByName(rev)
      } else renamed
    }

    /** Variable-length relationship `-[e*m..n]->`: one frame with a row
      * per distinct PATH of m..n hops — endpoint columns `<e>__a`/`<e>__b`
      * and the hop count `<e>_len` (read with length(e)/size(e)).
      * openCypher relationship uniqueness holds WITHIN each path: every
      * hop join rejects events already on the path via the accumulated
      * event-id list (k ≤ 8 keeps the id array and join chain small).
      * Built as a union over k of k-hop equi-join chains — each branch is
      * a plain shuffled-join plan Catalyst handles like any other join,
      * so the operator scales exactly as k fixed-length joins do. */
    def pathFrame(ev: String, pat: EdgePat, lo: Int, hi: Int): DataFrame = {
      var base = g.edges
      pat.label.foreach(l => base = base.filter(col("layer") === l))
      pat.props.foreach { case (k, Lit(v)) => base = base.filter(col(k) === lit(v)) }
      val eid = struct(col("src"), col("dst"), col("ts"), col("seq"), col("layer"))
      val fwd = base.select(col("src").as("a"), col("dst").as("b"), eid.as("eid"))
      val hop =
        if (pat.undirected)
          // per-hop both orientations; self-loops once (as in edgeFrame)
          fwd.unionByName(base.filter(col("src") =!= col("dst"))
            .select(col("dst").as("a"), col("src").as("b"), eid.as("eid")))
        else if (pat.leftToRight) fwd
        else base.select(col("dst").as("a"), col("src").as("b"), eid.as("eid"))
      var paths = hop.select(col("a"), col("b"), array(col("eid")).as("eids"))
      // the accumulated event-id list rides along as `<ev>__eids` so the
      // MATCH-level uniqueness pass can cross-check paths against other
      // edge variables; it is dropped once those filters are applied
      def branch(k: Int, p: DataFrame): DataFrame =
        p.select(col("a").as(s"${ev}__a"), col("b").as(s"${ev}__b"),
          lit(k.toLong).as(s"${ev}_len"), col("eids").as(s"${ev}__eids"))
      val branches = Seq.newBuilder[DataFrame]
      if (lo <= 1) branches += branch(1, paths)
      for (k <- 2 to hi) {
        val h = hop.select(col("a").as("_ha"), col("b").as("_hb"), col("eid").as("_heid"))
        paths = paths
          .join(h, col("b") === col("_ha") && !array_contains(col("eids"), col("_heid")))
          .select(col("a"), col("_hb").as("b"),
            concat(col("eids"), array(col("_heid"))).as("eids"))
        if (k >= lo) branches += branch(k, paths)
      }
      branches.result().reduce(_ unionByName _)
    }

    // node label/prop constraints and name/prop references need the node
    // table joined on the var's vid column — done lazily, once per var
    // (reset at each WITH: the projection drops un-carried node columns)
    val nodeJoined = scala.collection.mutable.Set.empty[String]
    def joinNodeTable(v: String): Unit = if (!nodeJoined(v)) {
      nodeJoined += v
      val keyCol = s"${v}__nvid"
      val renamed = g.nodes.columns.toSeq.map {
        case "vid" => col("vid").as(keyCol)
        case c => col(c).as(s"${v}_$c")
      }
      acc = acc.join(g.nodes.select(renamed: _*), col(bound(v)) === col(keyCol)).drop(keyCol)
    }

    // HOF lambda variables (list comprehensions / quantifiers / reduce):
    // innermost binding shadows outer scopes while its body is planned.
    // Each binding carries a typed-null placeholder (`lambdaPh`)
    // substituted in probing mode so type probes can analyze lambda
    // bodies; pattern-subquery join counter lives here too (declared
    // before the probe helpers that reference them).
    val lambdaVars = scala.collection.mutable.Map.empty[String, Column]
    val lambdaPh = scala.collection.mutable.Map.empty[String, Column]
    var probing = false
    var existsN = 0
    def withLambda[A](v: String, x: Column, ph: Column)(body: => A): A = {
      val prevX = lambdaVars.get(v)
      val prevP = lambdaPh.get(v)
      lambdaVars(v) = x
      lambdaPh(v) = ph
      try body
      finally {
        prevX match { case Some(p) => lambdaVars(v) = p; case None => lambdaVars -= v }
        prevP match { case Some(p) => lambdaPh(v) = p; case None => lambdaPh -= v }
      }
    }

    /** Resolve a column's type against the current frame (plan-time
      * analysis only, no job): drives the type-dependent openCypher
      * operators — string `+` = concat, integer `/` truncates, size() of
      * a string vs a list. Falls back to a unit frame when no part has
      * been planned yet (literal-only expressions, e.g. leading UNWIND). */
    def dtypeOf(c: Column): org.apache.spark.sql.types.DataType = {
      val probe = if (acc != null) acc else g.spark.range(1).toDF()
      probe.select(c.as("_t")).schema.head.dataType
    }
    /** Type of expression `e` whose planned column is `c`. The direct
      * probe fails when `c` embeds an unresolved HOF lambda variable —
      * then `e` is RE-planned in probing mode (lambda variables become
      * typed-null placeholders, pattern subqueries skip their joins) and
      * that column probed instead. NullType = unknown (numeric fallback
      * semantics apply). */
    def dtypeOfE(e: Expr, c: Column): org.apache.spark.sql.types.DataType =
      try dtypeOf(c)
      catch {
        case _: Exception =>
          probing = true
          try dtypeOf(exprCol(e))
          catch { case _: Exception => org.apache.spark.sql.types.NullType }
          finally probing = false
      }
    def isStringE(e: Expr, c: Column): Boolean =
      dtypeOfE(e, c) == org.apache.spark.sql.types.StringType
    def isIntegralE(e: Expr, c: Column): Boolean = dtypeOfE(e, c) match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    /** Typed-null placeholder for one element of list expression `e`. */
    def elemPh(e: Expr, c: Column): Column = dtypeOfE(e, c) match {
      case org.apache.spark.sql.types.ArrayType(et, _) => lit(null).cast(et)
      case _ => lit(null)
    }

    /** Pattern predicate / EXISTS subquery as a BOOLEAN column. Planned
      * decorrelated, the way Catalyst rewrites correlated EXISTS: the
      * subpattern is planned as its own full query (recursive plan call
      * — labels, property maps, multi-hop chains, relationship
      * uniqueness and an inner WHERE all come for free), projected to
      * the DISTINCT tuple of its correlated node variables (the ones
      * already bound in the outer scope), and LEFT-joined back onto the
      * frame with a constant-true marker; the predicate is
      * coalesce(marker, false). One key-distinct join per predicate —
      * no per-row subquery, no row multiplication (the key side is
      * distinct), NULL outer bindings (OPTIONAL MATCH) correctly yield
      * false, and a small key set broadcasts under AQE. */
    /** Correlated node variables of a subpattern, with the freshness /
      * correlation checks shared by existsCol and countCol. */
    def patternCorr(ch: Chain): Seq[String] = {
      require(acc != null, "pattern predicate before any MATCH/UNWIND")
      val patVars = (ch.first.v +: ch.hops.map(_._2.v)).flatten
      val corr = patVars.distinct.filter(bound.contains)
      require(corr.nonEmpty,
        "pattern predicate must share at least one bound node variable with the outer query")
      // a pattern variable that names an outer value/edge/path binding
      // would silently scan fresh instead of correlating — reject loudly
      val shadowed = patVars.distinct.filterNot(bound.contains)
        .filter(v => valueVars.contains(v) || edgeVars.contains(v) || varLenVars.contains(v))
      require(shadowed.isEmpty,
        s"pattern-predicate node variables must be node bindings or fresh: ${shadowed.mkString(",")}")
      val reused = ch.hops.flatMap(_._1.v).filter(v =>
        edgeVars.contains(v) || varLenVars.contains(v) || bound.contains(v) || valueVars.contains(v))
      require(reused.isEmpty,
        s"pattern-predicate relationship variables must be fresh: ${reused.mkString(",")}")
      corr
    }
    /** Plan a decorrelated subpattern and left-join it on its correlated
      * keys; `agg` = None gives the EXISTS marker join (key-distinct sub),
      * Some(item) appends that aggregate to the sub's implicit grouping
      * (COUNT subqueries). Returns the joined marker/value column. */
    def patternJoin(ch: Chain, where: Option[Expr],
                    agg: Option[Expr]): (Column, org.apache.spark.sql.types.DataType) = {
      val corr = patternCorr(ch)
      existsN += 1
      val tag = s"__ex$existsN"
      val keys = corr.zipWithIndex.map { case (v, i) => v -> s"${tag}_k$i" }
      val keyItems = keys.map { case (v, n) => RetItem(VarRef(v), Some(n)) }
      val items = keyItems ++ agg.map(a => RetItem(a, Some(tag)))
      val sub0 = plan(g, Query(Seq(MatchPart(Seq(ch), where)), distinct = agg.isEmpty,
        returnAll = false, items, Seq.empty, None, None), params)
      val sub = if (agg.isEmpty) sub0.withColumn(tag, lit(true)) else sub0
      val cond = keys.map { case (v, n) => col(bound(v)) === col(n) }.reduce(_ && _)
      acc = acc.join(sub, cond, "left").drop(keys.map(_._2): _*)
      (col(tag), sub.schema(tag).dataType)
    }
    def existsCol(ch: Chain, where: Option[Expr]): Column =
      if (probing) lit(false) // type probe: no join, boolean shape only
      else coalesce(patternJoin(ch, where, None)._1, lit(false))
    def countCol(ch: Chain, where: Option[Expr]): Column =
      if (probing) lit(0L)
      else coalesce(patternJoin(ch, where, Some(Fn("count", None)))._1, lit(0L))
    /** Pattern comprehension: the decorrelated sub collects one element
      * per matching path; unmatched outer keys coalesce to a typed []. */
    def compCol(ch: Chain, where: Option[Expr], map: Expr): Column =
      if (probing) array() // type probe: list shape only, no join
      else {
        val (c, dt) = patternJoin(ch, where, Some(Fn("collect", Some(map))))
        coalesce(c, array().cast(dt))
      }

    def exprCol(e: Expr): Column = e match {
      case Lit(v) => lit(v)
      case Param(n) =>
        val v = params.getOrElse(n,
          throw new IllegalArgumentException(s"missing query parameter $$$n"))
        v match {
          case xs: Seq[_] => array(xs.map(x => lit(x)): _*)
          case xs: Array[_] => array(xs.toSeq.map(x => lit(x)): _*)
          case x => lit(x)
        }
      case ListLit(items) => array(items.map(exprCol): _*)
      case VarRef(v) if lambdaVars.contains(v) =>
        if (probing) lambdaPh(v) else lambdaVars(v)
      case VarRef(v) if valueVars.contains(v) => col(valueVars(v))
      case VarRef(v) if bound.contains(v) => col(bound(v))
      case VarRef(v) if edgeVars.contains(v) =>
        throw new IllegalArgumentException(s"bare edge variable $v needs a property (or use RETURN *)")
      case VarRef(v) if varLenVars.contains(v) =>
        throw new IllegalArgumentException(
          s"variable-length edge $v binds a path — read its hop count with length($v)")
      case VarRef(v) => throw new IllegalArgumentException(s"unbound variable $v")
      case Prop(v, p) if edgeVars.contains(v) =>
        val c = s"${v}_$p"
        require(edgeVars(v).contains(c), s"edge $v has no property $p (has ${edgeVars(v)})")
        col(c)
      case Prop(v, p) if bound.contains(v) =>
        if (p == "vid" || p == "id") col(bound(v))
        else { joinNodeTable(v); col(s"${v}_$p") }
      case Prop(v, _) => throw new IllegalArgumentException(s"unbound variable $v")
      case Cmp("=", l, r) => exprCol(l) === exprCol(r)
      case Cmp("<>", l, r) => exprCol(l) =!= exprCol(r)
      case Cmp("<", l, r) => exprCol(l) < exprCol(r)
      case Cmp("<=", l, r) => exprCol(l) <= exprCol(r)
      case Cmp(">", l, r) => exprCol(l) > exprCol(r)
      case Cmp(">=", l, r) => exprCol(l) >= exprCol(r)
      case Cmp("starts", l, r) => exprCol(l).startsWith(exprCol(r))
      case Cmp("ends", l, r) => exprCol(l).endsWith(exprCol(r))
      case Cmp("contains", l, r) => exprCol(l).contains(exprCol(r))
      // list membership: the rhs is a list literal or a carried collect()
      // column; NULL-element subtleties follow Spark's array_contains
      case Cmp("in", l, r) => array_contains(exprCol(r), exprCol(l))
      case Cmp(op, _, _) => throw new IllegalArgumentException(s"unsupported operator $op")
      case And(l, r) => exprCol(l) && exprCol(r)
      case Or(l, r) => exprCol(l) || exprCol(r)
      // boolean XOR = null-propagating inequality (null XOR x -> null)
      case Xor(l, r) => exprCol(l) =!= exprCol(r)
      case Not(x) => !exprCol(x)
      case Neg(x) => -exprCol(x)
      case Arith(op, l, r) =>
        // resolve operands FIRST: either may lazily join the node table
        val (lc, rc) = (exprCol(l), exprCol(r))
        op match {
          case "+" =>
            if (isStringE(l, lc) || isStringE(r, rc)) concat(lc.cast("string"), rc.cast("string"))
            else lc + rc
          case "-" => lc - rc
          case "*" => lc * rc
          // openCypher exponentiation always returns a float
          case "^" => pow(lc, rc)
          case "/" =>
            // openCypher: integer / integer truncates toward zero. Spark's
            // `/` always widens to double (inexact past 2^53), so integral
            // operands route through SQL `div` (IntegralDivide — exact long
            // division). n/0 follows SQL semantics and yields NULL, a
            // documented divergence from openCypher's runtime error.
            if (isIntegralE(l, lc) && isIntegralE(r, rc)) call_function("div", lc, rc)
            else lc / rc
          case "%" => lc % rc
        }
      case CaseExpr(subject, whens, els) =>
        val branches = subject match {
          case Some(s) =>
            val sc = exprCol(s)
            whens.map { case (c, v) => (sc === exprCol(c), exprCol(v)) }
          case None => whens.map { case (c, v) => (exprCol(c), exprCol(v)) }
        }
        val first = when(branches.head._1, branches.head._2)
        val chained = branches.tail.foldLeft(first) { case (w, (c, v)) => w.when(c, v) }
        els.map(x => chained.otherwise(exprCol(x))).getOrElse(chained)
      case IsNull(x, false) => exprCol(x).isNull
      case IsNull(x, true) => exprCol(x).isNotNull
      case p: PatternPred => existsCol(p.chain, p.where)
      case c: PatternCount => countCol(c.chain, c.where)
      case c: PatternComp => compCol(c.chain, c.where, c.map)
      // legacy exists(): pattern argument = pattern predicate; any other
      // argument = property-existence test (openCypher exists(n.prop));
      // legacy size(pattern) = the correlated match count
      case FnN("exists", Seq(p: PatternPred)) => exprCol(p)
      case FnN("exists", Seq(a)) => exprCol(a).isNotNull
      case FnN("size", Seq(p: PatternPred)) => exprCol(PatternCount(p.chain, p.where))
      // list HOFs — all codegen'd Catalyst higher-order functions; empty
      // lists follow openCypher: all([])=true, any/none([]) unaffected
      case ListComp(v, listE, pred, map) =>
        val lc = exprCol(listE)
        val ph = elemPh(listE, lc)
        val filtered = pred.map(p => filter(lc, x => withLambda(v, x, ph)(exprCol(p)))).getOrElse(lc)
        map.map(m => transform(filtered, x => withLambda(v, x, ph)(exprCol(m)))).getOrElse(filtered)
      case Quant("all", v, listE, p) =>
        val lc = exprCol(listE)
        forall(lc, x => withLambda(v, x, elemPh(listE, lc))(exprCol(p)))
      case Quant("any", v, listE, p) =>
        val lc = exprCol(listE)
        exists(lc, x => withLambda(v, x, elemPh(listE, lc))(exprCol(p)))
      case Quant("none", v, listE, p) =>
        val lc = exprCol(listE)
        !exists(lc, x => withLambda(v, x, elemPh(listE, lc))(exprCol(p)))
      case Quant("single", v, listE, p) =>
        val lc = exprCol(listE)
        size(filter(lc, x => withLambda(v, x, elemPh(listE, lc))(exprCol(p)))) === 1
      case Quant(n, _, _, _) => throw new IllegalArgumentException(s"unknown quantifier $n")
      case ReduceExpr(accV, init, v, listE, step) =>
        val (lc, initC) = (exprCol(listE), exprCol(init))
        val accT = dtypeOfE(init, initC)
        val accPh = if (accT == org.apache.spark.sql.types.NullType) lit(null)
                    else lit(null).cast(accT)
        aggregate(lc, initC, (a, x) =>
          withLambda(accV, a, accPh)(withLambda(v, x, elemPh(listE, lc))(exprCol(step))))
      case f: FnN => scalarFn(f)
      case Fn(n, _, _) => throw new IllegalArgumentException(
        s"aggregate $n only valid as a top-level RETURN/WITH item")
      case PctFn(n, _, _) => throw new IllegalArgumentException(
        s"aggregate $n only valid as a top-level RETURN/WITH item")
    }

    /** Scalar function map (openCypher names, lower-cased by the parser).
      * Graph accessors first, then the general library — every target is
      * a codegen'd Catalyst function, no UDFs. */
    def scalarFn(f: FnN): Column = f match {
      case FnN("type", Seq(VarRef(v))) if edgeVars.contains(v) => col(s"${v}_layer")
      case FnN(n, Seq(VarRef(v))) if (n == "length" || n == "size") && varLenVars.contains(v) =>
        col(varLenVars(v))
      case FnN("id", Seq(VarRef(v))) if bound.contains(v) => col(bound(v))
      case FnN("labels", Seq(VarRef(v))) if bound.contains(v) =>
        joinNodeTable(v); array(col(s"${v}_node_type"))
      case FnN("startnode", Seq(VarRef(v))) if edgeVars.contains(v) => col(s"${v}_src")
      case FnN("endnode", Seq(VarRef(v))) if edgeVars.contains(v) => col(s"${v}_dst")
      case FnN("coalesce", as) if as.nonEmpty => coalesce(as.map(exprCol): _*)
      // list constructors/accessors: range(a, b[, step]) is INCLUSIVE of
      // b (openCypher, matching Spark's sequence) — but an exhausted
      // range is EMPTY in openCypher while Spark's sequence(1, 0)
      // DESCENDS (and errors on a step/bound sign mismatch), so both
      // arms guard the direction explicitly; head/last of [] = NULL
      case FnN("range", Seq(a, b)) =>
        val (ac, bc) = (exprCol(a).cast("long"), exprCol(b).cast("long"))
        when(bc >= ac, sequence(ac, bc)).otherwise(typedLit(Seq.empty[Long]))
      case FnN("range", Seq(a, b, st)) =>
        val (ac, bc, sc) =
          (exprCol(a).cast("long"), exprCol(b).cast("long"), exprCol(st).cast("long"))
        when((sc > 0 && bc >= ac) || (sc < 0 && bc <= ac), sequence(ac, bc, sc))
          .otherwise(typedLit(Seq.empty[Long]))
      case FnN("head", Seq(a)) => element_at(exprCol(a), 1)
      case FnN("last", Seq(a)) => element_at(exprCol(a), -1)
      case FnN("tointeger", Seq(a)) => exprCol(a).cast("long")
      case FnN("tofloat", Seq(a)) => exprCol(a).cast("double")
      case FnN("tostring", Seq(a)) => exprCol(a).cast("string")
      case FnN("toboolean", Seq(a)) => exprCol(a).cast("boolean")
      case FnN("abs", Seq(a)) => abs(exprCol(a))
      case FnN("sqrt", Seq(a)) => sqrt(exprCol(a))
      case FnN("round", Seq(a)) => round(exprCol(a), 0)
      // openCypher floor/ceil return floats, sign an integer
      case FnN("floor", Seq(a)) => floor(exprCol(a)).cast("double")
      case FnN("ceil", Seq(a)) => ceil(exprCol(a)).cast("double")
      case FnN("sign", Seq(a)) => signum(exprCol(a)).cast("long")
      case FnN(n, Seq(a)) if n == "toupper" || n == "upper" => upper(exprCol(a))
      case FnN(n, Seq(a)) if n == "tolower" || n == "lower" => lower(exprCol(a))
      case FnN("trim", Seq(a)) => trim(exprCol(a))
      case FnN("ltrim", Seq(a)) => ltrim(exprCol(a))
      case FnN("rtrim", Seq(a)) => rtrim(exprCol(a))
      case FnN("reverse", Seq(a)) => reverse(exprCol(a))
      case FnN("left", Seq(a, n)) => exprCol(a).substr(lit(1), exprCol(n).cast("int"))
      case FnN("right", Seq(a, n)) =>
        val (c, k) = (exprCol(a), exprCol(n).cast("int"))
        c.substr(greatest(length(c) - k + lit(1), lit(1)), k)
      // openCypher substring is 0-based; Column.substr is 1-based
      case FnN("substring", Seq(a, st)) =>
        val c = exprCol(a)
        c.substr(exprCol(st).cast("int") + lit(1), length(c))
      case FnN("substring", Seq(a, st, len)) =>
        exprCol(a).substr(exprCol(st).cast("int") + lit(1), exprCol(len).cast("int"))
      case FnN("replace", Seq(a, s, r)) =>
        org.apache.spark.sql.functions.replace(exprCol(a), exprCol(s), exprCol(r))
      // openCypher split takes a LITERAL delimiter; Spark's split takes a
      // regex, so the delimiter is regex-quoted at plan time
      case FnN("split", Seq(a, Lit(delim: String))) =>
        split(exprCol(a), java.util.regex.Pattern.quote(delim))
      // size/length of a value: list → element count, string → chars
      case FnN(n, Seq(a)) if n == "size" || n == "length" =>
        val c = exprCol(a)
        if (isStringE(a, c)) length(c).cast("long") else size(c).cast("long")
      case FnN(n, as) => throw new IllegalArgumentException(
        s"unsupported function $n/${as.length}")
    }

    def topAgg(e: Expr): Boolean = e match {
      case Fn(n, _, _) => AggNames(n)
      case _: PctFn => true
      case _ => false
    }
    def aggColOf(e: Expr): Column = e match {
      case Fn("count", None, _) => count(lit(1))
      case Fn("count", Some(VarRef(v)), false) if edgeVars.contains(v) => count(col(s"${v}_src"))
      // DISTINCT over a whole edge variable = distinct event rows: count the
      // distinct tuple of all its columns (src,dst,ts,seq,layer identify an event)
      case Fn("count", Some(VarRef(v)), true) if edgeVars.contains(v) =>
        count_distinct(struct(edgeVars(v).map(col): _*))
      case Fn("count", Some(a), true) => count_distinct(exprCol(a))
      case Fn("count", Some(a), false) => count(exprCol(a))
      case Fn("sum", Some(a), true) => sum_distinct(exprCol(a))
      case Fn("sum", Some(a), false) => sum(exprCol(a))
      // min/max are insensitive to duplicates — DISTINCT is a no-op
      case Fn("min", Some(a), _) => min(exprCol(a))
      case Fn("max", Some(a), _) => max(exprCol(a))
      case Fn("avg", Some(a), true) =>
        (sum_distinct(exprCol(a)) / count_distinct(exprCol(a))).cast("double")
      case Fn("avg", Some(a), false) => avg(exprCol(a))
      case Fn("collect", Some(a), true) => collect_set(exprCol(a))
      case Fn("collect", Some(a), false) => collect_list(exprCol(a))
      // openCypher stDev = sample, stDevP = population
      case Fn("stdev", Some(a), _) => stddev_samp(exprCol(a))
      case Fn("stdevp", Some(a), _) => stddev_pop(exprCol(a))
      // percentileCont: exact linear interpolation at (n-1)*p — Catalyst's
      // exact `percentile` aggregate (codegen'd, same definition as
      // openCypher/DuckDB quantile_cont)
      case PctFn("percentilecont", a, p) => percentile(exprCol(a), lit(p))
      // percentileDisc: nearest-rank (smallest value whose cumulative rank
      // reaches p — rank ceil(p·n), min 1). Holistic by definition: the
      // group is collected into one sorted array, so group cardinality is
      // the caller's bound (like collect()); fine for the analytics use,
      // not a 100-TB hot path.
      case PctFn("percentiledisc", a, p) =>
        val c = exprCol(a)
        // empty/all-null group => NULL (openCypher), not element_at(.., 1)
        // on an empty array, which throws under Spark 4's ANSI default
        // rank = ceil(p·n) computed with a 1e-9 rounding guard: IEEE
        // double p·n can land just above the exact integer product
        // (0.07 * 100 = 7.000000000000001 → ceil 8, off by one rank)
        when(count(c) > 0,
          element_at(array_sort(collect_list(c)),
            greatest(ceil(round(lit(p) * count(c), 9)), lit(1L)).cast("int")))
      case other => throw new IllegalArgumentException(s"unsupported aggregate $other")
    }
    def itemName(e: Expr, alias: Option[String], i: Int): String = alias.getOrElse(e match {
      case Prop(v, p) => s"${v}_$p"
      case VarRef(v) => if (valueVars.contains(v)) v else s"${v}_vid"
      case Fn("count", _, _) => "count"
      case Fn(n, _, _) => n
      case PctFn(n, _, _) => n
      case FnN(n, _) => n
      case _ => s"col$i"
    })
    /** Output names with colliding DEFAULT names disambiguated by item
      * index (e.g. `RETURN min(e.ts), min(e.seq)` → min, min_1) — two
      * same-named columns would make the post-agg select throw
      * AMBIGUOUS_REFERENCE. Explicit aliases are kept verbatim. */
    def names(items: Seq[RetItem]): Seq[String] = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      items.zipWithIndex.map { case (RetItem(e, alias), i) =>
        val n = itemName(e, alias, i)
        val k = seen.getOrElse(n, 0); seen(n) = k + 1
        if (k == 0 || alias.isDefined) n else s"${n}_$i"
      }
    }

    def resolveOrder(out: DataFrame, orderBy: Seq[(Expr, Boolean)]): Seq[Column] =
      orderBy.map { case (e, asc) =>
        // ORDER BY resolves against the PROJECTED columns: an output
        // alias, a projected `v_prop` name, or a node var's `v_vid`
        val name = e match {
          case VarRef(v) if out.columns.contains(v) => v
          case VarRef(v) if out.columns.contains(s"${v}_vid") => s"${v}_vid"
          case Prop(v, p) if out.columns.contains(s"${v}_$p") => s"${v}_$p"
          case Prop(v, p) if (p == "id" || p == "vid") && out.columns.contains(s"${v}_vid") => s"${v}_vid"
          case other => throw new IllegalArgumentException(
            s"ORDER BY must reference a projected column, got $other (have ${out.columns.mkString(",")})")
        }
        if (asc) col(name).asc else col(name).desc
      }

    /** Project/aggregate `items` out of acc (shared by WITH and RETURN):
      * implicit grouping when any item is an aggregate; bare edge vars
      * expand to their full event row. Returns the projected frame and
      * the per-item output names (bare-edge items contribute no name). */
    def projectItems(items: Seq[RetItem], itemNames: Seq[String]): DataFrame = {
      val hasAgg = items.exists(it => topAgg(it.expr))
      if (hasAgg) {
        // Cypher implicit grouping: non-aggregate items are the keys
        val named = items.zip(itemNames).map { case (RetItem(e, _), n) => (e, n) }
        val keyCols = named.collect { case (e, n) if !topAgg(e) => exprCol(e).as(n) }
        val aggCols = named.collect { case (e, n) if topAgg(e) => aggColOf(e).as(n) }
        val grouped =
          if (keyCols.isEmpty) acc.agg(aggCols.head, aggCols.tail: _*)
          else acc.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        grouped.select(named.map { case (_, n) => col(n) }: _*) // item order
      } else {
        val cols = items.zip(itemNames).flatMap { case (RetItem(e, alias), n) =>
          e match {
            case VarRef(v) if edgeVars.contains(v) =>
              // bare edge variable: the whole event row (reference
              // `return type(e), e` shape); aliasing a row is ambiguous
              require(alias.isEmpty, s"cannot alias whole edge row $v — project its properties")
              edgeVars(v).map(col)
            case _ => Seq(exprCol(e).as(n))
          }
        }
        acc.select(cols: _*)
      }
    }

    def planMatch(part: MatchPart): Unit = {
      // Normalize: every anonymous node pattern gets a fresh SYNTHETIC
      // name (excluded from RETURN *). This is what makes chain adjacency
      // hold through anonymous middles — `()-[e]->()-[f]->()` must join
      // e.dst = f.src — and lets labels/property maps on anonymous nodes
      // (`(:even)`, `({id: 3})`) flow through the same constraint loop as
      // named ones instead of being silently dropped.
      def namedNp(np: NodePat): NodePat =
        if (np.v.isDefined) np else np.copy(v = Some(freshEdge()))
      val chains = part.chains.map(ch =>
        ch.copy(first = namedNp(ch.first), hops = ch.hops.map { case (e, n) => (e, namedNp(n)) }))

      // edge + var-length path variables assembled by THIS match part
      // (for the pairwise relationship-uniqueness filters below)
      val partEdges = Seq.newBuilder[String]
      val partPaths = Seq.newBuilder[String]

      for (ch <- chains) {
        // per-hop length contributions of a named path (fixed hop = 1,
        // var-length hop = its len column); bound after the chain plans
        val hopLens = Seq.newBuilder[Column]
        if (ch.hops.isEmpty) {
          // node-only pattern: scan the node table
          val v = ch.first.v.getOrElse(freshEdge())
          if (bound.contains(v)) ()
          else {
            val renamed = g.nodes.columns.toSeq.map {
              case "vid" => col("vid").as(s"${v}_vid")
              case c => col(c).as(s"${v}_$c")
            }
            mergeOn(g.nodes.select(renamed: _*), Seq.empty)
            bound(v) = s"${v}_vid"
            nodeJoined += v
          }
        } else {
          var leftNode = ch.first
          for ((edge, rightNode) <- ch.hops) {
            // Cypher rejects relationship-variable reuse across patterns
            // (and the reference's same-name edge tables would alias);
            // fail clearly instead of producing duplicate columns
            edge.v.foreach { v =>
              require(!edgeVars.contains(v) && !varLenVars.contains(v),
                s"edge variable $v is already bound — relationship variables cannot repeat in a pattern")
            }
            val ev = edge.v.getOrElse(freshEdge())
            val isVarLen = edge.range.isDefined
            if (isVarLen) {
              val (rLo, rHiOpt) = edge.range.get
              val rHi = rHiOpt.getOrElse(throw new IllegalArgumentException(
                s"unbounded variable-length pattern *$rLo.. needs a finite upper bound " +
                  "(unbounded closure = Components.inComponentOf / outComponentOf)"))
              require(rLo >= 1 && rHi >= rLo && rHi <= 8,
                s"variable-length bounds must satisfy 1 <= m <= n <= 8, got *$rLo..$rHi")
              // a shortestPath-reduced frame exposes only endpoints + the
              // min hop count — no event bindings survive to cross-check
              if (ch.shortest != 1) partPaths += ev
            } else partEdges += ev
            // the columns the chain's left/right nodes bind to: storage
            // src/dst for directed arrows, the orientation-exploded __a/__b
            // pair for undirected and variable-length patterns
            val (leftCol, rightCol) =
              if (edge.undirected || isVarLen) (s"${ev}__a", s"${ev}__b")
              else if (edge.leftToRight) (s"${ev}_src", s"${ev}_dst")
              else (s"${ev}_dst", s"${ev}_src")
            val df =
              if (isVarLen) {
                val (rLo, rHi) = (edge.range.get._1.toInt, edge.range.get._2.get.toInt)
                edge.v.foreach(v => varLenVars(v) = s"${ev}_len")
                val pf = pathFrame(ev, edge, rLo, rHi)
                ch.shortest match {
                  // shortestPath: ONE row per endpoint pair at the minimal
                  // hop count (a hash aggregate, no window/sort)
                  case 1 =>
                    pf.groupBy(col(s"${ev}__a"), col(s"${ev}__b"))
                      .agg(min(col(s"${ev}_len")).as(s"${ev}_len"))
                  // allShortestPaths: every path whose length equals the
                  // pair minimum (semi-join against the aggregated mins)
                  case 2 =>
                    val mins = pf.groupBy(col(s"${ev}__a").as("_ma"), col(s"${ev}__b").as("_mb"))
                      .agg(min(col(s"${ev}_len")).as("_ml"))
                    pf.join(mins,
                      col(s"${ev}__a") === col("_ma") && col(s"${ev}__b") === col("_mb")
                        && col(s"${ev}_len") === col("_ml"))
                      .drop("_ma", "_mb", "_ml")
                  case _ => pf
                }
              } else edgeFrame(ev, edge)
            // shared node vars become equi-join conditions against the new
            // frame; bindings only take effect after conds are computed
            val conds = Seq.newBuilder[Column]
            val preBound = bound.toMap
            leftNode.v.foreach { v => if (preBound.contains(v)) conds += col(preBound(v)) === col(leftCol) }
            rightNode.v.foreach { v => if (preBound.contains(v)) conds += col(preBound(v)) === col(rightCol) }
            // a pattern like (b)-[e]->(b) self-constrains the new frame
            // directly (it must hold even when this is the first frame)
            val df2 =
              if (leftNode.v.isDefined && leftNode.v == rightNode.v && !preBound.contains(leftNode.v.get))
                df.filter(col(leftCol) === col(rightCol))
              else df
            mergeOn(df2, conds.result())
            leftNode.v.foreach(v => if (!bound.contains(v)) bound(v) = leftCol)
            rightNode.v.foreach(v => if (!bound.contains(v)) bound(v) = rightCol)
            hopLens += (if (isVarLen) col(s"${ev}_len") else lit(1L))
            leftNode = rightNode
          }
        }
        // named path `p = ...`: bind p to its relationship count, read
        // via length(p)/size(p) like a var-length edge variable
        ch.pathVar.foreach { pv =>
          require(!bound.contains(pv) && !edgeVars.contains(pv) && !varLenVars.contains(pv)
            && !valueVars.contains(pv), s"path variable $pv is already bound")
          val lenExpr = hopLens.result() match {
            case Seq() => lit(0L)
            case ls => ls.reduce(_ + _).cast("long")
          }
          acc = acc.withColumn(s"${pv}_len", lenExpr)
          varLenVars(pv) = s"${pv}_len"
        }
      }
      require(acc != null, "empty MATCH")

      // relationship uniqueness (openCypher; reference unique_edge_filter,
      // transpiler/mod.rs:620-646): no two edge variables of ONE MATCH may
      // bind the same event — identity is the full storage tuple
      val uniq = partEdges.result()
      for (i <- uniq.indices; j <- (i + 1) until uniq.length) {
        val (e1, e2) = (uniq(i), uniq(j))
        val same = Seq("src", "dst", "ts", "seq", "layer")
          .map(c => col(s"${e1}_$c") === col(s"${e2}_$c")).reduce(_ && _)
        acc = acc.filter(!same)
      }
      // var-length paths cross-check too: none of a path's internal events
      // may bind a single-edge variable of the same MATCH, and two paths
      // may not share an event (field names aligned with pathFrame's eid
      // struct so the array membership tests type-check)
      val pathsU = partPaths.result()
      def eidOf(e: String): Column = struct(
        col(s"${e}_src").as("src"), col(s"${e}_dst").as("dst"),
        col(s"${e}_ts").as("ts"), col(s"${e}_seq").as("seq"),
        col(s"${e}_layer").as("layer"))
      for (p <- pathsU; e <- uniq)
        acc = acc.filter(!array_contains(col(s"${p}__eids"), eidOf(e)))
      for (i <- pathsU.indices; j <- (i + 1) until pathsU.length)
        acc = acc.filter(!arrays_overlap(col(s"${pathsU(i)}__eids"), col(s"${pathsU(j)}__eids")))
      if (pathsU.nonEmpty) acc = acc.drop(pathsU.map(p => s"${p}__eids"): _*)

      // node labels / property maps
      for (ch <- chains; np <- ch.first +: ch.hops.map(_._2); v <- np.v) {
        np.label.foreach { l =>
          joinNodeTable(v)
          acc = acc.filter(col(s"${v}_node_type") === l)
        }
        np.props.foreach { case (k, Lit(value)) =>
          if (k == "vid" || k == "id") acc = acc.filter(col(bound(v)) === lit(value))
          else { joinNodeTable(v); acc = acc.filter(col(s"${v}_$k") === lit(value)) }
        }
      }

      part.where.foreach { w =>
        // exprCol may lazily join the node table onto acc — build the
        // predicate BEFORE reading acc for the filter
        val pred = exprCol(w)
        acc = acc.filter(pred)
      }
    }

    def planWith(part: WithPart): Unit = {
      require(acc != null, "WITH before any MATCH/UNWIND")
      if (part.star) {
        // WITH *: the whole scope carries through unchanged (bindings,
        // edge rows, path lengths); extra non-aggregate items append as
        // new value bindings computed in place
        require(part.items.forall(it => !topAgg(it.expr)),
          "WITH * cannot mix aggregates — name the grouping keys explicitly")
        names(part.items).zip(part.items).foreach { case (n, RetItem(e, _)) =>
          // withColumn would silently REPLACE an existing column — a
          // colliding alias could clobber a binding's vid (openCypher
          // raises "variable already declared"; so do we)
          require(!acc.columns.contains(n) && !valueVars.contains(n),
            s"WITH *: variable $n is already declared in scope")
          val c = exprCol(e) // may lazily join the node table onto acc
          acc = acc.withColumn(n, c)
          valueVars(n) = n
        }
        // DISTINCT over the VISIBLE scope only: anonymous edges/nodes
        // carry synthetic columns in acc (one row per event/middle) that
        // openCypher's `WITH DISTINCT *` must not distinguish by
        if (part.distinct) {
          val visible = bound.toSeq.filter(kv => !synth(kv._1)).flatMap { case (v, c) =>
            c +: (if (nodeJoined(v)) g.nodes.columns.toSeq.filter(_ != "vid").map(n => s"${v}_$n")
                  else Seq.empty)
          } ++ edgeVars.toSeq.filter(kv => !synth(kv._1)).flatMap(_._2) ++
            varLenVars.toSeq.filter(kv => !synth(kv._1)).map(_._2) ++
            valueVars.values.toSeq
          acc = acc.dropDuplicates(visible.distinct)
        }
        if (part.orderBy.nonEmpty) acc = acc.orderBy(resolveOrder(acc, part.orderBy): _*)
        part.skip.foreach(n => acc = acc.offset(n.toInt))
        part.limit.foreach(n => acc = acc.limit(n.toInt))
        part.where.foreach { w =>
          val pred = exprCol(w)
          acc = acc.filter(pred)
        }
        return
      }
      val itemNames = names(part.items)
      var out = projectItems(part.items, itemNames)
      if (part.distinct) out = out.dropDuplicates()
      if (part.orderBy.nonEmpty) out = out.orderBy(resolveOrder(out, part.orderBy): _*)
      part.skip.foreach(n => out = out.offset(n.toInt))
      part.limit.foreach(n => out = out.limit(n.toInt))
      // rebind the scope to exactly the carried items
      val keepEdges = part.items.collect {
        case RetItem(VarRef(v), None) if edgeVars.contains(v) => v -> edgeVars(v)
      }.toMap
      val newBound = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val newValues = scala.collection.mutable.LinkedHashMap.empty[String, String]
      part.items.zip(itemNames).foreach { case (RetItem(e, alias), n) =>
        e match {
          case VarRef(v) if edgeVars.contains(v) => () // carried whole-row
          case VarRef(v) if bound.contains(v) =>
            // a carried node var stays a node var (under its alias if any)
            newBound(alias.getOrElse(v)) = n
          case _ => newValues(n) = n
        }
      }
      bound.clear(); bound ++= newBound
      valueVars.clear(); valueVars ++= newValues
      edgeVars.clear(); edgeVars ++= keepEdges
      varLenVars.clear() // carry a hop count as `WITH length(e) AS n`
      nodeJoined.clear() // projected columns only — prop reads must rejoin
      acc = out
      part.where.foreach { w =>
        val pred = exprCol(w)
        acc = acc.filter(pred)
      }
    }

    def planUnwind(part: UnwindPart): Unit = {
      val listCol = exprCol(part.list) // resolves ListLit or a carried list column
      acc =
        if (acc == null) g.spark.range(1).select(explode(listCol).as(part.alias))
        else acc.select(col("*"), explode(listCol).as(part.alias))
      valueVars(part.alias) = part.alias
    }

    /** CALL proc(args) YIELD ...: the procedure runs on the query's graph
      * view through the [[Procedures]] registry and its yielded columns
      * become plain value bindings — so RETURN/WHERE/ORDER BY and further
      * WITH/UNWIND/MATCH parts compose over them like any other scope.
      * Restricted to the FIRST clause: openCypher's per-row mid-query CALL
      * would re-run a whole-graph algorithm per driving row, which is
      * never what an analytics user means — carry the yields through WITH
      * instead. Arguments are literals or $-parameters (resolved here at
      * plan time, like every other parameter). */
    def planCall(part: CallPart): Unit = {
      require(acc == null,
        "CALL is supported as the first clause only — YIELD its columns and chain " +
          "WITH/MATCH parts after it")
      def argValue(e: Expr): Any = e match {
        case Lit(v) => v
        case Neg(Lit(v: Long)) => -v
        case Neg(Lit(v: Double)) => -v
        case Param(n) => params.getOrElse(n,
          throw new IllegalArgumentException(s"missing query parameter $$$n"))
        case other => throw new IllegalArgumentException(
          s"CALL ${part.proc}: arguments must be literals or parameters, got $other")
      }
      val df = Procedures.invoke(g, part.proc, part.args.map(argValue))
      val avail = df.columns.toSeq
      val items: Seq[(String, String)] = // (source column, bound name)
        if (part.yieldAll) avail.map(c => c -> c)
        else part.yields.map { case (c, al) =>
          require(avail.contains(c),
            s"CALL ${part.proc} yields (${avail.mkString(", ")}); no column $c")
          c -> al.getOrElse(c)
        }
      val dup = items.groupBy(_._2).collect { case (n, xs) if xs.size > 1 => n }
      require(dup.isEmpty, s"YIELD binds ${dup.mkString(", ")} more than once")
      acc = df.select(items.map { case (c, n) => col(c).as(n) }: _*)
      items.foreach { case (_, n) => valueVars(n) = n }
      part.where.foreach(w => acc = acc.filter(exprCol(w)))
    }

    /** OPTIONAL MATCH: the pattern is planned as its own sub-frame (own
      * bindings, labels/property-map/WHERE constraints applied to the
      * OPTIONAL side — openCypher's pre-join filter semantics), then
      * LEFT-joined onto the current scope on the shared node variables.
      * Rows of the current scope with no match keep NULLs in the new
      * bindings. Leading or disconnected OPTIONAL MATCH (no shared
      * variable) is rejected — it would need a null-row fallback the
      * reference never executes either. */
    def planOptionalMatch(part: MatchPart): Unit = {
      require(acc != null,
        "OPTIONAL MATCH requires a preceding MATCH/UNWIND binding")
      // the sub-plan is built with the outer scope wiped, so an optional
      // WHERE can only see its own pattern variables; catch an outer-scope
      // reference up front with an actionable message instead of an
      // unbound-variable / unresolved-column crash mid-plan
      val patVars: Set[String] = part.chains.flatMap { ch =>
        ch.first.v.toSeq ++ ch.hops.flatMap { case (ep, np) => ep.v.toSeq ++ np.v.toSeq }
      }.toSet
      def exprVars(e: Expr): Set[String] = e match {
        case VarRef(v) => Set(v)
        case Prop(v, _) => Set(v)
        case Cmp(_, l, r) => exprVars(l) ++ exprVars(r)
        case And(l, r) => exprVars(l) ++ exprVars(r)
        case Or(l, r) => exprVars(l) ++ exprVars(r)
        case Xor(l, r) => exprVars(l) ++ exprVars(r)
        case Not(x) => exprVars(x)
        case IsNull(x, _) => exprVars(x)
        case Fn(_, a, _) => a.map(exprVars).getOrElse(Set.empty)
        case PctFn(_, a, _) => exprVars(a)
        case FnN(_, as) => as.flatMap(exprVars).toSet
        case Arith(_, l, r) => exprVars(l) ++ exprVars(r)
        case Neg(x) => exprVars(x)
        case CaseExpr(s, ws, e) =>
          (s.toSeq ++ ws.flatMap(w => Seq(w._1, w._2)) ++ e.toSeq).flatMap(exprVars).toSet
        case ListLit(items) => items.flatMap(exprVars).toSet
        // HOF lambda bindings are local — subtract them from their bodies
        case ListComp(v, l, p, m) =>
          exprVars(l) ++ ((p.toSeq ++ m.toSeq).flatMap(exprVars).toSet - v)
        case Quant(_, v, l, p) => exprVars(l) ++ (exprVars(p) - v)
        case ReduceExpr(a, i, v, l, s) =>
          exprVars(i) ++ exprVars(l) ++ (exprVars(s) -- Set(a, v))
        case PatternPred(ch, w) =>
          (ch.first.v.toSeq ++ ch.hops.flatMap(h => h._1.v.toSeq ++ h._2.v.toSeq)).toSet ++
            w.toSeq.flatMap(exprVars)
        case PatternCount(ch, w) => exprVars(PatternPred(ch, w))
        case PatternComp(ch, w, m) => exprVars(PatternPred(ch, w)) ++ exprVars(m)
        case _ => Set.empty
      }
      part.where.foreach { w =>
        val outerRefs = exprVars(w).diff(patVars).filter(v =>
          bound.contains(v) || valueVars.contains(v) || edgeVars.contains(v))
        if (outerRefs.nonEmpty) throw new UnsupportedOperationException(
          s"OPTIONAL MATCH WHERE may only reference its own pattern variables; " +
            s"${outerRefs.mkString(", ")} come from the outer scope — apply that " +
            "predicate in a WHERE/WITH after the OPTIONAL MATCH")
      }
      val outerAcc = acc
      val outerBound = bound.toMap
      val outerNodeJoined = nodeJoined.toSet
      acc = null
      bound.clear()
      nodeJoined.clear()
      planMatch(part.copy(optional = false))
      var sub = acc
      var subBound = bound.toMap
      val subNodeJoined = nodeJoined.toSet
      val shared = outerBound.keySet.intersect(subBound.keySet)
      require(shared.nonEmpty,
        "OPTIONAL MATCH must share at least one node variable with the preceding scope")
      // a shared var's node-table columns on the SUB side exist only to
      // apply the pre-join label/property/WHERE constraints (already done
      // inside the sub-plan); keeping them would duplicate the outer
      // side's `<v>_name`/... columns and make every later read ambiguous
      for (v <- shared if subNodeJoined(v); c <- g.nodes.columns if c != "vid")
        sub = sub.drop(s"${v}_$c")
      // identical binding-column names on both sides (e.g. two bare node
      // scans both binding `a_vid`) would make the join condition
      // self-referential — rename the sub side's before joining
      shared.toSeq.filter(v => subBound(v) == outerBound(v)).foreach { v =>
        val r = s"${v}__ovid"
        sub = sub.withColumnRenamed(subBound(v), r)
        subBound = subBound.updated(v, r)
      }
      val conds = shared.toSeq.map(v => col(outerBound(v)) === col(subBound(v)))
      acc = outerAcc.join(sub, conds.reduce(_ && _), "left")
      // outer bindings win for shared vars; sub-only bindings merge in.
      // A shared var's node-table columns from the sub side are NULL on
      // unmatched rows, so only sub-EXCLUSIVE vars keep their joined mark.
      bound.clear(); bound ++= outerBound
      subBound.foreach { case (v, c) => if (!bound.contains(v)) bound(v) = c }
      nodeJoined.clear(); nodeJoined ++= outerNodeJoined
      nodeJoined ++= subNodeJoined.diff(shared)
    }

    q.parts.foreach {
      case p: MatchPart if p.optional => planOptionalMatch(p)
      case p: MatchPart => planMatch(p)
      case p: WithPart => planWith(p)
      case p: UnwindPart => planUnwind(p)
      case p: CallPart => planCall(p)
    }
    require(acc != null, "query needs at least one MATCH, UNWIND or CALL part")

    val itemNames = names(q.items)
    var out: DataFrame =
      if (q.returnAll) {
        // every named binding's columns: node vids (+ joined node cols),
        // full edge rows, and value columns, in binding order; extra
        // `RETURN *, expr AS x` items append after them
        require(q.items.forall(it => !topAgg(it.expr)),
          "RETURN * cannot mix aggregates — name the grouping keys explicitly")
        // snapshot which node tables the * set includes BEFORE extras
        // lazily join more (an extra's a.prop read must not widen *)
        val joinedBefore = nodeJoined.toSet
        val extraCols = q.items.zip(itemNames).map { case (RetItem(e, _), n) =>
          exprCol(e).as(n)
        }
        val nodeCols = bound.toSeq.filter(kv => !synth(kv._1)).flatMap { case (v, c) =>
          val extra = if (joinedBefore(v))
            g.nodes.columns.toSeq.filter(_ != "vid").map(n => col(s"${v}_$n"))
          else Seq.empty
          (col(c).as(s"${v}_vid") +: extra)
        }
        val eCols = edgeVars.toSeq.filter(kv => !synth(kv._1)).flatMap(_._2.map(col))
        val lenCols = varLenVars.toSeq.filter(kv => !synth(kv._1)).map(kv => col(kv._2))
        val vCols = valueVars.values.toSeq.map(col)
        acc.select((nodeCols ++ eCols ++ lenCols ++ vCols ++ extraCols): _*)
      } else projectItems(q.items, itemNames)
    if (q.distinct) out = out.dropDuplicates()
    if (q.orderBy.nonEmpty) out = out.orderBy(resolveOrder(out, q.orderBy): _*)
    // SKIP before LIMIT (openCypher): offset-then-limit keeps rows
    // skip..skip+limit of the sorted stream
    q.skip.foreach(n => out = out.offset(n.toInt))
    q.limit.foreach(n => out = out.limit(n.toInt))
    out
  }
}
