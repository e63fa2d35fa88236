package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.matchers.{Eq, Matcher, Re}

/** PromQL front-end: a recursive-descent parser and a compiler from the
  * PromQL expression AST onto this library's operators — selectors
  * resolve through [[graft.matchers.Matcher]] predicates, instant-vector
  * staleness through [[AsOf.gridFillWide]]'s candidate-explode fill,
  * range-vector functions through ONE lag window + ONE candidate-explode
  * aggregate, aggregations/binary ops through hash aggregates and
  * equi-joins on canonical label keys. Nothing here introduces a new
  * physical shape: every PromQL construct lowers to the same plans the
  * `ts_*` entries already price, so a 100 TB evaluation inherits their
  * scale story (map-side-combined aggregates, no lattice
  * materialization, no driver loops).
  *
  * The reference repo is the storage engine under this language
  * (`querier.go` exposes exactly the selector surface the evaluator
  * consumes); the language semantics follow the Prometheus evaluation
  * model: a range query evaluates the expression at each instant of the
  * `start + k·step ≤ end` lattice, an instant vector holds the latest
  * in-lookback sample per series, range selectors take the trailing
  * `(t − range, t]` half-open window, counter rate/increase extrapolate
  * to the window bounds.
  *
  * Supported surface (see PromQlSpec for the pinned vectors):
  *  - selectors: `metric{a="x", b!="y", c=~"re", d!~"re"}`, `offset`;
  *  - range functions: rate, irate, increase, delta, idelta, resets,
  *    changes, deriv, predict_linear, holt_winters (=
  *    double_exponential_smoothing), and the `*_over_time` family
  *    (avg/min/max/sum/count/last/stddev/stdvar/quantile/mad/present/
  *    absent);
  *  - instant functions: abs, ceil, floor, exp, ln, log2, log10, sqrt,
  *    sgn, round, clamp, clamp_min, clamp_max, histogram_quantile,
  *    vector, absent, sort/sort_desc, sort_by_label(_desc) (identity:
  *    relational results carry no element order), label_replace,
  *    label_join, timestamp, the calendar family (minute/hour/
  *    day_of_week/day_of_month/day_of_year/month/year/days_in_month,
  *    zero-arg or per-element), the trigonometric family (sin/cos/tan,
  *    a(sin|cos|tan), (sin|cos|tan)h, a(sin|cos|tan)h, deg, rad, pi),
  *    `time()` as a time-varying scalar, and `scalar()` (the single
  *    element per instant, NaN on 0/≥2);
  *  - aggregations with `by`/`without`: sum, min, max, avg, count,
  *    group, stddev, stdvar, quantile, topk, bottomk, count_values,
  *    limitk / limit_ratio (deterministic pick: lexicographic /
  *    canonical-hash sampling — upstream's pick is unspecified);
  *  - binary ops: `+ - * / % ^ atan2` (IEEE: x/0 = ±Inf, 0/0 = x%0 =
  *    NaN) and comparisons (with `bool`),
  *    vector↔scalar and vector↔vector (one-to-one `on`/`ignoring`,
  *    many-to-one `group_left`/`group_right` with include labels),
  *    set ops `and`/`or`/`unless`;
  *  - subqueries `expr[range:step]` as range-function arguments, with
  *    `offset` and `@`;
  *  - `@` on plain selectors, range selectors, and subqueries (fixed
  *    timestamp, `start()`, `end()` — resolved against the OUTERMOST
  *    query range even inside subqueries);
  *  - native histograms (the corridor, active when the bound source
  *    carries an `h` channel — [[NativeHistogram]]'s struct shape):
  *    histogram_count/sum/avg/stddev/stdvar/quantile/fraction over
  *    histogram-valued selectors, over `rate`/`increase`/`delta` of
  *    histogram range selectors (counter semantics + extrapolation per
  *    channel — the `histogram_quantile(0.9, rate(m[5m]))` SLO shape),
  *    and over `sum [by/without]` of either (bucket-wise merge; mixed
  *    schemas downscale to the group's coarsest). histogram_quantile
  *    unions its classic le-bucket half.
  *  Not supported: histogram arithmetic (the corridor's documented
  *  bound).
  *
  *  Vector matching raises Prometheus's execution error on DUPLICATE
  *  match keys (one-to-one: either side; many-to-one: the "one" side) —
  *  a `raise_error` branch fed by a count window whose (key, instant)
  *  partitioning the match join reuses, so the check prices one
  *  in-partition sort of lattice-scale rows, never a pass over
  *  samples. The error surfaces at action time, like any execution
  *  error in a lazy plan. */
object PromQl {

  // ---------------------------------------------------------------- AST

  sealed trait Expr
  final case class NumberLit(v: Double) extends Expr
  final case class StringLit(s: String) extends Expr
  /** `@` modifier target: a fixed epoch instant, or the query range's
    * own start/end. */
  sealed trait At
  case object AtStart extends At
  case object AtEnd extends At
  final case class AtMs(ms: Long) extends At
  final case class Selector(
      name: Option[String],
      matchers: Seq[Matcher],
      offsetMs: Long,
      at: Option[At] = None) extends Expr
  final case class RangeSel(sel: Selector, rangeMs: Long) extends Expr
  final case class Call(fn: String, args: Seq[Expr]) extends Expr
  final case class Agg(
      op: String,
      param: Option[Expr],
      body: Expr,
      grouping: Seq[String],
      without: Boolean) extends Expr
  /** Vector-matching modifiers: `on`/`ignoring` label set plus the
    * many-to-one cardinality (`group_left`/`group_right`) and its
    * include labels. card: 0 = one-to-one, 1 = many-to-one (lhs many),
    * 2 = one-to-many (rhs many). */
  final case class Matching(
      on: Boolean,
      labels: Seq[String],
      card: Int = 0,
      include: Seq[String] = Nil)
  final case class Bin(
      op: String,
      lhs: Expr,
      rhs: Expr,
      bool: Boolean,
      matchOn: Option[Matching]) extends Expr
  final case class Neg(e: Expr) extends Expr
  /** `expr[range:step]` — the inner expression evaluated on a `step`
    * lattice, consumed as a range vector (step 0 = the outer query's
    * step). */
  final case class Subquery(
      body: Expr,
      rangeMs: Long,
      stepMs: Long,
      offsetMs: Long = 0L,
      at: Option[At] = None) extends Expr

  // ------------------------------------------------------------- Lexer

  private sealed trait Tok
  private case class TNum(v: Double) extends Tok
  private case class TDur(ms: Long) extends Tok
  private case class TIdent(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TOp(s: String) extends Tok
  private case object TEof extends Tok

  private val aggOps = Set("sum", "min", "max", "avg", "count", "group",
    "stddev", "stdvar", "quantile", "topk", "bottomk", "count_values",
    "limitk", "limit_ratio")

  private def unitMs(q: String, at: Int): Option[(Long, Int)] =
    if (at >= q.length) None
    else if (at + 1 < q.length && q.charAt(at) == 'm' && q.charAt(at + 1) == 's')
      Some((1L, 2))
    else q.charAt(at) match {
      case 's' => Some((1000L, 1))
      case 'm' => Some((60000L, 1))
      case 'h' => Some((3600000L, 1))
      case 'd' => Some((86400000L, 1))
      case 'w' => Some((7 * 86400000L, 1))
      case 'y' => Some((365 * 86400000L, 1))
      case _ => None
    }

  private def lex(q: String): Seq[Tok] = {
    val out = Seq.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit || (c == '.' && i + 1 < q.length && q.charAt(i + 1).isDigit)) {
        val start = i
        while (i < q.length && (q.charAt(i).isDigit || q.charAt(i) == '.')) i += 1
        val mantissa = q.substring(start, i)
        // duration literal: 5m, 1h30m, 90s, 10ms, 2d, 1w, 1y — an
        // integer count followed by a unit, possibly compounded
        if (!mantissa.contains('.') && unitMs(q, i).isDefined) {
          var ms = 0L
          var n = mantissa.toLong
          var go = true
          while (go) {
            val (u, w) = unitMs(q, i).getOrElse(fail("bad duration unit"))
            ms += n * u
            i += w
            if (i < q.length && q.charAt(i).isDigit) {
              val ns = i
              while (i < q.length && q.charAt(i).isDigit) i += 1
              n = q.substring(ns, i).toLong
              if (unitMs(q, i).isEmpty) fail("bad compound duration")
            } else go = false
          }
          out += TDur(ms)
        } else if ((i < q.length && (q.charAt(i) == 'e' || q.charAt(i) == 'E'))) {
          i += 1
          if (i < q.length && (q.charAt(i) == '+' || q.charAt(i) == '-')) i += 1
          while (i < q.length && q.charAt(i).isDigit) i += 1
          out += TNum(q.substring(start, i).toDouble)
        } else out += TNum(q.substring(start, i).toDouble)
      }
      else if (c.isLetter || c == '_' || c == ':') {
        val start = i
        while (i < q.length && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_' || q.charAt(i) == ':')) i += 1
        out += TIdent(q.substring(start, i))
      }
      else if (c == '"' || c == '\'') {
        val quote = c
        i += 1
        val sb = new StringBuilder
        while (i < q.length && q.charAt(i) != quote) {
          if (q.charAt(i) == '\\' && i + 1 < q.length) {
            i += 1
            sb.append(q.charAt(i) match {
              case 'n' => '\n'; case 't' => '\t'; case '\\' => '\\'
              case `quote` => quote; case other => other
            })
          } else sb.append(q.charAt(i))
          i += 1
        }
        if (i >= q.length) fail("unterminated string")
        i += 1
        out += TStr(sb.toString)
      }
      else {
        val two = if (i + 1 < q.length) q.substring(i, i + 2) else ""
        if (Set("==", "!=", ">=", "<=", "=~", "!~").contains(two)) { out += TOp(two); i += 2 }
        else if ("+-*/%^(){}[],<>=@".indexOf(c.toInt) >= 0) { out += TOp(c.toString); i += 1 }
        else fail(s"unexpected character '$c'")
      }
    }
    out += TEof
    out.result()
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"promql: $msg")

  // ------------------------------------------------------------ Parser

  def parse(q: String): Expr = new Parser(lex(q)).parseAll()

  /** Widest time the expression can reach behind an evaluation instant
    * — staleness lookback or selector range, plus any offset — so a
    * storage layer can bound its scan to `[start − lookbehind, end]`
    * instead of reading all history. */
  def maxLookbehindMs(query: String, lookbackMs: Long): Long =
    maxLookbehind(parse(query), lookbackMs)

  private def maxLookbehind(e: Expr, look: Long): Long = e match {
    // clamp at 0: a negative (forward) offset must not SHRINK the bound
    case s: Selector => math.max(0L, look + s.offsetMs)
    case RangeSel(s, r) => math.max(0L, r + s.offsetMs)
    case Call(_, args) =>
      (args.map(maxLookbehind(_, look)) :+ 0L).max
    case Agg(_, p, b, _, _) =>
      (p.toSeq :+ b).map(maxLookbehind(_, look)).max
    case Bin(_, l, r, _, _) =>
      math.max(maxLookbehind(l, look), maxLookbehind(r, look))
    case Subquery(body, r, _, o, _) =>
      math.max(0L, r + maxLookbehind(body, look) + o)
    case Neg(x) => maxLookbehind(x, look)
    case _ => 0L
  }

  /** The sample time range the expression can read for the evaluation
    * window `[startMs, endMs]` — [[maxLookbehindMs]] generalized to `@`
    * modifiers, whose pinned instants are ABSOLUTE and may fall outside
    * `[start − lookbehind, end]` entirely. Storage layers bound their
    * scan with this; the naive `[start − maxLookbehind, end]` silently
    * starves an `@`-pinned selector of its samples. */
  def scanBoundsMs(
      query: String, startMs: Long, endMs: Long, lookbackMs: Long): (Long, Long) = {
    var lo = if (startMs < Long.MinValue + lookbackMs) Long.MinValue
      else startMs - lookbackMs
    var hi = endMs
    def visit(e: Expr): Unit = e match {
      case s: Selector =>
        val (refLo, refHi) = s.at match {
          case Some(AtMs(ms)) => (ms, ms)
          case Some(AtStart) => (startMs, startMs)
          case Some(AtEnd) => (endMs, endMs)
          case None => (startMs, endMs)
        }
        lo = math.min(lo, refLo - lookbackMs - s.offsetMs)
        // a NEGATIVE offset reads samples AHEAD of the instant
        hi = math.max(hi, refHi - math.min(0L, s.offsetMs))
      case RangeSel(s, r) =>
        val (refLo, refHi) = s.at match {
          case Some(AtMs(ms)) => (ms, ms)
          case Some(AtStart) => (startMs, startMs)
          case Some(AtEnd) => (endMs, endMs)
          case None => (startMs, endMs)
        }
        lo = math.min(lo, refLo - r - s.offsetMs)
        hi = math.max(hi, refHi - math.min(0L, s.offsetMs))
      case Call(_, args) => args.foreach(visit)
      case Agg(_, p, b, _, _) => p.foreach(visit); visit(b)
      case Bin(_, l, r, _, _) => visit(l); visit(r)
      case Subquery(body, r, _, o, at) =>
        // the inner lattice reaches back `r` (+ a positive offset)
        // further than the outer one; an @-pin moves the whole window
        // to the pinned instant's past, a negative offset reads ahead
        val saved = lo
        visit(body)
        val (refLo, refHi) = at match {
          case Some(AtMs(ms)) => (ms, ms)
          case Some(AtStart) => (startMs, startMs)
          case Some(AtEnd) => (endMs, endMs)
          case None => (startMs, endMs)
        }
        lo = math.min(
          math.min(saved, lo - r - math.max(0L, o)),
          refLo - o - r - maxLookbehind(body, lookbackMs))
        hi = math.max(hi, refHi - math.min(0L, o))
      case Neg(x) => visit(x)
      case _ =>
    }
    visit(parse(query))
    (lo, hi)
  }

  private final class Parser(toks: Seq[Tok]) {
    private var pos = 0
    private def cur: Tok = toks(pos)
    private def advance(): Tok = { val t = cur; pos += 1; t }
    private def expectOp(s: String): Unit = cur match {
      case TOp(`s`) => pos += 1
      case other => fail(s"expected '$s', got $other")
    }

    def parseAll(): Expr = {
      val e = parseOr()
      cur match {
        case TEof => e
        case other => fail(s"trailing input at $other")
      }
    }

    // precedence (loosest to tightest): or < and/unless < comparison
    // < +- < */% < ^ (right) < unary < atom
    private def parseOr(): Expr = binL(Seq("or"), () => parseAnd())
    private def parseAnd(): Expr = binL(Seq("and", "unless"), () => parseCmp())
    private def parseCmp(): Expr =
      binL(Seq("==", "!=", ">", "<", ">=", "<="), () => parseAdd())
    private def parseAdd(): Expr = binL(Seq("+", "-"), () => parseMul())
    private def parseMul(): Expr = binL(Seq("*", "/", "%", "atan2"), () => parseUnary())
    // unary ops take MUL precedence, BELOW the right-assoc '^' (the
    // PromQL grammar's `unary_op expr %prec MUL`): -2^2 = -(2^2) = -4,
    // while an exponent re-enters at the unary level so 2^-2 parses
    private def parseUnary(): Expr = cur match {
      case TOp("-") => pos += 1; Neg(parseUnary())
      case TOp("+") => pos += 1; parseUnary()
      case _ => parsePow()
    }
    private def parsePow(): Expr = {
      val lhs = parseAtom()
      cur match {
        case TOp("^") =>
          pos += 1
          val (bool, m) = parseBinModifiers()
          Bin("^", lhs, parseUnary(), bool, m) // right-assoc
        case _ => lhs
      }
    }

    private def binL(ops: Seq[String], next: () => Expr): Expr = {
      var lhs = next()
      var go = true
      while (go) cur match {
        case TOp(o) if ops.contains(o) =>
          pos += 1
          val (bool, m) = parseBinModifiers()
          lhs = Bin(o, lhs, next(), bool, m)
        case TIdent(o) if ops.contains(o) =>
          pos += 1
          val (bool, m) = parseBinModifiers()
          lhs = Bin(o, lhs, next(), bool, m)
        case _ => go = false
      }
      lhs
    }

    private def parseBinModifiers(): (Boolean, Option[Matching]) = {
      var bool = false
      var matching: Option[Matching] = None
      var go = true
      while (go) cur match {
        case TIdent("bool") => bool = true; pos += 1
        case TIdent("on") =>
          pos += 1
          matching = Some(Matching(on = true, parseLabelList()))
        case TIdent("ignoring") =>
          pos += 1
          matching = Some(Matching(on = false, parseLabelList()))
        case TIdent(g @ ("group_left" | "group_right")) =>
          pos += 1
          val include = cur match {
            case TOp("(") => parseLabelList()
            case _ => Nil
          }
          val base = matching.getOrElse(
            fail(s"$g requires an on/ignoring clause"))
          matching = Some(base.copy(
            card = if (g == "group_left") 1 else 2, include = include))
        case _ => go = false
      }
      (bool, matching)
    }

    private def parseLabelList(): Seq[String] = {
      expectOp("(")
      val out = Seq.newBuilder[String]
      var go = cur != TOp(")")
      while (go) {
        advance() match {
          case TIdent(l) => out += l
          case other => fail(s"expected label name, got $other")
        }
        cur match {
          case TOp(",") => pos += 1
          case _ => go = false
        }
      }
      expectOp(")")
      out.result()
    }

    private def parseAtom(): Expr = {
      val base = cur match {
        case TNum(v) => pos += 1; NumberLit(v)
        case TStr(s) => pos += 1; StringLit(s)
        // PromQL number literals the lexer sees as identifiers
        case TIdent(s) if s.equalsIgnoreCase("inf") =>
          pos += 1; NumberLit(Double.PositiveInfinity)
        case TIdent(s) if s.equalsIgnoreCase("nan") =>
          pos += 1; NumberLit(Double.NaN)
        case TOp("(") =>
          pos += 1
          val e = parseOr()
          expectOp(")")
          e
        case TOp("{") => parseSelectorTail(None)
        case TIdent(id) if aggOps.contains(id) => parseAggregate(id)
        case TIdent(id) =>
          pos += 1
          cur match {
            case TOp("(") => // function call
              pos += 1
              val args = Seq.newBuilder[Expr]
              if (cur != TOp(")")) {
                args += parseOr()
                while (cur == TOp(",")) { pos += 1; args += parseOr() }
              }
              expectOp(")")
              Call(id, args.result())
            case _ => parseSelectorTail(Some(id))
          }
        case other => fail(s"unexpected $other")
      }
      postfix(base)
    }

    /** `[range]`, `[range:step]` and `offset` modifiers. */
    private def postfix(e: Expr): Expr = cur match {
      case TOp("[") =>
        pos += 1
        val r = advance() match {
          case TDur(ms) => ms
          case other => fail(s"expected duration in range selector, got $other")
        }
        cur match {
          // subquery `[range:step]` / `[range:]` — the lexer folds the
          // colon (an identifier character, recording-rule names) into
          // one token `:` or `:<dur>`
          case TIdent(s) if s.startsWith(":") =>
            pos += 1
            val step =
              if (s == ":") 0L
              else lex(s.drop(1)) match {
                case Seq(TDur(ms), TEof) => ms
                case _ => fail(s"bad subquery step '$s'")
              }
            expectOp("]")
            postfix(Subquery(e, r, step))
          case _ =>
            expectOp("]")
            e match {
              case s: Selector => postfix(RangeSel(s, r))
              case _ => fail(
                "range selector requires a plain vector selector (use [range:step] for a subquery)")
            }
        }
      case TIdent("offset") =>
        pos += 1
        // a negative offset looks FORWARD (Prometheus allows it)
        val neg = cur == TOp("-")
        if (neg) pos += 1
        val o0 = advance() match {
          case TDur(ms) => ms
          case other => fail(s"expected duration after offset, got $other")
        }
        val o = if (neg) -o0 else o0
        e match {
          case s: Selector => postfix(s.copy(offsetMs = o))
          case RangeSel(s, r) => postfix(RangeSel(s.copy(offsetMs = o), r))
          case sq: Subquery => postfix(sq.copy(offsetMs = o))
          case _ => fail("offset requires a selector or subquery")
        }
      case TOp("@") =>
        pos += 1
        val at = advance() match {
          case TNum(sec) => AtMs((sec * 1000.0).toLong)
          case TIdent(w @ ("start" | "end")) =>
            expectOp("("); expectOp(")")
            if (w == "start") AtStart else AtEnd
          case other => fail(s"expected timestamp or start()/end() after @, got $other")
        }
        e match {
          case s: Selector => postfix(s.copy(at = Some(at)))
          case RangeSel(s, r) => postfix(RangeSel(s.copy(at = Some(at)), r))
          case sq: Subquery => postfix(sq.copy(at = Some(at)))
          case _ => fail("@ is supported on selectors and subqueries only")
        }
      case _ => e
    }

    private def parseSelectorTail(name: Option[String]): Expr = {
      val ms = Seq.newBuilder[Matcher]
      if (cur == TOp("{")) {
        pos += 1
        var go = cur != TOp("}")
        while (go) {
          val label = advance() match {
            case TIdent(l) => l
            case other => fail(s"expected label name, got $other")
          }
          val op = advance() match {
            case TOp(o @ ("=" | "!=" | "=~" | "!~")) => o
            case TOp("==") => "=" // tolerate
            case other => fail(s"expected matcher op, got $other")
          }
          val value = advance() match {
            case TStr(s) => s
            case other => fail(s"expected quoted value, got $other")
          }
          ms += (op match {
            case "=" => Eq(label, value)
            case "!=" => Matcher.neq(label, value)
            case "=~" => Re(label, value)
            case "!~" => Matcher.notRe(label, value)
          })
          cur match {
            case TOp(",") => pos += 1; go = cur != TOp("}")
            case _ => go = false
          }
        }
        expectOp("}")
      }
      Selector(name, ms.result(), 0L)
    }

    private def parseAggregate(op: String): Expr = {
      pos += 1
      // modifiers may come before or after the body
      var grouping: Seq[String] = Nil
      var without = false
      var seen = false
      def tryModifier(): Unit = cur match {
        case TIdent("by") => pos += 1; grouping = parseLabelList(); seen = true
        case TIdent("without") =>
          pos += 1; grouping = parseLabelList(); without = true; seen = true
        case _ =>
      }
      tryModifier()
      expectOp("(")
      val first = parseOr()
      val (param, body) =
        if (cur == TOp(",")) { pos += 1; (Some(first), parseOr()) }
        else (None, first)
      expectOp(")")
      if (!seen) tryModifier()
      Agg(op, param, body, grouping, without)
    }
  }

  // ---------------------------------------------------------- Compiler

  /** Range-query evaluation parameters: the instant lattice
    * `start + k·step ≤ end` plus the staleness lookback (Prometheus
    * default 5m). `nameLabel` is the metric-identity label of the
    * source corpus (`__name__` in Prometheus; the events fixture uses
    * `name`). */
  final case class Params(
      startMs: Long,
      endMs: Long,
      stepMs: Long,
      lookbackMs: Long = 300000L,
      /** Default resolution for subqueries written `[range:]` — the
        * analogue of Prometheus's default evaluation interval (its
        * upstream default, 1m). */
      defaultEvalMs: Long = 60000L,
      nameLabel: String = "__name__",
      /** Matcher-pushdown hook: when set, selectors fetch their samples
        * through it instead of filtering the generic `labels` map —
        * e.g. `TsdbSource.select` (matchers compile onto SOURCE columns
        * and reach the parquet scan) or `BlockStore.readRange`
        * (matchers resolve in the postings index). The returned frame
        * must be the canonical long format including `labels`, covering
        * at least `[start − maxLookbehindMs, end]`. Without it, a
        * selector predicate over the constructed map cannot fold
        * through `map_filter` and never reaches the scan — correct, but
        * a full-corpus read at 100 TB. */
      pushdown: Option[Seq[Matcher] => DataFrame] = None,
      /** Range functions evaluate by candidate-explode (each sample
        * fans out to the ⌈range/step⌉ instants it contributes to) up
        * to this fan-out, and switch to an anchored RANGE-frame
        * window above it: a long-range/short-step query like
        * `rate(m[1d])` at 1m resolution would otherwise amplify every
        * sample 1440× before the aggregate. Tests pin both plans
        * equal by forcing 0 (always window) / MaxValue (always
        * explode). */
      rangeExplodeCapK: Int = 64,
      /** Hint every per-series dimension join the compiler emits as a
        * broadcast. Only a caller that can bound the matched series set
        * sets it (a store read: [[graft.Db.promql]] passes the store's
        * own driver-resident gate); an unconditional `broadcast()` over
        * 10⁸ series forces a driver-side build that OOMs, so by default
        * the hint is dropped and AQE picks the strategy from runtime
        * sizes. */
      broadcastDims: Boolean = false) {
    /** A per-series dim (one row per series) with the broadcast hint
      * applied only when the caller said the driver-side build is safe. */
    private[query] def hintSeriesDim(dim: DataFrame): DataFrame =
      if (broadcastDims) broadcast(dim) else dim
  }

  /** The per-series labels dimension `(series_key, labels)` every
    * labels-re-attach join consumes — WITHOUT the sample-grain sort the
    * obvious `groupBy(series_key).agg(first(labels))` pays: a MAP
    * aggregation buffer cannot live in the UnsafeRow hash map, so that
    * form compiles to a partial SortAggregate that SORTS the full
    * sample volume by series_key before shrinking it (profiled as the
    * dominant re-attach cost at 20M+ rows, r12). Grouping
    * KEYS, unlike buffers, may be var-length and need only be
    * orderable, so: dedup on the canonically-sorted entry array (one
    * HashAggregate with ZERO aggregate buffers, map-side combined —
    * the shuffle carries one row per series per partition) and rebuild
    * the map from the per-series remainder. The entry sort makes the
    * key identical for rows whose maps agree but differ in insertion
    * order — exactly the rows `first()` collapsed arbitrarily. */
  private[graft] def seriesLabelsDim(src: DataFrame): DataFrame =
    src.select(col("series_key"),
        graft.functions.canonicalLabelEntries(col("labels")).as("__le"))
      .distinct()
      .select(col("series_key"), map_from_entries(col("__le")).as("labels"))

  /** A compiled value: an instant vector (frame of
    * `series_key, labels, t, v`) or a constant scalar. */
  private sealed trait Value
  private final case class Vec(df: DataFrame) extends Value
  private final case class Scal(v: Double) extends Value
  /** A time-varying scalar — `time()` and arithmetic over it: one value
    * per lattice instant, no labels. Binary ops against a vector join
    * on `t` alone (the per-element scalar semantics). */
  private final case class ScalV(df: DataFrame) extends Value // (t, v)

  /** True iff `query` is a top-level range vector (`m[5m]`,
    * `expr[r:s]`) — its instant-query result is a MATRIX (the raw
    * window content), the HTTP API's `resultType` switch. */
  def isRangeVector(query: String): Boolean = parse(query) match {
    case _: RangeSel | _: Subquery => true
    case _ => false
  }

  // ------------------------------------------- printer (format_query)

  /** Operator precedence (low→high): `or` < `and`/`unless` <
    * comparisons < `+`/`-` < `*`/`/`/`%`/`atan2` < `^`. */
  private val precOf = Map("or" -> 1, "and" -> 2, "unless" -> 2,
    "==" -> 3, "!=" -> 3, ">" -> 3, "<" -> 3, ">=" -> 3, "<=" -> 3,
    "+" -> 4, "-" -> 4, "*" -> 5, "/" -> 5, "%" -> 5, "atan2" -> 5,
    "^" -> 6)

  /** Shortest `1w2d3h4m5s6ms` duration text (the API's duration
    * convention; `0s` for zero). */
  private[graft] def durStr(ms: Long): String =
    if (ms == 0) "0s"
    else {
      val sb = new StringBuilder
      if (ms < 0) sb.append('-')
      var r = math.abs(ms)
      Seq("w" -> 604800000L, "d" -> 86400000L, "h" -> 3600000L,
        "m" -> 60000L, "s" -> 1000L, "ms" -> 1L).foreach { case (u, w) =>
        if (r >= w) { sb.append(r / w).append(u); r %= w }
      }
      sb.toString
    }

  private def quoted(s: String): String = "\"" + ResultJson.esc(s) + "\""

  private def matcherStr(m: Matcher): String = m match {
    case graft.matchers.Eq(n, v) => s"""$n=${quoted(v)}"""
    case graft.matchers.Re(n, p) => s"""$n=~${quoted(p)}"""
    case graft.matchers.Not(graft.matchers.Eq(n, v)) => s"""$n!=${quoted(v)}"""
    case graft.matchers.Not(graft.matchers.Re(n, p)) => s"""$n!~${quoted(p)}"""
    case other => sys.error(s"unprintable matcher $other")
  }

  private def atStr(at: At): String = at match {
    case AtStart => " @ start()"
    case AtEnd => " @ end()"
    case AtMs(ms) => " @ " + (if (ms % 1000 == 0) (ms / 1000).toString
      else (ms / 1000.0).toString)
  }

  private def selBase(s: Selector): String = {
    val ms = s.matchers.map(matcherStr)
    s.name.getOrElse("") +
      (if (ms.isEmpty && s.name.isDefined) ""
       else ms.mkString("{", ",", "}"))
  }

  private def selMods(offsetMs: Long, at: Option[At]): String =
    (if (offsetMs != 0) s" offset ${durStr(offsetMs)}" else "") +
      at.map(atStr).getOrElse("")

  /** Render the AST back to canonical PromQL text — the
    * `format_query` endpoint's body. Minimal parentheses: an operand
    * keeps parens only when its operator binds no tighter than its
    * parent's (with `^`'s right-associativity honoured). */
  def format(e: Expr): String = e match {
    case NumberLit(v) => ResultJson.fmtV(v)
    case StringLit(s) => quoted(s)
    case s: Selector => selBase(s) + selMods(s.offsetMs, s.at)
    case RangeSel(s, r) =>
      selBase(s) + s"[${durStr(r)}]" + selMods(s.offsetMs, s.at)
    case Call(fn, args) => s"$fn(${args.map(format).mkString(", ")})"
    case Agg(op, param, body, grouping, without) =>
      val mod =
        if (without) s" without (${grouping.mkString(", ")})"
        else if (grouping.nonEmpty) s" by (${grouping.mkString(", ")})"
        else ""
      val args = (param.toSeq :+ body).map(format).mkString(", ")
      s"$op$mod($args)"
    case Neg(inner) => inner match {
      case _: Bin => s"-(${format(inner)})"
      case _ => "-" + format(inner)
    }
    case sq: Subquery =>
      val body = sq.body match {
        case _: Bin | _: Neg => s"(${format(sq.body)})"
        case _ => format(sq.body)
      }
      val step = if (sq.stepMs == 0) "" else durStr(sq.stepMs)
      body + s"[${durStr(sq.rangeMs)}:$step]" + selMods(sq.offsetMs, sq.at)
    case Bin(op, lhs, rhs, bool, matching) =>
      val p = precOf(op)
      def side(e: Expr, right: Boolean): String = {
        val needs = e match {
          case Bin(o, _, _, _, _) =>
            val q = precOf(o)
            q < p || (q == p && (if (op == "^") !right else right))
          case _ => false
        }
        if (needs) s"(${format(e)})" else format(e)
      }
      val mod = matching.map { m =>
        val onPart =
          (if (m.on) s" on (${m.labels.mkString(", ")})"
           else s" ignoring (${m.labels.mkString(", ")})")
        val cardPart = m.card match {
          case 1 => s" group_left (${m.include.mkString(", ")})"
          case 2 => s" group_right (${m.include.mkString(", ")})"
          case _ => ""
        }
        onPart + cardPart
      }.getOrElse("")
      val boolPart = if (bool) " bool" else ""
      s"${side(lhs, right = false)} $op$boolPart$mod ${side(rhs, right = true)}"
  }

  // -------------------------------------- AST JSON (parse_query)

  /** The `parse_query` endpoint's AST tree — the upstream
    * `translate_ast` shape (node `type` discriminators
    * `vectorSelector`/`matrixSelector`/`call`/`aggregation`/
    * `binaryExpr`/`unaryExpr`/`subquery`/`numberLiteral`/
    * `stringLiteral`, matchers with `=`/`!=`/`=~`/`!~` types). */
  def astJson(e: Expr): String = {
    def jstr(s: String): String = quoted(s)
    def matcherJson(m: Matcher): String = {
      val (n, t, v) = m match {
        case graft.matchers.Eq(n0, v0) => (n0, "=", v0)
        case graft.matchers.Re(n0, p0) => (n0, "=~", p0)
        case graft.matchers.Not(graft.matchers.Eq(n0, v0)) => (n0, "!=", v0)
        case graft.matchers.Not(graft.matchers.Re(n0, p0)) => (n0, "!~", p0)
        case other => sys.error(s"unprintable matcher $other")
      }
      s"""{"name":${jstr(n)},"type":${jstr(t)},"value":${jstr(v)}}"""
    }
    def atJson(at: Option[At]): String = at match {
      case Some(AtMs(ms)) => s""""timestamp":$ms,"startOrEnd":null"""
      case Some(AtStart) => """"timestamp":null,"startOrEnd":"start""""
      case Some(AtEnd) => """"timestamp":null,"startOrEnd":"end""""
      case None => """"timestamp":null,"startOrEnd":null"""
    }
    def selJson(s: Selector, range: Option[Long]): String = {
      val ms = s.name.map(n => graft.matchers.Eq("__name__", n)).toSeq ++
        s.matchers
      val t = if (range.isDefined) "matrixSelector" else "vectorSelector"
      val rangePart = range.map(r => s""""range":${jstr(durStr(r))},""").getOrElse("")
      s"""{"type":${jstr(t)},"name":${jstr(s.name.getOrElse(""))},""" +
        s""""matchers":[${ms.map(matcherJson).mkString(",")}],$rangePart""" +
        s""""offset":${jstr(durStr(s.offsetMs))},${atJson(s.at)}}"""
    }
    e match {
      case NumberLit(v) =>
        s"""{"type":"numberLiteral","val":${jstr(ResultJson.fmtV(v))}}"""
      case StringLit(s) =>
        s"""{"type":"stringLiteral","val":${jstr(s)}}"""
      case s: Selector => selJson(s, None)
      case RangeSel(s, r) => selJson(s, Some(r))
      case Call(fn, args) =>
        s"""{"type":"call","func":{"name":${jstr(fn)}},""" +
          s""""args":[${args.map(astJson).mkString(",")}]}"""
      case Agg(op, param, body, grouping, without) =>
        s"""{"type":"aggregation","op":${jstr(op)},""" +
          s""""expr":${astJson(body)},""" +
          s""""param":${param.map(astJson).getOrElse("null")},""" +
          s""""grouping":[${grouping.map(jstr).mkString(",")}],""" +
          s""""without":$without}"""
      case Neg(inner) =>
        s"""{"type":"unaryExpr","op":"-","expr":${astJson(inner)}}"""
      case sq: Subquery =>
        s"""{"type":"subquery","expr":${astJson(sq.body)},""" +
          s""""range":${jstr(durStr(sq.rangeMs))},""" +
          s""""step":${jstr(durStr(sq.stepMs))},""" +
          s""""offset":${jstr(durStr(sq.offsetMs))},${atJson(sq.at)}}"""
      case Bin(op, lhs, rhs, bool, matching) =>
        val m = matching.map { mm =>
          s""","matching":{"card":${jstr(mm.card match {
            case 1 => "many-to-one"; case 2 => "one-to-many"
            case _ => "one-to-one" })},""" +
            s""""on":${mm.on},"labels":[${mm.labels.map(jstr).mkString(",")}],""" +
            s""""include":[${mm.include.map(jstr).mkString(",")}]}"""
        }.getOrElse("")
        s"""{"type":"binaryExpr","op":${jstr(op)},""" +
          s""""lhs":${astJson(lhs)},"rhs":${astJson(rhs)},"bool":$bool$m}"""
    }
  }

  /** The corridor's histogram struct type (the `h` channel of a mixed
    * samples frame, [[NativeHistogram]]'s packed shape). */
  val HistType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(
      "struct<schema:int,zt:double,z_count:double,count:double," +
        "sum:double,neg:array<struct<i:int,c:double>>," +
        "pos:array<struct<i:int,c:double>>>")

  /** [[eval]] extended with the native-histogram channel: the result
    * frame carries BOTH `v` and `h` (exactly one non-null per row). A
    * float-valued expression returns its vector with a typed-null `h`;
    * when the source carries histograms and the expression is
    * histogram-shaped (a selector, `rate`/`increase`/`delta` of a range
    * selector, or `sum [by/without]` of those), the histogram channel's
    * elements UNION in — each channel is empty exactly where the other
    * sample kind wins the staleness fill ([[Compiler.mixedFill]]), the
    * upstream mixed-metric behavior. Corridor corner (documented): a
    * `sum` whose GROUP mixes float and histogram elements at one
    * instant emits one element per channel (upstream warns and drops
    * the group); disjoint groups — the real-world shape — behave
    * identically. This is the serving stack's entry: [[ResultJson]]
    * renders per row whichever channel is present (the Prometheus
    * sample envelope's value-vs-histogram switch). */
  def evalMixed(query: String, samples: DataFrame, p: Params): DataFrame = {
    val floats = eval(query, samples, p)
      .withColumn("h", lit(null).cast(HistType))
    val (hOpt, floatSide) =
      if (!samples.columns.contains("h")) (None, floats)
      else parse(query) match {
        case rv @ (_: RangeSel | _: Subquery) =>
          // matrix replay: union the RAW histogram samples of the
          // window into the range literal — upstream returns both
          // channels' samples for `mh[5m]` over a mixed/histogram
          // series. The float replay reads the generic window (whose
          // `v` is null exactly on histogram rows), so it drops the
          // null-v rows the h channel now carries.
          (new Compiler(samples, p).histRangeLiteral(rv),
            floats.where(col("v").isNotNull))
        case ast => (new Compiler(samples, p).histVec(ast), floats)
      }
    hOpt match {
      case Some(hv) => floatSide.unionByName(hv.select(
        col("series_key"), col("labels"), col("t"),
        lit(null).cast("double").as("v"), col("h")))
      case None => floats
    }
  }

  /** Evaluate `query` over `samples` on the `p` lattice: one
    * `(series_key, labels, t, v)` row per element, in no particular
    * order ([[ResultJson.render]] orders what it serves). */
  def eval(query: String, samples: DataFrame, p: Params): DataFrame = {
    require(p.stepMs > 0 && p.endMs >= p.startMs, "bad evaluation range")
    val out = parse(query) match {
      // a TOP-LEVEL range vector is legal in an INSTANT query and
      // returns the raw window as a matrix (`GET /api/v1/query?query=
      // up[5m]`, the last-samples debugging shape); a range query over
      // a range vector is the upstream error
      case rv @ (_: RangeSel | _: Subquery) =>
        if (p.startMs != p.endMs)
          fail("invalid expression type \"range vector\" for range query")
        new Compiler(samples, p).rangeLiteral(rv)
      case ast => new Compiler(samples, p).eval(ast) match {
      case Vec(df) => df
      case Scal(v) => // a scalar result materializes on the lattice
        samples.sparkSession.range(p.startMs, p.endMs + 1, p.stepMs)
          .select(lit("{}").as("series_key"),
            map().cast("map<string,string>").as("labels"),
            col("id").as("t"), lit(v).as("v"))
      case ScalV(df) => // a time-varying scalar likewise, one row per t
        df.select(lit("{}").as("series_key"),
          map().cast("map<string,string>").as("labels"),
          col("t"), col("v"))
      }
    }
    out.select("series_key", "labels", "t", "v")
  }

  /** Range functions that read a previous-sample feature (counter
    * increments, the lag pair) — the ONLY family whose plan needs the
    * per-series sorted window before the candidate explode. Everything
    * else aggregates order-free. */
  private val RangeLagFns = Set(
    "rate", "increase", "idelta", "irate", "resets", "changes")

  /** Which [[Compiler.rangeAgg]] aggregate columns each range function
    * actually reads — the generic all-columns row was a generality tax
    * every function paid (two struct min_by/max_by + five sums nobody
    * consumed). "sx" implies the sxx/sxy regression pair. */
  private val RangeAggAll = Set("sum_v", "min_v", "max_v", "sum_vv",
    "first", "last", "sum_inc", "sum_resets", "sum_changes", "sx")
  private val RangeNeedByFn: Map[String, Set[String]] = Map(
    "rate" -> Set("first", "last", "sum_inc"),
    "increase" -> Set("first", "last", "sum_inc"),
    "delta" -> Set("first", "last"),
    "idelta" -> Set("last"),
    "irate" -> Set("last"),
    "resets" -> Set("first", "sum_resets"),
    "changes" -> Set("first", "sum_changes"),
    "deriv" -> Set("sum_v", "sx"),
    "predict_linear" -> Set("sum_v", "sx"),
    "avg_over_time" -> Set("sum_v"),
    "sum_over_time" -> Set("sum_v"),
    "min_over_time" -> Set("min_v"),
    "max_over_time" -> Set("max_v"),
    "count_over_time" -> Set.empty,
    "last_over_time" -> Set("last"),
    "present_over_time" -> Set.empty,
    "stddev_over_time" -> Set("sum_v", "sum_vv"),
    "stdvar_over_time" -> Set("sum_v", "sum_vv"),
    "quantile_over_time" -> Set.empty,
    "mad_over_time" -> Set.empty,
    "holt_winters" -> Set.empty,
    "double_exponential_smoothing" -> Set.empty)

  /** Compiles one expression over `samples` on the `p` lattice.
    * `outerStartMs`/`outerEndMs`: the OUTERMOST query's evaluation
    * range — `@ start()`/`@ end()` resolve against it regardless of
    * subquery nesting (a nested compiler's own lattice is widened and
    * step-realigned, so resolving there would drift by up to the
    * subquery range). */
  private final class Compiler(
      samples: DataFrame, p: Params,
      outerStartMs: Long, outerEndMs: Long) {
    def this(samples: DataFrame, p: Params) = this(samples, p, p.startMs, p.endMs)
    private val spark = samples.sparkSession
    private def mapResolve: String => Column = n => col("labels").getItem(n)

    /** This query's compiler pinned to the one instant `at` resolves
      * to — the evaluation point of the `@` modifier. */
    private def pinned(at: At): Compiler = {
      val t = at match {
        case AtStart => outerStartMs
        case AtEnd => outerEndMs
        case AtMs(ms) => ms
      }
      new Compiler(samples, p.copy(startMs = t, endMs = t),
        outerStartMs, outerEndMs)
    }

    /** A pinned one-instant result replicated across this compiler's
      * lattice — each lattice instant reads the same fixed-time value
      * (the `@` contract). */
    private def relattice(one: DataFrame): DataFrame =
      one.drop("t").crossJoin(latticeDf)
        .select("series_key", "labels", "t", "v")

    /** The compiler of a subquery's inner evaluation. `[range:]`
      * defaults to the configured evaluation interval (Prometheus's
      * query.default-evaluation-interval), NOT the outer query step. A
      * subquery offset shifts the whole inner window back (negative:
      * forward), exactly like a selector offset: the inner lattice
      * stays aligned to absolute step multiples in the SHIFTED window,
      * and [[onOuterTime]] shifts the results forward again. */
    private def innerOf(sq: Subquery): Compiler = {
      val stepIn = if (sq.stepMs > 0) sq.stepMs else p.defaultEvalMs
      val raw = p.startMs - sq.rangeMs - sq.offsetMs
      val rem = math.floorMod(raw, stepIn)
      val start0 = if (rem == 0L) raw else raw + stepIn - rem
      new Compiler(samples,
        p.copy(startMs = start0, endMs = p.endMs - sq.offsetMs, stepMs = stepIn),
        outerStartMs, outerEndMs)
    }

    /** An [[innerOf]] result on outer time. */
    private def onOuterTime(sq: Subquery, inner: DataFrame): DataFrame =
      if (sq.offsetMs == 0L) inner
      else inner.withColumn("t", col("t") + sq.offsetMs)

    def eval(e: Expr): Value = e match {
      case NumberLit(v) => Scal(v)
      case StringLit(_) => fail("a string literal is not a vector/scalar expression")
      case Neg(x) => eval(x) match {
        case Scal(v) => Scal(-v)
        case Vec(df) => Vec(dropName(df.withColumn("v", -col("v"))))
        case ScalV(df) => ScalV(df.withColumn("v", -col("v")))
      }
      case s: Selector if s.at.isDefined => Vec(atVector(s))
      case s: Selector => Vec(instantVector(s))
      case _: RangeSel => fail("range vector must be an argument of a range function")
      case _: Subquery => fail("a subquery must be an argument of a range function")
      case c: Call => call(c)
      case a: Agg => aggregate(a)
      case b: Bin => binary(b)
    }

    // --- selectors -----------------------------------------------------

    private def selected(s: Selector): DataFrame = {
      val ms = s.name.map(n => Eq(p.nameLabel, n)).toSeq ++ s.matchers
      require(ms.nonEmpty, "promql: empty selector matches nothing")
      val base = p.pushdown match {
        case Some(f) => f(ms)
        case None => samples.where(Matcher.conjunction(ms, mapResolve))
      }
      // offset looks BACK: the value at instant t is the series' value
      // at t − offset ⇒ shift sample times forward and evaluate normally
      if (s.offsetMs == 0L) base
      else base.withColumn("t", col("t") + s.offsetMs)
    }

    /** The staleness fill every instant read shares: the latest
      * `value` per series within the closed `[g − look, g]` at every
      * lattice instant `g` (≡ the half-open PromQL window
      * `(g − look − 1, g]` on integer milliseconds). Lookback < step:
      * one sample serves at most one instant, so one aggregate per
      * (series, instant) suffices; otherwise ONE candidate explode +
      * map-side-combined aggregate ([[AsOf.gridFillWide]]). `carry` columns are per-series
      * constants riding the aggregate. Returns `(series_key, t, value,
      * carry…)` for the instants that have a sample. */
    private def stalenessFill(src: DataFrame, value: String, look: Long,
        carry: Seq[String] = Nil): DataFrame = {
      val (filled, v) =
        if (look < p.stepMs)
          (AsOf.latestPerInstant(src.withColumnRenamed(value, "r_v"),
              Seq("series_key"), p.stepMs, look, "r", originMs = p.startMs,
              carryCols = carry)
            .where(col("t").between(p.startMs, p.endMs)), "r_v")
        else
          (AsOf.gridFillWide(src, Seq("series_key"), p.startMs, p.endMs,
            p.stepMs, look, Seq(value), carryCols = carry), s"${value}_v")
      filled.where(col(v).isNotNull)
        .select(Seq(col("series_key"), col("t"), col(v).as(value)) ++
          carry.map(col): _*)
    }

    /** A selector's instant vector: the [[stalenessFill]] of its
      * samples under the staleness lookback. */
    private def instantVector(s: Selector): DataFrame = {
      // mixed-corpus sources: a series can interleave float and
      // histogram samples, and a NEWER histogram makes the float
      // channel stale — the latest-ROW fill decides per instant
      // ([[mixedFill]], the h channel's mirror)
      if (hasH)
        return mixedFill(s).where(col("vh.v").isNotNull)
          .select(col("series_key"), col("labels"), col("t"),
            col("vh.v").as("v"))
      // labels OFF the fill aggregate: a first(labels) MAP buffer can't
      // live in the UnsafeRow hash map, so carrying it forced the
      // packed-decimal fill back into a partial SortAggregate over the
      // exploded candidates. The per-series dim re-attach costs one
      // narrow (series_key, labels) pass + a gated join at output
      // grain; the fill itself stays whole-stage HashAggregate.
      val sel = selected(s)
      stalenessFill(sel.select("series_key", "t", "v"), "v", p.lookbackMs - 1)
        .join(p.hintSeriesDim(seriesLabelsDim(sel)), Seq("series_key"))
        .select("series_key", "labels", "t", "v")
    }

    /** `selector @ T`: the instant vector evaluated ONCE at the pinned
      * time, replicated across the output lattice — each lattice
      * instant reads the same fixed-time value (the `@` contract). */
    private def atVector(s: Selector): DataFrame =
      relattice(pinned(s.at.get).vecOf(s.copy(at = None)))

    /** PromQL functions/operators drop the metric name from result
      * label sets; the canonical key is recomputed from the remaining
      * labels. */
    private def dropName(df: DataFrame): DataFrame =
      relabel(df, labelSubset(Nil, keep = false))

    private def relabel(df: DataFrame, newLabels: Column): DataFrame =
      df.withColumn("labels", newLabels)
        .withColumn("series_key", graft.functions.seriesKey(col("labels")))

    // --- range-vector functions ---------------------------------------

    /** Resolve a range-vector argument to (labelled sample frame,
      * range): a `[range]` selector reads the corpus; a `[range:step]`
      * subquery evaluates its body on the inner `step` lattice (aligned
      * to absolute multiples, the Prometheus convention) and feeds the
      * result in as the samples. */
    private def rangeArgOf(e: Expr): (DataFrame, Long) = e match {
      case RangeSel(s, _) if s.at.isDefined =>
        fail("internal: @-pinned range selectors resolve before rangeArgOf")
      case sq: Subquery if sq.at.isDefined =>
        fail("internal: @-pinned subqueries resolve before rangeArgOf")
      case r: RangeSel =>
        val sel = selected(r.sel)
        (sel.select("series_key", "labels", "t", "v"), r.rangeMs)
      case sq: Subquery =>
        val inner = innerOf(sq).eval(sq.body) match {
          case Vec(df) => df
          case _ => fail("subquery body must be an instant vector")
        }
        (onOuterTime(sq, inner).select("series_key", "labels", "t", "v"), sq.rangeMs)
      case _ => fail(
        "expected a range vector ([range] selector or [range:step] subquery)")
    }

    private def lagFeats(src: DataFrame, needLag: Boolean): DataFrame =
      if (!needLag) src
      else {
        val w = Window.partitionBy("series_key").orderBy("t", "v")
        src
          .withColumn("prev_t", lag("t", 1).over(w))
          .withColumn("prev_v", lag("v", 1).over(w))
          .withColumn("inc_delta",
            when(col("prev_v").isNull, lit(null).cast("double"))
              .when(col("v") >= col("prev_v"), col("v") - col("prev_v"))
              .otherwise(col("v")))
          .withColumn("reset_f",
            (col("prev_v").isNotNull && col("v") < col("prev_v")).cast("long"))
          .withColumn("change_f",
            (col("prev_v").isNotNull && !(col("v") <=> col("prev_v"))).cast("long"))
      }

    /** The candidate frame of the range functions' explode plan:
      * per-sample lag features (series-keyed window — the same
      * sample-scale sort every window consumer prices once) and a
      * candidate explode onto the ≤ `⌈range/step⌉+1` instants each
      * sample can serve; [[rangeAgg]] takes ONE aggregate per
      * `(series, instant)` over it. */
    private def rangeFrame(
        src: DataFrame, rangeMs: Long, needLag: Boolean): DataFrame = {
      // (t, v) order: Prometheus never has duplicate timestamps per
      // series, but a relational corpus can — the deterministic
      // convention is "duplicates are separate samples, larger value
      // later", so the lag chain and first/last picks never depend on
      // row order. Functions that never read a previous-sample feature
      // (the *_over_time family, delta, deriv, …) skip the lag chain —
      // and with it the sample-scale per-series SORT the window costs;
      // their whole plan is explode + ONE map-side-combined hash agg.
      val feats = lagFeats(src, needLag)
      val k = ((rangeMs + p.stepMs - 1) / p.stepMs).toInt
      val g0 = (floor((col("t") - 1 - p.startMs) / p.stepMs) * p.stepMs
        + p.stepMs + p.startMs).cast("long")
      // k = 1 (range ≤ step — the bucket-grain/tumbling shape): a
      // sample can serve at most ONE anchor, its ceil point g0 (the
      // next candidate g0+step has t ≤ g0 ≤ g0+step−range, outside the
      // half-open window), so the explode is a plain column — the plan
      // degenerates to one map-side-combined hash aggregate, the
      // hand-built Rate family's shape, with no 2× Generate fan-out
      if (k == 1)
        feats.withColumn("g", g0)
          .where(col("g").between(p.startMs, p.endMs) &&
            col("t") > col("g") - rangeMs)
      else feats
        .withColumn("g", explode(sequence(g0, g0 + k.toLong * p.stepMs, lit(p.stepMs))))
        .where(col("g").between(p.startMs, p.endMs) &&
          col("t") > col("g") - rangeMs) // half-open (g − range, g]
    }

    /** The per-(series, instant) aggregate every range function reads
      * from. Carries: count, sum, min, max, power sums, first/last
      * sample structs (with their lag features), counter/reset sums,
      * and the regression sums for deriv/predict_linear. */
    private def rangeAgg(
        src: DataFrame, rangeMs: Long, extra: Seq[Column] = Nil,
        need: Set[String], needLag: Boolean,
        carryLabels: Boolean = false,
        labelsByJoin: Boolean = false): DataFrame = {
      val x = (col("t") - col("g")).cast("double") / 1000.0 // seconds rel. instant
      // the first/last sample structs carry the lag features only when
      // the function family reads them (rate/increase/irate/…); the
      // lean (t, v) pair otherwise. ArgPick, not min_by/max_by: the
      // struct-buffered picks forced this whole aggregate into a
      // partial SortAggregate that SORTS the exploded candidates at
      // sample grain — the flat-slot aggregate keeps it in whole-stage
      // HashAggregate (see [[graft.catalyst.ArgPick]]).
      val firstStruct =
        (if (needLag)
          graft.catalyst.ArgPick.pick(max = false, Seq(
            "t" -> col("t"), "v" -> col("v"),
            "inc" -> coalesce(col("inc_delta"), lit(0.0)),
            "reset_f" -> col("reset_f"), "change_f" -> col("change_f")))
        else graft.catalyst.ArgPick.pick(max = false,
          Seq("t" -> col("t"), "v" -> col("v")))).as("first")
      val lastStruct =
        (if (needLag)
          graft.catalyst.ArgPick.pick(max = true, Seq(
            "t" -> col("t"), "v" -> col("v"),
            "prev_t" -> col("prev_t"), "prev_v" -> col("prev_v"),
            "inc" -> coalesce(col("inc_delta"), lit(0.0))))
        else graft.catalyst.ArgPick.pick(max = true,
          Seq("t" -> col("t"), "v" -> col("v")))).as("last")
      // pruned to what the function reads — cnt always (the ≥2-sample
      // filter), the rest by need-set; labels ride the same aggregate
      // (first per group: constant within a series) when the plan has
      // no window exchange for them to bloat
      val aggCols = Seq(count(lit(1)).as("cnt")) ++
        (if (need("sum_v")) Seq(sum("v").as("sum_v")) else Nil) ++
        (if (need("min_v")) Seq(min("v").as("min_v")) else Nil) ++
        (if (need("max_v")) Seq(nanSkipMax(col("v")).as("max_v")) else Nil) ++
        (if (need("sum_vv")) Seq(sum(col("v") * col("v")).as("sum_vv")) else Nil) ++
        (if (need("first")) Seq(firstStruct) else Nil) ++
        (if (need("last")) Seq(lastStruct) else Nil) ++
        (if (need("sum_inc"))
          Seq(sum(coalesce(col("inc_delta"), lit(0.0))).as("sum_inc")) else Nil) ++
        (if (need("sum_resets")) Seq(sum("reset_f").as("sum_resets")) else Nil) ++
        (if (need("sum_changes")) Seq(sum("change_f").as("sum_changes")) else Nil) ++
        (if (need("sx"))
          Seq(sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("v")).as("sxy")) else Nil) ++
        extra
      val k = ((rangeMs + p.stepMs - 1) / p.stepMs).toInt
      // high fan-out guard: above the cap, the explode would amplify
      // every sample k× before the (map-side-combined) aggregate —
      // switch to the anchored RANGE-frame window, whose exchange
      // carries samples + lattice anchors once. The window path covers
      // the need-sets without per-instant relative features (the "sx"
      // regression sums read `t − g`, which a frame aggregate cannot
      // see) and without `extra` buffers; those keep the explode at
      // any k.
      if (k > p.rangeExplodeCapK && extra.isEmpty && !need("sx"))
        windowRangeAgg(src, rangeMs, need, needLag)
      else {
        // labelsByJoin: a first(labels) MAP buffer cannot live in the
        // UnsafeRow hash map, so carrying labels in-aggregate forces
        // this whole aggregate — over the k×-amplified explode — into
        // a partial SortAggregate. With ArgPick the stat side is
        // hash-compatible, so SELECTOR sources (cheap to re-read) move
        // labels to a per-series dim joined at OUTPUT grain: the only
        // sample-grain sort left is the dim's own, over n narrow
        // (series_key, labels) rows instead of k·n exploded stat rows.
        // Subquery sources keep the in-aggregate labels: their src is
        // an inner evaluation a dim would re-run wholesale.
        // in-aggregate labels (subquery sources) ride as a GROUPING KEY
        // — the canonically-sorted entry array, the seriesLabelsDim
        // trick — not a `first(map)` buffer: labels is constant per
        // series_key, so the grouping is identity, the partial still
        // combines map-side, and a var-length grouping key (unlike a
        // map-typed aggregation buffer) keeps the whole k×-exploded
        // aggregate in whole-stage HashAggregate (r12: this was the
        // last partial SortAggregate on the subquery plan). The entry
        // array is PROJECTED ONCE per input row, before the explode —
        // as a grouping expression it would re-run the
        // map_filter + map_entries + array_sort per k×-exploded row
        // (r12 ADVICE #2).
        val inAggLabels = carryLabels && !labelsByJoin
        val srcLean =
          if (carryLabels && labelsByJoin) src.drop("labels")
          else if (inAggLabels)
            src.withColumn("__le",
              graft.functions.canonicalLabelEntries(col("labels")))
              .drop("labels")
          else src
        val base = rangeFrame(srcLean, rangeMs, needLag)
        val withX = if (need("sx")) base.withColumn("x", x) else base
        val out0 =
          if (inAggLabels)
            withX.groupBy(col("series_key"), col("__le"), col("g"))
              .agg(aggCols.head, aggCols.tail: _*)
              .withColumn("labels", map_from_entries(col("__le")))
              .drop("__le")
          else withX
            .groupBy("series_key", "g")
            .agg(aggCols.head, aggCols.tail: _*)
        val out = out0.withColumnRenamed("g", "t")
        if (carryLabels && labelsByJoin)
          out.join(p.hintSeriesDim(seriesLabelsDim(src)), Seq("series_key"))
        else out
      }
    }

    /** [[rangeAgg]]'s high-fan-out twin: block PREFIX/SUFFIX
      * decomposition. Every half-open window `(g − range, g]` splits
      * EXACTLY at the one `range`-aligned block boundary it contains:
      * the SUFFIX of block `B(g)−1` strictly after `g − range`, plus
      * the PREFIX of block `B(g)` up to `g` (`B(x) = ⌊x/range⌋`; the
      * boundary-landing case degenerates to suffix = the whole previous
      * block). Both halves are *unbounded-preceding* running aggregates
      * — O(1) per row in Spark's window machinery (the suffix runs the
      * same frame over `pt` DESCENDING) — evaluated at per-(series,
      * lattice-instant) anchor rows spliced into the sample stream: an
      * END anchor at `pt = g` collects the prefix, a START anchor at
      * `pt = g − range` the suffix, and one hash aggregate per
      * `(series, g)` semigroup-combines the halves (all suffix-part
      * times precede all prefix-part times, so first/last combine by
      * coalesce). Since r10 the samples are FIRST partially aggregated
      * (map-side combined) to step-bucket grain — every stat is a
      * semigroup, so the running windows consume bucket partials —
      * making the total cost: one map-side-combined exchange of
      * per-(series, step) partials + two in-partition sorts of
      * `≤ 3·|series|·|lattice|` rows — NO k·n explode, no sample-scale
      * sort, and no anchors-inside-sliding-frames quadratic (Spark
      * re-evaluates a sliding frame's whole buffer whenever its lower
      * bound moves, so a lattice-dense RANGE frame costs O(lattice²)
      * per series — the r9 bench caught the first version of this path
      * doing exactly that at k = 1440). */
    private def windowRangeAgg(
        src: DataFrame, rangeMs: Long, need: Set[String],
        needLag: Boolean): DataFrame = {
      val feats = lagFeats(src, needLag)
      // repartition BEFORE the lattice explode: the series aggregate's
      // output is one AQE-coalesced partition, and the ×|lattice|
      // explode would otherwise run single-threaded (measured 14 s of
      // a 37 s x10 plan writing 25M anchor rows from one task)
      val shufN0 = src.sparkSession.sessionState.conf.numShufflePartitions
      // ONE per-series dim serves BOTH the anchor explode and the
      // final labels re-attach: the two consumers share the dim's
      // exchange subtree verbatim, so ReuseExchange computes the
      // sample-scale pass once (a separate labelsDim was a full third
      // scan of the source — measured 20.8 -> see BENCH_NOTES r10).
      // [[seriesLabelsDim]] (r12), not groupBy+first(labels): the MAP
      // buffer form paid a sample-grain partial SortAggregate here.
      val seriesDim = seriesLabelsDim(src)
      val anchors0 = seriesDim
        .repartition(shufN0)
        .withColumn("g",
          explode(sequence(lit(p.startMs), lit(p.endMs), lit(p.stepMs))))
      // ---- stage 1 (r10): ONE map-side-combined partial aggregate of
      // the lag-featured samples to (series, blk, pa, pd) BUCKET grain,
      // where pa = the sample's ceil point on the anchor lattice and
      // pd = its ceil point on the range-shifted (start-anchor)
      // lattice. Inclusion stays EXACT at bucket grain: for a lattice
      // anchor g, pt ≤ g ⟺ pa ≤ g, and for a start anchor s (on the
      // shifted lattice), pt > s ⟺ pd > s. Every stat is a semigroup
      // (counts/sums add; min/max nest; first/last picks nest through
      // min_by/max_by on the same (t, v) order key) — the property the
      // prefix/suffix splice below already relies on — so the running
      // windows read bucket PARTIALS instead of raw samples: the big
      // exchange carries per-(series, step) partials (at scrape density
      // up to samples-per-step× fewer rows) and BOTH in-partition sorts
      // run at lattice grain, never sample grain.
      def ceilLattice(pt: Column, origin: Long): Column =
        (floor((pt - 1 - origin) / p.stepMs) * p.stepMs + p.stepMs + origin)
          .cast("long")
      def blkOf(c: Column): Column =
        ((c - pmod(c, lit(rangeMs))) / rangeMs).cast("long")
      val nonNan = when(isnan(col("v")), lit(null)).otherwise(col("v"))
      // ArgPick on the (t, v) order key — the explode path's own — so
      // bucket-level picks nest into window picks pick-identically,
      // and the flat-slot buffers keep this stage-1 partial in
      // HashAggregate ([[graft.catalyst.ArgPick]])
      val firstFields: Seq[String] =
        Seq("t", "v") ++
          (if (needLag) Seq("inc", "reset_f", "change_f") else Nil)
      val lastFields: Seq[String] =
        Seq("t", "v") ++
          (if (needLag) Seq("prev_t", "prev_v", "inc") else Nil)
      val fieldExpr: Map[String, Column] = Map(
        "t" -> col("t"), "v" -> col("v"),
        "inc" -> coalesce(col("inc_delta"), lit(0.0)),
        "reset_f" -> col("reset_f"), "change_f" -> col("change_f"),
        "prev_t" -> col("prev_t"), "prev_v" -> col("prev_v"))
      // count ROWS, not non-null v: the explode path's count(1) twin —
      // mixed-corpus histogram rows (null v) reach here only for
      // count/present_over_time, which count them (upstream rule); the
      // value-reading functions pre-filter null v at the source
      val bucketAggs: Seq[Column] =
        Seq(count(lit(1)).as("b_cnt")) ++
        (if (need("sum_v")) Seq(sum("v").as("b_sum_v")) else Nil) ++
        (if (need("min_v")) Seq(min("v").as("b_min_v")) else Nil) ++
        (if (need("max_v")) Seq(max(nonNan).as("b_max_v")) else Nil) ++
        (if (need("sum_vv"))
          Seq(sum(col("v") * col("v")).as("b_sum_vv")) else Nil) ++
        (if (need("first")) Seq(graft.catalyst.ArgPick.pick(max = false,
          firstFields.map(f => f -> fieldExpr(f)))
          .as("b_first")) else Nil) ++
        (if (need("last")) Seq(graft.catalyst.ArgPick.pick(max = true,
          lastFields.map(f => f -> fieldExpr(f)))
          .as("b_last")) else Nil) ++
        (if (need("sum_inc"))
          Seq(sum(coalesce(col("inc_delta"), lit(0.0))).as("b_sum_inc"))
        else Nil) ++
        (if (need("sum_resets"))
          Seq(sum("reset_f").as("b_sum_resets")) else Nil) ++
        (if (need("sum_changes"))
          Seq(sum("change_f").as("b_sum_changes")) else Nil)
      // the labels MAP stays OUT of the exchange + both sorts + the
      // splice aggregate; a per-series join re-attaches it at output
      // grain (hint gated on the caller's series bound)
      val buckets = feats
        .withColumn("pa", ceilLattice(col("t"), p.startMs))
        .withColumn("pd", ceilLattice(col("t"), p.startMs - rangeMs))
        // a bucket row's blk comes from its samples' own pt; grouping
        // by blk too means a step straddling a block boundary simply
        // splits into two rows
        .withColumn("blk", blkOf(col("t")))
        .groupBy("series_key", "blk", "pa", "pd")
        .agg(bucketAggs.head, bucketAggs.tail: _*)
        .withColumn("g", lit(null).cast("long"))
        .withColumn("flag", lit(0))
      // END anchors: flag 1 at pa = g (sorting AFTER equal-pa buckets,
      // whose samples all have pt ≤ g — the closed right boundary);
      // START anchors: flag −1 at pd = g − range (sorting BEFORE
      // equal-pd buckets in the DESC pass, whose samples all have
      // pt ≤ g − range — the open left boundary)
      def pad(df: DataFrame): DataFrame =
        buckets.columns.foldLeft(df) { (d, c) =>
          if (d.columns.contains(c)) d
          else d.withColumn(c, lit(null).cast(buckets.schema(c).dataType))
        }.select(buckets.columns.toIndexedSeq.map(col): _*)
      val endA = pad(anchors0.drop("labels")
        .withColumn("pa", col("g")).withColumn("pd", col("g"))
        .withColumn("blk", blkOf(col("g")))
        .withColumn("flag", lit(1)))
      val startA = pad(anchors0.drop("labels")
        .withColumn("pa", col("g") - rangeMs)
        .withColumn("pd", col("g") - rangeMs)
        .withColumn("blk", blkOf(col("g") - rangeMs))
        .withColumn("flag", lit(-1)))
      // EXPLICIT partition count on the decomposition exchange: anchor
      // and bucket rows are near-identical and compress ~50×, so AQE's
      // byte-based coalescing would read the exchange as "one 64 MB
      // partition" and serialize both window passes through a single
      // task (the r9 lesson); an explicit count is exempt, and the
      // windows below share this distribution — no further exchange.
      val shufN = src.sparkSession.sessionState.conf.numShufflePartitions
      val rows = buckets.unionByName(endA).unionByName(startA)
        .repartition(shufN, col("series_key"), col("blk"))
      // the pd/pa secondary keys order same-step bucket rows (a step
      // can split on the shifted lattice) in time order for the
      // first/last running picks
      val wp = Window.partitionBy("series_key", "blk")
        .orderBy(col("pa"), col("flag"), col("pd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ws = Window.partitionBy("series_key", "blk")
        .orderBy(col("pd").desc, col("flag"), col("pa").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // (name, prefix running stat, suffix running stat, combine).
      // Anchor rows carry null partials, so every running aggregate
      // skips them; in the DESC suffix pass first/last swap roles: the
      // window-first bucket is the LAST non-null the descending walk
      // sees.
      def ph(n: String) = col("p_" + n); def sh(n: String) = col("s_" + n)
      def b(n: String) = col("b_" + n)
      def addParts(n: String) =
        when(ph(n).isNull && sh(n).isNull, lit(null))
          .otherwise(coalesce(ph(n), lit(0.0)) + coalesce(sh(n), lit(0.0)))
      def addPartsL(n: String) =
        when(ph(n).isNull && sh(n).isNull, lit(null))
          .otherwise(coalesce(ph(n), lit(0L)) + coalesce(sh(n), lit(0L)))
      val stats: Seq[(String, Column, Column, Column)] =
        Seq(("cnt", sum(b("cnt")), sum(b("cnt")),
          coalesce(ph("cnt"), lit(0L)) + coalesce(sh("cnt"), lit(0L)))) ++
        (if (need("sum_v"))
          Seq(("sum_v", sum(b("sum_v")), sum(b("sum_v")),
            addParts("sum_v"))) else Nil) ++
        (if (need("min_v")) Seq(("min_v", min(b("min_v")), min(b("min_v")),
          least(ph("min_v"), sh("min_v")))) else Nil) ++
        (if (need("max_v")) Seq(("max_v", max(b("max_v")), max(b("max_v")),
          coalesce(greatest(ph("max_v"), sh("max_v")), lit(Double.NaN))))
        else Nil) ++
        (if (need("sum_vv")) Seq(("sum_vv",
          sum(b("sum_vv")), sum(b("sum_vv")), addParts("sum_vv"))) else Nil) ++
        (if (need("first")) Seq(("first",
          first(b("first"), ignoreNulls = true),
          last(b("first"), ignoreNulls = true),
          coalesce(sh("first"), ph("first")))) else Nil) ++
        (if (need("last")) Seq(("last",
          last(b("last"), ignoreNulls = true),
          first(b("last"), ignoreNulls = true),
          coalesce(ph("last"), sh("last")))) else Nil) ++
        (if (need("sum_inc")) Seq(("sum_inc",
          sum(b("sum_inc")), sum(b("sum_inc")), addParts("sum_inc")))
        else Nil) ++
        (if (need("sum_resets")) Seq(("sum_resets",
          sum(b("sum_resets")), sum(b("sum_resets")),
          addPartsL("sum_resets"))) else Nil) ++
        (if (need("sum_changes")) Seq(("sum_changes",
          sum(b("sum_changes")), sum(b("sum_changes")),
          addPartsL("sum_changes"))) else Nil)
      val staged = rows.select(
        Seq(col("series_key"), col("g"), col("flag")) ++
          stats.map { case (n, f, _, _) => f.over(wp).as("p_" + n) } ++
          stats.map { case (n, _, f, _) => f.over(ws).as("s_" + n) }: _*)
        .where(col("flag") =!= 0)
      // one SORT aggregate splices each anchor pair back together: the
      // END row carries the prefix half, the START row the suffix half.
      //
      // SortAggregate is the RIGHT plan here, ON PURPOSE (r12,
      // measured): every (series, g) group holds exactly TWO rows, so
      // a hash aggregate gets no map-side combine and must materialize
      // an output-grain hash map (millions of wide buffers at k=1440)
      // — flattening the struct channels to per-field primitive picks
      // to force HashAggregate was built, A/B'd interleaved on the
      // kept x10 corpus, and REVERTED: 18.4/19.1 s (hash) vs
      // 12.0/11.8 s (sort) on promql_rate_1d. The sort pays one
      // O(2·|anchors| log) in-partition sort and streams with O(1)
      // state; at a 2:1 input:group ratio that beats the map build.
      // Do not "fix" this SortAggregate again without re-measuring.
      def half(n: String, flag: Int) = first(
        when(col("flag") === flag, col((if (flag == 1) "p_" else "s_") + n)),
        ignoreNulls = true).as((if (flag == 1) "p_" else "s_") + n)

      val combined = staged
        // same AQE-vs-compression pin as the window exchange above: the
        // splice aggregate's shuffle carries anchor-grain stat rows
        // that compress away, and a byte-coalesced single finalizer
        // over millions of groups serializes the tail of the plan
        .repartition(shufN, col("series_key"), col("g"))
        .groupBy("series_key", "g")
        .agg(
          stats.head match { case (n, _, _, _) => half(n, 1) },
          stats.map { case (n, _, _, _) => half(n, -1) } ++
            stats.tail.map { case (n, _, _, _) => half(n, 1) }: _*)
        .select(
          Seq(col("series_key"), col("g").as("t")) ++
            stats.map { case (n, _, _, comb) => comb.as(n) }: _*)
        .where(col("cnt") >= 1)
      // rebuild the first/last structs the consumers read, and
      // re-attach labels per series (metadata-sized broadcast join —
      // the map never rode the sample-scale exchange or sorts)
      // the first/last picks are ALREADY the consumer structs (the
      // bucket partial is one struct-valued min_by/max_by, not a column
      // per field — 2 running columns through the sorts instead of 10)
      val structed = combined.select(
        Seq(col("series_key"), col("t")) ++ stats.map(s => col(s._1)): _*)
      // labels re-attach at output grain: ONE ROW PER SERIES, so the
      // broadcast hint is gated on the caller's series bound (a store
      // read knows it from the manifest; unbounded → AQE decides) —
      // unconditional hinting here is a driver OOM exactly on the big
      // queries this path exists for (k > 64 over a wide fleet)
      structed.join(p.hintSeriesDim(seriesDim), Seq("series_key"))
    }

    /** PromQL's extrapolatedRate (promql semantics; same closed form as
      * [[Rate.extrapolatedRate]], here per sliding instant window). */
    private def extrapolated(rangeMs: Long, isCounter: Boolean, isRate: Boolean): Column = {
      val rangeSec = rangeMs / 1000.0
      val firstT = col("first.t"); val lastT = col("last.t")
      val base =
        if (isCounter) col("sum_inc") - col("first.inc")
        else col("last.v") - col("first.v")
      val sampledInterval = (lastT - firstT).cast("double") / 1000.0
      val avgDur = sampledInterval / (col("cnt") - 1)
      val durToStart0 = (firstT - (col("t") - rangeMs)).cast("double") / 1000.0
      val durToEnd = (col("t") - lastT).cast("double") / 1000.0
      // a counter cannot have been negative before its first sample:
      // cap the start extrapolation where the line crosses zero
      val durToStart =
        if (!isCounter) durToStart0
        else when(base > 0 && col("first.v") >= 0,
          least(durToStart0, sampledInterval * (col("first.v") / base)))
          .otherwise(durToStart0)
      val threshold = avgDur * 1.1
      val ext = sampledInterval +
        when(durToStart < threshold, durToStart).otherwise(avgDur / 2) +
        when(durToEnd < threshold, durToEnd).otherwise(avgDur / 2)
      val scaled = base * (ext / sampledInterval)
      // a degenerate window (≥2 samples all at one timestamp, the
      // relational duplicate convention) has zero sampled interval —
      // NaN (the filtered no-answer row), never an ANSI divide error
      when(sampledInterval === 0.0, lit(Double.NaN))
        .otherwise(if (isRate) scaled / rangeSec else scaled)
    }

    /** The PromQL quantile(0.5, ·) over an ASCENDING-sorted array:
      * linear interpolation at rank 0.5·(n−1) — the middle element for
      * odd n, the mean of the two middles for even n. Guarded so the
      * odd-n case never indexes past the array (ANSI element_at). */
    private def sortedMedian(arr: Column): Column = {
      val rk = (size(arr).cast("double") - 1.0) * 0.5
      val lo = floor(rk).cast("int")
      val w = rk - lo.cast("double")
      when(w === 0.0, element_at(arr, lo + 1))
        .otherwise(element_at(arr, lo + 1) * (lit(1.0) - w) +
          element_at(arr, lo + 2) * w)
    }

    /** PromQL max skips NaN (a NaN running max is replaced by ANY
      * value; only an all-NaN input yields NaN) — the opposite of
      * Spark's ordering, where NaN sorts greatest and `max` returns it
      * whenever one is present. Spark's `min` happens to agree with
      * PromQL already (NaN-greatest means it never wins a min). */
    private def nanSkipMax(c: Column): Column =
      coalesce(max(when(isnan(c), lit(null)).otherwise(c)), lit(Double.NaN))

    /** The PromQL out-of-range quantile rule (shared by the quantile
      * aggregation, quantile_over_time and histogram_quantile): φ NaN →
      * NaN, φ < 0 → -Inf, φ > 1 → +Inf — a value per group, never an
      * error (Spark's `percentile` would throw on all three). */
    private def quantileEdge(phi: Double): Option[Double] =
      if (phi.isNaN) Some(Double.NaN)
      else if (phi < 0) Some(Double.NegativeInfinity)
      else if (phi > 1) Some(Double.PositiveInfinity)
      else None

    /** A TOP-LEVEL range vector in an instant query: the raw window
      * content `(end − r, end]` as a matrix — every sample (selector)
      * or inner evaluation instant (subquery), ORIGINAL timestamps
      * (the selected frame carries offset-shifted times, so the output
      * shifts them back). `@` pins the window end first. */
    def rangeLiteral(e: Expr): DataFrame = e match {
      case r: RangeSel if r.sel.at.isDefined =>
        pinned(r.sel.at.get).rangeLiteral(RangeSel(r.sel.copy(at = None), r.rangeMs))
      case sq: Subquery if sq.at.isDefined =>
        pinned(sq.at.get).rangeLiteral(sq.copy(at = None))
      case _ =>
        val off = e match {
          case r: RangeSel => r.sel.offsetMs
          case sq: Subquery => sq.offsetMs
          case _ => fail("expected a range vector")
        }
        val (src, rangeMs) = rangeArgOf(e)
        src.where(col("t") > p.endMs - rangeMs && col("t") <= p.endMs)
          .withColumn("t", col("t") - off)
          .select("series_key", "labels", "t", "v")
    }

    /** The h-channel twin of [[rangeLiteral]], for [[PromQl.evalMixed]]:
      * the RAW histogram samples of the trailing window (selector), or
      * the histogram channel of the inner evaluation (subquery whose
      * body is histogram-shaped). None when the expression has no
      * histogram reading. Original timestamps (offset shifted back),
      * exactly like the float replay. */
    def histRangeLiteral(e: Expr): Option[DataFrame] =
      if (!hasH) None
      else e match {
        case r: RangeSel if r.sel.at.isDefined =>
          pinned(r.sel.at.get).histRangeLiteral(RangeSel(r.sel.copy(at = None), r.rangeMs))
        case sq: Subquery if sq.at.isDefined =>
          pinned(sq.at.get).histRangeLiteral(sq.copy(at = None))
        case r: RangeSel =>
          // selected() carries the offset shift; filter the shifted
          // window, then restore original timestamps like the float side
          Some(selected(r.sel).where(col("h").isNotNull)
            .where(col("t") > p.endMs - r.rangeMs && col("t") <= p.endMs)
            .withColumn("t", col("t") - r.sel.offsetMs)
            .select("series_key", "labels", "t", "h"))
        case sq: Subquery =>
          // the body's histogram channel (when it has one) replays on
          // the inner lattice
          hSubqueryVec(sq).map(_
            .where(col("t") > p.endMs - sq.rangeMs && col("t") <= p.endMs)
            .withColumn("t", col("t") - sq.offsetMs)
            .select("series_key", "labels", "t", "h"))
        case _ => None
      }

    /** `m[r] @ T`: the trailing window `(T − r, T]` evaluated ONCE at
      * the pinned instant, replicated across the output lattice — the
      * same one-instant-then-cross-join shape as [[atVector]]. */
    private def rangeFunction(fn: String, arg: Expr, param: Seq[Double]): DataFrame =
      arg match {
        case RangeSel(s, rangeMs) if s.at.isDefined =>
          relattice(pinned(s.at.get)
            .rangeFunction(fn, RangeSel(s.copy(at = None), rangeMs), param))
        // `expr[r:s] @ T`: the pinned trailing window evaluated once,
        // replicated across the output lattice — the same shape as a
        // pinned range selector
        case sq: Subquery if sq.at.isDefined =>
          relattice(pinned(sq.at.get).rangeFunction(fn, sq.copy(at = None), param))
        case _ => rangeFunctionBody(fn, arg, param)
      }

    private def rangeFunctionBody(fn: String, arg: Expr, param: Seq[Double]): DataFrame = {
      // mixed-corpus last_over_time: upstream funcLastOverTime picks
      // the LATER of the float/histogram channels, so the float
      // channel keeps exactly the instants a float wins ([[mixedFill]]
      // at range grain — the h channel's mirror lives in [[hVecOf]])
      arg match {
        case RangeSel(s, r) if hasH && fn == "last_over_time" =>
          return mixedFill(s, r - 1).where(col("vh.v").isNotNull)
            .select(col("series_key"), col("labels"), col("t"),
              col("vh.v").as("v"))
        // last_over_time over a SUBQUERY whose body has a histogram
        // reading: the latest inner ELEMENT wins across types, so the
        // float half keeps exactly the instants a float inner point is
        // latest in the window (the h half mirrors in [[hVecOf]])
        case sq: Subquery if hasH && fn == "last_over_time" =>
          mixedSubqueryStream(sq).foreach { src =>
            return mixedFillFrom(src, sq.rangeMs - 1)
              .where(col("vh.v").isNotNull)
              .select(col("series_key"), col("labels"), col("t"),
                col("vh.v").as("v"))
          }
        case _ =>
      }
      val (srcFull0, rangeMs) = rangeArgOf(arg)
      // mixed-corpus hygiene: histogram rows (null v) count as SAMPLES
      // for count/present_over_time (upstream counts both channels) but
      // are ignored by every value-reading function — upstream drops
      // them with the ignored-histograms annotation, so they must not
      // inflate cnt (avg/extrapolation read it) or the lag chain
      val countsHist = fn == "count_over_time" || fn == "present_over_time"
      val srcFull1 =
        if (hasH && !countsHist) srcFull0.where(col("v").isNotNull)
        else srcFull0
      // a SUBQUERY's histogram points live in the inner h channel (the
      // float inner eval drops them); count/present union them back in
      // — disjoint per (series, instant) from the float points
      val srcFull = arg match {
        case sq: Subquery if hasH && countsHist =>
          hSubqueryVec(sq).map(h => srcFull1.unionByName(
            h.withColumn("v", lit(1.0))
              .select("series_key", "labels", "t", "v"))).getOrElse(srcFull1)
        case _ => srcFull1
      }
      val needTwo = Set("rate", "increase", "delta", "idelta", "irate",
        "deriv", "predict_linear", "holt_winters", "double_exponential_smoothing")
      val needLag = RangeLagFns.contains(fn)
      val need = RangeNeedByFn.getOrElse(fn, RangeAggAll)
      val src = srcFull.select("series_key", "labels", "t", "v")
      val extra = fn match {
        case "quantile_over_time" =>
          val phi = param.headOption.getOrElse(fail("quantile_over_time needs φ"))
          Seq((quantileEdge(phi) match {
            case Some(edge) => min(lit(edge)) // constant per window
            case None => expr(s"percentile(v, $phi)")
          }).as("q_v"))
        case "holt_winters" | "double_exponential_smoothing" =>
          // the fold needs the ordered points themselves
          Seq(sort_array(collect_list(struct(col("t"), col("v")))).as("hw_pts"))
        case "mad_over_time" =>
          // the deviation |v_i − med| depends on the window's own
          // median — two interpolated ranks over the sorted values
          Seq(sort_array(collect_list(col("v"))).as("mad_vs"))
        case _ => Nil
      }
      // labels: selector sources re-attach per series at OUTPUT grain
      // (keeps the big aggregate in HashAggregate — see rangeAgg's
      // labelsByJoin note); subquery sources carry them in-aggregate
      // (their src is an inner evaluation a dim re-run would double)
      val agg = rangeAgg(src, rangeMs, extra,
        need = need, needLag = needLag, carryLabels = true,
        labelsByJoin = !arg.isInstanceOf[Subquery])
      // all-x-equal windows (duplicate timestamps) zero the variance
      // denominator — NaN, not an ANSI divide error
      val slopeDenom = col("cnt") * col("sxx") - col("sx") * col("sx")
      val slope = when(slopeDenom === 0.0, lit(Double.NaN))
        .otherwise((col("cnt") * col("sxy") - col("sx") * col("sum_v")) / slopeDenom)
      val intercept = (col("sum_v") - slope * col("sx")) / col("cnt")
      val v: Column = fn match {
        case "rate" => extrapolated(rangeMs, isCounter = true, isRate = true)
        case "increase" => extrapolated(rangeMs, isCounter = true, isRate = false)
        case "delta" => extrapolated(rangeMs, isCounter = false, isRate = false)
        case "idelta" => col("last.v") - col("last.prev_v")
        case "irate" =>
          val dt = (col("last.t") - col("last.prev_t")).cast("double") / 1000.0
          when(dt === 0.0, lit(Double.NaN)).otherwise(col("last.inc") / dt)
        case "resets" => (col("sum_resets") - col("first.reset_f")).cast("double")
        case "changes" => (col("sum_changes") - col("first.change_f")).cast("double")
        case "deriv" => slope
        case "predict_linear" =>
          intercept + slope * param.headOption.getOrElse(fail("predict_linear needs t"))
        case "holt_winters" | "double_exponential_smoothing" =>
          // the exact double-exponential recurrence [[Rate.holtWinters]]
          // pins: s0 = x0, b0 = x1 − x0, fold over x1..x_{n−1}
          val Seq(sfP, tfP) = param match {
            case Seq(a, b) => Seq(a, b)
            case _ => fail("holt_winters needs (sf, tf)")
          }
          val v0 = element_at(col("hw_pts"), 1).getField("v")
          val v1 = element_at(col("hw_pts"), 2).getField("v")
          val sfL = lit(sfP); val tfL = lit(tfP)
          org.apache.spark.sql.functions.aggregate(
            slice(col("hw_pts"), lit(2), size(col("hw_pts")) - 1),
            struct(v0.as("s"), (v1 - v0).as("b")),
            (acc, pt) => {
              val s1 = sfL * pt.getField("v") +
                (lit(1.0) - sfL) * (acc.getField("s") + acc.getField("b"))
              struct(s1.as("s"),
                (tfL * (s1 - acc.getField("s")) +
                  (lit(1.0) - tfL) * acc.getField("b")).as("b"))
            }).getField("s")
        case "avg_over_time" => col("sum_v") / col("cnt")
        case "sum_over_time" => col("sum_v")
        case "min_over_time" => col("min_v")
        case "max_over_time" => col("max_v")
        case "count_over_time" => col("cnt").cast("double")
        case "last_over_time" => col("last.v")
        case "present_over_time" => lit(1.0)
        case "stddev_over_time" =>
          sqrt(col("sum_vv") / col("cnt") - pow(col("sum_v") / col("cnt"), 2))
        case "stdvar_over_time" =>
          col("sum_vv") / col("cnt") - pow(col("sum_v") / col("cnt"), 2)
        case "quantile_over_time" => col("q_v")
        case "mad_over_time" =>
          val med = sortedMedian(col("mad_vs"))
          sortedMedian(sort_array(transform(col("mad_vs"), x => abs(x - med))))
        case other => fail(s"unknown range function $other")
      }
      val kept =
        if (needTwo.contains(fn)) agg.where(col("cnt") >= 2)
        else agg
      val out0 = kept
        .select(col("series_key"), col("labels"), col("t"), v.as("v"))
        .where(col("v").isNotNull)
      // degenerate windows (all samples at one t under the duplicate
      // convention) divide by a zero interval — NaN/±Inf rows are the
      // no-answer case, like the reference's insufficient-samples skip
      val out =
        if (needTwo.contains(fn))
          out0.where(!isnan(col("v")) &&
            abs(col("v")) =!= lit(Double.PositiveInfinity))
        else out0
      // range functions drop the metric name (last_over_time keeps it)
      if (fn == "last_over_time") out else dropName(out)
    }

    // --- functions -----------------------------------------------------

    private def isRangeArg(e: Expr): Boolean =
      e.isInstanceOf[RangeSel] || e.isInstanceOf[Subquery]

    private def call(c: Call): Value = c match {
      case Call(fn, Seq(rv)) if rangeFns.contains(fn) && isRangeArg(rv) =>
        Vec(rangeFunction(fn, rv, Nil))
      case Call(fn @ ("quantile_over_time"), Seq(q, rv)) if isRangeArg(rv) =>
        Vec(rangeFunction(fn, rv, Seq(scalarOf(q))))
      case Call(fn @ ("predict_linear"), Seq(rv, h)) if isRangeArg(rv) =>
        Vec(rangeFunction(fn, rv, Seq(scalarOf(h))))
      case Call(fn @ ("holt_winters" | "double_exponential_smoothing"),
          Seq(rv, sfE, tfE)) if isRangeArg(rv) =>
        Vec(rangeFunction(fn, rv, Seq(scalarOf(sfE), scalarOf(tfE))))
      // native-histogram corridor: when the source carries the `h`
      // channel and the argument is a plain selector, the histogram
      // functions consume the NATIVE buckets; histogram_quantile
      // additionally keeps its classic le-bucket half and unions (the
      // upstream mixed-data behavior — each half is empty where the
      // other kind of sample lives)
      case Call(fn @ ("histogram_count" | "histogram_sum" | "histogram_avg" |
          "histogram_stddev" | "histogram_stdvar"), Seq(e))
          if hasH && hVecOf(e).isDefined =>
        Vec(hVec(hVecOf(e).get, hScalarExpr(fn, col("h"))))
      case Call("histogram_fraction", Seq(lo, hi, e))
          if hasH && hVecOf(e).isDefined =>
        Vec(hVec(hVecOf(e).get,
          hFractionExpr(scalarOf(lo), scalarOf(hi), col("h"))))
      case Call("histogram_quantile", Seq(q, e))
          if hasH && hVecOf(e).isDefined =>
        val phi = scalarOf(q)
        // a metric carrying BOTH classic le-buckets and native data for
        // the same underlying series would emit duplicate output
        // elements from the union (upstream detects the conflict and
        // drops the classic side with a warning) — the native half wins
        // and the classic half anti-joins away its colliding (series,
        // instant) elements; disjoint corpora pass through untouched
        val native = hVec(hVecOf(e).get, hQuantileExpr(phi, col("h")))
        val classic = histogramQuantile(phi, vecOf(e))
        Vec(classic
          .join(native.select("series_key", "t"),
            Seq("series_key", "t"), "left_anti")
          .unionByName(native))
      case Call("histogram_quantile", Seq(q, e)) =>
        Vec(histogramQuantile(scalarOf(q), vecOf(e)))
      case Call("vector", Seq(s)) =>
        val v = scalarOf(s)
        Vec(spark.range(p.startMs, p.endMs + 1, p.stepMs)
          .select(lit("{}").as("series_key"),
            map().cast("map<string,string>").as("labels"),
            col("id").as("t"), lit(v).as("v")))
      // scalar(v): the single element's value per lattice instant; NaN
      // where the vector holds 0 or ≥2 elements. One instant-count
      // aggregate (lattice-sized) left-joined onto the lattice — the
      // same one-row-per-instant broadcast shape ts_scalar_op prices;
      // downstream binary ops join it on `t` alone.
      case Call("scalar", Seq(e)) => eval(e) match {
        case Scal(v) => Scal(v)
        case sv: ScalV => sv
        case Vec(df) =>
          val perT = df.groupBy("t").agg(
            when(count(lit(1)) === 1, min("v"))
              .otherwise(lit(Double.NaN)).as("__sv"))
          ScalV(latticeDf.join(perT, Seq("t"), "left")
            .select(col("t"), coalesce(col("__sv"), lit(Double.NaN)).as("v")))
      }
      case Call("pi", Seq()) => Scal(math.Pi)
      case Call("time", Seq()) =>
        ScalV(latticeDf.select(col("t"), (col("t") / 1000.0).as("v")))
      case Call("timestamp", Seq(e)) => eval(e) match {
        case Vec(df) => Vec(dropName(df.withColumn("v", col("t") / 1000.0)))
        case _ => fail("timestamp() takes an instant vector")
      }
      // calendar functions: zero-arg = over vector(time()) (a {}-labeled
      // lattice vector); one-arg = per element, value read as epoch sec
      case Call(fn, Seq()) if calendarFns.contains(fn) =>
        Vec(latticeDf.select(
          lit("{}").as("series_key"),
          map().cast("map<string,string>").as("labels"),
          col("t"),
          calendarFns(fn)(col("t").cast("double")).as("v")))
      case Call(fn, Seq(e)) if calendarFns.contains(fn) =>
        instantFn(e, calendarFns(fn)(col("v") * 1000.0))
      case Call("absent", Seq(e)) => Vec(absentOf(e))
      case Call("absent_over_time", Seq(rv)) if isRangeArg(rv) =>
        Vec(absentOverTime(rv))
      case Call("sort" | "sort_desc", Seq(e)) =>
        // presentation-order functions: a relational result set has no
        // element order — ResultJson's series order applies; identity
        eval(e)
      case Call("sort_by_label" | "sort_by_label_desc", e +: srcs)
          if srcs.nonEmpty && srcs.forall(_.isInstanceOf[StringLit]) =>
        // label-order presentation, same relational identity as sort():
        // the element set is unchanged, only upstream's display order
        // differs (ts_sort_by_label is the ordered-listing consumer)
        eval(e)
      case Call("label_replace",
          Seq(e, StringLit(dst), StringLit(rep), StringLit(src), StringLit(re))) =>
        Vec(labelReplace(vecOf(e), dst, rep, src, re))
      case Call("label_join", e +: StringLit(dst) +: StringLit(sep) +: srcs)
          if srcs.nonEmpty && srcs.forall(_.isInstanceOf[StringLit]) =>
        Vec(labelJoin(vecOf(e), dst, sep,
          srcs.map(_.asInstanceOf[StringLit].s)))
      // PromQL round() resolves ties by rounding UP (floor(v + 0.5)):
      // -2.5 → -2, where HALF_UP would give -3 — and it must agree
      // with the two-arg form's floor(v/to + 0.5)·to
      case Call("round", Seq(e)) =>
        instantFn(e, floor(col("v") + 0.5).cast("double"))
      case Call("round", Seq(e, to)) =>
        val m = scalarOf(to)
        instantFn(e, (floor(col("v") / m + 0.5) * m).cast("double"))
      // NaN inputs propagate (Go's math.Min/Max): Spark orders NaN
      // above +Inf, so an unguarded least() would map NaN to the
      // upper bound
      case Call("clamp", Seq(e, lo, hi)) =>
        val (l, h) = (scalarOf(lo), scalarOf(hi))
        // upstream rule: min > max yields an EMPTY vector, never a
        // crossed clamp
        instantFn(e, if (l > h) lit(null).cast("double")
          else when(isnan(col("v")), col("v"))
            .otherwise(least(greatest(col("v"), lit(l)), lit(h)))) match {
          case Vec(df) => Vec(df.where(col("v").isNotNull))
          case v => v
        }
      case Call("clamp_min", Seq(e, lo)) => instantFn(e, greatest(col("v"), lit(scalarOf(lo))))
      case Call("clamp_max", Seq(e, hi)) => instantFn(e,
        when(isnan(col("v")), col("v"))
          .otherwise(least(col("v"), lit(scalarOf(hi)))))
      case Call(fn, Seq(e)) if instantFns.contains(fn) =>
        instantFn(e, instantFns(fn)(col("v")))
      case Call(fn, args) => fail(s"unsupported function $fn/${args.length}")
    }

    private val rangeFns = Set("rate", "increase", "delta", "idelta", "irate",
      "resets", "changes", "deriv", "avg_over_time", "sum_over_time",
      "min_over_time", "max_over_time", "count_over_time", "last_over_time",
      "present_over_time", "stddev_over_time", "stdvar_over_time",
      "mad_over_time")

    /** UTC calendar projections from EPOCH MILLISECONDS — PromQL's
      * 0=Sunday day_of_week. Deliberately not Spark's timestamp
      * accessors (minute/hour/...), which convert through
      * `spark.sql.session.timeZone`: PromQL mandates UTC whatever the
      * session is set to, so sub-day fields are modular epoch math and
      * date fields go through tz-free DATE arithmetic (epoch days). */
    private val calendarFns: Map[String, Column => Column] = {
      val DayMs = 86400000L
      def utcDate(ms: Column): Column =
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          floor(ms / DayMs).cast("int"))
      Map(
        "minute" -> (ms => floor(pmod(ms, lit(3600000L)) / 60000L).cast("double")),
        "hour" -> (ms => floor(pmod(ms, lit(DayMs)) / 3600000L).cast("double")),
        "day_of_week" -> (ms => (dayofweek(utcDate(ms)) - 1).cast("double")),
        "day_of_month" -> (ms => dayofmonth(utcDate(ms)).cast("double")),
        "day_of_year" -> (ms => dayofyear(utcDate(ms)).cast("double")),
        "month" -> (ms => month(utcDate(ms)).cast("double")),
        "year" -> (ms => year(utcDate(ms)).cast("double")),
        "days_in_month" -> (ms => dayofmonth(last_day(utcDate(ms))).cast("double")))
    }

    /** Spark's log() returns NULL for non-positive inputs; PromQL
      * defines ln(0) = -Inf and ln(x<0) = NaN (IEEE), and every present
      * element must keep a value — map the domain edges explicitly. */
    private def ieeeLog(f: Column => Column): Column => Column = c =>
      when(c === 0.0, lit(Double.NegativeInfinity))
        .when(c < 0.0, lit(Double.NaN))
        .otherwise(f(c))

    private val instantFns: Map[String, Column => Column] = Map(
      "abs" -> abs, "ceil" -> ((c: Column) => ceil(c).cast("double")),
      "floor" -> ((c: Column) => floor(c).cast("double")),
      "exp" -> exp, "ln" -> ieeeLog(c => log(c)),
      "log2" -> ieeeLog(c => log(c) / log(lit(2.0))),
      "log10" -> ieeeLog(c => log(c) / log(lit(10.0))),
      "sqrt" -> sqrt, "sgn" -> ((c: Column) => signum(c)),
      // the trigonometric family (all IEEE, domain edges give NaN —
      // Spark's asin/acos/atanh already do; acosh(x<1) needs the guard
      // because Spark's ln-based form would yield NULL there)
      "sin" -> sin, "cos" -> cos, "tan" -> tan,
      "asin" -> asin, "acos" -> acos, "atan" -> atan,
      "sinh" -> sinh, "cosh" -> cosh, "tanh" -> tanh,
      "asinh" -> asinh,
      "acosh" -> ((c: Column) => when(c < 1.0, lit(Double.NaN)).otherwise(acosh(c))),
      "atanh" -> ((c: Column) =>
        when(abs(c) > 1.0, lit(Double.NaN)).otherwise(atanh(c))),
      "deg" -> degrees, "rad" -> radians)

    private def instantFn(e: Expr, f: Column): Value = eval(e) match {
      case Vec(df) => Vec(dropName(df.withColumn("v", f)))
      case _ => fail("instant function over a scalar is not supported")
    }

    private def vecOf(e: Expr): DataFrame = eval(e) match {
      case Vec(df) => df
      case _ => fail("expected an instant vector")
    }

    private def scalarOf(e: Expr): Double = eval(e) match {
      case Scal(v) => v
      case _ => fail("expected a scalar literal")
    }

    private def latticeDf: DataFrame =
      spark.range(p.startMs, p.endMs + 1, p.stepMs).select(col("id").as("t"))

    /** `absent(v)`: the `{}`-labeled 1 at every lattice instant where
      * `v` has no elements — enriched with the argument selector's
      * literal equality matchers (the Prometheus convention), metric
      * name excluded. */
    private def absentOf(e: Expr): DataFrame = {
      // a histogram element is PRESENT (upstream absent() considers
      // both sample kinds) — union the h channel's instants
      val ft = vecOf(e).select("t")
      val present =
        (if (hasH) hVecOf(e).map(h => ft.unionByName(h.select("t")))
          .getOrElse(ft)
        else ft).distinct()
      absentRows(present, e match {
        case s: Selector => Some(s)
        case _ => None
      })
    }

    /** `absent_over_time(v[range])`: 1 where the trailing window holds
      * NO samples of the range argument. */
    private def absentOverTime(arg: Expr): DataFrame = arg match {
      case RangeSel(s, r) if s.at.isDefined =>
        relattice(pinned(s.at.get).absentOverTime(RangeSel(s.copy(at = None), r)))
      case sq: Subquery if sq.at.isDefined =>
        relattice(pinned(sq.at.get).absentOverTime(sq.copy(at = None)))
      case _ =>
        val (src0, rangeMs) = rangeArgOf(arg)
        // a histogram sample is PRESENT: selector h rows already flow
        // (null v counts as a row); a subquery's histogram points live
        // in the inner h channel and union back in
        val src = arg match {
          case sq: Subquery if hasH =>
            hSubqueryVec(sq).map(h => src0.unionByName(
              h.withColumn("v", lit(1.0))
                .select("series_key", "labels", "t", "v"))).getOrElse(src0)
          case _ => src0
        }
        // through rangeAgg (need = ∅ ⇒ just group existence), so the
        // high-fan-out cap applies here too — absent_over_time(m[1d])
        // at 1m step must not explode k = 1440× any more than rate does
        val present = rangeAgg(src, rangeMs,
            need = Set.empty[String], needLag = false)
          .select(col("t")).distinct()
        absentRows(present, arg match {
          case RangeSel(s, _) => Some(s)
          case _ => None
        })
    }

    private def absentRows(presentT: DataFrame, sel: Option[Selector]): DataFrame = {
      val missing = latticeDf.join(presentT, Seq("t"), "left_anti")
      val eqs: Seq[(String, String)] = sel.toSeq.flatMap(_.matchers.collect {
        case Eq(n, v) if n != p.nameLabel && v.nonEmpty => (n, v)
      }).sortBy(_._1)
      val labelsCol =
        if (eqs.isEmpty) map().cast("map<string,string>")
        else map(eqs.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val key = eqs.map { case (k, v) => s"""$k="$v"""" }
        .mkString("{", ",", "}")
      missing.select(lit(key).as("series_key"), labelsCol.as("labels"),
        col("t"), lit(1.0).as("v"))
    }

    /** A legal Prometheus label name ([a-zA-Z_][a-zA-Z0-9_]*) — the
      * upstream precondition on label_replace/label_join destinations;
      * violating it is a query error, not a silent bad label. */
    private def requireLabelName(fn: String, name: String): Unit =
      if (!name.matches("[a-zA-Z_][a-zA-Z0-9_]*"))
        fail(s"$fn: invalid destination label name '$name'")

    /** `label_replace(v, dst, replacement, src, regex)`: full-anchored
      * regex against the src label's value (absent ≡ ""); on match dst
      * becomes the `$1`-expanded replacement (empty removes it), on
      * mismatch the element passes unchanged. */
    private def labelReplace(
        iv: DataFrame, dst: String, rep: String, src: String, re: String): DataFrame = {
      requireLabelName("label_replace", dst)
      // an unparseable regex is a query error at compile, not a Spark
      // task failure at the action
      try java.util.regex.Pattern.compile(re)
      catch { case e: java.util.regex.PatternSyntaxException =>
        fail(s"label_replace: invalid regular expression '$re': ${e.getDescription}")
      }
      val anchored = s"^(?:$re)$$"
      val srcVal = coalesce(col("labels").getItem(src), lit(""))
      val matched = srcVal.rlike(anchored)
      val newVal = regexp_replace(srcVal, anchored, rep)
      val without = map_filter(col("labels"), (k, _) => k =!= dst)
      val replaced = when(newVal === "", without)
        .otherwise(map_concat(without, map(lit(dst), newVal)))
      relabel(iv, when(matched, replaced).otherwise(col("labels")))
    }

    /** `label_join(v, dst, sep, src...)`: dst = the src label values
      * joined by sep (absent ≡ ""); an empty result removes dst. */
    private def labelJoin(
        iv: DataFrame, dst: String, sep: String, srcs: Seq[String]): DataFrame = {
      requireLabelName("label_join", dst)
      val joined = concat_ws(sep,
        srcs.map(s => coalesce(col("labels").getItem(s), lit(""))): _*)
      val without = map_filter(col("labels"), (k, _) => k =!= dst)
      relabel(iv, when(joined === "", without)
        .otherwise(map_concat(without, map(lit(dst), joined))))
    }

    /** Generic `histogram_quantile` over cumulative `le` buckets: group
      * by (labels − le − name, t), sort the bucket array once, walk it
      * with higher-order array functions — no UDF, no per-le pivot. */
    private def histogramQuantile(phi: Double, iv: DataFrame): DataFrame = {
      val keep = map_filter(col("labels"),
        (k, _) => k =!= "le" && k =!= p.nameLabel)
      val grouped = iv
        .withColumn("le_d", col("labels").getItem("le").cast("double"))
        .where(col("le_d").isNotNull)
        .withColumn("labels", keep)
        .withColumn("series_key", graft.functions.seriesKey(col("labels")))
        .groupBy("series_key", "t")
        .agg(first("labels").as("labels"),
          sort_array(collect_list(struct(col("le_d").as("le"), col("v")))).as("bk"))
      val n = size(col("bk"))
      val total = element_at(col("bk"), n).getField("v")
      val rank = lit(phi) * total
      // first bucket index whose cumulative count reaches the rank
      val idx = element_at(
        filter(sequence(lit(1), n),
          i => element_at(col("bk"), i).getField("v") >= rank), 1)
      val le = element_at(col("bk"), col("__i")).getField("le")
      val cum = element_at(col("bk"), col("__i")).getField("v")
      val prevLe = when(col("__i") === 1, lit(0.0))
        .otherwise(element_at(col("bk"), col("__i") - 1).getField("le"))
      val prevCum = when(col("__i") === 1, lit(0.0))
        .otherwise(element_at(col("bk"), col("__i") - 1).getField("v"))
      // equal cumulative counts can only meet the rank at φ·total = 0
      // (idx always strictly exceeds prevCum otherwise) — the quantile
      // sits at the bucket's lower bound, never an ANSI divide error
      val interp = prevLe + (le - prevLe) *
        when(cum === prevCum, lit(0.0))
          .otherwise((rank - prevCum) / (cum - prevCum))
      grouped
        // the highest bucket must be le="+Inf" (the Prometheus
        // completeness rule) — with only finite buckets the histogram
        // yields no result rather than a fabricated interpolation
        .where(n >= 2 && total > 0 &&
          element_at(col("bk"), n).getField("le") === lit(Double.PositiveInfinity))
        .withColumn("__i", idx)
        .withColumn("v",
          // out-of-range φ: a ±Inf/NaN VALUE per histogram, never an
          // error (the upstream bucketQuantile precondition rule)
          quantileEdge(phi).map(lit).getOrElse(
            when(col("__i").isNull, lit(null).cast("double"))
              // rank falls in the +Inf bucket: the highest finite bound
              .when(col("__i") === n, element_at(col("bk"), n - 1).getField("le"))
              .otherwise(interp)))
        .where(col("v").isNotNull)
        .select("series_key", "labels", "t", "v")
    }

    // --- native histograms ----------------------------------------------
    //
    // The corridor: a histogram-valued sample carries an `h` struct
    // (`schema, zt, z_count, count, sum, neg[], pos[]` — the
    // [[NativeHistogram]] model; counts are FloatHistogram doubles) and
    // a NULL `v`, so float paths drop it naturally in their fills. The
    // histogram functions fetch the selector themselves, staleness-fill
    // the latest `h` per instant through the same AsOf machinery, and
    // reduce IN-ROW to a float vector with higher-order array
    // expressions (instant-vector grain — the interpreted lambdas touch
    // group-scale rows, never samples). Histogram ARITHMETIC (h ± h;
    // h × / ÷ a scalar expression, a time-varying scalar, or a matched
    // FLOAT VECTOR — [[hArith]]/[[hScaleBy]], upstream FloatHistogram
    // Add/Sub/Mul/Div incl. the zero-threshold widening merge) and the
    // == / != comparisons in filter AND bool form ([[compared]],
    // upstream FloatHistogram.Equals) pair their operands through the
    // float operators' one vector-matching step ([[matched]]), so
    // one-to-one and `group_left`/`group_right` matching, its errors
    // and its label rule are the float path's. Also in corridor:
    // `last_over_time` over a histogram range ([[mixedFill]] at range
    // grain) and over histogram-valued SUBQUERIES
    // ([[mixedSubqueryStream]]), and rate/increase/delta +
    // count/present/absent_over_time over histogram-valued subqueries
    // ([[hSubqueryVec]]). Still out: ordered (< <= > >=) comparisons
    // between histograms, which upstream drops too.

    /** True when the bound source carries the histogram channel. */
    private def hasH: Boolean = samples.columns.contains("h")

    /** The histogram channel of a histogram-shaped expression, for
      * [[PromQl.evalMixed]]: `(series_key, labels, t, h)`, or None when
      * the expression has no histogram reading. */
    def histVec(ast: Expr): Option[DataFrame] =
      if (!hasH) None else hVecOf(ast)

    /** `functions.aggregate`, qualified — the compiler's own
      * `aggregate(a: Agg)` shadows it. */
    private def fold(arr: Column, zero: Column,
        f: (Column, Column) => Column): Column =
      org.apache.spark.sql.functions.aggregate(arr, zero, f)
    private def fold(arr: Column, zero: Column,
        f: (Column, Column) => Column, fin: Column => Column): Column =
      org.apache.spark.sql.functions.aggregate(arr, zero, f, fin)

    /** Latest-ROW staleness fill over the mixed `(v, h)` channel: one
      * struct payload rides the fill, so its `(t, payload)` max picks
      * the latest SAMPLE regardless of type — upstream staleness is
      * latest-sample-wins ACROSS types (a newer float supersedes an
      * older histogram inside the lookback, and vice versa). Consumers
      * keep exactly the instants their own channel wins. The window
      * defaults to the staleness lookback; `last_over_time` reuses the
      * same machinery at RANGE grain (both windows are half-open on
      * integer milliseconds, so `look = len − 1` closed ≡ `(g−len, g]`). */
    private def mixedFill(s: Selector): DataFrame =
      mixedFill(s, p.lookbackMs - 1)

    private def mixedFill(s: Selector, look: Long): DataFrame =
      mixedFillFrom(selected(s), look)

    /** [[mixedFill]] over an arbitrary mixed sample stream
      * `(series_key, labels, t, v, h)` — selectors pass the raw
      * selection, subqueries their inner evaluation's two channels
      * ([[mixedSubqueryStream]]). */
    private def mixedFillFrom(src0: DataFrame, look: Long): DataFrame =
      stalenessFill(
        src0.where(col("h").isNotNull || col("v").isNotNull)
          .select(col("series_key"), col("labels"), col("t"),
            struct(col("v"), col("h")).as("vh")),
        "vh", look, carry = Seq("labels"))

    /** Staleness fill over the `h` channel: the latest sample per
      * series within the lookback at every lattice instant, kept only
      * where that latest sample IS a histogram ([[mixedFill]]). */
    private def hInstantVector(s: Selector): DataFrame =
      mixedFill(s).where(col("vh.h").isNotNull)
        .select(col("series_key"), col("labels"), col("t"),
          col("vh.h").as("h"))

    /** The histogram's buckets as `(l, u, c)` triples in VALUE order
      * (negative buckets by descending index, the zero bucket, positive
      * ascending) — the walk order every estimator shares. Bounds are
      * `±2^(i·2^−schema)` (exact for schema ≤ 0); the zero bucket's
      * lower bound collapses to 0 without negative mass. */
    private def hBuckets(h: Column): Column = {
      val w = pow(lit(2.0), -h.getField("schema").cast("double"))
      def up(i: Column) = pow(lit(2.0), i.cast("double") * w)
      def lo(i: Column) = pow(lit(2.0), (i - 1).cast("double") * w)
      def tri(l: Column, u: Column, c: Column) =
        struct(l.as("l"), u.as("u"), c.as("c"))
      val neg = transform(reverse(h.getField("neg")), b =>
        tri(-up(b.getField("i")), -lo(b.getField("i")), b.getField("c")))
      val negTot = fold(h.getField("neg"), lit(0.0),
        (a, b) => a + b.getField("c"))
      val zt = h.getField("zt")
      val zero = when(h.getField("z_count") > 0,
        array(tri(when(negTot > 0, -zt).otherwise(lit(0.0)), zt,
          h.getField("z_count"))))
        .otherwise(array().cast("array<struct<l:double,u:double,c:double>>"))
      val pos = transform(h.getField("pos"), b =>
        tri(lo(b.getField("i")), up(b.getField("i")), b.getField("c")))
      concat(neg, zero, pos)
    }

    /** The moment/count estimators over one histogram struct. */
    private def hScalarExpr(fn: String, h: Column): Column = {
      val count = h.getField("count"); val sum = h.getField("sum")
      lazy val mean = sum / count
      // geometric bucket midpoint (the upstream estimator; the zero
      // bucket — the only one straddling 0 — contributes at 0)
      def mid(b: Column) =
        when(b.getField("l") <= 0 && b.getField("u") >= 0, lit(0.0))
          .otherwise(signum(b.getField("u")) *
            sqrt(abs(b.getField("l") * b.getField("u"))))
      lazy val variance = fold(hBuckets(h), lit(0.0),
        (a, b) => a + b.getField("c") * (mid(b) - mean) * (mid(b) - mean)) / count
      fn match {
        case "histogram_count" => count
        case "histogram_sum" => sum
        case "histogram_avg" => mean
        case "histogram_stdvar" => variance
        case "histogram_stddev" => sqrt(variance)
        case other => fail(s"internal: $other is not a histogram scalar")
      }
    }

    /** `histogram_quantile(φ, h)` on native buckets: one fold in value
      * order locates the bucket where the cumulative count reaches
      * `φ·count` and interpolates linearly between its exact bounds.
      * `φ` outside [0, 1] yields ±Inf per upstream; an empty histogram
      * yields NaN. */
    private def hQuantileExpr(phi: Double, h: Column): Column =
      quantileEdge(phi).map(lit).getOrElse {
        val rank = lit(phi) * h.getField("count")
        fold(hBuckets(h),
          struct(lit(0.0).as("cum"), lit(Double.NaN).as("q")),
          (acc, b) => {
            val cum = acc.getField("cum"); val c = b.getField("c")
            val l = b.getField("l"); val u = b.getField("u")
            when(!isnan(acc.getField("q")), acc)
              .when(cum + c >= rank, struct((cum + c).as("cum"),
                (l + (u - l) * (rank - cum) / c).as("q")))
              .otherwise(struct((cum + c).as("cum"), acc.getField("q")))
          },
          a => a.getField("q"))
      }

    /** `histogram_fraction(lo, hi, h)`: linear bucket overlap with
      * `[lo, hi]` over the count; a zero-width bucket (point mass)
      * contributes fully iff its point is inside the range. */
    private def hFractionExpr(lo: Double, hi: Double, h: Column): Column = {
      val ov = fold(hBuckets(h), lit(0.0), (a, b) => {
        val bl = b.getField("l"); val bu = b.getField("u")
        val frac = when(bu === bl,
          when(lit(lo) <= bl && bl <= lit(hi), lit(1.0)).otherwise(lit(0.0)))
          .otherwise(greatest(lit(0.0),
            (least(lit(hi), bu) - greatest(lit(lo), bl)) / (bu - bl)))
        a + b.getField("c") * frac
      })
      ov / h.getField("count")
    }

    /** Reduce a filled histogram vector to a float vector (function
      * semantics: the metric name drops from the result labels). */
    private def hVec(hv: DataFrame, value: Column): DataFrame =
      dropName(hv.withColumn("v", value).select("series_key", "labels", "t", "v"))

    /** The corridor's recursive argument evaluator: a histogram vector
      * is a plain selector's fill, `rate`/`increase`/`delta` of a
      * histogram range selector ([[hRangeVec]] — the
      * `histogram_quantile(0.9, rate(m[5m]))` SLO shape), or
      * `sum [by/without] (…)` of either — the bucket-wise merge PromQL
      * defines for histogram aggregation. Anything else is not
      * histogram-valued here. */
    private def hVecOf(e: Expr): Option[DataFrame] = e match {
      case s: Selector if s.at.isEmpty => Some(hInstantVector(s))
      case Call(fn @ ("rate" | "increase" | "delta"), Seq(rs: RangeSel))
          if rs.sel.at.isEmpty =>
        Some(hRangeVec(fn, rs))
      // rate/increase/delta over a histogram-valued SUBQUERY: the
      // body's histogram channel evaluated on the inner lattice is the
      // sample stream ([[hSubqueryVec]], the h twin of rangeArgOf's
      // subquery branch); the window machinery is shared verbatim.
      case Call(fn @ ("rate" | "increase" | "delta"), Seq(sq: Subquery))
          if sq.at.isEmpty =>
        hSubqueryVec(sq).map(inner => hRangeVecFrom(fn,
          inner.select("series_key", "labels", "t", "h"), sq.rangeMs))
      // bucket-wise `sum`/`avg` at instant grain: each element
      // relabels to its grouping subset and every (group, t) merges;
      // upstream's avg divides the group sum by its element count
      case Agg(op @ ("sum" | "avg"), None, body, grouping, without) =>
        hVecOf(body).map(hv => hMergeGroups(
          relabel(hv, labelSubset(grouping, keep = !without)), avg = op == "avg"))
      // histogram arithmetic (upstream FloatHistogram Add/Sub/Mul/Div):
      // h ± h under vector matching; h × any scalar-typed
      // expression or float vector (either side — Mul commutes);
      // h ÷ the same (histogram-left only, as upstream). Composes
      // under histogram_quantile / sum by — `histogram_quantile(0.9,
      // h1 + h2)` merges latency histograms across jobs before
      // quantiling, the dashboard shape.
      case Bin(op @ ("+" | "-"), lhs, rhs, false, matching) =>
        (hVecOf(lhs), hVecOf(rhs)) match {
          case (Some(l), Some(r)) => Some(hArith(op == "-", l, r, matching))
          case _ => None
        }
      case Bin("*", lhs, rhs, false, matching) =>
        (hVecOf(lhs), hVecOf(rhs)) match {
          // both sides vector-shaped: each matched pair takes whichever
          // side's histogram reading is live at that instant (a
          // selector's h reading and float reading are disjoint per
          // instant — mixedFill's latest-sample rule — so the union
          // never double-counts; both-histogram pairs drop, as
          // upstream). A histogram × histogram pair contributes to
          // NEITHER reading: the other side's float channel is empty
          // there.
          case (Some(l), Some(r)) =>
            Some(hScaleBy(l, rhs, divide = false, matching, hIsLeft = true)
              .unionByName(
                hScaleBy(r, lhs, divide = false, matching, hIsLeft = false)))
          case (Some(l), None) =>
            Some(hScaleBy(l, rhs, divide = false, matching, hIsLeft = true))
          case (None, Some(r)) =>
            Some(hScaleBy(r, lhs, divide = false, matching, hIsLeft = false))
          case _ => None
        }
      case Bin("/", lhs, rhs, false, matching) =>
        hVecOf(lhs).map(hScaleBy(_, rhs, divide = true, matching))
      // histogram == / != (upstream vectorElemBinop routes matched
      // histogram pairs to FloatHistogram.Equals; the filter form
      // keeps the lhs sample). The BOOL form is a FLOAT result and
      // lives in the float channel ([[binary]] unions it in); ordered
      // comparisons between histograms drop upstream too.
      case Bin(op @ ("==" | "!="), lhs, rhs, false, matching) =>
        (hVecOf(lhs), hVecOf(rhs)) match {
          case (Some(l), Some(r)) => Some(compared(op, bool = false, l, r, matching))
          case _ => None
        }
      // `last_over_time(mh[range])`: the latest sample in the trailing
      // window when that sample IS a histogram (upstream
      // funcLastOverTime picks the later of the float/histogram
      // channels; [[rangeFunctionBody]] mirrors the float-wins half).
      case Call("last_over_time", Seq(RangeSel(s, rangeMs)))
          if s.at.isEmpty =>
        Some(mixedFill(s, rangeMs - 1).where(col("vh.h").isNotNull)
          .select(col("series_key"), col("labels"), col("t"),
            col("vh.h").as("h")))
      // `last_over_time` over a histogram-valued SUBQUERY: the mixed
      // inner stream ([[mixedSubqueryStream]]) through the same
      // range-grain latest-element fill; kept where a histogram wins
      case Call("last_over_time", Seq(sq: Subquery)) if sq.at.isEmpty =>
        mixedSubqueryStream(sq).map(src =>
          mixedFillFrom(src, sq.rangeMs - 1).where(col("vh.h").isNotNull)
            .select(col("series_key"), col("labels"), col("t"),
              col("vh.h").as("h")))
      case _ => None
    }

    /** `rate()`/`increase()`/`delta()` over a native-histogram range
      * selector — histogram-valued output, one histogram per (series,
      * instant). Upstream semantics (promql/functions.go
      * histogramRate): the window's result is `last − first` channel-
      * wise, plus the pre-reset histogram at every counter reset
      * (detected whole-histogram: any count/z_count/bucket shrink), the
      * whole thing scaled by the float family's extrapolation factor
      * (histograms skip the counter zero-cut — that guard is
      * float-only upstream) and, for `rate`, by 1/range-seconds.
      * `delta` is the gauge form: plain `last − first`, no resets.
      *
      * Plan shape — the identity `last − first + Σ resets prev ≡
      * Σ consecutive-pair deltas (reset pairs contribute cur)` turns
      * the window computation into per-CHANNEL sums: ONE per-series
      * sample-grain lag (whole-struct predecessor + in-row channel
      * subtract), a channel explode (≤ ~2·buckets + 3 scalar channels
      * per sample), the family's candidate-anchor explode, and ONE
      * map-side-combined hash aggregate per (series, instant, channel).
      * Nothing is quadratic; the shuffle carries channel-grain rows.
      * The per-(series, instant) sample stats (n, first/last t → the
      * extrapolation factor) ride a parallel sample-grain aggregate
      * joined back at group grain.
      *
      * Corridor bounds (documented, as upstream warns-and-drops):
      * schema and zero threshold are fixed per series within the range;
      * a float sample inside the window of a histogram series does not
      * flip the result to float. */
    private def hRangeVec(fn: String, rs: RangeSel): DataFrame =
      hRangeVecFrom(fn,
        selected(rs.sel).where(col("h").isNotNull)
          .select("series_key", "labels", "t", "h"),
        rs.rangeMs)

    /** The histogram channel of a subquery's inner evaluation on its
      * own lattice, offset-shifted onto outer time — the h twin of
      * [[rangeArgOf]]'s subquery branch (same lattice alignment), for
      * range functions over histogram-valued subqueries. */
    private def hSubqueryVec(sq: Subquery): Option[DataFrame] =
      innerOf(sq).hVecOf(sq.body).map(onOuterTime(sq, _))

    /** Both channels of a subquery's inner evaluation as one mixed
      * stream `(series_key, labels, t, v, h)` on outer time — the
      * subquery twin of a selector's raw mixed selection, for
      * `last_over_time` over histogram-valued subqueries (upstream
      * funcLastOverTime picks the later inner element ACROSS types).
      * None when the body has no histogram reading (the float path
      * then stands alone). The float and histogram inner points are
      * disjoint per (series, instant): an inner instant-vector element
      * is of exactly one kind (mixedFill's latest-sample rule). */
    private def mixedSubqueryStream(sq: Subquery): Option[DataFrame] =
      hSubqueryVec(sq).map { h =>
        val (f, _) = rangeArgOf(sq)
        val hType = h.schema("h").dataType
        f.withColumn("h", lit(null).cast(hType))
          .select("series_key", "labels", "t", "v", "h")
          .unionByName(h
            .withColumn("v", lit(null).cast("double"))
            .select("series_key", "labels", "t", "v", "h"))
      }

    /** [[hRangeVec]] over an arbitrary histogram sample stream
      * `(series_key, labels, t, h)` — range selectors pass the raw
      * selection, subqueries their inner evaluation. */
    private def hRangeVecFrom(
        fn: String, src: DataFrame, rangeMs: Long): DataFrame = {
      val isCounter = fn != "delta"
      // bucket count at index i (0 when the channel is absent; `get` is
      // the null-on-miss lookup — ANSI element_at throws on empty)
      def cAt(arr: Column, i: Column): Column =
        coalesce(get(filter(arr, b => b.getField("i") === i), lit(0))
          .getField("c"), lit(0.0))
      // channel-wise cur − prev over one side's sparse arrays; zero
      // deltas drop (canonical sparse form — both engines' walks then
      // see the same bucket sequence)
      def sideSub(cur: Column, prev: Column): Column = {
        val idxs = array_sort(array_union(
          transform(cur, b => b.getField("i")),
          transform(prev, b => b.getField("i"))))
        filter(
          transform(idxs, i =>
            struct(i.as("i"), (cAt(cur, i) - cAt(prev, i)).as("c"))),
          s => s.getField("c") =!= 0.0)
      }
      def anyShrunk(cur: Column, prev: Column): Column =
        exists(prev, pb => cAt(cur, pb.getField("i")) < pb.getField("c"))
      val w = Window.partitionBy("series_key").orderBy("t")
      val withPrev = src
        .withColumn("__ph", lag("h", 1).over(w))
        .withColumn("__pt", lag("t", 1).over(w))
      // upstream FloatHistogram.DetectReset: any channel shrinking
      // (total, zero bucket, or any sparse bucket) marks a counter
      // restart; the pair then contributes cur alone (≡ adding prev to
      // last − first)
      val reset: Column =
        if (!isCounter) lit(false)
        else col("h.count") < col("__ph.count") ||
          col("h.z_count") < col("__ph.z_count") ||
          anyShrunk(col("h.pos"), col("__ph.pos")) ||
          anyShrunk(col("h.neg"), col("__ph.neg"))
      def d(cur: Column, prev: Column): Column =
        when(reset, cur).otherwise(cur - prev)
      val deltas = withPrev.where(col("__pt").isNotNull).select(
        col("series_key"), col("t"), col("__pt"),
        when(reset, col("h.pos"))
          .otherwise(sideSub(col("h.pos"), col("__ph.pos"))).as("__dpos"),
        when(reset, col("h.neg"))
          .otherwise(sideSub(col("h.neg"), col("__ph.neg"))).as("__dneg"),
        d(col("h.z_count"), col("__ph.z_count")).as("__dz"),
        d(col("h.count"), col("__ph.count")).as("__dcnt"),
        // the sum channel is gauge-like even in a counter histogram
        // (negative observations shrink it); on reset it restarts with
        // the post-reset histogram like every other channel
        d(col("h.sum"), col("__ph.sum")).as("__dsum"))
      def chanOf(p0: Int, arr: Column): Column = transform(arr, b =>
        struct(lit(p0).as("part"), b.getField("i").as("i"),
          b.getField("c").as("c")))
      def scalarChan(p0: Int, c: Column): Column =
        struct(lit(p0).as("part"), lit(null).cast("int").as("i"), c.as("c"))
      val chan = deltas.select(
        col("series_key"), col("t"), col("__pt"),
        explode(concat(
          chanOf(-1, col("__dneg")),
          array(scalarChan(0, col("__dz")), scalarChan(2, col("__dcnt")),
            scalarChan(3, col("__dsum"))),
          chanOf(1, col("__dpos")))).as("ch"))
      // the family's candidate-anchor explode ([[rangeFrame]]'s form)
      val k = ((rangeMs + p.stepMs - 1) / p.stepMs).toInt
      val g0 = (floor((col("t") - 1 - p.startMs) / p.stepMs) * p.stepMs
        + p.stepMs + p.startMs).cast("long")
      def anchored(df: DataFrame): DataFrame =
        // k = 1: one candidate anchor per sample ([[rangeFrame]]'s
        // tumbling elision — the g0+step candidate never survives the
        // half-open filter), so no Generate fan-out
        (if (k == 1) df.withColumn("g", g0)
         else df.withColumn("g",
           explode(sequence(g0, g0 + k.toLong * p.stepMs, lit(p.stepMs)))))
        .where(col("g").between(p.startMs, p.endMs) &&
          col("t") > col("g") - rangeMs) // half-open (g − range, g]
      val (chanSums, stats) = if (k > p.rangeExplodeCapK) {
        // ---- high-fan-out decomposition (the float path's capK rule,
        // reshaped for the two-endpoint window membership): a lag pair
        // (prev → cur) contributes to anchor g iff BOTH endpoints lie
        // in (g − range, g] — t ≤ g AND __pt > g − range — i.e.
        //   g ∈ [t, __pt + range),
        // an INTERVAL in anchor space. Every per-channel window sum is
        // therefore a DIFFERENCE OF PREFIX SUMS: a +c event at `t`, a
        // −c event at `__pt + range`, one ascending running sum per
        // (series, channel) evaluated at the lattice anchors. Events
        // bucket EXACTLY to lattice grain first (for a lattice anchor
        // g, et ≤ g ⟺ ceil_lattice(et) ≤ g), so the exchange and the
        // single in-partition sort run at per-(series, channel, step)
        // grain — no k·n explode anywhere, `rate(mh[1d])` at 1m step
        // included. Float caveat (documented): the ± running sum
        // re-associates additions relative to the explode form; the
        // bucket/count channels are count-valued and exact in doubles,
        // the `sum` channel can carry float residue (the small-k
        // conformance differential pins equality within tolerance).
        def ceilLat(c: Column): Column =
          (floor((c - 1 - p.startMs) / p.stepMs) * p.stepMs
            + p.stepMs + p.startMs).cast("long")
        val events = chan.select(col("series_key"),
            col("t").as("et"),
            col("ch.part").as("part"), col("ch.i").as("i"),
            col("ch.c").as("c"))
          .unionByName(chan.select(col("series_key"),
            (col("__pt") + rangeMs).as("et"),
            col("ch.part").as("part"), col("ch.i").as("i"),
            (-col("ch.c")).as("c")))
        val partials = events
          .withColumn("pe", greatest(ceilLat(col("et")), lit(p.startMs)))
          .where(col("pe") <= p.endMs)
          .groupBy("series_key", "part", "i", "pe")
          .agg(sum("c").as("c"))
          .withColumn("flag", lit(0))
        // anchors at OUTPUT grain: the observed channel set per series
        // × the lattice — the result's own cardinality, nothing larger
        val shufN = src.sparkSession.sessionState.conf.numShufflePartitions
        val chanDim = chan.select(col("series_key"),
          col("ch.part").as("part"), col("ch.i").as("i")).distinct()
        val anchors = chanDim
          .repartition(shufN)
          .withColumn("pe",
            explode(sequence(lit(p.startMs), lit(p.endMs), lit(p.stepMs))))
          .withColumn("c", lit(null).cast("double"))
          .withColumn("flag", lit(1))
        // explicit partition count on the decomposition exchange — the
        // same AQE-vs-compression pin as windowRangeAgg's (bucket and
        // anchor rows compress away; a byte-coalesced single partition
        // would serialize the window pass)
        val rows = partials.unionByName(
            anchors.select(partials.columns.toIndexedSeq.map(col): _*))
          .repartition(shufN, col("series_key"), col("part"), col("i"))
        // events at a bucket (flag 0) order BEFORE the anchor at the
        // same lattice point (flag 1): both event kinds take effect AT
        // their point — +c at t ≤ g, −c at __pt + range ≤ g
        val wrun = Window.partitionBy("series_key", "part", "i")
          .orderBy(col("pe"), col("flag"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sums = rows
          .withColumn("run", sum("c").over(wrun))
          .where(col("flag") === 1 && col("run").isNotNull &&
            col("run") =!= 0.0)
          .select(col("series_key"), col("pe").as("g"),
            col("part"), col("i"), col("run").as("c"))
        // per-(series, g) sample stats through the float family's own
        // high-k machinery (count/first/last ARE its semigroup shapes);
        // schema/zt are per-series constants within the corridor bound,
        // so the per-series dim is exact where the explode path takes
        // per-group first/max
        val statsAgg = windowRangeAgg(
          src.select(col("series_key"), col("labels"), col("t"),
            col("h.count").as("v")),
          rangeMs, need = Set("first", "last"), needLag = false)
        val seriesMeta = src.groupBy("series_key")
          .agg(first(col("h.schema")).as("schema"), max(col("h.zt")).as("zt"))
        val st = statsAgg
          .select(col("series_key"), col("t").as("g"), col("cnt"),
            col("first").getField("t").as("first_t"),
            col("last").getField("t").as("last_t"))
          .join(p.hintSeriesDim(seriesMeta), Seq("series_key"))
          .where(col("cnt") >= 2 && col("last_t") > col("first_t"))
        (sums, st)
      } else {
        // a pair contributes to instant g only when BOTH ends are in the
        // window — the base of last − first is the first IN-WINDOW sample
        val sums = anchored(chan)
          .where(col("__pt") > col("g") - rangeMs)
          .select(col("series_key"), col("g"),
            col("ch.part").as("part"), col("ch.i").as("i"), col("ch.c").as("c"))
          .groupBy("series_key", "g", "part", "i")
          .agg(sum("c").as("c"))
        // per-(series, instant) sample stats → the extrapolation factor
        val st = anchored(src.select(col("series_key"), col("t"),
            col("h.schema").as("__sch"), col("h.zt").as("__zt")))
          .groupBy("series_key", "g")
          .agg(count(lit(1)).as("cnt"),
            min("t").as("first_t"), max("t").as("last_t"),
            first("__sch").as("schema"), max("__zt").as("zt"))
          .where(col("cnt") >= 2 && col("last_t") > col("first_t"))
        (sums, st)
      }
      val si = (col("last_t") - col("first_t")).cast("double") / 1000.0
      val avgDur = si / (col("cnt") - 1)
      val durStart = (col("first_t") - (col("g") - rangeMs)).cast("double") / 1000.0
      val durEnd = (col("g") - col("last_t")).cast("double") / 1000.0
      val thr = avgDur * 1.1
      val ext = si +
        when(durStart < thr, durStart).otherwise(avgDur / 2) +
        when(durEnd < thr, durEnd).otherwise(avgDur / 2)
      val factor: Column =
        if (fn == "rate") ext / si / (rangeMs / 1000.0) else ext / si
      val scaled = chanSums
        .join(stats.withColumn("__factor", factor),
          Seq("series_key", "g"))
        .withColumn("c", col("c") * col("__factor"))
      val emptySide = array().cast("array<struct<i:int,c:double>>")
      val packed = scaled
        .groupBy("series_key", "g", "schema", "zt")
        .agg(
          coalesce(sum(when(col("part") === 0, col("c"))), lit(0.0)).as("__z"),
          coalesce(sum(when(col("part") === 2, col("c"))), lit(0.0)).as("__cnt"),
          coalesce(sum(when(col("part") === 3, col("c"))), lit(0.0)).as("__sum"),
          sort_array(collect_list(when(col("part") === -1 && col("c") =!= 0.0,
            struct(col("i"), col("c"))))).as("__neg"),
          sort_array(collect_list(when(col("part") === 1 && col("c") =!= 0.0,
            struct(col("i"), col("c"))))).as("__pos"))
        .select(col("series_key"), col("g").as("t"),
          struct(col("schema"), col("zt"),
            col("__z").as("z_count"), col("__cnt").as("count"),
            col("__sum").as("sum"),
            coalesce(col("__neg"), emptySide).as("neg"),
            coalesce(col("__pos"), emptySide).as("pos")).as("h"))
      // labels re-attach at output grain, hint gated on the caller's
      // series bound (the windowRangeAgg discipline)
      val labelsDim = seriesLabelsDim(src)
      val out = packed.join(p.hintSeriesDim(labelsDim), Seq("series_key"))
        .select("series_key", "labels", "t", "h")
      // counter/gauge range functions drop the metric name
      dropName(out)
    }

    /** The histogram MERGE CORE shared by `sum`/`avg` and [[hArith]]:
      * every group of rows sharing (series_key, t) merges bucket-wise.
      * Mixed schemas merge at the group's COARSEST (minimum) schema
      * with the exact `idx' = ⌈idx/2^Δ⌉` remap
      * ([[NativeHistogram.sumBy]]'s rule). Mixed ZERO THRESHOLDS follow
      * upstream FloatHistogram.Add's reconciliation: the target is the
      * group MAX; when it cuts strictly INSIDE a populated bucket (at
      * the shared coarsest lattice at most ONE index can straddle it,
      * so one widening step converges where upstream loops), it widens
      * to that bucket's upper bound; buckets then lying fully inside
      * `[−zt, zt]` absorb into the zero count. Scalar moments add. All
      * joins and aggregates run at instant-vector grain — never
      * samples. */
    private def hMergeGroups(g0: DataFrame, avg: Boolean = false): DataFrame = {
      // The merge core reads its input through SIX relations (base,
      // remapped, star, widen, withUp, and the final three-way join),
      // and the join tree references the input's FULL lineage ~16× —
      // under [[hArith]] that multiplied promql_hist_arith's physical
      // plan to 2,694 nodes / 148 parquet scans / 383 exchanges at 15
      // instants (r12 audit): a compile-time bomb that grows with the
      // consumer count, not the data. The input is INSTANT-VECTOR
      // grain — one histogram row per (series, lattice instant), the
      // smallest relation in any of these plans — so it is materialized
      // once, call-scoped (guide §3.3: "very wide unions/joins produce
      // enormous plans; materialising an intermediate truncates the
      // plan"), exactly like the twice-consumed relations in
      // [[graft.llm.Dedup]]. Not a cross-run cache: the checkpoint is
      // scoped to this call and rebuilt on every invocation.
      val g = g0.localCheckpoint()
      // labels ride as a GROUPING KEY (sorted entry array — constant
      // per series_key, so the grouping is identity), not a
      // `first(map)` buffer: every other buffer here is primitive, and
      // the map buffer alone demoted this merge core to a SortAggregate
      // in every histogram-arithmetic plan (r12)
      val base = g.groupBy(col("series_key"),
          graft.functions.canonicalLabelEntries(col("labels")).as("__le"), col("t")).agg(
          min(col("h.schema")).as("__schema"),
          max(col("h.zt")).as("__zt"),
          min(col("h.zt")).as("__ztMin"),
          sum(col("h.z_count")).as("__z"),
          sum(col("h.count")).as("__count"),
          sum(col("h.sum")).as("__sum"),
          count(lit(1)).as("__n"))
        .withColumn("labels", map_from_entries(col("__le")))
        .drop("__le")
      def upperAt(i: Column, sch: Column): Column =
        pow(lit(2.0), i.cast("double") * pow(lit(2.0), -sch.cast("double")))
      def side(p0: Int, arr: Column) = transform(arr, b =>
        struct(lit(p0).as("part"), b.getField("i").as("i"), b.getField("c").as("c")))
      // per-input bucket rows remapped to the group schema (pre-merge:
      // the widening's populated-bucket test reads THESE, as upstream
      // checks each input histogram, not the merged result)
      val remapped = g.select(col("series_key"), col("t"),
          col("h.schema").as("__sch"),
          explode(concat(side(-1, col("h.neg")), side(1, col("h.pos")))).as("b"))
        .select(col("series_key"), col("t"), col("__sch"),
          col("b.part").as("part"), col("b.i").as("i"), col("b.c").as("c"))
        .join(base.select(col("series_key"), col("t"), col("__schema")),
          Seq("series_key", "t"))
        .withColumn("i", (-floor((-col("i")).cast("double") /
          pow(lit(2.0), (col("__sch") - col("__schema")).cast("double"))))
          .cast("int"))
      val bucketRows = remapped
        .groupBy("series_key", "t", "part", "i")
        .agg(sum("c").as("c"))
        .where(col("c") =!= 0.0) // canonical sparse form
      // zero-threshold reconciliation: only groups that actually MIX
      // thresholds reconcile (equal thresholds share the invariant that
      // no bucket lies inside them); iStar = the one lattice index
      // whose bucket can contain the target threshold
      val star = base.withColumn("__iStar",
        when(col("__zt") > col("__ztMin") && col("__zt") > 0,
          NativeHistogram.bucketIdx(col("__zt"), col("__schema"))))
      val widen = remapped.join(
          star.select(col("series_key"), col("t"), col("__iStar"),
            col("__schema").as("__s2"), col("__zt").as("__z2")),
          Seq("series_key", "t"))
        .where(col("__iStar").isNotNull && col("i") === col("__iStar") &&
          col("c") =!= 0.0 &&
          col("__z2") < upperAt(col("__iStar"), col("__s2")))
        .groupBy("series_key", "t")
        .agg(max(upperAt(col("__iStar"), col("__s2"))).as("__ztW"))
      val base2 = star.drop("__ztMin").join(widen, Seq("series_key", "t"), "left")
        .withColumn("__ztF", coalesce(col("__ztW"), col("__zt")))
      // absorb buckets fully inside the (possibly widened) zero bucket:
      // on the |v| axis both parts share the upper-bound test
      val withUp = bucketRows.join(
          base2.select(col("series_key"), col("t"), col("__ztF"),
            col("__schema").as("__s3")),
          Seq("series_key", "t"))
        .withColumn("__up", upperAt(col("i"), col("__s3")))
      // zero-absorption and the surviving bucket arrays in ONE
      // aggregate + ONE join-back (r13): the two disjoint-filter
      // aggregates over withUp became conditional channels —
      // collect_list skips the nulls the when() leaves, and a group
      // whose every bucket absorbs now yields an EMPTY array where the
      // two-join form yielded a null arrays row; both coalesce to the
      // same empty-array/0.0 defaults below. Saves a join and an
      // exchange pair per merge — this core is instantiated per
      // histogram operator, so plan size is the point (guide §3.3).
      val arrays = withUp
        .groupBy("series_key", "t")
        .agg(
          sum(when(col("__up") <= col("__ztF"), col("c"))).as("__zAdd"),
          sort_array(collect_list(when(col("part") === -1 &&
            col("__up") > col("__ztF"),
            struct(col("i"), col("c"))))).as("__neg"),
          sort_array(collect_list(when(col("part") === 1 &&
            col("__up") > col("__ztF"),
            struct(col("i"), col("c"))))).as("__pos"))
      // avg: upstream divides every channel of the group SUM by the
      // group's element count
      val den: Column = if (avg) col("__n").cast("double") else lit(1.0)
      def scaled(c: Column): Column = if (avg) c / den else c
      def scaledArr(c: Column): Column =
        if (!avg) c
        else transform(c, b =>
          struct(b.getField("i").as("i"), (b.getField("c") / den).as("c")))
      base2.join(arrays, Seq("series_key", "t"), "left")
        .select(col("series_key"), col("labels"), col("t"),
          struct(
            col("__schema").as("schema"), col("__ztF").as("zt"),
            scaled(col("__z") + coalesce(col("__zAdd"), lit(0.0))).as("z_count"),
            scaled(col("__count")).as("count"),
            scaled(col("__sum")).as("sum"),
            coalesce(scaledArr(col("__neg")),
              array().cast("array<struct<i:int,c:double>>")).as("neg"),
            coalesce(scaledArr(col("__pos")),
              array().cast("array<struct<i:int,c:double>>")).as("pos"))
            .as("h"))
    }

    /** `h1 + h2` / `h1 − h2` (upstream FloatHistogram.Add/Sub): each
      * matched pair ([[matched]]) merges through [[hMergeGroups]];
      * subtraction adds the written right operand scaled by −1 (upstream
      * Sub is channel-wise with the same reconciliation). */
    private def hArith(sub: Boolean, l: DataFrame, r: DataFrame,
        matching: Option[Matching]): DataFrame = {
      val rh = if (sub) hScaled(col("__r"), lit(-1.0), divide = false) else col("__r")
      hMergeGroups(matched(l, r, matching, filter = false)
        .select(col("series_key"), col("labels"), col("t"),
          explode(array(col("__l"), rh)).as("h")))
    }

    /** `h * s` / `h / s` on one histogram struct: every channel scales
      * (upstream FloatHistogram.Mul/Div) and buckets scaled to zero
      * drop; schema and zero threshold are unchanged. The factor is a
      * COLUMN, so one body serves literal, per-instant scalar, and
      * matched float-vector factors. Division by zero follows the float
      * path's IEEE mapping ([[arith]]). */
    private def hScaled(h: Column, s: Column, divide: Boolean): Column = {
      def f(c: Column): Column = arith(if (divide) "/" else "*", c, s)
      def sideF(arr: Column) = filter(
        transform(arr, b =>
          struct(b.getField("i").as("i"), f(b.getField("c")).as("c"))),
        b => b.getField("c") =!= 0.0)
      struct(
        h.getField("schema").as("schema"), h.getField("zt").as("zt"),
        f(h.getField("z_count")).as("z_count"), f(h.getField("count")).as("count"),
        f(h.getField("sum")).as("sum"),
        sideF(h.getField("neg")).as("neg"), sideF(h.getField("pos")).as("pos"))
    }

    /** `h × e` / `h ÷ e`, routed by e's TYPE: a scalar expression
      * (literals and arithmetic over them), a time-varying scalar
      * (`scalar(v)`, `time()`-derived — joined on the instant alone,
      * the vector↔scalar rule), or a float VECTOR (each [[matched]]
      * pair scales channel-wise — upstream vectorElemBinop's
      * histogram×float Mul/Div; `hIsLeft` says which WRITTEN side the
      * histogram operand is). The metric name drops. Other hist↔float
      * combinations (±, `f / h`, ordered comparisons) stay
      * upstream-empty: this reading contributes nothing and the float
      * channel drops the histogram rows. */
    private def hScaleBy(hv: DataFrame, e: Expr, divide: Boolean,
        matching: Option[Matching], hIsLeft: Boolean = true): DataFrame =
      eval(e) match {
        case Scal(s) => dropName(hv.withColumn("h", hScaled(col("h"), lit(s), divide)))
        case ScalV(sv) =>
          dropName(hv.join(sv.withColumnRenamed("v", "__sv"), Seq("t"))
            .withColumn("h", hScaled(col("h"), col("__sv"), divide))
            .drop("__sv"))
        case Vec(f) =>
          val (pairs, hc, fc) =
            if (hIsLeft) (matched(hv, f, matching, filter = false), "__l", "__r")
            else (matched(f, hv, matching, filter = false), "__r", "__l")
          pairs.select(col("series_key"), col("labels"), col("t"),
            hScaled(col(hc), col(fc), divide).as("h"))
      }

    // --- aggregations --------------------------------------------------

    private def aggregate(a: Agg): Value = {
      val iv0 = vecOf(a.body)
      // count/group: an instant-vector ELEMENT is a series whose latest
      // in-lookback sample is of either kind; the float and histogram
      // readings are disjoint per (series, instant), so the union is
      // exactly the element set (v is a placeholder — neither op reads it)
      val iv =
        if (hasH && (a.op == "count" || a.op == "group"))
          hVecOf(a.body).map(h => iv0.unionByName(
            h.withColumn("v", lit(1.0))
              .select("series_key", "labels", "t", "v")))
            .getOrElse(iv0)
        else iv0
      val keyed = iv
        .withColumn("g_labels", labelSubset(a.grouping, keep = !a.without))
        .withColumn("g_key", graft.functions.seriesKey(col("g_labels")))
      // g_labels ride as a GROUPING KEY (sorted entry array — g_key is
      // derived from g_labels, so the grouping is identity), not a
      // first(map) buffer that would demote the aggregate to a
      // SortAggregate over the instant-vector volume (r12)
      def grouped(aggs: Column*): DataFrame =
        keyed.groupBy(col("g_key"),
            graft.functions.canonicalLabelEntries(col("g_labels")).as("__le"), col("t"))
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("labels", map_from_entries(col("__le")))
          .withColumnRenamed("g_key", "series_key")
          .select("series_key", "labels", "t", "v")
      Vec(a.op match {
        case "sum" => grouped(sum("v").as("v"))
        case "min" => grouped(min("v").as("v"))
        case "max" => grouped(nanSkipMax(col("v")).as("v"))
        case "avg" => grouped(avg("v").as("v"))
        case "count" => grouped(count(lit(1)).cast("double").as("v"))
        case "group" => grouped(lit(1.0).as("v"))
        case "stddev" => grouped(
          sqrt(sum(col("v") * col("v")) / count(lit(1)) -
            pow(sum("v") / count(lit(1)), 2)).as("v"))
        case "stdvar" => grouped(
          (sum(col("v") * col("v")) / count(lit(1)) -
            pow(sum("v") / count(lit(1)), 2)).as("v"))
        case "quantile" =>
          val phi = scalarOf(a.param.getOrElse(fail("quantile needs φ")))
          grouped(quantileEdge(phi) match {
            case Some(edge) => min(lit(edge)).as("v")
            case None => expr(s"percentile(v, $phi)").as("v")
          })
        case "topk" | "bottomk" =>
          val kD = scalarOf(a.param.getOrElse(fail(s"${a.op} needs k")))
          // upstream: a NaN / fractional k is a query error, not a
          // truncation
          if (kD.isNaN || kD != math.floor(kD))
            fail(s"${a.op}: scalar value $kD is not an integer")
          val k = kD.toInt
          val ord = if (a.op == "topk") col("v").desc else col("v").asc
          // topk keeps the INPUT series' full label sets. NaN loses
          // every PromQL heap comparison — it is picked only when the
          // group has fewer non-NaN elements than k, so it must sort
          // LAST here (Spark's NaN-greatest default would hand topk a
          // NaN first)
          keyed
            .withColumn("__rk", row_number().over(
              Window.partitionBy("g_key", "t").orderBy(
                when(isnan(col("v")), 1).otherwise(0).asc, ord, col("series_key"))))
            .where(col("__rk") <= k)
            .select("series_key", "labels", "t", "v")
        case "limitk" =>
          val k = scalarOf(a.param.getOrElse(fail("limitk needs k"))).toInt
          // PromQL's k-series pick is unspecified (upstream samples
          // randomly); the deterministic stand-in is lexicographic
          // series_key order per group — ts_limitk's pinned convention
          keyed
            .withColumn("__rk", row_number().over(
              Window.partitionBy("g_key", "t").orderBy(col("series_key"))))
            .where(col("__rk") <= k)
            .select("series_key", "labels", "t", "v")
        case "limit_ratio" =>
          val r = scalarOf(a.param.getOrElse(fail("limit_ratio needs r")))
          if (r < -1.0 || r > 1.0) fail("limit_ratio takes a ratio in [-1, 1]")
          // deterministic per-series hash sampling (ts_limit_ratio's
          // rule): the canonical labels hash as an unsigned 64-bit
          // fraction; r ≥ 0 keeps [0, r), negative r the complement
          // [1+r, 1) — the two partitions union to everything and
          // membership is stable across evaluations
          graft.catalyst.GraftExtensions.install(spark)
          val h = graft.functions.labelsHash(col("labels"))
          val frac = h.cast("double") / lit(math.pow(2.0, 64)) +
            when(h < 0, 1.0).otherwise(0.0)
          keyed
            .where(if (r >= 0) frac < lit(r) else frac >= lit(1.0 + r))
            .select("series_key", "labels", "t", "v")
        case "count_values" =>
          val target = a.param match {
            case Some(StringLit(s)) => s
            case _ => fail("count_values needs a label-name string literal")
          }
          // group key gains a label holding the sample VALUE (formatted
          // like Prometheus: integral values print without a fraction)
          val vStr = when(col("v") === floor(col("v")),
            col("v").cast("long").cast("string")).otherwise(col("v").cast("string"))
          keyed
            .withColumn("g_labels",
              map_concat(col("g_labels"), map(lit(target), vStr)))
            .withColumn("g_key", graft.functions.seriesKey(col("g_labels")))
            // same entry-array grouping-key form as grouped() above
            .groupBy(col("g_key"),
              graft.functions.canonicalLabelEntries(col("g_labels")).as("__le"), col("t"))
            .agg(count(lit(1)).cast("double").as("v"))
            .withColumn("labels", map_from_entries(col("__le")))
            .withColumnRenamed("g_key", "series_key")
            .select("series_key", "labels", "t", "v")
        case other => fail(s"unsupported aggregation $other")
      })
    }

    // --- binary operators ----------------------------------------------

    private def binary(b: Bin): Value = (eval(b.lhs), eval(b.rhs)) match {
      case (Scal(l), Scal(r)) => Scal(scalarScalar(b.op, l, r, b.bool))
      case (Vec(l), Scal(r)) => Vec(vectorScalar(b, l, lit(r), scalarRight = true))
      case (Scal(l), Vec(r)) => Vec(vectorScalar(b, r, lit(l), scalarRight = false))
      case (Vec(l), Vec(r)) =>
        val base = vectorVector(b, l, r)
        // bool-form == / != between HISTOGRAM pairs yields 1/0 FLOATS
        // (upstream FloatHistogram.Equals through the bool modifier) —
        // those pairs are invisible to the float channels (null v), so
        // their rows union in here; mixed float↔histogram pairs
        // contribute to neither reading (upstream annotates and drops)
        Vec(
          if (b.bool && (b.op == "==" || b.op == "!=") && hasH)
            (hVecOf(b.lhs), hVecOf(b.rhs)) match {
              case (Some(hl), Some(hr)) =>
                base.unionByName(compared(b.op, bool = true, hl, hr, b.matchOn))
              case _ => base
            }
          else base)
      // time-varying scalars: join on the instant alone
      case (Vec(l), ScalV(r)) =>
        Vec(vectorScalar(b, l.join(r.withColumnRenamed("v", "__sv"), Seq("t")),
          col("__sv"), scalarRight = true).drop("__sv"))
      case (ScalV(l), Vec(r)) =>
        Vec(vectorScalar(b, r.join(l.withColumnRenamed("v", "__sv"), Seq("t")),
          col("__sv"), scalarRight = false).drop("__sv"))
      case (ScalV(l), Scal(r)) =>
        ScalV(l.withColumn("v", scalArith(b, col("v"), lit(r))))
      case (Scal(l), ScalV(r)) =>
        ScalV(r.withColumn("v", scalArith(b, lit(l), col("v"))))
      case (ScalV(l), ScalV(r)) =>
        ScalV(l.withColumnRenamed("v", "__lv")
          .join(r.withColumnRenamed("v", "__rv"), Seq("t"))
          .select(col("t"), scalArith(b, col("__lv"), col("__rv")).as("v")))
    }

    /** Scalar-side arithmetic/comparison: comparisons between scalars
      * require `bool` (the PromQL rule) and yield 0/1. */
    private def scalArith(b: Bin, l: Column, r: Column): Column =
      if (cmpOps.contains(b.op)) {
        if (!b.bool) fail("comparisons between scalars must use BOOL")
        when(cmpCol(b.op, l, r), 1.0).otherwise(0.0)
      } else arith(b.op, l, r)

    private def scalarScalar(op: String, l: Double, r: Double, bool: Boolean): Double = {
      if (cmpOps.contains(op) && !bool)
        fail("comparisons between scalars must use BOOL")
      def cmp(res: Boolean) = if (res) 1.0 else 0.0
      op match {
        case "+" => l + r; case "-" => l - r; case "*" => l * r
        case "/" => l / r; case "%" => l % r; case "^" => math.pow(l, r)
        case "atan2" => math.atan2(l, r)
        case "==" => cmp(l == r); case "!=" => cmp(l != r)
        case ">" => cmp(l > r); case "<" => cmp(l < r)
        case ">=" => cmp(l >= r); case "<=" => cmp(l <= r)
        case other => fail(s"scalar $other scalar is not defined")
      }
    }

    /** PromQL arithmetic is IEEE-754: x/0 = ±Inf, 0/0 = NaN, x%0 = NaN.
      * Spark's Divide/Remainder instead return NULL (non-ANSI) or THROW
      * (ANSI, the 4.x default) on zero divisors — the zero case is
      * mapped explicitly (CaseWhen branches evaluate lazily, so the
      * guarded division never runs on a zero divisor). */
    private def arith(op: String, l: Column, r: Column): Column = op match {
      case "+" => l + r; case "-" => l - r; case "*" => l * r
      case "/" =>
        when(r === 0.0,
          when(l > 0, lit(Double.PositiveInfinity))
            .when(l < 0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN)))
          .otherwise(l / r)
      case "%" => when(r === 0.0, lit(Double.NaN)).otherwise(l % r)
      case "^" => pow(l, r)
      case "atan2" => atan2(l, r)
      case _ => fail(s"$op is not arithmetic")
    }

    private def cmpCol(op: String, l: Column, r: Column): Column = op match {
      case "==" => l === r; case "!=" => l =!= r
      case ">" => l > r; case "<" => l < r
      case ">=" => l >= r; case "<=" => l <= r
      case _ => fail(s"$op is not a comparison")
    }

    private val cmpOps = Set("==", "!=", ">", "<", ">=", "<=")

    private def vectorScalar(b: Bin, v: DataFrame, s: Column, scalarRight: Boolean): DataFrame = {
      val (l, r) = if (scalarRight) (col("v"), s) else (s, col("v"))
      if (cmpOps.contains(b.op)) {
        val pred = cmpCol(b.op, l, r)
        if (b.bool)
          dropName(v.withColumn("v", when(pred, 1.0).otherwise(0.0)))
        else v.where(pred) // filter keeps the original label sets
      } else dropName(v.withColumn("v", arith(b.op, l, r)))
    }

    /** A label subset of the row's `labels`: `keep` retains exactly
      * `ls` (`by`, `on`); otherwise `ls` and the metric name drop
      * (`without`, `ignoring`, and a bare binary operator, which
      * matches on every label but the name). The grouping labels of
      * every aggregation and the match key of every binary operator. */
    private def labelSubset(ls: Seq[String], keep: Boolean): Column =
      if (keep) map_filter(col("labels"), (k, _) => k.isin(ls: _*))
      else map_filter(col("labels"), (k, _) => !k.isin(ls :+ p.nameLabel: _*))

    /** The matching label subset as a MAP — also the upstream
      * resultMetric label set for one-to-one results. */
    private def matchLabels(matching: Option[Matching]): Column =
      matching.fold(labelSubset(Nil, keep = false))(m => labelSubset(m.labels, m.on))

    private def matchKey(matching: Option[Matching]): Column =
      graft.functions.seriesKey(matchLabels(matching))

    /** Upstream's execution error when `keys` repeat: a FILTER over a
      * window count, not a projected column — a raise_error buried in a
      * projection collapses into the post-join output and never
      * evaluates when the join matches nothing, while a filter above
      * the window is evaluated for every input row. */
    private def uniqueOrError(df: DataFrame, keys: Seq[String], msg: Column): DataFrame =
      df.withColumn("__dup", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .where(when(col("__dup") > 1,
          raise_error(concat(lit("promql: "), msg)).cast("boolean"))
          .otherwise(lit(true)))
        .drop("__dup")

    /** Vector matching, once for every binary operator between two
      * instant vectors, float or native histogram — upstream
      * `VectorBinop` (promql/engine.go). Each side's rows key on
      * [[matchKey]] per instant. The MANY side is the written left,
      * or the written right under `group_right`; the other is the ONE
      * side (one-to-one: the right). Upstream's three execution errors:
      *  1. the one side must be unique per (match key, instant),
      *     checked unconditionally — matched or not;
      *  2. a one-to-one's left side must be unique among the pairs
      *     that matched — an unmatched duplicate group is skipped;
      *  3. a many-to-one's result series must be unique within its
      *     match group ("grouping labels must ensure unique matches").
      * Result labels follow upstream's resultMetric: one-to-one
      * arithmetic and `bool` results narrow to the matching labels;
      * many-to-one results drop the metric name, then copy the
      * `group_x(include…)` labels from the one side (a label absent
      * there is removed); filter comparisons (`filter`) keep the many
      * side's labels, metric name included, plus the include copy.
      *
      * The output: the RESULT `series_key`/`labels`, `t`, the match
      * key `__mk`, and each side's payload (`v` or `h`) as `__l`/`__r`
      * in WRITTEN order. Checks 2 and 3 window over the join output,
      * which the join already partitions by (key, t), so they add no
      * exchange; check 1's window shares the join's partitioning. */
    private def matched(l: DataFrame, r: DataFrame,
        matching: Option[Matching], filter: Boolean): DataFrame = {
      val card = matching.map(_.card).getOrElse(0)
      val include = matching.map(_.include).getOrElse(Nil)
      def keyed(df: DataFrame, payload: String, labels: String): DataFrame =
        df.select(matchKey(matching).as("__mk"), col("t"), col("labels").as(labels),
          col(payloadOf(df)).as(payload))
      val (many, one) = if (card == 2) (r, l) else (l, r)
      val oneK = uniqueOrError(keyed(one, "__op", "__olabels"), Seq("__mk", "t"),
        concat(lit("found duplicate series for the match group "), col("__mk"),
          lit(s" on the ${if (card == 2) "left" else "right"} side of the operation")))
      val kept =
        if (filter) col("labels")
        else if (card == 0) matchLabels(matching)
        else labelSubset(Nil, keep = false)
      val lbl =
        if (include.isEmpty) kept
        else map_concat(
          map_filter(kept, (k, _) => !k.isin(include: _*)),
          map_filter(col("__olabels"), (k, _) => k.isin(include: _*)))
      val (lp, rp) = if (card == 2) ("__op", "__mp") else ("__mp", "__op")
      val pairs = keyed(many, "__mp", "labels").join(oneK, Seq("__mk", "t"))
        .select(col("__mk"), col("t"), lbl.as("labels"),
          col(lp).as("__l"), col(rp).as("__r"))
        .withColumn("series_key", graft.functions.seriesKey(col("labels")))
      if (card == 0)
        uniqueOrError(pairs, Seq("__mk", "t"), lit("multiple matches for labels: " +
          "many-to-one matching must be explicit (group_left/group_right)"))
      else
        uniqueOrError(pairs, Seq("__mk", "series_key", "t"),
          lit("multiple matches for labels: grouping labels must ensure unique matches"))
    }

    /** The payload column of an instant-vector frame: `h` for the
      * histogram channel, `v` for floats. */
    private def payloadOf(df: DataFrame): String =
      if (df.columns.contains("h")) "h" else "v"

    /** A comparison over [[matched]] pairs, float or histogram (the
      * histogram `==`/`!=` is upstream FloatHistogram.Equals: strict
      * structural equality, where Spark's NaN = NaN matches upstream's
      * Float64bits rule on the sum). The filter form keeps the pairs
      * whose predicate holds, with the written left's payload; the
      * `bool` form is a 1/0 FLOAT for every pair. */
    private def compared(op: String, bool: Boolean, l: DataFrame, r: DataFrame,
        matching: Option[Matching]): DataFrame = {
      val pairs = matched(l, r, matching, filter = !bool)
      val pred = cmpCol(op, col("__l"), col("__r"))
      if (bool)
        pairs.select(col("series_key"), col("labels"), col("t"),
          when(pred, 1.0).otherwise(0.0).as("v"))
      else pairs.where(pred)
        .select(col("series_key"), col("labels"), col("t"), col("__l").as(payloadOf(l)))
    }

    private def vectorVector(b: Bin, l: DataFrame, r: DataFrame): DataFrame = b.op match {
      case op @ ("and" | "or" | "unless") =>
        if (b.matchOn.exists(_.card != 0)) fail("set operations take no grouping modifier")
        def keyed(df: DataFrame) = df.select(col("series_key"), col("labels"),
          col("t"), col("v"), matchKey(b.matchOn).as("__mk"))
        def keysOf(df: DataFrame) = df.select("__mk", "t").distinct()
        val (lk, rk) = (keyed(l), keyed(r))
        (op match {
          case "and" => lk.join(keysOf(rk), Seq("__mk", "t"), "left_semi")
          case "unless" => lk.join(keysOf(rk), Seq("__mk", "t"), "left_anti")
          case _ => lk.unionByName(rk.join(keysOf(lk), Seq("__mk", "t"), "left_anti"))
        }).select("series_key", "labels", "t", "v")
      case op if cmpOps.contains(op) => compared(op, b.bool, l, r, b.matchOn)
      case op =>
        matched(l, r, b.matchOn, filter = false)
          .select(col("series_key"), col("labels"), col("t"),
            arith(op, col("__l"), col("__r")).as("v"))
    }
  }
}
