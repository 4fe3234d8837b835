package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSchema}

/** ES/Lucene `query_string` — the Kibana search-bar mini-language the
  * reference's users type all day (its exporter provisions the index
  * Kibana queries; `ElasticSearchStorage.cs:208-233` declares the
  * keyword/date/numeric fields those queries filter on). Public syntax,
  * public semantics (Lucene classic query parser); implementation is
  * original.
  *
  * Supported grammar (the practical Kibana subset):
  *
  * {{{
  *   query    := orExpr
  *   orExpr   := andExpr ((OR | '||' | juxtaposition) [sign] andExpr)*
  *   andExpr  := clause ((AND | '&&') [sign] clause)*
  *   sign     := '+' | '-' | NOT
  *   clause   := [sign] primary
  *   primary  := '(' orExpr ')' | leaf
  *   leaf     := '"' t1 t2 … '"' ['^'boost]              -- phrase
  *             | word ['~'[edits]] ['^'boost]            -- term / fuzzy
  *             | word-with-*-or-?  ['^'boost]            -- wildcard
  *             | field ':' value                         -- attr filter
  *             | field ':' ('>'|'>='|'<'|'<=') number    -- numeric range
  *             | field ':' '[' lo TO hi ']'              -- inclusive range
  * }}}
  *
  * Semantics (Lucene bool, stated so the oracle can mirror them):
  *   - juxtaposition and OR collect SHOULD clauses; AND makes both sides
  *     MUST; '+' marks MUST, '-'/NOT mark MUST_NOT (any level).
  *   - a doc matches iff all MUST match, no MUST_NOT matches, and — when
  *     there is no SCORING must — at least one SHOULD matches. With a
  *     scoring MUST present, SHOULD clauses are optional score boosters
  *     (Lucene rule). Deliberate deviation, pinned by the gate oracle:
  *     filter-only musts do NOT relax the should gate (Lucene would set
  *     minimum_should_match=0 there; we keep 1, the KQL-style reading —
  *     consistent with how `attrFilter` composes in [[Search.topK]]).
  *   - score = Σ BM25 over the doc's matching MUST+SHOULD scoring
  *     clauses; `^boost` multiplies a leaf's contribution. A term
  *     appearing in two clauses contributes twice (two clauses — exactly
  *     Lucene).
  *   - `field:value` on a DECLARED sidecar attribute is a non-scoring
  *     FILTER (Kibana/KQL filter context; score 0). Undeclared field →
  *     loud error, never a silent empty result.
  *
  * Scale shape: the tree is evaluated bottom-up as full per-clause match
  * sets (ES pays the same — a composed bool has no cross-clause WAND
  * bound) on [[MultiSearcher]] views — a single index is a one-segment
  * view, a segment family a multi-segment one, and the tree logic is the
  * same. Every scoring leaf is one [[MultiSearcher.exportMatches]] /
  * [[MultiSearcher.exportPhrase]] walk that STREAMS its slice's matches
  * (never buffered); every filter that is AND-reachable from the root is
  * compiled into ONE composed [[AttrPred]] and pushed into every leaf
  * walk's sidecar cursor — zero-exchange, so `source:x AND (a OR b)` scans
  * only x's docs. Combines are doc_id equi-joins/aggregations (shuffle
  * bounded by match-set sizes, AQE-planned). Flat single-level queries
  * short-circuit to the block-max-gated [[MultiSearcher.topK]] fast path.
  */
object QueryString {

  // ---------------------------------------------------------------- AST
  sealed trait Node
  /** Scoring term; fuzzy > 0 = `~edits`. `field` = None scores the
    * default analyzed field; Some(f) scores text field f's own index
    * (per-field BM25 stats — the ES fielded-term reading).
    */
  final case class TermLeaf(text: String, boost: Double = 1.0, fuzzy: Int = 0,
                            field: Option[String] = None) extends Node
  final case class PhraseLeaf(terms: Seq[String], boost: Double = 1.0) extends Node
  /** `*`/`?` pattern — Lucene wildcard, scoring_boolean rewrite. */
  final case class PatternLeaf(pattern: String, boost: Double = 1.0,
                               field: Option[String] = None) extends Node
  /** Non-scoring filter on a declared sidecar attribute. */
  final case class FilterLeaf(pred: AttrPred) extends Node
  final case class Bool(must: Seq[Node], should: Seq[Node], mustNot: Seq[Node]) extends Node

  // -------------------------------------------------------------- lexer
  private sealed trait Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object PlusTok extends Tok
  private case object MinusTok extends Tok
  private case object NotTok extends Tok
  private final case class Quoted(s: String, boost: Double) extends Tok
  private final case class Word(s: String) extends Tok

  private def lex(q: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '+') { out += PlusTok; i += 1 }
      else if (c == '-') { out += MinusTok; i += 1 }
      else if (c == '"') {
        val end = q.indexOf('"', i + 1)
        require(end >= 0, s"unterminated phrase quote at offset $i")
        val body = q.substring(i + 1, end)
        i = end + 1
        var boost = 1.0
        if (i < n && q(i) == '^') {
          val j = boostEnd(q, i + 1)
          boost = q.substring(i + 1, j).toDouble
          i = j
        }
        out += Quoted(body, boost)
      } else {
        var j = i
        // a word runs to whitespace or a paren; ')' terminates so
        // `(a b)` lexes. Inside `[lo TO hi]` the spaces belong to the
        // range literal, so an open bracket suspends termination.
        var inBracket = false
        while (j < n &&
               ((!q(j).isWhitespace && q(j) != '(' && q(j) != ')') || inBracket)) {
          if (q(j) == '[') inBracket = true
          else if (q(j) == ']') inBracket = false
          j += 1
        }
        val w = q.substring(i, j)
        i = j
        w match {
          case "AND" | "&&" => out += AndTok
          case "OR" | "||"  => out += OrTok
          case "NOT"        => out += NotTok
          case _            => out += Word(w)
        }
      }
    }
    out.toList
  }

  private def boostEnd(q: String, from: Int): Int = {
    var j = from
    while (j < q.length && (q(j).isDigit || q(j) == '.')) j += 1
    require(j > from, s"malformed ^boost at offset $from")
    j
  }

  // ------------------------------------------------------------- parser
  /** Parse against the index's declared attribute schema: `field:` must
    * name a declared kw/num attr (→ filter) or a registered TEXT field
    * (→ per-field scoring leaf) — anything else fails loudly.
    */
  def parse(q: String, attrs: Map[String, String],
            textFields: Set[String] = Set.empty): Bool = {
    textFields.intersect(attrs.keySet).foreach { f =>
      throw new IllegalArgumentException(
        s"'$f' is declared both as an attribute and a text field")
    }
    val toks = lex(q)
    val (node, rest) = parseOr(toks, attrs, textFields)
    require(rest.isEmpty, s"trailing tokens after query: $rest")
    node
  }

  /** Render an AST back to query_string syntax (parse ∘ print = id for
    * the printable subset — pinned by the round-trip property spec).
    * Printable: single-value KeyIn, finite NumRange, fuzzy ≤ 2; Bool
    * children are parenthesized, leaves stay bare.
    */
  def print(n: Node): String = n match {
    case b: Bool =>
      (b.must.map(c => "+" + printChild(c)) ++
        b.should.map(printChild) ++
        b.mustNot.map(c => "-" + printChild(c))).mkString(" ")
    case other => printChild(other)
  }

  private def printChild(n: Node): String = n match {
    case b: Bool => "(" + print(b) + ")"
    case TermLeaf(t, boost, fz, field) =>
      field.map(_ + ":").getOrElse("") + t +
        (if (fz > 0) s"~$fz" else "") + boostSuffix(boost)
    case PhraseLeaf(ts, boost) => "\"" + ts.mkString(" ") + "\"" + boostSuffix(boost)
    case PatternLeaf(p, boost, field) =>
      field.map(_ + ":").getOrElse("") + p + boostSuffix(boost)
    case FilterLeaf(AttrPred.KeyIn(f, vs)) =>
      require(vs.size == 1, s"printable KeyIn needs one value: $vs")
      s"$f:${vs.head}"
    case FilterLeaf(AttrPred.NumRange(f, lo, hi)) =>
      require(lo != Long.MinValue && hi != Long.MaxValue, "printable range must be finite")
      s"$f:[$lo TO ${hi - 1}]"
    case FilterLeaf(p) =>
      throw new IllegalArgumentException(s"unprintable composed filter: $p")
  }

  private def boostSuffix(b: Double): String = if (b == 1.0) "" else s"^$b"

  private type Signed = (Char, Node) // '+' must, '~' should, '-' mustNot

  private def parseOr(toks: List[Tok], attrs: Map[String, String],
                      tf: Set[String]): (Bool, List[Tok]) = {
    val (first, r0) = parseAnd(toks, attrs, tf)
    var rest = r0
    val items = scala.collection.mutable.ListBuffer[Signed](first: _*)
    var done = false
    while (!done) rest match {
      case OrTok :: tl =>
        val (nxt, r) = parseAnd(tl, attrs, tf); items ++= nxt; rest = r
      case (LP | NotTok | PlusTok | MinusTok | _: Word | _: Quoted) :: _ =>
        // juxtaposition = default OR (Lucene default operator)
        val (nxt, r) = parseAnd(rest, attrs, tf); items ++= nxt; rest = r
      case _ => done = true
    }
    (toBool(items.toList), rest)
  }

  /** andExpr returns SIGNED items: `a AND b` promotes unmarked items to
    * must; explicit '-'/NOT marks survive (`a AND -b` = must a, not b).
    */
  private def parseAnd(toks: List[Tok], attrs: Map[String, String],
                       tf: Set[String]): (List[Signed], List[Tok]) = {
    var (item, rest) = parseClause(toks, attrs, tf)
    var items = List(item)
    var explicitAnd = false
    var done = false
    while (!done) rest match {
      case AndTok :: tl =>
        explicitAnd = true
        val (nxt, r) = parseClause(tl, attrs, tf); items :+= nxt; rest = r
      case _ => done = true
    }
    val signed =
      if (!explicitAnd) items
      else items.map { case (s, n) => (if (s == '~') '+' else s, n) }
    (signed, rest)
  }

  private def parseClause(toks: List[Tok], attrs: Map[String, String],
                          tf: Set[String]): (Signed, List[Tok]) =
    toks match {
      case PlusTok :: tl  => val (n, r) = parsePrimary(tl, attrs, tf); (('+', n), r)
      case MinusTok :: tl => val (n, r) = parsePrimary(tl, attrs, tf); (('-', n), r)
      case NotTok :: tl   => val (n, r) = parsePrimary(tl, attrs, tf); (('-', n), r)
      case _              => val (n, r) = parsePrimary(toks, attrs, tf); (('~', n), r)
    }

  private def parsePrimary(toks: List[Tok], attrs: Map[String, String],
                           tf: Set[String]): (Node, List[Tok]) =
    toks match {
      case LP :: tl =>
        val (inner, rest) = parseOr(tl, attrs, tf)
        rest match {
          case RP :: r2 => (inner, r2)
          case _        => throw new IllegalArgumentException("unbalanced parenthesis")
        }
      case Quoted(body, boost) :: tl =>
        val terms = body.trim.split("\\s+").filter(_.nonEmpty).toSeq
        require(terms.nonEmpty, "empty phrase")
        (PhraseLeaf(terms, boost), tl)
      case Word(w) :: tl => (parseWord(w, attrs, tf), tl)
      case t => throw new IllegalArgumentException(s"expected a clause, got $t")
    }

  private def parseWord(w: String, attrs: Map[String, String], tf: Set[String]): Node = {
    val colon = w.indexOf(':')
    if (colon > 0) {
      val field = w.substring(0, colon)
      val value = w.substring(colon + 1)
      require(value.nonEmpty, s"empty value for field '$field'")
      if (attrs.contains(field))
        return FilterLeaf(fieldPred(field, attrs(field), value))
      if (tf.contains(field)) {
        require(!value.contains("\""),
          s"quoted values are not supported on text field '$field' (term/wildcard/fuzzy only)")
        return bareLeaf(value, Some(field))
      }
      throw new IllegalArgumentException(
        s"'$field' is neither a declared attribute (${attrs.keys.toSeq.sorted.mkString(", ")}) " +
          s"nor a registered text field (${tf.toSeq.sorted.mkString(", ")})")
    }
    bareLeaf(w, None)
  }

  /** A bare value (no `field:` prefix handled here) with its optional
    * `^boost` / `~fuzzy` / wildcard shape, bound to `field`.
    */
  private def bareLeaf(w: String, field: Option[String]): Node = {
    var body = w
    var boost = 1.0
    val caret = body.lastIndexOf('^')
    if (caret > 0) {
      boost = body.substring(caret + 1).toDouble
      body = body.substring(0, caret)
    }
    val tilde = body.lastIndexOf('~')
    if (tilde > 0) {
      val tail = body.substring(tilde + 1)
      val edits = if (tail.isEmpty) 1 else tail.toInt
      require(edits >= 0 && edits <= 2, "ES caps fuzziness at 2 edits")
      return TermLeaf(body.substring(0, tilde), boost, fuzzy = edits, field)
    }
    if (body.exists(c => c == '*' || c == '?')) PatternLeaf(body, boost, field)
    else TermLeaf(body, boost, 0, field)
  }

  /** `field:value` → typed predicate. Ranges on num fields:
    * `>n >=n <n <=n` and `[lo TO hi]` (inclusive both ends, like ES).
    */
  private def fieldPred(field: String, kind: String, value: String): AttrPred = {
    if (kind == AttrSchema.Kw) return AttrPred.KeyIn(field, Set(value))
    // numeric; AttrPred.NumRange is [lo, hi)
    def num(s: String): Long = s.toLong
    if (value.startsWith(">=")) AttrPred.NumRange(field, num(value.drop(2)), Long.MaxValue)
    else if (value.startsWith(">")) AttrPred.NumRange(field, num(value.drop(1)) + 1, Long.MaxValue)
    else if (value.startsWith("<=")) AttrPred.NumRange(field, Long.MinValue, num(value.drop(2)) + 1)
    else if (value.startsWith("<")) AttrPred.NumRange(field, Long.MinValue, num(value.drop(1)))
    else if (value.startsWith("[")) {
      val m = "\\[(-?\\d+)\\s+TO\\s+(-?\\d+)\\]".r
      value match {
        case m(lo, hi) => AttrPred.NumRange(field, lo.toLong, hi.toLong + 1)
        case _ => throw new IllegalArgumentException(s"malformed range '$value' (want [lo TO hi])")
      }
    } else AttrPred.NumRange(field, num(value), num(value) + 1)
  }

  private def toBool(items: List[Signed]): Bool = {
    require(items.nonEmpty, "empty query")
    Bool(
      must = items.collect { case ('+', n) => n },
      should = items.collect { case ('~', n) => n },
      mustNot = items.collect { case ('-', n) => n }
    )
  }

  // -------------------------------------------------- filter compilation
  /** A subtree that is PURE filters compiles to one AttrPred (runs on
    * the sidecar cursor, zero exchange); any scoring leaf makes it None.
    */
  private def asFilter(n: Node): Option[AttrPred] = n match {
    case FilterLeaf(p) => Some(p)
    case Bool(m, s, mn) =>
      val ms = m.map(asFilter)
      val ss = s.map(asFilter)
      val ns = mn.map(asFilter)
      if ((ms ++ ss ++ ns).exists(_.isEmpty)) None
      else {
        val parts =
          ms.flatten ++
            (if (ss.nonEmpty) Seq(AttrPred.Or(ss.flatten)) else Nil) ++
            ns.flatten.map(AttrPred.Not)
        if (parts.isEmpty) None else Some(AttrPred.And(parts))
      }
    case _ => None
  }

  private def conj(a: AttrPred, b: AttrPred): AttrPred =
    if (a == null) b else if (b == null) a else AttrPred.And(Seq(a, b))

  /** Plain (non-fuzzy) term leaves and phrase terms of the AST grouped
    * by field (phrases search the default field) — the prefetch set for
    * one-job term-stats resolution in the tree paths.
    */
  private def plainTermsByField(n: Node): Map[Option[String], Seq[String]] = {
    def walk(n: Node): Seq[(Option[String], String)] = n match {
      case TermLeaf(t, _, 0, f) => Seq((f, t))
      case PhraseLeaf(ts, _)    => ts.map(t => (None, t))
      case Bool(m, s, x)        => (m ++ s ++ x).flatMap(walk)
      case _                    => Nil
    }
    walk(n).groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).distinct }
  }

  // ----------------------------------------------------------- tree eval
  /** Evaluate to the full (doc_id, score) match set; `ctx` is the
    * AND-context filter pushed into every walk below this node. `view`
    * maps a leaf's field to the searcher it scores against (None = the
    * default field; phrases and filters always use it).
    */
  private def eval(view: Option[String] => MultiSearcher, node: Node, ctx: AttrPred,
                   maxExpansions: Int): DataFrame = {
    val ms = view(None)
    import ms.spark.implicits._
    def boosted(df: DataFrame, b: Double): DataFrame =
      if (b == 1.0) df else df.withColumn("score", $"score" * b)
    node match {
      case TermLeaf(t, b, 0, f) =>
        boosted(view(f).exportMatches(Seq(t), "or", attrFilter = ctx), b)
      case TermLeaf(t, b, edits, f) =>
        val v = view(f)
        boosted(v.exportMatches(v.expandFuzzyTerms(t, edits, maxExpansions), "or", attrFilter = ctx), b)
      case PatternLeaf(p, b, f) =>
        val v = view(f)
        boosted(v.exportMatches(v.expandPatternTerms(p, maxExpansions), "or", attrFilter = ctx), b)
      case PhraseLeaf(terms, b) =>
        boosted(ms.exportPhrase(terms, ctx), b)
      case FilterLeaf(p) =>
        ms.filterDocIds(conj(ctx, p))
      case b: Bool => evalBool(view, b, ctx, maxExpansions)
    }
  }

  private def evalBool(view: Option[String] => MultiSearcher,
                       b: Bool, ctx: AttrPred, maxExpansions: Int): DataFrame = {
    val ms = view(None)
    import ms.spark.implicits._
    // 1. every pure-filter MUST / MUST_NOT folds into the pushdown context
    val (filterMusts, scoringMusts) = b.must.partition(asFilter(_).isDefined)
    val (filterNots, scoringNots) = b.mustNot.partition(asFilter(_).isDefined)
    val ctx2 = (filterMusts.flatMap(asFilter) ++ filterNots.flatMap(asFilter).map(AttrPred.Not))
      .foldLeft(ctx)(conj)

    val mustDfs = scoringMusts.map(eval(view, _, ctx2, maxExpansions))
    val hasMust = mustDfs.nonEmpty || filterMusts.nonEmpty || filterNots.nonEmpty

    // 2. SHOULD clauses: with a MUST present, a pure-filter should is a
    //    no-op (contributes neither score nor gating — Lucene); scoring
    //    shoulds always contribute score
    val shouldChildren =
      if (mustDfs.nonEmpty || filterMusts.nonEmpty) b.should.filter(asFilter(_).isEmpty)
      else b.should
    val shouldDfs = shouldChildren.map(eval(view, _, ctx2, maxExpansions))
    val shouldSum =
      if (shouldDfs.isEmpty) None
      else Some(
        shouldDfs.reduce(_ unionByName _)
          .groupBy($"doc_id").agg(sum($"score").as("score")))

    // 3. base = musts joined (score=sum); no scoring must → should-sum is
    //    the base (msm=1); no scoring clause at all → the filter universe
    var base: DataFrame =
      if (mustDfs.nonEmpty)
        mustDfs.reduce { (l, r) =>
          l.as("l").join(r.as("r"), "doc_id")
            .select($"doc_id", ($"l.score" + $"r.score").as("score"))
        }
      else shouldSum.getOrElse {
        require(hasMust, "query has no positive clause")
        ms.filterDocIds(if (ctx2 != null) ctx2 else AttrPred.And(Nil))
      }

    // 4. optional should boost on top of musts (left join, coalesce)
    if (mustDfs.nonEmpty) shouldSum.foreach { ss =>
      base = base.as("b").join(ss.as("s"), Seq("doc_id"), "left")
        .select($"doc_id", ($"b.score" + coalesce($"s.score", lit(0.0))).as("score"))
    }

    // 5. scoring MUST_NOTs: one union'd anti join
    if (scoringNots.nonEmpty) {
      val ex = scoringNots.map(eval(view, _, null, maxExpansions))
        .reduce(_ unionByName _)
      base = base.join(ex.select($"doc_id"), Seq("doc_id"), "left_anti")
    }

    // 6. when the ONLY musts were filters, scoring-must-less matches must
    //    still honor membership: base came from shouldSum (already
    //    ctx2-pushed) or the filter universe — both already gated. Done.
    base
  }

  // ------------------------------------------------------------- public
  /** Parse and run `q` against the index, top-k by (score desc, doc_id):
    * [[topKFamily]] over one-segment views of `indexDir` and of each
    * registered text field's index.
    */
  def topK(spark: SparkSession, indexDir: String, q: String, k: Int,
           maxExpansions: Int = 128,
           textFields: Map[String, String] = Map.empty): DataFrame =
    topKFamily(new MultiSearcher(spark, Seq(indexDir)), q, k, maxExpansions,
      textFields.map { case (f, d) => f -> new MultiSearcher(spark, Seq(d)) })

  /** [[topK]] over a SEGMENT FAMILY (streaming-ingest segments, upserted
    * families): every leaf walks all segments with family-global stats
    * (N/avgdl/Σdf), ids are global — answers rank-identical to querying
    * the physically merged index. Flat single-level term queries take the
    * block-max WAND fast path ([[MultiSearcher.topK]]); mixed
    * must+should, fuzzy, patterns, phrases or nested groups take the
    * tree.
    */
  def topKFamily(ms: MultiSearcher, q: String, k: Int,
                 maxExpansions: Int = 128,
                 textFields: Map[String, MultiSearcher] = Map.empty): DataFrame = {
    val ast = parse(q, ms.attrSchema, textFields.keySet)
    compileFlat(ast).map { f =>
      ms.topK(f.terms, f.mode, k, attrFilter = f.attrFilter, mustNot = f.mustNot,
        minShouldMatch = f.minShouldMatch, boosts = f.boosts)
    }.getOrElse {
      val view = (f: Option[String]) => f.map(textFields).getOrElse(ms)
      // warm each searcher's dictionary memo with every plain term in
      // the AST: one dictionary job per searcher, not one per leaf
      plainTermsByField(ast).foreach { case (f, ts) => view(f).dfOf(ts) }
      eval(view, ast, null, maxExpansions)
        .orderBy(desc("score"), asc("doc_id"))
        .limit(k)
    }
  }

  /** A FLAT query compiled to the engine's standard bool vocabulary —
    * the handle that lets the whole aggregation/facet layer (and any
    * other (terms, mode, msm, mustNot, attrFilter)-shaped API) run
    * behind the Kibana search bar: `Facets.dateHistogram(spark, idx,
    * f.terms, f.mode, "day", f.attrFilter, f.mustNot, f.minShouldMatch)`.
    */
  final case class Flat(
      terms: Seq[String],
      boosts: Seq[Double],
      mode: String,
      minShouldMatch: Int,
      mustNot: Seq[String],
      attrFilter: AttrPred // null = none
  )

  /** Compile `q` to [[Flat]] when it IS flat: plain term leaves (no
    * fuzzy/pattern/phrase/nesting), AND-able filters, scoring must_nots.
    * None when the query needs the tree evaluator.
    */
  def compileFlat(q: String, attrs: Map[String, String]): Option[Flat] =
    compileFlat(parse(q, attrs))

  private def compileFlat(b: Bool): Option[Flat] = {
    def plainTerm(n: Node): Option[(String, Double)] =
      n match { case TermLeaf(t, boost, 0, None) => Some((t, boost)); case _ => None }
    val (filterMusts, scoringMusts) = b.must.partition(asFilter(_).isDefined)
    val (filterNots, scoringNots) = b.mustNot.partition(asFilter(_).isDefined)
    // `filter AND (a OR b)` — THE Kibana shape — is flat too: a single
    // scoring must that is itself a pure-should group of plain terms
    // unwraps to (or, its terms)
    val unwrapped = scoringMusts match {
      case Seq(Bool(Nil, groupShould, Nil)) if b.should.isEmpty &&
        groupShould.forall(plainTerm(_).isDefined) =>
        Bool(Nil, groupShould, b.mustNot)
      case _ => b
    }
    val mustTerms = (if (unwrapped eq b) scoringMusts else Nil).map(plainTerm)
    val shouldTerms = unwrapped.should.map(plainTerm)
    val notTerms = scoringNots.map(plainTerm)
    if ((mustTerms ++ shouldTerms ++ notTerms).exists(_.isEmpty)) return None
    if (mustTerms.nonEmpty && shouldTerms.nonEmpty) return None // mixed: tree path
    val pred0 = (filterMusts.flatMap(asFilter) ++ filterNots.flatMap(asFilter).map(AttrPred.Not))
      .foldLeft(null: AttrPred)(conj)
    val (terms, mode) =
      if (mustTerms.nonEmpty) (mustTerms.flatten, "and") else (shouldTerms.flatten, "or")
    if (terms.isEmpty) return None // pure filter → tree path handles
    if (terms.map(_._1).distinct.size != terms.size) return None // dup terms: tree sums per clause
    Some(Flat(terms.map(_._1), terms.map(_._2), mode, 1,
      notTerms.flatten.map(_._1), pred0))
  }
}
