package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Solr STREAMING EXPRESSIONS (`/stream` handler) — the tuple-stream
  * relational algebra Solr exposes as composable source/decorator
  * functions [PUB: Solr Streaming Expressions docs]. Supported subset:
  *
  *   - `search(col, q="…", fl="a,b", sort="f asc")` — stream source: the
  *     FULL match set of a disjunctive analyzed query with the fl stored
  *     fields (the /export discipline — no scored heap, never text);
  *   - `select(stream, f as g, h)` — projection / rename decorator;
  *   - `rollup(stream, over="k", count(*), sum(f), min(f), max(f),
  *     avg(f))` — grouped metrics; outputs are named `n_tuples`,
  *     `sum_f`, `min_f`, `max_f`, `avg_f` (parquet-safe names pinned in
  *     lieu of Solr's `sum(f)` tuple keys);
  *   - `innerJoin(left, right, on="k")` — equi-join; non-key columns of
  *     the two sides must be DISJOINT (fail loudly; Solr silently
  *     clobbers — the pinned divergence);
  *   - `top(stream, n=10, sort="f desc")` — global top-n re-sorter.
  *     Determinism pin: after the explicit sort keys every remaining
  *     column tie-breaks ascending, so the selected SET is well-defined
  *     on both engines (fully-identical rows are interchangeable);
  *   - `sort(stream, by="f asc")` — batch re-sort decorator (order is
  *     presentation-only for the row-set contract; kept for surface
  *     fidelity and as the conventional tail of a /stream request);
  *   - `unique(stream, over="k")` — one tuple per key: the
  *     lexicographically-LEAST remaining-column tuple per key (pinned —
  *     Solr keeps the first in stream sort order, which this reproduces
  *     whenever the stream sort leads with `over`, and stays
  *     deterministic when it does not);
  *   - `leftOuterJoin(left, right, on="k")` — left join, right columns
  *     NULL on miss; `hashJoin(left, right, on="k")` — innerJoin's
  *     broadcast-flavored alias (one plan here: Spark picks the physical
  *     join itself — the alias exists so /stream requests port verbatim);
  *   - `fetch(collection, stream, fl="a,b", on="doc_id")` — re-joins
  *     stored fields onto a stream that still carries the key (Solr's
  *     post-decorator field fetch; an inner join — every stream key is a
  *     real doc by construction);
  *   - `merge(left, right, on="f asc")` — union of two same-schema
  *     streams re-sorted on the merge keys (UNION ALL row-set contract;
  *     Solr's incremental merge-sort is an ordering detail);
  *   - `intersect(left, right, on="k")` / `complement(left, right,
  *     on="k")` — left tuples whose key does / does not appear in right
  *     (semi / anti join; right-side multiplicity never duplicates left);
  *   - `facet(collection, q="…", buckets="a,b", bucketSorts="m desc",
  *     bucketSizeLimit=n, metric…)` — pure parse-time DESUGAR into
  *     search → rollup → top (Solr's facet stream IS aggregation
  *     pushdown; no new render path, no drift seam);
  *   - `stats(collection, q="…", metric…)` — bucketless facet: global
  *     metrics over the match set, exactly one tuple.
  *
  * NULL-ordering pin: every rendered SQL sort key carries an explicit
  * NULLS FIRST (asc) / NULLS LAST (desc) matching Spark's defaults, so a
  * nullable sort column cannot order differently across engines.
  *
  * ONE parsed AST renders BOTH the engine DataFrame plan and the DuckDB
  * oracle SQL — the FunctionQuery/JsonMetric no-drift pattern: there is
  * no seam where the two engines could interpret the expression string
  * differently. Unknown functions, unknown fields, sort keys outside the
  * stream schema, and colliding join columns all fail loudly at parse /
  * validate time (Solr 400s).
  *
  * Scale shape: `search` is the /export plan (match semi-join ⋈
  * column-pruned attrs, no text, no collect); `rollup` one hash agg;
  * `innerJoin` a key-shuffled join of two already-reduced streams;
  * `top` a global sort+limit (TakeOrderedAndProject — the W3 shape).
  * Nothing driver-sized anywhere.
  */
object StreamExpr {

  /** Stored fields a stream may carry (the docs/ attribute surface minus
    * raw ts — timestamps ride as epoch via function queries elsewhere;
    * a ts-hashing seam is exactly what the ledger's invariant forbids). */
  val StoredFields: Seq[String] =
    Seq("doc_id", "conv_id", "turn_idx", "role", "tool", "dl")

  sealed trait Metric { def outName: String }
  case object MCount extends Metric { val outName = "n_tuples" }
  final case class MSum(f: String) extends Metric { def outName = s"sum_$f" }
  final case class MMin(f: String) extends Metric { def outName = s"min_$f" }
  final case class MMax(f: String) extends Metric { def outName = s"max_$f" }
  final case class MAvg(f: String) extends Metric { def outName = s"avg_$f" }

  sealed trait Node { def schema: Seq[String] }
  final case class SearchNode(q: String, fl: Seq[String],
                              sort: Seq[(String, Boolean)]) extends Node {
    def schema: Seq[String] = fl
  }
  final case class SelectNode(child: Node, fields: Seq[(String, String)]) extends Node {
    def schema: Seq[String] = fields.map(_._2)
  }
  final case class RollupNode(child: Node, over: Seq[String],
                              metrics: Seq[Metric]) extends Node {
    def schema: Seq[String] = over ++ metrics.map(_.outName)
  }
  final case class JoinNode(left: Node, right: Node, on: Seq[String]) extends Node {
    def schema: Seq[String] =
      on ++ left.schema.filterNot(on.contains) ++ right.schema.filterNot(on.contains)
  }
  final case class TopNode(child: Node, n: Int,
                           sort: Seq[(String, Boolean)]) extends Node {
    def schema: Seq[String] = child.schema
  }
  final case class SortNode(child: Node, by: Seq[(String, Boolean)]) extends Node {
    def schema: Seq[String] = child.schema
  }
  final case class UniqueNode(child: Node, over: Seq[String]) extends Node {
    def schema: Seq[String] = child.schema
  }
  final case class LeftJoinNode(left: Node, right: Node,
                                on: Seq[String]) extends Node {
    def schema: Seq[String] =
      on ++ left.schema.filterNot(on.contains) ++ right.schema.filterNot(on.contains)
  }
  /** Solr `having` boolean evaluator (numeric comparisons + and/or/not). */
  sealed trait Pred
  final case class Cmp(op: String, f: String, v: Double) extends Pred
  final case class AndPred(ps: Seq[Pred]) extends Pred
  final case class OrPred(ps: Seq[Pred]) extends Pred
  final case class NotPred(p: Pred) extends Pred

  final case class HavingNode(child: Node, pred: Pred) extends Node {
    def schema: Seq[String] = child.schema
  }
  /** Solr `reduce(stream, by=…, group(sort=…, n=…))`: per-key top-n —
    * each `by` group keeps its first `n` tuples under `sort` (remaining
    * schema fields ASC as the pinned tie-break). */
  final case class ReduceNode(child: Node, by: Seq[String],
                              sort: Seq[(String, Boolean)], n: Int) extends Node {
    def schema: Seq[String] = child.schema
  }

  final case class FetchNode(child: Node, fl: Seq[String],
                             on: String) extends Node {
    def schema: Seq[String] = child.schema ++ fl
  }
  /** Solr `merge(left, right, on="f asc")`: union of two streams with the
    * same schema, re-sorted on the merge keys (row-set contract: UNION
    * ALL — Solr's streaming merge-sort is an ordering detail here). */
  final case class MergeNode(left: Node, right: Node,
                             on: Seq[(String, Boolean)]) extends Node {
    def schema: Seq[String] = left.schema
  }
  /** Solr `intersect(left, right, on="k")`: left tuples whose key appears
    * in right (semi join — right multiplicity never duplicates left). */
  final case class IntersectNode(left: Node, right: Node,
                                 on: Seq[String]) extends Node {
    def schema: Seq[String] = left.schema
  }
  /** Solr `complement(left, right, on="k")`: left tuples whose key does
    * NOT appear in right (anti join). */
  final case class ComplementNode(left: Node, right: Node,
                                  on: Seq[String]) extends Node {
    def schema: Seq[String] = left.schema
  }
  /** Solr `stats(collection, q=…, metric…)` — global (bucketless) metrics
    * over the match set; always exactly one output tuple. */
  final case class StatsNode(child: Node, metrics: Seq[Metric]) extends Node {
    def schema: Seq[String] = metrics.map(_.outName)
  }

  // ---------------------------------------------------------------- parse

  def parse(expr: String): Node = {
    val n = parseNode(expr.trim)
    validate(n)
    n
  }

  private def parseNode(s: String): Node = {
    val open = s.indexOf('(')
    require(open > 0 && s.endsWith(")"),
      s"malformed stream expression: '$s'")
    val name = s.substring(0, open).trim
    val args = splitTop(s.substring(open + 1, s.length - 1))
    name match {
      case "search" =>
        require(args.nonEmpty, "search(collection, …)")
        val named = namedArgs(args.tail)
        val q = named.getOrElse("q",
          fail("search requires q=\"…\""))
        val fl = named.getOrElse("fl", fail("search requires fl=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        SearchNode(q, fl, parseSort(named.getOrElse("sort",
          fail("search requires sort=\"…\""))))
      case "select" =>
        require(args.size >= 2, "select(stream, field[, …])")
        val fields = args.tail.map { a =>
          a.split("\\s+[aA][sS]\\s+") match {
            case Array(src)        => (src.trim, src.trim)
            case Array(src, alias) => (src.trim, alias.trim)
            case _ => fail(s"malformed select field '$a'")
          }
        }
        SelectNode(parseNode(args.head), fields)
      case "rollup" =>
        require(args.size >= 3, "rollup(stream, over=\"…\", metric[, …])")
        val (named, metricArgs) = args.tail.partition(_.matches("(?s)\\s*over\\s*=.*"))
        val over = namedArgs(named).getOrElse("over", fail("rollup requires over=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        RollupNode(parseNode(args.head), over, metricArgs.map(parseMetric))
      case "innerJoin" | "hashJoin" | "leftOuterJoin" =>
        require(args.size == 3, s"$name(left, right, on=\"…\")")
        val on = namedArgs(Seq(args(2))).getOrElse("on", fail(s"$name requires on=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (name == "leftOuterJoin")
          LeftJoinNode(parseNode(args(0)), parseNode(args(1)), on)
        else JoinNode(parseNode(args(0)), parseNode(args(1)), on)
      case "sort" =>
        require(args.size == 2, "sort(stream, by=\"…\")")
        SortNode(parseNode(args.head),
          parseSort(namedArgs(Seq(args(1))).getOrElse("by", fail("sort requires by=\"…\""))))
      case "unique" =>
        require(args.size == 2, "unique(stream, over=\"…\")")
        UniqueNode(parseNode(args.head),
          namedArgs(Seq(args(1))).getOrElse("over", fail("unique requires over=\"…\""))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case "fetch" =>
        require(args.size == 4, "fetch(collection, stream, fl=\"…\", on=\"…\")")
        val named = namedArgs(args.drop(2))
        FetchNode(parseNode(args(1)),
          named.getOrElse("fl", fail("fetch requires fl=\"…\""))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          named.getOrElse("on", fail("fetch requires on=\"…\"")))
      case "having" =>
        require(args.size == 2, "having(stream, booleanEvaluator)")
        HavingNode(parseNode(args.head), parsePred(args(1)))
      case "reduce" =>
        require(args.size == 3, "reduce(stream, by=\"…\", group(sort=\"…\", n=…))")
        val by = namedArgs(Seq(args(1))).getOrElse("by", fail("reduce requires by=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val g = args(2).trim
        require(g.startsWith("group(") && g.endsWith(")"),
          s"reduce's 3rd arg must be group(sort=\"…\", n=…), got '$g'")
        val gNamed = namedArgs(splitTop(g.substring(6, g.length - 1)))
        val n = gNamed.getOrElse("n", fail("reduce group requires n=")).toInt
        require(n > 0, s"reduce group n must be positive (got $n)")
        ReduceNode(parseNode(args.head), by,
          parseSort(gNamed.getOrElse("sort", fail("reduce group requires sort=\"…\""))), n)
      case "top" =>
        require(args.size == 3, "top(stream, n=…, sort=\"…\")")
        val named = namedArgs(args.tail)
        val n = named.getOrElse("n", fail("top requires n=")).toInt
        require(n > 0, s"top n must be positive (got $n)")
        TopNode(parseNode(args.head), n,
          parseSort(named.getOrElse("sort", fail("top requires sort=\"…\""))))
      case "merge" =>
        require(args.size == 3, "merge(left, right, on=\"f asc[, …]\")")
        MergeNode(parseNode(args(0)), parseNode(args(1)),
          parseSort(namedArgs(Seq(args(2)))
            .getOrElse("on", fail("merge requires on=\"…\""))))
      case "intersect" | "complement" =>
        require(args.size == 3, s"$name(left, right, on=\"…\")")
        val on = namedArgs(Seq(args(2)))
          .getOrElse("on", fail(s"$name requires on=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (name == "intersect")
          IntersectNode(parseNode(args(0)), parseNode(args(1)), on)
        else ComplementNode(parseNode(args(0)), parseNode(args(1)), on)
      case "facet" =>
        // Pure DESUGAR into search → rollup → top: the facet stream IS
        // Solr's aggregation pushdown, which rollup-over-the-match-set
        // already expresses — no new render path, no drift seam.
        require(args.size >= 6,
          "facet(collection, q=…, buckets=…, bucketSorts=…, bucketSizeLimit=…, metric[, …])")
        val isNamed = (a: String) =>
          a.matches("(?s)\\s*(q|buckets|bucketSorts|bucketSizeLimit)\\s*=.*")
        val (named0, metricArgs) = args.tail.partition(isNamed)
        val named = namedArgs(named0)
        val buckets = named.getOrElse("buckets", fail("facet requires buckets=\"…\""))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(buckets.nonEmpty, "facet buckets= is empty")
        val ms = metricArgs.map(parseMetric)
        val limit = named.getOrElse("bucketSizeLimit",
          fail("facet requires bucketSizeLimit=")).toInt
        require(limit > 0, s"facet bucketSizeLimit must be positive (got $limit)")
        val needed = (buckets ++ ms.collect { case MSum(f) => f; case MMin(f) => f
          case MMax(f) => f; case MAvg(f) => f }).distinct
        TopNode(
          RollupNode(
            SearchNode(named.getOrElse("q", fail("facet requires q=\"…\"")),
              needed, Seq(needed.head -> true)),
            buckets, ms),
          limit,
          parseSort(named.getOrElse("bucketSorts",
            fail("facet requires bucketSorts=\"…\""))))
      case "stats" =>
        // Desugar: a bucketless facet — global metrics over the match set.
        require(args.size >= 3, "stats(collection, q=…, metric[, …])")
        val (named0, metricArgs) = args.tail.partition(
          _.matches("(?s)\\s*q\\s*=.*"))
        val ms = metricArgs.map(parseMetric)
        val fields = ms.collect { case MSum(f) => f; case MMin(f) => f
          case MMax(f) => f; case MAvg(f) => f }.distinct
        val fl = if (fields.nonEmpty) fields else Seq("doc_id")
        StatsNode(
          SearchNode(namedArgs(named0).getOrElse("q",
            fail("stats requires q=\"…\"")), fl, Seq(fl.head -> true)), ms)
      case other => fail(s"unknown stream function '$other'")
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"stream expression: $msg")

  /** Split `s` at top-level commas (parens and double quotes nest). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var start = 0
    for (i <- s.indices) s.charAt(i) match {
      case '"'              => inQ = !inQ
      case '(' if !inQ      => depth += 1
      case ')' if !inQ      => depth -= 1
      case ',' if !inQ && depth == 0 =>
        out += s.substring(start, i).trim; start = i + 1
      case _ =>
    }
    require(depth == 0 && !inQ, s"unbalanced stream expression: '$s'")
    val last = s.substring(start).trim
    if (last.nonEmpty) out += last
    out.result()
  }

  private def namedArgs(args: Seq[String]): Map[String, String] =
    args.map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"expected name=value, got '$a'")
      val v = a.substring(eq + 1).trim
      (a.substring(0, eq).trim,
        if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2)
          v.substring(1, v.length - 1) else v)
    }.toMap

  private def parseSort(s: String): Seq[(String, Boolean)] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
      part.split("\\s+") match {
        case Array(f)         => (f, true)
        case Array(f, "asc")  => (f, true)
        case Array(f, "desc") => (f, false)
        case _ => fail(s"malformed sort clause '$part'")
      }
    }

  private def parsePred(s0: String): Pred = {
    val s = s0.trim
    val open = s.indexOf('(')
    require(open > 0 && s.endsWith(")"), s"malformed boolean evaluator '$s'")
    val args = splitTop(s.substring(open + 1, s.length - 1))
    s.substring(0, open).trim match {
      case "and" => require(args.size >= 2, "and(p, p, …)"); AndPred(args.map(parsePred))
      case "or"  => require(args.size >= 2, "or(p, p, …)"); OrPred(args.map(parsePred))
      case "not" => require(args.size == 1, "not(p)"); NotPred(parsePred(args.head))
      case op @ ("eq" | "gt" | "lt" | "gteq" | "lteq") =>
        require(args.size == 2, s"$op(field, value)")
        Cmp(op, args.head.trim, args(1).trim.toDouble)
      case other => fail(s"unknown boolean evaluator '$other'")
    }
  }

  private def predFields(p: Pred): Seq[String] = p match {
    case Cmp(_, f, _) => Seq(f)
    case AndPred(ps)  => ps.flatMap(predFields)
    case OrPred(ps)   => ps.flatMap(predFields)
    case NotPred(q)   => predFields(q)
  }

  private val MetricRe = "(count|sum|min|max|avg)\\(\\s*([*a-z_][a-z0-9_]*|\\*)\\s*\\)".r
  private def parseMetric(s: String): Metric = s.trim match {
    case MetricRe("count", "*") => MCount
    case MetricRe("sum", f)     => MSum(f)
    case MetricRe("min", f)     => MMin(f)
    case MetricRe("max", f)     => MMax(f)
    case MetricRe("avg", f)     => MAvg(f)
    case other                  => fail(s"unknown metric '$other'")
  }

  // ------------------------------------------------------------- validate

  private def validate(n: Node): Unit = n match {
    case SearchNode(q, fl, sort) =>
      require(Analyzer.tokenize(q).nonEmpty, s"search q analyzes to no terms: '$q'")
      require(fl.nonEmpty, "search fl must be non-empty")
      fl.foreach(f => require(StoredFields.contains(f),
        s"unknown fl field '$f' (stored: ${StoredFields.mkString(", ")})"))
      sort.foreach { case (f, _) => require(fl.contains(f),
        s"search sort field '$f' not in fl") }
    case SelectNode(c, fields) =>
      validate(c)
      require(fields.nonEmpty, "select needs at least one field")
      fields.foreach { case (src, _) => require(c.schema.contains(src),
        s"select field '$src' not in stream schema ${c.schema.mkString(", ")}") }
      require(fields.map(_._2).distinct.size == fields.size,
        "select aliases collide")
    case RollupNode(c, over, ms) =>
      validate(c)
      require(over.nonEmpty && ms.nonEmpty, "rollup needs over= and ≥1 metric")
      (over ++ ms.collect { case MSum(f) => f; case MMin(f) => f
        case MMax(f) => f; case MAvg(f) => f })
        .foreach(f => require(c.schema.contains(f),
          s"rollup field '$f' not in stream schema"))
      require(ms.map(_.outName).distinct.size == ms.size, "duplicate rollup metrics")
    case JoinNode(l, r, on) =>
      validate(l); validate(r)
      require(on.nonEmpty, "innerJoin needs on=")
      on.foreach(k => require(l.schema.contains(k) && r.schema.contains(k),
        s"join key '$k' missing from a side"))
      val clash = l.schema.filterNot(on.contains)
        .intersect(r.schema.filterNot(on.contains))
      require(clash.isEmpty,
        s"innerJoin non-key columns collide: ${clash.mkString(", ")} " +
          "(rename via select — Solr's silent clobber is not reproduced)")
    case TopNode(c, _, sort) =>
      validate(c)
      sort.foreach { case (f, _) => require(c.schema.contains(f),
        s"top sort field '$f' not in stream schema") }
    case SortNode(c, by) =>
      validate(c)
      require(by.nonEmpty, "sort needs by=")
      by.foreach { case (f, _) => require(c.schema.contains(f),
        s"sort field '$f' not in stream schema") }
    case UniqueNode(c, over) =>
      validate(c)
      require(over.nonEmpty, "unique needs over=")
      over.foreach(f => require(c.schema.contains(f),
        s"unique field '$f' not in stream schema"))
      require(over.size < c.schema.size,
        "unique over the whole schema is distinct() — drop a key or use rollup")
    case LeftJoinNode(l, r, on) =>
      validate(l); validate(r)
      require(on.nonEmpty, "leftOuterJoin needs on=")
      on.foreach(k => require(l.schema.contains(k) && r.schema.contains(k),
        s"join key '$k' missing from a side"))
      val clash = l.schema.filterNot(on.contains)
        .intersect(r.schema.filterNot(on.contains))
      require(clash.isEmpty,
        s"leftOuterJoin non-key columns collide: ${clash.mkString(", ")}")
    case HavingNode(c, p) =>
      validate(c)
      predFields(p).foreach(f => require(c.schema.contains(f),
        s"having field '$f' not in stream schema ${c.schema.mkString(", ")}"))
    case ReduceNode(c, by, sort, _) =>
      validate(c)
      require(by.nonEmpty, "reduce needs by=")
      (by ++ sort.map(_._1)).foreach(f => require(c.schema.contains(f),
        s"reduce field '$f' not in stream schema"))
      require(by.size < c.schema.size,
        "reduce over the whole schema keeps every tuple — drop a key")
    case m @ MergeNode(l, r, on) =>
      validate(l); validate(r)
      require(on.nonEmpty, "merge needs on=")
      require(l.schema.toSet == r.schema.toSet,
        s"merge schemas differ: ${l.schema.mkString(",")} vs ${r.schema.mkString(",")}")
      on.foreach { case (f, _) => require(m.schema.contains(f),
        s"merge key '$f' not in stream schema") }
    case IntersectNode(l, r, on) =>
      validate(l); validate(r)
      require(on.nonEmpty, "intersect needs on=")
      on.foreach(k => require(l.schema.contains(k) && r.schema.contains(k),
        s"intersect key '$k' missing from a side"))
    case ComplementNode(l, r, on) =>
      validate(l); validate(r)
      require(on.nonEmpty, "complement needs on=")
      on.foreach(k => require(l.schema.contains(k) && r.schema.contains(k),
        s"complement key '$k' missing from a side"))
    case StatsNode(c, ms) =>
      validate(c)
      require(ms.nonEmpty, "stats needs ≥1 metric")
      ms.collect { case MSum(f) => f; case MMin(f) => f
        case MMax(f) => f; case MAvg(f) => f }
        .foreach(f => require(c.schema.contains(f),
          s"stats field '$f' not in stream schema"))
      require(ms.map(_.outName).distinct.size == ms.size, "duplicate stats metrics")
    case FetchNode(c, fl, on) =>
      validate(c)
      require(on == "doc_id", s"fetch joins on the doc key (on=\"doc_id\"), got '$on'")
      require(c.schema.contains(on), s"fetch stream lost its '$on' key")
      require(fl.nonEmpty, "fetch needs fl=")
      fl.foreach { f =>
        require(StoredFields.contains(f), s"unknown fetch field '$f'")
        require(!c.schema.contains(f), s"fetch field '$f' already in the stream")
      }
  }

  // ------------------------------------------------------- engine render

  def run(idx: IndexSearch.OpenIndex, expr: String): DataFrame =
    render(idx, parse(expr))

  private def render(idx: IndexSearch.OpenIndex, n: Node): DataFrame = n match {
    case SearchNode(q, fl, sort) =>
      val matched = IndexSearch.matchedDocSet(idx, Seq(1 -> q)).select("doc_id")
      val attrs = idx.stored
        .select(("doc_id" +: fl).distinct.map(col): _*)
      matched.join(attrs, "doc_id")
        .select(fl.map(col): _*)
        .orderBy(sort.map { case (f, asc) =>
          if (asc) col(f).asc else col(f).desc }: _*)
    case SelectNode(c, fields) =>
      render(idx, c).select(fields.map { case (s, a) => col(s).as(a) }: _*)
    case RollupNode(c, over, ms) =>
      val aggs = ms.map {
        case MCount  => count(lit(1)).as("n_tuples")
        case MSum(f) => sum(col(f)).cast("long").as(s"sum_$f")
        case MMin(f) => min(col(f)).as(s"min_$f")
        case MMax(f) => max(col(f)).as(s"max_$f")
        case MAvg(f) => avg(col(f)).as(s"avg_$f")
      }
      render(idx, c).groupBy(over.map(col): _*).agg(aggs.head, aggs.tail: _*)
    case j @ JoinNode(l, r, on) =>
      render(idx, l).join(render(idx, r), on)
        .select(j.schema.map(col): _*)
    case t @ TopNode(c, k, sort) =>
      val keys = sort.map { case (f, asc) =>
        if (asc) col(f).asc else col(f).desc } ++
        t.schema.filterNot(f => sort.exists(_._1 == f)).map(col(_).asc)
      render(idx, c).orderBy(keys: _*).limit(k)
    case SortNode(c, by) =>
      render(idx, c).orderBy(by.map { case (f, asc) =>
        if (asc) col(f).asc else col(f).desc }: _*)
    case u @ UniqueNode(c, over) =>
      val rest = u.schema.filterNot(over.contains)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(over.map(col): _*).orderBy(rest.map(col(_).asc): _*)
      render(idx, c).withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).select(u.schema.map(col): _*)
    case j @ LeftJoinNode(l, r, on) =>
      render(idx, l).join(render(idx, r), on, "left")
        .select(j.schema.map(col): _*)
    case f @ FetchNode(c, fl, on) =>
      val attrs = idx.stored
        .select((on +: fl).map(col): _*)
      render(idx, c).join(attrs, on).select(f.schema.map(col): _*)
    case HavingNode(c, p) =>
      def pc(q: Pred): org.apache.spark.sql.Column = q match {
        case Cmp("eq", f, v)   => col(f) === v
        case Cmp("gt", f, v)   => col(f) > v
        case Cmp("lt", f, v)   => col(f) < v
        case Cmp("gteq", f, v) => col(f) >= v
        case Cmp("lteq", f, v) => col(f) <= v
        case Cmp(op, _, _)     => sys.error(s"unreachable cmp '$op'")
        case AndPred(ps)       => ps.map(pc).reduce(_ && _)
        case OrPred(ps)        => ps.map(pc).reduce(_ || _)
        case NotPred(q2)       => !pc(q2)
      }
      render(idx, c).where(pc(p))
    case rd @ ReduceNode(c, by, sort, n) =>
      val keys = sort.map { case (f, asc) =>
        if (asc) col(f).asc else col(f).desc } ++
        rd.schema.filterNot(f => sort.exists(_._1 == f) || by.contains(f))
          .map(col(_).asc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(by.map(col): _*).orderBy(keys: _*)
      render(idx, c).withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= n).select(rd.schema.map(col): _*)
    case m @ MergeNode(l, r, on) =>
      render(idx, l).select(m.schema.map(col): _*)
        .union(render(idx, r).select(m.schema.map(col): _*))
        .orderBy(on.map { case (f, asc) =>
          if (asc) col(f).asc else col(f).desc }: _*)
    case i @ IntersectNode(l, r, on) =>
      render(idx, l).join(
        render(idx, r).select(on.map(col): _*).distinct(), on, "left_semi")
        .select(i.schema.map(col): _*)
    case cn @ ComplementNode(l, r, on) =>
      render(idx, l).join(
        render(idx, r).select(on.map(col): _*).distinct(), on, "left_anti")
        .select(cn.schema.map(col): _*)
    case StatsNode(c, ms) =>
      val aggs = ms.map {
        case MCount  => count(lit(1)).as("n_tuples")
        case MSum(f) => sum(col(f)).cast("long").as(s"sum_$f")
        case MMin(f) => min(col(f)).as(s"min_$f")
        case MMax(f) => max(col(f)).as(s"max_$f")
        case MAvg(f) => avg(col(f)).as(s"avg_$f")
      }
      render(idx, c).agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------------- oracle render

  /** DuckDB SQL for the SAME parsed AST, over [[graft.Oracle.indexCtes]]'
    * corpus/tf/dl relations (`corpusSql` = the transcripts corpus with
    * attributes). The caller wraps with the WITH prologue. */
  def sql(n: Node): String = n match {
    case SearchNode(q, fl, _) =>
      val terms = Analyzer.tokenize(q).distinct.sorted
        .map(t => s"'$t'").mkString(", ")
      s"""SELECT ${fl.mkString(", ")}
         |FROM (SELECT DISTINCT doc_id FROM tf WHERE term IN ($terms))
         |JOIN docsattrs USING (doc_id)""".stripMargin
    case SelectNode(c, fields) =>
      val cols = fields.map { case (s, a) => if (s == a) s else s"$s AS $a" }
      s"SELECT ${cols.mkString(", ")} FROM (\n${sql(c)}\n)"
    case RollupNode(c, over, ms) =>
      val aggs = ms.map {
        case MCount  => "count(*)::BIGINT AS n_tuples"
        case MSum(f) => s"CAST(sum($f) AS BIGINT) AS sum_$f"
        case MMin(f) => s"min($f) AS min_$f"
        case MMax(f) => s"max($f) AS max_$f"
        case MAvg(f) => s"CAST(sum($f) AS DOUBLE) / count(*) AS avg_$f"
      }
      s"""SELECT ${(over ++ aggs).mkString(", ")} FROM (
         |${sql(c)}
         |) GROUP BY ${over.mkString(", ")}""".stripMargin
    case j @ JoinNode(l, r, on) =>
      s"""SELECT ${j.schema.mkString(", ")} FROM (
         |${sql(l)}
         |) JOIN (
         |${sql(r)}
         |) USING (${on.mkString(", ")})""".stripMargin
    case t @ TopNode(c, k, sort) =>
      val keys = sort.map { case (f, asc) => sqlKey(f, asc) } ++
        t.schema.filterNot(f => sort.exists(_._1 == f)).map(sqlKey(_, asc = true))
      s"""SELECT * FROM (
         |${sql(c)}
         |) ORDER BY ${keys.mkString(", ")} LIMIT $k""".stripMargin
    case SortNode(c, by) =>
      s"""SELECT * FROM (
         |${sql(c)}
         |) ORDER BY ${by.map { case (f, a) => sqlKey(f, a) }.mkString(", ")}""".stripMargin
    case u @ UniqueNode(c, over) =>
      val rest = u.schema.filterNot(over.contains)
      s"""SELECT ${u.schema.mkString(", ")} FROM (
         |SELECT *, row_number() OVER (PARTITION BY ${over.mkString(", ")}
         |  ORDER BY ${rest.map(sqlKey(_, asc = true)).mkString(", ")}) AS _rn FROM (
         |${sql(c)}
         |)) WHERE _rn = 1""".stripMargin
    case j @ LeftJoinNode(l, r, on) =>
      s"""SELECT ${j.schema.mkString(", ")} FROM (
         |${sql(l)}
         |) LEFT JOIN (
         |${sql(r)}
         |) USING (${on.mkString(", ")})""".stripMargin
    case f @ FetchNode(c, fl, on) =>
      s"""SELECT ${f.schema.mkString(", ")} FROM (
         |${sql(c)}
         |) JOIN (SELECT ${(on +: fl).mkString(", ")} FROM docsattrs)
         |USING ($on)""".stripMargin
    case HavingNode(c, p) =>
      def ps(q: Pred): String = q match {
        case Cmp("eq", f, v)   => s"$f = $v"
        case Cmp("gt", f, v)   => s"$f > $v"
        case Cmp("lt", f, v)   => s"$f < $v"
        case Cmp("gteq", f, v) => s"$f >= $v"
        case Cmp("lteq", f, v) => s"$f <= $v"
        case Cmp(op, _, _)     => sys.error(s"unreachable cmp '$op'")
        case AndPred(qs)       => qs.map(x => s"(${ps(x)})").mkString(" AND ")
        case OrPred(qs)        => qs.map(x => s"(${ps(x)})").mkString(" OR ")
        case NotPred(q2)       => s"NOT (${ps(q2)})"
      }
      s"""SELECT * FROM (
         |${sql(c)}
         |) WHERE ${ps(p)}""".stripMargin
    case rd @ ReduceNode(c, by, sort, n) =>
      val keys = sort.map { case (f, asc) => sqlKey(f, asc) } ++
        rd.schema.filterNot(f => sort.exists(_._1 == f) || by.contains(f))
          .map(sqlKey(_, asc = true))
      s"""SELECT ${rd.schema.mkString(", ")} FROM (
         |SELECT *, row_number() OVER (PARTITION BY ${by.mkString(", ")}
         |  ORDER BY ${keys.mkString(", ")}) AS _rn FROM (
         |${sql(c)}
         |)) WHERE _rn <= $n""".stripMargin
    case m @ MergeNode(l, r, on) =>
      s"""SELECT ${m.schema.mkString(", ")} FROM (
         |(${sql(l)})
         |UNION ALL
         |(SELECT ${m.schema.mkString(", ")} FROM (
         |${sql(r)}
         |))
         |) ORDER BY ${on.map { case (f, a) => sqlKey(f, a) }.mkString(", ")}""".stripMargin
    case i @ IntersectNode(l, r, on) =>
      s"""SELECT ${i.schema.mkString(", ")} FROM (
         |${sql(l)}
         |) JOIN (SELECT DISTINCT ${on.mkString(", ")} FROM (
         |${sql(r)}
         |)) USING (${on.mkString(", ")})""".stripMargin
    case cn @ ComplementNode(l, r, on) =>
      s"""SELECT ${cn.schema.mkString(", ")} FROM (
         |${sql(l)}
         |) LEFT JOIN (SELECT DISTINCT ${on.mkString(", ")}, 1 AS _hit FROM (
         |${sql(r)}
         |)) USING (${on.mkString(", ")}) WHERE _hit IS NULL""".stripMargin
    case StatsNode(c, ms) =>
      val aggs = ms.map {
        case MCount  => "count(*)::BIGINT AS n_tuples"
        case MSum(f) => s"CAST(sum($f) AS BIGINT) AS sum_$f"
        case MMin(f) => s"min($f) AS min_$f"
        case MMax(f) => s"max($f) AS max_$f"
        case MAvg(f) => s"CAST(sum($f) AS DOUBLE) / count(*) AS avg_$f"
      }
      s"SELECT ${aggs.mkString(", ")} FROM (\n${sql(c)}\n)"
  }

  /** SQL sort key pinned to Spark's NULL placement: asc ⇒ NULLS FIRST,
    * desc ⇒ NULLS LAST. */
  private def sqlKey(f: String, asc: Boolean): String =
    if (asc) s"$f ASC NULLS FIRST" else s"$f DESC NULLS LAST"
}
