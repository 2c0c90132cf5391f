package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NESTED boolean queries — `(merge OR window) AND batch -error` — the
  * parenthesized grammar Lucene's classic QueryParser accepts and the flat
  * clause engine ([[Search.parseClauses]]) cannot express.
  *
  * Pinned grammar (documented divergences from Lucene's famously quirky
  * parser, chosen for an unambiguous precedence):
  *
  *   orExpr  := andChain ((OR)? andChain)*     adjacency defaults to OR
  *   andChain:= signed (AND signed)*           AND binds tighter than OR
  *   signed  := '-' primary | NOT primary | primary
  *   primary := '(' orExpr ')' | term          keywords are UPPERCASE
  *
  * Each atom must analyze to exactly one token (fail-loud — a multi-token
  * atom here is almost certainly a missing quote, and the phrase grammar
  * lives in [[IndexSearch.searchClauses]]).
  *
  * Pinned semantics (Lucene BooleanQuery translation, coord-free):
  * a node's MATCH set is the union (OR) / intersection (AND) of its
  * positive children minus the union of its negative children; a node's
  * SCORE for a matching doc is the sum of its MATCHING positive children's
  * scores (negatives never score); a leaf scores the standard BM25 term
  * contribution; an out-of-vocabulary leaf matches nothing; a node with no
  * positive children (pure negative) matches nothing — the same pin as the
  * flat engine. A term appearing as two clauses scores twice (Lucene
  * clause-occurrence semantics).
  *
  * Scale shape: ONE dictionary-probed, shard-pruned posting scan feeds
  * every leaf of every query in the batch (the per-(query, term, doc)
  * score relation, cached); node combination is unions + aggregations on
  * (doc_id) — no per-node rescans. The result is materialized (≤
  * |queries|·k rows) so the cache drops before returning.
  */
object NestedBool {

  sealed trait Node
  final case class Leaf(term: String) extends Node
  /** `and=true` → intersection of `pos`; otherwise union. `neg` children
    * always subtract. */
  final case class Group(and: Boolean, pos: Seq[Node], neg: Seq[Node]) extends Node

  def parse(text: String): Node = {
    val toks = text.replace("(", " ( ").replace(")", " ) ")
      .split("\\s+").toList.filter(_.nonEmpty)
    val (node, rest) = parseOr(toks)
    require(rest.isEmpty, s"unbalanced ')' in nested query '$text'")
    node
  }

  private def parseOr(ts: List[String]): (Node, List[String]) = {
    var rest = ts
    val pos = Seq.newBuilder[Node]
    val neg = Seq.newBuilder[Node]
    var first = true
    while (rest.nonEmpty && rest.head != ")") {
      val r1 = if (!first && rest.head == "OR") rest.tail else rest
      val (chainPos, chainNeg, r2) = parseAndChain(r1)
      // a chain that is ONLY negative contributes its negatives to the
      // enclosing OR (the flat grammar's `a -b` reading); otherwise the
      // chain is one positive OR member
      chainPos match {
        case Seq()    => neg ++= chainNeg
        case Seq(one) if chainNeg.isEmpty => pos += one
        case ps       => pos += Group(and = true, ps, chainNeg)
      }
      rest = r2
      first = false
    }
    val (p, n) = (pos.result(), neg.result())
    (p, n) match {
      case (Seq(one), Seq()) => (one, rest)
      case _                 => (Group(and = false, p, n), rest)
    }
  }

  /** Returns (positive members, negative members, remaining tokens). */
  private def parseAndChain(ts: List[String])
      : (Seq[Node], Seq[Node], List[String]) = {
    val pos = Seq.newBuilder[Node]
    val neg = Seq.newBuilder[Node]
    var rest = ts
    var expect = true // at least one signed primary
    while (expect) {
      val (negated, r1) = rest match {
        case "NOT" :: t           => (true, t)
        case h :: t if h.startsWith("-") && h.length > 1 =>
          (true, h.drop(1) :: t)
        case _                    => (false, rest)
      }
      val (prim, r2) = r1 match {
        case "(" :: t =>
          val (n, r) = parseOr(t)
          require(r.headOption.contains(")"), "unbalanced '(' in nested query")
          (n, r.tail)
        case atom :: t if atom != ")" && atom != "OR" && atom != "AND" && atom != "NOT" =>
          val toks = Analyzer.tokenize(atom)
          require(toks.size == 1,
            s"nested-query atom '$atom' must analyze to one term " +
              "(quote phrases through the clause grammar)")
          (Leaf(toks.head), t)
        case other => sys.error(
          s"nested query: expected a term or '(' but found ${other.headOption.getOrElse("end")}")
      }
      if (negated) neg += prim else pos += prim
      rest = r2
      expect = rest.headOption.contains("AND")
      if (expect) rest = rest.tail
    }
    (pos.result(), neg.result(), rest)
  }

  def leafTerms(n: Node): Seq[String] = n match {
    case Leaf(t)          => Seq(t)
    case Group(_, p, ng)  => (p ++ ng).flatMap(leafTerms)
  }

  def searchNested(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                   k: Int = 10): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    def empty = Seq.empty[IndexSearch.ResultRow].toDF()
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
    val parsed = queries.map { case (qid, t) => (qid, parse(t)) }
    val qt = parsed.flatMap { case (qid, n) =>
      leafTerms(n).distinct.map(t => (qid, t))
    }
    if (qt.isEmpty) return empty
    // one pruned posting scan for every leaf of every query in the batch
    val ls = idx.matched(qt)
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .select("query_id", "term", "doc_id", "_s")
      .cache()
    try {
      def emptyScored = Seq.empty[(Long, Double)].toDF("doc_id", "_score")
      val perQuery = parsed.map { case (qid, root) =>
        val lsq = ls.where(col("query_id") === qid)
        def eval(n: Node): DataFrame = n match {
          case Leaf(t) =>
            lsq.where(col("term") === t)
              .select(col("doc_id"), col("_s").as("_score"))
          case Group(_, pos, _) if pos.isEmpty => emptyScored
          case Group(and, pos, neg) =>
            val tagged = pos.zipWithIndex
              .map { case (c, i) => eval(c).withColumn("_cid", lit(i)) }
              .reduce(_ unionByName _)
            val agg = tagged.groupBy("doc_id")
              .agg(sum("_score").as("_score"),
                countDistinct(col("_cid")).as("_nc"))
            val matched =
              (if (and) agg.where(col("_nc") === pos.size) else agg).drop("_nc")
            neg.map(eval).foldLeft(matched)((m, nd) =>
              m.join(nd.select("doc_id"), Seq("doc_id"), "left_anti"))
        }
        eval(root).select(lit(qid).as("query_id"), col("doc_id"), col("_score"))
      }
      IndexSearch.localize(spark,
        Search.rank(perQuery.reduce(_ unionByName _), k))
    } finally ls.unpersist()
  }
}
