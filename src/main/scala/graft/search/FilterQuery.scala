package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Solr `fq` STRING syntax over stored doc attributes, parsed into a
  * Spark Column predicate for the existing non-scoring filter engines
  * ([[Search.searchCorpusFiltered]], [[IndexSearch.searchFiltered]] over
  * a bulk or a segmented root — fq restricts RESULTS only;
  * scores/df/avgdl stay full-corpus).
  *
  * Supported grammar — the overwhelmingly common Solr subset:
  *   - `field:value`                exact match
  *   - `field:[a TO b]`             inclusive range (Lucene range query)
  *   - `field:{a TO b}`             exclusive endpoints; mixed `[a TO b}`
  *   - `field:[a TO *]` / `[* TO b]` open endpoints
  *   - leading `-`                  negation (`-tool:grep`); Solr's
  *     pure-negative fq semantics — matches every doc where the body is
  *     false, which over a nullable column means NULL rows MATCH a
  *     negated equality (Lucene excludes docs that HAVE the value)
  *
  * Typing: an endpoint/value that parses as a Long compares numerically
  * (DOUBLE if fractional); anything else compares as a string literal.
  * The caller owns type alignment with the stored column, exactly like
  * Solr's schema-typed fields. Quoted values, embedded whitespace,
  * boolean operators, and nested clauses are out of scope — compose
  * multiple fq parameters (Solr ANDs repeated fq) with `&&` instead. */
object FilterQuery {

  private val FqRe = """^(-?)([A-Za-z_][A-Za-z0-9_]*):(.+)$""".r
  private val RangeRe = """^([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$""".r

  private def literal(v: String): Column =
    v.toLongOption.map(lit(_))
      .orElse(v.toDoubleOption.map(lit(_)))
      .getOrElse(lit(v))

  private val FrangeRe = """^\{!frange([^}]*)\}(.+)$""".r

  def parse(fq: String): Column = fq.trim match {
    // Solr {!frange l=.. u=.. incl=.. incu=..}fnquery — filter docs whose
    // FUNCTION-QUERY value lies in the range (bounds inclusive by
    // default, Solr's FunctionRangeQuery pinning). The function string
    // shares [[FunctionQuery]]'s AST with bf=/boost=/sort — one parse
    // tree renders the engine Column and the oracle SQL.
    case FrangeRe(params, fn) =>
      val kv = params.trim.split("\\s+").filter(_.nonEmpty).map { p =>
        val i = p.indexOf('=')
        require(i > 0, s"frange: bad local param '$p' (want key=value)")
        (p.substring(0, i), p.substring(i + 1))
      }.toMap
      val known = Set("l", "u", "incl", "incu")
      require(kv.keySet.subsetOf(known),
        s"frange: unknown local param(s) ${kv.keySet -- known}")
      def flag(k: String) = kv.get(k).forall { v =>
        require(v == "true" || v == "false", s"frange: $k must be true|false")
        v.toBoolean
      }
      def bound(k: String) = kv.get(k).map(v => v.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(s"frange: $k='$v' is not a number")))
      val c = FunctionQuery.toColumn(FunctionQuery.parse(fn))
      val lo = bound("l").map(v => if (flag("incl")) c >= lit(v) else c > lit(v))
      val hi = bound("u").map(v => if (flag("incu")) c <= lit(v) else c < lit(v))
      require(lo.nonEmpty || hi.nonEmpty, "frange: need l= and/or u=")
      (lo.toSeq ++ hi.toSeq).reduce(_ && _)
    case FqRe(negFlag, field, body) =>
      val base = body match {
        case RangeRe(lo, a, b, hi) =>
          val loPred =
            if (a == "*") None
            else Some(if (lo == "[") col(field) >= literal(a)
                      else col(field) > literal(a))
          val hiPred =
            if (b == "*") None
            else Some(if (hi == "]") col(field) <= literal(b)
                      else col(field) < literal(b))
          (loPred, hiPred) match {
            case (Some(l), Some(h)) => l && h
            case (Some(l), None)    => l
            case (None, Some(h))    => h
            // field:[* TO *] is Solr's has-a-value existence test
            case (None, None)       => col(field).isNotNull
          }
        case v => col(field) === literal(v)
      }
      // three-valued logic: NOT(NULL === v) is NULL, which a WHERE drops —
      // the negated form must coalesce so NULL-valued docs match `-f:v`
      // (the doc does not have the value, so Solr's exclusion keeps it)
      if (negFlag.isEmpty) base else !coalesce(base, lit(false))
    case other =>
      throw new IllegalArgumentException(
        s"unparseable fq '$other' — expected field:value or field:[a TO b]")
  }
}
