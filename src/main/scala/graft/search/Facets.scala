package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Solr faceting beyond the single `facet.field`: multi-field facet
  * composition, arbitrary `facet.query` predicates, and `facet.range`
  * bucketing — the three facet shapes one real Solr request mixes freely.
  *
  * Shared core over (matched(query_id, key…), attrs(key…, …)): the join
  * `key` defaults to the unified index's dense doc_id and generalizes to
  * the segmented index's (conv_id, turn_idx) identity — one facet engine
  * for both storage views ([[IndexSearch.View]]: a bulk root's
  * [[IndexSearch.OpenIndex]] and a segmented root's
  * [[graft.index.SegmentedIndex.open]]). Engine paths supply `matched`
  * (inline corpus: term-occurrence join; an index view: its decoded live
  * postings — see [[IndexSearch.facetFields]]) and `attrs` (corpus
  * columns / the view's stored attributes). Each operator is ONE
  * key-join plus one aggregation shuffle for ALL its facets — Solr
  * computes every facet of a request in one pass over the matching DocSet,
  * and the Spark twin keeps that shape (N fields do NOT cost N joins: the
  * field set unpivots through a struct-array explode inside the same
  * scan).
  *
  * Pinned semantics:
  *  - facet.field: NULL attribute values are NOT counted (Solr's
  *    `facet.missing=false` default); values surface as strings (they are
  *    JSON keys in a Solr response); output ordered (query_id, field,
  *    value) — `facet.sort=index`.
  *  - facet.query: one count per (query × named predicate) INCLUDING
  *    zeros — Solr returns every requested facet.query key, so a query
  *    whose match set misses the predicate (or is EMPTY) still reports 0;
  *    the spine is the driver-known query-id list, not the match set.
  *  - facet.range: half-open [b, b+gap) buckets keyed by bucket start,
  *    full spine from `start` to `end` for EVERY query with zero-filled
  *    gaps (`facet.mincount=0` default); values outside [start, end) are
  *    uncounted (`facet.range.other=none` default — no before/after
  *    buckets).
  */
object Facets {

  /** Multi-field `facet.field`: (query_id, field, value, n_docs).
    * `missing = true` is Solr's `facet.missing`: matched docs WITHOUT a
    * value for the field count into one extra NULL-valued bucket per
    * (query, field) — the same aggregation pass, the NULL rows simply
    * stay in instead of being filtered. Pinned divergence: a group with
    * zero missing docs has NO null bucket row (Solr would report
    * missing=0) — absence-of-row ≡ zero, consistent with how the value
    * buckets themselves behave. `mincount` is Solr's `facet.mincount`:
    * buckets below the threshold drop AFTER the one aggregation pass (a
    * post-agg filter — the count itself is unchanged); 0 keeps every
    * bucket, matching the historical default. */
  def fields(matched: DataFrame, attrs: DataFrame,
             fieldNames: Seq[String],
             key: Seq[String] = Seq("doc_id"),
             missing: Boolean = false,
             mincount: Long = 0L): DataFrame = {
    require(fieldNames.nonEmpty, "facet.field list must be non-empty")
    require(mincount >= 0, s"facet.mincount must be >= 0, got $mincount")
    val fv = explode(array(fieldNames.map(f =>
      struct(lit(f).as("field"), col(f).cast("string").as("value"))): _*))
    matched
      .join(attrs.select((key ++ fieldNames).map(col): _*), key)
      .select(col("query_id"), fv.as("_fv"))
      .select(col("query_id"), col("_fv.field").as("field"),
        col("_fv.value").as("value"))
      .where(if (missing) lit(true) else col("value").isNotNull)
      .groupBy("query_id", "field", "value")
      .agg(count(lit(1)).as("n_docs"))
      .where(if (mincount == 0L) lit(true) else col("n_docs") >= mincount)
      .orderBy("query_id", "field", "value")
  }

  /** `facet.query`: (query_id, facet, n_docs) for named predicates over
    * the stored attributes, zero-filled on the (queryIds × named) spine.
    * All predicates aggregate in the one pass (conditional sums), then
    * unpivot to rows. */
  def queryCounts(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                  named: Seq[(String, Column)],
                  key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(named.nonEmpty, "facet.query list must be non-empty")
    val spark = matched.sparkSession
    import spark.implicits._
    val aggs = named.map { case (n, p) =>
      sum(when(p, lit(1L)).otherwise(lit(0L))).as(n)
    }
    val agged = matched.join(attrs, key)
      .groupBy("query_id").agg(aggs.head, aggs.tail: _*)
    val spine = queryIds.distinct.sorted.toDF("query_id")
    val fr = explode(array(named.map { case (n, _) =>
      struct(lit(n).as("facet"), coalesce(col(n), lit(0L)).as("n_docs"))
    }: _*))
    // agged is ≤ |queries| rows — broadcast the RIGHT side (Spark cannot
    // broadcast the left side of a left-outer join)
    spine.join(broadcast(agged), Seq("query_id"), "left")
      .select(col("query_id"), fr.as("_f"))
      .select(col("query_id"), col("_f.facet").as("facet"),
        col("_f.n_docs").as("n_docs"))
      .orderBy("query_id", "facet")
  }

  /** Solr JSON Facet API `query` facets carrying bucket METRICS
    * (`{name:{type:query, q:"pred", facet:{m:"sum(f)",…}}}`):
    * [[queryCounts]]'s named predicates on the zero-filled
    * (query × facet) spine, each bucket additionally reporting every
    * [[JsonMetric]] over the docs satisfying its predicate. Empty buckets
    * report n_docs = 0 with typed-NULL metrics (the [[jsonRange]]
    * convention). NULL predicate results count as false (Solr: a doc
    * missing the field simply doesn't match the q).
    *
    * Scale shape: ONE match-set join; the request-shaped facet explode
    * (×|named|) feeds ONE (query, facet) aggregation computing count and
    * all metrics together; the spine join sees only facet-shaped rows. */
  def jsonQuery(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                named: Seq[(String, Column)], metrics: Seq[JsonMetric],
                key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(named.nonEmpty, "json.facet query list must be non-empty")
    require(named.map(_._1).distinct.size == named.size,
      "json.facet query bucket names must be unique")
    require(metrics.map(_.name).distinct.size == metrics.size,
      "json.facet metric names must be unique")
    val spark = matched.sparkSession
    import spark.implicits._
    // attrs passes through unpruned — the predicates may reference
    // arbitrary stored columns; Catalyst prunes the scan from the plan.
    val fv = explode(array(named.map { case (n, p) =>
      struct(lit(n).as("facet"), coalesce(p, lit(false)).as("keep"))
    }: _*))
    val aggCols = (Seq("n_docs" -> count(lit(1))) ++ metrics.flatMap(_.aggs))
      .map { case (n, c) => c.as(n) }
    val agg = matched.join(attrs, key)
      .withColumn("_f", fv)
      .where(col("_f.keep"))
      .withColumn("facet", col("_f.facet"))
      .groupBy("query_id", "facet")
      .agg(aggCols.head, aggCols.tail: _*)
    val spine = (for { q <- queryIds.distinct; (n, _) <- named }
      yield (q, n)).toDF("query_id", "facet")
    spine.join(broadcast(agg), Seq("query_id", "facet"), "left")
      .select(Seq(col("query_id"), col("facet"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs")) ++
        metrics.map(m => m.out.cast(m.outType).as(m.name)): _*)
      .orderBy("query_id", "facet")
  }

  /** JSON Facet API `allBuckets:true` + `numBuckets:true` header of a
    * terms facet: ONE row per query carrying the bucket count over the
    * facet domain (docs with a non-NULL `parentField`, exactly [[json]]'s
    * domain rule) and the metric set aggregated over ALL buckets combined
    * (Solr's allBuckets pseudo-bucket). Zero-filled on the driver-known
    * query spine: an empty match set reports num_buckets 0 / n_docs 0
    * with NULL metrics (both engines' native agg-over-empty semantics —
    * the [[stats]] pinning). Scale shape: the same single match-set join
    * as [[json]], one hash agg to |queries| rows, broadcast spine join. */
  def jsonAllBuckets(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                     parentField: String, metrics: Seq[JsonMetric],
                     key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(metrics.map(_.name).distinct.size == metrics.size,
      "json.facet metric names must be unique")
    val spark = matched.sparkSession
    import spark.implicits._
    val needed = (Seq(parentField) ++ metrics.map(_.field)).distinct
    val joined = matched
      .join(attrs.select((key ++ needed).distinct.map(col): _*), key)
      .where(col(parentField).isNotNull)
    val aggCols = (Seq(
      "_nb" -> count_distinct(col(parentField).cast("string")),
      "_n" -> count(lit(1))) ++ metrics.flatMap(_.aggs))
      .map { case (n, c) => c.as(n) }
    val agg = joined.groupBy("query_id").agg(aggCols.head, aggCols.tail: _*)
    val spine = queryIds.distinct.sorted.toDF("query_id")
    spine.join(broadcast(agg), Seq("query_id"), "left")
      .select(Seq(col("query_id"),
        coalesce(col("_nb"), lit(0L)).as("num_buckets"),
        coalesce(col("_n"), lit(0L)).as("n_docs")) ++
        metrics.map(m => m.out.cast(m.outType).as(m.name)): _*)
      .orderBy("query_id")
  }

  /** Solr `facet.sort=count` + `facet.limit`: the top-N values of ONE
    * facet field per query, ranked by (n_docs DESC, value ASC) — count
    * sort IS Solr's default; [[fields]] pins the `facet.sort=index`
    * variant, this pins the other. The rank column makes the truncation
    * order part of the verified output. NULLs uncounted, string-valued,
    * same as [[fields]]. `prefix` is Solr `facet.prefix`: only values
    * starting with it are counted/ranked (applied BEFORE the aggregation,
    * so it prunes the shuffle, not just the output). `contains` is Solr
    * `facet.contains` (case-sensitive, the default): only values with the
    * substring are counted — same pre-aggregation placement, though a
    * substring cannot push to the scan the way the prefix range does. */
  def topValues(matched: DataFrame, attrs: DataFrame, field: String,
                topN: Int, key: Seq[String] = Seq("doc_id"),
                prefix: Option[String] = None,
                contains: Option[String] = None,
                sort: String = "count", offset: Int = 0): DataFrame = {
    require(topN > 0, s"facet.limit must be positive (got $topN)")
    // Solr facet.sort: "count" (the default pinned above) or "index" —
    // lexicographic by value, counts still reported. facet.offset pages
    // past the first `offset` buckets; `rank` stays ABSOLUTE so the page
    // position is part of the verified output (the bm25 `start=` rule).
    require(sort == "count" || sort == "index",
      s"facet.sort must be 'count' or 'index' (got '$sort')")
    require(offset >= 0, s"facet.offset must be >= 0 (got $offset)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(
      (if (sort == "count") Seq(col("n_docs").desc, col("value").asc)
       else Seq(col("value").asc)): _*)
    matched
      .join(attrs.select(key.map(col) :+
        col(field).cast("string").as("value"): _*), key)
      .where(col("value").isNotNull)
      .where(prefix.map(p => col("value").startsWith(p)).getOrElse(lit(true)))
      .where(contains.map(c => col("value").contains(c)).getOrElse(lit(true)))
      .groupBy("query_id", "value")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") > offset && col("rank") <= offset + topN)
      .select("query_id", "rank", "value", "n_docs")
      .orderBy("query_id", "rank")
  }

  /** Solr StatsComponent (`stats=true&stats.field=f`) over a numeric
    * stored attribute: per-query count/missing/min/max/sum/mean of the
    * field over the match set, zero-filled on the driver-known query
    * spine — a query with an empty match set reports n_docs=0, vmissing=0
    * with NULL min/max/sum/mean (Solr reports the stats key regardless).
    * Solr's NULL semantics pinned exactly: `count` (n_docs) is docs WITH
    * a value, `missing` (vmissing) is matched docs without one, and mean
    * = sum / count-with-value — so a nullable stats field cannot skew the
    * mean (NULLs never enter any aggregate). mean is the one double:
    * computed as sum/count on exact integer aggregates and rounded once
    * at the end (the only FP-safe shape — see BASELINE.md rounding
    * notes). */
  def stats(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
            field: String, key: Seq[String] = Seq("doc_id")): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    val v = col(field).cast("long")
    val agged = matched.join(attrs.select(key.map(col) :+ col(field): _*), key)
      .groupBy("query_id")
      .agg(count(v).as("_n"),
        count(when(v.isNull, lit(1))).as("_miss"),
        min(v).as("_min"), max(v).as("_max"), sum(v).as("_sum"))
    val spine = queryIds.distinct.sorted.toDF("query_id")
    // agged is ≤ |queries| rows — broadcast the right side of the left join
    spine.join(broadcast(agged), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_n"), lit(0L)).as("n_docs"),
        coalesce(col("_miss"), lit(0L)).as("vmissing"),
        col("_min").as("vmin"), col("_max").as("vmax"),
        col("_sum").as("vsum"),
        round(col("_sum").cast("double") / col("_n"), 4).as("vmean"))
      .orderBy("query_id")
  }

  /** Solr StatsComponent `percentiles` (`stats.field={!percentiles=
    * '50,90,99'}dl`): per query the requested percentiles of a numeric
    * stored attribute over the match set. Solr computes these with an
    * approximate t-digest; this engine pins EXACT type-7 (linear
    * interpolation) percentiles — Spark's `percentile` and DuckDB's
    * `quantile_cont` both implement it natively, so the twin is
    * bit-identical and the answer is deterministic at any scale
    * (documented divergence: exact beats t-digest on correctness; at
    * fleet scale the per-query match sets this engine ranks are already
    * request-bounded, so exactness is affordable). Zero-filled on the
    * query spine: an empty match set reports NULL values (Solr: NaN).
    * Output one row per (query, percentile), value rounded at 4. */
  def percentiles(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                  field: String, ps: Seq[Double],
                  key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 100),
      s"percentiles must be in (0, 100), got ${ps.mkString(",")}")
    val spark = matched.sparkSession
    import spark.implicits._
    val v = col(field).cast("long")
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      percentile(v, lit(p / 100.0)).as(s"_p$i")
    }
    val agged = matched.join(attrs.select((key :+ field).distinct.map(col): _*), key)
      .groupBy("query_id").agg(aggs.head, aggs.tail: _*)
    val spine = queryIds.distinct.sorted.toDF("query_id")
    val pr = explode(array(ps.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("pct"), col(s"_p$i").cast("double").as("value"))
    }: _*))
    spine.join(broadcast(agged), Seq("query_id"), "left")
      .select(col("query_id"), pr.as("_p"))
      .select(col("query_id"), col("_p.pct").as("pct"),
        round(col("_p.value"), 4).as("value"))
      .orderBy("query_id", "pct")
  }

  /** Solr StatsComponent `stats.facet` (`stats.field=dl&stats.facet=
    * role`): the [[stats]] aggregate family computed PER FACET VALUE of
    * the match set — count/missing/min/max/sum/mean of `field` for every
    * observed value of `facetField`. Buckets are data-derived (Solr only
    * reports facet values that occur in the match set), so there is no
    * zero-filled spine; docs with a NULL facet value are uncounted
    * entirely (the [[fields]] NULL rule), while `field` NULLs inside a
    * bucket land in `vmissing` exactly as in [[stats]]. mean =
    * sum/count-with-value on exact integer aggregates, rounded once —
    * the one double, same FP-safe shape as [[stats]].
    *
    * Scale shape: the same single match-set join as every facet, one
    * hash aggregation keyed by (query, value) — facet-shaped output,
    * never corpus-shaped. */
  def statsFacet(matched: DataFrame, attrs: DataFrame, field: String,
                 facetField: String,
                 key: Seq[String] = Seq("doc_id")): DataFrame = {
    val v = col(field).cast("long")
    matched
      .join(attrs.select((key ++ Seq(field, facetField)).distinct.map(col): _*), key)
      .withColumn("value", col(facetField).cast("string"))
      .where(col("value").isNotNull)
      .groupBy("query_id", "value")
      .agg(count(v).as("n_docs"),
        count(when(v.isNull, lit(1))).as("vmissing"),
        min(v).as("vmin"), max(v).as("vmax"), sum(v).as("vsum"))
      .withColumn("vmean",
        round(col("vsum").cast("double") / col("n_docs"), 4))
      .select("query_id", "value", "n_docs", "vmissing", "vmin", "vmax",
        "vsum", "vmean")
      .orderBy("query_id", "value")
  }

  /** Solr grouped faceting (`group=true&group.field=g&group.facet=true`):
    * facet counts where each GROUP counts once per facet value — the
    * number of distinct groups (conversations) that contain at least one
    * matched doc carrying that value, instead of the number of matched
    * docs. The canonical "how many conversations have a user turn
    * matching this query" request. Pinned: NULL facet values uncounted
    * ([[fields]] rule) and NULL group values excluded (the
    * [[graft.search.Grouping]] nullPolicy divergence applies here too);
    * values string-typed; output (query_id, value, n_groups) in
    * (query_id, value) order.
    *
    * Scale shape: one match-set join, one count_distinct aggregation
    * keyed by (query, value) — Spark plans it as two hash aggregates
    * (partial distinct then merge), both facet×group-shaped. */
  def groupedCounts(matched: DataFrame, attrs: DataFrame, field: String,
                    groupField: String,
                    key: Seq[String] = Seq("doc_id")): DataFrame =
    matched
      .join(attrs.select((key ++ Seq(field, groupField)).distinct.map(col): _*), key)
      .withColumn("value", col(field).cast("string"))
      .where(col("value").isNotNull && col(groupField).isNotNull)
      .groupBy("query_id", "value")
      .agg(count_distinct(col(groupField)).as("n_groups"))
      .orderBy("query_id", "value")

  /** Solr `facet.pivot=parent,child` — hierarchical (two-level) pivot
    * faceting: for each query, the count of every parent value AND of
    * every (parent, child) pair nested under it, from ONE aggregation
    * pass (ROLLUP + grouping-id filter — both engines evaluate grouping
    * sets natively, so N levels do not cost N scans).
    *
    * Pinned semantics:
    *  - docs with a NULL parent are uncounted entirely
    *    (facet.missing=false, as in [[fields]]);
    *  - a NULL child still counts at the PARENT level but contributes no
    *    child row (Solr: the pivot's child list just omits it);
    *  - values string-typed; parent-level rows carry child = NULL;
    *  - output ordered (query_id, parent, child NULLS FIRST) — ordering
    *    is presentational, the gate compares row sets.
    *
    * Scale shape: same single match-set join as every facet; the rollup
    * is one hash aggregation keyed by (query, parent, child) — cardinality
    * is facet-shaped, never corpus-shaped. */
  def pivot(matched: DataFrame, attrs: DataFrame, parentField: String,
            childField: String,
            key: Seq[String] = Seq("doc_id")): DataFrame = {
    val joined = matched
      .join(attrs.select(key.map(col) ++ Seq(
        col(parentField).cast("string").as("parent"),
        col(childField).cast("string").as("child")): _*), key)
      .where(col("parent").isNotNull)
    // rollup levels: gid 0 = (q, parent, child), 1 = (q, parent),
    // 3 = (q), 7 = (); keep the pivot's two levels, and drop the
    // ambiguous (parent, NULL-child) leaf rows — those docs already
    // counted at the parent level.
    joined.rollup(col("query_id"), col("parent"), col("child"))
      .agg(count(lit(1)).as("n_docs"), grouping_id().as("_gid"))
      .where(col("_gid") === 1 ||
        (col("_gid") === 0 && col("child").isNotNull))
      .select("query_id", "parent", "child", "n_docs")
      .orderBy(col("query_id"), col("parent"), col("child").asc_nulls_first)
  }

  /** A JSON Facet API bucket metric (Solr `json.facet`'s `sum(f)` /
    * `avg(f)` / `unique(f)` aggregation functions): ONE definition renders
    * BOTH the Spark aggregation and the DuckDB oracle SQL — the same
    * one-AST-two-engines pattern as [[FunctionQuery]], so metric semantics
    * cannot drift between the engine and its gate.
    *
    * Pinned NULL semantics (Solr's): `sum`/`avg` ignore docs missing the
    * field (avg = sum / count-with-value), `unique` counts distinct
    * non-NULL values. avg is the one double — computed from the exact
    * integer sum/count pair and rounded ONCE at the end (the FP-safe
    * shape, see BASELINE.md rounding notes). */
  sealed trait JsonMetric {
    def name: String
    def field: String
    /** internal aggregate columns this metric needs (name → agg expr). */
    def aggs: Seq[(String, Column)]
    /** output expression over the internal aggregates. */
    def out: Column
    /** Spark type of the output (for typed NULLs on child rows). */
    def outType: String
    /** the DuckDB twin of [[out]] as one SELECT expression. */
    def sql: String
  }
  final case class MetricSum(name: String, field: String) extends JsonMetric {
    def aggs = Seq(s"_${name}_s" -> sum(col(field).cast("long")))
    def out = col(s"_${name}_s")
    def outType = "bigint"
    def sql = s"CAST(sum($field) AS BIGINT) AS $name"
  }
  final case class MetricAvg(name: String, field: String) extends JsonMetric {
    def aggs = Seq(s"_${name}_s" -> sum(col(field).cast("long")),
      s"_${name}_c" -> count(col(field)))
    def out = round(col(s"_${name}_s").cast("double") / col(s"_${name}_c"), 4)
    def outType = "double"
    def sql = s"round(CAST(sum($field) AS DOUBLE) / count($field), 4) AS $name"
  }
  final case class MetricUnique(name: String, field: String) extends JsonMetric {
    def aggs = Seq(s"_${name}_u" -> count_distinct(col(field)))
    def out = col(s"_${name}_u")
    def outType = "bigint"
    def sql = s"count(DISTINCT $field)::BIGINT AS $name"
  }
  final case class MetricMin(name: String, field: String) extends JsonMetric {
    def aggs = Seq(s"_${name}_m" -> min(col(field).cast("long")))
    def out = col(s"_${name}_m")
    def outType = "bigint"
    def sql = s"CAST(min($field) AS BIGINT) AS $name"
  }
  final case class MetricMax(name: String, field: String) extends JsonMetric {
    def aggs = Seq(s"_${name}_m" -> max(col(field).cast("long")))
    def out = col(s"_${name}_m")
    def outType = "bigint"
    def sql = s"CAST(max($field) AS BIGINT) AS $name"
  }

  /** Solr JSON Facet API (`json.facet`): a `terms` facet over
    * `parentField` carrying bucket METRICS, with one nested `terms`
    * subfacet over `childField` — the modern Solr facet module's
    * request shape (`{roles:{type:terms,field:role,limit:N,facet:{
    * sum_dl:"sum(dl)",…,tools:{type:terms,field:tool,limit:M}}}}`),
    * flattened to rows:
    *
    *   (query_id, value, child_value, rank, n_docs, metric…)
    *
    * Parent buckets carry child_value = NULL and their metrics; child
    * buckets carry the parent in `value`, typed-NULL metrics, and their
    * own count. Pinned semantics:
    *  - bucket sort = count DESC, value ASC (json.facet's default
    *    `sort:"count desc"` with the index tie-break), `limit` per level,
    *    child limit applied WITHIN each kept parent; `sortBy = Some(m)`
    *    is json.facet's `sort:"m desc"` — PARENT buckets rank by the
    *    named metric instead of the count (children keep count sort, as
    *    a per-facet `sort` would say); unknown metric names fail loudly;
    *  - docs with a NULL parent value are uncounted entirely; a NULL
    *    child counts at the parent level but contributes no child bucket
    *    (same rule as [[pivot]]);
    *  - bucket values string-typed (JSON keys in a Solr response).
    *
    * Scale shape: ONE match-set join feeds ONE rollup aggregation
    * (grouping sets — both bucket levels and every metric in a single
    * pass over the joined rows); the facet-shaped rollup output is
    * materialized to temp parquet (the [[graft.ops.Similarity]]
    * materialize idiom) so ranking the two levels does not re-execute
    * the corpus-scale join, and nothing corpus-shaped ever reaches the
    * driver. */
  def json(matched: DataFrame, attrs: DataFrame, parentField: String,
           childField: String, parentLimit: Int, childLimit: Int,
           metrics: Seq[JsonMetric],
           key: Seq[String] = Seq("doc_id"),
           sortBy: Option[String] = None): DataFrame = {
    require(parentLimit > 0 && childLimit > 0,
      s"json.facet limits must be positive (got $parentLimit/$childLimit)")
    require(metrics.map(_.name).distinct.size == metrics.size,
      "json.facet metric names must be unique")
    val sortMetric = sortBy.map { n =>
      metrics.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"json.facet sort references unknown metric '$n' " +
          s"(have: ${metrics.map(_.name).mkString(",")})"))
    }
    import org.apache.spark.sql.expressions.Window
    val spark = matched.sparkSession
    val needed = (Seq(parentField, childField) ++ metrics.map(_.field)).distinct
    val joined = matched
      .join(attrs.select((key ++ needed).distinct.map(col): _*), key)
      .withColumn("_p", col(parentField).cast("string"))
      .withColumn("_c", col(childField).cast("string"))
      .where(col("_p").isNotNull)
    val aggCols = (Seq("_n" -> count(lit(1))) ++ metrics.flatMap(_.aggs) ++
      Seq("_gid" -> grouping_id())).map { case (n, c) => c.as(n) }
    val rolledPlan = joined.rollup(col("query_id"), col("_p"), col("_c"))
      .agg(aggCols.head, aggCols.tail: _*)
      // keep only the two bucket levels: gid 0 = (q, parent, child) leaf,
      // gid 1 = (q, parent); (q)/() rollup levels are dead weight
      .where(col("_gid") <= 1)
    val path = graft.TempDirs.create("graft_jsonfacet")
    rolledPlan.write.mode("overwrite").parquet(path)
    val rolled = spark.read.parquet(path)
    // parent bucket sort: json.facet's default `sort:"count desc"`, or
    // `sort:"<metric> desc"` (NULLS LAST — a bucket whose metric is NULL,
    // e.g. sum over an all-NULL field, ranks below every valued bucket);
    // the index (value ASC) tie-break in both cases
    val wp = Window.partitionBy("query_id")
      .orderBy(sortMetric.map(_.out.desc_nulls_last).getOrElse(col("_n").desc),
        col("_p").asc)
    val parents = rolled.where(col("_gid") === 1)
      .withColumn("rank", row_number().over(wp).cast("int"))
      .where(col("rank") <= parentLimit)
    val wc = Window.partitionBy("query_id", "_p")
      .orderBy(col("_n").desc, col("_c").asc)
    val children = rolled.where(col("_gid") === 0 && col("_c").isNotNull)
      .join(parents.select("query_id", "_p"), Seq("query_id", "_p"), "left_semi")
      .withColumn("rank", row_number().over(wc).cast("int"))
      .where(col("rank") <= childLimit)
    val pOut = parents.select(Seq(col("query_id"), col("_p").as("value"),
      lit(null).cast("string").as("child_value"), col("rank"),
      col("_n").as("n_docs")) ++ metrics.map(m => m.out.as(m.name)): _*)
    val cOut = children.select(Seq(col("query_id"), col("_p").as("value"),
      col("_c").as("child_value"), col("rank"), col("_n").as("n_docs")) ++
      metrics.map(m => lit(null).cast(m.outType).as(m.name)): _*)
    pOut.unionByName(cOut)
      .orderBy(col("query_id"), col("value"), col("child_value").asc_nulls_first)
  }

  /** `facet.range` over a numeric attribute: (query_id, bucket, n_docs)
    * with bucket = the LONG start of its half-open [b, b+gap) window. The
    * (queryIds × buckets) spine is driver-built — O(|queries| ·
    * (end-start)/gap), a request-shaped size, never corpus-shaped. */
  /** `facet.range` with `facet.range.other=all`: the numeric buckets PLUS
    * Solr's three overflow counts — `before` (< start), `after` (≥ end),
    * `between` (the [start, end) total). Buckets are string-labeled (the
    * numeric ones by their LONG start value) because the three extras
    * share the column; the full (queryIds × labels) spine zero-fills, as
    * in [[range]]. One match-set join, one aggregation pass (the numeric
    * bucketing and the three conditional sums share the scan via a
    * two-branch union over the same joined frame — each branch is
    * facet-shaped after its aggregation). */
  /** Solr date-math GAP for `facet.range` on a date field — the
    * FIXED-LENGTH subset: `+<n><SECOND|MINUTE|HOUR|DAY>` (plural
    * accepted), returned as seconds. MONTH/YEAR gaps are
    * calendar-length — not a constant number of seconds — and are
    * REJECTED loudly rather than approximated (the pinned divergence:
    * Solr's DateMathParser does calendar arithmetic per bucket; a
    * fixed-gap bucketing engine cannot express that without
    * per-timezone calendar tables, and a silent 30-day "month" would
    * drift a day per month). */
  def parseDateGap(gap: String): Long = {
    val Fixed = "^\\+([0-9]+)(SECOND|MINUTE|HOUR|DAY)S?$".r
    val Calendar = "^\\+[0-9]+(MONTH|YEAR)S?$".r
    gap.trim match {
      case Fixed(n, u) =>
        val unit = u match {
          case "SECOND" => 1L
          case "MINUTE" => 60L
          case "HOUR"   => 3600L
          case "DAY"    => 86400L
        }
        val v = n.toLong * unit
        require(v > 0, s"facet.range.gap must be positive (got '$gap')")
        v
      case Calendar(_) => throw new IllegalArgumentException(
        s"facet.range.gap '$gap': MONTH/YEAR gaps are calendar-length; " +
          "this engine supports the fixed-length date-math subset " +
          "(SECOND/MINUTE/HOUR/DAY)")
      case other => throw new IllegalArgumentException(
        s"cannot parse facet.range.gap '$other' " +
          "(expected +<n><SECOND|MINUTE|HOUR|DAY>)")
    }
  }

  /** `facet.range` over a TIMESTAMP field with a Solr date-math gap
    * (`facet.range=ts&…gap=+1DAY`): half-open [b, b+gap) epoch-second
    * buckets on the full zero-filled (query × bucket) spine, exactly
    * like the numeric [[range]]. start/end are ISO-8601 instants parsed
    * on the DRIVER (one `Instant.parse`, no cross-engine date parsing),
    * and each bucket's ISO label (`bucket_ts`) is ALSO driver-formatted
    * onto the spine — neither engine ever formats or hashes a raw
    * timestamp, the invariant that keeps ts out of every oracle (the
    * engine only CASTS the stored timestamp to epoch seconds, which the
    * oracle pins arithmetically). */
  def rangeDate(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                field: String, startIso: String, endIso: String,
                gapStr: String,
                key: Seq[String] = Seq("doc_id")): DataFrame = {
    val start = java.time.Instant.parse(startIso).getEpochSecond
    val end = java.time.Instant.parse(endIso).getEpochSecond
    val gap = parseDateGap(gapStr)
    require(end > start,
      s"facet.range needs end > start (got [$startIso, $endIso))")
    val spark = matched.sparkSession
    import spark.implicits._
    val spine = (for { q <- queryIds.distinct; b <- start until end by gap }
      yield (q, b, java.time.Instant.ofEpochSecond(b).toString))
      .toDF("query_id", "bucket", "bucket_ts")
    val v = col(field).cast("long") // timestamp → epoch seconds (floor)
    val cnt = matched.join(attrs.select(key.map(col) :+ col(field): _*), key)
      .where(v >= start && v < end)
      .withColumn("bucket",
        (lit(start) + floor((v - lit(start)) / lit(gap)) * lit(gap)).cast("long"))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("n_docs"))
    spine.join(broadcast(cnt), Seq("query_id", "bucket"), "left")
      .select(col("query_id"), col("bucket"), col("bucket_ts"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("query_id", "bucket")
  }

  def rangeOther(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                 field: String, start: Long, end: Long, gap: Long,
                 key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(gap > 0 && end > start,
      s"facet.range needs gap > 0 and end > start (got [$start, $end) by $gap)")
    val spark = matched.sparkSession
    import spark.implicits._
    val labels = (start until end by gap).map(_.toString) ++
      Seq("before", "after", "between")
    val spine = (for { q <- queryIds.distinct; b <- labels }
      yield (q, b)).toDF("query_id", "bucket")
    val v = col(field).cast("long")
    val joined = matched.join(attrs.select(key.map(col) :+ col(field): _*), key)
    val numeric = joined.where(v >= start && v < end)
      .withColumn("bucket",
        (lit(start) + floor((v - lit(start)) / lit(gap)) * lit(gap))
          .cast("long").cast("string"))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("n_docs"))
    val others = joined.groupBy("query_id").agg(
        sum(when(v < start, 1L).otherwise(0L)).as("before"),
        sum(when(v >= end, 1L).otherwise(0L)).as("after"),
        sum(when(v >= start && v < end, 1L).otherwise(0L)).as("between"))
      .select(col("query_id"), explode(array(
        struct(lit("before").as("bucket"), col("before").as("n_docs")),
        struct(lit("after").as("bucket"), col("after").as("n_docs")),
        struct(lit("between").as("bucket"), col("between").as("n_docs")))).as("_o"))
      .select(col("query_id"), col("_o.bucket").as("bucket"),
        col("_o.n_docs").as("n_docs"))
    val cnt = numeric.unionByName(others)
    spine.join(broadcast(cnt), Seq("query_id", "bucket"), "left")
      .select(col("query_id"), col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("query_id", "bucket")
  }

  /** One Solr `facet.interval.set` entry (`[0,59]`, `(59,100]`,
    * `[*,10)`, `(90,*]`): an endpoint-inclusive/exclusive interval over a
    * numeric attribute. Like [[JsonMetric]] and
    * [[FunctionQuery]], ONE parsed value renders BOTH the Spark predicate
    * and the DuckDB oracle SQL, so bracket semantics cannot drift between
    * the engine and its gate. `*` endpoints are unbounded (Solr's
    * syntax); the label is the set string itself (Solr's default `key`).
    */
  final case class Interval(label: String, lo: Option[Long], loIncl: Boolean,
                            hi: Option[Long], hiIncl: Boolean) {
    def pred(v: Column): Column = {
      val lp = lo.map(b => if (loIncl) v >= b else v > b).getOrElse(lit(true))
      val hp = hi.map(b => if (hiIncl) v <= b else v < b).getOrElse(lit(true))
      lp && hp && v.isNotNull
    }
    def sql(field: String): String = {
      val parts = lo.map(b => s"$field ${if (loIncl) ">=" else ">"} $b").toSeq ++
        hi.map(b => s"$field ${if (hiIncl) "<=" else "<"} $b").toSeq
      (parts :+ s"$field IS NOT NULL").mkString(" AND ")
    }
  }
  object Interval {
    private val Syntax = """^([\[(])\s*(\*|-?\d+)\s*,\s*(\*|-?\d+)\s*([\])])$""".r
    /** Parse Solr's `facet.interval.set` syntax; fails loudly on anything
      * else (Solr 400s malformed sets). */
    def parse(s: String): Interval = s.trim match {
      case Syntax(lb, loS, hiS, rb) =>
        val lo = if (loS == "*") None else Some(loS.toLong)
        val hi = if (hiS == "*") None else Some(hiS.toLong)
        Interval(s.trim, lo, lb == "[", hi, rb == "]")
      case other => throw new IllegalArgumentException(
        s"malformed facet.interval.set '$other' (expected e.g. [0,59], (59,*])")
    }
  }

  /** Solr interval faceting (`facet.interval=f&facet.interval.set=…`):
    * per query, the count of matched docs whose `field` value falls in
    * each requested interval. Intervals may overlap (Solr allows it — a
    * doc then counts in each), and every requested set is reported even
    * at count 0 (the spine is the driver-known queryIds × sets list).
    * One match-set join + one aggregation pass — every interval is a
    * conditional sum over the same joined frame, the [[queryCounts]]
    * shape. */
  def intervals(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                field: String, sets: Seq[Interval],
                key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(sets.nonEmpty, "facet.interval needs at least one set")
    require(sets.map(_.label).distinct.size == sets.size,
      "facet.interval set labels must be unique")
    val v = col(field).cast("long")
    queryCounts(queryIds, matched, attrs.select((key :+ field).distinct.map(col): _*),
      sets.map(iv => iv.label -> iv.pred(v)), key)
      .withColumnRenamed("facet", "interval")
  }

  /** Solr multi-select faceting (`fq={!tag=t}…` + `facet.field={!ex=t}f`):
    * each facet field's counts come from the match set filtered by every
    * tagged fq EXCEPT the ones the field excludes — the standard
    * e-commerce "checking a brand must not collapse the brand facet"
    * request. The RESULT list (all filters applied) stays
    * [[IndexSearch.searchFiltered]]; this computes the facet side.
    *
    * `filters` are (tag, predicate) over the stored attributes;
    * `facets` are (field, excluded tag set). Unknown excluded tags fail
    * loudly (Solr ignores them silently — pinned divergence, a typo'd
    * `ex=` silently turning multi-select OFF is the bug this catches).
    *
    * One match-set join + ONE aggregation pass for all facets: every
    * filter evaluates once per joined row, each facet's keep-flag is the
    * conjunction of its non-excluded tags, and the (field, value, keep)
    * triples unpivot through the same struct-array explode as [[fields]].
    * NULL values uncounted, string-valued, (query_id, field, value)
    * ordering — the [[fields]] contract. */
  def multiSelect(matched: DataFrame, attrs: DataFrame,
                  filters: Seq[(String, Column)],
                  facets: Seq[(String, Set[String])],
                  key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(filters.nonEmpty && facets.nonEmpty,
      "multi-select faceting needs >= 1 tagged filter and >= 1 facet field")
    val tags = filters.map(_._1)
    require(tags.distinct.size == tags.size, "filter tags must be unique")
    val unknown = facets.flatMap(_._2).filterNot(tags.contains).distinct
    require(unknown.isEmpty, s"facet excludes unknown tags: ${unknown.mkString(",")}")
    // attrs passes through unpruned here — the filter predicates may
    // reference arbitrary stored columns; Catalyst prunes the scan to
    // (key ∪ facet fields ∪ filter columns) from the final plan.
    val flagged = filters.zipWithIndex.foldLeft(matched.join(attrs, key)) {
      case (d, ((_, p), i)) => d.withColumn(s"_t_$i", coalesce(p, lit(false)))
    }
    val fv = explode(array(facets.map { case (f, ex) =>
      val applicable = filters.zipWithIndex.collect {
        case ((tag, _), i) if !ex.contains(tag) => col(s"_t_$i")
      }
      val keep = applicable.foldLeft(lit(true))(_ && _)
      struct(lit(f).as("field"), col(f).cast("string").as("value"),
        keep.as("keep"))
    }: _*))
    flagged.select(col("query_id"), fv.as("_fv"))
      .where(col("_fv.keep") && col("_fv.value").isNotNull)
      .select(col("query_id"), col("_fv.field").as("field"),
        col("_fv.value").as("value"))
      .groupBy("query_id", "field", "value")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id", "field", "value")
  }

  def range(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
            field: String, start: Long, end: Long, gap: Long,
            key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(gap > 0 && end > start,
      s"facet.range needs gap > 0 and end > start (got [$start, $end) by $gap)")
    val spark = matched.sparkSession
    import spark.implicits._
    val spine = (for { q <- queryIds.distinct; b <- start until end by gap }
      yield (q, b)).toDF("query_id", "bucket")
    val v = col(field).cast("long")
    val cnt = matched.join(attrs.select(key.map(col) :+ col(field): _*), key)
      .where(v >= start && v < end)
      .withColumn("bucket",
        (lit(start) + floor((v - lit(start)) / lit(gap)) * lit(gap)).cast("long"))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("n_docs"))
    // cnt is ≤ |queries|·|buckets| rows post-aggregation — broadcast the
    // RIGHT side (left side of a left-outer join cannot broadcast)
    spine.join(broadcast(cnt), Seq("query_id", "bucket"), "left")
      .select(col("query_id"), col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("query_id", "bucket")
  }

  /** Solr JSON Facet API `range` facet carrying bucket METRICS
    * (`{type:range, field, start, end, gap, facet:{m:"sum(f)",…}}`):
    * [[range]]'s half-open [b, b+gap) buckets on the zero-filled
    * (query × bucket) spine, each bucket additionally reporting every
    * [[JsonMetric]]. Empty buckets report n_docs = 0 with typed-NULL
    * metrics (a Solr response omits the metric keys there; NULL is the
    * tabular rendering). Values outside [start, end) are uncounted.
    *
    * Scale shape: ONE match-set join feeds ONE aggregation computing the
    * count and every metric together; the spine join sees only
    * facet-shaped rows (≤ |queries|·|buckets|), broadcast. */
  def jsonRange(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                field: String, start: Long, end: Long, gap: Long,
                metrics: Seq[JsonMetric],
                key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(gap > 0 && end > start,
      s"json range facet needs gap > 0 and end > start (got [$start, $end) by $gap)")
    require(metrics.map(_.name).distinct.size == metrics.size,
      "json.facet metric names must be unique")
    val spark = matched.sparkSession
    import spark.implicits._
    val spine = (for { q <- queryIds.distinct; b <- start until end by gap }
      yield (q, b)).toDF("query_id", "bucket")
    val needed = (field +: metrics.map(_.field)).distinct
    val v = col(field).cast("long")
    val aggCols = (Seq("n_docs" -> count(lit(1))) ++ metrics.flatMap(_.aggs))
      .map { case (n, c) => c.as(n) }
    val agg = matched
      .join(attrs.select((key ++ needed).distinct.map(col): _*), key)
      .where(v >= start && v < end)
      .withColumn("bucket",
        (lit(start) + floor((v - lit(start)) / lit(gap)) * lit(gap)).cast("long"))
      .groupBy("query_id", "bucket")
      .agg(aggCols.head, aggCols.tail: _*)
    spine.join(broadcast(agg), Seq("query_id", "bucket"), "left")
      .select(Seq(col("query_id"), col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs")) ++
        metrics.map(m => m.out.cast(m.outType).as(m.name)): _*)
      .orderBy("query_id", "bucket")
  }

  /** Solr StatsComponent `cardinality=true` (HyperLogLog, Flajolet et al.
    * AofA 2007 [PUB] — Solr serves this through java-hll): per-query
    * APPROXIMATE distinct count of a stored field over the match set,
    * pinned to a DETERMINISTIC cross-engine HLL so the DuckDB twin
    * hash-matches:
    *
    *   h   = 32-bit md5 prefix of the value    (the repo's hash primitive)
    *   j   = h mod m   (m = 64 registers, p = 6)
    *   w   = h div m   (the remaining 26 bits)
    *   ρ   = 27 − bitlen(w)  (leftmost-1 position in the 26-bit window;
    *                          w = 0 → 27)
    *   M_j = max ρ per register;  S = Σ_j 2^−M_j  (empty register → 2^0)
    *   E   = α_64·m²/S;  V = # empty registers
    *   est = m·ln(m/V)  if E ≤ 2.5m and V > 0   (linear counting)
    *         E          otherwise
    *
    * Every register value is an exact integer and S is a sum of ≤64 exact
    * dyadic rationals ≥ 2^−27 — EXACT in a double regardless of
    * aggregation order, so E is bit-identical cross-engine; the one libm
    * call (ln, linear-counting branch) is absorbed by the 4dp output
    * round (the BM25-idf contract). A zero-match query flows through the
    * linear branch as m·ln(m/m) = exactly 0 — no spine special case.
    * 32-bit hashing saturates near 2^32 distincts; at fleet scale swap
    * the 64-bit-hash HLL++ variant (same plan shape, different constants
    * — Heule et al. EDBT 2013), documented not emulated here.
    *
    * Plan shape: the per-(query, value) DISTINCT is the only shuffle that
    * sees values; registers reduce to ≤ m rows per query before the
    * estimate, and the whole post-distinct relation is O(queries·m) —
    * broadcastable against the spine at any corpus size. `n_exact`
    * (exact distinct, audit column) rides the same distinct relation.
    *
    * @return (query_id, n_exact, regs, cardinality) zero-filled spine */
  def cardinality(queryIds: Seq[Int], matched: DataFrame, attrs: DataFrame,
                  field: String, key: Seq[String] = Seq("doc_id")): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    val m = 64
    val alphaM2 = 0.709 * m * m // α_64 = 0.709, the published m=64 constant
    val vals = matched
      .join(attrs.select(key.map(col) :+
        col(field).cast("string").as("value"): _*), key)
      .where(col("value").isNotNull)
      .select("query_id", "value").distinct()
    val h = conv(substring(md5(col("value")), 1, 8), 16, 10).cast("long")
    val regs = vals
      .select(col("query_id"), (h % m).as("_j"), shiftright(h, 6).as("_w"))
      .withColumn("_rho", when(col("_w") === 0, lit(27))
        .otherwise(lit(27) - length(bin(col("_w")))))
      .groupBy("query_id", "_j").agg(max(col("_rho")).as("_M"))
    val perQ = regs.groupBy("query_id").agg(
      count(lit(1)).cast("int").as("_regs"),
      sum(pow(lit(2.0), -col("_M"))).as("_sp"))
    val exact = vals.groupBy("query_id")
      .agg(count(lit(1)).cast("bigint").as("_exact"))
    val spine = queryIds.distinct.sorted.toDF("query_id")
    spine.join(broadcast(exact), Seq("query_id"), "left")
      .join(broadcast(perQ), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_exact"), lit(0L)).as("n_exact"),
        coalesce(col("_regs"), lit(0)).as("regs"),
        coalesce(col("_sp"), lit(0.0)).as("_sp"))
      .withColumn("_S", col("_sp") + (lit(m) - col("regs")).cast("double"))
      .withColumn("_E", lit(alphaM2) / col("_S"))
      .withColumn("cardinality",
        when(col("_E") <= lit(2.5 * m) && col("regs") < m,
          round(lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m) - col("regs"))), 4))
          .otherwise(round(col("_E"), 4)))
      .select("query_id", "n_exact", "regs", "cardinality")
      .orderBy("query_id")
  }
}
