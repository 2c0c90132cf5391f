package graft.index

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Inverted-index construction over a transcripts table (SURVEY.md §3.1).
  *
  * All stages are declarative DataFrame transforms; the only driver
  * boundaries are two O(partitions)/O(1) collects (doc-id offsets and
  * collection stats), so nothing here is sized by the corpus — the design
  * target is 10^12 turns (BASELINE.json north_rule).
  */
object IndexBuild {

  /** Collection statistics (broadcast as literals at query time). */
  final case class Stats(nDocs: Long, totalTokens: Long, avgdl: Double)

  /** Ingest guard (P2+G6): non-null non-empty text, dedupe on the
    * (conv_id, turn_idx) key. Both predicates push to the scan. */
  def ingest(transcripts: DataFrame): DataFrame =
    transcripts
      .where(col("text").isNotNull && length(col("text")) > 0)
      .dropDuplicates("conv_id", "turn_idx")

  /** W2 — stable dense doc_id respecting global (conv_id, turn_idx) order,
    * WITHOUT a single-partition global window (which would serialize the
    * corpus through one task at scale) and WITHOUT ever range-shuffling or
    * double-materializing the text payload (the round-1 shape staged the
    * FULL rows — at 100 TB that is two extra writes and a read of the
    * whole corpus; this one stages keys only):
    *
    *  1. KEYS ONLY (column-pruned scan): range-repartition + sort on the
    *     key, stamp `monotonically_increasing_id()` (= partition_id·2^33 +
    *     row-in-partition, both recoverable from one column), MATERIALIZE
    *     to a staging path. The materialization is load-bearing:
    *     `repartitionByRange` samples boundaries per execution, so two
    *     lazy evaluations of the same plan can disagree — the counts pass
    *     and the keymap pass must read one frozen copy.
    *  2. collect per-partition counts (O(partitions) driver state) →
    *     prefix-sum offsets; doc_id = offset(pid) + row-in-partition.
    *  3. join the (key → doc_id) map back onto the input — the only time
    *     full rows move, and when the caller just deduped on the same key
    *     the join reuses that hash partitioning (no extra exchange).
    *
    * Because (conv_id, turn_idx) is unique (callers dedupe — G6) the
    * result equals the global `row_number() OVER (ORDER BY conv_id,
    * turn_idx) - 1` — the property the DuckDB oracle checks. Partitions
    * must stay under 2^33 rows (at 10^12 turns: any partition count ≥ 117
    * satisfies this).
    *
    * Output: input columns + `doc_id:long`.
    */
  def assignDocIds(turns: DataFrame, numPartitions: Int = 0,
                   stagingDir: String = ""): DataFrame = {
    val spark = turns.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // Default staging derives through the Hadoop FS API (a java.nio temp
    // path would be driver-local — broken the moment executors are remote
    // or the data lives on hdfs://s3a). Callers with an index root pass an
    // explicit stagingDir and delete it after the docs artifact persists;
    // the default path self-cleans at JVM exit.
    val staging =
      if (stagingDir.nonEmpty) stagingDir
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val base = new org.apache.hadoop.fs.Path(
          conf.get("hadoop.tmp.dir", System.getProperty("java.io.tmpdir", "/tmp")))
        val p = new org.apache.hadoop.fs.Path(base,
          s"graft_docids_${java.util.UUID.randomUUID()}")
        val f = p.getFileSystem(conf)
        f.deleteOnExit(p)
        f.makeQualified(p).toString
      }
    turns
      .select(col("conv_id"), col("turn_idx")).distinct()
      // null ordering pinned NULLS LAST on both the range boundaries and
      // the within-partition sort: Spark defaults NULLS FIRST while the
      // DuckDB oracle's row_number ORDER BY defaults NULLS LAST — a null
      // key would otherwise receive a different dense id per engine
      // (latent today: ingest-derived keys are never null, but the <=>
      // join below deliberately preserves null keys, so their order is
      // pinned too rather than left engine-dependent)
      .repartitionByRange(parts, col("conv_id").asc_nulls_last,
        col("turn_idx").asc_nulls_last)
      .sortWithinPartitions(col("conv_id").asc_nulls_last,
        col("turn_idx").asc_nulls_last)
      .withColumn("_mid", monotonically_increasing_id())
      .write.mode("overwrite").parquet(staging)
    // read with the schema it was written with: inferring it is a Spark
    // job per build and per append
    val staged = spark.read.schema(StructType(Seq(turns.schema("conv_id"),
      turns.schema("turn_idx"), StructField("_mid", LongType)))).parquet(staging)
    val pidCol = shiftright(col("_mid"), 33).cast("int")
    val counts = staged.groupBy(pidCol.as("_pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("_pid", "_offset")
    val keymap = staged
      .withColumn("_pid", pidCol)
      .join(broadcast(offDf), "_pid")
      .withColumn("doc_id",
        col("_offset") + col("_mid").bitwiseAND(lit((1L << 33) - 1)))
      .select(col("conv_id").as("_kc"), col("turn_idx").as("_kt"), col("doc_id"))
    // null-SAFE key equality: a row with a null conv_id/turn_idx must keep
    // its id (plain equi-join would silently drop it; distinct() above
    // keeps null keys as ordinary values, and the sort above pins their
    // position to the oracle's NULLS LAST)
    turns
      .join(keymap, turns("conv_id") <=> col("_kc") && turns("turn_idx") <=> col("_kt"))
      .drop("_kc", "_kt")
  }

  /** A3 — one row per (doc_id, term) occurrence. */
  def termOccurrences(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), explode(Analyzer.tokens(col("text"))).as("term"))

  /** P4 — optional stopword predicate, OFF by default: dropping stop terms
    * changes dl/df/avgdl and therefore BM25 scores, breaking
    * rank-identicality with the stopword-free reference configuration.
    * The flag exists for the index-size/speed trade when a deployment
    * wants it; it composes before G1 so every downstream stat is
    * consistent with the filtered token stream. */
  def dropStopwords(occurrences: DataFrame, stopwords: Seq[String]): DataFrame =
    if (stopwords.isEmpty) occurrences
    else occurrences.where(!col("term").isInCollection(stopwords))

  /** Doc lengths from occurrences (docs with ≥1 token — Lucene's per-field
    * docCount semantics; the DuckDB oracle counts the same way). */
  def docLengths(occurrences: DataFrame): DataFrame =
    occurrences.groupBy("doc_id").agg(count(lit(1)).cast("int").as("dl"))

  /** G1 — term frequency per (term, doc). Two-phase hash agg (map-side
    * partial combine) — the heavy shuffle keys on (term, doc_id) so the
    * Zipf head is spread over all partitions, not one. */
  def termFrequencies(occurrences: DataFrame): DataFrame =
    occurrences.groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("int").as("tf"))

  /** G2 — dictionary: exact df + cf per term (no sketches —
    * rank-identicality forbids them). */
  def dictionary(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf").cast("long")).as("cf"))

  /** G3 — collection stats; single-row collect (driver boundary). */
  def stats(dl: DataFrame): Stats = {
    val r = dl.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("total_tokens"),
      avg(col("dl")).as("avgdl")).head()
    Stats(r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** Denormalized scoring relation: (term, doc_id, tf, dl). One build-time
    * shuffle joins dl onto tf so query-time scoring never joins the docs
    * table — at 10^12 turns that join would dwarf the query itself; the
    * storage cost is ~1 varint per posting (Lucene stores norms per doc for
    * the same reason). */
  def tfWithDl(tf: DataFrame, dl: DataFrame): DataFrame =
    tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")

  /** The scoring relation derived from the corpus in ONE pass: dl rides
    * the aggregate key (functionally dependent on doc_id) — the batch
    * job's tf-stage shape applied to the ad-hoc/inline path. Replaces
    * the three-step occurrences → (docLengths ⋈ termFrequencies)
    * derivation with one explode and one shuffle; identical
    * (term, doc_id, tf, dl) rows. */
  def tfdlDirect(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), Analyzer.docLen(col("text")).as("dl"),
        explode(Analyzer.tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("int").as("tf"))
      .select("term", "doc_id", "tf", "dl")

  /** G3 computed straight off the corpus text: map-only docLen + one
    * global aggregate — no explode, no shuffle (the [[stats]]-over-
    * [[docLengths]] path pays both just to count tokens). Values
    * identical: n_docs counts docs with ≥ 1 token, avg() on integral
    * input sums exactly in double. */
  def statsFromCorpus(corpus: DataFrame): Stats = {
    val dlc = Analyzer.docLen(col("text"))
    val r = corpus.where(dlc > 0).agg(
      count(lit(1)).as("n_docs"),
      sum(dlc.cast("long")).as("total_tokens"),
      avg(dlc).as("avgdl")).head()
    Stats(r.getLong(0), r.getLong(1), r.getDouble(2))
  }
}
