package graft.index

import graft.analysis.Analyzer
import graft.index.IndexBuild.Stats
import graft.search.Bm25
import graft.sources.{Fs, ParquetTableIO, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit batch job (SURVEY.md §3.1): transcripts → persisted
  * inverted index, as a sequence of checkpoint-resumable stages. Each
  * stage reads only previously-persisted artifacts and is guarded by a
  * `_stage_done/<stage>` marker — a restarted job skips completed stages
  * (BASELINE.json north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"). Markers/manifests go through the
  * Hadoop FileSystem API so the index root may live on any cluster
  * filesystem; artifact reads/writes go through [[graft.sources.TableIO]]
  * so the parquet emulation can be swapped for Iceberg wholesale.
  *
  * Stages and artifacts:
  *   1. docs      → `docs/`      (doc_id, conv_id, turn_idx, role, tool,
  *                                ts, dl, text) — stored fields + norms
  *                  `stats/`      (n_docs, total_tokens, avgdl, build_id)
  *   2. tf        → `tfdl/`      (term, doc_id, tf, dl[, positions]) —
  *                                the materialized scoring relation
  *   3. dict      → `dictionary/` (term, shard, df, cf, max_score)
  *   4. postings  → `postings/`  encoded blocks partitioned by shard
  *                  `blockmeta/`  (term, top_block_maxes)
  *                  `_positional` marker, iff storePositions
  *
  * Every index root this job or [[SegmentWriter]] writes carries all of
  * these; readers rely on it and probe for none of them.
  *
  * Every stage appends per-partition lineage rows to `lineage/`:
  * (stage, partition_id, output_rows, checksum, build_id, wall_ms). This
  * is the only resumable writer: every writer that wipes its target
  * first (appends, merges, compactions) goes through the single-pass
  * [[SegmentWriter]] instead, which shares this job's relations
  * ([[analyzedDocs]], [[writeDocsAndStats]], [[termFreqs]],
  * [[dictionary]], [[postingBlocks]]) and writes one lineage row per
  * stage.
  */
object BuildIndexJob {

  final case class Config(
      numShards: Int = 32,
      blockSize: Int = PostingBlocks.DefaultBlockSize,
      saltTarget: Int = PostingBlocks.DefaultSaltTarget,
      io: TableIO = ParquetTableIO,
      // rows per key-hash bucket of a segment's keymeta sidecar
      // ([[SegmentedIndex]]): bucket count scales with segment size, so a
      // small batch's append prunes its old-metadata read to O(batch)
      // buckets regardless of how big older segments have grown
      keymetaBucketRows: Long = 1L << 18,
      // keep token positions through the tf stage and store a per-block
      // nested-varint positions stream alongside the postings (enables
      // phrase queries, [[graft.search.IndexSearch.searchPhrase]]). OFF by
      // default: ~doubles posting storage and the tf-stage shuffle, which
      // a deployment without phrase search shouldn't pay (Lucene's
      // omitTermFreqAndPositions trade, flag-inverted)
      storePositions: Boolean = false)

  final case class IndexPaths(root: String) {
    val docs = s"$root/docs"
    val tfdl = s"$root/tfdl"
    val dictionary = s"$root/dictionary"
    val stats = s"$root/stats"
    val postings = s"$root/postings"
    val blockmeta = s"$root/blockmeta"
    val positionalMarker = s"$root/_positional"
    val lineage = s"$root/lineage"
    val staging = s"$root/_staging"
    def marker(stage: String) = s"$root/_stage_done/$stage"
  }

  /** Per-run async lane for the lineage → marker tail of each stage
    * (guide §2.6 — overlap independent jobs): a stage's lineage
    * aggregation reads only that stage's just-persisted artifact, and no
    * later stage reads `lineage/` or the marker, so the tail can execute
    * while the NEXT stage's artifact jobs run. Ordering WITHIN a stage is
    * preserved (marker only after its lineage lands — the resume
    * invariant "marker ⇒ lineage present" survives any crash), and
    * [[run]] joins the lane before returning, so callers
    * still observe a fully-materialized index incl. lineage. One worker:
    * tails execute in stage order, keeping marker appearance monotonic. */
  private[index] final class AsyncTail {
    private val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    private val pending =
      scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def submit(body: () => Unit): Unit =
      pending += pool.submit(new Runnable { override def run(): Unit = body() })
    def join(): Unit =
      try pending.foreach(_.get())
      finally pool.shutdown()
  }

  def run(spark: SparkSession, transcripts: DataFrame, root: String,
          buildId: String, cfg: Config = Config()): IndexPaths = {
    val p = IndexPaths(root)
    val tail = new AsyncTail
    try {
      runStages(spark, transcripts, p, buildId, cfg, tail)
      runDictAndPostings(spark, p, buildId, cfg, tail)
    } finally tail.join()
    p
  }

  private def runStages(spark: SparkSession, transcripts: DataFrame,
                        p: IndexPaths, buildId: String, cfg: Config,
                        tail: AsyncTail): Unit = {
    val io = cfg.io
    stage(spark, p, "docs", tail) { t0 =>
      val docs = analyzedDocs(IndexBuild.ingest(transcripts), p)
      writeDocsAndStats(spark, docs, p, buildId, io)
      Fs.delete(spark, s"${p.staging}/docids")
      // checksum over (key, dl) — dl is derived from text, so it catches
      // content drift without re-reading the text column (which would be
      // a second full-corpus scan just for lineage)
      lineage(spark, p, "docs", buildId, t0, tail = tail, perPartition =
        io.read(spark, p.docs).groupBy(pmod(col("doc_id"), lit(64)).cast("int").as("partition_id"))
          .agg(count(lit(1)).as("output_rows"),
            bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("dl"))).as("checksum")))
    }

    stage(spark, p, "tf", tail) { t0 =>
      val docs = io.read(spark, p.docs)
      // tfdl is an INTERNAL artifact (dict re-aggregates by term; the
      // postings stage re-shuffles by (term, salt)), so it is written
      // straight out of the aggregation exchange: no pre-write
      // repartition, no shard partitioning — the round-1 extra shuffle
      // here bought nothing downstream. Only `postings/` (query-facing)
      // is shard-partitioned.
      val tfdl = termFreqs(docs, cfg.storePositions)
      io.write(tfdl, p.tfdl, snapshotId = buildId)
      lineage(spark, p, "tf", buildId, t0, tail = tail, perPartition =
        io.read(spark, p.tfdl)
          .groupBy(pmod(xxhash64(col("term")), lit(64)).cast("int").as("partition_id"))
          .agg(count(lit(1)).as("output_rows"),
            bit_xor(xxhash64(col("term"), col("doc_id"), col("tf"))).as("checksum")))
    }

  }

  /** Stored docs of ingested, key-unique turns: dense key-ordered doc ids
    * frozen in the root's `_staging/docids` ([[IndexBuild.assignDocIds]])
    * and dl — analyzed from the text, or kept when the rows carry a stored
    * one (merged index rows). */
  private[index] def analyzedDocs(turns: DataFrame, p: IndexPaths): DataFrame = {
    val withIds = IndexBuild.assignDocIds(turns, stagingDir = s"${p.staging}/docids")
    (if (turns.columns.contains("dl")) withIds
     else withIds.withColumn("dl", Analyzer.docLen(col("text"))))
      .select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "dl", "text")
  }

  /** Write the `docs/` artifact and `stats/` — the only place the stats
    * rows are built. The collection stats ride the docs write as observed
    * metrics, so no stage re-aggregates the docs artifact for them (one
    * full column-pruned pass per build saved; guide §1.2). avgdl =
    * total/n_docs in ONE double division — identical to Spark's avg() on
    * integral input (whose partial sums over ints are exact in double).
    * The batch job calls this inside its docs stage, BEFORE the stage
    * marker: marker ⇒ stats present, so the dict stage just reads it.
    * Also returns the docs write's row count and its lineage checksum
    * (over key and dl, as the docs-stage lineage hashes it). */
  private[index] def writeDocsAndStats(spark: SparkSession, docs: DataFrame,
                                       p: IndexPaths, buildId: String,
                                       io: TableIO): (Stats, Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    io.write(docs.observe(obs,
        count(when(col("dl") > 0, 1)).as("n"),
        sum(when(col("dl") > 0, col("dl").cast("long"))).as("t"),
        count(lit(1)).as("rows"),
        bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("dl"))).as("checksum")),
      p.docs, snapshotId = buildId)
    val (nDocs, total) = (observedLong(obs, "n"), observedLong(obs, "t"))
    val stats = Stats(nDocs, total, if (nDocs == 0) 0.0 else total.toDouble / nDocs)
    import spark.implicits._
    io.write(Seq((nDocs, total, stats.avgdl, buildId))
      .toDF("n_docs", "total_tokens", "avgdl", "build_id"), p.stats,
      snapshotId = buildId)
    (stats, observedLong(obs, "rows"), observedLong(obs, "checksum"))
  }

  /** A Long metric observed by a completed write (0 over empty input). */
  private[index] def observedLong(obs: org.apache.spark.sql.Observation,
                                  name: String): Long =
    Option(obs.get.getOrElse(name, null)).fold(0L)(_.asInstanceOf[Long])

  /** The scoring relation of analyzed `docs` (doc_id, dl, text):
    * (term, doc_id, tf, dl), plus the doc's sorted token `positions` of
    * the term when `positional`. dl rides the aggregate key (functionally
    * dependent on doc_id) — no join back to docs needed. */
  private[index] def termFreqs(docs: DataFrame, positional: Boolean): DataFrame =
    if (!positional)
      docs
        .select(col("doc_id"), col("dl"), explode(Analyzer.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(count(lit(1)).cast("int").as("tf"))
        .select("term", "doc_id", "tf", "dl")
    else
      // posexplode gives the token index; the sorted per-(term, doc)
      // position list rides the same aggregate (no extra shuffle) and
      // feeds the per-block positions stream
      docs
        .select(col("doc_id"), col("dl"),
          posexplode(Analyzer.tokens(col("text"))).as(Seq("_pos", "term")))
        .groupBy("term", "doc_id", "dl")
        .agg(count(lit(1)).cast("int").as("tf"),
          sort_array(collect_list(col("_pos").cast("long"))).as("positions"))
        .select("term", "doc_id", "tf", "dl", "positions")

  /** The dictionary of a scoring relation: df/cf plus an UPPER BOUND on
    * the term's best score, score(max_tf, min_dl) — BM25 is monotone ↑tf,
    * ↓dl, so this bounds every posting. WAND derives exact per-term
    * bounds from block maxes at query time; the dictionary bound is
    * advisory, and the bound form saves a tfdl self-join + second
    * aggregation. */
  private[index] def dictionary(tfdl: DataFrame, stats: Stats,
                                numShards: Int): DataFrame =
    tfdl.groupBy("term").agg(
        count(lit(1)).as("df"),
        sum(col("tf").cast("long")).as("cf"),
        max(col("tf")).as("_max_tf"),
        min(col("dl")).as("_min_dl"))
      .withColumn("shard", PostingBlocks.shardOf(col("term"), numShards))
      .withColumn("max_score", Bm25.termScore(col("_max_tf"), col("_min_dl"),
        col("df"), lit(stats.nDocs), lit(stats.avgdl)))
      .select("term", "shard", "df", "cf", "max_score")

  /** The encoded blocks of `postings/` ([[PostingBlocks.build]]), clustered
    * for the shard-partitioned write. */
  private[index] def postingBlocks(tfdl: DataFrame, dict: DataFrame,
                                   stats: Stats, cfg: Config): DataFrame = {
    val tfdlCols = Seq("term", "doc_id", "tf", "dl") ++
      (if (tfdl.columns.contains("positions")) Seq("positions") else Nil)
    PostingBlocks.build(
      tfdl.select(tfdlCols.map(col): _*), dict, stats,
      cfg.numShards, cfg.blockSize, cfg.saltTarget)
      .repartition(cfg.numShards * 4, col("shard"),
        pmod(xxhash64(col("term")), lit(4)))
  }

  /** The dict + postings stages, given already-persisted docs, stats
    * ([[writeDocsAndStats]]) and tfdl artifacts. */
  private def runDictAndPostings(spark: SparkSession, p: IndexPaths,
                                 buildId: String, cfg: Config,
                                 tail: AsyncTail): Unit = {
    val io = cfg.io
    stage(spark, p, "dict", tail) { t0 =>
      // stats/ is written with the docs artifact ([[writeDocsAndStats]])
      val stats = readStats(spark, p, io)
      val dict = dictionary(io.read(spark, p.tfdl), stats, cfg.numShards)
      io.write(dict, p.dictionary, snapshotId = buildId)
      lineage(spark, p, "dict", buildId, t0, tail = tail, perPartition =
        io.read(spark, p.dictionary).groupBy(col("shard").as("partition_id"))
          .agg(count(lit(1)).as("output_rows"),
            bit_xor(xxhash64(col("term"), col("df"), col("cf"))).as("checksum")))
    }

    stage(spark, p, "postings", tail) { t0 =>
      val stats = readStats(spark, p, cfg.io)
      val blocks = postingBlocks(io.read(spark, p.tfdl),
        io.read(spark, p.dictionary), stats, cfg)
      io.write(blocks, p.postings, partitionBy = Seq("shard"), snapshotId = buildId)
      // ONE cached metadata-only scan of what was just written feeds both
      // the blockmeta sidecar and the lineage rows (round-4 ran two
      // separate postings scans here, and the lineage one hashed the
      // doc_gaps BINARY column — a full payload re-read just for a
      // checksum; (term, first_doc, last_doc, block_len) catches layout
      // and content drift without touching the streams, the same trade
      // the docs-stage lineage makes with dl)
      val meta = io.read(spark, p.postings)
        .select("shard", "term", "first_doc", "last_doc", "block_len",
          "block_max_score").cache()
      // per-term top block maxes: lets query time derive the WAND θ
      // seed from the broadcast dictionary with ZERO extra Spark jobs
      // per batch
      io.write(PostingBlocks.topBlockMaxes(
          meta.select("term", "block_max_score")),
        p.blockmeta, snapshotId = buildId)
      // phrase-capability marker: lets searchPhrase fail fast (or
      // proceed) without sampling data
      if (cfg.storePositions)
        Fs.writeString(spark, p.positionalMarker, "true")
      // the lineage agg reuses the cached meta; the async tail owns the
      // unpersist (it is the last consumer — the marker thunk queued by
      // stage() runs after this one on the same single-worker lane)
      val wallMs = (System.nanoTime() - t0) / 1000000
      tail.submit { () =>
        try lineageWrite(p, "postings", buildId, wallMs,
          meta.groupBy(col("shard").as("partition_id"))
            .agg(count(lit(1)).as("output_rows"),
              bit_xor(xxhash64(col("term"), col("first_doc"), col("last_doc"),
                col("block_len"))).as("checksum")))
        finally meta.unpersist()
      }
    }
  }

  def readStats(spark: SparkSession, p: IndexPaths,
                io: TableIO = ParquetTableIO): Stats = {
    val r = io.read(spark, p.stats).head()
    Stats(r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
      r.getAs[Double]("avgdl"))
  }

  /** Run `body` unless this stage's done-marker exists; queue the marker
    * write on the async tail on success (AFTER the body's queued lineage —
    * single FIFO worker — so "marker ⇒ lineage present" holds across any
    * crash). The body receives the stage's start nanoTime (for lineage
    * wall_ms). Returns true if the stage executed. */
  private def stage(spark: SparkSession, p: IndexPaths, name: String,
                    tail: AsyncTail)(body: Long => Unit): Boolean = {
    val marker = p.marker(name)
    if (Fs.exists(spark, marker)) false
    else {
      val t0 = System.nanoTime()
      body(t0)
      System.err.println(f"[build] stage $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      tail.submit(() => Fs.writeString(spark, marker, "done"))
      true
    }
  }

  /** Queue the per-partition lineage append for a completed stage on the
    * async tail; wall_ms is the elapsed stage time at REGISTRATION (the
    * stage's artifact writes have executed — the async tail only overlaps
    * the lineage aggregation itself with the next stage). */
  private def lineage(spark: SparkSession, p: IndexPaths, stageName: String,
                      buildId: String, startedNanos: Long,
                      perPartition: DataFrame, tail: AsyncTail): Unit = {
    val wallMs = (System.nanoTime() - startedNanos) / 1000000
    tail.submit(() => lineageWrite(p, stageName, buildId, wallMs, perPartition))
  }

  private def lineageWrite(p: IndexPaths, stageName: String, buildId: String,
                           wallMs: Long, perPartition: DataFrame): Unit =
    perPartition
      .withColumn("stage", lit(stageName))
      .withColumn("build_id", lit(buildId))
      .withColumn("wall_ms", lit(wallMs))
      .select("stage", "partition_id", "output_rows", "checksum", "build_id", "wall_ms")
      .write.mode("append").parquet(p.lineage)
}
