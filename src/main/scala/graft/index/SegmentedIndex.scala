package graft.index

import graft.Phase
import graft.search.{BlockMaxWand, Bm25, IndexSearch, Search}
import graft.sources.Fs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-based incremental index maintenance — the O(batch) path
  * (SURVEY.md §2.7 U1/U2; the round-1 [[IndexMerge]] rewrites ALL postings
  * per batch because global dense doc ids shift on any mid-key insert;
  * this is the Lucene-style fix: segment-local id spaces + query-time
  * fan-out, with global re-id deferred to [[compact]]).
  *
  * Layout under a segmented root:
  * {{{
  *   root/segments/<seg>/   one full index root over ONE batch (or one
  *                          merged run), written in one pass by
  *                          [[SegmentWriter]] — the [[BuildIndexJob]]
  *                          artifacts without `_stage_done/` markers and
  *                          with one lineage row per stage; doc ids dense
  *                          within the segment only — plus its keymeta/
  *                          sidecar and keymeta/_NBUCKETS
  *   root/tombstones/<t>/   (conv_id, turn_idx, upto:int) — a row kills the
  *                          key's instance in every segment with ordinal
  *                          < upto (ordinal = position in the manifest)
  *   root/dfdeltas/<t>/     (term, killed) — the df the tombstone dir of
  *                          the same name takes from each term
  *   root/MANIFEST          atomically-published segment list + live
  *                          collection stats (the commit point)
  * }}}
  * Every writer produces this whole layout before the manifest publish
  * that commits it, so readers check for the MANIFEST only.
  *
  * Cost model (the contract MergeSpec asserts): an append WRITES O(batch)
  * bytes — one new segment plus tombstone rows only for keys that actually
  * kill an older live instance. It READS old-segment metadata (docs keys +
  * dl, column-pruned — never text, never postings) to maintain exact live
  * collection stats. Nothing existing is rewritten.
  *
  * Exactness vs a full rebuild: BM25 needs global N, avgdl, df over LIVE
  * docs. N/total_tokens are maintained incrementally in the manifest
  * (batch stats added, killed-instance stats subtracted). The exhaustive
  * paths compute per-term df at query time from the same pruned,
  * tombstone-filtered posting scan that scoring reads anyway; the WAND
  * path ([[searchWand]]) takes it from metadata instead — Σ segment
  * dictionary df minus the `dfdeltas/` kills, held on the driver by
  * [[SegmentSnapshots]] — so it decodes only the blocks it scores. Both
  * match the rebuild bit-for-bit (SegmentSpec / q_streaming_topk
  * gates). Results identify
  * docs by their stable key (conv_id, turn_idx): segment-local ids are
  * internal, exactly like Lucene's per-segment ids; the tie-break
  * (conv_id, turn_idx ascending) equals the unified index's doc_id
  * ascending because global ids are assigned in key order.
  */
object SegmentedIndex {

  /** `tombs` lists the per-append tombstone directories that are COMMITTED
    * — a crashed append may leave an unlisted tombstone dir behind, which
    * readers must not see (the replay overwrites it). */
  final case class Manifest(segments: Seq[String], tombs: Seq[String],
                            nDocs: Long, totalTokens: Long) {
    def avgdl: Double = if (nDocs == 0) 0.0 else totalTokens.toDouble / nDocs
  }

  private val Key = Seq("conv_id", "turn_idx")

  /** Snapshot time travel (Iceberg `VERSION AS OF` analog): every manifest
    * commit ALSO writes an immutable numbered copy under `snapshots/`, and
    * any READ entry point accepts `root@vN` to resolve the manifest as of
    * commit N instead of the current one. Segments and tombstone dirs are
    * immutable and retained by compaction/merges (see [[compactInPlace]]),
    * so an old snapshot's reads stay consistent until [[vacuum]] — which
    * is exactly Iceberg's expire-snapshots contract. Mutators reject
    * versioned roots: writes go only to the table head. */
  private def baseOf(root: String): String = root.split('@')(0)

  /** Parsed snapshot version of a `root@vN` spec (None = current head). */
  def versionOf(root: String): Option[Int] = root.split('@') match {
    case Array(_)    => None
    case Array(_, v) =>
      require(v.matches("v[0-9]+"), s"bad snapshot spec '$root' (want root@vN)")
      Some(v.drop(1).toInt)
    case _ => sys.error(s"bad snapshot spec '$root' (want root@vN)")
  }

  private def requireHead(root: String, op: String): Unit =
    require(versionOf(root).isEmpty,
      s"$op writes to the table head — cannot target snapshot spec '$root'")

  def segPath(root: String, seg: String) = s"${baseOf(root)}/segments/$seg"
  def tombPath(root: String, name: String) = s"${baseOf(root)}/tombstones/$name"
  def dfDeltaPath(root: String, name: String) = s"${baseOf(root)}/dfdeltas/$name"
  def snapshotPath(root: String, v: Int) = s"${baseOf(root)}/snapshots/v$v"
  def manifestPath(root: String): String = versionOf(root) match {
    case Some(v) => snapshotPath(root, v)
    case None    => s"${baseOf(root)}/MANIFEST"
  }

  /** Committed snapshot versions currently on disk, ascending. */
  def snapshotVersions(spark: SparkSession, root: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"${baseOf(root)}/snapshots")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.matches("v[0-9]+") => n.drop(1).toInt }
      .toSeq.sorted
  }

  def readManifest(spark: SparkSession, root: String): Option[Manifest] = {
    val p = manifestPath(root)
    if (!Fs.exists(spark, p)) {
      // a missing HEAD means an empty table (valid); a missing SNAPSHOT is
      // a caller error — answering empty would be a silent wrong answer
      require(versionOf(root).isEmpty, s"snapshot not found: $p")
      None
    } else {
      val kv = Fs.readString(spark, p).linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      def list(k: String) =
        kv.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
      Some(Manifest(list("segments"), list("tombs"),
        kv("n_docs").toLong, kv("total_tokens").toLong))
    }
  }

  private def writeManifest(spark: SparkSession, root: String, m: Manifest): Unit = {
    val body =
      s"segments=${m.segments.mkString(",")}\n" +
        s"tombs=${m.tombs.mkString(",")}\n" +
        s"n_docs=${m.nDocs}\ntotal_tokens=${m.totalTokens}\n"
    // snapshot first, MANIFEST publish second: the MANIFEST stays the ONLY
    // commit point. A crash between the two leaves a snapshot file for a
    // commit that never happened; the caller's replay re-runs the append
    // deterministically, so the orphan names the same segment content the
    // replay republishes — version numbers record commit ATTEMPTS (gaps
    // allowed, like Iceberg's metadata.json sequence)
    val next = snapshotVersions(spark, root).lastOption.getOrElse(0) + 1
    Fs.publishString(spark, snapshotPath(root, next), body)
    Fs.publishString(spark, manifestPath(baseOf(root)), body)
  }

  private def emptyTombstones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, Int)].toDF("conv_id", "turn_idx", "upto")
  }

  /** The schemas every writer gives a tombstone dir and a keymeta
    * sidecar: reads pin them, so opening one runs no schema-inference
    * job. */
  private[index] final val TombSchema = "conv_id STRING, turn_idx INT, upto INT"
  private final val KeymetaSchema =
    "conv_id STRING, turn_idx INT, dl INT, terms ARRAY<STRING>, kb INT"

  def readTombstones(spark: SparkSession, root: String, m: Manifest): DataFrame =
    m.tombs.map(t => spark.read.schema(TombSchema).parquet(tombPath(root, t)))
      .reduceOption(_ unionByName _)
      .getOrElse(emptyTombstones(spark))

  private def keyBucket(kb: Int): Column =
    pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(kb)).cast("int")

  /** Write a segment's keymeta sidecar: (conv_id, turn_idx, dl, terms)
    * partitioned by a key-hash bucket column whose COUNT scales with the
    * segment's size (cfg.keymetaBucketRows rows per bucket). Appends
    * prune their old-metadata scan to the batch's buckets — per segment
    * that is ≤ min(|batch|, buckets) × bucketRows rows read, i.e.
    * O(batch) with a constant factor of bucketRows × (segment count,
    * bounded by compaction), instead of the round-2 O(total corpus)
    * re-scan per micro-batch. `terms` (the doc's DISTINCT analyzed
    * tokens — a per-key forward index, the docvalues analog) lets an
    * append derive the per-term df deltas of the instances it kills
    * without re-reading any killed doc's text: the WAND-over-segments
    * query path needs exact live df from metadata alone. Plain parquet
    * (an internal acceleration structure derived from `docs/`,
    * rebuildable, not a table-format artifact). [[SegmentWriter]] calls
    * this with the segment's materialized `docs` and `tfdl` frames, so
    * nothing the segment write just wrote is read back. */
  private[index] def writeKeymeta(spark: SparkSession, sp: String, segDocs: Long,
                                  docs: DataFrame, tfdl: DataFrame,
                                  cfg: BuildIndexJob.Config): Unit = {
    val kb = math.max(1L, math.min(4096L,
      (segDocs + cfg.keymetaBucketRows - 1) / cfg.keymetaBucketRows)).toInt
    // terms come from the segment's OWN scoring relation (one row per
    // (term, doc) ⇒ collect_list IS the distinct term set; order is
    // irrelevant — every consumer explodes or set-joins it) instead of
    // re-running the analyzer over the stored text. One doc_id-keyed
    // aggregate over the union of the doc rows and the tfdl rows pairs
    // each doc with its terms in a single shuffle (a join shuffles each
    // side); a doc with zero tokens has no tfdl row but still gets its
    // keymeta row (the kill scan counts it), with an empty term list.
    val none = lit(null)
    val rows = docs
      .select(col("doc_id"), col("conv_id"), col("turn_idx"), col("dl"),
        none.cast("string").as("term"))
      .unionByName(tfdl.select(col("doc_id"), none.cast("string").as("conv_id"),
        none.cast("int").as("turn_idx"), none.cast("int").as("dl"), col("term")))
      .groupBy("doc_id")
      // max over the group's one non-null doc row (aggregates skip nulls)
      .agg(max(col("conv_id")).as("conv_id"), max(col("turn_idx")).as("turn_idx"),
        max(col("dl")).as("dl"), collect_list(col("term")).as("terms"))
      .select(col("conv_id"), col("turn_idx"), col("dl"), col("terms"))
      .withColumn("kb", keyBucket(kb))
    // cluster by bucket before the partitioned write: without it every
    // scan task writes a file into every bucket dir it touches (up to
    // tasks × kb tiny files), and the append-time pruned reads pay the
    // listing/footer overhead the bucketing exists to save; one bucket is
    // one file without a shuffle
    (if (kb == 1) rows.coalesce(1) else rows.repartition(col("kb")))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$sp/keymeta")
    Fs.writeString(spark, s"$sp/keymeta/_NBUCKETS", kb.toString)
  }

  /** Older-segment doc metadata (seg ordinal, key, dl, distinct terms)
    * restricted to rows whose key COULD be in `keys`: each segment's
    * keymeta read prunes to the key-hash buckets the batch touches
    * (partition pruning on the bucket directory column — the same trick
    * as the term shards). Every committed segment carries a keymeta
    * sidecar with `terms` and its `_NBUCKETS` count ([[writeKeymeta]] runs
    * inside each segment write, before the manifest publish); reading the
    * counts is a driver-side file read per segment, no Spark job. */
  private def segDocsMetaFor(spark: SparkSession, root: String, m: Manifest,
                             keys: DataFrame): Option[DataFrame] = {
    val kbByOrd: Seq[Int] = m.segments.map(seg =>
      Fs.readString(spark, s"${segPath(root, seg)}/keymeta/_NBUCKETS").trim.toInt)
    // ONE fused job computes the batch's touched buckets for EVERY
    // distinct bucket count above one (the per-segment collect issued
    // one sequential driver job per segment per append — O(segments)
    // fixed latency; a one-bucket sidecar has nothing to prune). Driver
    // boundary: ≤ Σ_kb min(|batch keys|, kb) ids.
    val distinctKbs = kbByOrd.distinct.filter(_ > 1)
    val touchedByKb: Map[Int, Set[Int]] =
      if (distinctKbs.isEmpty) Map.empty
      else keys.select(explode(array(distinctKbs.map(kb =>
            struct(lit(kb).as("kb"), keyBucket(kb).as("b"))): _*)).as("x"))
        .select(col("x.kb").as("kb"), col("x.b").as("b")).distinct()
        .collect().groupBy(_.getInt(0)).view
        .mapValues(_.map(_.getInt(1)).toSet).toMap
    m.segments.zip(kbByOrd).zipWithIndex.map { case ((seg, kb), ord) =>
      val km = spark.read.schema(KeymetaSchema).parquet(s"${segPath(root, seg)}/keymeta")
      val touched = touchedByKb.getOrElse(kb, Set.empty).toSeq
      (if (kb > 1 && touched.size < kb) km.where(col("kb").isin(touched: _*)) else km)
        .select(col("conv_id"), col("turn_idx"), col("dl"), col("terms"))
        .withColumn("seg_ord", lit(ord))
    }.reduceOption(_ unionByName _)
  }

  /** Rows still alive under the current tombstone set. */
  private def liveFilter(docsMeta: DataFrame, tombs: DataFrame): DataFrame =
    docsMeta.join(tombs,
      docsMeta("conv_id") === tombs("conv_id") &&
        docsMeta("turn_idx") === tombs("turn_idx") &&
        tombs("upto") > docsMeta("seg_ord"),
      "left_anti")

  /** Fold one batch (upserts) + explicit deletes into the segmented index.
    * Writes O(batch) bytes: the new segment, tombstones only for keys that
    * kill a live older instance, and the manifest. A half-written segment
    * directory left by a crash (present on disk, absent from the manifest)
    * is wiped and rebuilt — the manifest publish is the only commit point.
    */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             deletes: DataFrame, segName: String,
             cfg: BuildIndexJob.Config = BuildIndexJob.Config()): Manifest =
    Phase(spark, "append") {
      requireHead(root, "append")
      val old = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
      require(!old.segments.contains(segName) && !old.tombs.contains(segName),
        s"segment $segName already committed (replay must be caught by the caller)")
      commitSegment(spark, root, buildSegment(spark, root, batch, deletes, segName, cfg))
    }

  /** A built-but-uncommitted segment: its on-disk content is a pure
    * function of (batch, deletes) — independent of the manifest — which
    * is what lets [[appendAll]] build several concurrently. `killKeys`
    * (every ingested batch key and every delete key, whose OLDER
    * instances die) is a lazy plan re-evaluated (keys-only, column-pruned)
    * by the commit's kill scan; duplicates are harmless, the kill scan
    * semi-joins them. */
  private final case class PendingSegment(segName: String, killKeys: DataFrame,
      hasNewSeg: Boolean, segDocs: Long, segTokens: Long)

  /** Write one segment's full index + keymeta under `root/segments/` in
    * one pass ([[SegmentWriter]]), without touching the manifest. */
  private def buildSegment(spark: SparkSession, root: String, batch: DataFrame,
                           deletes: DataFrame, segName: String,
                           cfg: BuildIndexJob.Config): PendingSegment = {
    val sp = segPath(root, segName)
    if (Fs.exists(spark, sp)) Fs.delete(spark, sp) // crashed half-append
    val ingested = IndexBuild.ingest(batch)
    val delKeys = deletes.select(Key.map(col): _*)
    val (st, rows) = SegmentWriter.write(spark, ingested.join(delKeys, Key, "left_anti"),
      BuildIndexJob.IndexPaths(sp), segName, cfg, keymeta = true)(
      BuildIndexJob.termFreqs(_, cfg.storePositions))
    if (rows == 0) Fs.delete(spark, sp) // a batch of deletes only: no segment
    PendingSegment(segName, ingested.select(Key.map(col): _*).unionByName(delKeys),
      rows > 0, st.nDocs, st.totalTokens)
  }

  /** Fold one pre-built segment into the manifest: the kill scan over
    * OLDER segments, the tombstone/df-delta writes, and the atomic
    * manifest publish — the commit point, after the segment (keymeta
    * included) is fully written. */
  private def commitSegment(spark: SparkSession, root: String,
                            pending: PendingSegment): Manifest = {
    val old = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    publish(spark, root, old, pending,
      killScan(spark, root, old, pending.killKeys, pending.segName))
  }

  /** Docs and tokens of the live instances an append kills, and whether
    * it wrote a tombstone dir. */
  private type Kills = (Long, Long, Boolean)

  /** The kill scan of append `segName` over the segments of `old`: the
    * live older instances of `keys` die. Only those that actually kill a
    * live instance are persisted as tombstones — disjoint batches write
    * zero tombstone rows. Each append owns its tombstone dir (overwrite ⇒
    * crash-replay safe); the dir becomes visible only through the
    * manifest commit. */
  private def killScan(spark: SparkSession, root: String, old: Manifest,
                       keys: DataFrame, segName: String): Kills = {
    val ord = old.segments.size
    if (old.segments.isEmpty) (0L, 0L, false)
    else Phase(spark, "append.killscan") {
      segDocsMetaFor(spark, root, old, keys) match {
        case None => (0L, 0L, false)
        case Some(olderMeta) =>
          val oldTombs = readTombstones(spark, root, old)
          // cached: feeds the tombstone write AND the df-delta write
          // (one scan, not one per action)
          val killed = liveFilter(olderMeta, oldTombs)
            .join(keys, Key, "left_semi")
            .select(col("conv_id"), col("turn_idx"), col("terms"),
              when(col("dl") > 0, col("dl")).otherwise(lit(0)).as("dl"),
              (col("dl") > 0).cast("int").as("counted"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // the killed-instance stats ride the tombstone write as
            // observed metrics (no separate aggregate job); a write that
            // killed nothing is removed again and never committed
            val obs = org.apache.spark.sql.Observation()
            killed.observe(obs, count(lit(1)).as("n"),
                sum(col("counted").cast("long")).as("docs"),
                sum(col("dl").cast("long")).as("tokens"))
              .select(Key.map(col): _*).distinct()
              .withColumn("upto", lit(ord))
              .write.mode("overwrite").parquet(tombPath(root, segName))
            def metric(k: String) = BuildIndexJob.observedLong(obs, k)
            val any = metric("n") > 0
            if (!any) Fs.delete(spark, tombPath(root, segName))
            else Phase(spark, "append.dfdeltas") {
              // per-term df delta of the instances this append kills
              // (each killed instance's DISTINCT terms lose one doc):
              // lets query time derive exact LIVE df from dictionary
              // metadata alone — Σ_seg df_build − Σ_deltas killed — the
              // input the segmented WAND path needs without an O(df)
              // posting decode. Committed through the same manifest
              // entry as the tombstone dir (same name, same condition;
              // overwrite ⇒ crash-replay safe).
              killed.select(explode(col("terms")).as("term"))
                .groupBy("term").agg(count(lit(1)).as("killed"))
                .write.mode("overwrite").parquet(dfDeltaPath(root, segName))
            }
            (metric("docs"), metric("tokens"), any)
          } finally killed.unpersist()
      }
    }
  }

  private def publish(spark: SparkSession, root: String, old: Manifest,
                      pending: PendingSegment, kills: Kills): Manifest = {
    val (killedN, killedTokens, wroteTombs) = kills
    val m = Manifest(
      if (pending.hasNewSeg) old.segments :+ pending.segName else old.segments,
      if (wroteTombs) old.tombs :+ pending.segName else old.tombs,
      old.nDocs - killedN + pending.segDocs,
      old.totalTokens - killedTokens + pending.segTokens)
    writeManifest(spark, root, m)
    m
  }

  /** Append a SEQUENCE of batches with CONCURRENT segment builds and
    * strictly sequential commits — the result (segment dirs, tombstones,
    * df-deltas, snapshots v1..vN, final manifest) is identical to calling
    * [[append]] once per batch in order, because a segment's content is a
    * pure function of its (batch, deletes) while ordinals, kill scans and
    * manifests are derived only at the ordered commits. The builds are
    * independent multi-job pipelines, so a small thread pool lets the
    * scheduler back-fill each build's idle scheduling gaps with another
    * build's tasks (guide §2.6); pool size scales with the session's
    * parallelism, never a local constant. */
  def appendAll(spark: SparkSession, root: String,
                batches: Seq[(String, DataFrame, DataFrame)],
                cfg: BuildIndexJob.Config = BuildIndexJob.Config(),
                maxConcurrentBuilds: Int = 0): Manifest = {
    requireHead(root, "appendAll")
    require(batches.nonEmpty, "appendAll needs at least one batch")
    require(batches.map(_._1).distinct.size == batches.size,
      "duplicate segment names in one appendAll")
    val old = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    batches.foreach { case (n, _, _) =>
      require(!old.segments.contains(n) && !old.tombs.contains(n),
        s"segment $n already committed (replay must be caught by the caller)") }
    val par = if (maxConcurrentBuilds > 0) maxConcurrentBuilds
      else math.max(1, math.min(batches.size,
        spark.sparkContext.defaultParallelism / 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val pendings =
      try {
        val fs = batches.map { case (name, batch, deletes) =>
          pool.submit(new java.util.concurrent.Callable[PendingSegment] {
            override def call(): PendingSegment =
              Phase(spark, "append")(buildSegment(spark, root, batch, deletes, name, cfg))
          })
        }
        fs.map(_.get())
      } finally pool.shutdown()
    Phase(spark, "append")(pendings.map(p => commitSegment(spark, root, p)).last)
  }

  /** Solr deleteByQuery over the segmented index: every LIVE doc matching
    * the (disjunctive, analyzed) query is tombstoned via an empty-batch
    * [[append]] — O(matched keys) written bytes, no segment rewrite, and
    * the same manifest-commit crash safety as any append. The match-key
    * plan is evaluated lazily inside append against the PRE-append
    * manifest snapshot (segments are immutable and the new tombstone dir
    * is not yet visible), so there is no self-read hazard. Scoring after
    * the delete equals a rebuild on the surviving corpus: live df comes
    * from tombstone-filtered postings (+ df-deltas on the WAND path) and
    * N/avgdl from the manifest's updated totals — the invariant
    * SegmentSpec pins for tombstones generally. Returns the new manifest
    * (unchanged when nothing matches — append still commits a manifest,
    * but with zero tombstone rows). */
  def deleteByQuery(spark: SparkSession, root: String, query: String,
                    segName: String,
                    cfg: BuildIndexJob.Config = BuildIndexJob.Config()): Manifest = {
    import spark.implicits._
    val emptyBatch = Seq.empty[(String, Int, String, String, String, java.sql.Timestamp)]
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val keys = readManifest(spark, root) match {
      case None => emptyTombstones(spark)
      case Some(m) if m.segments.isEmpty || m.nDocs == 0 => emptyTombstones(spark)
      case Some(m) =>
        matchedKeys(spark, root, m, Seq((0, query)), cfg)
          .map(_.select("conv_id", "turn_idx").distinct())
          .getOrElse(emptyTombstones(spark))
    }
    append(spark, root, emptyBatch, keys, segName, cfg)
  }

  /** Exact BM25 top-k over the segmented index — query-time fan-out.
    * Output: (query_id, rank, conv_id, turn_idx, score) — docs identified
    * by their stable key (segment-local ids never escape). Global df comes
    * from the live tombstone-filtered posting scan itself; N/avgdl from
    * the manifest. Disjunctive (OR) semantics. */
  def search(spark: SparkSession, root: String, queries: Seq[(Int, String)],
             k: Int = 10,
             cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame =
    searchParts(spark, root, queries, k, cfg, doCache = true) match {
      case Left(empty) => empty
      case Right((out, cached)) =>
        // materialize eagerly (≤ |queries| × k rows — driver-safe by
        // construction) so the cached posting relation can be dropped
        // before returning; callers get a small local frame
        try IndexSearch.localize(spark, out) finally cached.unpersist()
    }

  /** The lazy, uncached plan — exposed so plan-shape tests can assert
    * partition pruning on the executed plan (the public [[search]] returns
    * a materialized local frame whose plan no longer shows the scans). */
  private[graft] def searchPlan(spark: SparkSession, root: String,
                                queries: Seq[(Int, String)], k: Int = 10,
                                cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame =
    searchParts(spark, root, queries, k, cfg, doCache = false)
      .fold(identity, _._1)

  private def keysEmpty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, String, Int, Double)]
      .toDF("query_id", "rank", "conv_id", "turn_idx", "score")
  }

  /** Live pruned posting relation for a term set: one row per (term, LIVE
    * doc) — (term, conv_id, turn_idx, tf, dl) — across all segments.
    * Per-segment shard pruning + tombstone filtering; the shared scan
    * under every segmented query shape (disjunctive, boolean clauses, fq,
    * facet). Each segment's shards come from its cached resident
    * dictionary ([[SegmentSnapshots]]) — no probe job — and the plan
    * holds one postings scan per segment: fine because compaction bounds
    * the segment count (the documented invariant — a long-running ingest
    * calls compactInPlace every `compactEvery` batches, so this loop is
    * O(compactEvery), never O(all appends ever)). */
  private def liveMatched(spark: SparkSession, root: String, m: Manifest,
                          terms: Seq[String],
                          cfg: BuildIndexJob.Config): Option[DataFrame] = {
    import spark.implicits._
    val tombs = readTombstones(spark, root, m)
    val qTerms = terms.distinct.toDF("term")
    val perSeg = SegmentSnapshots.of(spark, root, m, cfg.io)._1.zipWithIndex.flatMap {
      case (seg, ord) =>
        val shards = seg.index.resident.shardsOf(terms)
        if (shards.isEmpty) None
        else {
          val blocks = seg.index.postings
            .where(col("shard").isin(shards: _*))
            .join(broadcast(qTerms), Seq("term"))
          val live = liveFilter(seg.docs.withColumn("seg_ord", lit(ord)), tombs)
          Some(PostingBlocks.decodePostings(blocks)
            .join(live, "doc_id")
            .select(col("term"), col("conv_id"), col("turn_idx"),
              col("tf"), col("dl")))
        }
    }
    perSeg.reduceOption(_ unionByName _)
  }

  /** Distinct analyzed terms of a query batch, on the driver. */
  private def termsOf(queries: Seq[(Int, String)]): Seq[String] =
    queries.flatMap(q => graft.analysis.Analyzer.tokenize(q._2)).distinct

  /** Live docs with their stored non-text attributes (keys + role/tool/ts
    * + dl), across all segments — the fq/facet attribute side. Catalyst
    * prunes the per-segment parquet scans to the columns a caller
    * actually references. */
  private def liveDocAttrs(spark: SparkSession, root: String, m: Manifest,
                           cfg: BuildIndexJob.Config): DataFrame = {
    val tombs = readTombstones(spark, root, m)
    val segs = m.segments.zipWithIndex.map { case (seg, ord) =>
      cfg.io.read(spark, s"${segPath(root, seg)}/docs")
        .drop("text", "doc_id")
        .withColumn("seg_ord", lit(ord))
    }
    liveFilter(segs.reduce(_ unionByName _), tombs).drop("seg_ord")
  }

  /** Disjunctive per-(query, key) BM25 scores over a live matched
    * relation: query-time df from the relation itself, manifest N/avgdl —
    * the shared scoring tail of the plain, fq, and (extended with must
    * counting) clause paths. */
  private def disjunctiveScores(all: DataFrame, qt: DataFrame,
                                m: Manifest): DataFrame = {
    val dfg = all.groupBy("term").agg(count(lit(1)).as("df"))
    all.join(broadcast(dfg), "term")
      .join(broadcast(qt), "term")
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(m.nDocs), lit(m.avgdl)))
      .groupBy("query_id", "conv_id", "turn_idx")
      .agg(sum(col("_s")).as("_score"))
  }

  /** W1 over key-identified docs: the pinned tie-break (conv_id, turn_idx
    * ascending ≡ the unified index's doc_id ascending — global ids are
    * assigned in key order). */
  private def rankKeys(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc,
        col("conv_id").asc, col("turn_idx").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("conv_id"), col("turn_idx"),
        round(col("_score"), Bm25.OutScale).as("score"))
  }

  /** Land a facet-shaped result (queries × facet cardinality — too big
    * to collect, per the round-4 driver-OOM advisory) in temp parquet and
    * return a scan over it, so internal caches can drop before the caller
    * consumes the plan. LIFECYCLE: the directory lives until JVM exit
    * ([[graft.TempDirs]]' shutdown hook) — per-request scratch, not a
    * leak, for batch/driver-gate use. A LONG-RUNNING serving deployment
    * should instead route facet output to its own sink (these methods
    * return plans; `df.write` to the serving store replaces this scratch
    * hop entirely) — letting per-query scratch accumulate for days is the
    * one usage this helper does not bound. */
  private def materialize(spark: SparkSession, out: DataFrame): DataFrame = {
    val p = graft.TempDirs.create("graft_seg_out")
    out.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def searchParts(spark: SparkSession, root: String,
                          queries: Seq[(Int, String)], k: Int,
                          cfg: BuildIndexJob.Config, doCache: Boolean)
      : Either[DataFrame, (DataFrame, DataFrame)] = {
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return Left(empty))
    if (m.segments.isEmpty || m.nDocs == 0) return Left(empty)
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val all0 = liveMatched(spark, root, m, termsOf(queries), cfg)
      .getOrElse(return Left(empty))
    // cached (when doCache): the live tombstone-filtered decode feeds BOTH
    // the df aggregate and the scoring join — without the cache the pruned
    // decode of every segment executes twice per query batch (round-2 flag)
    val all = if (doCache) all0.cache() else all0
    Right((rankKeys(disjunctiveScores(all, qt, m), k), all))
  }

  /** Solr `{!parent}` block join over the SEGMENTED index
    * ([[graft.search.BlockJoin]] semantics, served live between
    * compactions): conv_id is the leading key column, so the parent
    * aggregation needs NO attribute join at all — one extra hash
    * aggregation over the live scored keys. Same output shape and oracle
    * as the unified [[graft.search.IndexSearch.searchParents]]. */
  def searchParents(spark: SparkSession, root: String,
                    queries: Seq[(Int, String)],
                    mode: graft.search.BlockJoin.ScoreMode, k: Int = 10,
                    cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = Seq.empty[(Int, Int, String, Long, Double)]
      .toDF("query_id", "rank", "parent", "n_children", "score")
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val all = liveMatched(spark, root, m, termsOf(queries), cfg)
      .getOrElse(return empty).cache()
    try {
      val agged = disjunctiveScores(all, qt, m)
        .groupBy("query_id", "conv_id")
        .agg(mode.agg(col("_score")).as("_score"),
          count(lit(1)).as("n_children"))
      val w = Window.partitionBy("query_id")
        .orderBy(round(col("_score"), Bm25.RankScale).desc, col("conv_id").asc)
      IndexSearch.localize(spark, agged
        .withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("conv_id").as("parent"),
          col("n_children"), round(col("_score"), Bm25.OutScale).as("score"))
        .orderBy("query_id", "rank"))
    } finally all.unpersist()
  }

  /** Full boolean clause grammar (`q=+a b -c`, incl. the NOT-only subset)
    * over the SEGMENTED index — the same pinned semantics as
    * [[graft.search.Search.searchCorpusClauses]]: every must term required
    * (an out-of-vocabulary must ⇒ no matches), not-terms anti-joined,
    * score = BM25 over matching must+should terms, computed from the live
    * tombstone-filtered fan-out (query-time df, manifest N/avgdl). Output
    * keys-shaped, like [[search]]. `mm` is minimumNumberShouldMatch with
    * [[graft.search.Search.searchCorpusClauses]]'s exact pinning (term
    * clauses — this engine path is terms-only). */
  def searchClauses(spark: SparkSession, root: String,
                    queries: Seq[(Int, String)], k: Int = 10,
                    cfg: BuildIndexJob.Config = BuildIndexJob.Config(),
                    mm: Int = 0): DataFrame = {
    import spark.implicits._
    require(mm >= 0, s"mm (minimum-should-match) must be >= 0, got $mm")
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val (qt, neg, nMust) = Search.parseClauseQueries(spark, queries)
    val allTerms = queries.flatMap { case (_, t) =>
      val c = Search.parseClauses(t); c.must ++ c.should ++ c.not }
    val all = liveMatched(spark, root, m, allTerms, cfg)
      .getOrElse(return empty).cache()
    try {
      val dfg = all.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = all
        .join(broadcast(dfg), "term")
        .join(broadcast(qt), "term") // (query_id, term, _is_must, _boost)
        .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
          lit(m.nDocs), lit(m.avgdl)) * col("_boost"))
        .groupBy("query_id", "conv_id", "turn_idx")
        .agg(sum(col("_s")).as("_score"),
          count(when(col("_is_must"), lit(1))).as("_must_matched"),
          count(when(!col("_is_must"), lit(1))).as("_should_matched"))
      val nMustDf = nMust.toSeq.toDF("query_id", "_n_must")
      val negMatch = all.join(broadcast(neg), Seq("term"))
        .select("query_id", "conv_id", "turn_idx").distinct()
      val mustOk = scored
        .join(broadcast(nMustDf), "query_id")
        .where(col("_must_matched") === col("_n_must"))
      val mmOk = if (mm == 0) mustOk
        else mustOk.where(col("_should_matched") >= mm)
      IndexSearch.localize(spark, rankKeys(mmOk
        .join(negMatch, Seq("query_id", "conv_id", "turn_idx"), "left_anti"), k))
    } finally all.unpersist()
  }

  /** Query-time SYNONYM expansion over the SEGMENTED index —
    * [[graft.search.Synonyms]] semantics (max member df, Σ member tf)
    * served live between compactions: member df comes from the same
    * tombstone-filtered fan-out every segmented scoring path pays (so a
    * killed doc's tf stops counting toward its members' df), N/avgdl
    * from the manifest. Output keys-shaped like [[search]]. */
  def searchSynonyms(spark: SparkSession, root: String,
                     queries: Seq[(Int, String)], groups: Seq[Seq[String]],
                     k: Int = 10,
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val triples = graft.search.Synonyms.resolve(queries, groups)
    if (triples.isEmpty) return empty
    val tri = triples.toDF("query_id", "gid", "term")
    val all = liveMatched(spark, root, m, triples.map(_._3), cfg)
      .getOrElse(return empty).cache()
    try {
      // live df per member; class df = max member df (SynonymQuery)
      val dfg = all.groupBy("term").agg(count(lit(1)).as("df"))
      val gdf = tri.join(dfg, "term")
        .groupBy("query_id", "gid").agg(max(col("df")).as("_df"))
      val scored = all.join(broadcast(tri), Seq("term"))
        // merged-postings view per class: Σ member tfs per live doc
        .groupBy("query_id", "gid", "conv_id", "turn_idx")
        .agg(sum(col("tf")).as("_tf"), min(col("dl")).as("dl"))
        .join(broadcast(gdf), Seq("query_id", "gid"))
        .withColumn("_s", Bm25.termScore(col("_tf"), col("dl"), col("_df"),
          lit(m.nDocs), lit(m.avgdl)))
        .groupBy("query_id", "conv_id", "turn_idx")
        .agg(sum(col("_s")).as("_score"))
      IndexSearch.localize(spark, rankKeys(scored, k))
    } finally all.unpersist()
  }

  /** Solr RealTimeGet over the SEGMENTED (streaming-serving) index — the
    * "realtime" in the name is exactly this path: a just-appended,
    * not-yet-compacted doc is visible, an upserted key answers from its
    * LATEST segment, and a tombstoned key is absent ([[liveDocAttrs]]'s
    * live-filter semantics). Text is not carried in segment doc attrs, so
    * the stored projection is (conv_id, turn_idx, role, tool, dl).
    * Missing keys are omitted; output ordered by key. */
  def getDocs(spark: SparkSession, root: String, keys: Seq[(String, Int)],
              cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    require(keys.nonEmpty, "realtime get needs at least one key")
    def empty = Seq.empty[(String, Int, String, String, Long)]
      .toDF("conv_id", "turn_idx", "role", "tool", "dl")
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val pred = keys.map { case (c, t) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    liveDocAttrs(spark, root, m, cfg)
      .where(pred)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("dl").cast("long").as("dl"))
      .orderBy("conv_id", "turn_idx")
  }

  /** Solr `fq` over the segmented index: the predicate (over live stored
    * doc attributes) restricts RESULTS only — scores, query-time df, and
    * manifest N/avgdl remain those of the full live corpus, exactly like
    * [[graft.search.IndexSearch.searchFiltered]]. */
  def searchFiltered(spark: SparkSession, root: String,
                     queries: Seq[(Int, String)], filter: Column, k: Int = 10,
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val all = liveMatched(spark, root, m, termsOf(queries), cfg)
      .getOrElse(return empty).cache()
    try {
      val keep = liveDocAttrs(spark, root, m, cfg)
        .where(filter).select("conv_id", "turn_idx")
      IndexSearch.localize(spark, rankKeys(disjunctiveScores(all, qt, m)
        .join(keep, Seq("conv_id", "turn_idx"), "left_semi"), k))
    } finally all.unpersist()
  }

  /** Solr `facet.field` over the segmented index's match set: per
    * (query, facet value) LIVE doc counts — every live doc matching ≥1
    * query term counts once. Same output shape as the unified-index
    * faceting, so the same oracle gates it. */
  def facetCounts(spark: SparkSession, root: String,
                  queries: Seq[(Int, String)], facetCol: String,
                  cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = Seq.empty[(Int, String, Long)]
      .toDF("query_id", facetCol, "n_docs")
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val all = liveMatched(spark, root, m, termsOf(queries), cfg)
      .getOrElse(return empty).cache()
    try {
      val matched = all.join(broadcast(qt), "term")
        .select("query_id", "conv_id", "turn_idx").distinct()
      val attrs = liveDocAttrs(spark, root, m, cfg)
        .select(col("conv_id"), col("turn_idx"), col(facetCol))
      // queries × facet-cardinality rows — unbounded for a high-cardinality
      // facet column, so this goes to temp parquet, never to the driver;
      // the returned plan re-sorts the (small relative to the corpus)
      // materialized counts
      materialize(spark, matched.join(attrs, Seq("conv_id", "turn_idx"))
        .groupBy("query_id", facetCol)
        .agg(count(lit(1)).as("n_docs")))
        .orderBy("query_id", facetCol)
    } finally all.unpersist()
  }

  /** The segmented key columns every facet/stat joins on — the
    * (conv_id, turn_idx) identity that replaces the unified index's dense
    * doc_id ([[graft.search.Facets]] `key` parameter). */
  private val KeyCols = Seq("conv_id", "turn_idx")

  /** Live distinct (query_id, conv_id, turn_idx) match set — the shared
    * DocSet of the segmented facet family. None when the root is empty or
    * no query term matches. Caller owns the returned frame's lifecycle
    * (it is NOT cached here; each facet op consumes it once). */
  private def matchedKeys(spark: SparkSession, root: String, m: Manifest,
                          queries: Seq[(Int, String)],
                          cfg: BuildIndexJob.Config): Option[DataFrame] = {
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    liveMatched(spark, root, m, termsOf(queries), cfg)
      .map(_.join(broadcast(qt), "term")
        .select("query_id", "conv_id", "turn_idx").distinct())
  }

  /** Multi-field `facet.field` over the SEGMENTED index — the
    * [[graft.search.Facets.fields]] composition on the keys identity:
    * every repeated facet.field of a request counted from ONE live
    * match-set join, between compactions, with the same NULL/string
    * semantics as the unified path. */
  def facetFields(spark: SparkSession, root: String,
                  queries: Seq[(Int, String)], fieldNames: Seq[String],
                  cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = Seq.empty[(Int, String, String, Long)]
      .toDF("query_id", "field", "value", "n_docs")
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    materialize(spark, graft.search.Facets.fields(
      matched, liveDocAttrs(spark, root, m, cfg), fieldNames, KeyCols))
      .orderBy("query_id", "field", "value")
  }

  /** Solr JSON Facet API over the SEGMENTED index
    * ([[graft.search.Facets.json]] on the keys identity): terms facet +
    * bucket metrics + nested subfacet served from the live match set
    * between compactions. Facets.json materializes its facet-shaped
    * rollup internally, so no extra lifecycle wrapper is needed here. */
  def facetJson(spark: SparkSession, root: String,
                queries: Seq[(Int, String)], parentField: String,
                childField: String, parentLimit: Int, childLimit: Int,
                metrics: Seq[graft.search.Facets.JsonMetric],
                cfg: BuildIndexJob.Config = BuildIndexJob.Config(),
                sortBy: Option[String] = None): DataFrame = {
    import spark.implicits._
    def empty = {
      val base = Seq.empty[(Int, String, String, Int, Long)]
        .toDF("query_id", "value", "child_value", "rank", "n_docs")
      metrics.foldLeft(base)((d, m) =>
        d.withColumn(m.name, lit(null).cast(m.outType)))
    }
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    graft.search.Facets.json(matched, liveDocAttrs(spark, root, m, cfg),
      parentField, childField, parentLimit, childLimit, metrics, KeyCols,
      sortBy = sortBy)
  }

  /** StatsComponent over the SEGMENTED index
    * ([[graft.search.Facets.stats]] on the keys identity): per-query
    * count/min/max/sum/mean of a stored numeric attribute of the LIVE
    * match set, zero-filled on the query spine. */
  def statsField(spark: SparkSession, root: String,
                 queries: Seq[(Int, String)], field: String,
                 cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    val queryIds = queries.map(_._1)
    def empty = graft.search.Facets.stats(queryIds,
      Seq.empty[(Int, String, Int)].toDF("query_id", "conv_id", "turn_idx"),
      Seq.empty[(String, Int, Int)].toDF(field, "conv_id", "turn_idx"),
      field, KeyCols)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    graft.search.Facets.stats(queryIds, matched,
      liveDocAttrs(spark, root, m, cfg), field, KeyCols)
  }

  /** Solr interval faceting over the LIVE segmented index
    * ([[graft.search.Facets.intervals]] semantics on the tombstone-aware
    * key-identity match set — the [[facetFields]] composition; an
    * interval count between compactions sees upserts and deletes). */
  def facetIntervals(spark: SparkSession, root: String,
                     queries: Seq[(Int, String)], field: String,
                     sets: Seq[graft.search.Facets.Interval],
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    val queryIds = queries.map(_._1)
    def empty = graft.search.Facets.intervals(queryIds,
      Seq.empty[(Int, String, Int)].toDF("query_id", "conv_id", "turn_idx"),
      Seq.empty[(Int, String, Int)].toDF(field, "conv_id", "turn_idx"),
      field, sets, KeyCols)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    materialize(spark, graft.search.Facets.intervals(queryIds, matched,
      liveDocAttrs(spark, root, m, cfg), field, sets, KeyCols))
      .orderBy("query_id", "interval")
  }

  /** JSON Facet API `query` facets with bucket metrics over the LIVE
    * segmented index ([[graft.search.Facets.jsonQuery]] semantics on the
    * tombstone-aware key-identity match set). An absent/empty index
    * reports the full zero-filled spine. */
  def facetJsonQuery(spark: SparkSession, root: String,
                     queries: Seq[(Int, String)],
                     named: Seq[(String, org.apache.spark.sql.Column)],
                     metrics: Seq[graft.search.Facets.JsonMetric],
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    val queryIds = queries.map(_._1)
    def empty = {
      val spine = (for { q <- queryIds.distinct; (n, _) <- named }
        yield (q, n)).toDF("query_id", "facet")
      metrics.foldLeft(spine.withColumn("n_docs", lit(0L)))((d, m) =>
        d.withColumn(m.name, lit(null).cast(m.outType)))
        .orderBy("query_id", "facet")
    }
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    graft.search.Facets.jsonQuery(queryIds, matched,
      liveDocAttrs(spark, root, m, cfg), named, metrics, KeyCols)
  }

  /** JSON Facet API `range` facet with bucket metrics over the LIVE
    * segmented index ([[graft.search.Facets.jsonRange]] semantics on the
    * tombstone-aware key-identity match set — counts AND metrics see
    * upserts and deletes between compactions). An absent/empty index
    * reports the full zero-filled spine (the request shape is
    * driver-known). */
  def facetJsonRange(spark: SparkSession, root: String,
                     queries: Seq[(Int, String)], field: String,
                     start: Long, end: Long, gap: Long,
                     metrics: Seq[graft.search.Facets.JsonMetric],
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    val queryIds = queries.map(_._1)
    def empty = {
      val spine = (for { q <- queryIds.distinct; b <- start until end by gap }
        yield (q, b)).toDF("query_id", "bucket")
      metrics.foldLeft(spine.withColumn("n_docs", lit(0L)))((d, m) =>
        d.withColumn(m.name, lit(null).cast(m.outType)))
        .orderBy("query_id", "bucket")
    }
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val matched = matchedKeys(spark, root, m, queries, cfg)
      .getOrElse(return empty)
    graft.search.Facets.jsonRange(queryIds, matched,
      liveDocAttrs(spark, root, m, cfg), field, start, end, gap, metrics,
      KeyCols)
  }

  /** PHRASE search (exact, ordered-window slop, or Lucene-style sloppy)
    * over the SEGMENTED index — requires segments built with
    * `Config.storePositions`. Semantics match
    * [[graft.search.IndexSearch.searchPhrase]] over the live corpus:
    * idf per term from the exact LIVE df (counted from the
    * tombstone-filtered thin fan-out — the same pass the disjunctive
    * path pays for its query-time df), N/avgdl from the manifest, and a
    * phrase with a term absent from the live corpus matches nothing.
    * Output keys-shaped like [[search]].
    *
    * Scale shape mirrors the unified path: the thin (positional-free)
    * fan-out both counts live df AND intersects candidates carrying
    * their block identities (seg, term, first_doc); the positional (fat)
    * stream then decodes ONLY blocks containing a candidate doc, per
    * segment. A segment lacking any phrase term contributes nothing and
    * is skipped at the resident dictionary lookup. */
  def searchPhrase(spark: SparkSession, root: String,
                   phrases: Seq[(Int, String)], k: Int = 10, slop: Int = 0,
                   luceneSlop: Boolean = false,
                   cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    require(m.segments.forall(seg => Fs.exists(spark,
        BuildIndexJob.IndexPaths(segPath(root, seg)).positionalMarker)),
      "segmented searchPhrase requires every segment built with " +
        "Config(storePositions = true)")
    val parsed = phrases
      .map { case (q, t) => (q, graft.analysis.Analyzer.tokenize(t)) }
      .filter(_._2.nonEmpty)
    if (parsed.isEmpty) return empty
    val allTerms = parsed.flatMap(_._2).distinct
    val tombs = readTombstones(spark, root, m)
    val segs = SegmentSnapshots.of(spark, root, m, cfg.io)._1
    def liveKeys(ord: Int): DataFrame =
      liveFilter(segs(ord).docs.withColumn("seg_ord", lit(ord)), tombs)
    // per-segment shard lists from the resident dictionaries, reused by
    // the fat pass below (segments without a phrase term are skipped in
    // both passes). The loop is O(compactEvery), as everywhere here.
    val segShards: Seq[(Int, Seq[Int])] = segs.zipWithIndex.flatMap { case (seg, ord) =>
      val shards = seg.index.resident.shardsOf(allTerms)
      if (shards.isEmpty) None else Some(ord -> shards)
    }
    def prunedBlocks(ord: Int, shards: Seq[Int]): DataFrame =
      segs(ord).index.postings
        .where(col("shard").isin(shards: _*) &&
          col("term").isInCollection(allTerms))
    val perSeg = segShards.map { case (ord, shards) =>
      PostingBlocks.decodePostings(
          prunedBlocks(ord, shards).drop("poss")
            .withColumn("_bfd", col("first_doc")))
        .join(liveKeys(ord), "doc_id")
        .select(col("term"), col("conv_id"), col("turn_idx"), col("dl"),
          col("_bfd"))
        .withColumn("_seg", lit(ord))
    }
    val thin = perSeg.reduceOption(_ unionByName _)
      .getOrElse(return empty).cache()
    try {
      // exact live df per phrase term — the idf input (≤ |terms| rows)
      val dfMap = thin.groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val live = parsed.filter(_._2.forall(t => dfMap.getOrElse(t, 0L) > 0L))
      if (live.isEmpty) return empty
      val qt = live.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("query_id", "term")
      val nd = live.map { case (q, ts) => (q, ts.distinct.size) }
        .toDF("query_id", "_nd")
      val cand = thin.join(broadcast(qt), Seq("term"))
        .groupBy("query_id", "conv_id", "turn_idx")
        .agg(count(lit(1)).as("_n"),
          collect_list(struct(col("_seg"), col("term"), col("_bfd"))).as("_blks"))
        .join(broadcast(nd), "query_id")
        .where(col("_n") === col("_nd"))
        .select("query_id", "conv_id", "turn_idx", "_blks")
        .cache()
      try {
        val blockKeys = cand.select(explode(col("_blks")).as("_b"))
          .select(col("_b._seg").as("_seg"), col("_b.term").as("term"),
            col("_b._bfd").as("_bfd"))
          .distinct()
        val fatPerSeg = segShards.map { case (ord, shards) =>
          val blocks = prunedBlocks(ord, shards)
            .withColumn("_bfd", col("first_doc"))
            .join(blockKeys.where(col("_seg") === ord).select("term", "_bfd"),
              Seq("term", "_bfd"), "left_semi")
          PostingBlocks.decodePostingsWithPositions(blocks)
            .join(liveKeys(ord), "doc_id")
            .select(col("term"), col("conv_id"), col("turn_idx"), col("dl"),
              col("positions"))
        }
        val fat = fatPerSeg.reduce(_ unionByName _)
          .join(broadcast(qt), Seq("term"))
          .join(cand.select("query_id", "conv_id", "turn_idx"),
            Seq("query_id", "conv_id", "turn_idx"), "left_semi")
        val pm = fat.groupBy("query_id", "conv_id", "turn_idx")
          .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
            .as("_pm"), min(col("dl")).as("dl"))
        val meta = live.map { case (q, ts) =>
          (q, ts, ts.map(t => Bm25.idfValue(dfMap(t), m.nDocs)).sum)
        }.toDF("query_id", "_terms", "_idf")
        val scored = pm.join(broadcast(meta), "query_id")
          .withColumn("_pf", graft.search.IndexSearch.phrasePf(slop, luceneSlop))
          .where(col("_pf") > 0)
          .select(col("query_id"), col("conv_id"), col("turn_idx"),
            (col("_idf") * col("_pf") /
              (col("_pf") + lit(Bm25.K1) * (lit(1.0) - lit(Bm25.B) +
                lit(Bm25.B) * col("dl") / lit(m.avgdl)))).as("_score"))
        IndexSearch.localize(spark, rankKeys(scored, k))
      } finally cand.unpersist()
    } finally thin.unpersist()
  }

  /** One posting block routed to one (query, segment, doc-range) group —
    * the unit of the range-parallel segmented WAND. `df` carries the LIVE
    * global df (the exact scoring input); `block_max_score` is the stored
    * build-time max CORRECTED to an upper bound under the live scoring
    * function. */
  // public: Spark's generated row (de)serializer must access the class
  final case class SegQBlock(query_id: Int, seg_ord: Int,
      range_id: Int, term: String, df: Long, first_doc: Long, last_doc: Long,
      doc_gaps: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
      block_max_score: Double) extends BlockMaxWand.EncodedBlock

  /** Block-max WAND top-k over the SEGMENTED index — the top-k-pruned
    * traversal that replaces the exhaustive O(df) live posting scan a
    * hot-term disjunctive query would otherwise pay between compactions.
    * Output keys-shaped and EXACT — identical to [[search]] (SegmentSpec
    * pins the equivalence under upserts + tombstones).
    *
    * The three inputs WAND needs, each derived WITHOUT decoding postings:
    *
    *  1. EXACT LIVE df per term (BM25's idf input): Σ over segments of
    *     the segment dictionary's build-time df, minus the per-append
    *     kill deltas (`dfdeltas/<tomb>` — written beside every committed
    *     tombstone dir by [[append]] and [[mergeAdjacent]] from the killed
    *     instances' keymeta term lists). Metadata only.
    *  2. UPPER-BOUND block maxes under the live scoring function: a
    *     stored max was computed with the segment's build-time
    *     (df_b, N_b, avgdl_b); for the live function (df_l, N_l, avgdl_l)
    *     every posting satisfies s_live/s_build = (idf_l/idf_b)·g(tf, dl)
    *     where g = (tf + K_b(dl))/(tf + K_l(dl)) is monotone in dl with
    *     range bounded by [min(1, avgdl_l/avgdl_b),
    *     max(1, avgdl_l/avgdl_b)] over tf ≥ 1, dl ≥ 1 (K(dl) =
    *     k1(1−b+b·dl/avg) is affine in dl, so the ratio's extrema sit at
    *     dl → {1, ∞} and tf → {1, ∞}). Scaling each stored max by
    *     (idf_l/idf_b)·max(1, avgdl_l/avgdl_b) therefore yields a valid
    *     upper bound — over-estimates only inhibit skipping, never break
    *     exactness.
    *  3. A θ SEED from the segments' stored top block maxes scaled by
    *     the LOWER factor (idf_l/idf_b)·min(1, avgdl_l/avgdl_b) — used only when
    *     the manifest has NO tombstones: then every stored max's doc is
    *     live and keys are globally distinct (an upsert always writes a
    *     tombstone), so the k-th largest corrected-lower max of a term
    *     witnesses k doc-disjoint live docs scoring at least it.
    *
    * TOMBSTONE GUARD: killed docs are invisible to the traversal's
    * metadata, so they can occupy heap slots; each (query, segment)
    * traversal over-fetches k + t_s candidates, where t_s = the count
    * of tombstone rows with upto > the segment's ordinal (an upper bound
    * on killed instances in that segment — each tombstone row kills at
    * most one instance per segment), and killed candidates are dropped
    * before the global rank-merge: any live doc outside a segment's
    * k + t_s best has ≥ k live docs ranked above it in its own segment,
    * so it cannot enter the global top-k. t_s is bounded by the appends
    * since the last compaction (the documented segment-count invariant);
    * heavy delete workloads degrade toward larger heaps, never toward
    * wrong answers.
    *
    * Driver state: every input above comes from [[SegmentSnapshots]] —
    * per committed segment its open index (stats, resident dictionary,
    * resolved postings) and `docs/` key relation, per tombstone dir its
    * killed keys and df deltas — loaded once per directory and reused by
    * every later read. A warm read re-reads only the MANIFEST and derives
    * live df, bounds, seeds and t_s on the driver. A batch within one
    * range's working set (the segments' doc counts and the stored df of
    * its terms each sum to ≤ docsPerRange — [[IndexSearch.searchWand]]'s
    * single-range rule summed over segments) then runs ONE Spark job
    * collecting its blocks across segments and traverses each (query,
    * segment) on the driver; a larger batch keeps the (query, segment,
    * doc-range) parallel traversal, with segment-local id spaces and the
    * same precise block→range routing as the unified path. Either way
    * ONE more job resolves the candidates' keys from `docs/`, and killed
    * instances are dropped and ranked on the driver into a local frame.
    * A request with only out-of-vocabulary terms runs no job. Memory:
    * ~84 B per term × Σ live-segment vocabularies (the resident
    * dictionaries), plus the live tombstone rows and df-delta terms, plus
    * a request's own blocks (≤ docsPerRange postings on the driver
    * path) and ≤ |queries| × segments × (k + t_s) candidates. */
  def searchWand(spark: SparkSession, root: String,
                 queries: Seq[(Int, String)], k: Int = 10,
                 docsPerRange: Long = IndexSearch.DefaultDocsPerRange,
                 cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = keysEmpty(spark)
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    val parsed = queries
      .map { case (qid, t) => (qid, graft.analysis.Analyzer.tokenize(t).distinct) }
      .filter(_._2.nonEmpty)
    if (parsed.isEmpty) return empty
    val allTerms = parsed.flatMap(_._2).distinct
    val (segs, tombs) = SegmentSnapshots.of(spark, root, m, cfg.io)
    val dicts = segs.map(_.index.resident)
    val rows: IndexedSeq[Map[String, Int]] = dicts.map(d =>
      allTerms.map(t => t -> d.row(t)).filter(_._2 >= 0).toMap)
    val dfLive: Map[String, Long] = allTerms.flatMap { t =>
      val total = segs.indices.map(o => rows(o).get(t).fold(0L)(dicts(o).df)).sum -
        tombs.map(_.dfDeltas.getOrElse(t, 0L)).sum
      if (total > 0) Some(t -> total) else None
    }.toMap
    val liveParsed = parsed
      .map { case (q, ts) => (q, ts.filter(dfLive.contains)) }
      .filter(_._2.nonEmpty)
    if (liveParsed.isEmpty) return empty
    val (nL, avgL) = (m.nDocs, m.avgdl)

    // per segment: live term → (dictionary row, upper and lower factor)
    val segTerms: IndexedSeq[Map[String, (Int, Double, Double)]] = segs.indices.map { o =>
      val st = segs(o).index.stats
      val a = avgL / st.avgdl
      rows(o).collect { case (t, r) if dfLive.contains(t) =>
        val c = Bm25.idfValue(dfLive(t), nL) / Bm25.idfValue(dicts(o).df(r), st.nDocs)
        t -> ((r, c * math.max(1.0, a), c * math.min(1.0, a)))
      }
    }
    val seeds: Map[Int, Double] =
      if (tombs.nonEmpty) Map.empty
      else {
        val perTermKth = dfLive.keys.flatMap { t =>
          val lows = segs.indices.flatMap(o => segTerms(o).get(t).toSeq.flatMap {
            case (r, _, lo) => dicts(o).topMaxes(r).map(_ * lo)
          }).sorted(Ordering[Double].reverse)
          if (lows.size >= k) Some(t -> lows(k - 1)) else None
        }.toMap
        liveParsed.flatMap { case (q, ts) =>
          val s = ts.flatMap(perTermKth.get)
          if (s.isEmpty) None else Some(q -> s.max)
        }.toMap
      }
    val heap: IndexedSeq[Int] = segs.indices.map(o =>
      k + math.min(tombs.map(_.killing(o)).sum, Int.MaxValue.toLong - k).toInt)
    val fits = segs.map(_.index.stats.nDocs).sum <= docsPerRange &&
      segs.indices.map(o => segTerms(o).values.map(v => dicts(o).df(v._1)).sum).sum <= docsPerRange

    val candidates: Seq[(Int, Int, Long, Double)] =
      if (fits) {
        val lists: Map[(Int, String), BlockMaxWand.TermPostings] =
          segs.indices.filter(segTerms(_).nonEmpty).map { o =>
            val ts = segTerms(o).keys.toSeq
            segs(o).index.postings
              .where(col("shard").isin(dicts(o).shardsOf(ts): _*) && col("term").isin(ts: _*))
              .select(lit(o).as("seg_ord"), col("term"), col("first_doc"),
                col("last_doc"), col("doc_gaps"), col("tfs"), col("dls"),
                col("block_max_score"))
          }.reduce(_ unionByName _).collect()
            .groupBy(r => (r.getInt(0), r.getString(1))).map { case ((o, t), rs) =>
              val up = segTerms(o)(t)._2
              (o, t) -> BlockMaxWand.TermPostings(dfLive(t), rs.sortBy(_.getLong(2)).map(r =>
                BlockMaxWand.BlockRef(r.getLong(2), r.getLong(3), r.getDouble(7) * up,
                  r.getAs[Array[Byte]](4), r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6))))
            }
        for {
          (q, ts) <- liveParsed
          o <- segs.indices
          terms = ts.flatMap(t => lists.get((o, t)))
          if terms.nonEmpty
          (doc, s) <- BlockMaxWand.topKRange(terms, heap(o), nL, avgL, 0L, Long.MaxValue,
            seeds.getOrElse(q, Double.NegativeInfinity))
        } yield (q, o, doc, s)
      } else {
        val rangeSize = math.max(1L, docsPerRange)
        segs.zipWithIndex.foreach { case (s, o) => require(
          (s.index.stats.nDocs + rangeSize - 1) / rangeSize <= Int.MaxValue,
          s"docsPerRange=$docsPerRange yields too many ranges for segment $o") }
        def rangeOf(c: Column): Column =
          ((c - pmod(c, lit(rangeSize))) / lit(rangeSize)).cast("int")
        val qtDf = liveParsed.flatMap { case (q, ts) => ts.map(t => (q, t)) }
          .toDF("query_id", "term")
        val blocks = segs.indices.filter(segTerms(_).nonEmpty).map { o =>
          val fdf = segTerms(o).map { case (t, (_, up, _)) => (t, dfLive(t), up) }.toSeq
            .toDF("term", "df", "_cup")
          segs(o).index.postings
            .where(col("shard").isin(dicts(o).shardsOf(segTerms(o).keys.toSeq): _*))
            .join(broadcast(qtDf), Seq("term"))
            .join(broadcast(fdf), Seq("term"))
            // precise block→range routing (decode ids map-side only for the
            // rare boundary-spanning block), same as the unified WAND
            .withColumn("range_id", explode(
              when(rangeOf(col("first_doc")) === rangeOf(col("last_doc")),
                array(rangeOf(col("first_doc"))))
              .otherwise(array_distinct(transform(
                codec.varintDeltaDecode(col("doc_gaps")), d => rangeOf(d))))))
            .select(col("query_id"), lit(o).as("seg_ord"), col("range_id"),
              col("term"), col("df"), col("first_doc"), col("last_doc"),
              col("doc_gaps"), col("tfs"), col("dls"),
              (col("block_max_score") * col("_cup")).as("block_max_score"))
        }.reduce(_ unionByName _).as[SegQBlock]
        // a segment's k + t_s best across its ranges bound what the
        // rank-merge can use (the tombstone guard above), so at most
        // |queries| × segments × (k + t_s) candidates reach the driver
        val best = Window.partitionBy("query_id", "seg_ord")
          .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
        blocks.groupByKey(r => (r.query_id, r.seg_ord, r.range_id))
          .flatMapGroups { (key: (Int, Int, Int), rows: Iterator[SegQBlock]) =>
            val (qid, o, rid) = key
            val lo = rid.toLong * rangeSize
            BlockMaxWand.topKRange(BlockMaxWand.termPostings(rows).values.toSeq, heap(o),
              nL, avgL, lo, lo + rangeSize, seeds.getOrElse(qid, Double.NegativeInfinity))
              .iterator.map { case (doc, s) => (qid, o, doc, s) }
          }.toDF("query_id", "seg_ord", "doc_id", "_score")
          .withColumn("_r", row_number().over(best))
          .where(col("_r") <= element_at(typedLit(heap), col("seg_ord") + 1))
          .select("query_id", "seg_ord", "doc_id", "_score")
          .as[(Int, Int, Long, Double)].collect().toSeq
      }
    rankCandidates(spark, segs, tombs, candidates, k)
  }

  /** The tail of [[searchWand]]: resolve candidates (query, segment
    * ordinal, segment-local doc, raw score) to keys with ONE job over the
    * candidate segments' `docs/` keys, drop instances a tombstone kills,
    * and rank on the driver in [[rankKeys]]' pinned order into a local
    * frame (its `collect` runs no job). */
  private def rankCandidates(spark: SparkSession,
                             segs: IndexedSeq[SegmentSnapshots.Segment],
                             tombs: IndexedSeq[SegmentSnapshots.Tomb],
                             candidates: Seq[(Int, Int, Long, Double)],
                             k: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val keyOf: Map[(Int, Long), (String, Int)] =
      if (candidates.isEmpty) Map.empty
      else candidates.groupMap(_._2)(_._3).map { case (o, ids) =>
        segs(o).docs.where(col("doc_id").isin(ids.distinct: _*))
          .select(lit(o).as("seg_ord"), col("doc_id"), col("conv_id"), col("turn_idx"))
      }.reduce(_ unionByName _).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> (r.getString(2), r.getInt(3))).toMap
    candidates.flatMap { case (q, o, doc, s) =>
      val key = keyOf((o, doc))
      if (tombs.exists(_.killed.get(key).exists(_ > o))) None else Some((q, key, s))
    }.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, hits) =>
      // Spark orders strings by their UTF-8 bytes
      hits.sortBy { case (_, (c, t), s) =>
        (-BlockMaxWand.round(s, Bm25.RankScale), UTF8String.fromString(c), t)
      }.take(k).zipWithIndex.map { case ((_, (c, t), s), i) =>
        (q, i + 1, c, t, BlockMaxWand.round(s, Bm25.OutScale))
      }
    }.toDF("query_id", "rank", "conv_id", "turn_idx", "score")
  }

  /** Solr `hl` highlighting over the SEGMENTED index — [[search]]'s
    * keys-shaped top-k, each hit carrying up to `fragments` snippets of
    * ±`window` analyzed tokens around query-term matches (the same greedy
    * fragment selection as the unified
    * [[graft.search.IndexSearch.searchHighlight]]). Requires positional
    * segments (the streaming ingest config). Per segment, match
    * positions decode ONLY from blocks whose doc range holds a hit's
    * segment-local id, and snippet text comes from a `doc_id IN` point
    * lookup on that segment's docs/ — never a corpus scan. Tombstones are
    * respected by construction: hits map to their single LIVE instance
    * per key. Driver boundaries: ≤ |queries|·k hit keys, and per segment
    * ≤ that many local ids. Output: (query_id, rank, conv_id, turn_idx,
    * score, snippet). */
  def searchHighlight(spark: SparkSession, root: String,
                      queries: Seq[(Int, String)], k: Int = 10,
                      window: Int = 5, fragments: Int = 1,
                      cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    import spark.implicits._
    def empty = keysEmpty(spark).withColumn("snippet", lit(""))
    val m = readManifest(spark, root).getOrElse(return empty)
    if (m.segments.isEmpty || m.nDocs == 0) return empty
    require(m.segments.forall(seg => Fs.exists(spark,
        BuildIndexJob.IndexPaths(segPath(root, seg)).positionalMarker)),
      "segmented searchHighlight requires every segment built with " +
        "Config(storePositions = true)")
    val hits = search(spark, root, queries, k, cfg)
    if (hits.isEmpty) return hits.withColumn("snippet", lit(""))
    val hitKeys = hits.select("conv_id", "turn_idx").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val keysDf = broadcast(hitKeys.toDF("conv_id", "turn_idx"))
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val qTerms = termsOf(queries)
    val tombs = readTombstones(spark, root, m)
    val segs = SegmentSnapshots.of(spark, root, m, cfg.io)._1
    val perSeg = segs.zipWithIndex.flatMap { case (seg, ord) =>
      val shards = seg.index.resident.shardsOf(qTerms)
      if (shards.isEmpty) None
      else {
        val live = liveFilter(seg.docs.withColumn("seg_ord", lit(ord)), tombs)
        // driver boundary: ≤ |hit keys| live local ids in this segment
        val ids = live.join(keysDf, Key, "left_semi")
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        if (ids.isEmpty) None
        else {
          val idArr = array(ids.map(lit(_)): _*)
          val blocks = seg.index.postings
            .where(col("shard").isin(shards: _*) &&
              col("term").isInCollection(qTerms) &&
              exists(idArr, id => id >= col("first_doc") && id <= col("last_doc")))
          val keyed = live.select("doc_id", "conv_id", "turn_idx")
          val pos = PostingBlocks.decodePostingsWithPositions(blocks)
            .where(col("doc_id").isin(ids: _*))
            .join(keyed, "doc_id")
            .select(col("term"), col("conv_id"), col("turn_idx"), col("positions"))
          val texts = cfg.io.read(spark, s"${segPath(root, m.segments(ord))}/docs")
            .where(col("doc_id").isin(ids: _*))
            .select(col("conv_id"), col("turn_idx"), col("text"))
          Some((pos, texts))
        }
      }
    }
    if (perSeg.isEmpty) return hits.withColumn("snippet", lit(""))
    val matchPos = perSeg.map(_._1).reduce(_ unionByName _)
      .join(broadcast(qt), Seq("term"))
      .groupBy("query_id", "conv_id", "turn_idx")
      .agg(sort_array(array_distinct(flatten(collect_list(col("positions")))))
        .as("_ps"))
    val texts = perSeg.map(_._2).reduce(_ unionByName _)
    val toks = graft.analysis.Analyzer.tokens(col("text"))
    IndexSearch.localize(spark, hits
      .join(matchPos, Seq("query_id", "conv_id", "turn_idx"))
      .join(texts, Seq("conv_id", "turn_idx"))
      .select(col("query_id"), col("rank"), col("conv_id"), col("turn_idx"),
        col("score"),
        graft.search.IndexSearch.snippetCol(toks,
          graft.search.IndexSearch.fragmentPicks(col("_ps"), window, fragments),
          window).as("snippet"))
      .orderBy("query_id", "rank"))
  }

  /** All live turns with their stored fields — the compaction input. */
  def liveTurns(spark: SparkSession, root: String,
                cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    val m = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    val tombs = readTombstones(spark, root, m)
    val segs = m.segments.zipWithIndex.map { case (seg, ord) =>
      cfg.io.read(spark, s"${segPath(root, seg)}/docs")
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts"))
        .withColumn("seg_ord", lit(ord))
    }
    segs.reduceOption(_ unionByName _)
      .map(all => liveFilter(all, tombs).drop("seg_ord"))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(String, Int, String, String, String, java.sql.Timestamp)]
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      }
  }

  /** Compaction: global re-id happens HERE, not per batch — rebuild the
    * live corpus into a unified [[BuildIndexJob]] index (queryable by
    * [[graft.search.IndexSearch]], ≡ a from-scratch rebuild). */
  def compact(spark: SparkSession, root: String, outRoot: String,
              buildId: String,
              cfg: BuildIndexJob.Config = BuildIndexJob.Config()): BuildIndexJob.IndexPaths =
    readManifest(spark, root).filter(_.segments.nonEmpty) match {
      case None =>
        BuildIndexJob.run(spark, liveTurns(spark, root, cfg), outRoot, buildId, cfg)
      case Some(m) =>
        // rebuild from the segments' own analyzed artifacts — global
        // re-id without re-running the analyzer over the whole corpus
        // ([[IndexMerge.rebuildFromParts]]; compaction is the one
        // O(corpus) maintenance op, and analysis was its biggest term)
        Phase(spark, "compact") {
          IndexMerge.rebuildFromParts(spark, compactParts(spark, root, m, cfg),
            outRoot, buildId, cfg, keymeta = false)
          BuildIndexJob.IndexPaths(outRoot)
        }
    }

  /** One (live docs, tfdl) part per segment of `m` — the rebuild inputs
    * shared by [[compact]] and [[compactInPlace]]. */
  private def compactParts(spark: SparkSession, root: String, m: Manifest,
                           cfg: BuildIndexJob.Config): Seq[(DataFrame, DataFrame)] = {
    val tombs = readTombstones(spark, root, m)
    m.segments.zipWithIndex.map { case (seg, ord) =>
      val sp = segPath(root, seg)
      val docsLive = liveFilter(
        cfg.io.read(spark, s"$sp/docs").withColumn("seg_ord", lit(ord)),
        tombs).drop("seg_ord")
      (docsLive, cfg.io.read(spark, s"$sp/tfdl"))
    }
  }

  /** In-place compaction: fold all live rows into ONE fresh segment and
    * republish the manifest referencing only it — bounds the per-query
    * segment fan-out for a long-running ingest stream. Crash-safe like
    * append (the manifest publish is the commit point; a crash before it
    * leaves an unreferenced dir). Answers are unchanged: the one segment
    * IS the live corpus, tombstones empty.
    *
    * Obsolete segment/tombstone dirs are RETAINED (a concurrent reader
    * that opened the previous manifest is still lazily scanning them —
    * deleting under it would fail mid-query; this is Iceberg's
    * snapshot-retention behavior). Reclaim space with [[vacuum]] once no
    * reader can still hold a pre-compaction manifest. */
  def compactInPlace(spark: SparkSession, root: String,
                     cfg: BuildIndexJob.Config = BuildIndexJob.Config()): Manifest = {
    requireHead(root, "compactInPlace")
    val old = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    if (old.segments.isEmpty || (old.segments.size <= 1 && old.tombs.isEmpty))
      return old
    val segName = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    // parts read through the OLD manifest (segments immutable), and the
    // rebuild reuses their tokenization — see [[compact]]
    val (st, _) = Phase(spark, "compact")(IndexMerge.rebuildFromParts(spark,
      compactParts(spark, root, old, cfg), segPath(root, segName), segName, cfg,
      keymeta = true))
    val m = Manifest(Seq(segName), Seq.empty, st.nDocs, st.totalTokens)
    writeManifest(spark, root, m)
    m
  }

  /** Delete every segment/tombstone dir the CURRENT manifest does not
    * reference (post-compaction garbage, crashed-append leftovers), and
    * EXPIRE every snapshot older than the head (their manifests may
    * reference the dirs being deleted — a retained snapshot must stay
    * readable, so expiry and dir cleanup are one atomic policy). NOT
    * safe while a reader may still hold an older manifest/snapshot — the
    * caller owns that grace period, exactly like Iceberg's
    * expire-snapshots. */
  def vacuum(spark: SparkSession, root: String): Unit = {
    requireHead(root, "vacuum")
    val m = readManifest(spark, root).getOrElse(return)
    def clean(base: String, keep: Set[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath).filterNot(c => keep(c.getName))
          .foreach(c => fs.delete(c, true))
    }
    clean(s"$root/segments", m.segments.toSet)
    clean(s"$root/tombstones", m.tombs.toSet)
    clean(s"$root/dfdeltas", m.tombs.toSet)
    val latest = snapshotVersions(spark, root).lastOption
    clean(s"$root/snapshots", latest.map(v => s"v$v").toSet)
  }

  /** One Lucene-style tiered-merge decision: segments at manifest
    * ordinals [from, to] (adjacent, inclusive) folded into `into`. */
  final case class MergeDecision(from: Int, to: Int, into: String,
                                 mergedDocs: Long)

  /** Merge the ADJACENT segment run at manifest ordinals [a, b] into one
    * fresh segment, preserving every query answer (SegmentSpec pins
    * ≡ rebuild under upserts + tombstones). Adjacency is load-bearing:
    * tombstones address segments by ORDINAL (`upto` kills instances in
    * ordinals < upto), and splicing one segment into an adjacent run's
    * place admits an exact ordinal remap — Lucene's merges preserve
    * segment order for the same reason its deletes are per-segment.
    *
    * What happens to deletes: rows of [a, b] killed by the CURRENT
    * tombstone set are dropped PHYSICALLY (the merged segment holds only
    * live instances of the range — so its build-time df/stats are exact
    * for its rows). The surviving tombstone set is then rewritten once,
    * remapped to the new ordinal space:
    *
    *   u ≤ a      → u            (kills only head segments — unchanged)
    *   a < u ≤ b+1 → a           (its in-range kills became physical; it
    *                              must still kill every head ordinal < a,
    *                              and must NOT kill the merged segment —
    *                              survivors came from ordinals ≥ u)
    *   u > b+1    → u − (b − a)  (tail ordinals shift left by the run
    *                              width; all of [a,b] was < u, so those
    *                              kills were physical and the merged
    *                              segment holds no such key)
    *
    * Multiple tombstones for one key collapse to max(upto) (kill iff ANY
    * upto > ord ⟺ max(upto) > ord), and rows that no longer kill any
    * PHYSICAL instance are pruned — both via one bucket-pruned metadata
    * pass ([[segDocsMetaFor]], O(tombstone keys) read, not O(corpus)).
    * The same pass recomputes the consolidated per-term df-delta sidecar
    * (kill counts of instances still physically present) so the
    * segmented WAND path's metadata-derived live df stays exact.
    * Collection stats are untouched: a merge drops only already-dead
    * rows. Obsolete dirs are retained for snapshot readers ([[vacuum]]
    * reclaims). */
  def mergeAdjacent(spark: SparkSession, root: String, a: Int, b: Int,
                    cfg: BuildIndexJob.Config = BuildIndexJob.Config()): Manifest =
    Phase(spark, "merge")(mergeRun(spark, root, a, b, cfg))

  private def mergeRun(spark: SparkSession, root: String, a: Int, b: Int,
                       cfg: BuildIndexJob.Config): Manifest = {
    requireHead(root, "mergeAdjacent")
    val m = readManifest(spark, root).getOrElse(
      sys.error(s"mergeAdjacent on an empty table: $root"))
    require(a >= 0 && a < b && b < m.segments.size,
      s"bad merge range [$a,$b] over ${m.segments.size} segments")
    val tombs = readTombstones(spark, root, m)
    // one (live docs, tfdl) part per merged segment: the rebuild reuses
    // every part's tokenization via the id remap
    // ([[IndexMerge.rebuildFromParts]]) — a segment merge never re-runs
    // the analyzer over text it already analyzed (Lucene's merge
    // property; at scale analysis touches every byte of text)
    val parts = m.segments.slice(a, b + 1).zipWithIndex.map { case (seg, i) =>
      val sp0 = segPath(root, seg)
      val docsLive = liveFilter(
        cfg.io.read(spark, s"$sp0/docs").withColumn("seg_ord", lit(a + i)),
        tombs).drop("seg_ord")
      (docsLive, cfg.io.read(spark, s"$sp0/tfdl"))
    }
    val segName = s"tier-${java.util.UUID.randomUUID().toString.take(8)}"
    val sp = segPath(root, segName)
    val hasRows =
      IndexMerge.rebuildFromParts(spark, parts, sp, segName, cfg, keymeta = true)._2 > 0
    if (!hasRows) Fs.delete(spark, sp) // an all-dead run: nothing to splice
    val newSegs = m.segments.take(a) ++
      (if (hasRows) Seq(segName) else Seq.empty) ++ m.segments.drop(b + 1)
    // ordinal remap; an all-dead merged range (hasRows=false) removes the
    // run entirely, which is the width-(b-a+1) shift with no spliced slot
    val width = if (hasRows) b - a else b - a + 1
    val remapped = tombs
      .select(col("conv_id"), col("turn_idx"),
        when(col("upto") <= a, col("upto"))
          .when(col("upto") <= b + 1, lit(a))
          .otherwise(col("upto") - width).as("upto"))
      .where(col("upto") > 0)
      .groupBy("conv_id", "turn_idx").agg(max("upto").as("upto"))
    val interim = Manifest(newSegs, Seq.empty, m.nDocs, m.totalTokens)
    val tombKeys = remapped.select(Key.map(col): _*)
    val newTombs = Phase(spark, "merge.remap")(segDocsMetaFor(spark, root, interim, tombKeys) match {
      case None => Seq.empty[String]
      case Some(meta) =>
        // instances STILL PHYSICALLY PRESENT that the remapped set kills
        val killed = meta.join(remapped,
            meta("conv_id") === remapped("conv_id") &&
              meta("turn_idx") === remapped("turn_idx") &&
              remapped("upto") > meta("seg_ord"))
          .select(meta("conv_id"), meta("turn_idx"), meta("terms"),
            remapped("upto"))
          .cache()
        try {
          if (killed.isEmpty) Seq.empty[String]
          else {
            killed.select(col("conv_id"), col("turn_idx"), col("upto"))
              .distinct()
              .write.mode("overwrite").parquet(tombPath(root, segName))
            // one row per dead physical INSTANCE (a twice-upserted key has
            // two dead instances in two segments — each loses its terms
            // one doc of df, exactly as the per-append deltas summed)
            killed.select(explode(col("terms")).as("term"))
              .groupBy("term").agg(count(lit(1)).as("killed"))
              .write.mode("overwrite").parquet(dfDeltaPath(root, segName))
            Seq(segName)
          }
        } finally killed.unpersist()
    })
    val out = interim.copy(tombs = newTombs)
    writeManifest(spark, root, out)
    out
  }

  /** Lucene TieredMergePolicy analog for the long-running ingest stream:
    * repeatedly find the lowest (then leftmost) ADJACENT run of ≥
    * `segsPerTier` segments sharing a size tier (tier =
    * ⌊log_tierFactor(docs)⌋ over the segment's BUILD doc count — a stable
    * artifact read, no live scan) and fold its first `maxMergeAtOnce`
    * members with [[mergeAdjacent]], until no run qualifies. Unlike
    * [[compactInPlace]] this never rewrites the whole table: big settled
    * segments are left alone and only same-sized neighbors pay merge IO —
    * the amortized O(n log n) total-write bound that makes a 10^12-turn
    * append stream sustainable where periodic full compaction is O(n) per
    * trigger. Returns the final manifest plus the decision trace
    * (deterministic given the manifest and sizes — tests pin it). */
  def tieredCompact(spark: SparkSession, root: String,
                    segsPerTier: Int = 4, maxMergeAtOnce: Int = 4,
                    tierFactor: Double = 4.0,
                    cfg: BuildIndexJob.Config = BuildIndexJob.Config())
      : (Manifest, Seq[MergeDecision]) = {
    requireHead(root, "tieredCompact")
    require(segsPerTier >= 2 && maxMergeAtOnce >= 2 && tierFactor > 1.0,
      s"bad policy (segsPerTier=$segsPerTier, maxMergeAtOnce=$maxMergeAtOnce, " +
        s"tierFactor=$tierFactor)")
    val decisions = scala.collection.mutable.ArrayBuffer.empty[MergeDecision]
    var m = readManifest(spark, root).getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    // build-time doc counts are immutable per segment: fetch all missing
    // ones in ONE fused job per round and memoize across rounds (the
    // prior shape re-read every segment's stats head() sequentially every
    // round — O(segments × rounds) driver round trips)
    val sizeCache = scala.collection.mutable.HashMap.empty[String, Long]
    def sizesOf(segs: Seq[String]): Seq[Long] = {
      val missing = segs.filterNot(sizeCache.contains).distinct
      if (missing.nonEmpty) Phase(spark, "merge.sizes") {
        missing.map(seg =>
            cfg.io.read(spark,
                BuildIndexJob.IndexPaths(segPath(root, seg)).stats)
              .select(lit(seg).as("_seg"), col("n_docs")))
          .reduce(_ unionByName _).collect()
          .foreach(r => sizeCache(r.getString(0)) = r.getLong(1))
      }
      segs.map(sizeCache)
    }
    var done = false
    while (!done) {
      val sizes = sizesOf(m.segments)
      val tiers = sizes.map(d =>
        math.floor(math.log(math.max(1L, d).toDouble) / math.log(tierFactor)).toInt)
      // maximal adjacent same-tier runs of qualifying length
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)] // (tier, from, to)
      var i = 0
      while (i < tiers.size) {
        var j = i
        while (j + 1 < tiers.size && tiers(j + 1) == tiers(i)) j += 1
        if (j - i + 1 >= segsPerTier) runs += ((tiers(i), i, j))
        i = j + 1
      }
      runs.sortBy(r => (r._1, r._2)).headOption match {
        case None => done = true
        case Some((_, from, to)) =>
          val end = math.min(to, from + maxMergeAtOnce - 1)
          val before = m.segments.size
          m = mergeAdjacent(spark, root, from, end, cfg)
          // a spliced merged slot shrinks the list by (end-from); an
          // all-dead run (nothing survived) shrinks it by one more
          val spliced = m.segments.size == before - (end - from)
          decisions += MergeDecision(from, end,
            if (spliced) m.segments(from) else "<all-dead>",
            sizes.slice(from, end + 1).sum)
      }
    }
    (m, decisions.toSeq)
  }
}
