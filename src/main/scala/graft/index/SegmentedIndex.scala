package graft.index

import graft.Phase
import graft.search.{BlockMaxWand, Bm25, IndexSearch}
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
  * (batch stats added, killed-instance stats subtracted). df comes from
  * metadata ([[liveDf]]): Σ segment dictionary df minus the `dfdeltas/`
  * kills, held on the driver by [[SegmentSnapshots]], so a read decodes
  * only the postings it scores, once. Answers match the rebuild
  * bit-for-bit (SegmentSpec / q_streaming_topk gates). Results identify
  * docs by their stable key (conv_id, turn_idx): segment-local ids are
  * internal, exactly like Lucene's per-segment ids; the tie-break
  * (conv_id, turn_idx ascending) equals the unified index's doc_id
  * ascending because global ids are assigned in key order.
  *
  * One engine, two storage views: [[open]] is this root's
  * [[IndexSearch.View]], and the scored, filtered, block-join, synonym,
  * facet, phrase, highlight and boolean-clause request shapes of
  * [[IndexSearch]] and [[graft.search.Synonyms]] serve it as they serve a
  * bulk root, one leaf per segment — Lucene runs every query per leaf
  * behind one reader interface the same way. What stays here: the
  * writers, [[searchWand]] (driver-side traversal over segment-local
  * ids) and [[getDocs]] (the text-free realtime-get projection).
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
    * from dictionary df minus the df-deltas this append writes, and
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
    val keys = IndexSearch.matchedDocSet(open(spark, root, cfg), Seq((0, query)))
      .drop("query_id")
    append(spark, root, emptyBatch, keys, segName, cfg)
  }

  /** The live segmented root as an [[IndexSearch.View]]: every request
    * shape written against a view ([[IndexSearch.search]],
    * [[IndexSearch.searchFiltered]], the facet family,
    * [[IndexSearch.searchPhrase]], [[IndexSearch.searchHighlight]],
    * [[IndexSearch.searchClauses]], …) serves it, with results keyed by
    * (conv_id, turn_idx). A snapshot of the manifest at open time, valid
    * until [[vacuum]] removes a directory it lists.
    *
    *  - df is the exact live df of [[liveDf]] (metadata only), N/avgdl
    *    come from the manifest;
    *  - `leaves` holds one leaf per segment: its snapshot's open index
    *    and the segment's (doc_id, conv_id, turn_idx) rows that no
    *    tombstone kills;
    *  - `matched` decodes, per segment, only the shards its resident
    *    dictionary ([[SegmentSnapshots]]) maps the query terms to, and
    *    keeps the postings of tombstone-live instances through one join
    *    with the leaves' live maps. The plan holds
    *    one postings scan per segment: fine because compaction bounds
    *    the segment count (a long-running ingest calls compactInPlace or
    *    tieredCompact, so this is O(compactEvery), never O(all appends
    *    ever));
    *  - `attrs` is the live instances' stored attributes (keys +
    *    role/tool/ts + dl) across segments; Catalyst prunes each
    *    segment's `docs/` scan to the columns a caller references.
    *
    * An absent root, a root without segments and a root whose every doc
    * is tombstoned give a view of typed empty frames. */
  def open(spark: SparkSession, root: String,
           cfg: BuildIndexJob.Config = BuildIndexJob.Config()): IndexSearch.View = {
    val m = readManifest(spark, root).filter(_.nDocs > 0)
      .getOrElse(Manifest(Seq.empty, Seq.empty, 0L, 0L))
    val (segs, tombs) = SegmentSnapshots.of(spark, root, m, cfg.io)
    new LiveView(spark, m, segs, tombs, readTombstones(spark, root, m))
  }

  private final class LiveView(val spark: SparkSession, m: Manifest,
                               segs: IndexedSeq[SegmentSnapshots.Segment],
                               tombs: IndexedSeq[SegmentSnapshots.Tomb],
                               tombRows: DataFrame) extends IndexSearch.View {
    def key: Seq[String] = Key
    def nDocs: Long = m.nDocs
    def avgdl: Double = m.avgdl
    def df(terms: Seq[String]): Map[String, Long] = liveDf(segs, tombs, terms)._2

    /** One leaf per segment; its live map keeps the instances no
      * tombstone kills. */
    lazy val leaves: Seq[IndexSearch.Leaf] = segs.indices.map(o =>
      IndexSearch.Leaf(segs(o).index,
        Some(liveFilter(segs(o).docs.withColumn("seg_ord", lit(o)), tombRows).drop("seg_ord"))))

    private def empty(ddl: String): DataFrame = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

    def matched(qt: Seq[(Int, String)]): DataFrame = {
      import spark.implicits._
      val dfs = df(qt.map(_._2).distinct)
      val qd = broadcast(qt.distinct.collect { case (q, t) if dfs.contains(t) => (q, t, dfs(t)) }
        .toDF("query_id", "term", "df"))
      leaves.zipWithIndex.flatMap { case (l, o) =>
        val shards = l.index.resident.shardsOf(dfs.keys.toSeq)
        if (shards.isEmpty) None
        else Some(PostingBlocks.decodePostings(l.index.postings
          .where(col("shard").isin(shards: _*)).join(qd, Seq("term"))
          .withColumn("_leaf", lit(o))))
      }.reduceOption(_ unionByName _)
        .map(IndexSearch.keyed(this, _).select(col("query_id"), col("term"), col("df"),
          col("conv_id"), col("turn_idx"), col("tf"), col("dl")))
        .getOrElse(empty(
          "query_id INT, term STRING, df BIGINT, conv_id STRING, turn_idx INT, tf INT, dl INT"))
    }

    lazy val attrs: DataFrame = segs.indices
      .map(o => segs(o).index.stored.drop("text", "doc_id").withColumn("seg_ord", lit(o)))
      .reduceOption(_ unionByName _).map(liveFilter(_, tombRows).drop("seg_ord"))
      .getOrElse(empty(
        "conv_id STRING, turn_idx INT, role STRING, tool STRING, ts TIMESTAMP, dl INT"))
  }

  /** Exact LIVE df of `terms` from metadata alone: Σ over segments of the
    * segment dictionary's build-time df, minus the per-append kill deltas
    * (`dfdeltas/<tomb>` — written beside every committed tombstone dir by
    * [[append]] and [[mergeAdjacent]] from the killed instances' keymeta
    * term lists). A term no live doc holds is absent. Also returns each
    * segment's dictionary row of every term it holds. The one place live
    * df is derived: [[searchWand]] and every view of [[open]] score from
    * it, and SegmentSpec pins it to the count of live decoded postings. */
  private[graft] def liveDf(segs: IndexedSeq[SegmentSnapshots.Segment],
                            tombs: IndexedSeq[SegmentSnapshots.Tomb],
                            terms: Seq[String])
      : (IndexedSeq[Map[String, Int]], Map[String, Long]) = {
    val dicts = segs.map(_.index.resident)
    val rows: IndexedSeq[Map[String, Int]] = dicts.map(d =>
      terms.map(t => t -> d.row(t)).filter(_._2 >= 0).toMap)
    val dfLive: Map[String, Long] = terms.flatMap { t =>
      val total = segs.indices.map(o => rows(o).get(t).fold(0L)(dicts(o).df)).sum -
        tombs.map(_.dfDeltas.getOrElse(t, 0L)).sum
      if (total > 0) Some(t -> total) else None
    }.toMap
    (rows, dfLive)
  }

  private def keysEmpty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, String, Int, Double)]
      .toDF("query_id", "rank", "conv_id", "turn_idx", "score")
  }

  /** Solr RealTimeGet over the SEGMENTED (streaming-serving) index — the
    * "realtime" in the name is exactly this path: a just-appended,
    * not-yet-compacted doc is visible, an upserted key answers from its
    * LATEST segment, and a tombstoned key is absent (the live `attrs` of
    * [[open]]). Text is not carried in segment doc attrs, so the stored
    * projection is (conv_id, turn_idx, role, tool, dl). Missing keys are
    * omitted; output ordered by key. */
  def getDocs(spark: SparkSession, root: String, keys: Seq[(String, Int)],
              cfg: BuildIndexJob.Config = BuildIndexJob.Config()): DataFrame = {
    require(keys.nonEmpty, "realtime get needs at least one key")
    val pred = keys.map { case (c, t) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    open(spark, root, cfg).attrs
      .where(pred)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("dl").cast("long").as("dl"))
      .orderBy("conv_id", "turn_idx")
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
    * Output keys-shaped and EXACT — identical to [[IndexSearch.search]]
    * over [[open]] (SegmentSpec pins the equivalence under upserts +
    * tombstones).
    *
    * The three inputs WAND needs, each derived WITHOUT decoding postings:
    *
    *  1. EXACT LIVE df per term (BM25's idf input): [[liveDf]]. Metadata
    *     only.
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
    val (rows, dfLive) = liveDf(segs, tombs, allTerms)
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
    * and rank on the driver in [[graft.search.Search.rank]]'s pinned
    * order into a local frame (its `collect` runs no job). */
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
