package graft.search

import graft.index.VarintCodec

/** Block-Max WAND top-k traversal (WAND: Broder et al. CIKM 2003;
  * block-max refinement: Ding & Suel SIGIR 2011 — public algorithms;
  * SURVEY.md §2.9 E4).
  *
  * Pure Scala core over the engine's encoded block format; the Spark
  * integration ([[IndexSearch.searchWand]]) feeds it per (query,
  * doc-range) group via `groupByKey.flatMapGroups` — Dataset API, no
  * RDDs — or, for a request within one range's working set, on the
  * driver from one collected block set. The traversal is sequential
  * within a group; cluster parallelism is across queries AND across doc
  * ranges within a query (so a hot single-term query does not funnel its
  * whole posting list through one task), while within a group whole
  * blocks are skipped without decoding via (first_doc, last_doc,
  * block_max_score) metadata.
  *
  * Equivalence contract: output equals the exhaustive path's top-k under
  * the pinned ranking (round(score,7) DESC, doc_id ASC). Three guards make
  * that exact rather than approximate:
  *  - θ-pruning uses margin [[Eps]] (1e-6), which dominates FP sum-order
  *    noise (~1e-13) and the 7-decimal rounding granularity (5e-8);
  *  - pool admission/eviction compares ROUNDED scores with the doc-id
  *    tie-break, exactly like the final ranking;
  *  - before the block-max bound is evaluated, every cursor's block is
  *    shallow-aligned to the pivot (a block ending before the pivot cannot
  *    contain it — using its max would underestimate the bound and could
  *    skip a true top-k doc).
  */
object BlockMaxWand {

  final val Eps = 1e-6

  /** One encoded block of a term's posting list. */
  final case class BlockRef(firstDoc: Long, lastDoc: Long, maxScore: Double,
                            docGaps: Array[Byte], tfs: Array[Byte],
                            dls: Array[Byte])

  /** A query term's posting list: blocks MUST be doc-ascending with
    * non-overlapping ranges — guaranteed by the build. */
  final case class TermPostings(df: Long, blocks: Array[BlockRef])

  /** One encoded block as a traversal group's rows carry it (the persisted
    * block columns plus the term's df). */
  trait EncodedBlock {
    def term: String
    def df: Long
    def first_doc: Long
    def last_doc: Long
    def doc_gaps: Array[Byte]
    def tfs: Array[Byte]
    def dls: Array[Byte]
    def block_max_score: Double
  }

  /** A group's blocks assembled into one doc-ascending posting list per
    * term — the input every traversal call site hands to `topKRange`. */
  def termPostings(rows: Iterator[EncodedBlock]): Map[String, TermPostings] =
    rows.toVector.groupBy(_.term).map { case (term, trs) =>
      val sorted = trs.sortBy(_.first_doc)
      term -> TermPostings(sorted.head.df, sorted.map(r => BlockRef(r.first_doc,
        r.last_doc, r.block_max_score, r.doc_gaps, r.tfs, r.dls)).toArray)
    }

  /** The per-range traversal signature shared by [[topKRange]] and
    * [[MaxScore.topKRange]]: (terms, k, nDocs, avgdl, lo, hi, seed). */
  type RangeTopK = (Seq[TermPostings], Int, Long, Double, Long, Long, Double) => Seq[(Long, Double)]

  final val ExhaustedDoc = Long.MaxValue

  /** Cursor over one term's blocks, restricted to docs in [lo, hi) — the
    * doc-range-parallel WAND unit. With (0, Long.MaxValue) it is the plain
    * unbounded cursor. Out-of-range postings are invisible: curDoc clamps
    * to ExhaustedDoc the moment it reaches hi. Block metadata (upperBound,
    * blockMax) may still cover out-of-range postings — a pure
    * OVER-estimate, which can only inhibit a skip, never cause one, so
    * range-restricted results stay exact. */
  private[search] final class Cursor(t: TermPostings, nDocs: Long, avgdl: Double,
                                     lo: Long, hi: Long) {
    private val df: Long = t.df
    private val blocks: Array[BlockRef] = t.blocks
    val upperBound: Double = {
      var m = 0.0; var i = 0
      while (i < blocks.length) { if (blocks(i).maxScore > m) m = blocks(i).maxScore; i += 1 }
      m
    }
    private var bi = 0
    private var pos = 0
    private var ids: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    private var decodedBi = -1
    var curDoc: Long = if (blocks.isEmpty) ExhaustedDoc else blocks(0).firstDoc
    private def clamp(): Unit = if (curDoc >= hi) curDoc = ExhaustedDoc
    clamp()
    if (curDoc != ExhaustedDoc && curDoc < lo) seek(lo)

    /** Decode the current block lazily (the whole point of block-max). */
    private def ensureDecoded(): Unit = if (decodedBi != bi) {
      val b = blocks(bi)
      ids = VarintCodec.decodeDelta(b.docGaps).toLongArray()
      tfs = VarintCodec.decode(b.tfs).toLongArray()
      dls = VarintCodec.decode(b.dls).toLongArray()
      decodedBi = bi
    }

    def exhausted: Boolean = curDoc == ExhaustedDoc
    def blockMax: Double = blocks(bi).maxScore
    /** Last doc of the current block — BMW's shallow-advance boundary. */
    def blockBoundary: Long = if (exhausted) ExhaustedDoc else blocks(bi).lastDoc

    /** Skip whole blocks (no decode) until the current block could contain
      * `target` (lastDoc ≥ target). curDoc may only move forward, onto a
      * skipped-to block's firstDoc. Returns true if curDoc changed. */
    def shallowAlign(target: Long): Boolean = {
      if (exhausted || blocks(bi).lastDoc >= target) return false
      while (bi < blocks.length && blocks(bi).lastDoc < target) bi += 1
      pos = 0
      val before = curDoc
      curDoc = if (bi >= blocks.length) ExhaustedDoc else blocks(bi).firstDoc
      clamp()
      curDoc != before
    }

    def score(): Double = {
      ensureDecoded()
      Bm25.score(tfs(pos).toInt, dls(pos).toInt, df, nDocs, avgdl)
    }

    def next(): Unit = {
      if (exhausted) return
      ensureDecoded()
      if (pos + 1 < ids.length) { pos += 1; curDoc = ids(pos) }
      else {
        bi += 1; pos = 0; curDoc = if (bi < blocks.length) blocks(bi).firstDoc else ExhaustedDoc
      }
      clamp()
    }

    /** Advance to the first posting with doc ≥ target. Skips blocks via
      * metadata; decodes only when the target falls inside a block. */
    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      shallowAlign(target)
      if (exhausted || curDoc >= target) return
      // target ∈ (firstDoc, lastDoc] of the current block — decode + scan
      ensureDecoded()
      while (pos < ids.length && ids(pos) < target) pos += 1
      if (pos < ids.length) curDoc = ids(pos)
      else { // only possible if pos drifted past; fall to next block head
        bi += 1; pos = 0; curDoc = if (bi < blocks.length) blocks(bi).firstDoc else ExhaustedDoc
      }
      clamp()
    }
  }

  /** round-half-up to `scale` decimals — matches Spark's round(). */
  def round(v: Double, scale: Int): Double =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Top-k docs for one query. Returns (doc_id, rawScore) ordered by the
    * pinned ranking (round(score,7) DESC, doc_id ASC). */
  def topK(terms: Seq[TermPostings], k: Int, nDocs: Long,
           avgdl: Double): Seq[(Long, Double)] =
    topKRange(terms, k, nDocs, avgdl, 0L, Long.MaxValue)

  /** Top-k restricted to docs in [lo, hi) — the per-range unit of the
    * doc-range-parallel search ([[IndexSearch.searchWand]]). BM25 is
    * additive per doc and every doc lives in exactly one range, so the
    * global top-k is exactly the top-k of the union of per-range top-k's
    * under the same pinned ordering (rank-merge, no score recombination).
    *
    * `seed` is an optional LOWER bound on the final global k-th best raw
    * score (e.g. the k-th largest block-max of any single term — k
    * distinct docs each achieve their block's max from that term alone,
    * and other terms only add). Seeding starts θ there instead of −∞, so
    * early blocks get skipped too; docs scoring below the seed can be
    * missed, which is safe because they cannot enter the GLOBAL top-k that
    * the per-range results rank-merge into. */
  def topKRange(terms: Seq[TermPostings], k: Int, nDocs: Long,
                avgdl: Double, lo: Long, hi: Long,
                seed: Double = Double.NegativeInfinity): Seq[(Long, Double)] = {
    if (terms.isEmpty || k <= 0) return Seq.empty
    val cursors = terms.map(t => new Cursor(t, nDocs, avgdl, lo, hi)).toArray

    // pool of current top-k; "worst" = smallest ROUNDED score, then
    // largest doc (mirrors the final ranking's tie-break)
    implicit val worstFirst: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] {
        case (d, s) => (-round(s, Bm25.RankScale), d)
      }
    val pool = scala.collection.mutable.PriorityQueue.empty[(Long, Double)]
    // θ uses the RAW score of the rounded-worst member: within 1e-7 of the
    // true raw minimum, absorbed by the Eps margin.
    def theta: Double =
      math.max(seed, if (pool.size < k) Double.NegativeInfinity else pool.head._2)

    val order = cursors.indices.toArray
    val cmp: java.util.Comparator[Integer] = (a: Integer, b: Integer) =>
      java.lang.Long.compare(cursors(a).curDoc, cursors(b).curDoc)
    val boxed = order.map(Integer.valueOf)

    var done = false
    while (!done) {
      java.util.Arrays.sort(boxed, cmp)
      val th = theta
      // pivot: first prefix whose term upper bounds could reach θ
      var acc = 0.0
      var p = -1
      var i = 0
      while (i < boxed.length && p < 0) {
        acc += cursors(boxed(i)).upperBound
        if (acc >= th - Eps) p = i
        i += 1
      }
      if (p < 0) done = true
      else {
        val pivotDoc = cursors(boxed(p)).curDoc
        if (pivotDoc == ExhaustedDoc) done = true
        else {
          // q: ALL cursors whose curDoc ≤ pivotDoc — cursors beyond the
          // pivot index can sit on the pivot doc too (ties) and must join
          // the block bound, or their contribution would be skipped.
          var q = p
          while (q + 1 < boxed.length && cursors(boxed(q + 1)).curDoc <= pivotDoc) q += 1
          // shallow-align blocks of [0..q] to the pivot before bounding
          var changed = false
          var j = 0
          while (j <= q) {
            if (cursors(boxed(j)).shallowAlign(pivotDoc)) changed = true
            j += 1
          }
          if (!changed) {
            var blockAcc = 0.0
            j = 0
            while (j <= q) { blockAcc += cursors(boxed(j)).blockMax; j += 1 }
            if (blockAcc < th - Eps) {
              // shallow advance: skip to just past the nearest block
              // boundary, but never past the first cursor beyond q — its
              // postings aren't in the bound.
              var d = ExhaustedDoc
              j = 0
              while (j <= q) {
                val b = cursors(boxed(j)).blockBoundary
                if (b < d) d = b
                j += 1
              }
              if (q + 1 < boxed.length && cursors(boxed(q + 1)).curDoc - 1 < d)
                d = cursors(boxed(q + 1)).curDoc - 1
              val target = d + 1 // d ≥ pivotDoc ⇒ progress
              j = 0
              while (j <= q) {
                if (cursors(boxed(j)).curDoc < target) cursors(boxed(j)).seek(target)
                j += 1
              }
            } else if (cursors(boxed(0)).curDoc == pivotDoc) {
              // fully score pivotDoc across all matching cursors
              var s = 0.0
              var ci = 0
              while (ci < cursors.length) {
                val c = cursors(ci)
                if (c.curDoc == pivotDoc) { s += c.score(); c.next() }
                ci += 1
              }
              if (pool.size < k) pool.enqueue((pivotDoc, s))
              else {
                val (wd, ws) = pool.head
                val r = round(s, Bm25.RankScale)
                val rw = round(ws, Bm25.RankScale)
                if (r > rw || (r == rw && pivotDoc < wd)) {
                  pool.dequeue(); pool.enqueue((pivotDoc, s))
                }
              }
            } else {
              // advance lagging cursors up to the pivot
              j = 0
              while (j < p) {
                if (cursors(boxed(j)).curDoc < pivotDoc)
                  cursors(boxed(j)).seek(pivotDoc)
                j += 1
              }
            }
          }
        }
      }
    }
    pool.toSeq.sortBy { case (d, s) => (-round(s, Bm25.RankScale), d) }
  }
}
