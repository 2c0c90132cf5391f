package graft.search

import org.apache.spark.sql.DataFrame

/** The term dictionary of one open index joined with its blockmeta, held
  * on the driver as compact arrays sorted by term: df, shard and the
  * stored top block maxes (descending, ≤ [[graft.index.PostingBlocks.TopBlockMaxes]]
  * per term, flattened into one array). A request looks its terms up by
  * binary search — no Spark job, no dictionary scan.
  *
  * Size grows with the vocabulary, not the corpus: per term one String,
  * a long, two ints and 8 bytes per stored block max — about 84 bytes
  * per term at a mean term length of 5 characters and 2 stored maxes
  * (JDK 17, compressed oops). */
final class ResidentDict private (terms: Array[String], dfs: Array[Long],
                                  shards: Array[Int], maxStart: Array[Int],
                                  maxes: Array[Double]) {

  /** Row of `term`, or -1 when it is out of vocabulary. */
  def row(term: String): Int = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
    if (i >= 0) i else -1
  }

  def df(row: Int): Long = dfs(row)
  def shard(row: Int): Int = shards(row)

  /** Distinct shards holding the in-vocabulary ones of `terms`. */
  def shardsOf(terms: Seq[String]): Seq[Int] =
    terms.map(row).filter(_ >= 0).map(shards).distinct

  /** k-th largest stored block max of the row's term; −∞ when fewer than
    * k are stored (k past the stored maxes, or the term has fewer blocks). */
  def kthMax(row: Int, k: Int): Double = {
    val i = maxStart(row) + k - 1
    if (k >= 1 && i < maxStart(row + 1)) maxes(i) else Double.NegativeInfinity
  }

  /** The row's stored top block maxes, descending. */
  def topMaxes(row: Int): Iterator[Double] =
    maxes.iterator.slice(maxStart(row), maxStart(row + 1))

  /** WAND θ seed of a query over these rows: the largest k-th block max
    * of any of its terms — k doc-disjoint blocks each reach their max
    * from that term alone, so the final k-th best score is at least
    * this. −∞ when no term stores k maxes. */
  def seed(rows: Seq[Int], k: Int): Double =
    rows.foldLeft(Double.NegativeInfinity)((m, r) => math.max(m, kthMax(r, k)))
}

object ResidentDict {

  /** Collect `dictionary` (term, df, shard) left-joined with `blockmeta`
    * (term, top_block_maxes) — Spark jobs run once per open index. */
  def load(dictionary: DataFrame, blockmeta: DataFrame): ResidentDict = {
    val rows = dictionary.select("term", "df", "shard")
      .join(blockmeta.select("term", "top_block_maxes"), Seq("term"), "left")
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getInt(2),
          if (r.isNullAt(3)) Seq.empty[Double] else r.getSeq[Double](3))
      }.sortBy(_._1)
    val maxStart = rows.iterator.map(_._4.size).scanLeft(0)(_ + _).toArray
    new ResidentDict(rows.map(_._1), rows.map(_._2), rows.map(_._3),
      maxStart, rows.flatMap(_._4))
  }
}
