package graft

import graft.search.IndexSearch
import graft.search.IndexSearch.View
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.Assertions

/** The inputs of the "≡ exhaustive" tests of the pruned top-k engines
  * ([[IndexSearch.searchWand]], [[IndexSearch.searchMaxScore]]): each must
  * return exactly what exhaustive [[IndexSearch.search]] returns over the
  * same view — a bulk root or a live segmented one — on the single-range
  * driver path and on the range-parallel path alike. */
object TopKParity extends Assertions {

  /** (view, queries, k, docsPerRange, start) → ranked rows */
  type Engine = (View, Seq[(Int, String)], Int, Long, Int) => DataFrame

  val queries: Seq[(Int, String)] = Seq(
    1 -> "w1 w3 w17",
    2 -> "zzzrareone",
    3 -> "w1",             // hottest term
    4 -> "w2 zzzmissing",
    5 -> "w5 w50 w500",
    6 -> "w1 w2 w3 w4 w5", // all hot
    7 -> "qqqnotthere",
    8 -> "w3 w17 w3 w3")   // duplicate terms count once

  def rows(df: DataFrame): Seq[Row] = df.orderBy("query_id", "rank").collect().toSeq

  def check(idx: View, engine: Engine): Unit = {
    val default = IndexSearch.DefaultDocsPerRange
    // k = 20 is past the stored top block maxes (16): no stored seed
    val exh = Seq(3, 10, 20).map(k => k -> rows(IndexSearch.search(idx, queries, k = k)))
    assert(exh.forall(_._2.nonEmpty))
    // an offset page needs the full start+k prefix exact, absolute ranks
    val pageExh = rows(IndexSearch.search(idx, queries, k = 5, start = 5))
    assert(pageExh.nonEmpty && pageExh.head.getInt(1) == 6,
      "absolute rank positions expected on the offset page")
    val oov = Seq(9 -> "qqqnotthere zzznope")
    assert(rows(IndexSearch.search(idx, oov)).isEmpty)
    // one range, but the summed df of the all-hot query exceeds the bound
    // docsPerRange = nDocs: the range-parallel path answers it
    val hot = queries.filter(_._1 == 6)
    assert(idx.df(Seq("w1", "w2", "w3", "w4", "w5")).values.sum > idx.nDocs)
    val hotExh = rows(IndexSearch.search(idx, hot))
    // k = 20 passes the stored top block maxes: the driver path runs
    // unseeded and the range path seeds from a window job; tiny ranges
    // force the range-parallel path, with block spans across range
    // boundaries
    for ((k, want) <- exh; dpr <- Seq(default, 7L, 100L))
      assert(rows(engine(idx, queries, k, dpr, 0)) == want, s"k=$k docsPerRange=$dpr")
    for (dpr <- Seq(default, 7L))
      assert(rows(engine(idx, queries, 5, dpr, 5)) == pageExh, s"page docsPerRange=$dpr")
    assert(rows(engine(idx, oov, 10, default, 0)).isEmpty, "all-OOV")
    assert(rows(engine(idx, hot, 10, idx.nDocs, 0)) == hotExh, "over the bound")
  }
}
