package perfbench

import org.apache.spark.sql.Row

/** One completed (or failed) search call as the client saw it, with its
  * answer per query id: (rank, doc key, score) rows in rank order. The doc
  * key is the doc_id for the bulk index and "conv_id/turn_idx" for the
  * segmented one. */
final case class Req(group: String, qids: Seq[Int], startUs: Long, planEndUs: Long,
                     endUs: Long, answers: Map[Int, Answers.Answer],
                     error: Option[Throwable]) {
  def ms: Double = (endUs - startUs) / 1000.0
  def ok: Boolean = error.isEmpty
}

object Req {
  /** Time one search call: `plan` returns the DataFrame (and runs whatever
    * the engine does eagerly), `collect` materializes it. */
  def time(ctx: Ctx, group: String, qids: Seq[Int], layer: String)(
      plan: => org.apache.spark.sql.DataFrame)(key: Row => String): Req = {
    val t0 = Clock.nowUs
    var tp = t0
    try {
      val rows = ctx.group(group) {
        ctx.span(s"$layer.request", "client") {
          val df = ctx.span(s"$layer.plan", "search")(plan)
          tp = Clock.nowUs
          ctx.span(s"$layer.exec", "search")(df.collect())
        }
      }
      Req(group, qids, t0, tp, Clock.nowUs, Answers.byQuery(rows.toSeq, key), None)
    } catch {
      case e: Exception =>
        Log.failure(group, e)
        Req(group, qids, t0, tp, Clock.nowUs, Map.empty, Some(e))
    }
  }

  /** Run `body(i)` for i = 0, 1, ... while `go` holds. A call started
    * while it held completes. */
  def closedLoop[T](go: => Boolean)(body: Int => T): Vector[T] = {
    val out = Vector.newBuilder[T]
    var i = 0
    while (go) { out += body(i); i += 1 }
    out.result()
  }

  /** Run `n` closed-loop clients on their own threads and gather their
    * results. */
  def clients[T](n: Int)(client: Int => Vector[T]): Vector[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(c => pool.submit(() => client(c)))
      fs.flatMap(_.get()).toVector
    } finally pool.shutdown()
  }
}

object Answers {
  type Answer = Seq[(Int, String, Double)]

  /** Result rows (query_id, rank, ..., score) per query, in rank order. */
  def byQuery(rows: Seq[Row], key: Row => String): Map[Int, Answer] =
    rows.groupBy(_.getAs[Int]("query_id")).map { case (q, rs) =>
      q -> rs.map(r => (r.getAs[Int]("rank"), key(r), r.getAs[Double]("score"))).sortBy(_._1)
    }

  val docId: Row => String = r => r.getAs[Long]("doc_id").toString
  val convTurn: Row => String = r => s"${r.getAs[String]("conv_id")}/${r.getAs[Int]("turn_idx")}"

  /** Count the calls that threw or whose answer to any of their queries
    * differs, rank for rank, from `expected`. */
  def failures(reqs: Seq[Req], expected: Map[Int, Answer]): Long =
    reqs.count(r => !r.ok ||
      r.qids.exists(q => r.answers.getOrElse(q, Nil) != expected.getOrElse(q, Nil))).toLong

  /** A copy of the call with one score changed (self-test). */
  def corrupt(r: Req): Req = {
    val q = r.qids.head
    val wrong = r.answers.getOrElse(q, Nil) match {
      case (rank, k, s) +: rest => (rank, k, s + 1.0) +: rest
      case _                    => Seq((1, "corrupt", 1.0))
    }
    r.copy(answers = r.answers.updated(q, wrong))
  }
}
