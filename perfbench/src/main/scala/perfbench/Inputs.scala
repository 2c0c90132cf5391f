package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded benchmark inputs. The engine receives only what these return:
  * transcript DataFrames, delete-key DataFrames and (query_id, text) lists.
  *
  * The corpus has the FIXTURES.md §B shape of `graft.sources.Transcripts`
  * (2–15 turns per conversation, 5–120 tokens per turn, Zipf(≈1) ranks over
  * a 5 000-word vocabulary), with the run seed mixed into every xxhash64 so
  * two seeds give two corpora. Every value is a pure function of
  * (seed, conversation, turn, version), so a regenerated batch is
  * bit-identical and the expected live corpus of the ingest workload can be
  * rebuilt independently of the engine.
  */
object Inputs {

  final val Vocab = 5000

  /** All turns of the conversations in `convs` (columns c:long, v:int);
    * `v` is the text version, bumped by an upsert. */
  def turns(seed: Long, convs: DataFrame): DataFrame = {
    val s = lit(seed)
    val withTurns = convs
      .withColumn("n_turns", (pmod(xxhash64(s, col("c"), lit("len")), lit(14)) + 2).cast("int"))
      .select(col("c"), col("v"), explode(sequence(lit(0), col("n_turns") - 1)).as("t"))
    val nTok = (pmod(xxhash64(s, col("c"), col("t"), col("v"), lit("ntok")), lit(116)) + 5).cast("int")
    val lnV = math.log(Vocab.toDouble)
    def u(i: Column) =
      (pmod(xxhash64(s, col("c"), col("t"), col("v"), i, lit("tok")), lit(1000000))
        .cast("double") + 0.5) / 1000000.0
    val word = transform(sequence(lit(0), nTok - 1),
      i => concat(lit("w"), least(exp(u(i) * lnV).cast("long"), lit(Vocab.toLong))))
    val roleHash = pmod(xxhash64(s, col("c"), col("t"), lit("role")), lit(100))
    withTurns.select(
      convId(col("c")).as("conv_id"),
      col("t").cast("int").as("turn_idx"),
      when(roleHash < 15, lit("tool"))
        .when(col("t") % 2 === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      concat_ws(" ", word).as("text"),
      when(roleHash < 15, concat(lit("tool"),
        pmod(xxhash64(s, col("c"), col("t"), lit("tool")), lit(8)).cast("string"))).as("tool"),
      timestamp_seconds(lit(graft.sources.Transcripts.Epoch2024) + col("c") * 3600 +
        col("t") * 30 + col("v")).as("ts"))
  }

  def convId(c: Column): Column = concat(lit("conv"), lpad(c.cast("string"), 8, "0"))

  /** Conversations [from, until) at text version 0. */
  def convRange(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).toDF("c").withColumn("v", lit(0))

  /** One live-ingest batch, number `b` (1-based) over a base of `baseConvs`
    * conversations with `newConvs` fresh conversations per batch: the new
    * conversations, plus whole earlier conversations re-written at version
    * `b` (upserts, ≈5 % of the batch's turns), plus single-turn deletes of
    * other earlier conversations (≈2 %). Upserted and deleted conversations
    * are disjoint within a batch. Returns (turns, delete keys (conv_id,
    * turn_idx)). */
  def ingestBatch(spark: SparkSession, seed: Long, baseConvs: Long, newConvs: Long,
                  b: Int): (DataFrame, DataFrame) = {
    val (upsertFrac, deleteFrac) = (0.05, 0.02)
    val live = baseConvs + (b - 1) * newConvs
    val fresh = convRange(spark, live, live + newConvs)
    // per-million thresholds on one hash: [0, up) upserts, [up, up + del) deletes
    val perMille = pmod(xxhash64(lit(seed), lit(b), col("c"), lit("mut")), lit(1000000))
    val up = math.round(upsertFrac * newConvs / live * 1000000)
    val del = math.round(deleteFrac * newConvs * TurnsPerConv / live * 1000000)
    val old = spark.range(0, live).toDF("c")
    val upserts = old.where(perMille < up).withColumn("v", lit(b))
    val deletes = old.where(perMille >= up && perMille < up + del)
      .select(convId(col("c")).as("conv_id"),
        // turn 0 or 1: every conversation has at least two turns
        pmod(xxhash64(lit(seed), lit(b), col("c"), lit("dt")), lit(2)).cast("int").as("turn_idx"))
    (turns(seed, fresh.unionByName(upserts)), deletes)
  }

  /** Mean turns per conversation of the generator (2 + uniform 0..13). */
  final val TurnsPerConv = 8.5

  /** The query pool: `n` distinct queries of 1–4 terms drawn from hot
    * (ranks 1–50), mid (51–1000) and rare (1001–5000) vocabulary plus
    * out-of-vocabulary terms, ids 1..n. */
  def queryPool(seed: Long, n: Int): IndexedSeq[(Int, String)] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    def rank(lo: Int, hi: Int) = s"w${lo + rnd.nextInt(hi - lo + 1)}"
    def term(): String = rnd.nextInt(100) match {
      case x if x < 30 => rank(1, 50)
      case x if x < 65 => rank(51, 1000)
      case x if x < 95 => rank(1001, Vocab)
      case _           => s"oov${rnd.nextInt(1 << 20)}"
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Seq.fill(1 + rnd.nextInt(4))(term()).mkString(" ")
    seen.toIndexedSeq.zipWithIndex.map { case (q, i) => (i + 1, q) }
  }

  /** A request stream over `pool`: `len` pool indices drawn with Zipf(1)
    * popularity over a seeded permutation of the pool, so popular queries
    * repeat. */
  def requestStream(seed: Long, stream: Int, poolSize: Int, len: Int): Array[Int] = {
    val perm = {
      val r = new java.util.SplittableRandom(seed ^ 0x9e37L)
      val a = Array.range(0, poolSize)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val cdf = (1 to poolSize).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    val rnd = new java.util.SplittableRandom(seed * 31 + stream)
    Array.fill(len) {
      val x = rnd.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cdf, x)
      perm(math.min(poolSize - 1, if (i >= 0) i else -i - 1))
    }
  }
}
