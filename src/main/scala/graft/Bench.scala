package graft

import graft.index.BuildIndexJob
import graft.search.IndexSearch
import graft.sources.Transcripts
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  * plus extra top-level keys with the engine's headline numbers:
  * index-build throughput (turns/sec) and BM25 top-10 WAND query
  * throughput (queries/sec) over a synthetic transcript corpus sized by
  * the scale factor (FIXTURES.md §B), measured after a warmup pass.
  */
object Bench {

  /** Deterministic mixed query workload over the synthetic vocab: hot
    * heads, mid-frequency, rare tails, multi-term combinations. ~200
    * queries so across-query parallelism (the WAND scaling axis) has
    * room to show. */
  def workload: Seq[(Int, String)] = {
    def w(i: Int) = s"w$i"
    val singles = (1 to 64).map(i => w(i * i % 4999 + 1))
    val pairs = (0 until 64).map(i => s"${w(i % 8 + 1)} ${w(997 + 31 * i)}")
    val triples = (0 until 64).map(i =>
      s"${w(i % 16 + 1)} ${w(211 + 17 * i)} ${w(2011 + 37 * i)}")
    val special = Seq("zzzrareone", "zzzraretwo w1", "w1 w2 w3 w4 w5")
    (singles ++ pairs ++ triples ++ special)
      .zipWithIndex.map { case (q, i) => (i + 1, q) }
  }

  /** Conversation count for the synthetic build corpus, from the sfDir's
    * exact scale-factor suffix (`.../sf<factor>`); an unrecognized layout
    * fails loudly instead of silently benchmarking a tiny corpus (which
    * would make throughput numbers incomparable without warning). */
  def convsFor(sfDir: String): Long =
    sys.env.get("SPARK_GRAFT_BENCH_CONVS").map(_.toLong).getOrElse {
      // env override checked FIRST so the escape hatch also works for
      // layouts the regex can't parse
      val sf = "sf([0-9.]+)/*$".r.findFirstMatchIn(sfDir).map(_.group(1))
        .getOrElse(sys.error(
          s"cannot parse scale factor from sfDir '$sfDir' (expected .../sf<factor>); " +
            "set SPARK_GRAFT_BENCH_CONVS explicitly"))
      sf match {
        case "0.001" => 200L
        case "0.01"  => 1500L
        case "0.1"   => 12000L
        case other   => sys.error(
          s"no pinned bench corpus size for sf$other; set SPARK_GRAFT_BENCH_CONVS")
      }
    }

  /** Pinned idle-box reference for the pure-CPU probe at the driver's
    * standard config (work scales with cpu count, so sec-per-run is
    * roughly cpu-invariant on an idle box). Measured idle on this VM
    * (0.90–0.99 s best-of-3 at 32 cpus, 2026-08-16); override with
    * SPARK_GRAFT_PROBE_IDLE_SEC after a hardware change. Round-2's
    * recorded bench was ~2× slow purely from a loaded box — the probe
    * makes that visible in the artifact instead of masquerading as a
    * regression. */
  final val IdleProbeSecRef = 0.95

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // lz4 default — zstd lost the 8→32 A/B (commit fe9d420's ScalingBench)
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // machine-load probe: pure-CPU, shuffle-free, work ∝ cpus. Run before
    // AND after the timed sections; a deviation > 1.3× from the pinned
    // idle reference flags the whole artifact as load-contaminated.
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    val nCpus = cpus.toInt
    def cpuProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 200000000L * nCpus, 1, nCpus)
        .select(bit_xor(xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e9
    }
    cpuProbe() // warm codegen
    def probe3() = Seq(cpuProbe(), cpuProbe(), cpuProbe()).min

    /** One full timed rep: registered queries, synthetic index build,
      * WAND workload. Self-contained so a load-flagged first rep can be
      * re-run cold ([[SparkEntry.resetMemos]] first — otherwise the
      * rerun's prepare/merge/stream lines report near-zero and per-query
      * attribution is incomparable). */
    case class Rep(results: scala.collection.mutable.LinkedHashMap[String, Double],
                   nTurns: Long, buildSec: Double, qps: Double,
                   probeBefore: Double, probeAfter: Double) {
      def probeMax: Double = math.max(probeBefore, probeAfter)
    }
    def runRep(): Rep = {
      val probeB = probe3()
      // 1. registered queries (the driver contract); a failed query
      // records -1, never its elapsed time, so failures can't masquerade
      // as results. The memoized sfDir index is built FIRST on its own
      // line — otherwise its one-time cost lands on whichever
      // q_bm25_index* query runs first and distorts attribution.
      val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      results("index_prepare") = time(SparkEntry.prepareIndex(spark, sfDir))._2
      results("corpus_prepare") = time(SparkEntry.prepareCorpus(spark, sfDir))._2
      results("stream_prepare") = time(SparkEntry.prepareStream(spark, sfDir))._2
      SparkEntry.queries.foreach { case (name, fn) =>
        results(name) =
          try time(fn(spark, sfDir).count())._2
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        spark.catalog.clearCache() // per-query caches must not accumulate
      }
      // 2. index-build throughput: synthetic corpus sized by sf
      val corpus = Transcripts.synthetic(spark, convsFor(sfDir))
      val nTurns = corpus.count()
      val root = TempDirs.create("graft_bench")
      val (_, buildSec) = time {
        BuildIndexJob.run(spark, corpus, root, s"bench-${System.nanoTime()}",
          BuildIndexJob.Config())
      }
      results("index_build") = buildSec
      // 3. query throughput: WAND top-10 over the persisted index
      val idx = IndexSearch.open(spark, root)
      val qs = workload
      IndexSearch.searchWand(idx, qs).count() // warmup (plans + code gen)
      val reps = 3
      val (_, qSec) = time {
        var i = 0
        while (i < reps) { IndexSearch.searchWand(idx, qs).count(); i += 1 }
      }
      results("wand_workload") = qSec / reps
      // 3b. the same workload through the MaxScore engine — the pruning-
      // family comparison on identical blocks (one rep: a comparison
      // line, not the headline metric)
      IndexSearch.searchMaxScore(idx, qs).count() // warmup
      results("maxscore_workload") = time(
        IndexSearch.searchMaxScore(idx, qs).count())._2
      Rep(results, nTurns, buildSec, qs.size * reps / qSec, probeB, probe3())
    }

    val idleRef = sys.env.get("SPARK_GRAFT_PROBE_IDLE_SEC").map(_.toDouble)
      .getOrElse(IdleProbeSecRef)
    def flagged(r: Rep): Boolean = r.probeMax > idleRef * 1.3

    // auto-rerun on load flag: one retry, keep the cleaner rep; a
    // double-flagged artifact stays flagged and reports both probe pairs
    val first = runRep()
    val (rep, reruns, allProbes) =
      if (!flagged(first)) (first, 0, Seq(first))
      else {
        System.err.println("[bench] first rep load-flagged — rerunning cold")
        SparkEntry.resetMemos()
        spark.catalog.clearCache()
        val second = runRep()
        (if (second.probeMax < first.probeMax) second else first,
          1, Seq(first, second))
      }
    val loadFlagged = flagged(rep)
    val results = rep.results
    val (nTurns, buildSec, qps, qsSize) =
      (rep.nTurns, rep.buildSec, rep.qps, workload.size)
    val turnsPerSec = nTurns / buildSec
    def rnd(v: Double, scale: Int): String =
      java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
    def p2(v: Double): String = rnd(v, 2)
    val probePairsJson = allProbes
      .map(r => s"[${p2(r.probeBefore)},${p2(r.probeAfter)}]").mkString("[", ",", "]")

    // The driver parses the LAST ~KB of stdout for one JSON line; BENCH_r04
    // was `parsed: null` because the 2.3 KB full-precision line's START
    // fell outside the driver's fixed-size tail window. Keep the stdout
    // line under ~1.4 KB: round doubles to 2 decimals, itemize the fixed
    // attribution keys plus the SLOWEST queries, and fold the fast tail
    // into an explicit other_queries_{n,sec} aggregate (no silent drop —
    // the count and total are right there, and the COMPLETE full-precision
    // per-query map lands in the BENCH.out.json file artifact). Print the
    // line LAST on stdout.
    val total = results.values.filter(_ >= 0).sum
    val attributionKeys = Seq("index_prepare", "corpus_prepare",
      "stream_prepare", "index_build", "wand_workload", "maxscore_workload")
    def mkLine(qJson: String): String =
      s"""{"metric":"total","value":${rnd(total, 2)},"unit":"sec","queries":$qJson,""" +
        s""""sf":"$sfDir","build_turns":$nTurns,"build_sec":${rnd(buildSec, 2)},""" +
        s""""build_turns_per_sec":${rnd(turnsPerSec, 1)},"wand_queries":$qsSize,""" +
        s""""wand_qps":${rnd(qps, 2)},"cpus":$cpus,""" +
        s""""probe_sec_before":${p2(rep.probeBefore)},"probe_sec_after":${p2(rep.probeAfter)},""" +
        s""""probe_idle_ref":$idleRef,"load_flagged":$loadFlagged,""" +
        s""""bench_reruns":$reruns,"probe_pairs":$probePairsJson}"""
    def qJsonFor(itemized: Int): String = {
      val (attr, rest) = results.toSeq.partition(kv => attributionKeys.contains(kv._1))
      val bySlow = rest.sortBy(-_._2)
      val (keep, fold) = bySlow.splitAt(itemized)
      val entries = (attr ++ keep).map { case (k, v) => "\"" + k + "\":" + rnd(v, 2) } ++
        (if (fold.isEmpty) Nil
         else Seq("\"other_queries_n\":" + fold.size,
           "\"other_queries_sec\":" + rnd(fold.map(_._2).filter(_ >= 0).sum, 2)))
      entries.mkString("{", ",", "}")
    }
    val line = (results.size to 0 by -4).iterator.map(n => mkLine(qJsonFor(n)))
      .find(_.length < 1400).getOrElse(mkLine(qJsonFor(0)))
    if (line.length >= 1400)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — " +
        "risks falling outside the driver's stdout tail window; trim keys")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json")
    val fullQJson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line.stripSuffix("}") + s""","queries_full_precision":$fullQJson}""" + "\n")
    if (loadFlagged)
      System.err.println(f"[bench] WARNING: cpu probe ${rep.probeBefore}%.2f/" +
        f"${rep.probeAfter}%.2f s vs idle ref $idleRef%.2f s across " +
        f"${reruns + 1} rep(s) — box loaded, numbers not comparable to " +
        "idle-box runs")
    // build.sbt routes forked-run output to stdout RAW (OutputStrategy),
    // so this line is driver-parseable; it must be the LAST stdout write
    // before stop() so the driver's tail window always contains it whole.
    println(line)
    spark.stop()
  }
}
