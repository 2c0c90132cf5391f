package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark at a tiny size: every metric BENCHMARK.json names prints
  * with its unit, seeds change the inputs but not the metric set, and a
  * corrupted answer counts as a failed operation. */
class BenchSelfSpec extends AnyFunSuite {
  import BenchSelfSpec.Out

  private val json = new ObjectMapper()
  private val spec: JsonNode = json.readTree(
    Seq(Paths.get("..", "BENCHMARK.json"), Paths.get("BENCHMARK.json"))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found")).toFile)

  private def declared(kind: String): Map[String, String] =
    spec.get(kind).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private val tiny = Seq("--seconds", "1", "--pool", "12", "--convs", "20",
    "--base-convs", "20", "--batch-convs", "3")

  private def run(workload: String, seed: Long, trace: Int, extra: String*): Out = {
    val dir: Path = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target", "selftest")), "run")
    val result = dir.resolve("result.jsonl")
    Main.run((Seq("--workload", workload, "--seed", seed.toString, "--trace", trace.toString,
      "--work", dir.resolve("work").toString, "--result", result.toString,
      "--spans", dir.resolve("spans.jsonl").toString) ++ tiny ++ extra).toArray)
    val last = json.readTree(Files.readAllLines(result).asScala.last)
    Disk.delete(dir.toString)
    Out(last.get("correct").asBoolean(), last.get("attempted").asLong(), last.get("failed").asLong(),
      last.get("metrics").fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("value").asDouble(), e.getValue.get("unit").asText())
      }.toMap)
  }

  private def units(o: Out) = o.metrics.map { case (n, (_, u)) => n -> u }

  for (w <- Main.Workloads) {
    test(s"$w: every end-to-end metric prints with its unit, answers check out") {
      val o = run(w, 1, 0)
      assert(units(o) == declared("end_to_end"))
      assert(o.correct && o.failed == 0 && o.attempted > 0)
    }
    test(s"$w: the traced run prints every per-layer metric with its unit") {
      val o = run(w, 1, 1)
      assert(units(o) == declared("per_layer"))
      assert(o.metrics("build.jobs")._1 > 0 && o.metrics("query.samples")._1 > 0)
    }
    test(s"$w: a corrupted answer counts as failed") {
      val o = run(w, 1, 0, "--corrupt-first-answer", "1")
      assert(!o.correct && o.failed >= 1 && o.attempted > o.failed)
    }
  }

  test("two seeds give different inputs and the same metric names") {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    try {
      def texts(seed: Long) = Inputs.turns(seed, Inputs.convRange(spark, 0, 5))
        .select("text").collect().map(_.getString(0)).toSeq
      assert(texts(1) != texts(2))
      assert(texts(1) == texts(1))
      assert(Inputs.queryPool(1, 50) != Inputs.queryPool(2, 50))
      assert(Inputs.requestStream(1, 0, 50, 100).toSeq != Inputs.requestStream(2, 0, 50, 100).toSeq)
      val (b1, _) = Inputs.ingestBatch(spark, 1, 5, 2, 1)
      val (b2, _) = Inputs.ingestBatch(spark, 2, 5, 2, 1)
      assert(b1.select("text").collect().toSeq != b2.select("text").collect().toSeq)
    } finally spark.stop()
    assert(units(run("search_interactive", 1, 0)) == units(run("search_interactive", 2, 0)))
  }
}

object BenchSelfSpec {
  final case class Out(correct: Boolean, attempted: Long, failed: Long,
                       metrics: Map[String, (Double, String)])
}
