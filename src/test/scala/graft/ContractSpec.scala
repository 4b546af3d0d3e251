package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-contract meta-invariants: the correctness gate compares
  * `SparkEntry.queries` and `SparkEntry.oracleSql` BY NAME, so a key that
  * drifts between the two derived maps silently downgrades a hash-checked
  * query to rows-only (or orphans an oracle). Pinned here so registration
  * mistakes fail in CI, not in a correctness run's artifact.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("the rows-only set is exactly the three documented no-SQL-twin " +
      "ops (the approx trio graduated to banded-assertion oracles in " +
      "round 11)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("sim_ivf_topk", "multimodal_byte_features",
      "text_compression_ratio"),
      s"unexpected rows-only queries (add oracle SQL or document): $rowsOnly")
  }

  test("no duplicate names across query families (last-wins would shadow)") {
    val dupes = SparkEntry.families
      .flatMap { case (f, registry) => registry.keys.map(_ -> f) }
      .groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"query name registered by multiple families: " +
      dupes.map { case (k, v) => s"$k -> ${v.map(_._2)}" }.mkString(", "))
    assert(SparkEntry.queries.size == SparkEntry.families.map(_._2.size).sum)
  }

  test("the only main entry points in product code are the five tools " +
      "(one-off probes live outside src/main)") {
    val tools = Set("Verify", "Bench", "Demo", "PlanDump", "CountQueries")
    val entryPoint = """\bdef main\s*\(|\bextends App\b""".r
    val topObject = """(?m)^object (\w+)""".r
    val mains = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(Files.readString(_))
      .filter(entryPoint.findFirstIn(_).isDefined)
      .flatMap(topObject.findAllMatchIn(_).map(_.group(1)))
      .toSet
    assert(mains == tools, s"unexpected: ${mains -- tools}, " +
      s"missing: ${tools -- mains}")
  }
}
