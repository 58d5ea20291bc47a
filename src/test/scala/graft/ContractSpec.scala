package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-contract guards: the invariants the correctness gate
  * depends on, enforced at test time so a future query cannot land
  * half-wired. No SparkSession needed — the maps are data. */
class ContractSpec extends AnyFunSuite {

  test("every oracle belongs to a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query has an oracle (rows-only queries need a waiver here)") {
    // intentionally-rows-only queries would be listed in this waiver
    // set with the reason; currently every query is oracle-checked
    val waived = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- waived
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }

  test("every query name is declared in SURVEY §2") {
    val full = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    // only the §2 inventory counts — a backticked mention in the
    // build-plan narrative is not a capability bullet
    val survey = full.substring(full.indexOf("## §2"))
      .split("\n## §").head
    val declared = "`([a-z0-9_]+)`".r.findAllMatchIn(survey)
      .map(_.group(1)).toSet
    val undeclared = SparkEntry.queries.keySet -- declared
    assert(undeclared.isEmpty,
      s"queries missing a SURVEY §2 bullet: $undeclared")
  }

  test("the catalog-table lifecycle stays behind sources.Warehouse") {
    // table properties, dynamic overwrite and warehouse locations are
    // lifecycle details: a store restating them drifts from the
    // shared create/append/rewrite order (a compaction that skips the
    // re-list loses other sessions' appends)
    val owner = java.nio.file.Paths.get("src/main/scala/graft/sources/Warehouse.scala")
    val sessions = java.nio.file.Paths.get("src/main/scala/graft/Sessions.scala")
    val banned = Seq("getTableMetadata", "SET TBLPROPERTIES",
      "partitionOverwriteMode", "spark.sql.warehouse.dir")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders = try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_ == owner).toSeq.flatMap { f =>
          val text = new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
          banned.filter(text.contains)
            .filterNot(b => f == sessions && b == "spark.sql.warehouse.dir")
            .map(b => s"$f: $b")
        }
    } finally files.close()
    assert(owner.toFile.isFile, s"$owner moved: update this guard")
    assert(offenders.isEmpty, s"lifecycle code outside Warehouse: $offenders")
  }

  test("query names are registry-unique across the four modules") {
    val sizes = Seq(TsdbQueries.queries.size, RelQueries.queries.size,
      PipelineQueries.queries.size, GraphiteQueries.queries.size)
    assert(sizes.sum == SparkEntry.queries.size,
      "duplicate query name collapsed in the merged map")
  }
}
