package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps SURVEY.md §11 (the consolidated CORRECTNESS-key coverage
  * table) from rotting: every key in [[SparkEntry.queries]] must appear
  * in the table (the TPC-H family may be collapsed into its one
  * `q1 … q22 (22 keys)` range row), and the table must not list keys
  * that no longer exist. Also pins the SparkEntry contract itself:
  * every query has a DuckDB oracle with the same key set, and keeps the
  * run instructions honest: every `runMain graft.<Name>` they give
  * names a class that still has a `main`.
  */
class DocCoverageSpec extends AnyFunSuite {

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val sec11: String = {
    val survey = read("SURVEY.md")
    val at = survey.indexOf("## 11.")
    assert(at >= 0, "SURVEY.md has no '## 11.' consolidated coverage section")
    survey.substring(at)
  }

  private lazy val tableKeys: Set[String] =
    sec11.linesIterator.filter(_.startsWith("| `"))
      .flatMap("`([a-z][a-z0-9_]+)`".r.findAllMatchIn(_).map(_.group(1)))
      .toSet

  test("SURVEY §11 lists every SparkEntry query key (TPC-H as a range row)") {
    val keys = SparkEntry.queries.keySet
    val tpch = keys.filter(_.matches("q\\d+_.*"))
    // the range row is anchored by its two endpoint keys
    assert(tableKeys.contains("q1_pricing_summary")
      && tableKeys.contains("q22_sales_opportunity"), "TPC-H range row missing")
    assert(sec11.contains(s"(${tpch.size} keys)"),
      s"TPC-H range row count drifted: family has ${tpch.size} keys")
    val missing = (keys -- tpch) -- tableKeys
    assert(missing.isEmpty, s"keys missing from SURVEY §11: ${missing.toSeq.sorted}")
  }

  test("SURVEY §11 lists no stale keys") {
    val keys = SparkEntry.queries.keySet
    // ignore table tokens that aren't query keys (operator names etc.):
    // a stale key is one that LOOKS like a query key (prefix_digit form)
    // but no longer exists
    val stale = tableKeys.filter(_.matches("[a-z]+\\d+[a-z]?_.*")) -- keys
    assert(stale.isEmpty, s"SURVEY §11 lists removed keys: ${stale.toSeq.sorted}")
  }

  test("every query has a DuckDB oracle under the same key") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      "queries/oracleSql key sets diverge: " +
        s"only-queries=${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted} " +
        s"only-oracle=${(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
  }

  test("every runMain in README, the verify skill and the SCALING preface names a live main") {
    // the SCALING preface ends at its first section; the sections below
    // it are history and may name retired harnesses
    val scaling = read("SCALING.md")
    val docs = Seq("README.md" -> read("README.md"),
      ".claude/skills/verify/SKILL.md" -> read(".claude/skills/verify/SKILL.md"),
      "SCALING.md preface" -> scaling.take(scaling.indexOf("\n## ")))
    val named = docs.flatMap { case (doc, text) =>
      """(?:Test/)?runMain\s+graft\.(\w+(?:\.\w+)*)""".r.findAllMatchIn(text)
        .map(m => doc -> m.group(1)).toSeq
    }
    assert(Set("Bench", "Scaling").subsetOf(named.map(_._2).toSet),
      s"no runMain found for Bench and Scaling: $named")
    val dead = named.filterNot { case (_, name) =>
      scala.util.Try(Class.forName(s"graft.$name$$")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(dead.isEmpty, s"runMain lines naming no main: ${dead.distinct}")
  }
}
