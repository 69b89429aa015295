package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the engine reads are a public contract:
  * the bench and verify mains and their documentation name them. A new
  * knob has to be added here on purpose, not slip in at a call site.
  */
class EnvContractSpec extends AnyFunSuite {

  private val Contract = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ONLY", "SPARK_GRAFT_EVENTLOG", "SPARK_GRAFT_MEDIAN_SEC")

  test("src/main/scala reads exactly the documented environment variables") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val read = """(?:sys\.env|System\.getenv)\b""".r
    val literal = """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]+)"""".r
    val keys = sources.flatMap { (p: Path) =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val literals = literal.findAllMatchIn(text).toSeq
      // a read whose key is not a string literal cannot be audited
      assert(read.findAllMatchIn(text).size == literals.size,
        s"$p reads the environment with a non-literal key")
      literals.map(_.group(1))
    }.toSet
    assert(keys == Contract)
  }
}
