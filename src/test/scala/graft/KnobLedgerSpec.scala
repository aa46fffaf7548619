package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The ledger of knobs the engine reads: environment variables and
  * `spark.graft.*` confs, found by scanning `src/main/scala`. A knob
  * that appears in the code without being added here fails the suite. */
class KnobLedgerSpec extends AnyFunSuite {

  private val rule = "ROADMAP.md's rule: add no option, env var or conf " +
    "unless a caller needs it. A new knob needs a caller, and then an " +
    "entry in this ledger."

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private val envRead = """sys\.env|System\.getenv""".r
  private val namedEnvRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]+)"""".r
  private val graftConf = """"(spark\.graft\.[^"]*)"""".r

  test("the engine reads exactly SPARK_GRAFT_CPUS and SPARK_GRAFT_ONLY " +
    "from the environment, each by a literal name") {
    val names = for {
      (file, src) <- sources
      m <- envRead.findAllMatchIn(src)
    } yield namedEnvRead.findPrefixMatchOf(src.substring(m.start))
      .map(_.group(1)).getOrElse(s"<a read without a literal name in $file>")
    assert(names.toSet == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY"),
      s"environment reads in src/main/scala: ${names.distinct.sorted}. $rule")
  }

  test("the engine reads no spark.graft.* conf") {
    val keys = for {
      (file, src) <- sources
      m <- graftConf.findAllMatchIn(src)
    } yield s"${m.group(1)} ($file)"
    assert(keys.isEmpty, s"spark.graft.* keys in src/main/scala: " +
      s"${keys.distinct.sorted}. $rule")
  }
}
