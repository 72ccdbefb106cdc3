package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guards on the driven surface: the oracle statements
  * and the settings the program reads from its environment. */
class SurfaceGuardSpec extends AnyFunSuite {

  /** `AS MATERIALIZED` CTE names defined twice in one WITH scope. A
    * parenthesized subquery opens its own scope: ann_eval embeds each
    * method's whole pipeline as a nested WITH, so the same trainer
    * names legally recur there. Quoted literals are skipped. */
  private def scopedDuplicates(sql: String): Seq[String] = {
    val defs = """(\w+) AS MATERIALIZED""".r.findAllMatchIn(sql)
      .map(m => m.start -> m.group(1)).toMap
    var scopes = List(Set.empty[String])
    var inLiteral = false
    val dups = Seq.newBuilder[String]
    for ((c, i) <- sql.zipWithIndex) {
      if (c == '\'') inLiteral = !inLiteral
      else if (!inLiteral) c match {
        case '(' => scopes = Set.empty[String] :: scopes
        case ')' => scopes = scopes.tail
        case _ => defs.get(i).foreach { n =>
          if (scopes.head(n)) dups += n else scopes = (scopes.head + n) :: scopes.tail
        }
      }
    }
    dups.result()
  }

  test("every oracle statement defines each AS MATERIALIZED CTE once per WITH scope") {
    for ((name, sql) <- SparkEntry.oracleSql) {
      val dups = scopedDuplicates(sql)
      assert(dups.isEmpty, s"$name defines ${dups.mkString(", ")} more than once")
    }
  }

  /** The deployment settings; anything else read from the environment
    * is a tuning dial and belongs in code as a constant. */
  private val allowedEnv = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ONLY", "SPARK_GRAFT_PASSES", "SPARK_GRAFT_WARMUP")

  test("src/main reads only the deployment settings from the environment") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val read = """(?:sys\.env|System\.getenv)""".r
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    val bad = for {
      file <- sources
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      m <- read.findAllMatchIn(line)
      reason <- named.findPrefixMatchOf(line.substring(m.start)) match {
        case Some(n) if allowedEnv(n.group(1)) => None
        case Some(n) => Some(s"reads ${n.group(1)}")
        case None => Some("reads an env name that is not a literal")
      }
    } yield s"$file:${no + 1} $reason"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
