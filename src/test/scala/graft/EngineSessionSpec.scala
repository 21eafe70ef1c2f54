package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session of this engine comes from [[Engine.session]]: mains,
  * tools and the test fixture alike, so the static confs that results
  * depend on (the UTC timezone first) live in one place. */
class EngineSessionSpec extends SparkSpec {

  private val direct = """SparkSession\s*\.\s*[bB]uilder\b""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("no source outside graft/Engine.scala builds a SparkSession itself") {
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.endsWith(Paths.get("graft", "Engine.scala"))))
    val offenders = files.filterNot(_ == Paths.get("src/main/scala/graft/Engine.scala")).filter { f =>
      val code = Files.readAllLines(f).asScala.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
      }
      direct.findFirstIn(code.mkString("\n")).nonEmpty
    }
    assert(offenders.isEmpty, s"build the session through graft.Engine.session: ${offenders.mkString(", ")}")
  }

  test("Engine.session(4) runs local[4] in UTC with 4 shuffle partitions and no UI") {
    val s = Engine.session(4)
    assert(s eq spark) // getOrCreate hands back the fixture's session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
