package graft.readers

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `_delta_log` is listed, named and written in one place,
  * [[DeltaLog]]: no other main source spells a commit-file name (the
  * `\d{20}\.json` regex or the `%020d` format) or `"_last_checkpoint"`. */
class DeltaLogGuardSpec extends AnyFunSuite {

  private val markers = Seq("""d\{20\}\\+\.json""".r, "%020d".r, "\"_last_checkpoint\"".r)

  test("no main source outside graft/readers/DeltaLog.scala names Delta log files") {
    val s = Files.walk(Paths.get("src/main/scala"))
    val files = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    val home = Paths.get("src/main/scala/graft/readers/DeltaLog.scala")
    val offenders = files.filterNot(_ == home).filter { f =>
      Files.readAllLines(f).asScala.exists { l =>
        val t = l.trim
        !(t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) &&
          markers.exists(_.findFirstIn(l).nonEmpty)
      }
    }
    assert(offenders.isEmpty, s"list, name and publish Delta log files through DeltaLog: " +
      offenders.map(_.getFileName).mkString(", "))
    assert(files.contains(home))
  }
}
