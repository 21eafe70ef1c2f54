package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = Engine.session(4, "spark.app.name" -> "graft-test")

  /** Date every file under `f` a minute back, past the 2 s racy-mtime
    * window of [[graft.readers.Resolve.Listing]], like files a session
    * re-reads or an index written earlier. */
  def ageFiles(f: java.io.File): Unit =
    if (f.isDirectory) f.listFiles.foreach(ageFiles)
    else assert(f.setLastModified(System.currentTimeMillis() - 60000L))
}
