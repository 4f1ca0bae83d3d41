package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local("4", "4", "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temporary directory for `body`, deleted recursively after it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
