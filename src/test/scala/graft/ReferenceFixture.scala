package graft

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.fail

/** The reference's own CSV, which the golden end-to-end suites ingest. It
  * lives on a read-only mount outside the repository; when it is absent,
  * every test that reads it fails with this one message instead of a Spark
  * `PATH_NOT_FOUND` stack trace.
  */
object ReferenceFixture {

  private val path = "/root/reference/data/unicorn_inc.csv"

  def csv: String =
    if (Files.isRegularFile(Paths.get(path))) path
    else fail(s"reference fixture missing: $path")
}
