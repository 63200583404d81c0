package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions

/** The one way a ReferenceParitySpec replay reads a file of the
  * reference's own test tree. The replays read these files from a
  * read-only snapshot of the reference that is not part of this
  * repository; `ReferenceFixture("dataset/iris.data")` resolves the
  * file under the snapshot's `testing/` directory and returns its
  * path. On a host without the file the calling test is CANCELED
  * (ScalaTest `assume`) with a message naming the missing path, since
  * its input is absent, not its answer wrong.
  *
  * The guard checks only that the file exists: it wraps no import and
  * catches nothing, so a present fixture that imports wrongly still
  * fails. Resolve a fixture at the top of the test body, outside any
  * `intercept`: a cancellation raised inside one is reported as the
  * intercept's failure. */
object ReferenceFixture {
  private val root: Path = Paths.get("/root/reference/testing")

  def apply(rel: String): String = {
    val p = root.resolve(rel)
    Assertions.assume(Files.isRegularFile(p),
      s"reference fixture $p is not on this host")
    p.toString
  }
}
