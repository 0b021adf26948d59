package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Loud skips for tests that need the reference's real instrument files
  * and configs. [[assumeFixture]] makes the plain `assume` on the file's
  * existence, so a test still cancels when the file is absent, and records
  * the miss. After the suite's tests one line names the count and the
  * missing paths:
  * {{{ [fixtures] <Suite>: <n> canceled, missing <path>[, <path>…] }}}
  * A run without the fixtures then says how much it did not exercise.
  */
trait FixtureReport extends BeforeAndAfterAll { this: Suite =>
  private val missing = scala.collection.mutable.LinkedHashSet.empty[String]
  private var canceled = 0

  protected def assumeFixture(path: String, clue: Any = ""): Unit = {
    val present = new java.io.File(path).exists()
    if (!present) synchronized { canceled += 1; missing += path }
    assume(present, clue)
  }

  override def afterAll(): Unit =
    try {
      if (canceled > 0)
        println(s"[fixtures] $suiteName: $canceled canceled, missing ${missing.mkString(", ")}")
    } finally super.afterAll()
}
