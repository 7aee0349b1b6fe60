package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one gate for reference-parity tests, whose vectors live in a
  * reference source tree outside this repository. A test reads its data
  * through [[referenceFile]]: when the file is absent the test is
  * canceled — never counted as a check that ran — and the suite ends with
  * one loud line naming how many tests did not run and which files they
  * needed, so a host without the data cannot look green by omission. */
trait ReferenceData extends BeforeAndAfterAll { this: Suite =>
  private val notRun = scala.collection.mutable.LinkedHashSet.empty[String]
  private var notRunTests = 0

  /** `f` when it exists; otherwise records it and cancels the test. */
  protected def referenceFile(f: java.io.File): java.io.File = {
    if (!f.exists()) {
      notRun.synchronized { notRun += f.getPath; notRunTests += 1 }
      cancel(s"reference data unavailable: $f")
    }
    f
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally if (notRunTests > 0)
      Console.err.println(s"*** $suiteName: $notRunTests reference-parity tests NOT RUN: " +
        notRun.mkString(", "))
}
