package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A failure is never dropped: an operation that throws and one whose
  * output fails its digest check both count as failed. */
class LedgerSpec extends AnyFunSuite {

  test("a planted throwing operation and a planted wrong digest both count as failed") {
    val reference = Stats.digest(Seq("[1,a]", "[2,b]"))
    val led = new Ledger
    val outputs = Seq(
      led.op("probe")(Seq("[1,a]", "[2,b]")),
      led.op("probe")(throw new IllegalStateException("planted")),
      led.op("probe")(Seq("[1,a]", "[2,wrong]")),
      led.op("probe")(Seq("[2,b]", "[1,a]")))
    assert(outputs(1).isEmpty)
    // the untimed check pass: compare each output with the reference
    outputs.zipWithIndex.foreach { case (out, i) =>
      out.foreach(rows => if (Stats.digest(rows) != reference) led.failCheck(i, "digest mismatch"))
    }
    assert(led.attempted == 4)
    assert(led.failed == 2)
    assert(led.failedFrac == 0.5)
    assert(led.errors.size == 2)
    assert(led.errors.exists(_.contains("planted")))
    assert(led.errors.exists(_.contains("digest mismatch")))
    // a failed operation still contributes its latency
    assert(led.latencies.size == 4)
  }

  test("a check on an operation that already threw keeps the first error") {
    val led = new Ledger
    led.op("run")(throw new RuntimeException("first"))
    led.failCheck(0, "second")
    assert(led.failed == 1)
    assert(led.errors == Seq("run threw RuntimeException: first"))
  }

  test("fatal errors are not swallowed") {
    val led = new Ledger
    intercept[OutOfMemoryError](led.op("run")(throw new OutOfMemoryError("fatal")))
  }
}
