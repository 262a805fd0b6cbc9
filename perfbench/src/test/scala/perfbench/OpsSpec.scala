package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("thrown operations and failed checks both count as failed") {
    val ops = new Ops
    assert(ops.op("ok")(1)(_ == 1).map(_._1).contains(1))
    assert(ops.op("throws")(sys.error("boom"): Int)(_ => true).isEmpty)
    assert(ops.op("wrong output")(2)(_ == 1).isEmpty)
    assert(ops.op("check throws")(3)(_ => sys.error("bad check")).isEmpty)
    assert(!ops.check("false check")(false))
    assert(ops.check("true check")(true))
    assert(ops.attempted == 6)
    assert(ops.thrown == 1)
    assert(ops.checksFailed == 3)
    assert(ops.failed == 4)
    assert(ops.failRatio == 4.0 / 6)
    assert(ops.failureMessages.size == 4)
  }

  test("a failed operation yields no latency sample") {
    val ops = new Ops
    val samples = Seq(ops.op("a")(())(_ => true), ops.op("b")(())(_ => false)).flatten.map(_._2)
    assert(samples.size == 1)
  }

  test("no operations means no failures") {
    assert(new Ops().failRatio == 0.0)
  }
}
