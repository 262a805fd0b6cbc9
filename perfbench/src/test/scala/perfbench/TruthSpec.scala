package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TruthSpec extends AnyFunSuite {

  test("name pairs are exactly the pairs at or above the Jaccard threshold") {
    val names = Seq("handle_spark_1", "handle_spark_2", "handle_kafka_1", "ab", "xyz")
    val pairs = ServeWorkload.jaccardPairs(names, 0.5)
    val want = for {
      i <- names.indices; j <- i + 1 until names.size
      (a, b) = (names(i), names(j))
      (x, y) = (Gen.charShingles3(a), Gen.charShingles3(b))
      if x.nonEmpty && y.nonEmpty && Gen.jaccard(x, y) >= 0.5
    } yield if (a < b) (a, b) else (b, a)
    assert(pairs == want.toSet)
    assert(pairs.contains(("handle_spark_1", "handle_spark_2")))
    assert(!pairs.exists { case (a, b) => a == "ab" || b == "ab" })
  }

  test("a cluster is connected only if its pairs join every member") {
    val pairs = Set(("a", "b"), ("b", "c"), ("x", "y"))
    assert(ServeWorkload.connected(Set("a", "b", "c"), pairs))
    assert(!ServeWorkload.connected(Set("a", "b", "x"), pairs))
    assert(ServeWorkload.connected(Set("q"), pairs))
  }
}
