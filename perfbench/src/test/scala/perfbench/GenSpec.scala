package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("events are a function of the seed") {
    def rows(seed: Long) = Gen.events(spark, 2000, 40, 30, seed).collect().toSeq
    assert(rows(7) == rows(7))
    assert(rows(7) != rows(8))
    val r = rows(7)
    assert(r.map(_.getAs[Long]("event_id")).distinct.size == 2000)
    assert(r.map(_.getAs[String]("event_type")).toSet.subsetOf(Gen.EventTypes.toSet))
  }

  test("Zipf quantiles rise with u, favour low ranks and reach every rank") {
    val z = new Gen.Zipf(50, 1.0, new java.util.Random(1))
    val us = (0 until 10000).map(_ / 10000.0)
    val ranks = us.map(z.at)
    assert(ranks == ranks.sorted)
    assert(ranks.head == 0 && ranks.toSet == (0 until 50).toSet)
    assert(ranks.count(_ == 0) > ranks.count(_ == 1))
  }

  test("documents are a function of the seed, with planted copies") {
    val a = Gen.documents(200, 3)
    assert(a == Gen.documents(200, 3))
    assert(a.rows != Gen.documents(200, 4).rows)
    assert(a.exactCopies.size == 20)
    val text = a.rows.map(r => r._1 -> r._2).toMap
    a.exactCopies.foreach { case (x, y) => assert(text(x) == text(y)) }
    // the near copy of each cluster seed differs in its last token only
    (0 until 200 by 10).filter(_ + 2 < 200).foreach { i =>
      val (s, n) = (text(i.toLong).split(" "), text(i.toLong + 2).split(" "))
      assert(s.init.sameElements(n.init) && s.last != n.last)
    }
  }

  test("the graph is a function of the seed, with skewed entity degrees") {
    val g = Gen.graph(300, 5)
    assert(g == Gen.graph(300, 5))
    assert(g != Gen.graph(300, 6))
    val keys = g.nodes.map(_._1).toSet
    assert(keys.size == g.nodes.size)
    assert(g.edges.forall { case (s, d, _) => keys(s) && keys(d) })
    val mentions = g.edges.filter(_._3 == "MENTIONS").groupBy(_._2).map(_._2.size).toSeq.sorted
    assert(mentions.last > 5 * mentions(mentions.size / 2))
  }

  test("the request mix is a function of the seed and keeps block proportions") {
    val g = ServeWorkload.DriverGraph(Gen.graph(300, 5))
    def reqs(seed: Long) = {
      val m = new ServeWorkload.Mix(g, seed)
      Seq.fill(2 * ServeWorkload.BlockSize)(m.next())
    }
    assert(reqs(1) == reqs(1))
    assert(reqs(1) != reqs(2))
    reqs(1).grouped(ServeWorkload.BlockSize).foreach { b =>
      assert(b.groupBy(_.kind).map { case (k, v) => k -> v.size } == ServeWorkload.Block.toMap)
    }
  }

  test("the table digest ignores row order and sees a changed row") {
    import spark.implicits._
    val a = Seq((1, "x", Map("k" -> "v", "j" -> "w")), (2, "y", Map.empty[String, String])).toDF("i", "s", "m")
    val b = Seq((2, "y", Map.empty[String, String]), (1, "x", Map("j" -> "w", "k" -> "v"))).toDF("i", "s", "m")
    val c = Seq((1, "x", Map("k" -> "v", "j" -> "w")), (2, "z", Map.empty[String, String])).toDF("i", "s", "m")
    assert(Harness.digest(a) == Harness.digest(b.repartition(2)))
    assert(Harness.digest(a) != Harness.digest(c))
  }
}
