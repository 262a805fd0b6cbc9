package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the engine
  * only ever sees what these produce.
  */
object Gen {

  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val Epoch2024Micros: Long = 1704067200L * 1000000L
  val DayMicros: Long = 86400L * 1000000L

  val EventTypes: Seq[String] = Seq("click", "view", "signup", "purchase", "error")

  /** An `events` table with the schema the engine's corpus derivation reads
    * (event_id, ts, user_id, event_type, value, props): `n` events spread
    * uniformly over `days` days and `users` users, so a conversation (one
    * user-day) averages n / (users * days) turns. A fixed partition count
    * keeps Spark's per-partition `rand` streams, and so the rows,
    * a function of the seed alone.
    */
  def events(spark: SparkSession, n: Long, users: Int, days: Int, seed: Long): DataFrame =
    spark
      .range(0, n, 1, 4)
      .select(
        col("id").as("event_id"),
        timestamp_micros(
          lit(Epoch2024Micros) + floor(rand(seed) * (days.toLong * DayMicros)).cast("long")
        ).as("ts"),
        floor(rand(seed + 1) * users).cast("long").as("user_id"),
        element_at(typedLit(EventTypes), (floor(rand(seed + 2) * EventTypes.size) + 1).cast("int"))
          .as("event_type"),
        round(-log1p(-rand(seed + 3)) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), floor(rand(seed + 4) * 100).cast("long").cast("string"), lit("}"))
          .as("props")
      )

  /** Vocabulary of the `documents` table, most frequent first under the
    * Zipf draw below.
    */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch", "dup")

  /** Draws ranks 0 until n with P(r) proportional to 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = at(rnd.nextDouble())

    /** The rank at quantile `u` in [0, 1). */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  /** A generated document set: the documents plus the planted exact copies. */
  final case class Docs(
      rows: Seq[(Long, String, String, String, Long)],
      exactCopies: Seq[(Long, Long)]
  ) {
    def toDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  /** Zipf exponent of the document tokens. */
  val DocZipfS = 1.1
  /** Every `ClusterEvery`-th document seeds a planted cluster. */
  val ClusterEvery = 10

  /** `n` documents of 20–60 Zipf-skewed tokens. Every [[ClusterEvery]]-th
    * document seeds a cluster: the next document is an exact copy of it
    * and the one after a near copy whose last token is replaced. That edit
    * changes only the last word 3-shingle, so the near copy's 3-shingle
    * Jaccard with its seed is at least (m - 1) / (m + 1) for a seed with m
    * distinct shingles.
    */
  def documents(n: Int, seed: Long): Docs = {
    val rnd = new java.util.Random(seed)
    val zipf = new Zipf(Vocab.size, DocZipfS, rnd)
    val texts = new Array[Array[String]](n)
    val exact = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < n) {
      val pos = i % ClusterEvery
      if (pos == 1 && i >= 1) {
        texts(i) = texts(i - 1).clone()
        exact += ((i - 1).toLong -> i.toLong)
      } else if (pos == 2 && i >= 2) {
        val t = texts(i - 2).clone()
        val at = t.length - 1
        t(at) = Vocab((Vocab.indexOf(t(at)) + 1 + rnd.nextInt(Vocab.size - 1)) % Vocab.size)
        texts(i) = t
      } else texts(i) = Array.fill(20 + rnd.nextInt(41))(Vocab(zipf.next()))
      i += 1
    }
    val rows = (0 until n).map { d =>
      val text = texts(d).mkString(" ")
      (d.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${d % 20}", text.length.toLong)
    }
    Docs(rows, exact.result())
  }

  /** Distinct word 3-shingles of a text, as `DocDedup.wordShingles` makes them. */
  def shingles3(t: String): Set[String] =
    t.toLowerCase.split(" ").sliding(3).map(_.mkString(" ")).toSet

  /** Distinct lowercase character 3-grams of a name, as `Canon.shingles`
    * makes them (none for names shorter than 3).
    */
  def charShingles3(name: String): Set[String] =
    name.toLowerCase.sliding(3).filter(_.length == 3).toSet

  def jaccard(x: Set[String], y: Set[String]): Double =
    (x intersect y).size.toDouble / (x union y).size

  /** A generated graph in the engine's node/edge schema: node rows
    * (node_key, node_type, name, conv_id, turn_idx, body) and edge rows
    * (src_key, dst_key, edge_type).
    */
  final case class Graph(
      nodes: Seq[(String, String, String, String, Int, String)],
      edges: Seq[(String, String, String)]
  ) {
    def nodesDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(nodes).toDF("node_key", "node_type", "name", "conv_id", "turn_idx", "body")
    def edgesDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(edges).toDF("src_key", "dst_key", "edge_type")
  }

  val Entities: IndexedSeq[String] = IndexedSeq(
    "spark", "postgres", "kafka", "redis", "s3", "flink", "airflow", "sparkengine",
    "duckdb", "iceberg", "trino", "hive", "delta", "arrow", "parquet", "orc")

  /** A conversation-shaped graph with degree skew: `convs` conversations
    * CONTAIN 1–6 turns each; each turn MENTIONS up to two entities and
    * CALLS up to two functions, both drawn Zipf(1.2), so a few entities and
    * functions are hubs; functions CALL each other, endpoints have a
    * HANDLER function and pages RENDER endpoints.
    */
  def graph(convs: Int, seed: Long): Graph = {
    val rnd = new java.util.Random(seed * 31 + 7)
    val nodes = Seq.newBuilder[(String, String, String, String, Int, String)]
    val edges = Seq.newBuilder[(String, String, String)]
    def key(t: String, name: String, conv: String = "", turn: Int = -1) = s"$t|$name|$conv|$turn"
    val fnCount = convs / 2
    val fns = (0 until fnCount).map(i => s"handle_${Vocab(i % Vocab.size)}_$i")
    val eps = (0 until 60).map(i => s"/api/${Vocab(i % Vocab.size)}/$i")
    val entZipf = new Zipf(Entities.size, 1.2, rnd)
    val fnZipf = new Zipf(fns.size, 1.2, rnd)
    val epZipf = new Zipf(eps.size, 1.0, rnd)
    Entities.foreach(e => nodes += ((key("Entity", e), "Entity", e, "", -1, "")))
    fns.foreach(f => nodes += ((key("Function", f), "Function", f, "", -1, s"def $f(req): return ${f.split('_')(1)}")))
    eps.zipWithIndex.foreach { case (e, i) =>
      nodes += ((key("Endpoint", e), "Endpoint", e, "", -1, s"GET $e"))
      edges += ((key("Endpoint", e), key("Function", fns(i * 7 % fns.size)), "HANDLER"))
    }
    (0 until 20).foreach { i =>
      val p = s"page_${Vocab(i)}"
      nodes += ((key("Page", p), "Page", p, "", -1, ""))
      (0 until 1 + rnd.nextInt(3)).foreach(_ =>
        edges += ((key("Page", p), key("Endpoint", eps(epZipf.next())), "RENDERS")))
    }
    fns.foreach { f =>
      (0 until rnd.nextInt(4)).foreach(_ =>
        edges += ((key("Function", f), key("Function", fns(fnZipf.next())), "CALLS")))
    }
    (0 until convs).foreach { c =>
      val conv = f"conv-$c%05d-202401${1 + c % 28}%02d"
      val ck = key("Conversation", conv, conv)
      nodes += ((ck, "Conversation", conv, conv, -1, ""))
      (0 until 1 + rnd.nextInt(6)).foreach { t =>
        val ents = Seq.fill(rnd.nextInt(3))(Entities(entZipf.next())).distinct
        val calls = Seq.fill(rnd.nextInt(3))(fns(fnZipf.next())).distinct
        val body = s"please check ${ents.mkString(" and ")} then call ${calls.mkString(", ")}"
        val tk = key("Turn", s"turn-$t", conv, t)
        nodes += ((tk, "Turn", s"turn-$t", conv, t, body))
        edges += ((ck, tk, "CONTAINS"))
        ents.foreach(e => edges += ((tk, key("Entity", e), "MENTIONS")))
        calls.foreach(f => edges += ((tk, key("Function", f), "CALLS")))
      }
    }
    Graph(nodes.result(), edges.result())
  }
}
