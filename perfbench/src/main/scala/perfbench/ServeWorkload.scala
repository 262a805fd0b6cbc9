package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.checkpoint.SnapshotTable
import graft.datapipe.{Ann, DocDedup}
import graft.graphstore.GraphOps
import graft.query.Query
import Workload.materialize

/** `serve`: read-only requests against a materialized graph. Set-up
  * generates a degree-skewed graph in the engine's node/edge schema
  * ([[Gen.graph]]), commits nodes and edges as snapshot tables and serves
  * from their read-back, with the posting and embedding tables
  * materialized. One client sends a seeded request mix in a closed loop;
  * request parameters are drawn Zipf-skewed from the graph's own names and
  * keys, so hubs are hit often. The requests come in blocks of the mix;
  * `op_gmean_ms` and `work_per_s` are the median block's.
  *
  * The traced run adds a batch pass set to each operation: the
  * data-pipeline passes over a generated document table with planted
  * duplicates ([[Gen.documents]]) and canonicalization over the graph's
  * function and entity names, each checked and timed on its own.
  */
final class ServeWorkload(ctx: Ctx) extends Workload(ctx) {
  val Convs = 3000
  val Docs = 300
  val Limit = 10
  val MaxDepth = 4

  private var nodes: DataFrame = _
  private var edges: DataFrame = _
  private var postings: DataFrame = _
  private var emb: DataFrame = _
  private var docs: DataFrame = _
  private var names: DataFrame = _
  private var truth: ServeWorkload.Truth = _
  private var mix: ServeWorkload.Mix = _
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val execMs = mutable.ArrayBuffer.empty[Double]
  private val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val lshRecall = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    Harness.purgeExcept(spark, Set.empty)
    val gen = Gen.graph(Convs, seed)
    val storeDir = ctx.dir(s"serve-store-$rep")
    SnapshotTable.commit(gen.nodesDF(spark), s"$storeDir/nodes", "nodes")
    SnapshotTable.commit(gen.edgesDF(spark), s"$storeDir/edges", "edges")
    nodes = materialize(SnapshotTable.read(spark, s"$storeDir/nodes").get)
    edges = materialize(SnapshotTable.read(spark, s"$storeDir/edges").get)
    postings = materialize(Query.buildPostings(nodes))
    emb = materialize(Ann.nodeEmbeddings(nodes))
    val genDocs = Gen.documents(Docs, seed)
    docs = materialize(genDocs.toDF(spark))
    names = materialize(nodes.where(col("node_type").isin(ServeWorkload.CanonTypes: _*))
      .select("name").distinct())
    keepPersisted()
    if (truth == null) {
      truth = new ServeWorkload.Truth(gen, genDocs)
      mix = new ServeWorkload.Mix(truth.g, seed)
    }
    ctx.info("nodes") = truth.g.info.size.toString
    ctx.info("edges") = truth.g.edgeCount.toString
    ctx.info("documents") = Docs.toString
    ctx.info("canon_names") = truth.names.size.toString
  }

  /** One untimed request of each kind: a long-running server is warm. */
  override def warmUp(): Unit = ServeWorkload.Kinds.foreach(k => call(mix.draw(k)))

  /** Runs one request or pass under a span of its layer: its DataFrame is
    * planned, then collected, and the rows are checked against the
    * generated inputs. Returns (rows, planning ms, total ms) if it
    * succeeded.
    */
  private def call(r: ServeWorkload.Req): Option[(Seq[Row], Double, Double)] = {
    val layer = ServeWorkload.layerOf(r.kind)
    var plan = 0.0
    val res = ctx.ops.op(s"$layer.${r.kind}") {
      ctx.span(r.kind, layer) {
        val t0 = now
        val df = r.run(this)
        df.queryExecution.executedPlan
        plan = (now - t0) / 1e6
        df.collect().toSeq
      }
    }(rows => r.check(rows, truth))
    purge()
    res.map { case (rows, ms) => (rows, plan, ms) }
  }

  /** A request whose latency is recorded: returns its milliseconds. */
  private def request(r: ServeWorkload.Req): Option[Double] =
    call(r).map { case (_, plan, ms) =>
      planMs += plan
      execMs += ms - plan
      byOp.getOrElseUpdate(r.kind, mutable.ArrayBuffer.empty) += ms
      ms
    }

  /** Latencies of each measured block's successful requests, ms. */
  private val blocks = mutable.ArrayBuffer.empty[Seq[Double]]

  /** Sends at least [[ServeWorkload.MinBlocks]] blocks of requests, and
    * whole blocks until the deadline has passed.
    */
  def measure(deadlineNs: Long): Unit =
    while (blocks.size < ServeWorkload.MinBlocks || now < deadlineNs) {
      val b = Seq.fill(ServeWorkload.BlockSize)(mix.next()).flatMap(request)
      ctx.samples ++= b
      blocks += b
    }

  /** The median block's geometric-mean latency: a closed loop's figures
    * from the middle block, so that a block that meets a busy moment of
    * the machine does not move them.
    */
  override def opGmeanMs: Double = Stats.median(blocks.filter(_.nonEmpty).map(Stats.geomean).toSeq)

  /** Seconds of each recorded pass set. */
  private val passSeconds = mutable.ArrayBuffer.empty[Double]

  /** Runs every batch pass once; when `record`, adds each pass's time,
    * its per-layer counts and, if every pass succeeded, the pass set's
    * seconds.
    */
  private def passSet(record: Boolean): Unit = {
    val t0 = now
    val ok = ServeWorkload.Passes.map { r =>
      call(r).map { case (rows, _, ms) =>
        if (record) {
          byOp.getOrElseUpdate(r.kind, mutable.ArrayBuffer.empty) += ms
          r.kind match {
            case "lsh" => lshRecall += rows.size.toDouble / truth.docs.pairs(r.t).size.max(1)
            case "canon_pairs" => add("canon.pairs", rows.size)
            case "canon_clusters" => add("canon.clusters", rows.map(_.getString(1)).distinct.size)
            case _ =>
          }
        }
      }.isDefined
    }
    if (record && ok.forall(identity)) passSeconds += Harness.secondsSince(t0)
  }

  def verify(): Unit =
    ctx.ops.check("serve: snapshot read-back has every generated node and edge")(
      Harness.countGraph(nodes, edges) == (truth.g.info.size.toLong, truth.g.edgeCount))

  def report(): Unit = {
    if (ctx.samples.nonEmpty) {
      // requests per second of the median block, counting the time inside
      // requests: drawing and checking them is the benchmark's work
      ctx.e2e("work_per_s") = Stats.median(blocks.filter(_.nonEmpty).map(b => b.size * 1e3 / b.sum).toSeq) -> "1/s"
      ctx.info("block_seconds") = blocks.map(b => f"${b.sum / 1e3}%.3f").mkString(", ")
      val s = ctx.samples.toSeq
      ctx.info("query_p50_ms") = f"${Stats.median(s)}%.2f ms"
      ctx.info("query_p90_ms") =
        f"${Stats.percentile(s, 0.9)}%.2f ms (${Stats.beyond(s, 0.9)} of ${s.size} samples beyond)"
    }
    if (passSeconds.nonEmpty) {
      val p = Stats.median(passSeconds.toSeq)
      ctx.info("dedup_pass_set_s") = f"$p%.3f s (${ServeWorkload.Passes.map(_.kind).mkString(", ")})"
      ctx.info("dedup_docs_per_s") = f"${Docs / p}%.1f docs/s"
    }
    ctx.info("calls_by_kind") =
      byOp.map { case (k, v) => f"$k=${v.size}/${Stats.median(v.toSeq)}%.1fms" }.mkString(" ")
  }

  /** One traced operation is one block of requests, the batch pass set,
    * and a commit and read-back of the graph as snapshot tables.
    */
  def traceRun(deadlineNs: Long): (Seq[Double], Seq[Double], Int) = {
    val block = Seq.fill(ServeWorkload.BlockSize)(mix.next())
    var rounds = 0
    var requests = 0
    val r = alternate(deadlineNs) { traced =>
      block.zipWithIndex.foreach { case (q, i) =>
        ctx.tracer.inRequest(requests.toLong + i) {
          if (traced) request(q) else call(q)
        }
      }
      ctx.tracer.inRequest(-1L) {
        passSet(record = traced)
        checkpointCycle(traced)
      }
      if (traced) { requests += block.size; rounds += 1 }
    }
    finishTrace(rounds)
    val m = ctx.layer
    byOp.foreach { case (k, v) =>
      val med = Stats.median(v.toSeq)
      ServeWorkload.layerOf(k) match {
        case "query" | "graphstore" => Layers.set(m, s"${ServeWorkload.layerOf(k)}.$k.p50_ms", med)
        case "datapipe" => Layers.set(m, s"datapipe.$k.wall_s", med / 1e3)
        case _ =>
      }
    }
    if (lshRecall.nonEmpty) Layers.set(m, "datapipe.lsh_recall", Stats.median(lshRecall.toSeq))
    if (planMs.nonEmpty) {
      Layers.set(m, "query.plan_ms", Stats.median(planMs.toSeq))
      Layers.set(m, "query.exec_ms", Stats.median(execMs.toSeq))
    }
    val spans = ctx.tracer.spans
    def sumsOf(p: Span => Boolean): TaskSums = {
      val t = new TaskSums
      spans.filter(p).foreach(s => t += ctx.tracer.sums(s))
      t
    }
    val reqSpans = spans.filter(s => s.parent.isEmpty && s.request >= 0)
    val reqSums = sumsOf(reqSpans.contains)
    Layers.set(m, "query.jobs_per_request", reqSums.jobs.toDouble / reqSpans.size.max(1))
    Layers.set(m, "query.shuffle_bytes_per_request",
      reqSums.shuffleWriteBytes.toDouble / reqSpans.size.max(1))
    Layers.set(m, "datapipe.ngram.shuffle_write_bytes",
      sumsOf(_.name == "ngram").shuffleWriteBytes.toDouble / rounds.max(1))
    r
  }

  private var cycles = 0

  /** Commits nodes and edges as snapshot tables under a fresh directory
    * and reads both back, each call in its own span; counts the files the
    * commits left.
    */
  private def checkpointCycle(traced: Boolean): Unit = {
    cycles += 1
    val dir = ctx.dir(s"serve-ckpt-$cycles")
    ctx.ops.op("checkpoint.commit_read") {
      Seq("nodes" -> nodes, "edges" -> edges).map { case (t, df) =>
        ctx.span(s"SnapshotTable.commit($t)", "checkpoint") {
          SnapshotTable.commit(df, s"$dir/$t", t)
        }
        val back = ctx.span(s"SnapshotTable.read($t)", "checkpoint") {
          SnapshotTable.read(spark, s"$dir/$t").get.count()
        }
        back == df.count()
      }
    }(_.forall(identity))
    if (traced) add("checkpoint.files_written", Harness.du(dir)._2)
  }

  // request and pass bodies, called by ServeWorkload.Req.run
  private[perfbench] def findByName(t: String, n: String): DataFrame =
    GraphOps.findNodesByName(nodes, t, n).select("node_key", "node_type", "name")
  private[perfbench] def edgeType(st: String, dt: String, et: String): DataFrame =
    GraphOps.findNodesWithEdgeType(nodes, edges, st, dt, et).limit(Limit)
  private[perfbench] def degrees(key: String): DataFrame =
    GraphOps.degrees(nodes.where(col("node_key") === key), edges)
      .select("node_key", "in_degree", "out_degree")
  private[perfbench] def search(term: String): DataFrame = Query.search(nodes, term, Limit)
  private[perfbench] def searchIndexed(q: String): DataFrame =
    Query.searchIndexed(postings, nodes, q, Limit)
  private[perfbench] def ann(key: String): DataFrame =
    Ann.nodeVectorSearchOver(emb, key, 0.0, Limit)
  private[perfbench] def rrf(term: String, key: String): DataFrame =
    Query.rrfFuse(Seq(
      search(term).select("node_key", "score") -> 1.0,
      searchIndexed(term).select("node_key", "score") -> 1.0,
      ann(key).select(col("node_key"), col("cos").as("score")) -> 1.5), 5, Limit)
  private[perfbench] def expand(key: String, reverse: Boolean): DataFrame = {
    import spark.implicits._
    Query.expand(edges, Seq(key).toDF("node_key"), 2, Nil, reverse)
  }
  private[perfbench] def path(a: String, b: String): DataFrame =
    Query.shortestPath(edges, a, b, MaxDepth)
  private[perfbench] def exact(): DataFrame = DocDedup.exact(docs)
  private[perfbench] def lsh(t: Double): DataFrame = DocDedup.nearDupPairs(docs, t)
  private[perfbench] def ngram(t: Double): DataFrame = DocDedup.ngramJaccardPairs(docs, t)
  private[perfbench] def simhash(): DataFrame = DocDedup.simhash(docs)
  private[perfbench] def canonPairs(t: Double): DataFrame =
    Canon.candidatePairs(names, t).select("name_a", "name_b")
  private[perfbench] def canonClusters(t: Double): DataFrame =
    Canon.clusters(names, t).select("name", "cluster")
}

object ServeWorkload {

  /** Request kinds and how many of each one block of the mix holds. No
    * query log exists to weigh them by, so a kind's weight is the number of
    * query surfaces the engine registers (`SparkEntry`) whose main call it
    * is: `kg_find_by_name`, `kg_nodes_with_edge_type`, `kg_degrees`,
    * `kg_search`, `kg_search_indexed` and `kg_node_vector_search` one each;
    * `kg_hybrid_search`, `_provenance`, `_tri` and `_search_budget` four
    * reciprocal-rank fusions; `kg_subtree`, `kg_subtree_directed` and
    * `kg_impact` three BFS expansions; `kg_path` and `kg_path_typed` two
    * shortest paths. Blocks are shuffled per seed.
    */
  val Block: Seq[(String, Int)] = Seq(
    "find_by_name" -> 1, "edge_type" -> 1, "degrees" -> 1, "search" -> 1,
    "search_indexed" -> 1, "ann" -> 1, "rrf_fuse" -> 4, "expand" -> 3, "shortest_path" -> 2)
  val Kinds: Seq[String] = Block.map(_._1)
  val BlockSize: Int = Block.map(_._2).sum

  /** Blocks an untraced run measures at least; its figures come from
    * the median block. On a shared 4-vCPU machine a block takes about
    * 10–12 s, and a busy moment of the host can slow one block by half.
    */
  val MinBlocks = 3

  /** Step of the stratified parameter streams: the golden-ratio fraction. */
  val Golden: Double = (math.sqrt(5) - 1) / 2

  /** Hop distance between the two ends of every shortest-path request. */
  val PathHops = 2

  /** Near-duplicate thresholds of the engine's registered dedup surfaces
    * (`dp_neardup_lsh`, `dp_ngram_jaccard`) and canonicalization surfaces
    * (`kg_canon_pairs`).
    */
  val LshJaccard = 0.5
  val NgramJaccard = 0.8
  val CanonJaccard = 0.5

  /** The batch pass set: one pass of each registered dedup surface over
    * the documents, and canonicalization over the name dimension.
    */
  val Passes: Seq[Req] = Seq(
    Req("exact"), Req("lsh", t = LshJaccard), Req("ngram", t = NgramJaccard), Req("simhash"),
    Req("canon_pairs", t = CanonJaccard), Req("canon_clusters", t = CanonJaccard))

  /** Node types whose names form canonicalization's name dimension. */
  val CanonTypes: Seq[String] = Seq("Function", "Entity")

  def layerOf(kind: String): String =
    if (Layers.GraphstoreOps.contains(kind)) "graphstore"
    else if (Layers.DatapipeOps.contains(kind)) "datapipe"
    else if (kind.startsWith("canon_")) "canon"
    else "query"

  /** What the checks compare results with, computed in memory from the
    * generated inputs.
    */
  final class Truth(gen: Gen.Graph, d: Gen.Docs) {
    val g: DriverGraph = DriverGraph(gen)
    val names: Seq[String] =
      gen.nodes.collect { case (_, t, n, _, _, _) if CanonTypes.contains(t) => n }.distinct.sorted
    /** Needed only by the batch passes of a traced run. */
    lazy val docs: DocTruth = DocTruth(d)
    lazy val namePairs: Set[(String, String)] = jaccardPairs(names, CanonJaccard)
  }

  /** Every pair (a < b) of `names` whose character 3-gram Jaccard is at
    * least `min`, by exhaustive comparison over sorted shingle ids.
    */
  def jaccardPairs(names: Seq[String], min: Double): Set[(String, String)] = {
    val sh = names.map(n => n -> Gen.charShingles3(n)).filter(_._2.nonEmpty).toIndexedSeq
    val ids = sh.flatMap(_._2).distinct.zipWithIndex.toMap
    val arr = sh.map(_._2.toArray.map(ids).sorted)
    def inter(x: Array[Int], y: Array[Int]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { n += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1
        else j += 1
      }
      n
    }
    val out = Set.newBuilder[(String, String)]
    for (i <- arr.indices; j <- i + 1 until arr.size) {
      val n = inter(arr(i), arr(j))
      if (n.toDouble / (arr(i).length + arr(j).length - n) >= min) {
        val (a, b) = (sh(i)._1, sh(j)._1)
        out += (if (a < b) (a, b) else (b, a))
      }
    }
    out.result()
  }

  /** Ground truth for the document passes. */
  final case class DocTruth(docs: Gen.Docs, pairs: Map[Double, Set[(Long, Long)]], distinctTexts: Int)

  object DocTruth {
    def apply(d: Gen.Docs): DocTruth = {
      val texts = d.rows.map(r => r._1 -> r._2)
      val sh = texts.map { case (i, t) => i -> Gen.shingles3(t) }
      val ts = Seq(LshJaccard, NgramJaccard)
      val all = for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        j = Gen.jaccard(sa, sb) if j >= ts.min
      } yield ((a, b), j)
      DocTruth(d, ts.map(t => t -> all.collect { case (p, j) if j >= t => p }.toSet).toMap,
        texts.map(_._2).distinct.size)
    }
  }

  final case class NodeInfo(nodeType: String, name: String, body: String, conv: String)

  /** The whole graph on the driver, for checking request results. */
  final case class DriverGraph(
      info: Map[String, NodeInfo],
      out: Map[String, Seq[String]],
      in: Map[String, Seq[String]],
      typed: Map[(String, String, String), Seq[(String, String)]],
      edgeCount: Long
  ) {
    def degree(k: String): Int = out.getOrElse(k, Nil).size + in.getOrElse(k, Nil).size

    /** BFS depths from `start` along out- (or in-) edges, up to `depth`. */
    def bfs(start: String, depth: Int, reverse: Boolean): Map[String, Int] =
      walk(start, depth, k => (if (reverse) in else out).getOrElse(k, Nil))

    /** Undirected hop distance from a to b, if within `depth`. */
    def distance(a: String, b: String, depth: Int): Option[Int] =
      walk(a, depth, k => out.getOrElse(k, Nil) ++ in.getOrElse(k, Nil)).get(b)

    /** Nodes exactly `d` undirected hops from `start`. */
    def ring(start: String, d: Int): Seq[String] =
      walk(start, d, k => out.getOrElse(k, Nil) ++ in.getOrElse(k, Nil)).collect { case (k, `d`) => k }.toSeq

    def adjacent(a: String, b: String): Boolean =
      out.getOrElse(a, Nil).contains(b) || out.getOrElse(b, Nil).contains(a)

    private def walk(start: String, depth: Int, next: String => Seq[String]): Map[String, Int] = {
      val seen = mutable.LinkedHashMap(start -> 0)
      var frontier = Seq(start)
      var d = 0
      while (d < depth && frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(next).distinct.filterNot(seen.contains)
        frontier.foreach(seen(_) = d)
      }
      seen.toMap
    }
  }

  object DriverGraph {
    def apply(gen: Gen.Graph): DriverGraph = {
      val info = gen.nodes.map { case (k, t, n, c, _, b) => k -> NodeInfo(t, n, b, c) }.toMap
      val es = gen.edges
      val typed = es.groupBy { case (s, d, t) => (info(s).nodeType, info(d).nodeType, t) }
        .map { case (k, v) => k -> v.map { case (s, d, _) => (info(s).name, info(d).name) } }
      DriverGraph(
        info,
        es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
        es.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) },
        typed,
        es.size.toLong)
    }
  }

  def tokens(s: String): Set[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet

  /** One request: what it runs and how its rows are checked. */
  final case class Req(
      kind: String, a: String = "", b: String = "", c: String = "", flag: Boolean = false, t: Double = 0.0) {
    def run(w: ServeWorkload): DataFrame = kind match {
      case "find_by_name" => w.findByName(a, b)
      case "edge_type" => w.edgeType(a, b, c)
      case "degrees" => w.degrees(a)
      case "search" => w.search(a)
      case "search_indexed" => w.searchIndexed(a)
      case "ann" => w.ann(a)
      case "rrf_fuse" => w.rrf(a, b)
      case "expand" => w.expand(a, flag)
      case "shortest_path" => w.path(a, b)
      case "exact" => w.exact()
      case "lsh" => w.lsh(t)
      case "ngram" => w.ngram(t)
      case "simhash" => w.simhash()
      case "canon_pairs" => w.canonPairs(t)
      case "canon_clusters" => w.canonClusters(t)
    }

    def check(rows: Seq[Row], truth: Truth): Boolean = {
      val g = truth.g
      lazy val d = truth.docs
      kind match {
        case "find_by_name" =>
          rows.nonEmpty && rows.forall(r => r.getString(1) == a && r.getString(2) == b)
        case "edge_type" =>
          val want = g.typed((a, b, c))
          rows.size == want.size.min(10) &&
            rows.forall(r => want.contains((r.getAs[String]("src_name"), r.getAs[String]("dst_name"))))
        case "degrees" =>
          rows.size == 1 && rows.head.getLong(1) == g.in.getOrElse(a, Nil).size &&
            rows.head.getLong(2) == g.out.getOrElse(a, Nil).size
        case "search" =>
          val t = a.toLowerCase
          rows.nonEmpty && rows.forall { r =>
            val n = g.info(r.getString(0))
            Seq(n.name, n.body, n.conv).exists(_.toLowerCase.contains(t))
          }
        case "search_indexed" =>
          val terms = tokens(a)
          rows.nonEmpty && rows.forall { r =>
            val n = g.info(r.getString(0))
            (tokens(n.name) ++ tokens(n.body)).exists(terms.contains)
          }
        case "ann" =>
          val cos = rows.map(_.getDouble(1))
          rows.size <= 10 && rows.forall(_.getString(0) != a) && cos == cos.sortBy(-_)
        case "rrf_fuse" =>
          rows.nonEmpty && rows.size <= 10 && rows.map(_.getString(0)).distinct.size == rows.size &&
            rows.forall(_.getDouble(1) > 0)
        case "expand" =>
          // every visited node sits at its BFS depth (<= 2), so each one at
          // depth d > 0 is reached by an edge from a node at depth d - 1
          rows.map(r => r.getString(0) -> r.getInt(1)).toMap == g.bfs(a, 2, flag)
        case "shortest_path" =>
          g.distance(a, b, 4) match {
            case None => rows.isEmpty
            case Some(d) =>
              rows.size == 1 && rows.head.getInt(1) == d && {
                val p = rows.head.getString(0).split("->").toSeq
                p.head == a && p.last == b && p.size == d + 1 &&
                  p.zip(p.tail).forall { case (x, y) => g.adjacent(x, y) }
              }
          }
        case "exact" =>
          val dups = rows.map(r => r.getAs[Long]("keep_doc_id") -> r.getAs[Long]("n_dups")).toMap
          rows.size == d.distinctTexts &&
            d.docs.exactCopies.forall { case (x, _) => dups.get(x).exists(_ >= 2) }
        case "lsh" =>
          val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toSet
          got.subsetOf(d.pairs(t)) && d.docs.exactCopies.forall(got.contains)
        case "ngram" =>
          rows.map(r => r.getLong(0) -> r.getLong(1)).toSet == d.pairs(t)
        case "simhash" =>
          val bits = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
          bits.size == d.docs.rows.size && bits.values.forall(_.length == 32) &&
            d.docs.exactCopies.forall { case (x, y) => bits(x) == bits(y) }
        case "canon_pairs" =>
          // the Jaccard gate is exact, so every pair is a true pair; the
          // generated names have near-duplicates, so some pair is found
          val got = rows.map(r => r.getString(0) -> r.getString(1))
          got.nonEmpty && got.distinct.size == got.size && got.forall(truth.namePairs.contains)
        case "canon_clusters" =>
          // one row per name; a cluster is labelled by its smallest member,
          // and its members are joined by true pairs (so connected)
          val label = rows.map(r => r.getString(0) -> r.getString(1)).toMap
          val members = label.toSeq.groupBy(_._2).map { case (c, v) => c -> v.map(_._1).toSet }
          rows.size == truth.names.size && label.keySet == truth.names.toSet &&
            members.exists(_._2.size > 1) &&
            members.forall { case (c, ms) =>
              ms.contains(c) && ms.forall(_ >= c) && ServeWorkload.connected(ms, truth.namePairs)
            }
      }
    }
  }

  /** Whether `names` form one connected component under `pairs`. */
  def connected(names: Set[String], pairs: Set[(String, String)]): Boolean = {
    val adj = pairs.iterator.filter { case (a, b) => names(a) && names(b) }
      .flatMap { case (a, b) => Iterator(a -> b, b -> a) }.toSeq.groupMap(_._1)(_._2)
    val seen = mutable.Set(names.head)
    var frontier = List(names.head)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filter(seen.add)
    }
    seen.size == names.size
  }

  /** Seeded request generator. */
  final class Mix(g: DriverGraph, seed: Long) {
    private val rnd = new java.util.Random(seed * 7919 + 17)
    private var block = List.empty[String]

    /** Node keys ranked by degree: hubs first. */
    private val hot: IndexedSeq[String] =
      g.info.keys.toIndexedSeq.sortBy(k => (-g.degree(k), k)).take(500)
    private val hotZipf = new Gen.Zipf(hot.size, 1.0, rnd)
    /** Search terms from the hot nodes' names, most frequent first. */
    private val terms: IndexedSeq[String] = hot
      .flatMap(k => tokens(g.info(k).name)).filter(_.length >= 3)
      .groupBy(identity).toIndexedSeq.sortBy { case (t, v) => (-v.size, t) }.map(_._1)
    private val termZipf = new Gen.Zipf(terms.size, 1.0, rnd)
    private val triples: IndexedSeq[(String, String, String)] =
      g.typed.toIndexedSeq.sortBy { case (k, v) => (-v.size, k.toString) }.map(_._1)
    private val tripleZipf = new Gen.Zipf(triples.size, 1.0, rnd)

    /** Stratified uniform draws, one stream per request parameter: a
      * stream steps by the golden ratio from a seeded start, so the draws
      * of one run cover [0, 1) evenly. Every run then sends about the same
      * share of hub requests, and the seed moves which keys are drawn, not
      * how skewed a run is.
      */
    private val streams = mutable.Map.empty[String, Double]
    private def u(stream: String): Double = {
      val x = (streams.getOrElseUpdate(stream, rnd.nextDouble()) + Golden) % 1.0
      streams(stream) = x
      x
    }

    private def key(stream: String) = hot(hotZipf.at(u(stream)))
    private def term(stream: String) = terms(termZipf.at(u(stream)))

    /** A BFS start and direction whose depth-2 expansion reaches depth 2,
      * so every expansion runs both levels.
      */
    private def expandStart(): (String, Boolean) =
      Iterator.continually(key("expand"))
        .map(a => a -> Seq(false, true).filter(rev => g.bfs(a, 2, rev).valuesIterator.contains(2)))
        .collectFirst { case (a, dirs) if dirs.nonEmpty => a -> dirs(rnd.nextInt(dirs.size)) }.get

    /** A shortest-path pair exactly [[PathHops]] hops apart, so every path
      * request runs the same number of BFS levels: a hot start, and an end
      * drawn Zipf by degree among the nodes at that distance.
      */
    private def pathPair(): (String, String) = {
      val (a, ring) =
        Iterator.continually(key("shortest_path")).map(a => a -> g.ring(a, PathHops)).find(_._2.nonEmpty).get
      val byDegree = ring.sortBy(k => (-g.degree(k), k)).toIndexedSeq
      (a, byDegree(new Gen.Zipf(byDegree.size, 1.0, rnd).at(u("shortest_path.end"))))
    }

    def next(): Req = {
      if (block.isEmpty) {
        val kinds = new java.util.ArrayList[String]()
        Block.foreach { case (k, n) => (1 to n).foreach(_ => kinds.add(k)) }
        java.util.Collections.shuffle(kinds, rnd)
        block = kinds.toArray(Array.empty[String]).toList
      }
      val k = block.head
      block = block.tail
      draw(k)
    }

    def draw(kind: String): Req = kind match {
      case "find_by_name" => val n = g.info(key(kind)); Req(kind, n.nodeType, n.name)
      case "edge_type" => val (s, d, t) = triples(tripleZipf.at(u(kind))); Req(kind, s, d, t)
      case "degrees" => Req(kind, key(kind))
      case "search" => Req(kind, term(kind))
      case "search_indexed" => Req(kind, term(kind))
      case "ann" => Req(kind, key(kind))
      case "rrf_fuse" => Req(kind, term(kind), key(kind))
      case "expand" => val (a, rev) = expandStart(); Req(kind, a, flag = rev)
      case "shortest_path" => val (a, b) = pathPair(); Req(kind, a, b)
    }
  }
}
