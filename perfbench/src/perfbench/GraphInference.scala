package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.{Checkpoints, SparkEntry}
import graft.graphx.Analytics
import graft.rdf.{PropertyGraph, TripleStore}

/** Iterative graph analytics and reasoning, run through the matching
  * `SparkEntry` keys (so they read the store's edge sets exactly as the
  * keys derive them) and checked against those keys' oracle SQL;
  * `shortest_hops`, whose landmarks are seeded, has no key and is
  * checked by a breadth-first search over the base tables.
  */
object GraphInference extends Workload {
  import Workloads._
  val name = "graph_inference"

  /** Algorithm → the SparkEntry key whose oracle checks it. */
  val keys: Seq[(String, String)] = Seq(
    "pagerank" -> "graph_pagerank",
    "connected_components" -> "graph_connected_components",
    "kcore" -> "graph_kcore",
    "label_propagation" -> "graph_label_propagation",
    "shortest_hops" -> "",
    "nodes_with_label" -> "infer_nodes_with_label",
    "sameas_canonicalize" -> "infer_sameas_canon")

  def layer(kind: String): String =
    if (kind == "nodes_with_label" || kind == "sameas_canonicalize") "inference" else "graphx"

  override def minCycles: Int = 2
  override def warmCycles: Int = 1

  def cycles(seed: Long, f: Facts): Iterator[Seq[Op]] = {
    val rnd = new Random(seed)
    val ids = new Ids
    Iterator.continually {
      rnd.shuffle(keys.map(_._1)).map { kind =>
        if (kind != "shortest_hops") ids.op(kind, "")
        else ids.op(kind, "", "landmarks" ->
          rnd.shuffle((0 until 25).toList).take(2).sorted.map(n => s"nat:$n").mkString(","))
      }
    }
  }

  def run(c: Ctx, op: Op): Answer.T = {
    val s = c.spark
    val call = s"${layer(op.kind)}.${op.kind}"
    val df = c.tr.phase(call) {
      if (op.kind != "shortest_hops") SparkEntry.queries(keys.toMap.apply(op.kind))(s, c.dir)
      else {
        // the geo graph the graph keys use, from seed-drawn landmarks
        val geo = PropertyGraph.edges(TripleStore.dimensionTriples(s, c.dir))
          .filter(col("rel").isin(":hasNation", ":inRegion")).select(col("src"), col("dst"))
        val ls = op.args("landmarks").split(",").toSeq
        Analytics.shortestHops(s, geo, s.createDataFrame(ls.map(Tuple1(_))).toDF("uri"))
      }
    }
    val rows = c.tr.phase("spark.exec")(df.collect())
    c.tr.catalyst(df)
    Answer.of(rows)
  }

  override def between(c: Ctx): Unit = {
    graft.pipeline.Dedup.releaseCaches()
    Analytics.releaseCaches()
    Checkpoints.releaseCaches(blocking = true)
  }

  /** Oracle SQL is written for DuckDB; `//` is its integer division.
    * Oracle answers depend only on the fixture and the oracle text, so
    * they are computed once per fixture and kept beside it.
    */
  private def sparkSql(q: String): String = q.replace("//", " div ")

  def expected(c: Ctx, f: Facts, ops: Seq[Op]): Map[Int, Answer.T] = {
    // the oracle queries are independent: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val byKind = keys.collect { case (k, key) if key.nonEmpty && ops.exists(_.kind == k) =>
        // the k-core oracle replays the peel rounds its key observed, so
        // its text is only known after the key ran; the 3-core itself is
        // a property of the fixture
        val tag = if (k == "kcore") key else key + "-" + Answer.digest(SparkEntry.oracleSql(key))
        k -> Future(Answer.cached(s"${c.dir}/_oracle_$tag.tsv") {
          if (k == "kcore") SparkEntry.queries(key)(c.spark, c.dir).collect()
          Answer.of(sql(c, sparkSql(SparkEntry.oracleSql(key))))
        })
      }.map { case (k, f) => k -> Await.result(f, Duration.Inf) }.toMap
      ops.map { o =>
        o.id -> (if (o.kind == "shortest_hops") hops(c, o.args("landmarks").split(",").toSeq)
                 else byKind(o.kind))
      }.toMap
    } finally pool.shutdown()
  }

  /** Breadth-first hop counts over the undirected geo graph, from the
    * base tables.
    */
  private def hops(c: Ctx, landmarks: Seq[String]): Answer.T = {
    val edges = sql(c,
      """SELECT 'cust:' || c_custkey, 'nat:' || c_nationkey FROM customer
        |UNION ALL SELECT 'supp:' || s_suppkey, 'nat:' || s_nationkey FROM supplier
        |UNION ALL SELECT 'nat:' || n_nationkey, 'reg:' || n_regionkey FROM nation""".stripMargin)
      .map(r => (r.getString(0), r.getString(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = landmarks.map(_ -> 0).toMap
    var frontier = landmarks
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[String]))
        .distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    Answer.of(dist.toSeq.map { case (u, k) => Seq(u, k) })
  }
}
