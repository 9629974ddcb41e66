package graft.inference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closure by iterated self-join with path doubling —
  * O(log diameter) rounds. The reference re-walks the hierarchy
  * per-query with Cypher (reference:
  * pidb-rdf-import/src/main/java/semantics/inference/MicroReasoners.java:20-22);
  * here the closure is materialized once and broadcast everywhere,
  * which is the right trade at any scale because ontologies are tiny
  * relative to data.
  *
  * The driver-side loop is bounded by log2(hierarchy depth), not data
  * size; `localCheckpoint` truncates the growing plan lineage.
  */
object Closure {

  /** Strict transitive closure of (sub, sup) edges; throws if it has
    * not reached its fixpoint after `maxRounds` doubling rounds.
    */
  def transitive(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    var cur = edges.select(col("sub"), col("sup")).distinct().localCheckpoint()
    var size = cur.count()
    var round = 0
    var grown = true
    while (grown && round < maxRounds) {
      val next = cur.as("a")
        .join(cur.as("b"), col("a.sup") === col("b.sub"))
        .select(col("a.sub").as("sub"), col("b.sup").as("sup"))
        .union(cur)
        .distinct()
        .localCheckpoint()
      val nextSize = next.count()
      grown = nextSize > size
      cur = next
      size = nextSize
      round += 1
    }
    // a round that still grew may have left longer paths unjoined:
    // exiting there must fail, not return a silently partial closure
    if (grown)
      throw new IllegalStateException(
        s"transitive closure did not converge in $maxRounds rounds " +
          "(hierarchy depth exceeds 2^maxRounds); raise maxRounds")
    cur
  }

  /** Nodes reachable in one or more hops from a constant source —
    * frontier-seeded BFS, so a bound-endpoint path query touches the
    * frontier's neighborhood instead of materializing the whole
    * graph's closure. One column, "sup".
    */
  def reachableFrom(edges: DataFrame, src: String): DataFrame = {
    var reached = edges.filter(col("sub") === src)
      .select(col("sup")).distinct().localCheckpoint()
    // the frontier column is renamed so the frontier-edges join never
    // carries the same attribute on both sides (localCheckpoint keeps
    // expression ids, so an unrenamed frontier is a self-join that
    // trips Spark's ambiguity detection)
    var frontier = reached.toDF("f_sup")
    var done = reached.isEmpty
    while (!done) {
      val next = frontier.join(edges, col("f_sup") === col("sub"))
        .select(col("sup")).distinct()
        .except(reached).localCheckpoint()
      done = next.isEmpty
      if (!done) {
        reached = reached.union(next).distinct().localCheckpoint()
        frontier = next.toDF("f_sup")
      }
    }
    reached
  }

  /** Nodes reachable in one or more hops from ANY seed — the
    * multi-seed twin of [[reachableFrom]], same frontier BFS with the
    * seed SET joined in instead of a constant filter. One column,
    * "sup". Per-seed attribution is NOT tracked: callers needing it
    * (the graph-encoded path compile, where each named graph
    * contributes one seed) must ensure the seeds' reachable
    * components are disjoint. `seeds` is one column "src",
    * metadata-scale (broadcast into the frontier joins).
    */
  def reachableFromAny(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val seedB = broadcast(seeds.select(col("src")).distinct())
    var reached = edges.join(seedB, edges("sub") === seedB("src"))
      .select(col("sup")).distinct().localCheckpoint()
    var frontier = reached.toDF("f_sup")
    var done = reached.isEmpty
    while (!done) {
      val next = frontier.join(edges, col("f_sup") === col("sub"))
        .select(col("sup")).distinct()
        .except(reached).localCheckpoint()
      done = next.isEmpty
      if (!done) {
        reached = reached.union(next).distinct().localCheckpoint()
        frontier = next.toDF("f_sup")
      }
    }
    reached
  }

  /** Reflexive-transitive sub-closure seeded at `top`: `top` itself
    * plus everything below it. One column, "c".
    */
  def below(edges: DataFrame, top: String): DataFrame = {
    val spark = edges.sparkSession
    transitive(edges)
      .filter(col("sup") === top)
      .select(col("sub").as("c"))
      .union(spark.createDataFrame(Seq(Tuple1(top))).toDF("c"))
      .distinct()
  }
}
