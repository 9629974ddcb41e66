package perfbench

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.Graft

/** The write side of the store: export a slice to N-Triples, import it
  * back, update it, and read the update back with one point SELECT.
  */
object IngestUpdate extends Workload {
  import Workloads._
  val name = "ingest_update"

  def cycles(seed: Long, f: Facts): Iterator[Seq[Op]] = {
    val rnd = new Random(seed)
    val ids = new Ids
    Iterator.from(1).map { n =>
      val nation = f.nationsWithOrders(rnd.nextInt(f.nationsWithOrders.size))
      val custs = f.custsOf(nation).filter(f.custOrders.contains)
      val cust = custs(rnd.nextInt(custs.size))
      val tag = s"tag-$seed-$n"
      Seq(ids.op("slice_roundtrip",
        s"""INSERT DATA { <cust:$cust> :name "Renamed $tag" . <cust:$cust> :label "$tag" }""",
        "nation" -> nation, "cust" -> cust, "tag" -> tag))
    }
  }

  /** The slice: every customer of the nation and every order they placed. */
  def subjects(f: Facts, nation: Int): Seq[String] = {
    val custs = f.custsOf(nation)
    custs.map(c => s"cust:$c") ++
      custs.flatMap(c => f.custOrders.getOrElse(c, Nil)).map(o => s"ord:$o")
  }

  def run(c: Ctx, op: Op): Answer.T = {
    val path = s"${c.scratch}/nt/op${op.id}"
    val cust = op.args("cust")
    val slice = c.store().filter(col("s").isin(subjects(c.facts, op.args("nation").toInt): _*))
    c.tr.phase("rdf.ntriples_write")(Graft.exportNTriples(slice, path))
    val imported = Graft.importNTriples(c.spark, path)
    val n = c.tr.phase("rdf.ntriples_read")(imported.count())
    val updated = c.tr.phase("rdf.update") {
      val ins = Graft.update(imported, op.text)
      Graft.update(ins, s"DELETE WHERE { <cust:$cust> :acctbal ?b }")
    }
    select(c, updated, s"SELECT ?p ?o WHERE { <cust:$cust> ?p ?o }") :+ Seq("#imported", n.toString)
  }

  override def between(c: Ctx): Unit =
    Data.rmTree(new java.io.File(s"${c.scratch}/nt"))

  def expected(c: Ctx, f: Facts, ops: Seq[Op]): Map[Int, Answer.T] = {
    val custs = ops.map(_.args("cust")).distinct
    val props = sql(c,
      s"""SELECT c_custkey, c_name, c_mktsegment, c_nationkey FROM customer
         |WHERE c_custkey IN ${inList(custs)}""".stripMargin)
      .map(r => r.getLong(0).toString -> r).toMap
    // five triples per customer, six per order (RdfModel's mapping)
    val sliceSize = sql(c,
      """SELECT c_nationkey, count(DISTINCT c_custkey) * 5 + count(o_orderkey) * 6
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin)
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    ops.map { o =>
      val r = props(o.args("cust"))
      val tag = o.args("tag")
      o.id -> (Answer.of(Seq(
        Seq("rdf:type", ":Customer"), Seq(":name", r.getString(1)),
        Seq(":name", s"Renamed $tag"), Seq(":label", tag),
        Seq(":mktsegment", r.getString(2)), Seq(":hasNation", s"nat:${r.getInt(3)}")))
        :+ Seq("#imported", sliceSize(o.args("nation").toInt).toString))
    }.toMap
  }
}
