package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sparql.{Compiler, SparqlParser}

/** One operation: its kind (template or algorithm), a run-unique id, the
  * SPARQL / Update text graft receives (empty for graph calls) and the
  * constants it was drawn with.
  */
final case class Op(id: Int, kind: String, text: String, args: Map[String, String]) {
  def long(k: String): Long = args(k).toLong
}

/** What every workload shares: the session, the fixture directory, the
  * scratch directory for files, and the tracer (a no-op unless on).
  */
final case class Ctx(spark: SparkSession, dir: String, scratch: String,
                     tr: Tracer, store: () => DataFrame, facts: Facts)

trait Workload {
  def name: String
  /** Cycles of operations: each cycle holds every kind once. */
  def cycles(seed: Long, facts: Facts): Iterator[Seq[Op]]
  /** Fewest measured cycles a run completes. */
  def minCycles: Int = 1
  /** Throw-away cycles before timing, so lazy builds and JIT warm-up
    * stay out of the timed region.
    */
  def warmCycles: Int = 2
  def run(c: Ctx, op: Op): Answer.T
  /** Answers computed without graft, keyed by op id. */
  def expected(c: Ctx, facts: Facts, ops: Seq[Op]): Map[Int, Answer.T]
  /** Runs between operations, outside the timed region. */
  def between(c: Ctx): Unit = ()
}

/** Answers as sorted rows of strings; numbers compare with a relative
  * tolerance, so float reassociation is not an error.
  */
object Answer {
  type T = Seq[Seq[String]]

  def of(rows: Array[Row]): T = of(rows.toSeq.map(_.toSeq))

  def of(rows: Seq[Seq[Any]]): T =
    rows.map(_.map(v => if (v == null) "null" else v.toString)).sortBy(_.mkString("\u0001"))

  private def num(s: String): Option[Double] = s.toDoubleOption

  def digest(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** The answer stored at `path`, or `compute`'s, stored there when its
    * fields hold no tabs or line breaks.
    */
  def cached(path: String)(compute: => T): T = {
    val f = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(f))
      scala.io.Source.fromFile(path).getLines().map(_.split("\t", -1).toSeq).toSeq
    else {
      val a = compute
      if (a.forall(_.forall(v => !v.contains('\t') && !v.contains('\n'))) && a.forall(_.nonEmpty)) {
        val tmp = java.nio.file.Paths.get(path + ".tmp")
        java.nio.file.Files.write(tmp, java.util.Arrays.asList(a.map(_.mkString("\t")): _*))
        java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      a
    }
  }

  def same(a: T, b: T): Boolean = a.size == b.size && a.zip(b).forall { case (x, y) =>
    x.size == y.size && x.zip(y).forall { case (u, v) =>
      u == v || ((num(u), num(v)) match {
        case (Some(p), Some(q)) =>
          math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
        case _ => false
      })
    }
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(SparqlPoint, SparqlAnalytic, GraphInference, IngestUpdate)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** SELECT through parser, compiler and execution, one span each. */
  def select(c: Ctx, triples: DataFrame, text: String): Answer.T = {
    val ast = c.tr.phase("sparql.parse")(SparqlParser.parse(text))
    val df = c.tr.phase("sparql.compile")(Compiler.run(triples, ast))
    val rows = c.tr.phase("spark.exec")(df.collect())
    c.tr.catalyst(df)
    Answer.of(rows)
  }

  def sql(c: Ctx, q: String): Array[Row] = c.spark.sql(q).collect()

  /** Numbers operations in the order a workload draws them. */
  final class Ids {
    private var id = 0
    def op(kind: String, text: String, args: (String, Any)*): Op = {
      id += 1
      Op(id, kind, text, args.map { case (k, v) => k -> v.toString }.toMap)
    }
  }

  def inList(xs: Iterable[Any]): String = xs.mkString("(", ",", ")")
}

/** Short selective lookups over the cached store. */
object SparqlPoint extends Workload {
  import Workloads._
  val name = "sparql_point"
  override def warmCycles: Int = 4
  // with five templates per cycle, six to ten cycles keep the
  // 11th-slowest sample (op_tail) inside the second-slowest template,
  // so the tail does not jump between templates as the count varies
  override def minCycles: Int = 6

  def cycles(seed: Long, f: Facts): Iterator[Seq[Op]] = {
    val rnd = new Random(seed)
    val ids = new Ids
    def any[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
    Iterator.continually {
      val k1 = any(f.custsWithOrders)
      val k2 = any(f.custsWithOrders)
      val s = any(f.suppliers)
      val k3 = any(f.custsWithOrders)
      val askNation = if (rnd.nextBoolean()) f.custNation(k3) else rnd.nextInt(25)
      val n = any(f.nationsWithSuppliers)
      Seq(
        ids.op("cust_props",
          s"SELECT ?n ?b WHERE { <cust:$k1> :name ?n ; :acctbal ?b }", "cust" -> k1),
        ids.op("cust_top_orders",
          s"SELECT ?o ?p WHERE { ?o :byCustomer <cust:$k2> ; :totalprice ?p } " +
            "ORDER BY DESC(?p) ASC(?o) LIMIT 5", "cust" -> k2),
        ids.op("supp_region",
          s"SELECT ?sn ?nn ?rn WHERE { <supp:$s> :name ?sn ; :hasNation ?n . " +
            "?n :name ?nn ; :inRegion ?r . ?r :name ?rn }", "supp" -> s),
        ids.op("cust_nation_ask",
          s"ASK { <cust:$k3> :hasNation <nat:$askNation> }",
          "cust" -> k3, "nation" -> askNation),
        ids.op("nation_suppliers",
          s"SELECT ?s ?b WHERE { ?s a :Supplier ; :hasNation <nat:$n> ; :acctbal ?b } " +
            "ORDER BY DESC(?b) ASC(?s) LIMIT 10", "nation" -> n))
    }
  }

  def run(c: Ctx, op: Op): Answer.T = op.kind match {
    case "cust_nation_ask" =>
      val ast = c.tr.phase("sparql.parse")(SparqlParser.parseAsk(op.text))
      val df = c.tr.phase("sparql.ask")(Compiler.ask(c.store(), ast))
      Answer.of(c.tr.phase("spark.exec")(df.collect()))
    case _ => select(c, c.store(), op.text)
  }

  def expected(c: Ctx, f: Facts, ops: Seq[Op]): Map[Int, Answer.T] = {
    val by = ops.groupBy(_.kind)
    def keyed(kind: String, arg: String, q: String => String): Map[Int, Answer.T] =
      by.get(kind).map { os =>
        val rows = sql(c, q(inList(os.map(_.args(arg)).distinct)))
          .groupBy(_.get(0).toString)
        os.map(o => o.id -> Answer.of(rows.getOrElse(o.args(arg), Array.empty[Row])
          .toSeq.map(_.toSeq.drop(1)))).toMap
      }.getOrElse(Map.empty)
    keyed("cust_props", "cust", ks =>
      s"SELECT c_custkey, c_name, CAST(c_acctbal AS STRING) FROM customer WHERE c_custkey IN $ks") ++
    keyed("cust_top_orders", "cust", ks =>
      s"""SELECT k, o, p FROM (
         |  SELECT o_custkey AS k, 'ord:' || o_orderkey AS o, CAST(o_totalprice AS STRING) AS p,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, 'ord:' || o_orderkey) AS rk
         |  FROM orders WHERE o_custkey IN $ks) WHERE rk <= 5""".stripMargin) ++
    keyed("supp_region", "supp", ks =>
      s"""SELECT s_suppkey, s_name, n_name, r_name FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
         |WHERE s_suppkey IN $ks""".stripMargin) ++
    keyed("nation_suppliers", "nation", ks =>
      s"""SELECT k, s, b FROM (
         |  SELECT s_nationkey AS k, 'supp:' || s_suppkey AS s, CAST(s_acctbal AS STRING) AS b,
         |    row_number() OVER (PARTITION BY s_nationkey
         |      ORDER BY s_acctbal DESC, 'supp:' || s_suppkey) AS rk
         |  FROM supplier WHERE s_nationkey IN $ks) WHERE rk <= 10""".stripMargin) ++
    by.getOrElse("cust_nation_ask", Nil).map { o =>
      o.id -> Answer.of(Seq(Seq(f.custNation(o.long("cust")) == o.args("nation").toInt)))
    }.toMap
  }
}
