package perfbench

import scala.util.Random

/** Heavy templates over the lineitem facts: multi-pattern joins,
  * aggregation, OPTIONAL, MINUS, property paths, a sub-SELECT and
  * ORDER BY … LIMIT, with constants from the data's real ranges.
  */
object SparqlAnalytic extends Workload {
  import Workloads._
  val name = "sparql_analytic"

  def cycles(seed: Long, f: Facts): Iterator[Seq[Op]] = {
    val rnd = new Random(seed)
    val ids = new Ids
    Iterator.continually {
      val region = rnd.nextInt(5)
      val q1 = 1 + rnd.nextInt(40)
      val d1 = rnd.nextInt(8)
      val qMax = 20 + rnd.nextInt(31)
      val brand = 1 + rnd.nextInt(Data.Brands)
      val size = 20 + rnd.nextInt(31)
      val qOpt = 25 + rnd.nextInt(25)
      val n1 = f.nationsWithOrders(rnd.nextInt(f.nationsWithOrders.size))
      val prio = Data.Priorities(rnd.nextInt(Data.Priorities.size))
      val n2 = f.nationsWithOrders(rnd.nextInt(f.nationsWithOrders.size))
      Seq(
        ids.op("chain_region_qty",
          s"""SELECT ?nn (COUNT(?l) AS ?cnt) (SUM(?q) AS ?sq) WHERE {
             |  ?l :ofOrder ?o ; :quantity ?q . ?o :byCustomer ?c . ?c :hasNation ?n .
             |  ?n :inRegion <reg:$region> ; :name ?nn .
             |  FILTER(?q >= $q1 && ?q <= ${q1 + 10})
             |} GROUP BY ?nn""".stripMargin,
          "region" -> region, "q1" -> q1, "q2" -> (q1 + 10)),
        ids.op("flag_aggregates",
          s"""SELECT ?rf (COUNT(?l) AS ?cnt) (SUM(?q) AS ?sq) (AVG(?e) AS ?ae) WHERE {
             |  ?l :returnflag ?rf ; :quantity ?q ; :discount ?d ; :extendedprice ?e .
             |  FILTER(?d >= 0.0$d1 && ?d <= 0.0${d1 + 2} && ?q < $qMax)
             |} GROUP BY ?rf""".stripMargin,
          "d1" -> s"0.0$d1", "d2" -> s"0.0${d1 + 2}", "qmax" -> qMax),
        ids.op("brand_optional",
          s"""SELECT ?p (COUNT(?l) AS ?n) WHERE {
             |  ?p :brand "Brand#$brand" ; :size ?sz . FILTER(?sz <= $size)
             |  OPTIONAL { ?l :ofPart ?p ; :quantity ?q . FILTER(?q > $qOpt) }
             |} GROUP BY ?p""".stripMargin,
          "brand" -> s"Brand#$brand", "size" -> size, "q" -> qOpt),
        ids.op("nation_minus_returns",
          s"""SELECT ?o WHERE {
             |  ?o :byCustomer ?c . ?c :hasNation <nat:$n1> .
             |  MINUS { ?l :ofOrder ?o ; :returnflag "R" }
             |}""".stripMargin, "nation" -> n1),
        ids.op("region_path_priority",
          s"""SELECT ?r (COUNT(?o) AS ?n) (SUM(?t) AS ?tot) WHERE {
             |  ?o :byCustomer ?c ; :totalprice ?t ; :orderpriority "$prio" .
             |  ?c :hasNation/:inRegion ?r
             |} GROUP BY ?r""".stripMargin, "priority" -> prio),
        ids.op("subselect_top_customers",
          s"""SELECT ?c ?tot WHERE {
             |  { SELECT ?c (SUM(?q) AS ?tot) WHERE {
             |      ?l :ofOrder ?o ; :quantity ?q . ?o :byCustomer ?c } GROUP BY ?c }
             |  ?c :hasNation <nat:$n2>
             |} ORDER BY DESC(?tot) ASC(?c) LIMIT 10""".stripMargin, "nation" -> n2))
    }
  }

  def run(c: Ctx, op: Op): Answer.T = select(c, c.store(), op.text)

  def expected(c: Ctx, f: Facts, ops: Seq[Op]): Map[Int, Answer.T] = ops.map { o =>
    val a = o.args
    val q = o.kind match {
      case "chain_region_qty" =>
        s"""SELECT n_name, count(*), sum(l_quantity) FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE n_regionkey = ${a("region")} AND l_quantity BETWEEN ${a("q1")} AND ${a("q2")}
           |GROUP BY n_name""".stripMargin
      case "flag_aggregates" =>
        s"""SELECT l_returnflag, count(*), sum(l_quantity), avg(l_extendedprice) FROM lineitem
           |WHERE l_discount >= ${a("d1")} AND l_discount <= ${a("d2")} AND l_quantity < ${a("qmax")}
           |GROUP BY l_returnflag""".stripMargin
      case "brand_optional" =>
        s"""SELECT 'part:' || p_partkey, count(l_orderkey) FROM part
           |LEFT JOIN lineitem ON l_partkey = p_partkey AND l_quantity > ${a("q")}
           |WHERE p_brand = '${a("brand")}' AND p_size <= ${a("size")}
           |GROUP BY p_partkey""".stripMargin
      case "nation_minus_returns" =>
        s"""SELECT 'ord:' || o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE c_nationkey = ${a("nation")} AND NOT EXISTS (
           |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')""".stripMargin
      case "region_path_priority" =>
        s"""SELECT 'reg:' || n_regionkey, count(*), sum(o_totalprice) FROM orders
           |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
           |WHERE o_orderpriority = '${a("priority")}' GROUP BY n_regionkey""".stripMargin
      case "subselect_top_customers" =>
        s"""SELECT 'cust:' || c_custkey AS c, sum(l_quantity) AS tot FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
           |WHERE c_nationkey = ${a("nation")} GROUP BY c_custkey
           |ORDER BY tot DESC, c LIMIT 10""".stripMargin
    }
    o.id -> Answer.of(sql(c, q))
  }.toMap
}
