package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's fixture: the TPC-H-ish star schema graft's store is
  * derived from (`region nation customer supplier part orders
  * lineitem`), with the column names and types of the shipped test
  * tables, at a fractional scale factor. The rows are those of
  * `graft.tools.GenData.write` (same hash salts, dictionaries and column
  * expressions), so every checkout builds the same tables; the workload
  * seed only chooses the operations run against them. `GenData` cannot
  * be called directly: its scale is a multiple of sf0.1, it splits each
  * table into many files and it also writes the events, documents and
  * embeddings tables. Its `l_orderkey` comes out as a double; here it is
  * a long, as in the shipped tables.
  *
  * Each table is ONE parquet file named `<table>.parquet`, the layout
  * of the shipped tables, so graft's scan-spreading rules see the same
  * input shape they were tuned for.
  */
object Data {

  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val Marker = "_PERFBENCH_COMPLETE"

  final case class Sizes(cust: Long, supp: Long, part: Long, orders: Long) {
    def lines: Long = orders * 4
  }

  def sizes(sf: Double): Sizes = Sizes(
    cust = math.round(150000 * sf), supp = math.round(10000 * sf),
    part = math.round(200000 * sf), orders = math.round(1500000 * sf))

  /** Generate the fixture under `dir` unless a complete copy is there. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val d = new File(dir)
    if (new File(d, Marker).isFile) return
    rmTree(d)
    d.mkdirs()
    generate(spark, sf).foreach { case (name, df) => writeSingle(df, d, name) }
    Facts.save(spark, dir)
    new File(d, Marker).createNewFile(): Unit
  }

  private def writeSingle(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(dir, s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet part for $name")
    require(part.head.renameTo(new File(dir, s"$name.parquet")),
      s"could not move $name into place")
    rmTree(tmp)
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  private def h(salt: Int, cols: Column*): Column =
    abs(xxhash64((lit(salt) +: cols): _*))

  def generate(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val n = sizes(sf)
    val id = col("id")
    def pick(options: Seq[String], salt: Int): Column =
      element_at(array(options.map(lit): _*),
        (h(salt, id) % options.size + 1).cast("int"))
    def date(salt: Int): Column =
      to_timestamp(date_add(lit("1996-01-01").cast("date"),
        (h(salt, id) % 2100).cast("int")))
    Seq(
      "region" -> spark.range(5).select(
        id.cast("int").as("r_regionkey"),
        element_at(array(Regions.map(lit): _*), id.cast("int") + 1).as("r_name")),
      "nation" -> spark.range(25).select(
        id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(n.cust).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        (h(1, id) % 25).cast("int").as("c_nationkey"),
        round((h(2, id) % 1100000) / 100.0 - 1000.0, 2).as("c_acctbal"),
        pick(Segments, 3).as("c_mktsegment")),
      "supplier" -> spark.range(n.supp).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        (h(4, id) % 25).cast("int").as("s_nationkey"),
        round((h(5, id) % 1100000) / 100.0 - 1000.0, 2).as("s_acctbal")),
      "part" -> spark.range(n.part).select(
        id.as("p_partkey"),
        concat(pick(Seq("large", "hot", "blue", "small", "dark", "light", "red", "green"), 6),
          lit(" "), pick(Seq("ring", "bolt", "plate", "wheel", "box", "cap", "rod", "pin"), 7))
          .as("p_name"),
        concat(lit("Brand#"), h(8, id) % Brands + 1).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9)
          .as("p_type"),
        (h(10, id) % 50 + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 100000) / 10.0, 2).as("p_retailprice")),
      "orders" -> spark.range(n.orders).select(
        id.as("o_orderkey"),
        (h(11, id) % n.cust).as("o_custkey"),
        pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
        round((h(13, id) % 40000000) / 100.0, 2).as("o_totalprice"),
        date(14).as("o_orderdate"),
        pick(Priorities, 15).as("o_orderpriority")),
      // four lines per order with distinct line numbers, so the
      // (orderkey, linenumber, partkey, suppkey) line URI is unique
      "lineitem" -> spark.range(n.lines).select(
        expr("id div 4").as("l_orderkey"),
        (h(16, id) % n.part).as("l_partkey"),
        (h(17, id) % n.supp).as("l_suppkey"),
        (id % 7 + 1).cast("int").as("l_linenumber"),
        (h(18, id) % 50 + 1).cast("double").as("l_quantity"),
        round((h(19, id) % 10000000) / 100.0 + 900.0, 2).as("l_extendedprice"),
        ((h(20, id) % 11) / 100.0).as("l_discount"),
        ((h(21, id) % 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 22).as("l_returnflag"),
        pick(Seq("F", "O"), 23).as("l_linestatus"),
        date(24).as("l_shipdate")))
  }

  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Brands = 25

  /** Register every fixture table as a temp view for the answer checks. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
}

/** The base-table facts operation constants are drawn from. */
final case class Facts(custNation: Map[Long, Int], custOrders: Map[Long, Seq[Long]],
                       suppNation: Map[Long, Int]) {
  lazy val custsWithOrders: IndexedSeq[Long] =
    custOrders.keys.toIndexedSeq.sorted
  lazy val suppliers: IndexedSeq[Long] = suppNation.keys.toIndexedSeq.sorted
  lazy val nationsWithSuppliers: IndexedSeq[Int] = suppNation.values.toIndexedSeq.distinct.sorted
  lazy val nationsWithOrders: IndexedSeq[Int] =
    custsWithOrders.map(custNation).distinct.sorted
  def custsOf(n: Int): Seq[Long] = custNation.collect { case (c, `n`) => c }.toSeq.sorted
}

object Facts {
  val File = "_perfbench_facts.txt"

  /** Read the key ranges from the base tables and keep them beside the
    * fixture, so a run reads a small text file instead of launching jobs.
    */
  def save(spark: SparkSession, dir: String): Unit = {
    def rd(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val lines = rd("customer").select("c_custkey", "c_nationkey").collect()
      .map(r => s"c ${r.getLong(0)} ${r.getInt(1)}") ++
      rd("orders").select("o_custkey", "o_orderkey").collect()
        .map(r => s"o ${r.getLong(0)} ${r.getLong(1)}") ++
      rd("supplier").select("s_suppkey", "s_nationkey").collect()
        .map(r => s"s ${r.getLong(0)} ${r.getInt(1)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, File),
      java.util.Arrays.asList(lines: _*))
  }

  def read(dir: String): Facts = {
    val rows = scala.io.Source.fromFile(s"$dir/$File").getLines()
      .map(_.split(' ')).toSeq
    def pairs(tag: String) = rows.filter(_(0) == tag).map(r => (r(1).toLong, r(2).toLong))
    Facts(pairs("c").map { case (c, n) => c -> n.toInt }.toMap,
      pairs("o").groupBy(_._1).map { case (c, os) => c -> os.map(_._2).sorted },
      pairs("s").map { case (s, n) => s -> n.toInt }.toMap)
  }
}
