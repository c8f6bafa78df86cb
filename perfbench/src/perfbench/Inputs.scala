package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

// Row types of the generated tables. Column names and types follow the
// TPC-H-like test tables the engine's own suites use.
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
/** Second Customer source: renamed id, widened nation key, extra column. */
final case class CustomerCrm(cust_id: Long, c_name: String,
    c_nationkey: Long, c_acctbal: Double, c_loyalty: String)
final case class Part(p_partkey: Long, p_name: String, p_brand: String,
    p_type: String, p_size: Int, p_retailprice: Double)
/** Second Part source: renamed id, widened size, extra column. */
final case class PartCatalog(part_id: Long, p_name: String, p_size: Long,
    p_retailprice: Double, p_origin: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
    s_acctbal: Double)
final case class Order(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: Timestamp)
final case class Doc(doc_id: Long, text: String)
final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)
final case class Edge(start_id: Long, end_id: Long)
final case class AnnEvent(op: String, vec_id: Long, embedding: Seq[Float])

/** A TPC-H-like graph source set with a second, overlapping source for
  * Customer and Part, plus the counts a correct build must produce,
  * derived from the generated rows alone. */
final case class GraphInputs(
    customer: Seq[Customer], customerCrm: Seq[CustomerCrm],
    part: Seq[Part], partCatalog: Seq[PartCatalog], supplier: Seq[Supplier],
    nation: Seq[Nation], orders: Seq[Order], lineitem: Seq[LineItem]) {

  lazy val expectedNodes: Map[String, Long] = Map(
    "Customer" -> (customer.map(_.c_custkey) ++ customerCrm.map(_.cust_id))
      .distinct.size.toLong,
    "Part" -> (part.map(_.p_partkey) ++ partCatalog.map(_.part_id))
      .distinct.size.toLong,
    "Order" -> orders.size.toLong,
    "Supplier" -> supplier.size.toLong,
    "Nation" -> nation.size.toLong)

  lazy val expectedRels: Map[String, Long] = {
    val custIds = customer.map(_.c_custkey).toSet
    val nationIds = nation.map(_.n_nationkey).toSet
    val orderIds = orders.map(_.o_orderkey).toSet
    val partIds = (part.map(_.p_partkey) ++ partCatalog.map(_.part_id)).toSet
    Map(
      "CUSTOMER_PLACED_ORDER" ->
        orders.count(o => custIds.contains(o.o_custkey)).toLong,
      "ORDER_CONTAINS_PART" -> lineitem.count(l =>
        orderIds.contains(l.l_orderkey) && partIds.contains(l.l_partkey)).toLong,
      "CUSTOMER_IN_NATION" ->
        customer.count(c => nationIds.contains(c.c_nationkey)).toLong)
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w(customer.toDF(), "customer")
    w(customerCrm.toDF(), "customer_crm")
    w(part.toDF(), "part")
    w(partCatalog.toDF(), "part_catalog")
    w(supplier.toDF(), "supplier")
    w(nation.toDF(), "nation")
    w(orders.toDF(), "orders")
    w(lineitem.toDF(), "lineitem")
  }
}

object Inputs {
  private val names = Seq("Zoë", "José", "Renée", "Søren", "Anaïs", "Björn",
    "Ana", "Lena", "Chloé", "Mårten", "Eva", "Noël")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val day0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  /** TPC-H-like tables at `sf` (sf 0.01 ≈ 1.5k customers, 15k orders,
    * 60k line items). 10% of each second source's ids are new; some
    * orders name customers only the second source knows (those orders
    * get no CUSTOMER_PLACED_ORDER edge) and some line items name parts
    * neither source knows (dropped by the join-table semi-joins). */
  def graph(seed: Long, sf: Double): GraphInputs = {
    val r = new Random(seed)
    val nCust = math.max(20, (150000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nOrd = math.max(50, (1500000 * sf).toInt)
    val newCust = nCust / 10
    val newPart = nPart / 10
    def money() = math.rint(r.nextDouble() * 1000000) / 100
    def name(k: Long) = s"${names(r.nextInt(names.size))}#$k"
    val nation = (0 until 25).map(k => Nation(k, s"NATION_$k", k % 5))
    val customer = (1L to nCust).map(k => Customer(k, name(k),
      r.nextInt(25), money(), segments(r.nextInt(segments.size))))
    val customerCrm = (customer.filter(_ => r.nextDouble() < 0.3)
      .map(c => (c.c_custkey, c.c_nationkey.toLong)) ++
      (nCust + 1L to nCust.toLong + newCust).map(k => (k, r.nextInt(25).toLong)))
      .map { case (k, nk) =>
        CustomerCrm(k, name(k).toUpperCase, nk, money(),
          Seq("gold", "silver", "none")(r.nextInt(3)))
      }
    val part = (1L to nPart).map(k => Part(k, s"part ${names(r.nextInt(names.size))} $k",
      s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", s"TYPE_${r.nextInt(30)}",
      1 + r.nextInt(50), money() / 100))
    val partCatalog = (part.filter(_ => r.nextDouble() < 0.3).map(_.p_partkey) ++
      (nPart + 1L to nPart.toLong + newPart)).map { k =>
        PartCatalog(k, s"catalog part $k", 1L + r.nextInt(50), money() / 100,
          Seq("EU", "US", "APAC")(r.nextInt(3)))
      }
    val supplier = (1L to nSupp).map(k =>
      Supplier(k, s"Supplier#$k", r.nextInt(25), money()))
    val orders = (1L to nOrd).map(k => Order(k,
      1L + r.nextInt(nCust + newCust), Seq("O", "F", "P")(r.nextInt(3)),
      money(), new Timestamp(day0 + r.nextInt(2000) * 86400000L),
      s"${1 + r.nextInt(5)}-PRIORITY"))
    val partRange = nPart + newPart + math.max(1, nPart / 50)
    val lineitem = orders.flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(ln => LineItem(o.o_orderkey,
        1L + r.nextInt(partRange), 1L + r.nextInt(nSupp), ln,
        1 + r.nextInt(50), money(), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        new Timestamp(o.o_orderdate.getTime + r.nextInt(120) * 86400000L)))
    }
    GraphInputs(customer, customerCrm, part, partCatalog, supplier, nation,
      orders, lineitem)
  }

  /** The build workload's graph spec: the fixture graph (five labels,
    * foreign-key and join-table relationships) with a second source for
    * Customer and Part. */
  def graphSpec(dir: String): String =
    s"""Database:
       |  name: BenchGraph
       |  version: "1"
       |  author: perfbench
       |Sources:
       |  TPCH:
       |    source type: parquet
       |    path: $dir
       |  CRM:
       |    source type: parquet
       |    path: $dir
       |Nodes:
       |  Customer:
       |    sources:
       |      TPCH: { table: customer, id_key: c_custkey, uri_key: c_name }
       |      CRM: { table: customer_crm, id_key: cust_id, uri_key: c_name }
       |  Order:
       |    sources:
       |      TPCH: { table: orders, id_key: o_orderkey, uri_key: o_orderkey }
       |  Part:
       |    sources:
       |      TPCH: { table: part, id_key: p_partkey, uri_key: p_name }
       |      CRM: { table: part_catalog, id_key: part_id, uri_key: p_name }
       |  Supplier:
       |    sources:
       |      TPCH: { table: supplier, id_key: s_suppkey, uri_key: s_name }
       |  Nation:
       |    sources:
       |      TPCH: { table: nation, id_key: n_nationkey, uri_key: n_name }
       |Relationships:
       |  CUSTOMER_PLACED_ORDER:
       |    sources:
       |      TPCH:
       |        type: foreign_key
       |        start: { node: Customer, table: customer, key: c_custkey }
       |        end: { node: Order, table: orders, key: o_custkey }
       |  ORDER_CONTAINS_PART:
       |    start_node: Order
       |    end_node: Part
       |    sources:
       |      TPCH:
       |        type: join_table
       |        table: lineitem
       |        from_field: l_orderkey
       |        to_field: l_partkey
       |  CUSTOMER_IN_NATION:
       |    sources:
       |      TPCH:
       |        type: foreign_key
       |        start: { node: Customer, table: customer, key: c_nationkey }
       |        end: { node: Nation, table: nation, key: n_nationkey }
       |""".stripMargin

  /** Heterogeneous edge list over the staged relationships: ids are
    * label-namespaced as id*4+tag (Customer 0, Order 1, Part 2, Nation 3),
    * plus `reverseShare` of the edges reversed, so directed cycles exist. */
  def heteroEdges(g: GraphInputs, seed: Long, reverseShare: Double): Seq[Edge] = {
    val custIds = g.customer.map(_.c_custkey).toSet
    val orderIds = g.orders.map(_.o_orderkey).toSet
    val partIds = (g.part.map(_.p_partkey) ++ g.partCatalog.map(_.part_id)).toSet
    val nationIds = g.nation.map(_.n_nationkey.toLong).toSet
    val base =
      g.orders.filter(o => custIds.contains(o.o_custkey))
        .map(o => Edge(o.o_custkey * 4, o.o_orderkey * 4 + 1)) ++
      g.lineitem.filter(l => orderIds.contains(l.l_orderkey) &&
          partIds.contains(l.l_partkey))
        .map(l => Edge(l.l_orderkey * 4 + 1, l.l_partkey * 4 + 2)) ++
      g.customer.filter(c => nationIds.contains(c.c_nationkey.toLong))
        .map(c => Edge(c.c_custkey * 4, c.c_nationkey.toLong * 4 + 3))
    val r = new Random(seed ^ 0x5eedL)
    base ++ base.filter(_ => r.nextDouble() < reverseShare)
      .map(e => Edge(e.end_id, e.start_id))
  }

  // ---- text -------------------------------------------------------------

  /** A fixed 2000-word vocabulary of pronounceable pseudo-words. */
  val vocab: IndexedSeq[String] = {
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    (0 until 2000).map { i =>
      var x = i; val b = new StringBuilder
      for (_ <- 0 until 3) {
        b += cons(x % cons.length); x /= cons.length
        b += vow(x % vow.length); x /= vow.length
      }
      b.toString
    }
  }

  def randomDoc(r: Random): Array[String] =
    Array.fill(40 + r.nextInt(30))(vocab(r.nextInt(vocab.size)))

  /** `edits` single-word substitutions at random positions. */
  def edit(words: Array[String], edits: Int, r: Random): Array[String] = {
    val w = words.clone()
    for (_ <- 0 until edits) w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
    w
  }

  /** `families` base documents, each present only as `variants`
    * near-duplicates with 0–3 word edits (id = family * variants + j). */
  def corpus(seed: Long, families: Int, variants: Int): Seq[Doc] = {
    val r = new Random(seed ^ 0xd0c5L)
    (0 until families).flatMap { f =>
      val base = randomDoc(r)
      (0 until variants).map(j =>
        Doc(f.toLong * variants + j, edit(base, r.nextInt(4), r).mkString(" ")))
    }
  }

  def shingles(text: String, n: Int): Set[String] = {
    val t = text.trim.split("\\s+")
    if (t.length < n) Set.empty
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard of word-`n`-shingle sets. */
  def jaccard(a: String, b: String, n: Int): Double = {
    val sa = shingles(a, n); val sb = shingles(b, n)
    val u = (sa | sb).size
    if (u == 0) 0.0 else (sa & sb).size.toDouble / u
  }

  // ---- vectors ----------------------------------------------------------

  val Dim = 64

  private def gauss(r: Random, n: Int, s: Double): Array[Float] =
    Array.fill(n)((r.nextGaussian() * s).toFloat)

  /** `families` random directions, each present as `copies` jittered
    * vectors (id = family * copies + j). */
  def vectors(seed: Long, families: Int, copies: Int): (Seq[Vec], Array[Array[Float]]) = {
    val r = new Random(seed ^ 0x7ec5L)
    val bases = Array.fill(families)(gauss(r, Dim, 1.0))
    val vs = for (f <- 0 until families; j <- 0 until copies) yield
      Vec(f.toLong * copies + j, jitter(bases(f), r).toSeq, f % 10)
    (vs, bases)
  }

  def jitter(v: Array[Float], r: Random, s: Double = 0.05): Array[Float] =
    v.map(x => (x + r.nextGaussian() * s).toFloat)

  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine, ties broken by id. */
  def exactTopK(q: Seq[Float], corpus: Iterable[Vec], k: Int): Seq[Long] =
    corpus.toSeq.map(v => (-cosine(q, v.embedding), v.vec_id)).sorted
      .take(k).map(_._2)

  /** Deterministic sample without replacement. */
  def sample[T](xs: IndexedSeq[T], n: Int, r: Random): IndexedSeq[T] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < math.min(n, xs.size)) seen += r.nextInt(xs.size)
    seen.toIndexedSeq.map(xs)
  }
}
