package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.config._
import graft.operators.GraphBuilder

/** End-to-end config-compiled build over the sf0.001 fixtures + sinks
  * (SURVEY.md §5 item 4). */
class GraphBuilderSpec extends SparkSpec {

  private lazy val cfg = GraphConfig.fromYaml(SparkEntry.fixtureYaml(sf()))

  test("config parse: database, sources, nodes, relationships") {
    assert(cfg.database.name == "TpchGraph")
    assert(cfg.sources("TPCH").sourceType == "parquet")
    assert(cfg.nodes.map(_.label).toSet ==
      Set("Customer", "Order", "Part", "Nation"))
    val rels = cfg.relationships.map(r => r.label -> r).toMap
    assert(rels("CUSTOMER_PLACED_ORDER").sources.head.mode
      .isInstanceOf[ForeignKeyMode])
    assert(rels("ORDER_CONTAINS_PART").sources.head.mode
      .isInstanceOf[JoinTableMode])
    assert(rels("ORDER_CONTAINS_PART").startNode.contains("Order"))
  }

  test("reference-grammar config (mysql-style) also parses") {
    val yaml =
      """Database:
        |  name: ComptoxLike
        |  version: 0.2a
        |Sources:
        |  DB:
        |    source type: mysql
        |    database name: somedb
        |Nodes:
        |  Gene:
        |    id_key_label: entrez_gene_id
        |    sources:
        |      DB: { table: gene_info, id_key: entrez, uri_key: HUGO_id }
        |Relationships:
        |  AOP_INCLUDES_GENE:
        |    sources:
        |      DB:
        |        type: join_table
        |        table: aop_gene
        |        from_field: AOP_id
        |        to_field: entrez
        |""".stripMargin
    val c = GraphConfig.fromYaml(yaml)
    assert(c.database.version == "0.2a")
    assert(c.nodes.head.idKeyLabel.contains("entrez_gene_id"))
    assert(c.relationships.head.sources.head.mode ==
      JoinTableMode("aop_gene", "AOP_id", "entrez"))
  }

  test("build: node and edge counts match the fixtures") {
    val g = GraphBuilder.build(spark, cfg)
    assert(g.nodes("Customer").count() == 150)
    assert(g.nodes("Order").count() == 1500)
    assert(g.relationships("CUSTOMER_PLACED_ORDER").count() == 1500)
    assert(g.relationships("ORDER_CONTAINS_PART").count() == 6000)
    assert(g.relationships("CUSTOMER_IN_NATION").count() == 150)
    // edges expose the canonical start_id/end_id contract
    assert(g.relationships("CUSTOMER_PLACED_ORDER").columns.toSeq ==
      Seq("start_id", "end_id"))
  }

  test("fk edges resolve start_id to the start node's id, not the join key") {
    val g = GraphBuilder.build(spark, cfg)
    // CUSTOMER_IN_NATION joins on c_nationkey (0-24) but Customer's id is
    // c_custkey (0-149): start_id must span the full custkey range — the
    // raw-join-key bug would silently alias nation keys onto customer ids.
    val ids = g.relationships("CUSTOMER_IN_NATION")
      .agg(org.apache.spark.sql.functions.countDistinct("start_id"),
        org.apache.spark.sql.functions.max("start_id")).head()
    assert(ids.getLong(0) == 150)
    assert(ids.getLong(1) == 149L)
  }

  test("multi-source precedence follows config order, not alphabetical") {
    val tmp = Files.createTempDirectory("graft-order").toString
    import spark.implicits._
    // source named 'zzz' comes FIRST in config → its props must win
    Seq((1L, "from_zzz")).toDF("id", "val").write.parquet(s"$tmp/t_z.parquet")
    Seq((1L, "from_aaa")).toDF("id", "val").write.parquet(s"$tmp/t_a.parquet")
    val yaml =
      s"""Database: { name: Order, version: "1" }
         |Sources:
         |  zzz: { source type: parquet, path: $tmp }
         |  aaa: { source type: parquet, path: $tmp }
         |Nodes:
         |  N:
         |    sources:
         |      zzz: { table: t_z, id_key: id }
         |      aaa: { table: t_a, id_key: id }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    assert(g.nodes("N").head().getString(1) == "from_zzz")
  }

  test("staging + Neo4j CSV export write expected layouts") {
    val tmp = Files.createTempDirectory("graft-sink").toString
    val g = GraphBuilder.build(spark, cfg)
    val small = g.copy(
      nodes = g.nodes.view.filterKeys(_ == "Nation").toMap,
      relationships = Map.empty)
    small.writeStaging(tmp)
    val staged = spark.read.parquet(s"$tmp/TpchGraph-0.1/nodes/Nation")
    assert(staged.count() == 25)

    small.exportNeo4jCsv(tmp, Map("Nation" -> "n_nationkey"))
    val csvDir = new java.io.File(s"$tmp/TpchGraph-0.1-csv/nodes_Nation")
    val part = csvDir.listFiles().filter(_.getName.endsWith(".csv")).head
    val header = scala.io.Source.fromFile(part).getLines().next()
    assert(header.contains("n_nationkey:ID(Nation)"))
    assert(header.contains(":LABEL"))
  }

  test("Neo4j CSV export round-trips RFC-4180 pathological values") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-rfc").toString
    // embedded quote, newline, comma, and a `;`-bearing array element — the
    // exact cells that break a writer whose escape char is not the quote
    val nasty = Seq(
      (1L, "he said \"hi\"", Seq("a;b", "c,d")),
      (2L, "line one\nline two", Seq("plain")),
      (3L, "commas, everywhere,", Seq.empty[String]))
      .toDF("id", "txt", "tags")
    val g = operators.PropertyGraph(
      DatabaseMeta("Rfc", "1", None, None, None),
      nodes = Map("N" -> nasty), relationships = Map.empty)
    g.exportNeo4jCsv(tmp, Map("N" -> "id"))
    // re-read with an RFC-4180 parser (escape = quote, multiline cells)
    val back = spark.read
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true").option("inferSchema", "true")
      .csv(s"$tmp/Rfc-1-csv/nodes_N")
    val byId = back.collect().map(r => r.getInt(0).toLong -> r).toMap
    assert(byId(1L).getString(1) == "he said \"hi\"")
    assert(byId(2L).getString(1) == "line one\nline two")
    assert(byId(3L).getString(1) == "commas, everywhere,")
    // array props export `;`-joined under a name:type[] header
    assert(back.columns.contains("tags:string[]"))
    assert(byId(1L).getAs[String]("tags:string[]") == "a;b;c,d")
  }

  test("join_table props flow from config YAML onto edges") {
    val yaml =
      s"""Database: { name: EdgeProps, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Order:
         |    sources:
         |      P: { table: orders, id_key: o_orderkey }
         |  Part:
         |    sources:
         |      P: { table: part, id_key: p_partkey }
         |Relationships:
         |  ORDER_CONTAINS_PART:
         |    start_node: Order
         |    end_node: Part
         |    sources:
         |      P:
         |        type: join_table
         |        table: lineitem
         |        from_field: l_orderkey
         |        to_field: l_partkey
         |        props: [l_linenumber, l_quantity]
         |""".stripMargin
    val cfg2 = GraphConfig.fromYaml(yaml)
    assert(cfg2.relationships.head.sources.head.mode
      .asInstanceOf[JoinTableMode].props == Seq("l_linenumber", "l_quantity"))
    val g = GraphBuilder.build(spark, cfg2)
    val edges = g.relationships("ORDER_CONTAINS_PART")
    assert(edges.columns.toSeq ==
      Seq("start_id", "end_id", "l_linenumber", "l_quantity"))
    assert(edges.count() == 6000)
  }

  test("fk id-key resolution failure names label/table/column, not an " +
      "AnalysisException") {
    // Node declared over a DIFFERENT table than the FK side references →
    // fallback id key (o_orderkey) is absent from the customer table
    val yaml =
      s"""Database: { name: BadFk, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Order:
         |    sources:
         |      P: { table: orders, id_key: o_orderkey }
         |  Nation:
         |    sources:
         |      P: { table: nation, id_key: n_nationkey }
         |Relationships:
         |  BROKEN:
         |    sources:
         |      P:
         |        type: foreign_key
         |        start: { node: Order, table: customer, key: c_nationkey }
         |        end: { node: Nation, table: nation, key: n_nationkey }
         |""".stripMargin
    val e = intercept[IllegalArgumentException](
      GraphBuilder.build(spark, GraphConfig.fromYaml(yaml)))
    assert(e.getMessage.contains("BROKEN"))
    assert(e.getMessage.contains("o_orderkey"))
    assert(e.getMessage.contains("customer"))
  }

  test("validation: dangling source/node references fail fast with all errors") {
    val yaml =
      """Database: { name: Bad, version: "1" }
        |Sources:
        |  P: { source type: parquet, path: /tmp }
        |Nodes:
        |  A:
        |    sources:
        |      MISSING: { table: t, id_key: k }
        |Relationships:
        |  R:
        |    sources:
        |      P:
        |        type: foreign_key
        |        start: { node: A, table: t, key: k }
        |        end: { node: NOPE, table: u, key: k }
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      GraphConfig.fromYaml(yaml).validated)
    assert(e.getMessage.contains("unknown source 'MISSING'"))
    assert(e.getMessage.contains("unknown node 'NOPE'"))
  }

  test("id_key_label renames the canonical id; uri_key surfaces as _uri") {
    val yaml =
      s"""Database: { name: IdLabel, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Customer:
         |    id_key_label: customer_id
         |    sources:
         |      P: { table: customer, id_key: c_custkey, uri_key: c_name }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    val cust = g.nodes("Customer")
    assert(cust.columns.contains("customer_id"))
    assert(!cust.columns.contains("c_custkey"))
    assert(cust.columns.contains("_uri"))
    assert(cust.count() == 150)
    val r = cust.orderBy("customer_id").select("customer_id", "_uri").head()
    assert(r.getLong(0) == 0L) // synthetic custkeys are 0-based
    assert(r.getString(1).nonEmpty) // uri carries c_name
  }

  test("nested array columns (embeddings) survive the node pipeline (X5)") {
    val yaml =
      s"""Database: { name: VecGraph, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: ${sf()} }
         |Nodes:
         |  Vector:
         |    sources:
         |      P: { table: embeddings, id_key: vec_id }
         |""".stripMargin
    val g = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
    val vec = g.nodes("Vector")
    assert(vec.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    assert(vec.count() == 500)
    // values intact after union+merge: spot-check one vector round-trips
    val orig = spark.read.parquet(sf() + "/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)
    val merged = vec
      .filter(org.apache.spark.sql.functions.col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0)
    assert(orig == merged)
  }

  test("self-referencing foreign_key: one shared scan, aliased self-join") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-selfjoin").toString
    Seq((1L, "ada", None), (2L, "bo", Some(1L)), (3L, "cy", Some(1L)),
      (4L, "di", Some(2L)), (5L, "ed", Some(99L)))
      .toDF("emp_id", "name", "manager_id")
      .write.parquet(s"$tmp/employee.parquet")
    val yaml =
      s"""Database: { name: Org, version: "1" }
         |Sources:
         |  P: { source type: parquet, path: $tmp }
         |Nodes:
         |  Employee:
         |    sources:
         |      P: { table: employee, id_key: emp_id }
         |Relationships:
         |  REPORTS_TO:
         |    sources:
         |      P:
         |        type: foreign_key
         |        start: { node: Employee, table: employee, key: manager_id }
         |        end: { node: Employee, table: employee, key: emp_id }
         |""".stripMargin
    val edges = GraphBuilder.build(spark, GraphConfig.fromYaml(yaml))
      .relationships("REPORTS_TO")
    // both join sides scan the one DataFrame the build read
    val scans = edges.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRelation => l.relation }
    assert(scans.size == 2 && (scans(0) eq scans(1)))
    // employee 5's manager 99 does not exist; employee 1 has none
    assert(edges.count() == 3)
    assert(edges.as[(Long, Long)].collect().toSet ==
      Set((2L, 1L), (3L, 1L), (4L, 2L)))
  }

  private lazy val idKeys = cfg.nodes.map(n =>
    n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)).toMap

  /** A graph staged under a fresh dir, and an unstaged build of the same
    * spec: the reference for what export and stats must produce. */
  private lazy val (staged, stagedDir, unstaged) = {
    val dir = Files.createTempDirectory("graft-staged").toString
    val g = GraphBuilder.build(spark, cfg, asciiFold = true)
    g.writeStaging(dir)
    (g, dir, GraphBuilder.build(spark, cfg, asciiFold = true))
  }

  /** Rows of every CSV file set under an export dir, by file set name. */
  private def csvRows(dir: String): Map[String, (Seq[String], Seq[String])] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map { d =>
      val df = spark.read.option("header", "true").option("escape", "\"")
        .option("multiLine", "true").csv(d.getPath)
      d.getName -> (df.columns.toSeq,
        df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted)
    }.toMap

  test("after writeStaging, CSV export and stats equal the unstaged graph's") {
    val a = Files.createTempDirectory("graft-csv-staged").toString
    val b = Files.createTempDirectory("graft-csv-plan").toString
    staged.exportNeo4jCsv(a, idKeys)
    unstaged.exportNeo4jCsv(b, idKeys)
    val (fromStage, fromPlan) = (csvRows(s"$a/TpchGraph-0.1-csv"),
      csvRows(s"$b/TpchGraph-0.1-csv"))
    assert(fromPlan.size == 7)
    assert(fromStage.keySet == fromPlan.keySet)
    fromPlan.foreach { case (set, rows) => assert(fromStage(set) == rows, set) }
    assert(staged.stats(spark).collect().toSeq ==
      unstaged.stats(spark).collect().toSeq)
  }

  test("after writeStaging, stats scans only the staged parquet dirs") {
    def roots(df: DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().map {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case other => Seq(other.toString)
        }
        case other => Seq(other.toString)
      }
    val stagedRoots = roots(staged.stats(spark))
    assert(stagedRoots.size == 7)
    val stem = new java.io.File(s"$stagedDir/TpchGraph-0.1").toURI.toString
    assert(stagedRoots.flatten.forall(_.startsWith(stem)), stagedRoots)
    assert(!roots(unstaged.stats(spark)).flatten.exists(_.startsWith(stem)))
    // a copy is a new graph: unbound, back on the build plans
    assert(!roots(staged.copy().stats(spark)).flatten.exists(_.startsWith(stem)))
  }

  /** Shuffle map stages the jobs of `body` run (stages tagged by a local
    * property, told apart by their task type). A marker job afterwards
    * drains the listener bus: a listener receives events in the order they
    * were posted. */
  private def shuffleStages(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (probe, marker) = ("graft.spec.probe", "graft.spec.marker")
    val probed, shuffleMap = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty(probe) != null)
          probed.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask" && probed.contains(e.stageId))
          shuffleMap.add(e.stageId)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "1")
      try body finally sc.setLocalProperty(probe, null)
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    shuffleMap.size
  }

  test("after writeStaging, CSV export runs no shuffle map stage") {
    val out = Files.createTempDirectory("graft-csv-noshuffle").toString
    assert(shuffleStages(staged.exportNeo4jCsv(out, idKeys)) == 0)
    // the unstaged export re-runs merge-by-id and the edge joins
    assert(shuffleStages(unstaged.exportNeo4jCsv(out, idKeys)) > 0)
  }

  test("entry smoke: flagship stats >0 rows") {
    assert(SparkEntry.entry(spark).count() == 7)
  }
}
