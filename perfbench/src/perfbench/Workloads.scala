package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.GraphConfig
import graft.operators.{Dedup, FrameVersions, GraphBuilder, GraphOps, Similarity}
import graft.streaming.StreamingIngest

/** One workload: `setup` generates its inputs from the seed under `dir`
  * and starts its stores; `iteration` is the timed call sequence, with its
  * output checks in untimed blocks. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: Path) {
  def setup(tr: Tracer): Unit
  /** One untimed pass of the call sequence, once per process. */
  def warmUp(tr: Tracer): Unit = { prepare(); try iteration(tr) finally finish() }
  /** Untimed preparation before each iteration (fresh output roots). */
  def prepare(): Unit = ()
  /** Untimed clean-up after each iteration. */
  def finish(): Unit = ()
  def iteration(tr: Tracer): Unit
  /** Bytes under the workload's output root after the last iteration;
    * None for a workload that writes nothing. */
  def outputBytes: Option[Long] = None
  protected def p(rel: String): String = dir.resolve(rel).toString
  protected def parquet(rel: String): DataFrame = spark.read.parquet(p(rel))
}

object Workload {
  val names = Seq("build", "analyze", "curate", "refresh", "scc")

  def apply(name: String, spark: SparkSession, seed: Long, dir: Path): Workload =
    name match {
      case "build" => new BuildWorkload(spark, seed, dir)
      case "analyze" => new AnalyzeWorkload(spark, seed, dir)
      case "curate" => new CurateWorkload(spark, seed, dir)
      case "refresh" => new RefreshWorkload(spark, seed, dir)
      case "scc" => new SccWorkload(spark, seed, dir)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally st.close()
  }

  /** Header line of the first non-empty part file of a CSV directory. */
  def csvHeader(dir: Path): String = {
    val st = Files.list(dir)
    try st.iterator().asScala.toSeq.sortBy(_.toString)
      .find(f => f.getFileName.toString.startsWith("part-") && Files.size(f) > 0)
      .map(f => Files.newBufferedReader(f).readLine()).getOrElse("")
    finally st.close()
  }
}

/** build: the paper's job. Spec → validate → build (ASCII fold) → parquet
  * staging → Neo4j CSV export → stats, into a fresh output directory. */
final class BuildWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  val Sf = 0.01
  private var g: GraphInputs = _
  private var yaml: String = _
  private val out = dir.resolve("out")

  private def use(inputs: GraphInputs, rel: String): Unit = {
    inputs.write(spark, p(rel))
    g = inputs
    yaml = Inputs.graphSpec(p(rel))
  }

  def setup(tr: Tracer): Unit = use(Inputs.graph(seed, Sf), "in")

  /** Warm-up on a fifth-size graph of the same shape. */
  override def warmUp(tr: Tracer): Unit = {
    val (full, fullYaml) = (g, yaml)
    use(Inputs.graph(seed, Sf / 5), "warm")
    prepare()
    iteration(tr)
    Workload.deleteTree(dir.resolve("warm"))
    g = full; yaml = fullYaml
  }

  override def prepare(): Unit = Workload.deleteTree(out)

  override def outputBytes: Option[Long] = Some(Storage.bytes(out))

  def iteration(tr: Tracer): Unit = {
    val cfg = tr.call("config.parse") { GraphConfig.fromYaml(yaml).validated }
    val graph = tr.call("graph_builder.build") {
      GraphBuilder.build(spark, cfg, asciiFold = true)
    }
    tr.call("graph_builder.write_staging", writes = true) {
      graph.writeStaging(out.toString)
    }
    val idKeys = cfg.nodes.map(n =>
      n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)).toMap
    tr.call("graph_builder.export_csv", writes = true) {
      graph.exportNeo4jCsv(out.toString, idKeys)
    }
    val stats = tr.call("graph_builder.stats") { graph.stats(spark).collect() }
    tr.untimed {
      val stem = out.resolve(cfg.database.outputStem)
      val staged = g.expectedNodes.map { case (l, _) =>
        l -> spark.read.parquet(stem.resolve(s"nodes/$l").toString).count()
      } ++ g.expectedRels.map { case (l, _) =>
        l -> spark.read.parquet(stem.resolve(s"relationships/$l").toString).count()
      }
      val expected = g.expectedNodes ++ g.expectedRels
      tr.check("graph_builder.write_staging", staged == expected,
        s"staged counts $staged, expected $expected")
      val reported = stats.map(r => r.getString(1) -> r.getLong(2)).toMap
      tr.check("graph_builder.stats", reported == expected,
        s"stats $reported, expected $expected")
      val csv = out.resolve(s"${cfg.database.outputStem}-csv")
      val badNodes = g.expectedNodes.keys.filterNot(l =>
        Workload.csvHeader(csv.resolve(s"nodes_$l")).contains(s":ID($l)"))
      val badRels = g.expectedRels.keys.filterNot { l =>
        val h = Workload.csvHeader(csv.resolve(s"rels_$l"))
        h.contains(":START_ID") && h.contains(":END_ID")
      }
      tr.check("graph_builder.export_csv", badNodes.isEmpty && badRels.isEmpty,
        s"CSV headers missing id columns: ${(badNodes ++ badRels).mkString(", ")}")
    }
  }
}

/** Shared by analyze and scc: the build workload's graph as one
  * label-namespaced edge list. */
trait GraphEdges { self: Workload =>
  val Sf = 0.01
  val ReverseShare = 0.02
  var edges: Seq[Edge] = Nil

  /** Writes the edge list of the graph at `sf` under `rel/edges`. The
    * edges are derived from the generated tables exactly as a correct
    * build stages them (the build workload checks that equality). */
  def writeEdges(rel: String, sf: Double): Seq[Edge] = {
    import spark.implicits._
    val all = Inputs.heteroEdges(Inputs.graph(seed, sf), seed, ReverseShare)
    all.toDF().coalesce(1).write.mode("overwrite").parquet(p(s"$rel/edges"))
    all
  }

  def components(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every vertex labeled, and both endpoints of every edge share a label. */
  def ccOk(cc: Map[Long, Long]): (Boolean, String) = {
    val verts = edges.flatMap(e => Seq(e.start_id, e.end_id)).distinct
    val split = edges.count(e => cc.get(e.start_id) != cc.get(e.end_id))
    (verts.size == cc.size && split == 0,
      s"${cc.size} labels for ${verts.size} vertices, $split edges split")
  }

  /** SCC labels never span two connected components. */
  def sccOk(scc: Map[Long, Long], cc: Map[Long, Long]): (Boolean, String) = {
    val spanning = scc.groupBy(_._2).count(_._2.keys.map(cc.get).toSet.size > 1)
    (spanning == 0, s"$spanning SCC labels span two CC components")
  }
}

/** analyze: connected components and multi-level Louvain on the
  * label-namespaced edge list of the build workload's graph, results
  * collected to the caller. Strongly connected components are left out: on this graph
  * they fail at their defaults (the `scc` workload shows it). */
final class AnalyzeWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) with GraphEdges {
  def setup(tr: Tracer): Unit = edges = writeEdges("g", Sf)

  /** Warm-up on a tenth-size graph of the same shape. */
  override def warmUp(tr: Tracer): Unit = {
    writeEdges("warm", Sf / 10)
    run(tr, parquet("warm/edges"), check = false)
  }

  def iteration(tr: Tracer): Unit = run(tr, parquet("g/edges"), check = true)

  private def run(tr: Tracer, e: DataFrame, check: Boolean): Unit = {
    val cc = tr.call("graph_ops.cc") { GraphOps.connectedComponents(e).collect() }
    val lv = tr.call("graph_ops.louvain") { GraphOps.louvainMultiLevel(e).collect() }
    if (check) tr.untimed {
      val ccMap = components(cc)
      val (ok, msg) = ccOk(ccMap)
      tr.check("graph_ops.cc", ok, msg)
      val q = modularity(components(lv))
      tr.quality("graph_ops.louvain_modularity") = q
      tr.check("graph_ops.louvain", q > 0, s"modularity $q <= 0")
    }
  }

  /** Newman modularity of `comm` on the undirected simple graph. */
  private def modularity(comm: Map[Long, Long]): Double = {
    val und = edges.filter(e => e.start_id != e.end_id)
      .map(e => (math.min(e.start_id, e.end_id), math.max(e.start_id, e.end_id)))
      .distinct
    val m = und.size.toDouble
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.size.toDouble }
    val inC = und.filter(e => comm.get(e._1) == comm.get(e._2))
      .groupBy(e => comm(e._1)).map { case (c, xs) => c -> xs.size.toDouble }
    val dTot = deg.groupBy { case (v, _) => comm.getOrElse(v, -1L) }
      .map { case (c, xs) => c -> xs.values.sum }
    dTot.map { case (c, d) =>
      inC.getOrElse(c, 0.0) / m - math.pow(d / (2 * m), 2)
    }.sum
  }
}

/** scc: strongly connected components at their defaults on the analyze
  * graph, with connected components to check the labels against. Not in
  * the timed benchmark: on this graph the call fails (min-label propagation
  * does not converge in 25 iterations); the run reports it as a failed op
  * with its message. */
final class SccWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) with GraphEdges {
  private var cc: Map[Long, Long] = Map.empty

  def setup(tr: Tracer): Unit = {
    edges = writeEdges("g", Sf)
    cc = components(GraphOps.connectedComponents(parquet("g/edges")).collect())
  }

  def iteration(tr: Tracer): Unit = {
    val scc = tr.call("graph_ops.scc") {
      GraphOps.stronglyConnectedComponents(parquet("g/edges")).collect()
    }
    tr.untimed {
      val (ok, msg) = sccOk(components(scc), cc)
      tr.check("graph_ops.scc", ok, msg)
    }
  }
}

/** curate: corpus dedup, MinHash near-duplicate pairs, an IVF-PQ index
  * build and one batch of top-10 queries, over corpora with planted
  * near-duplicate families. */
final class CurateWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  val Families = 500
  val Variants = 10
  val VecFamilies = 200
  val Copies = 10
  val Queries = 64
  val Threshold = 0.8
  /** Recall floors, set from the seed commit's measured values with
    * margin: LSH and IVF-PQ are approximate by design. */
  val DedupRecallFloor = 0.95
  val NearDupRecallFloor = 0.85
  val AnnRecallFloor = 0.8

  private var docs: Seq[Doc] = Nil
  private var truePairs: Seq[(Long, Long)] = Nil
  private var exact: Map[Long, Seq[Long]] = Map.empty
  private val ixDir = dir.resolve("index")

  def setup(tr: Tracer): Unit = {
    import spark.implicits._
    docs = Inputs.corpus(seed, Families, Variants)
    docs.toDF().coalesce(4).write.parquet(p("docs"))
    val byId = docs.map(d => d.doc_id -> d.text).toMap
    truePairs = docs.groupBy(_.doc_id / Variants).values.toSeq.flatMap { fam =>
      val ids = fam.map(_.doc_id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size
           if Inputs.jaccard(byId(ids(i)), byId(ids(j)), 3) >= Threshold)
        yield (ids(i), ids(j))
    }
    val (vecs, bases) = Inputs.vectors(seed, VecFamilies, Copies)
    vecs.toDF().coalesce(4).write.parquet(p("vectors"))
    val r = new Random(seed ^ 0x9e7L)
    val qs = (0 until Queries).map { i =>
      Vec(10000000L + i, Inputs.jitter(bases(r.nextInt(bases.length)), r).toSeq, 0)
    }
    qs.toDF().coalesce(1).write.parquet(p("queries"))
    exact = qs.map(q => q.vec_id -> Inputs.exactTopK(q.embedding, vecs, 10)).toMap
  }

  /** Warm-up on a slice of the same inputs. */
  override def warmUp(tr: Tracer): Unit = {
    runCalls(tr, parquet("docs").filter(col("doc_id") < 500),
      parquet("vectors").filter(col("vec_id") < 500), parquet("queries"))
    Workload.deleteTree(ixDir)
  }

  override def prepare(): Unit = Workload.deleteTree(ixDir)

  override def outputBytes: Option[Long] = Some(Storage.bytes(ixDir))

  private def runCalls(tr: Tracer, d: DataFrame, v: DataFrame, q: DataFrame)
      : (Array[Row], Array[Row], Array[Row]) = {
    val dec = tr.call("dedup.corpus") {
      Dedup.dedupCorpus(d, "text", "doc_id", Threshold).collect()
    }
    val pairs = tr.call("dedup.near_dups") {
      Dedup.minhashNearDups(d, "text", "doc_id", Threshold).collect()
    }
    tr.span("similarity.build") {
      val (cents, assigned) = tr.call("similarity.ivf_index") {
        Similarity.ivfIndex(v, "embedding", "vec_id", k = 32)
      }
      val cb = tr.call("similarity.pq_codebooks") {
        Similarity.pqCodebooks(v, "embedding", "vec_id", m = 8, k = 16)
      }
      val ae = tr.call("similarity.encode") {
        Similarity.encodeAssigned(assigned, "embedding", "vec_id", cb, m = 8)
      }
      tr.call("similarity.save_index", writes = true, storeCommit = true) {
        Similarity.saveIndex(ixDir.toString, cents, cb, ae, m = 8, k = 16)
      }
    }
    val top = tr.call("similarity.serve") {
      Similarity.serveTopK(spark, ixDir.toString, q, "embedding", "vec_id",
        topK = 10, nProbe = 8).collect()
    }
    (dec, pairs, top)
  }

  def iteration(tr: Tracer): Unit = {
    val d = parquet("docs")
    val (dec, pairs, top) = runCalls(tr, d, parquet("vectors"), parquet("queries"))
    tr.untimed {
      val keeper = dec.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
      val fam = (id: Long) => id / Variants
      val found = truePairs.count { case (a, b) => keeper.get(a) == keeper.get(b) }
      val dedupRecall = found.toDouble / math.max(1, truePairs.size)
      tr.quality("dedup.pair_recall") = dedupRecall
      val crossFamily = keeper.count { case (id, k) => fam(id) != fam(k) }
      tr.check("dedup.corpus", keeper.size == docs.size &&
        dedupRecall >= DedupRecallFloor && crossFamily == 0,
        s"${keeper.size}/${docs.size} docs decided, pair recall $dedupRecall " +
          s"(floor $DedupRecallFloor), $crossFamily cross-family merges")
      val byId = docs.map(x => x.doc_id -> x.text).toMap
      val got = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      val wrong = got.count { case (a, b) =>
        fam(a) != fam(b) || Inputs.jaccard(byId(a), byId(b), 3) < Threshold - 1e-9
      }
      val pairRecall = truePairs.count(got.contains).toDouble / math.max(1, truePairs.size)
      tr.quality("dedup.near_dup_recall") = pairRecall
      tr.check("dedup.near_dups", wrong == 0 && pairRecall >= NearDupRecallFloor,
        s"$wrong reported pairs below threshold, recall $pairRecall " +
          s"(floor $NearDupRecallFloor)")
      val ann = top.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val recall = exact.map { case (q, ids) =>
        ids.count(ann.getOrElse(q, Set.empty[Long]).contains) / 10.0
      }.sum / exact.size
      tr.quality("similarity.recall_at_10") = recall
      tr.check("similarity.serve", recall >= AnnRecallFloor,
        s"recall@10 $recall below floor $AnnRecallFloor")
      if (tr.tracing) {
        val cands = Dedup.minhashCandidates(
          Dedup.minhashSignatures(d, "text", "doc_id", 16, 3), "doc_id", 4).count()
        tr.quality("dedup.lsh_precision") = got.size.toDouble / math.max(1L, cands)
      }
    }
  }
}

/** refresh: one round of small seeded deltas against four persisted
  * stores that setup starts — a staged node table (upsert swap), an IVF-PQ
  * index fed by a CDC stream, a versioned PageRank store and a versioned
  * MinHash signature index. Each delta is its own parquet input. Each
  * iteration restarts from a copy of the stores as setup left them, so
  * every iteration does the same work. */
final class RefreshWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  val Sf = 0.001
  val BaseVecFamilies = 100
  val Adds = 200
  val Dels = 20
  val Queries = 32
  val NewCustomers = 100
  val BaseDocs = 1000
  val Copies = 20
  val Fresh = 20
  val NearCopyRecallFloor = 0.8
  /** Below the recall@10 measured at this benchmark's first commit
    * (0.81–0.88 over 24 seeds): IVF-PQ is approximate by design. */
  val AnnRecallFloor = 0.7

  private val base = dir.resolve("base")
  private val live = dir.resolve("live")
  private val graphDir = live.resolve("graph").toString
  private val ix = live.resolve("ann").toString
  private val rank = live.resolve("rank").toString
  private val sig = live.resolve("sig").toString
  private val streamIn = live.resolve("stream-in")
  private var meta: graft.config.DatabaseMeta = _
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  // expected store state after the deltas, from the generated rows
  private var custExpected = 0L
  private var liveExpected = Set.empty[Long]
  private var exact = Map.empty[Long, Seq[Long]]
  private var nodesExpected = 0L
  private var planted = Set.empty[Long]
  private var fresh = Set.empty[Long]
  // immutable inputs, read once
  private var custDelta, queries, edges, corpus, newDocs: DataFrame = _

  private val annSchema = StructType(Seq(StructField("op", StringType),
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def customerSpec(in: String) =
    s"""Database: { name: BenchGraph, version: "1" }
       |Sources:
       |  TPCH: { source type: parquet, path: $in }
       |  CRM: { source type: parquet, path: $in }
       |Nodes:
       |  Customer:
       |    sources:
       |      TPCH: { table: customer, id_key: c_custkey, uri_key: c_name }
       |      CRM: { table: customer_crm, id_key: cust_id, uri_key: c_name }
       |""".stripMargin

  /** PageRank by power iteration on the driver (uniform teleport, dangling
    * mass spread uniformly): the converged scores the store starts from. */
  private def driverPageRank(edges: Seq[Edge], d: Double = 0.85): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e.start_id, e.end_id)).distinct
    val n = nodes.size.toDouble
    val out = edges.groupBy(_.start_id).map { case (k, v) => k -> v.size }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until 30) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val in = edges.groupBy(_.end_id).map { case (v, es) =>
        v -> es.map(e => pr(e.start_id) / out(e.start_id)).sum
      }
      pr = nodes.map(v => v -> ((1 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    pr
  }

  def setup(tr: Tracer): Unit = {
    import spark.implicits._
    val r = new Random(seed ^ 0x4ef4L)
    // staged Customer table, merged from two sources by the engine; the
    // delta changes 1% of the rows and adds new ids
    val g = Inputs.graph(seed, Sf)
    g.customer.toDF().coalesce(1).write.parquet(p("in/customer.parquet"))
    g.customerCrm.toDF().coalesce(1).write.parquet(p("in/customer_crm.parquet"))
    val cfg = GraphConfig.fromYaml(customerSpec(p("in"))).validated
    meta = cfg.database
    GraphBuilder.build(spark, cfg).writeStaging(base.resolve("graph").toString)
    val nextCust = (g.customer.map(_.c_custkey) ++ g.customerCrm.map(_.cust_id)).max + 1
    val changed = Inputs.sample(g.customer.toIndexedSeq,
      math.max(1, g.customer.size / 100), r)
      .map(c => c.copy(c_acctbal = c.c_acctbal + 1.0))
    val added = (0L until NewCustomers).map { i =>
      Customer(nextCust + i, s"New#${nextCust + i}", r.nextInt(25), 1.0, "BUILDING")
    }
    custExpected = g.expectedNodes("Customer") + NewCustomers
    (changed ++ added).toDF().coalesce(1).write.parquet(p("in/customer_delta"))
    // ANN index and its CDC delta; the exact top 10 over the vectors live
    // after the delta is the serving check's ground truth
    val (vecs, bases) = Inputs.vectors(seed, BaseVecFamilies, 10)
    val vdf = vecs.toDF()
    val (cents, assigned) = Similarity.ivfIndex(vdf, "embedding", "vec_id", k = 16)
    val cb = Similarity.pqCodebooks(vdf, "embedding", "vec_id", m = 8, k = 16)
    Similarity.saveIndex(base.resolve("ann").toString, cents, cb,
      Similarity.encodeAssigned(assigned, "embedding", "vec_id", cb, m = 8),
      m = 8, k = 16)
    val adds = (0 until Adds).map(i => Vec(1000000L + i,
      Inputs.jitter(bases(r.nextInt(bases.length)), r).toSeq, 0))
    val dels = Inputs.sample(vecs.map(_.vec_id).toIndexedSeq, Dels, r).toSet
    (adds.map(v => AnnEvent("add", v.vec_id, v.embedding)) ++
      dels.toSeq.sorted.map(id => AnnEvent("del", id, null)))
      .toDF().coalesce(1).write.parquet(p("in/ann_delta"))
    val liveVecs = vecs.filterNot(v => dels(v.vec_id)) ++ adds
    liveExpected = liveVecs.map(_.vec_id).toSet
    val qs = (0 until Queries).map(i => Vec(20000000L + i,
      Inputs.jitter(bases(r.nextInt(bases.length)), r).toSeq, 0))
    qs.toDF().coalesce(1).write.parquet(p("in/queries"))
    exact = qs.map(q => q.vec_id -> Inputs.exactTopK(q.embedding, liveVecs, 10)).toMap
    // PageRank store over the graph's edges; the grown edge list adds 1%
    val baseEdges = Inputs.heteroEdges(g, seed, 0.0)
    val nodeSeq = baseEdges.flatMap(e => Seq(e.start_id, e.end_id)).distinct.sorted.toIndexedSeq
    val extra = (0 until baseEdges.size / 100).map { i =>
      if (i % 5 == 0) Edge(9000000L + i, nodeSeq(r.nextInt(nodeSeq.size)))
      else Edge(nodeSeq(r.nextInt(nodeSeq.size)), nodeSeq(r.nextInt(nodeSeq.size)))
    }
    nodesExpected = (nodeSeq ++ extra.flatMap(e => Seq(e.start_id, e.end_id))).distinct.size
    (baseEdges ++ extra).toDF().coalesce(1).write.parquet(p("in/edges"))
    GraphOps.saveRankStore(spark, base.resolve("rank").toString,
      driverPageRank(baseEdges).toSeq.toDF("id", "rank"), 0.85)
    // MinHash signature index over the corpus; new docs are near-copies
    // of corpus docs and fresh ones
    val docs = Inputs.corpus(seed, BaseDocs, 1).toIndexedSeq
    val copies = Inputs.sample(docs, Copies, r).zipWithIndex.map { case (d, i) =>
      val t = Inputs.edit(d.text.split(" "), 1, r).mkString(" ")
      (Doc(5000000L + i, t), Inputs.jaccard(t, d.text, 3) >= 0.8)
    }
    val news = (0 until Fresh).map(i => Doc(6000000L + i, Inputs.randomDoc(r).mkString(" ")))
    planted = copies.filter(_._2).map(_._1.doc_id).toSet
    fresh = news.map(_.doc_id).toSet
    docs.toDF().coalesce(1).write.parquet(p("in/docs"))
    (copies.map(_._1) ++ news).toDF().coalesce(1).write.parquet(p("in/new_docs"))
    Dedup.saveSigIndexVersioned(Dedup.SigIndex(
      Dedup.minhashSignatures(parquet("in/docs"), "text", "doc_id", 16, 3),
      16, 3, 42L, portable = false), base.resolve("sig").toString)
    custDelta = parquet("in/customer_delta")
    queries = parquet("in/queries")
    edges = parquet("in/edges")
    corpus = parquet("in/docs")
    newDocs = parquet("in/new_docs")
  }

  /** Fresh copy of the stores. */
  override def prepare(): Unit = {
    finish()
    Workload.deleteTree(live)
    Workload.copyTree(base, live)
    Files.createDirectories(streamIn)
  }

  /** Starts the CDC stream on the fresh ANN index and waits for its first,
    * empty trigger. The stream lives only around its timed trigger: an idle
    * stream polls its source directory every few milliseconds, which would
    * load the other calls with work that grows with their wall time. The
    * stream's jobs carry no span id, so the tracer attributes them by time
    * to the trigger that waits for them. */
  private def startStream(): Unit = {
    val sc = spark.sparkContext
    val prop = sc.getLocalProperty(Observers.SpanProp)
    sc.setLocalProperty(Observers.SpanProp, null)
    stream = StreamingIngest.streamingAnnCdc(
      spark.readStream.schema(annSchema).parquet(streamIn.toString),
      ix, live.resolve("stream-ckpt").toString, "embedding", "vec_id")
    stream.processAllAvailable()
    sc.setLocalProperty(Observers.SpanProp, prop)
  }

  override def finish(): Unit = if (stream != null) { stream.stop(); stream = null }

  /** The stores, without the stream's copied input files. */
  override def outputBytes: Option[Long] =
    Some(Storage.bytes(live) - Storage.bytes(streamIn))

  private def liveVectorIds(): Set[Long] = {
    val v = spark.read.parquet(s"$ix/vectors").select("vec_id")
    val t = Paths.get(ix, "tombstones")
    (if (Files.exists(t))
      v.join(spark.read.parquet(t.toString), Seq("vec_id"), "left_anti")
    else v).collect().map(_.getLong(0)).toSet
  }

  def iteration(tr: Tracer): Unit = {
    import spark.implicits._
    tr.call("graph_builder.upsert", writes = true, storeCommit = true) {
      GraphBuilder.upsertStagedNodes(spark, graphDir, meta, "Customer", custDelta,
        "c_custkey")
    }
    tr.untimed {
      startStream()
      Files.list(Paths.get(p("in/ann_delta"))).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach { f =>
          // the file source skips names starting with '.', so the stream
          // never lists a half-copied file
          val tmp = streamIn.resolve(s".${f.getFileName}")
          Files.copy(f, tmp)
          Files.move(tmp, streamIn.resolve(f.getFileName.toString),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    tr.call("streaming.trigger", writes = true, storeCommit = true) {
      stream.processAllAvailable()
    }
    tr.untimed { finish() }
    val served = tr.call("similarity.serve") {
      Similarity.serveTopK(spark, ix, queries, "embedding", "vec_id",
        topK = 10, nProbe = 8).collect()
    }
    val ranks = tr.call("graph_ops.pagerank_inc") {
      GraphOps.incrementalPageRankFromStore(spark, rank, edges)
    }
    val version = tr.call("stores.commit", writes = true, storeCommit = true) {
      GraphOps.saveRankStore(spark, rank, ranks, 0.85)
    }
    val report = tr.call("dedup.incremental") {
      Dedup.incrementalDedupFromIndex(Dedup.loadSigIndex(spark, sig), corpus,
        newDocs, "text", "doc_id").collect()
    }
    val kept = report.filter(_.getAs[String]("reason") == "kept")
      .map(_.getAs[Long]("doc_id")).toSeq
    val sigVersion = tr.call("stores.commit", writes = true, storeCommit = true) {
      val cur = Dedup.loadSigIndex(spark, sig)
      val add = Dedup.minhashSignatures(newDocs.filter(col("doc_id").isin(kept: _*)),
        "text", "doc_id", cur.numHashes, cur.shingleSize)
      Dedup.saveSigIndexVersioned(cur.copy(sigs = cur.sigs.unionByName(add)), sig)
    }
    tr.untimed {
      val staged = spark.read.parquet(s"$graphDir/${meta.outputStem}/nodes/Customer").count()
      tr.check("graph_builder.upsert", staged == custExpected,
        s"$staged staged customers, expected $custExpected")
      val liveIds = liveVectorIds()
      tr.check("streaming.trigger", liveIds == liveExpected,
        s"live ids differ from applied deltas " +
          s"(${(liveIds -- liveExpected).size} extra, ${(liveExpected -- liveIds).size} missing)")
      val ann = served.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val servedIds = ann.values.flatten.toSet
      val recall = exact.map { case (q, ids) =>
        ids.count(ann.getOrElse(q, Set.empty[Long]).contains) / 10.0
      }.sum / exact.size
      tr.quality("similarity.recall_at_10") = recall
      tr.check("similarity.serve", servedIds.nonEmpty &&
        servedIds.subsetOf(liveExpected) && recall >= AnnRecallFloor,
        s"served ${(servedIds -- liveExpected).size} ids that are not live, " +
          s"recall@10 $recall (floor $AnnRecallFloor)")
      val (n, total) = spark.read.parquet(s"$rank/scores/v$version")
        .agg(count(lit(1)), sum(col("rank"))).as[(Long, Double)].head()
      tr.check("stores.commit", version == 2 && n == nodesExpected &&
        math.abs(total - 1.0) < 1e-6,
        s"rank store v$version with $n ranks summing to $total, " +
          s"expected v2 with $nodesExpected")
      tr.check("stores.commit", sigVersion == 2 && FrameVersions.current(spark, sig) == 2,
        s"signature index at v$sigVersion, expected v2")
      val reason = report.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
      val caught = planted.count(id => reason.get(id).contains("corpus"))
      val nearRecall = caught.toDouble / math.max(1, planted.size)
      tr.quality("dedup.incremental_recall") = nearRecall
      val keptFresh = fresh.count(id => reason.get(id).contains("kept"))
      tr.check("dedup.incremental", nearRecall >= NearCopyRecallFloor &&
        keptFresh == fresh.size,
        s"near-copy recall $nearRecall (floor $NearCopyRecallFloor), " +
          s"fresh docs kept $keptFresh/${fresh.size}")
    }
  }
}
