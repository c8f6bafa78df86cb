package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config._
import graft.sources.SourceReader

/** The built property graph: one DataFrame per node label and per
  * relationship type — the Spark equivalent of the reference's HDF5 groups
  * `/nodes` and `/relationships`. The reference stages every table once and
  * then serializes the staged graph (graph_db_builder.py:152-155 staging,
  * then serialize). Here `nodes` and `relationships` are lazy build plans,
  * and Spark re-runs a plan for every action, so the graph binds itself to
  * its staged store:
  *
  *  - Unbound (a fresh build, or any `copy`): [[exportNeo4jCsv]] and
  *    [[stats]] run the build plans.
  *  - Bound: once [[writeStaging]] or [[upsertStaging]] has written EVERY
  *    table, the graph records that staged base dir, and [[exportNeo4jCsv]]
  *    and [[stats]] read each table from its staged parquet dir. A write
  *    that fails partway leaves the graph unbound.
  *
  * The binding is one-way, like `Dataset.persist`: it comes only from a
  * write this graph object made, never from what a directory happens to
  * hold, and nothing unbinds it except a later staging write. The caller
  * keeps the staged dirs unchanged while the graph is in use. The
  * `nodes`/`relationships` fields always stay the build plans. */
final case class PropertyGraph(
    meta: DatabaseMeta,
    nodes: Map[String, DataFrame],
    relationships: Map[String, DataFrame]) {

  /** This graph's staged store under `base`, read lazily on first use (a
    * caller that never exports pays no listing). With `exactSchema` the
    * staged tables were written from the build frames, so each read takes
    * its frame's schema and Spark runs no schema-inference job; otherwise
    * (merged upserts) the schema is read from the files. */
  private final class Staged(base: String, exactSchema: Boolean) {
    private def read(dir: String, df: DataFrame): DataFrame = {
      val reader = df.sparkSession.read
      (if (exactSchema) reader.schema(df.schema) else reader)
        .parquet(s"$base/$dir")
    }
    lazy val nodeTables: Map[String, DataFrame] = nodes.map {
      case (label, df) => label -> read(s"nodes/$label", df)
    }
    lazy val relTables: Map[String, DataFrame] = relationships.map {
      case (label, df) => label -> read(s"relationships/$label", df)
    }
  }

  @volatile private var staged: Option[Staged] = None

  /** S5-equivalent staging store: parquet dirs `nodes/<Label>/`,
    * `relationships/<TYPE>/` under `outDir/{name}-{version}`. Binds the
    * graph to them once every table is written. */
  def writeStaging(outDir: String): Unit = {
    staged = None
    val base = s"$outDir/${meta.outputStem}"
    nodes.foreach { case (label, df) =>
      df.write.mode("overwrite").parquet(s"$base/nodes/$label")
    }
    relationships.foreach { case (label, df) =>
      df.write.mode("overwrite").parquet(s"$base/relationships/$label")
    }
    staged = Some(new Staged(base, exactSchema = true))
  }

  /** Incremental twin of [[writeStaging]]: merges each node table into the
    * existing staging ([[GraphBuilder.upsertStagedNodes]], keyed by
    * `idKeys(label)`) and replaces each relationship table
    * ([[GraphBuilder.replaceStagedTable]]; edges are derived data). Binds
    * the graph to the merged store, whose node tables hold earlier batches'
    * rows and may carry columns this build lacks. */
  def upsertStaging(outDir: String, idKeys: Map[String, String]): Unit = {
    staged = None
    val base = s"$outDir/${meta.outputStem}"
    nodes.foreach { case (label, df) =>
      GraphBuilder.upsertStagedNodes(df.sparkSession, outDir, meta, label,
        df, idKeys(label))
    }
    relationships.foreach { case (label, df) =>
      GraphBuilder.replaceStagedTable(df.sparkSession,
        s"$base/relationships/$label", df)
    }
    staged = Some(new Staged(base, exactSchema = false))
  }

  /** The tables export and stats serialize: the staged store once bound,
    * else the build plans. */
  private def serialized: (Map[String, DataFrame], Map[String, DataFrame]) =
    staged.fold((nodes, relationships))(s => (s.nodeTables, s.relTables))

  /** S7/S8: CSV export in Neo4j bulk-import layout (`neo4j-admin import`):
    * node files get `<idKey>:ID(<Label>)` + `:LABEL`; relationship files get
    * `:START_ID`, `:END_ID`, `:TYPE`. The reference declared this export and
    * never built it (serialize_data stub graph_db_builder.py:407-408;
    * bin/build-graph-db:16). */
  def exportNeo4jCsv(outDir: String, idKeys: Map[String, String]): Unit = {
    val base = s"$outDir/${meta.outputStem}-csv"
    val (nodeTables, relTables) = serialized
    nodeTables.foreach { case (label, df0) =>
      val df = PropertyGraph.neo4jReady(df0)
      // uri_key contract (reference graph_db_builder.py:468-470: the uri_key
      // column "will be used to determine the URI of the node in the output
      // graph database"): a `_uri` column carried through the build becomes
      // the node's :ID unless the caller names an id key explicitly.
      val idKey = idKeys.get(label)
        .orElse(if (df.columns.contains("_uri")) Some("_uri") else None)
        .getOrElse(df.columns.head)
      val idHeader =
        if (idKey == "_uri") s"uri:ID($label)" else s"$idKey:ID($label)"
      val renamed = df.columns.foldLeft(df.withColumn(":LABEL", lit(label))) {
        case (d, c) if c == idKey => d.withColumnRenamed(c, idHeader)
        case (d, _) => d
      }
      PropertyGraph.writeCsv(renamed, s"$base/nodes_$label")
    }
    relTables.foreach { case (label, df) =>
      val ready = PropertyGraph.neo4jReady(df)
        .withColumnRenamed(RelPipeline.StartId, ":START_ID")
        .withColumnRenamed(RelPipeline.EndId, ":END_ID")
        .withColumn(":TYPE", lit(label))
      PropertyGraph.writeCsv(ready, s"$base/rels_$label")
    }
  }

  /** A4: graph statistics — node/edge count per label, one deterministic
    * report DataFrame. */
  def stats(spark: SparkSession): DataFrame = {
    val (nodeTables, relTables) = serialized
    val parts =
      nodeTables.toSeq.sortBy(_._1).map { case (label, df) =>
        df.select(lit("node").as("kind"), lit(label).as("label"),
          count(lit(1)).as("n"))
      } ++ relTables.toSeq.sortBy(_._1).map { case (label, df) =>
        df.select(lit("rel").as("kind"), lit(label).as("label"),
          count(lit(1)).as("n"))
      }
    parts.reduce(_.unionByName(_)).orderBy("kind", "label")
  }
}

object PropertyGraph {

  /** Array-typed properties can't ride in a CSV cell as-is; `neo4j-admin
    * import` expects `;`-separated values under a `name:type[]` header.
    * Scalar columns pass through untouched. */
  private[operators] def neo4jReady(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def elemName(t: DataType): String = t match {
      case LongType => "long"
      case IntegerType | ShortType | ByteType => "int"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case _ => "string"
    }
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(et, _) =>
          array_join(col(f.name).cast(ArrayType(StringType)), ";")
            .as(s"${f.name}:${elemName(et)}[]")
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Neo4j bulk import parses RFC 4180 CSV: embedded quotes are escaped by
    * doubling (`""`), not backslashes — Spark's writer defaults to `\"`,
    * which the importer rejects. Setting escape = quote restores doubling;
    * embedded newlines stay inside quoted cells. */
  private[operators] def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .csv(path)
}

/** Config-compiled graph build — the Spark lifecycle equivalent of the
  * reference's `build_hdf5_database` (graph_db_builder.py:117-131): YAML →
  * catalog → per-label DataFrame DAG (scan → project → union → merge-by-id;
  * joins for edges) → Catalyst → distributed execution. The driver only
  * touches metadata; all data movement is inside Spark jobs. */
object GraphBuilder {

  /** Build with optional ingest-time string normalization: the reference
    * NFKD→ASCII-folds string values as they stream into staging
    * (graph_db_builder.py:521-527); `asciiFold = true` applies the same
    * normalization to every string property via the codegen'd AsciiFold
    * expression (F1). */
  def build(spark: SparkSession, cfg0: GraphConfig,
      asciiFold: Boolean = false): PropertyGraph = {
    val cfg = cfg0.validated
    if (asciiFold) graft.functions.GraftFunctions.register(spark)

    def normalized(df: DataFrame): DataFrame =
      if (!asciiFold) df
      else df.select(df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          graft.functions.GraftFunctions.ascii_fold(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)

    // One scan per (source, table) within this call: node sources and FK /
    // join-table reads of one table share a DataFrame, so its schema is
    // resolved once (each parquet read runs a schema-inference job).
    val scans = scala.collection.mutable.Map.empty[(String, String), DataFrame]
    def scan(source: String, table: String): DataFrame =
      scans.getOrElseUpdate((source, table),
        SourceReader.readTable(spark, cfg.sources(source), table))

    // --- nodes: scan each source table, normalize the id column name to
    // the label's canonical id — `id_key_label` if declared (reference
    // config.yml:16-18: Gene's per-source `entrez` id surfaces as
    // `entrez_gene_id`), else the first source's id_key — then union +
    // merge (NodePipeline).
    val nodeIdKey: Map[String, String] = cfg.nodes.map { n =>
      n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)
    }.toMap

    val nodes: Map[String, DataFrame] = cfg.nodes.map { n =>
      val canonicalId = nodeIdKey(n.label)
      val srcDfs = n.sources.map { s =>
        val raw = normalized(scan(s.source, s.table))
        // Each source names its id key independently (config.yml:20 vs :27);
        // align them onto the label's canonical id before the union.
        val aligned =
          if (s.idKey == canonicalId) raw
          else raw.withColumnRenamed(s.idKey, canonicalId)
        s.uriKey.filter(_ != canonicalId) match {
          case Some(uk) if aligned.columns.contains(uk) =>
            aligned.withColumn("_uri", col(uk).cast("string"))
          case _ => aligned
        }
      }
      n.label -> NodePipeline.buildNodeTable(srcDfs, canonicalId)
    }.toMap

    // --- relationships: per declared mode (RelPipeline).
    val rels: Map[String, DataFrame] = cfg.relationships.map { r =>
      val parts = r.sources.map { rs =>
        rs.mode match {
          case fk: ForeignKeyMode =>
            val startDf = scan(rs.source, fk.startTable)
            val endDf = scan(rs.source, fk.endTable)
            // J3: resolve BOTH endpoints to the owning node's id_key — the
            // join key may be a foreign key (CUSTOMER_IN_NATION joins on
            // c_nationkey; the Customer node's id is c_custkey), so emitting
            // the raw key as start_id would attach edges to wrong nodes.
            def resolveIdKey(label: String, table: String, fallback: String,
                df: DataFrame) = {
              val id = cfg.nodes.find(_.label == label)
                .flatMap(n => n.sources.find(_.table == table)
                  .orElse(n.sources.headOption))
                .map(_.idKey).getOrElse(fallback)
              // Fail fast at the config layer: the fallback path (node
              // declared over a different table than the FK side references)
              // can name a column the FK table doesn't have — surfacing that
              // as a raw AnalysisException deep in the join would break the
              // `validated` promise of actionable errors.
              if (!df.columns.contains(id))
                throw new IllegalArgumentException(
                  s"relationship '${r.label}': resolved id key '$id' of node " +
                    s"'$label' is not a column of table '$table' " +
                    s"(columns: ${df.columns.mkString(", ")})")
              id
            }
            val startId =
              resolveIdKey(fk.startNode, fk.startTable, fk.startKey, startDf)
            val endId = resolveIdKey(fk.endNode, fk.endTable, fk.endKey, endDf)
            val startCols = (Seq(fk.startKey, startId) ++ fk.startProps).distinct
            RelPipeline.foreignKeyEdges(
              startDf.select(startCols.map(col): _*), fk.startKey, startId,
              endDf, fk.endKey, endId,
              startProps = fk.startProps, endProps = fk.endProps)
          case jt: JoinTableMode =>
            val edgeDf = scan(rs.source, jt.table)
            // Endpoint inference (reference config.yml:48-54 names no nodes
            // for join_table mode — from_field/to_field implicitly match
            // node id_keys, e.g. aop_gene.AOP_id → AOP, .entrez → Gene).
            // Explicit start_node/end_node keys override.
            def byIdKey(field: String): Option[String] =
              cfg.nodes.find(_.sources.exists(_.idKey == field)).map(_.label)
            val startLabel = r.startNode.orElse(byIdKey(jt.fromField))
            val endLabel = r.endNode.orElse(byIdKey(jt.toField))
            (startLabel, endLabel) match {
              case (Some(sl), Some(el)) =>
                RelPipeline.joinTableEdges(
                  edgeDf, jt.fromField, jt.toField,
                  nodes(sl), nodeIdKey(sl), nodes(el), nodeIdKey(el),
                  props = jt.props)
              case _ => // no resolvable endpoints: raw edge projection
                edgeDf.select(
                  (col(jt.fromField).as(RelPipeline.StartId) +:
                    col(jt.toField).as(RelPipeline.EndId) +:
                    jt.props.map(col)): _*)
            }
        }
      }
      // sources may contribute different edge-prop sets; missing columns
      // null-fill exactly like the node-side A3 union
      r.label -> parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }.toMap

    PropertyGraph(cfg.database, nodes, rels)
  }

  /** Incremental refresh of a staged node table — the batch twin of the
    * streaming ST1 ingest, implementing the reference's declared merge
    * contract ("maintains a record of already-seen nodes (based on the
    * primary ID) and either merges data or creates a new entry",
    * graph_db_builder.py:493-497): staged rows win per-property
    * (first-seen), update rows fill nulls and append new ids, schemas
    * null-fill in both directions through the A1 merge lattice.
    *
    * Crash-safe: the merge writes to a `._tmp` sibling (the job READS the
    * current staging dir, so writing in place would corrupt the input
    * mid-job), then swaps by renaming the live dir ASIDE to `._old` before
    * promoting `._tmp` — at every instant the data exists under some name,
    * unlike a delete-then-rename swap whose crash window loses the table.
    * A crash between the two renames is self-healing: the next run finds
    * `._old` without a live dir and restores it before merging.
    */
  def upsertStagedNodes(spark: SparkSession, outDir: String,
      meta: DatabaseMeta, label: String, updates: DataFrame,
      idKey: String): Unit = {
    val base = s"$outDir/${meta.outputStem}/nodes/$label"
    val (path, tmp, old, fs) = stagedPaths(spark, base)
    recoverAndClearTmp(fs, path, tmp, old)
    val merged =
      if (fs.exists(path))
        NodePipeline.buildNodeTable(
          Seq(spark.read.parquet(base), updates), idKey)
      else NodePipeline.buildNodeTable(Seq(updates), idKey)
    merged.write.mode("overwrite").parquet(tmp.toString)
    promoteTmp(fs, path, tmp, old)
  }

  /** Atomically replace a staged table dir through the same loss-proof
    * `._tmp` → aside → promote swap as [[upsertStagedNodes]]. Used for
    * relationship tables during `--upsert` refreshes: edges are derived
    * data and always rebuilt, but an in-place `mode("overwrite")` has a
    * crash window that destroys the previous edges while leaving the
    * merged nodes — this keeps the staging dir consistent at every
    * instant. */
  def replaceStagedTable(spark: SparkSession, base: String,
      df: DataFrame): Unit = {
    val (path, tmp, old, fs) = stagedPaths(spark, base)
    recoverAndClearTmp(fs, path, tmp, old)
    df.write.mode("overwrite").parquet(tmp.toString)
    promoteTmp(fs, path, tmp, old)
  }

  private def stagedPaths(spark: SparkSession, base: String) = {
    val path = new org.apache.hadoop.fs.Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (path, new org.apache.hadoop.fs.Path(base + "._tmp"),
      new org.apache.hadoop.fs.Path(base + "._old"), fs)
  }

  /** Recover from a crash between the two renames of a previous run, then
    * clear any stale `._tmp`. */
  private def recoverAndClearTmp(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Swap `._tmp` live: rename the live dir ASIDE to `._old` before
    * promoting, so the data exists under some name at every instant. */
  private def promoteTmp(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(path)) {
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(path, old))
        throw new java.io.IOException(s"could not set aside $path")
    }
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"staging swap failed: could not rename $tmp to $path " +
          s"(previous data preserved at $old)")
    fs.delete(old, true)
  }
}
