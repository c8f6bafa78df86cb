package graft

import org.apache.spark.sql.SparkSession

import graft.config.GraphConfig
import graft.operators.GraphBuilder

/** CLI entry point — the drop-in equivalent of the reference's
  * `bin/build-graph-db -f config.yml` (bin/build-graph-db:7-16): parse the
  * YAML graph spec, build the property graph, write the parquet staging
  * store, optionally export Neo4j bulk-import CSVs, print the stats report.
  *
  * Usage:
  *   runMain graft.BuildGraphDb -f <config.yml> -o <outDir>
  *     [--csv] [--ascii-fold] [--upsert] [--master local[N]]
  *
  * `--upsert` merges node tables into existing staging (first-seen wins,
  * new ids append — [[GraphBuilder.upsertStagedNodes]]) instead of
  * overwriting, for scheduled incremental refreshes; relationship tables
  * are always rebuilt (edges are derived data). The CSV export and the
  * stats report then cover the merged staging, earlier batches included:
  * `neo4j-admin import` builds its database from scratch.
  */
object BuildGraphDb {

  private[graft] case class Args(
      configFile: String = "",
      outDir: String = "",
      csv: Boolean = false,
      asciiFold: Boolean = false,
      upsert: Boolean = false,
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]")

  private[graft] def parse(argv: List[String], acc: Args = Args()): Args =
    argv match {
      case Nil => acc
      case "-f" :: v :: rest => parse(rest, acc.copy(configFile = v))
      case "-o" :: v :: rest => parse(rest, acc.copy(outDir = v))
      case "--csv" :: rest => parse(rest, acc.copy(csv = true))
      case "--ascii-fold" :: rest => parse(rest, acc.copy(asciiFold = true))
      case "--upsert" :: rest => parse(rest, acc.copy(upsert = true))
      case "--master" :: v :: rest => parse(rest, acc.copy(master = v))
      case other :: _ =>
        throw new IllegalArgumentException(
          s"unknown argument '$other'; usage: -f <config.yml> -o <outDir> " +
            "[--csv] [--ascii-fold] [--upsert] [--master local[N]]")
    }

  /** Core build, session-agnostic (main owns the session; tests pass the
    * shared one). */
  private[graft] def run(args: Args, spark: SparkSession): Unit = {
    require(args.configFile.nonEmpty, "missing -f <config.yml>")
    require(args.outDir.nonEmpty, "missing -o <outDir>")
    val cfg = GraphConfig.fromFile(args.configFile).validated
    val graph = GraphBuilder.build(spark, cfg, asciiFold = args.asciiFold)
    val idKeys = cfg.nodes.map(n =>
      n.label -> n.idKeyLabel.getOrElse(n.sources.head.idKey)).toMap
    if (args.upsert) graph.upsertStaging(args.outDir, idKeys)
    else graph.writeStaging(args.outDir)
    if (args.csv) graph.exportNeo4jCsv(args.outDir, idKeys)
    println(s"[build-graph-db] staged ${graph.nodes.size} node tables and " +
      s"${graph.relationships.size} relationship tables under " +
      s"${args.outDir}/${cfg.database.outputStem}" +
      (if (args.upsert) " (upsert)" else ""))
    graph.stats(spark).show(100, truncate = false)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val spark = SparkSession.builder()
      .master(args.master)
      .appName("graft-build-graph-db")
      .config("spark.sql.shuffle.partitions",
        math.max(Runtime.getRuntime.availableProcessors, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark)
    finally spark.stop()
  }
}
