package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Common, Q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is declared here as a named
  * query; `oracleSql` carries the byte-equivalent DuckDB SQL the driver
  * hash-checks at sf0.01. Queries whose semantics are not SQL-expressible
  * (approx sketches, LSH internals tested elsewhere) omit the oracle and
  * get the weaker rows-only check.
  */
object SparkEntry {

  def registry: Seq[Q] =
    graft.queries.Relational.qs ++ graft.queries.Relational2.qs ++
      graft.queries.Relational3.qs ++ graft.queries.Events.qs ++
      graft.queries.TextOps.qs ++ graft.queries.Embeddings.qs ++
      graft.queries.QboPipelines.qs ++ graft.queries.MultimodalOps.qs ++
      graft.queries.Pipeline.qs ++ graft.queries.Curation.qs ++
      graft.queries.Curation2.qs ++ graft.queries.Curation3.qs ++
      graft.queries.Curation4.qs ++ graft.queries.Curation5.qs ++
      graft.queries.Curation6.qs ++
      graft.queries.Audit.qs ++
      graft.queries.Audit2.qs ++ graft.queries.Audit3.qs ++
      graft.queries.Streaming2.qs ++ graft.queries.Formats.qs ++
      graft.queries.Crawl.qs ++ graft.queries.Crawl2.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The one session the mains (Verify, Bench, tools.Trace) run on, so
    * the correctness gate, the board and the trace see the same plans.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's own sessions carry its extensions: custom SQL
      // functions + the TopK strategy (incl. the row_number-top-k
      // auto-route), so every main exercises the plans a library user
      // gets
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // NOTE: forcing small file splits (spark.sql.files.maxPartitionBytes
      // = 2m) to parallelize the single ~20 MB-per-table scans was
      // measured SLOWER here (23.4s vs 19.5s total): per-split scheduling
      // and footer overhead beats scan parallelism at this scale. The
      // default split size stays; on a real cluster the same knob is
      // sized to executor memory, not to core count.
      // shuffle/spill files ride the same tmpfs-preferring scratch
      // root as streaming checkpoints (Common.scratchRoot — a
      // throttled local volume must not masquerade as engine cost)
      .config("spark.local.dir", Common.scratchRoot + "/graft_spark_local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
