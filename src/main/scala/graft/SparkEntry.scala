package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-coverage surface: one entry per implemented
  * operator from SURVEY.md §2 (plus the training-data-pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's hash-match.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The flagship is the end-to-end MongoToKafka CDC pipeline (parse →
    * filter → dedup → change-suppression → schema gate → observe →
    * decorate → trace stamping).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.JobQueries.jobMongoToKafka(spark, "/root/testdata/sf0.001")

  /** Build every fixture the faces over `dir` read — job fixtures, source
    * and join staging, bucketed layouts — so a timer started after this
    * call measures engine work, not fixture construction. The one list
    * Bench, ProfileOne and ScaleProbe warm.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.jobs.JobFixtures.warm(spark, dir)
    graft.queries.SourceQueries.warm(spark, dir)
    graft.queries.JoinQueries.warm(spark, dir)
    graft.queries.Relational.warm(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.PatternQueries.queries ++
      graft.queries.StatefulQueries.queries ++
      graft.queries.JoinQueries.queries ++
      graft.queries.DataQueries.queries ++
      graft.queries.JobQueries.queries ++
      graft.queries.SourceQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.PatternQueries.oracles ++
      graft.queries.StatefulQueries.oracles ++
      graft.queries.JoinQueries.oracles ++
      graft.queries.DataQueries.oracles ++
      graft.queries.JobQueries.oracles ++
      graft.queries.SourceQueries.oracles
}
