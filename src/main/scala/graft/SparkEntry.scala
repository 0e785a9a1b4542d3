package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SparseRel
import graft.queries.{CoreQueries, Golden, PipelineQueries, QueryDef, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The one local session of every main and spec: `local[cores]` with
    * `cores` shuffle partitions, UTC session time, no UI, and Spark's
    * log level set to `logLevel`. A main's `cores` is `SPARK_GRAFT_CPUS`,
    * else every available processor. */
  def localSession(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's README flagship flow (SURVEY §7.1): scan the event
    * log → one-hot the categorical field → groupby-sum per user. */
  def entry(spark: SparkSession): DataFrame =
    SparseRel.scanEvents(Tables.events(spark, "/root/testdata/sf0.001"),
        "event_type", Seq("user_id"), Some(Tables.EventTypes))
      .groupbySum().df

  private def defs: Seq[QueryDef] = CoreQueries.all ++ PipelineQueries.all

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = oracleSqlFor(Golden.committed)

  /** [[oracleSql]] replaying the trained state in `golden`. */
  private[graft] def oracleSqlFor(golden: Golden.Store): Map[String, String] =
    defs.flatMap(d => d.oracle(golden).map(sql => d.name -> sql)).toMap
}
