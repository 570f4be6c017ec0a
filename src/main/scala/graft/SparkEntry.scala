package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Aggregates every implemented operator module's queries. Each module row
  * corresponds to a SURVEY.md §2 inventory line; oracle SQL is provided for
  * everything SQL-expressible (the rest get the driver's rows-only check).
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    CoreQueries,
    FunctionQueries,
    ExtensionQueries,
    StreamQueries,
    LangQueries,
    EtlQueries,
    PipelineQueries,
    CompareQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * `/region{r_name, count(nation)}` — the SURVEY.md §7.2 end-to-end slice.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_plural_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracleSql).toMap

  /** The one session builder of every main and the test suites: `local`
    * with `cpus` cores and as many shuffle partitions, the engine's native
    * functions injected ([[GraftExtensions]]), UTC session time, no UI.
    * Fixture vintages that ship `events.ts` as TIMESTAMP(NANOS) read as
    * raw longs under `nanosAsLong` (`Tables.normalizeEventTs` converts);
    * the current micros fixtures ignore it.
    */
  def session(appName: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

  /** Cores for [[session]] from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
