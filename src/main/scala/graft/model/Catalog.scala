package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Foreign-key link between two tables.
  *
  * Mirrors the reference's link model: `src/htsql/core/entity.py`
  * (`ForeignKeyEntity`, `DirectJoin`, `ReverseJoin`) — a direct join is the
  * child→parent (singular) traversal, the reverse join is parent→child
  * (plural). Labels are derived the way `src/htsql/core/classify.py`
  * (`classify`) derives them from FK names (FIXTURES.md §3 declares them
  * explicitly because parquet carries no FK metadata).
  *
  * @param nullable if the FK column is nullable the singular traversal is a
  *                 LEFT OUTER join, else INNER (reference: `JoinTerm.is_left`
  *                 in `src/htsql/core/tr/term.py`).
  */
final case class Link(
    childTable: String,
    childCols: Seq[String],
    parentTable: String,
    parentCols: Seq[String],
    directLabel: String,
    reverseLabel: String,
    nullable: Boolean = false
)

/** Table metadata: name + primary key (asserted, not enforced — reference:
  * `PrimaryKeyEntity` in `src/htsql/core/entity.py`).
  */
final case class TableDef(name: String, primaryKey: Seq[String])

/** Enum column declaration (reference: `EnumDomain` in
  * `src/htsql/core/domain.py` — a text column restricted to a label list).
  * Parquet has no enum metadata, so labels are declared here; the binder
  * validates string literals compared against the column at bind time.
  */
final case class EnumDef(table: String, column: String, labels: Seq[String])

/** The engine's catalog/model graph: tables, primary keys, FK links.
  *
  * Replaces the reference's introspection + model graph
  * (`src/htsql/core/introspect.py`, `src/htsql/core/model.py` — `TableNode`,
  * `TableArc`, `ChainArc`, `ColumnArc`). Spark's own catalog has no FK
  * metadata, which HTSQL navigation requires, so we keep our own registry.
  * Column types come from parquet footers at load time.
  */
final class Catalog(val tables: Seq[TableDef], val links: Seq[Link],
    val enums: Seq[EnumDef] = Seq.empty) {
  private val byName: Map[String, TableDef] = tables.map(t => t.name -> t).toMap
  private val enumsByCol: Map[(String, String), Seq[String]] =
    enums.map(e => (e.table, e.column) -> e.labels).toMap

  /** Labels of a declared enum column, if any. */
  def enumLabels(table: String, column: String): Option[Seq[String]] =
    enumsByCol.get((table, column))

  def table(name: String): TableDef =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unknown table: $name"))

  def primaryKey(name: String): Seq[String] = table(name).primaryKey

  /** Singular (child→parent) link reachable from `table` under `label`. */
  def directLink(table: String, label: String): Option[Link] =
    links.find(l => l.childTable == table && l.directLabel == label)

  /** Plural (parent→child) link reachable from `table` under `label`. */
  def reverseLink(table: String, label: String): Option[Link] =
    links.find(l => l.parentTable == table && l.reverseLabel == label)

  def isTable(name: String): Boolean = byName.contains(name)
}

/** The fixed catalog over the driver's parquet tables (FIXTURES.md §2-3). */
object Catalog {
  val default: Catalog = new Catalog(
    tables = Seq(
      TableDef("region", Seq("r_regionkey")),
      TableDef("nation", Seq("n_nationkey")),
      TableDef("customer", Seq("c_custkey")),
      TableDef("supplier", Seq("s_suppkey")),
      TableDef("part", Seq("p_partkey")),
      TableDef("orders", Seq("o_orderkey")),
      TableDef("lineitem", Seq("l_orderkey", "l_linenumber")),
      TableDef("events", Seq("event_id")),
      TableDef("documents", Seq("doc_id")),
      TableDef("embeddings", Seq("vec_id"))
    ),
    links = Seq(
      Link("nation", Seq("n_regionkey"), "region", Seq("r_regionkey"), "region", "nation"),
      Link("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey"), "nation", "customer"),
      Link("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey"), "nation", "supplier"),
      Link("orders", Seq("o_custkey"), "customer", Seq("c_custkey"), "customer", "orders"),
      Link("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"), "order", "lineitem"),
      Link("lineitem", Seq("l_partkey"), "part", Seq("p_partkey"), "part", "lineitem"),
      Link("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey"), "supplier", "lineitem"),
      Link("events", Seq("user_id"), "customer", Seq("c_custkey"), "customer", "events")
    ),
    enums = Seq(
      EnumDef("orders", "o_orderstatus", Seq("F", "O", "P")),
      EnumDef("customer", "c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
      EnumDef("lineitem", "l_returnflag", Seq("A", "N", "R")),
      EnumDef("lineitem", "l_linestatus", Seq("F", "O"))
    )
  )
}

/** The tables of a directory of data files, as DataFrames.
  *
  * Replaces the reference's backend connection (`src/htsql/core/connect.py`)
  * — instead of a DBAPI socket, tables are columnar scans that Catalyst
  * prunes and pushes filters into. At cluster scale each table is a
  * directory of many files; `spark.read` parallelizes per file-split, so
  * nothing here assumes single-file inputs.
  *
  * `format` = "parquet" (default, `<dir>/<table>.parquet`), "csv"
  * (`<table>.csv`, header row + schema inference) or "json" (`<table>.jsonl`,
  * JSON lines) — the csv and json mounts are the analogue of the reference's
  * `tweak.filedb` addon (`src/htsql/tweak/filedb/`).
  *
  * Resolution is introspect-once, as in the reference (which introspects
  * its catalog at startup and caches it, `src/htsql/core/cache.py`): every
  * `Tables` over one session shares that session's [[TableResolver]]. The
  * resolver keeps each table's resolved relation — the DataFrame with its
  * inferred schema, analysis and file index — and before each reuse stats
  * the table path once: if the path's modification time or length moved,
  * the table is resolved again. A `Tables` takes each table from the
  * resolver at most once, so a query (one `Planner`, one `Tables` on the
  * session it binds on) stats each table it touches once and sees one
  * state of it throughout. [[bytes]] is what the execution-mode rule
  * ([[graft.Execution]]) reads from the tables a query touched.
  *
  * What moves the stamp: a Spark write to the table (overwrite or append
  * changes the directory's entries) and an ETL commit (`graft.sources.Etl`
  * renames the shadow directory into place). What does not, and is
  * therefore not a supported layout under a `Tables` path: files rewritten
  * in place, and tables written with `partitionBy` subdirectories, whose
  * appends change only a subdirectory.
  */
final class Tables(val spark: SparkSession, val dir: String,
    val format: String = "parquet") {
  private val resolver = TableResolver.of(spark)
  private val cache = scala.collection.mutable.HashMap.empty[String, DataFrame]

  def apply(name: String): DataFrame =
    cache.getOrElseUpdate(name, resolver.resolve(spark, dir, name, format))

  /** The input bytes of the tables taken so far: the sizes their file
    * indexes hold from the listing resolution did (no job, no listing).
    */
  def bytes: Long = cache.values.map(Tables.bytes).sum

  def region: DataFrame = apply("region")
  def nation: DataFrame = apply("nation")
  def customer: DataFrame = apply("customer")
  def supplier: DataFrame = apply("supplier")
  def part: DataFrame = apply("part")
  def orders: DataFrame = apply("orders")
  def lineitem: DataFrame = apply("lineitem")
  def events: DataFrame = apply("events")
  def documents: DataFrame = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {
  import org.apache.spark.sql.execution.datasources.LogicalRelation
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** The file or directory that holds table `name` in a `format` mount. */
  private[model] def path(dir: String, name: String, format: String): String = format match {
    case "csv" => s"$dir/$name.csv"
    case "json" => s"$dir/$name.jsonl"
    case _ => s"$dir/$name.parquet"
  }

  private def bytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRelation => r.relation.sizeInBytes
    }.sum

  /** Resolve table `name`: infer its schema, list its files, analyze. */
  private[model] def load(spark: SparkSession, dir: String, name: String,
      format: String): DataFrame = {
    val p = path(dir, name, format)
    format match {
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(p)
      case "json" => spark.read.json(p)
      case _ =>
        if (name == "events") normalizeEventTs(spark.read.parquet(p))
        else spark.read.parquet(p)
    }
  }

  /** Normalize `events.ts` to session-zoned TimestampType whatever the
    * parquet encoding was. Fixture generators have shipped this column
    * three ways: plain INT64 epoch-nanos (and TIMESTAMP(NANOS) read under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which also surfaces as
    * LongType) → truncate to micros with integral `div` (an epoch-nanos
    * value exceeds double precision); TIMESTAMP(MICROS, isAdjustedToUTC
    * =false) → TIMESTAMP_NTZ under Spark's NTZ inference, cast to
    * TimestampType (sessions run UTC, so wall-clock == instant and the
    * DuckDB oracle's `epoch(ts)` agrees); already-zoned timestamps pass
    * through. Downstream code sees one type regardless of fixture vintage.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}
