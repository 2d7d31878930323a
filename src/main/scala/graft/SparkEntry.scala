package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query registry is the modules' [[Entry]] rows; every row with
  * SQL-expressible semantics carries its DuckDB oracle.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * per-event weekly class assignment (histogram → letters → broadcast back). */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_event_classes")(spark, "/root/testdata/sf0.001")

  /** One row per implemented operator from SURVEY.md §2, in module order.
    *
    * CACHE CONTRACT (applies to EVERY registry entry, present and future):
    * a query body may `.persist()` loop-invariant / multiply-referenced
    * BOUNDED frames and does NOT unpersist them — unpersisting inside the
    * body would evict the cache before the caller's action materializes
    * the plan, which is the only moment the persist pays. Consumers that
    * run MANY registry entries in one session (Bench, Verify, Probe) run
    * each one through [[Runner]], which calls `spark.catalog.clearCache()`
    * after the row's action; otherwise cached frames accumulate across the
    * registry and force LRU churn. A caller running a single query can
    * ignore this (one query's persisted frames are bounded and die with
    * the session). */
  lazy val registry: Seq[Entry] = modules.flatMap(_.entries)

  /** Name → build view of [[registry]]. */
  lazy val queries: Map[String, Query] = registry.map(e => e.name -> e.build).toMap

  type Query = (SparkSession, String) => DataFrame

  /** The sf table `name` of the data dir `dir`. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The `events` table. It stores `ts` as parquet TIMESTAMP(MICROS) without
    * a timezone (Spark: TIMESTAMP_NTZ), and queries derive exact integer µs
    * via unix_micros(cast(ts as timestamp)). That NTZ→TZ cast is the
    * identity only under a UTC session; every engine entry point pins it,
    * and this reader re-pins it (a runtime conf) so a FOREIGN session — the
    * driver's smoke check builds its own — cannot shift every derived
    * instant by its host zone offset. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    table(s, dir, "events")
  }

  /** The modules [[registry]] concatenates. A query name is declared once
    * in the whole registry (VerifySpec guards it: the name-keyed views
    * silently keep the later duplicate). */
  def modules: Seq[QueryModule] = {
    import graft.queries._
    Seq(RefQueries, DedupQueries, TextQueries, SimilarityQueries, StreamingQueries, TilingQueries,
      MultimodalQueries, OpsQueries, CurationQueries, RasterQueries, FormatQueries, WebQueries)
  }
}

/** One registry row: the query's Spark build, its DuckDB oracle SQL where
  * SQL can express it, and whether it is a streaming replay (Bench times
  * a replay once, since its MemoryStream run is deterministic). */
final case class Entry(name: String, build: SparkEntry.Query, oracle: Option[String] = None,
    replay: Boolean = false)

/** One registry module: its [[Entry]] rows. `entries` is a strict val, so
  * every val an oracle string reads must be declared above it or be a
  * `lazy val`/`def`: a plain val below it is still unset (null, 0) when
  * the oracle interpolates it. */
trait QueryModule {
  def entries: Seq[Entry]

  /** Name → build view of [[entries]]. */
  lazy val queries: Map[String, SparkEntry.Query] = entries.map(e => e.name -> e.build).toMap
}
