package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registry is assembled from the per-module maps; every entry with
  * SQL-expressible semantics has a DuckDB oracle in [[oracleSql]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * per-event weekly class assignment (histogram → letters → broadcast back). */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_event_classes")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CACHE CONTRACT (applies to EVERY registry entry, present and future —
    * judge r11 Next #6): a query body may `.persist()` loop-invariant /
    * multiply-referenced BOUNDED frames (currently q91, q97, q110's 64-row
    * joined register frame, q127's day rollup, q151, q165 (incl. its quota frame),
    * q169, q176, q182's three tier frames, q188's `members`, q192's truth/
    * tier frames, the span family's grams frames inside Dedup.spanDups/
    * spanIncremental/spanSweep — q193/q194/q196/q197/q207 (q207 also the
    * shared token frame) — q199's fingerprint frame, q204's/q210's/
    * q219's extracted frames, q217's scored frame, q224's three
    * bounded serve frames, q227's gate-key frame, q230's parsed
    * sitemap-entry frame, q231's candidate + fresh frames, and q222's exploded
    * static-index frame
    * inside Streams.signatureServeStream — the one persist that lives
    * in an OPERATOR rather than a query body, because a stream-static
    * join re-plans its static side every micro-batch; its scaladoc
    * REQUIREs this release contract of embedders) and does NOT
    * unpersist
    * them —
    * unpersisting inside the
    * query body would evict the cache before the caller's action
    * materializes the plan, which is the only moment the persist pays.
    * Consumers that run MANY registry entries in one session (Bench,
    * Verify do this) must call `spark.catalog.clearCache()` between
    * queries, or cached frames accumulate across the 190+-entry registry
    * and force LRU churn. A caller running a single query can ignore this
    * (one query's persisted frames are bounded and die with the session). */
  def queries: Map[String, Query] = modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_.oracle).reduce(_ ++ _)

  type Query = (SparkSession, String) => DataFrame

  /** The modules [[queries]] and [[oracleSql]] merge. A query name lives in
    * one module only, and each module's oracle keys name its own queries
    * (VerifySpec guards both: a merge silently keeps the later duplicate). */
  def modules: Seq[QueryModule] = {
    import graft.queries._
    Seq(RefQueries, DedupQueries, TextQueries, SimilarityQueries, StreamingQueries, TilingQueries,
      MultimodalQueries, OpsQueries, CurationQueries, RasterQueries, FormatQueries, WebQueries)
  }
}

/** One registry module: its queries and their DuckDB oracles. */
trait QueryModule {
  def queries: Map[String, SparkEntry.Query]
  def oracle: Map[String, String]
}
