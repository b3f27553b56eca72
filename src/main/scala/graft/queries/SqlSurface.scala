package graft.queries

import graft.{Tables, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL-string surface: the parquet tables registered as temp views
  * and flagship queries routed through `spark.sql(...)` — the way an
  * analyst reaches this engine. The statements are the SAME ANSI SQL
  * strings the DuckDB oracle executes (graft.oracle.Oracles), which is
  * the strongest portability statement available: one query text, two
  * engines, hash-identical results. Catalyst gives the parsed strings
  * the same physical treatment as the DataFrame builder twins —
  * pushdown, pruning, partial aggregation, TakeOrdered —
  * SqlSurfaceSpec pins row equality and node-for-node operator
  * skeletons against the builders.
  */
object SqlSurface {

  /** Registers every TESTDATA table as a session temp view (metadata
    * only — no scan happens here; each view is lazily planned like the
    * Tables readers, with events going through the same NTZ/nanos
    * normalization). The readers come from the Tables memo, so no view
    * repeats file listing and footer schema inference.
    */
  // the dir each session's views point at: ten createOrReplaceTempView
  // calls cost ~120 ms even on memoized readers, and every sql_* query
  // would pay them. The view set for a (session, dir) pair is
  // deterministic, so re-registering the same dir is skipped; a caller
  // switching dirs falls through and overwrites all ten views
  private val registeredDirs = new Warehouse.Memo[Unit, String]()

  private[graft] def registerViews(spark: SparkSession, dir: String): Unit = {
    if (registeredDirs.get(spark, ()).contains(dir)) return
    val readers: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "region" -> Tables.region,
      "nation" -> Tables.nation,
      "customer" -> Tables.customer,
      "supplier" -> Tables.supplier,
      "part" -> Tables.part,
      "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem
    )
    readers.foreach { case (t, rd) => rd(spark, dir).createOrReplaceTempView(t) }
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    Tables.events(spark, dir).createOrReplaceTempView("events")
    registeredDirs.put(spark, (), dir)
    ()
  }

  /** Runs one SQL string against the registered views. */
  def sql(spark: SparkSession, dir: String, statement: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(statement)
  }

  /** The native-expression SQL surface: raw `spark.sql` text calling the
    * engine's INJECTED Catalyst expressions (GraftExtensions — the
    * as-of-join strategy's sibling registration path) over the documents
    * temp view. The parser resolves `graft_word_shingles` /
    * `graft_distinct_tokens` / `graft_rolling_hash` to the SAME
    * expression instances the DataFrame builders construct directly
    * (PlanSpec pins the physical identity), so an analyst typing SQL
    * gets the one-pass per-doc shingle/token/fingerprint profile at
    * builder cost — one pruned (doc_id, text) scan, no join, no
    * shuffle except the output sort. The DuckDB oracle replays all
    * three semantics relationally (shingle CTE + list_distinct +
    * list_reduce hash fold).
    */
  val nativeTextStatement: String =
    """SELECT doc_id,
      |  CAST(size(graft_word_shingles(lower(text))) AS BIGINT) AS n_shingles,
      |  CAST(size(graft_distinct_tokens(lower(text))) AS BIGINT) AS n_tokens,
      |  graft_rolling_hash(text) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  def nativeText(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, nativeTextStatement)
}
