package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query-name prefixes to dump/check
    val keep: String => Boolean =
      if (only.isEmpty) _ => true
      else name => only(0).split(',').exists(name.startsWith)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
    // the engine's session: the same physical configuration, extensions,
    // per-process warehouse and local filesystem as Bench and the specs
    val spark = GraftSession.local(cpus, "verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // session-end warehouse ledger + stale-fingerprint sweep of this
    // JVM's own warehouse (GraftSession's, deleted on exit); a FILTERED
    // run must not sweep — it derived only a subset of the live
    // fingerprints, so everything else would read as stale
    System.err.println(graft.Warehouse.warehouseHygiene(spark, sweep = only.isEmpty))
    spark.stop()
  }
}
