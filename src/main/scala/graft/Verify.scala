package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-only third arg: comma-separated query-name subset (the
    // driver always passes two args → full run). oracle_sql.json is
    // filtered to match so check_oracle.py sees a consistent pair.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def included(name: String) = only.forall(_.contains(name))
    val spark = Sessions.local(Sessions.envCpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => included(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
      // Multi-action kernels (dmp, combat, minhash) persist intermediates
      // reused across their internal jobs; release them between queries so
      // 70+ queries sharing this session never accumulate cache blocks.
      // (Targeted — the Tables derived-view caches survive.)
      finally graft.ops.Caches.releaseAll()
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
    val json = SparkEntry.oracleSql.filter(kv => included(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
