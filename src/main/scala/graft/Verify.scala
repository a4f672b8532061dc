package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

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
    // Jackson escapes quotes, backslashes and every control character, so a
    // tab or CR in a query's oracle SQL still reads back as valid JSON.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), new ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.filter(kv => included(kv._1)).asJava))
    spark.stop()
  }
}
