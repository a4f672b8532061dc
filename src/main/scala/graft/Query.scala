package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark implementation plus (when
  * SQL-expressible) a DuckDB oracle that must produce the identical result
  * on the same parquet tables. `oracle = None` → the driver records a
  * weaker rows-only check (reserved for kernels like PCA/ComBat/BMIQ).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Scratch dir for queries that exercise file sinks/sources:
    * `target/qtmp` of the checkout whose build holds these classes (the
    * nearest directory above them with a `build.sbt`), whatever directory
    * the process starts in, so engines built in two checkouts never write
    * into each other's folders. Classes with no such directory above them
    * use a `qtmp` beside their class directory or jar.
    */
  val scratch: String = {
    val classes = java.nio.file.Paths.get(
      classOf[Q].getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => java.nio.file.Files.isRegularFile(d.resolve("build.sbt")))
      .fold(s"${classes.getParent}/qtmp")(d => s"$d/target/qtmp")
  }
}
