package graft.sources

import java.io.OutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** The one directory protocol behind the engine's file codecs (IDAT, WARC,
  * XLSX, ZIP and the multimodal decoders).
  *
  *   - [[write]]: a sink resets its directory, creates its files task-side
  *     through the Hadoop FS with the SESSION's conf (a bare
  *     `new Configuration()` on an executor would drop `spark.hadoop.*`
  *     settings and could resolve another `fs.defaultFS`), and writes the
  *     `_SUCCESS` commit marker after the job. A directory without the
  *     marker is partial, never complete.
  *   - [[once]]: a caller builds a directory only while its marker is
  *     absent, checked through the same FS that wrote it.
  *   - [[read]]: a scan starts from `(file, content)` rows, one file each,
  *     `file` being the path tail (the binaryFile source; the file is the
  *     unit of parallelism of every non-splittable container).
  */
object BinaryFiles {

  /** Task-side file creation under one directory: `open(name)(body)`
    * creates `dir/<name>` (overwriting) and closes it when `body` returns
    * or throws.
    */
  final class Opener private[BinaryFiles] (dir: String,
      conf: Broadcast[SerializableConfiguration]) {
    def apply(name: String)(body: OutputStream => Unit): Unit = {
      val p = new Path(s"$dir/$name")
      val out = p.getFileSystem(conf.value.value).create(p, true)
      try body(out) finally out.close()
    }
  }

  /** The session's Hadoop conf, broadcast once for the tasks of one call. */
  private[sources] def hadoopConf(spark: SparkSession)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Sink: delete and recreate `dir`, run `part` on every partition of
    * `df` with the partition's rows and an [[Opener]] creating under `dir`,
    * then write `dir/_SUCCESS`. A failing partition fails the job before
    * the marker is written.
    */
  def write(df: DataFrame, dir: String)(part: (Iterator[Row], Opener) => Unit): Unit = {
    val conf = hadoopConf(df.sparkSession)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf.value.value)
    fs.delete(root, true)
    fs.mkdirs(root)
    df.foreachPartition((it: Iterator[Row]) => part(it, new Opener(dir, conf)))
    fs.create(new Path(s"$dir/_SUCCESS"), true).close()
  }

  /** Run `build` unless `dir/_SUCCESS` exists, and write the marker after
    * it when `build` left none (a sink of [[write]] or a Spark file commit
    * writes its own). Existence of the directory alone is not completion:
    * a run killed mid-build leaves a partial directory, which is rebuilt.
    */
  def once(spark: SparkSession, dir: String)(build: => Unit): Unit = {
    val marker = new Path(s"$dir/_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      build
      if (!fs.exists(marker)) fs.create(marker, true).close()
    }
  }

  /** Scan: `(file, content)` for every file under `dir` whose name matches
    * `glob`, one row per file. `_SUCCESS`, `.crc` side files and other
    * names starting with `_` or `.` are skipped. The glob is the
    * `pathGlobFilter` option, not part of the path: a glob inside the path
    * makes the resolver log a spurious FileNotFoundException before its
    * expansion fallback.
    */
  def read(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("content"))
}
