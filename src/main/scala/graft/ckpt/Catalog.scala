package graft.ckpt

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-shaped (snapshot + manifest) catalog over a filesystem
  * (SURVEY §7.0: no Iceberg runtime jar in the sandbox, so this implements
  * the same commit contract — write data files first, commit a manifest
  * atomically last — against any Hadoop-compatible path; a real Iceberg
  * catalog drops in behind the same three calls on a cluster).
  *
  * Layout:
  *   root/<table>/snap-<id>/          parquet data files (written by Spark)
  *   root/<table>/meta/manifest-<id>.json   commit record (atomic rename)
  *
  * A snapshot is visible iff its manifest exists; half-written data dirs
  * are ignored — which is exactly the resume-after-kill guarantee the
  * north rule asks for.
  *
  * All metadata I/O goes through the Hadoop FileSystem API resolved from
  * the root path's scheme (file://, hdfs://, s3a://, ...), the same
  * filesystem Spark writes the data files to — nothing here assumes a
  * local disk. The manifest rename is atomic on local/HDFS; on object
  * stores it is copy+delete, which is why real Iceberg commits via a
  * catalog service there — same caveat, same seam. */
final class Catalog(rootDir: String) extends Serializable {
  private def fs(): FileSystem = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())
    new HPath(rootDir).getFileSystem(conf) // cached per scheme+authority
  }
  private def meta(table: String): HPath = new HPath(rootDir, s"$table/meta")
  private def dataDir(table: String, id: Long): HPath =
    new HPath(rootDir, s"$table/snap-$id")

  /** Write `df` as snapshot `id` of `table`; commit is the atomic manifest
    * rename, performed only after the parquet write succeeded. Returns the
    * per-data-file row counts (read driver-side from the parquet footers —
    * no Spark job), which the manifest also records: Iceberg manifests
    * carry exactly this per-file lineage, and the caller's per-partition
    * metrics derive from it for free. */
  def writeSnapshot(df: DataFrame, table: String, id: Long): Seq[(String, Long)] = {
    val dir = dataDir(table, id)
    df.write.mode("overwrite").parquet(dir.toString)
    val f = fs()
    val conf = f.getConf
    // footer opens are ~5-10 ms each through ChecksumFileSystem — read them
    // in parallel or a wide snapshot pays 32×latency serially per superstep
    import scala.collection.parallel.CollectionConverters._
    val fileRows = f.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      .par.map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        val n = try r.getRecordCount finally r.close()
        (p.getName, n)
      }.seq
    val filesJson = fileRows
      .map { case (name, n) => s"""{"file":"$name","rows":$n}""" }.mkString(",")
    commitManifest(table, id,
      s"""{"snapshot":$id,"data":"${dir.getName}","files":[$filesJson],"committed_ms":${System.currentTimeMillis()}}""")
    fileRows
  }

  /** Append driver-side rows to a log-style table as a JSON-lines data file
    * under the SAME commit contract (data file first, manifest rename
    * last). For small per-superstep metric batches this costs a driver file
    * write instead of a Spark job — the difference between metrics riding
    * along for free and metrics doubling the superstep's fixed cost. */
  def appendJsonRows(table: String, lines: Seq[String]): Unit = {
    val id = latestSnapshot(table).getOrElse(-1L) + 1L
    val dir = dataDir(table, id)
    val f = fs()
    f.mkdirs(dir)
    val data = new HPath(dir, s"rows-$id.jsonl")
    val out = f.create(data, true)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    commitManifest(table, id,
      s"""{"snapshot":$id,"data":"${dir.getName}","files":[{"file":"${data.getName}","rows":${lines.size}}],"committed_ms":${System.currentTimeMillis()}}""")
  }

  private def commitManifest(table: String, id: Long, manifest: String): Unit = {
    val f = fs()
    f.mkdirs(meta(table))
    val tmp = new HPath(meta(table), s".manifest-$id.tmp")
    val out = f.create(tmp, true)
    try out.write(manifest.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new HPath(meta(table), s"manifest-$id.json")
    f.delete(dst, false) // re-commit of the same id replaces its manifest
    require(f.rename(tmp, dst), s"manifest commit rename failed: $tmp -> $dst")
  }

  /** Ids of committed snapshots (manifest present), ascending. */
  def snapshots(table: String): Seq[Long] = {
    val m = meta(table)
    val f = fs()
    if (!f.exists(m)) return Seq.empty
    f.listStatus(m).map(_.getPath.getName)
      .collect { case s if s.startsWith("manifest-") && s.endsWith(".json") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toLong
      }.toSeq.sorted
  }

  def latestSnapshot(table: String): Option[Long] = snapshots(table).lastOption

  def readSnapshot(spark: SparkSession, table: String, id: Long): DataFrame =
    spark.read.parquet(literal(dataDir(table, id)))

  /** `p` for a Spark reader, which globs its paths: glob metacharacters in
    * a table name (a run id) are escaped so they match literally. */
  private def literal(p: HPath): String = p.toString.replaceAll("""([\\{}\[\]*?])""", """\\$1""")

  /** Append rows to a log-style table (each append = one new snapshot). */
  def append(df: DataFrame, table: String): Unit =
    writeSnapshot(df, table, latestSnapshot(table).getOrElse(-1L) + 1L)

  /** Read the union of all committed JSONL snapshots (appendJsonRows) with
    * an explicit schema — one multi-path scan, not a per-snapshot union. */
  def readAllJson(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val ids = snapshots(table)
    if (ids.isEmpty) None
    else Some(spark.read.schema(schema)
      .json(ids.map(id => literal(dataDir(table, id))): _*))
  }
}
