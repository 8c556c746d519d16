package graft.util

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Marker/metadata IO routed through the Hadoop FileSystem API resolved
  * from the Spark session, so index directories work on any supported
  * filesystem (local, HDFS, S3A) — not just java.io paths. The reference
  * writes its index as one local blob (/root/reference/gin.c:375-398);
  * a cluster-scale index instead lives wherever the cluster's storage
  * is, and every existence/size/marker probe must go through the same
  * FS abstraction Spark itself uses.
  */
object Fs {

  def resolve(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  def exists(spark: SparkSession, p: String): Boolean = {
    val (fs, path) = resolve(spark, p)
    fs.exists(path)
  }

  /** Atomic-enough marker write: create-overwrite of a small file. */
  def write(spark: SparkSession, p: String, content: String): Unit = {
    val (fs, path) = resolve(spark, p)
    val parent = path.getParent
    if (parent != null) fs.mkdirs(parent)
    val out = fs.create(path, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** Replace a small file so that readReplaced sees the old or the new
    * content, never a truncated one: write the sibling `p.tmp`, then
    * rename it over `p` (FileContext OVERWRITE: atomic on HDFS, delete +
    * rename on the local filesystem). A crash between that delete and
    * rename leaves the new content only in the sibling: readReplaced
    * reads it there, and the next replace moves it back first. */
  def replace(spark: SparkSession, p: String, content: String): Unit = {
    val tmp = s"$p.tmp"
    if (!exists(spark, p) && exists(spark, tmp)) renameChecked(spark, tmp, p)
    write(spark, tmp, content)
    val (fs, path) = resolve(spark, p)
    FileContext.getFileContext(fs.getUri, spark.sessionState.newHadoopConf())
      .rename(fs.makeQualified(new Path(tmp)), fs.makeQualified(path),
        Options.Rename.OVERWRITE)
  }

  /** Read a file written by replace: `p`, or its sibling where a crash
    * left the new content only there. */
  def readReplaced(spark: SparkSession, p: String): String =
    read(spark, if (!exists(spark, p) && exists(spark, s"$p.tmp")) s"$p.tmp" else p)

  def read(spark: SparkSession, p: String): String = {
    val (fs, path) = resolve(spark, p)
    val in = fs.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  def delete(spark: SparkSession, p: String): Unit = {
    val (fs, path) = resolve(spark, p)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Recursive byte size of a directory tree (0 if absent). */
  def dirBytes(spark: SparkSession, p: String): Long = {
    val (fs, path) = resolve(spark, p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  /** Non-recursive child paths of a directory (empty if absent). */
  def list(spark: SparkSession, p: String): Seq[Path] = {
    val (fs, path) = resolve(spark, p)
    if (fs.exists(path)) fs.listStatus(path).toSeq.map(_.getPath) else Nil
  }

  def rename(spark: SparkSession, from: String, to: String): Boolean = {
    val (fs, _) = resolve(spark, from)
    fs.rename(new Path(from), new Path(to))
  }

  /** Rename that FAILS LOUDLY instead of returning false: recovery and
    * swap paths must never proceed past a rename the filesystem rejected
    * (HDFS/S3A report e.g. an existing destination this way) — a silently
    * ignored false leaves the index in a state the healing logic then
    * misreads. */
  def renameChecked(spark: SparkSession, from: String, to: String): Unit =
    require(rename(spark, from, to), s"rename failed: $from -> $to")

  /** Rename for HEAL paths, where a concurrent healer/writer may have
    * completed the same promote first: losing that benign race (rename
    * fails but the destination now exists) is fine; a rename the
    * filesystem rejected with the destination still absent is a real
    * failure and throws. */
  def renameOrHealed(spark: SparkSession, from: String, to: String): Unit = {
    // filesystems disagree on a missing source: HDFS returns false,
    // RawLocalFileSystem throws FileNotFoundException — both mean the
    // same thing here (the winner already moved it)
    val ok =
      try rename(spark, from, to)
      catch { case _: java.io.IOException => false }
    if (!ok)
      require(exists(spark, to),
        s"rename failed: $from -> $to (destination still absent)")
  }

  /** Recursively delete files named `prefix*` under `dir` (descends into
    * partition subdirectories). */
  def deletePrefixed(spark: SparkSession, dir: String, prefix: String): Unit = {
    val (fs, root) = resolve(spark, dir)
    if (!fs.exists(root)) return
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.startsWith(prefix))
        fs.delete(st.getPath, false)
    }
    walk(root)
  }

  /** Move every data file under `stagingDir` into `destDir` with a
    * `prefix` on the filename, preserving partition subdirectories
    * (bucket=N/...); deletes any existing `prefix`-named files in the
    * destination tree first, so a retry after a partial failure is a
    * true overwrite — the idempotent-append primitive for streaming
    * ingest. */
  def promoteStaged(spark: SparkSession, stagingDir: String, destDir: String,
                    prefix: String): Unit = {
    deletePrefixed(spark, destDir, prefix)
    val (fs, staging) = resolve(spark, stagingDir)
    def move(src: Path, dst: Path): Unit = {
      fs.mkdirs(dst)
      fs.listStatus(src).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) move(st.getPath, new Path(dst, name))
        else if (!name.startsWith("_") && !name.startsWith(".")) // skip _SUCCESS
          fs.rename(st.getPath, new Path(dst, prefix + name))
      }
    }
    if (fs.exists(staging)) {
      move(staging, new Path(destDir))
      fs.delete(staging, true)
    }
  }
}
