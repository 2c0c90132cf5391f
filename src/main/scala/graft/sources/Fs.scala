package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file operations (stage markers, manifests, generation pointers)
  * through the Hadoop FileSystem API, so an index root on hdfs:// or
  * s3a:// behaves exactly like file:// — java.nio would silently treat
  * such URIs as driver-local relative paths (SURVEY.md §8 review note). */
object Fs {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readString(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** Modification time of a path (0 when absent) — a cheap filesystem
    * stat used to version per-JVM memo caches against in-place rebuilds
    * (a rewritten directory gets a fresh mtime, so stale entries never
    * resolve). */
  def mtime(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.getFileStatus(p).getModificationTime else 0L
  }

  /** Write `df` as ONE flat parquet FILE at `target` (not a directory).
    * Spark's file-stream source lists flat files only — part files nested
    * inside a `*.parquet` directory are invisible to it — so landing
    * batches for streaming ingest need this shape. Single-file by design:
    * it is a batch-landing helper, not a bulk writer. */
  def writeFlatParquet(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val scratch = target + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val f = fs(spark, scratch)
    val part = f.listStatus(new Path(scratch))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new java.io.IOException(s"no part file in $scratch"))
    if (!f.rename(part, new Path(target)))
      throw new java.io.IOException(s"rename $part -> $target failed")
    f.delete(new Path(scratch), true)
  }

  /** Atomic publish: write tmp, rename OVER the target in one operation
    * (FileContext rename with OVERWRITE — atomic on local and HDFS). The
    * naive delete-then-rename leaves a window where a crash strands the
    * pointer missing entirely, which readers would misread as "never
    * initialized"; OVERWRITE closes that window. Filesystems without
    * FileContext support fall back to delete+rename, and readers must
    * treat a missing pointer as a possible crash (see
    * [[graft.streaming.StreamingIngest.ingestBatch]]).
    *
    * A checksummed filesystem (the local `file://` one) renames a file and
    * its `.crc` in two steps, so a reader between them would pair one
    * version's bytes with another version's checksum and fail. Pointer
    * files there carry no `.crc`: any stale one is removed first (a file
    * without one is read unverified), then the file is written and renamed
    * through the raw filesystem, whose rename replaces the target in one
    * step. */
  def publishString(spark: SparkSession, path: String, content: String): Unit = {
    val (tmp, target) = (new Path(path + ".tmp"), new Path(path))
    def write(f: FileSystem): Unit = {
      val out = f.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    fs(spark, path) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        val raw = c.getRawFileSystem
        Seq(tmp, target).foreach(p => raw.delete(c.getChecksumFile(p), false))
        write(raw)
        if (!raw.rename(tmp, target))
          throw new java.io.IOException(s"publish rename failed for $path")
      case f =>
        write(f)
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            f.getUri, spark.sparkContext.hadoopConfiguration)
          fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          // UnsupportedFileSystemException (no AbstractFileSystem binding,
          // e.g. s3a/gs) extends IOException, NOT
          // UnsupportedOperationException — it must be caught here or the
          // documented fallback is unreachable
          case _: UnsupportedOperationException |
               _: org.apache.hadoop.fs.UnsupportedFileSystemException |
               _: java.io.FileNotFoundException =>
            f.delete(target, false)
            if (!f.rename(tmp, target))
              throw new java.io.IOException(s"publish rename failed for $path")
        }
    }
  }
}
