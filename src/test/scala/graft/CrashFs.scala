package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only local FileSystem (`crashfs://` scheme) that can kill the
  * next manifest commit: while [[CrashFs.armed]] is set, the rename that
  * would publish a written `_manifests/m<G>.json` throws instead — a
  * writer dying after every data file of its commit landed but before
  * the commit itself. One-shot: the injected crash disarms it. */
final class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getParent != null && dst.getParent.getName == "_manifests" &&
        dst.getName.matches("m\\d+\\.json") && CrashFs.armed.getAndSet(false))
      throw new java.io.IOException(s"injected crash before publishing $dst")
    super.rename(src, dst)
  }
}

object CrashFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register the scheme on the session's Hadoop conf (idempotent). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
}
