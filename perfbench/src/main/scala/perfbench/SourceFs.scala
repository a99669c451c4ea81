package perfbench

import java.net.URI
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem}

/** The local filesystem under its own URI scheme, so Hadoop keeps a
  * separate byte count for it. The benchmark hands the program its
  * Batch1 directory as `pbsrc:///…`; the `pbsrc` statistics then count
  * exactly the Batch1 source text Spark read, apart from parquet reads
  * of the warehouse and from the Batch2 delta.
  */
class SourceFs extends RawLocalFileSystem {
  override def getUri: URI = SourceFs.Root
  override def getScheme: String = SourceFs.Scheme
}

object SourceFs {
  val Scheme = "pbsrc"
  val Root: URI = URI.create(s"$Scheme:///")

  def uri(localDir: String): String =
    s"$Scheme://" + new java.io.File(localDir).getAbsolutePath

  /** Bytes read through any `pbsrc` filesystem instance so far. */
  def bytesRead: Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == Scheme)
      .map(_.getBytesRead).sum
  }
}
