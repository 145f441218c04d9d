package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

/** The `file:` filesystem of a traced run: Hadoop's local filesystem that
  * also records every file it opens under the program's stored-artifact
  * cache (`java.io.tmpdir/graft_*`), with the file's size. Spark executors
  * run in the benchmark JVM, so one registry sees every read.
  */
final class ArtifactReads extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ArtifactReads.note(f)
    super.open(f, bufferSize)
  }
}

object ArtifactReads {
  private val prefix = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_").getPath
  private val opened = new ConcurrentHashMap[String, java.lang.Long]()

  private def note(f: Path): Unit = {
    val p = f.toUri.getPath
    if (p != null && p.startsWith(prefix) && !p.endsWith(".crc"))
      opened.computeIfAbsent(p, k => new java.io.File(k).length)
  }

  /** Forget the files recorded so far. */
  def reset(): Unit = opened.clear()

  /** Total size of the distinct artifact files opened since [[reset]]. */
  def bytes(): Long = {
    var total = 0L
    opened.values.forEach(v => total += v)
    total
  }
}
