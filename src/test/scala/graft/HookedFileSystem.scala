package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the private `hookfs:` scheme
  * (`hookfs:///tmp/x` is the local `/tmp/x`), with a one-shot hook that
  * runs right before an open of a chosen file: a racing commit or a
  * crash can be injected at an exact filesystem step of the code under
  * test, which reads through `hookfs:` while the injected action works
  * on the plain local path. */
class HookedFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = HookedFileSystem.uri
}) {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    HookedFileSystem.fire(f)
    super.open(f, bufferSize)
  }
}

object HookedFileSystem {
  private val uri = URI.create("hookfs:///")
  private val hook = new AtomicReference[(Path => Boolean, () => Unit)]()

  /** `local` addressed through this filesystem. */
  def path(local: String): String = s"hookfs://$local"

  /** Register the scheme with `conf` (a Spark session's
    * `hadoopConfiguration`, so its tasks resolve it too). */
  def register(conf: Configuration): Unit =
    conf.set("fs.hookfs.impl", classOf[HookedFileSystem].getName)

  /** Run `action` once, before the first open of a path `matches`
    * accepts. */
  def onceBeforeOpen(matches: Path => Boolean)(action: => Unit): Unit =
    hook.set((matches, () => action))

  def clear(): Unit = hook.set(null)

  private def fire(f: Path): Unit = {
    val h = hook.get
    if (h != null && h._1(f) && hook.compareAndSet(h, null)) h._2()
  }
}
