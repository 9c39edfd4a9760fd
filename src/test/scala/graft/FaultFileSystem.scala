package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the `fault:` scheme, failing one chosen
  * rename or delete. A spec registers it with
  * `fs.fault.impl = graft.FaultFileSystem`, addresses directories as
  * `fault:///tmp/...`, and arms it with the paths a commit touches: the
  * k-th rename or delete whose (source) path is one of them then either
  * throws or returns `false` without acting. Every other operation —
  * Spark's own output-committer renames included — passes through. */
class FaultFileSystem extends LocalFileSystem(new FaultFileSystem.Raw) {
  import FaultFileSystem.step
  override def rename(src: Path, dst: Path): Boolean = step(src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = step(f)(super.delete(f, recursive))
}

object FaultFileSystem {
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create("fault:///")
  }

  sealed trait Mode
  case object Throws extends Mode
  case object ReturnsFalse extends Mode

  @volatile private var watched = Set.empty[String]
  @volatile private var failAt = 0
  @volatile private var mode: Mode = Throws
  private val seen = new AtomicInteger

  /** Watch renames and deletes of `paths` (compared by URI path) and
    * fail the k-th one in `m`; k = 0 only counts. */
  def arm(paths: Set[Path], k: Int, m: Mode): Unit = {
    seen.set(0); failAt = k; mode = m
    watched = paths.map(_.toUri.getPath)
  }

  /** Stop watching; returns the number of watched operations issued. */
  def disarm(): Int = { watched = Set.empty; seen.get }

  private def step(p: Path)(op: => Boolean): Boolean =
    if (!watched(p.toUri.getPath) || seen.incrementAndGet() != failAt) op
    else mode match {
      case Throws => throw new IOException(s"injected failure at $p")
      case ReturnsFalse => false
    }
}
