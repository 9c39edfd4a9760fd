package graft.util

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit routine of every rewritten directory (the river's flat
  * index, each of its `kbucket=` buckets, an `AnnIndex` ingest
  * partition): a fully written `staged` directory replaces `live`, with
  * the previous `live` kept aside under `backup` until the swap is done.
  *
  * Steps, in order:
  *  1. restore a backup left aside (a crash between 3 and 4 left no
  *     `live`, only `backup`);
  *  2. drop a stale backup (a crash after 4 left both);
  *  3. rename `live` aside to `backup`;
  *  4. rename `staged` into place as `live`;
  *  5. drop the backup.
  *
  * Invariant: at every instant `live` or `backup` holds a complete copy,
  * and a backup is deleted only while `live` is known to exist. A rename
  * or delete that fails — by throwing, or by returning `false` with the
  * path still in place — raises `IOException` before any later step
  * runs, so no failure can reach a delete of the only copy.
  *
  * Replay contract: after a failure at any step, [[restore]] (which the
  * next commit runs as step 1) leaves `live` holding either its content
  * before the commit or the staged content; it never holds a mix. A
  * `foreachBatch` sink that rebuilds `staged` deterministically from
  * `live` ∪ batch and then calls [[apply]] is therefore idempotent under
  * replay, which is what makes it exactly-once (Structured Streaming,
  * SIGMOD 2018). The routine assumes one writer per `live` path.
  *
  * The `FileSystem` is a parameter so a spec can substitute a faulty one.
  */
object SwapCommit {

  /** Step 1 alone: restore `backup` as `live` if a crash left only the
    * backup. Returns whether `live` exists afterwards. Callers run it
    * before they read `live` to build the staged copy. */
  def restore(fs: FileSystem, live: Path, backup: Path): Boolean =
    fs.exists(live) || fs.exists(backup) && { rename(fs, backup, live); true }

  /** Steps 1–5: `staged` becomes `live`. */
  def apply(fs: FileSystem, staged: Path, live: Path, backup: Path): Unit = {
    val present = restore(fs, live, backup)
    drop(fs, backup)
    if (present) rename(fs, live, backup)
    rename(fs, staged, live)
    drop(fs, backup)
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")

  private def drop(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p)) throw new IOException(s"delete $p failed")
}
