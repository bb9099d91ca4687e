package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}

/** The optimistic-commit driver every commit path of both table
  * protocols runs through — graft's manifest pointers
  * ([[VersionedTable]]) and the native Delta log
  * ([[graft.sources.DeltaWrite]]). A commit is a loop of attempts: each
  * reads a fresh snapshot, plans against it, and either finishes
  * without publishing ([[Done]]) or hands back a [[Publish]] step whose
  * CAS decides the version. The driver alone owns:
  *
  *  - the attempt cap, [[MaxAttempts]];
  *  - staged-file cleanup: an attempt's staged paths are deleted when
  *    its CAS loses, and the call's own staged paths (written once,
  *    reused across attempts) when the call ends without a win — a
  *    no-op, an abort (any exception) or the give-up. Nothing is ever
  *    deleted once a CAS of this call has won: the version references
  *    it;
  *  - the post-commit hooks, run once right after the winning CAS
  *    (the protocol's step builder supplies them: crc and checkpoint
  *    cadence for Delta, the format marker for manifests);
  *  - the one give-up message.
  */
private[graft] object Txn {

  /** Attempts per commit. A lost CAS always means another commit
    * landed in between, so a writer gives up only after 50 competing
    * commits beat it.
    */
  val MaxAttempts = 50

  sealed trait Step

  /** Nothing to publish: a no-op, or the result another commit made. */
  final case class Done(version: Long) extends Step

  /** Publish `version` through `cas` (true = this attempt won);
    * `after` runs once the CAS won. `staged` are the paths this
    * attempt wrote.
    */
  final case class Publish(version: Long, cas: () => Boolean, after: () => Unit,
                           staged: Seq[Path] = Nil) extends Step

  /** Run `attempt` (given the 1-based attempt number) until a CAS wins
    * or it returns [[Done]]; returns the committed (or current)
    * version. `staged` are the call's own staged paths.
    *
    * Attempt bodies are closures: a `return` inside one would unwind
    * through this loop as a control exception and skip the win/lose
    * bookkeeping — the build turns non-local returns in the commit
    * files into errors.
    */
  def run(fs: FileSystem, what: => String, staged: Seq[Path] = Nil)
         (attempt: Int => Step): Long = {
    var won = false
    var inFlight: Seq[Path] = Nil
    try {
      var n = 0
      while (n < MaxAttempts) {
        n += 1
        attempt(n) match {
          case Done(v) => return v
          case Publish(v, cas, after, paths) =>
            inFlight = paths
            if (cas()) {
              won = true
              after()
              return v
            }
            delete(fs, paths)
            inFlight = Nil
        }
      }
      throw new IllegalStateException(
        s"$what lost the commit race $MaxAttempts times — another writer is " +
          "committing continuously; retry later")
    } finally if (!won) delete(fs, staged ++ inFlight)
  }

  private def delete(fs: FileSystem, paths: Seq[Path]): Unit =
    paths.foreach(p =>
      try fs.delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () })
}
