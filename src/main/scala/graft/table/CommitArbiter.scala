package graft.table

/** The PUBLISH-STEP protocol seam (Delta ships this as a per-store
  * `LogStore` for exactly the same reason): optimistic concurrency
  * needs one thing from storage — "exactly one writer claims version
  * slot N" — but which primitive delivers that differs by store:
  *
  *  - [[CommitArbiter.Rename]] (the default): atomic no-overwrite
  *    rename of the prepared manifest DIRECTORY onto the slot —
  *    POSIX rename(2) locally, `FileContext.rename(Rename.NONE)` on
  *    HDFS. Correct wherever rename is atomic; silently WRONG on
  *    object stores, whose rename is copy+delete.
  *  - [[CommitArbiter.ConditionalPut]]: the manifest publishes as ONE
  *    object written create-if-absent ([[TableIO.createExclusive]]).
  *    This is the protocol object stores support natively — S3's
  *    `If-None-Match` PUT, GCS generation preconditions, Azure etag
  *    writes — with whole-object visibility (readers see the complete
  *    manifest or nothing, never a half-copied directory). The slot
  *    becomes a FILE rather than a directory; every reader path
  *    (`manifestOf`, `head`, history, expire) already handles both,
  *    so a table may even switch protocols mid-life.
  *
  * Selected per table by `GraftTable.setCommitArbiter` (a root-level
  * property read once per handle). CommitArbiterSpec proves the
  * conditional-put protocol with a 6-writer race on a fake filesystem
  * whose rename silently overwrites — the failure mode the rename
  * protocol cannot survive on S3-like stores. */
private[table] sealed trait CommitArbiter {
  /** move the prepared one-part manifest at `tmp` into version slot
    * `target`. True = this writer won the slot; false = the slot was
    * already taken (lost race — re-read the head and retry); anything
    * else rethrows. `tmp` is consumed either way. */
  def publish(tmp: String, target: String): Boolean
}

private[table] object CommitArbiter {

  /** scheme-routed atomic rename — [[TableIO.publish]] verbatim */
  final class Rename(io: TableIO) extends CommitArbiter {
    def publish(tmp: String, target: String): Boolean =
      io.publish(tmp, target)
  }

  /** single-object manifest via atomic create-if-absent (see trait
    * doc). The prepared directory holds exactly one parquet part
    * ([[SlotIO]] writes one); its bytes PUT at the slot name —
    * manifest-scale, one round trip. */
  final class ConditionalPut(io: TableIO) extends CommitArbiter {
    def publish(tmp: String, target: String): Boolean = {
      val parts = io.list(tmp).map(_.getPath.toString)
        .filter(_.split('/').last.startsWith("part-"))
      require(parts.size == 1,
        s"conditional-put publish expects one manifest part in $tmp, " +
          s"found ${parts.size}")
      val bytes = io.readBytes(parts.head)
      val won = io.createExclusive(target, bytes)
      io.deleteTree(tmp)
      won
    }
  }

  /** the arbiter a table root declares — `commit.conf` with
    * `arbiter=cput` selects conditional-put, anything else (including
    * no file) the rename default */
  def forRoot(io: TableIO, root: String): CommitArbiter =
    io.readUtf8(s"$root/commit.conf") match {
      case Some(s) if s.linesIterator.exists(_.trim == "arbiter=cput") =>
        new ConditionalPut(io)
      case _ => new Rename(io)
    }
}
