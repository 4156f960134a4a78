package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Pointer-file commit protocol for [[Merge]] / [[graft.streaming.MergeSink]]
 * snapshots, safe on filesystems WITHOUT atomic directory rename — i.e.
 * object stores, the reference pipeline's actual substrate
 * (the reference README.md:76 lands data on S3): an S3 "directory
 * rename" is a non-atomic per-object copy+delete, so a rename-based
 * swap can tear there. This protocol never renames and never
 * overwrites, and it is the only one the merges use:
 *
 *  - data lives in IMMUTABLE generation dirs, written once at their
 *    final path: `<dir>/data/g-<v>-<nonce>` (whole-snapshot mode) or
 *    `<dir>/data/<partCol>=<val>/g-<v>-<nonce>` (partition-scoped
 *    mode). The per-writer random nonce ([[stagedGenName]]) makes
 *    concurrent writers of the same version collision-free BY PATH —
 *    no writer ever writes bytes into a directory another writer may
 *    own, so a racing loser can never clobber a committed generation;
 *    its unreferenced dir is debris a LATER preamble GC reclaims
 *    (age-gated by [[stagedGrace]] so an in-flight peer's stage is
 *    never mistaken for debris mid-write). The commit file records
 *    the ACTUAL dir names;
 *  - the atomic flip is the EXISTENCE of a new small commit file
 *    `<dir>/_graft_commit-<v>` naming the live generation dir(s); a
 *    commit object is created once and never rewritten;
 *  - readers resolve through the newest commit file that parses WHOLE
 *    (header + entry-count trailer), so a torn write from a crash
 *    mid-commit is skipped, not half-read;
 *  - crash debris (staged-but-uncommitted generations, torn or
 *    superseded commit files) is garbage-collected by the next
 *    application's preamble — recovery never depends on the crash
 *    point;
 *  - the newest `spark.graft.merge.retainCommits` (default 2) commits
 *    and their generations survive GC, so retained history is readable
 *    as of any listed version ([[graft.operators.Merge.readSnapshotAt]])
 *    and the lost-pointer fallback commit resolves to dirs that still
 *    exist; [[graft.operators.Merge.vacuum]] trims explicitly.
 *
 * Single writer per snapshot (foreachBatch serializes batches). A VIOLATION is detected
 * loudly rather than corrupting silently: writers pre-check their
 * target generation path after the preamble GC, compare the live
 * version again between staging and the flip ([[requireUnchanged]]),
 * and the pointer write itself is an exclusive create — the late
 * writer of a race fails with an explicit conflict error telling the
 * operator to fsck and replay. (Loud detection, not locking: a true
 * multi-writer deployment needs an external coordinator, exactly as
 * Delta on S3 needs a LogStore with conditional puts.) Readers racing
 * a commit may see the previous generation until they re-resolve; a
 * reader holding paths into a superseded generation across a later
 * cleanup must retry.
 */
private[graft] object ManifestCommit {

  private val Prefix = "_graft_commit-"

  /** live entries are paths relative to `<dir>/data`: either
    * `g-<v>` (whole-snapshot) or `<leaf>/g-<v>` (partition-scoped).
    *
    * `tag` is an OPTIONAL writer-supplied idempotency token (no
    * whitespace), carried in the commit header — the streaming rollup
    * stamps `<appToken>-<batchId>` there so a re-delivered micro-batch
    * can recognize its own already-committed fold (the Delta
    * txnAppId/txnVersion pattern). Absent for batch-mode commits;
    * pre-tag commit files parse unchanged. */
  case class State(version: Long, live: Seq[String],
      tag: Option[String] = None) {
    require(tag.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "commit tag must be non-empty and whitespace-free")
  }

  def dataDir(dir: Path): Path = new Path(dir, "data")

  def genName(v: Long): String = f"g-$v%012d"

  /** Writer-unique FINAL generation dir name for version `v`:
    * `g-<v>-<nonce>`. The random nonce makes concurrent writers of the
    * same version collision-free BY PATH: no writer ever writes bytes
    * into a directory another writer (committed or not) may own, so
    * DIRECT clobbering is impossible. Path uniqueness alone is NOT the
    * whole race story — a peer's preamble [[gc]] could still reclaim
    * an in-flight stage it takes for debris; the [[stagedGrace]] age
    * gate keeps fresh stages out of GC's reach and [[requireIntact]]
    * backstops the rest, but SINGLE-WRITER remains the safety
    * contract (races are detected loudly, not coordinated). The
    * commit file records the ACTUAL dir name (entries are names, not
    * versions), so readers resolve the winner's dir exactly, and NO
    * RENAME is ever needed — the dir is written once at its final
    * path, preserving the protocol's object-store contract. Sorts
    * after the plain `g-<v>` form of the same version, which only
    * matters to humans listing the dir. */
  def stagedGenName(v: Long): String =
    s"${genName(v)}-${java.util.UUID.randomUUID.toString.take(8)}"

  /** True iff some generation dir for version `v` (either name form)
    * already exists under `data/` at `parent` — the writers' early
    * concurrent-same-version probe: after a preamble GC only a live
    * commit's generations and a CONCURRENT writer's freshly staged
    * dirs can be present. */
  def versionDirExists(fs: FileSystem, parent: Path, v: Long): Boolean = {
    val g = genName(v)
    fs.exists(parent) && fs.listStatus(parent).exists { s =>
      val n = s.getPath.getName
      s.isDirectory && (n == g || n.startsWith(g + "-"))
    }
  }

  def commitName(v: Long): String = f"$Prefix$v%012d"

  /** Generation dirs under `<dir>/data`, committed or not, relative to
    * it (`g-…` or `<leaf>/g-…`), sorted. */
  def generationDirs(fs: FileSystem, dir: Path): Seq[String] = {
    val data = dataDir(dir)
    def dirs(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    if (!fs.exists(data)) return Nil
    dirs(data).flatMap { n =>
      if (n.startsWith("g-")) Seq(n)
      else dirs(new Path(data, n)).filter(_.startsWith("g-")).map(n + "/" + _)
    }.sorted
  }

  /** The version a generation dir name (`g-<v>` or `g-<v>-<nonce>`,
    * optionally under a leaf) was staged for. */
  def generationVersion(rel: String): Long =
    rel.substring(rel.lastIndexOf('/') + 1).stripPrefix("g-")
      .takeWhile(_.isDigit).toLong

  def exists(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.startsWith(Prefix))

  /** How many commits (and their generations) [[gc]] retains, from
    * `spark.graft.merge.retainCommits` (default 2: the live commit plus
    * one predecessor — enough for the lost-pointer fallback and
    * one-step time travel; raise it to keep deeper history readable
    * through [[graft.operators.Merge.readSnapshotAt]]). Clamped to
    * >= 1: the live commit is never collectable. */
  def retention(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(1, spark.conf.getOption("spark.graft.merge.retainCommits")
      .map(_.toInt).getOrElse(2))

  /** Grace window (ms) during which an UNREFERENCED generation dir is
    * presumed to be an in-flight concurrent writer's stage and
    * survives [[gc]] — from `spark.graft.merge.stagedGraceMs`
    * (default 60 s; 0 disables the gate). Rationale: a peer's
    * preamble GC deleting a racing writer's stage mid-write was the
    * one way the nonce-dir design could lose data files SILENTLY
    * (r9 advice) — with the gate, a fresh stage is left alone and the
    * peer aborts on its own version-dir probe instead. Consequence:
    * after a CRASH, a restart within the grace window aborts on that
    * same probe (the debris still looks in-flight) until the window
    * passes — a supervisor retry rides it out; crash-simulation tests
    * set the conf to 0 or age the debris.
    *
    * SIZING CONTRACT: the gate keys off the stage's newest VISIBLE
    * mtime. On an object store a data file only appears at close, so
    * a single part-file upload that outlasts the grace leaves the
    * stage's newest visible mtime stale and a peer GC can reclaim an
    * ACTIVE stage ([[requireIntact]] then aborts the innocent writer
    * loudly rather than losing data silently). Set `stagedGraceMs`
    * comfortably ABOVE the longest expected single-file write (part
    * size / slowest sustained upload rate — minutes, not seconds, for
    * GB-scale parts on a congested link); the 60 s default assumes
    * the engine's own bounded part sizes on a local-FS-like store. */
  def stagedGrace(spark: org.apache.spark.sql.SparkSession): Long =
    math.max(0L, spark.conf.getOption("spark.graft.merge.stagedGraceMs")
      .map(_.toLong).getOrElse(60000L))

  /** Optimistic concurrency for PARTITION-scoped manifest merges
    * (`spark.graft.merge.occ`, default false). When on, a writer that
    * loses the commit race re-reads the winner's state and — iff every
    * partition the winners changed since this writer's base state is
    * DISJOINT from the partitions this writer touched — rebases: its
    * already-staged generations are still derived from current state
    * (nobody moved its partitions), so it re-flips at the next version
    * carrying the winners' entries forward. Overlapping writers still
    * fail loudly (the merged content was computed from superseded
    * partition state — no rebase can fix that; replay the batch).
    * Whole-snapshot commits never rebase: they touch everything, so
    * any concurrent commit overlaps by definition. Default OFF keeps
    * the single-writer-loud contract. */
  def occEnabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("spark.graft.merge.occ").exists(_.toBoolean)

  /** Max rebase attempts per [[occEnabled]] merge before giving up
    * loudly (`spark.graft.merge.occRetries`, default 5) — bounds
    * livelock under pathological contention. */
  def occRetries(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(1, spark.conf.getOption("spark.graft.merge.occRetries")
      .map(_.toInt).getOrElse(5))

  /** [[write]]'s exclusive create lost to an existing file at the same
    * version. `peerMidFlip` = the existing file is TORN: a peer's flip
    * is in progress (its create landed, its content hasn't) — or a
    * crashed writer's debris. An OCC merge waits a beat and re-reads
    * on `peerMidFlip`; a WHOLE existing file is a committed version
    * and rebases immediately. Extends IllegalStateException so callers
    * that match the untyped conflict keep working. */
  final class CommitConflictException(msg: String, cause: Throwable,
      val peerMidFlip: Boolean) extends IllegalStateException(msg, cause)

  /** A partition-scoped state's live entries as leaf -> generation. */
  def liveLeafMap(st: Option[State]): Map[String, String] =
    st.map(_.live.map { e =>
      val i = e.lastIndexOf('/'); (e.substring(0, i), e.substring(i + 1))
    }.toMap).getOrElse(Map.empty)

  /** Leaves whose generation mapping differs between two states —
    * added, removed, or repointed: exactly the partitions the commits
    * between the two states touched (generations are immutable, so a
    * leaf whose mapping is unchanged has unchanged DATA). */
  def changedLeaves(from: Map[String, String],
      to: Map[String, String]): Set[String] =
    (from.keySet ++ to.keySet).filter(l => from.get(l) != to.get(l))

  /** Newest modification time at-or-under `p`: the dir's own mtime or
    * any entry below it (an actively-writing stage has fresh task/
    * _temporary files even when the dir mtime has gone stale).
    * Plain listStatus recursion — `listFiles(recursive)` resolves
    * LocatedFileStatus permissions through the raw local FS, which
    * breaks under custom-scheme FS wrappers (the StrictNoRenameFs specs)
    * and buys nothing on a generation-sized tree. */
  private def newestMTime(fs: FileSystem, p: Path): Long =
    try {
      val st = fs.getFileStatus(p)
      var m = st.getModificationTime
      if (st.isDirectory)
        fs.listStatus(p).foreach(c =>
          m = math.max(m, newestMTime(fs, c.getPath)))
      m
    } catch {
      // an entry vanishing between the listing and its stat means the
      // tree is being ACTIVELY mutated right now — a peer's in-flight
      // write renaming its _temporary task files, or a completed peer
      // clearing its own staging (the r12 three-real-writer race found
      // this: an innocent writer's preamble gc died walking a sibling's
      // live stage). For the grace gate "mutating now" IS "fresh":
      // report NOW so this cycle skips the reclaim; a genuinely dead
      // tree stops changing and ages out normally on a later pass.
      case _: java.io.FileNotFoundException => System.currentTimeMillis()
    }

  /** Data files of a generation dir as `(path, length)`, sorted —
    * hidden/system entries (`_SUCCESS`, `_temporary`, dotfiles)
    * excluded, exactly the set a parquet reader resolves. Writers
    * capture this right after staging and [[requireIntact]] re-checks
    * it just before the pointer flip. */
  def dataFileListing(fs: FileSystem, p: Path): Seq[(String, Long)] = {
    if (!fs.exists(p)) return Seq.empty
    val buf = Seq.newBuilder[(String, Long)]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (s.isDirectory) walk(s.getPath)
        else buf += ((s.getPath.toString, s.getLen))
      }
    }
    walk(p)
    buf.result().sortBy(_._1)
  }

  /** The writers' staged-files compare, run between staging and the
    * pointer flip (the same TOCTOU-narrowing role [[requireUnchanged]]
    * plays for the version): the staged generation must still hold
    * exactly the files the write produced. A mismatch means an
    * external actor — in practice a concurrent writer's preamble GC
    * reclaiming what it took for debris — touched the stage, and
    * committing would publish a generation with silently missing
    * data; fail THIS writer loudly instead. With the
    * [[stagedGrace]]-gated GC this should be unreachable (the peer
    * skips fresh stages and aborts on its version probe); the check
    * is the independent backstop for stages older than the grace. */
  def requireIntact(fs: FileSystem, dir: Path, genPath: Path,
      staged: Seq[(String, Long)]): Unit = {
    // the dir itself vanishing covers the pre-capture window too: a
    // reclaim between write-completion and the caller's listing left
    // an empty `staged`, which would otherwise compare equal to the
    // equally-empty re-listing — but Spark's committed write always
    // leaves the directory itself, so its absence is unambiguous
    if (!fs.exists(genPath))
      throw new IllegalStateException(
        s"snapshot $dir: staged generation $genPath vanished between " +
          "write and commit — another process (a concurrent writer's " +
          "GC?) reclaimed it. Snapshots are single-writer; stop the " +
          "second stream, run Merge.fsck, and replay this batch")
    val now = dataFileListing(fs, genPath)
    if (now != staged)
      throw new IllegalStateException(
        s"snapshot $dir: staged generation $genPath changed between " +
          s"write and commit (staged ${staged.size} data files, found " +
          s"${now.size}) — another process (a concurrent writer's GC?) " +
          "touched it. Snapshots are single-writer; stop the second " +
          "stream, run Merge.fsck, and replay this batch")
  }

  /** Versions whose commit files still exist and parse whole —
    * the versions [[readVersion]] can resolve, ascending. */
  def versions(fs: FileSystem, dir: Path): Seq[Long] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(Prefix)).sortBy(_.getName)
      .flatMap(p => parse(fs, p)).map(_.version).toSeq
  }

  /** The state a specific commit pinned — time travel. None if that
    * version was never committed, was vacuumed, or is torn. */
  def readVersion(fs: FileSystem, dir: Path, version: Long): Option[State] = {
    val p = new Path(dir, commitName(version))
    if (fs.exists(p)) parse(fs, p).filter(_.version == version) else None
  }

  /** Newest commit file whose content parses whole; torn writes from a
    * crash mid-commit fail the trailer check and fall through to the
    * previous commit. */
  def read(fs: FileSystem, dir: Path): Option[State] = {
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(Prefix))
      .sortBy(_.getName).reverseIterator
      .flatMap(p => parse(fs, p))
      .nextOption()
  }

  /** None means TORN (content fails the header/trailer check) — never
    * "couldn't read": an I/O error while opening or reading PROPAGATES,
    * because swallowing it would let [[gc]] mistake the live commit for
    * a torn one (read() falls back to the predecessor, liveIdx points
    * below the real live commit, and the commit file plus its
    * generations get deleted — permanent loss of committed data on a
    * store having a transient bad moment). Torn-write detection needs
    * no exception path: a partial upload parses but fails the
    * entry-count trailer. */
  private def parse(fs: FileSystem, p: Path): Option[State] = {
    // a file that VANISHED between the caller's listing and this open
    // is a definitive absence, not a transient store error: the only
    // deleters of commit files are gc (superseded / aged-torn — never
    // the live one) and vacuum, so a concurrent peer's preamble gc
    // reclaiming a superseded file mid-iteration must read as "never
    // listed", not kill this writer (the r12 three-real-writer race
    // found this). TRANSIENT errors (the FlakyOpenFs 503 case) still
    // propagate below — swallowing those is what could make gc
    // mistake the live commit for torn.
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n", -1).toSeq
    val header = lines.head.split(" ")
    if (header.length < 3 || header.length > 4 ||
        header(0) != "graft-commit" || header(1) != "v1")
      None
    else {
      val body = lines.tail.takeWhile(!_.startsWith("end "))
      if (!lines.lift(1 + body.size).contains(s"end ${body.size}")) None
      else
        try Some(State(header(2).toLong, body, header.lift(3)))
        catch {
          // a non-numeric version OR a tag failing State's own require
          // (e.g. embedded \r or \t from byte corruption) is CONTENT
          // damage = torn, never a crash — one bad commit file must
          // not make read()/gc()/fsck() unusable (I/O errors still
          // propagate from the open/read above, by design)
          case _: NumberFormatException | _: IllegalArgumentException =>
            None
        }
    }
  }

  /** One small object, created once, never overwritten or renamed — the
    * flip IS the object's existence. Line format with an entry-count
    * trailer so a partial upload is detectably torn.
    *
    * Create is EXCLUSIVE (overwrite = false): two writers racing to
    * commit the same version serialize on the store's create-if-absent,
    * and the loser fails with an explicit conflict error instead of a
    * raw I/O exception — the last line of the multi-writer defense
    * (the writers' preamble checks catch the race earlier; see
    * [[graft.operators.Merge.commitWholeGeneration]]).
    *
    * Success is only reported after a READ-BACK VERIFY: the commit
    * object is re-read and must parse whole with the written version.
    * On a POSIX-style FS a peer's GC deleting the in-flight file does
    * NOT fail the writer's close (the open handle keeps writing into
    * an unlinked inode), so without the read-back an acknowledged
    * commit could silently not exist — the streaming checkpoint would
    * advance past a batch whose data vanished (r10 advice). [[gc]]'s
    * flip-window grace makes that reclaim not happen; this makes it
    * LOUD if it somehow does anyway. */
  def write(fs: FileSystem, dir: Path, st: State): Unit = {
    val p = new Path(dir, commitName(st.version))
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException if fs.exists(p) =>
          // distinguish the two ways a file can already be here: a WHOLE
          // file is a committed version (a concurrent writer won); a
          // TORN one is crash debris — possibly THIS writer's own
          // mid-flip crash, grace-gated by the preamble gc for
          // stagedGraceMs so a racing peer's in-flight flip isn't
          // reclaimed (r11 advice: blaming "a concurrent writer" for
          // one's own debris misdiagnoses the common single-writer
          // restart)
          val torn =
            try parse(fs, p).isEmpty
            catch { case _: java.io.IOException => false }
          throw new CommitConflictException(
            if (torn)
              s"commit ${p.getName} at $dir exists but is TORN — either " +
                "a concurrent writer is flipping this version right now, " +
                "or this writer's OWN earlier crash left it (fresh torn " +
                "files are grace-gated for spark.graft.merge.stagedGraceMs " +
                "so a peer's in-flight flip survives gc). If no second " +
                "writer is running, retry after the grace window — the " +
                "preamble gc will clear the aged debris; otherwise stop " +
                "the second stream and run Merge.fsck"
            else
              s"commit ${p.getName} already exists at $dir — a concurrent " +
                "writer committed this version first. Snapshots are " +
                "single-writer; stop the second stream and run Merge.fsck " +
                "before trusting the snapshot", e, torn)
      }
    val head = s"graft-commit v1 ${st.version}" +
      st.tag.map(" " + _).getOrElse("")
    try out.write((s"$head\n" +
      st.live.map(_ + "\n").mkString + s"end ${st.live.size}\n")
      .getBytes("UTF-8"))
    finally out.close()
    val ok =
      try fs.exists(p) && parse(fs, p).contains(st)
      catch { case _: java.io.IOException => false }
    if (!ok)
      throw new IllegalStateException(
        s"commit ${p.getName} at $dir did not read back whole after " +
          "close — an external actor (a concurrent writer's GC or " +
          "vacuum?) removed or damaged it mid-flip. The flip did NOT " +
          "happen; do not advance the checkpoint. Snapshots are " +
          "single-writer; stop the second stream, run Merge.fsck, and " +
          "replay this batch")
  }

  /** The writers' expected-version compare, run between staging a
    * generation and flipping the pointer: the live version must still
    * be the one this commit derived from. A mismatch means a concurrent
    * writer flipped the pointer mid-commit — fail the LATE writer
    * loudly (its staged generation may have overwritten the winner's:
    * fsck, then replay the loser's batch against the new live state).
    * TOCTOU-narrowing, not locking — [[write]]'s exclusive create is
    * the atomic backstop; single-writer remains the documented
    * contract, this makes violating it loud instead of silent. */
  def requireUnchanged(fs: FileSystem, dir: Path,
      basedOn: Option[State]): Unit = {
    val expect = basedOn.map(_.version).getOrElse(0L)
    val now = read(fs, dir).map(_.version).getOrElse(0L)
    if (now != expect)
      throw new IllegalStateException(
        s"snapshot at $dir moved from version $expect to $now while this " +
          "commit was staging — a concurrent writer is active. Snapshots " +
          "are single-writer; stop the second stream, run Merge.fsck, and " +
          "replay this batch against the new live state")
  }

  /** Read-only integrity audit: (kind, detail) findings —
    * `torn_commit` (file exists, fails the header/trailer check),
    * `missing_generation` (a parseable commit references a data dir
    * that is absent or empty — the serious one: that version cannot be
    * read), `orphan_generation` (a staged dir no parseable commit
    * references — a crashed or race-losing writer's debris the next
    * GC reclaims; informational),
    * `no_live_commit` (nothing resolvable at all). Empty = healthy.
    * Never mutates: fsck is what an operator runs BEFORE trusting a
    * snapshot, not a repair tool (repair = the writers' preamble GC). */
  def fsck(fs: FileSystem, dir: Path): Seq[(String, String)] = {
    if (!fs.exists(dir)) return Seq(("missing_snapshot", dir.toString))
    val out = Seq.newBuilder[(String, String)]
    val commits = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(Prefix)).sortBy(_.getName)
    val parsed = commits.map(p => p -> parse(fs, p))
    parsed.collect { case (p, None) =>
      out += (("torn_commit", p.getName))
    }
    val states = parsed.flatMap(_._2)
    if (states.isEmpty) out += (("no_live_commit", dir.toString))
    val data = dataDir(dir)
    def nonEmptyDir(p: Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists(s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    states.foreach { st =>
      st.live.foreach { g =>
        if (!nonEmptyDir(new Path(data, g)))
          out += (("missing_generation", s"v${st.version}:$g"))
      }
    }
    val referenced = states.flatMap(_.live).toSet
    if (fs.exists(data)) fs.listStatus(data).filter(_.isDirectory)
      .foreach { child =>
        val n = child.getPath.getName
        if (n.startsWith("g-")) {
          if (!referenced(n)) out += (("orphan_generation", n))
        } else fs.listStatus(child.getPath).filter(_.isDirectory)
          .foreach { g =>
            val rel = n + "/" + g.getPath.getName
            if (!referenced(rel)) out += (("orphan_generation", rel))
          }
      }
    out.result()
  }

  /** Preamble/cleanup GC: drop commit files other than the newest
    * `retain` parseable ones at-or-below the live commit, and
    * generation dirs NO retained commit references — orphans of a
    * crashed stage, or generations a crashed post-commit cleanup left
    * behind. Retained commits keep their generations, so every version
    * [[versions]] lists stays readable (time travel) and the
    * lost-pointer fallback commit resolves to dirs that still exist.
    * Runs BEFORE any staging, so a re-delivered batch re-stages into
    * clean paths.
    *
    * `graceMs` > 0 AGE-GATES the generation-dir reclaim: an
    * unreferenced dir whose newest mtime (dir or any file under it)
    * is within the window is left alone — it may be a concurrent
    * writer's IN-FLIGHT stage, and deleting it mid-write was the one
    * silent-data-loss hole in the nonce-dir design (r9 advice; see
    * [[stagedGrace]]). The SAME gate covers commit files ABOVE the
    * live pointer: every such file is torn (a parseable one would BE
    * live), and a FRESH torn file may be a peer's pointer flip in
    * progress — deleting it mid-write would not fail the peer's
    * close on a POSIX FS, so its acknowledged commit would silently
    * vanish (r10 advice; [[write]]'s read-back verify is the loud
    * backstop). An AGED torn file is crash debris and must clear out
    * so a re-delivered batch can re-create the same version number.
    * Superseded commit files at-or-below the live pointer are inert
    * (readers resolve past them) and reclaim immediately. */
  def gc(fs: FileSystem, dir: Path, retain: Int = 2,
      graceMs: Long = 0L): Unit = {
    if (!fs.exists(dir)) return
    val keep = math.max(1, retain)
    val now = System.currentTimeMillis()
    def reclaim(p: Path): Unit =
      if (graceMs <= 0L || now - newestMTime(fs, p) >= graceMs)
        fs.delete(p, true)
    val st = read(fs, dir)
    val commits = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(Prefix)).sortBy(_.getName)
    // keep the newest `keep` commits at or below the live one;
    // everything else goes — in particular any file ABOVE the live one
    // is a torn write (read would have picked it otherwise) and must
    // clear out so a re-delivered batch can re-create the same version
    // number
    val liveIdx = st.map(s => commits.indexWhere(_.getName == commitName(s.version)))
      .getOrElse(-1)
    val retained = commits.zipWithIndex.collect {
      case (p, i) if i <= liveIdx && i > liveIdx - keep => p
    }
    val retainedNames = retained.map(_.getName).toSet
    // commit files to DELETE: everything non-retained, except a fresh
    // file above the live pointer — usually a torn peer flip in
    // progress, but possibly a peer's COMPLETED commit that landed
    // between our read() and this listing, so it must keep both its
    // file AND (below) its generations until it ages or a later read()
    // adopts it as live
    val deletable = commits.zipWithIndex.collect {
      case (p, i) if !retainedNames(p.getName) &&
        (i <= liveIdx || graceMs <= 0L ||
          now - newestMTime(fs, p) >= graceMs) => p
    }
    // parse BEFORE deleting: generations a dropped commit referenced
    // were committed once — definitely not an in-flight stage, so
    // they reclaim immediately regardless of age (vacuum of fresh
    // superseded history); only NEVER-referenced dirs — the ones that
    // might be a peer's in-flight stage — get the grace gate
    val droppedLive = deletable
      .flatMap(p => parse(fs, p)).flatMap(_.live).toSet
    deletable.foreach(p => fs.delete(p, false))
    val data = dataDir(dir)
    if (fs.exists(data)) {
      // a generation stays iff some SURVIVING commit file references
      // it: the retained window, plus a fresh parseable commit above
      // live (the racing-peer case above — deleting its data while
      // its pointer survives would manufacture a missing_generation
      // on committed state). A torn survivor contributes nothing —
      // its staged dir is never-referenced and fresh, so the grace
      // gate protects it independently.
      val deletableNames = deletable.map(_.getName).toSet
      val live = commits.filterNot(p => deletableNames(p.getName))
        .flatMap(p => parse(fs, p)).flatMap(_.live).toSet
      def drop(rel: String, p: Path): Unit =
        if (!live(rel)) {
          if (droppedLive(rel)) fs.delete(p, true) else reclaim(p)
        }
      fs.listStatus(data).filter(_.isDirectory).foreach { child =>
        val n = child.getPath.getName
        if (n.startsWith("g-")) {
          drop(n, child.getPath)
        } else {
          fs.listStatus(child.getPath).filter(_.isDirectory).foreach { g =>
            drop(n + "/" + g.getPath.getName, g.getPath)
          }
          if (fs.listStatus(child.getPath).isEmpty)
            fs.delete(child.getPath, false)
        }
      }
    }
  }
}
