package graft

import java.io.{IOException, OutputStream}
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `crashpoint://` scheme: every
  * mutating call (create, delete, mkdirs, rename) goes through
  * [[CrashPoint.call]], which records it and, when armed, fails it.
  * Calls the local filesystem makes to itself (create's parent
  * mkdirs, mkdirs' own recursion) are part of the outer call. Streams
  * it opens stop writing once the writer is dead, so a file still
  * open at the crash keeps only what reached the disk before it. */
class CrashPointFs extends RawLocalFileSystem {
  override def getScheme: String = "crashpoint"
  override def getUri: java.net.URI = java.net.URI.create("crashpoint:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    CrashPoint.call("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    CrashPoint.call("create", f)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    CrashPoint.call("create", f)(super.createNonRecursive(f, permission,
      flags, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    CrashPoint.call("create", f)(super.createNonRecursive(f, permission,
      overwrite, bufferSize, replication, blockSize, progress))

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    CrashPoint.call("create", f)(super.append(f, bufferSize, progress))

  override def delete(f: Path, recursive: Boolean): Boolean =
    CrashPoint.call("delete", f, noop = !exists(f))(super.delete(f, recursive))

  override def mkdirs(f: Path): Boolean =
    CrashPoint.call("mkdirs", f, noop = exists(f))(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    CrashPoint.call("mkdirs", f, noop = exists(f))(super.mkdirs(f, permission))

  override def rename(src: Path, dst: Path): Boolean =
    CrashPoint.call("rename", src, dst)(super.rename(src, dst))

  /** Listings come back sorted by name, as an object store lists:
    * a job commit then merges its task dirs in one order every run.
    * Statuses carry default permissions: the local filesystem loads
    * real ones through a `file:` URI, which this scheme is not. */
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).sortBy(_.getPath.getName).map(plain)

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getAccessTime, FsPermission.getFileDefault, "", "", s.getPath)

  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): OutputStream =
    new CrashPoint.StopAtDeath(
      super.createOutputStreamWithMode(f, append, permission))
}

/** Crash windows as recorded filesystem calls (the ALICE idea: kill
  * the real operation at each call it makes, instead of replaying its
  * steps by hand). A spec records one clean run of an operation on a
  * `crashpoint://` fixture ([[record]]), picks its [[windows]], and for
  * each one restores the fixture, runs the operation again armed at
  * that call ([[crashAt]] or [[failOnce]]), and checks recovery.
  *
  * A call is named by its kind, its path with the run-specific tokens
  * masked (job UUIDs, task attempt ids, generation nonces) and its
  * occurrence among calls with that name, so concurrent tasks arm the
  * same call in every run whatever their order. A child JVM started
  * with [[haltProps]] halts(137) at the named call instead of failing
  * it: the filesystem class loads by name from the test classpath the
  * child inherits. */
object CrashPoint {

  /** One recorded mutating call; `n` counts calls with the same
    * [[key]] in this run, from 1; `noop` when it changed nothing (a
    * delete of an absent path, a mkdirs of an existing dir). */
  final case class Call(kind: String, path: String, to: Option[String],
      n: Int, onExecutor: Boolean, noop: Boolean) {
    def key: String = s"$kind ${mask(path)}"
    override def toString: String =
      s"$kind $path" + to.map(" -> " + _).getOrElse("") +
        (if (n > 1) s" #$n" else "")
  }

  private sealed trait Mode
  private case object Crash extends Mode
  private case object FailOnce extends Mode
  private case object Halt extends Mode

  @volatile private var armed: Option[(String, Int, Mode)] =
    sys.props.get("graft.crashpoint.haltAt").map { s =>
      val Array(n, key) = s.split(" ", 2)
      (key, n.toInt, Halt)
    }
  @volatile private var dead = false
  @volatile private var fired = false
  @volatile private var log: ConcurrentLinkedQueue[Call] = null
  private val counts = new ConcurrentHashMap[String, AtomicInteger]
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Masks what differs between two runs of the same operation. */
  def mask(path: String): String = path
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "*")
    .replaceAll("(attempt|task)_[0-9]+_[0-9]+_([mr])_([0-9]+)(_[0-9]+)?", "$1_*_$2_$3")
    .replaceAll("(g-[0-9]{12})-[0-9a-f]{8}", "$1-*")

  private[graft] def call[A](kind: String, f: Path, to: Path = null,
      noop: => Boolean = false)(body: => A): A =
    if (inCall.get) body
    else {
      inCall.set(true)
      try {
        check(kind, f, to, noop)
        body
      } finally inCall.set(false)
    }

  private def check(kind: String, f: Path, to: Path,
      noop: => Boolean): Unit = {
    if (dead) throw new IOException(s"crash point: writer is dead ($kind $f)")
    val path = f.toUri.getPath
    val key = s"$kind ${mask(path)}"
    val n = counts.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
    val l = log
    if (l != null) l.add(Call(kind, path, Option(to).map(_.toUri.getPath), n,
      TaskContext.get() != null, noop))
    armed match {
      case Some((`key`, `n`, mode)) =>
        fired = true
        mode match {
          case Halt => Runtime.getRuntime.halt(137)
          case Crash => dead = true
          case FailOnce =>
        }
        throw new IOException(s"crash point: injected failure at $kind $f")
      case _ =>
    }
  }

  /** An open stream stops at the writer's death: nothing more of it
    * reaches the disk. */
  private[graft] final class StopAtDeath(out: OutputStream)
      extends java.io.FilterOutputStream(out) {
    private def alive(): Unit =
      if (dead) throw new IOException("crash point: writer is dead")
    override def write(b: Int): Unit = { alive(); out.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      alive(); out.write(b, off, len)
    }
    override def flush(): Unit = { alive(); out.flush() }
    override def close(): Unit =
      if (dead) { Try(out.close()); alive() } else out.close()
  }

  /** Registers the scheme on the session's Hadoop conf, uncached. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashpoint.impl", classOf[CrashPointFs].getName)
    conf.setBoolean("fs.crashpoint.impl.disable.cache", true)
  }

  /** `dir` (a local path) under the crash-point scheme. */
  def uri(dir: String): String = "crashpoint://" + dir

  /** Points catalog table `t` at its own files under the crash-point
    * scheme (the in-memory catalog keeps the location for the rest of
    * the session); returns their local dir. [[unrelocate]] before a
    * DROP: the catalog deletes a managed table's files through a
    * Hadoop conf copied before the scheme was registered. */
  def relocate(spark: SparkSession, t: String): String = {
    val local = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath
    spark.sql(s"ALTER TABLE $t SET LOCATION '${uri(local)}'")
    local
  }

  /** Points a [[relocate]]d table `t`, if it exists, back at `file:`. */
  def unrelocate(spark: SparkSession, t: String): Unit =
    if (spark.catalog.tableExists(t)) {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      if (loc.getScheme == "crashpoint")
        spark.sql(s"ALTER TABLE $t SET LOCATION 'file://${loc.getPath}'")
    }

  private def reset(): Unit = {
    counts.clear(); dead = false; fired = false; armed = None; log = null
  }

  /** The mutating calls `body` makes, in order, from a clean run. */
  def record[A](body: => A): (A, Seq[Call]) = synchronized {
    reset()
    val l = new ConcurrentLinkedQueue[Call]
    log = l
    try (body, l.asScala.toSeq) finally reset()
  }

  /** Runs `body` with the writer dying at `at`: that call and every
    * later one fails, from tasks and `finally` blocks too, so the disk
    * ends as a halt at that call leaves it. Returns how `body` ended. */
  def crashAt[A](spark: SparkSession, at: Call)(body: => A): Try[A] =
    armedRun(spark, at, Crash)(body)

  /** Runs `body` with only the call `at` failing: a caught error. */
  def failOnce[A](spark: SparkSession, at: Call)(body: => A): Try[A] =
    armedRun(spark, at, FailOnce)(body)

  private def armedRun[A](spark: SparkSession, at: Call, mode: Mode)(
      body: => A): Try[A] = synchronized {
    reset()
    armed = Some((at.key, at.n, mode))
    try {
      val r = Try(body)
      quiesce(spark)
      require(fired, s"crash point never reached: $at (run ended with $r)")
      r
    } finally reset()
  }

  /** Waits until no task of `spark` runs: tasks of a failed job may
    * still be unwinding when the job's failure reaches the driver. */
  private def quiesce(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 60L * 1000000000L
    def busy = {
      ListenerBusBridge.waitUntilEmpty(sc, 10000L)
      sc.statusTracker.getActiveJobIds.nonEmpty ||
        sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0)
    }
    while (busy && System.nanoTime() < deadline) Thread.sleep(20)
  }

  private val scratch = "/(_temporary|\\.spark-staging[^/]*)(/|$)".r

  /** The store dir whose Spark write job `c` belongs to: a call under
    * the job's scratch dirs (`_temporary`, `.spark-staging-*`) or on
    * its `_SUCCESS` marker. */
  private def jobOf(c: Call): Option[String] =
    scratch.findFirstMatchIn(c.path).map(m => c.path.take(m.start))
      .orElse(Some(c.path.stripSuffix("/_SUCCESS"))
        .filter(_ => c.path.endsWith("/_SUCCESS")))

  private def visibleRename(c: Call): Boolean =
    c.kind == "rename" && c.to.exists(scratch.findFirstIn(_).isEmpty)

  /** The calls worth a crash each. Every call outside a Spark write
    * job's scratch dirs is a candidate. Inside a job, two calls are:
    * the mkdirs of its `_temporary/0` (nothing of the job done) and the
    * first of a run of renames out of the scratch dir (committed task
    * output in `_temporary`, none of it published); the calls between
    * them are masked by the one before. A candidate that changes
    * nothing any reader or recovery reads (a no-op, or the job's
    * `_SUCCESS` marker, which no code reads) leaves the disk that a
    * death at the next call that does something leaves; when that call
    * is a candidate too, only it is a window. */
  def windows(calls: Seq[Call]): Seq[Call] = {
    val last = scala.collection.mutable.Map[String, Call]()
    val candidate = calls.filter { c =>
      jobOf(c) match {
        case None => true
        case Some(job) =>
          val prev = last.put(job, c)
          c.kind == "mkdirs" && c.path.endsWith("/_temporary/0") ||
            c.path.endsWith("/_SUCCESS") ||
            visibleRename(c) && !prev.exists(visibleRename)
      }
    }.toSet
    def inert(c: Call) = c.noop || c.path.endsWith("/_SUCCESS")
    calls.indices.collect { case i if candidate(calls(i)) &&
        !(inert(calls(i)) && calls.drop(i + 1)
          .find(d => candidate(d) || !d.noop).exists(candidate)) => calls(i)
    }
  }

  /** The first recorded call of `kind` whose masked path contains
    * `part`. */
  def find(calls: Seq[Call], kind: String, part: String): Call =
    calls.find(c => c.kind == kind && mask(c.path).contains(part))
      .getOrElse(throw new NoSuchElementException(
        s"no $kind call on *$part* among:\n${calls.mkString("\n")}"))

  /** System properties that make a child JVM halt(137) at `at`. */
  def haltProps(at: Call): Seq[String] = Seq(
    s"-Dspark.hadoop.fs.crashpoint.impl=${classOf[CrashPointFs].getName}",
    "-Dspark.hadoop.fs.crashpoint.impl.disable.cache=true",
    s"-Dgraft.crashpoint.haltAt=${at.n} ${at.key}")

  // ---- fixtures: local dirs copied aside once, restored per window --

  /** The local dirs an operation mutates: copied aside by [[save]],
    * put back by [[restore]] before each window. */
  final class Fixture(dirs: String*) {
    private val aside = Files.createTempDirectory("crashpoint-fixture")
    private def copies = dirs.zipWithIndex.map { case (d, i) => (d, s"$aside/$i") }
    def save(): Unit = copies.foreach { case (d, c) => copyTree(d, c) }
    def restore(): Unit = copies.foreach { case (d, c) => copyTree(c, d) }

    /** The calls of one clean run of `body`; the dirs are put back. */
    def rehearse(body: => Unit): Seq[Call] = {
      save()
      val (_, calls) = record(body)
      restore()
      calls
    }
  }

  /** Copies the tree at `from` to `to` (replacing it), keeping mtimes. */
  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = JPath.of(from)
    if (Files.exists(src))
      Files.walk(src).iterator().asScala.foreach { p =>
        val q = JPath.of(to).resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
      }
  }

  def deleteTree(dir: String): Unit = {
    val p = JPath.of(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Every file and dir under `dir`, relative and masked, sorted. */
  def listing(dir: String): Seq[String] = {
    val root = JPath.of(dir)
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => mask(root.relativize(p).toString) +
        (if (Files.isDirectory(p)) "/" else ""))
      .toSeq.sorted
  }
}
