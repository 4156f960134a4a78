package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** `graft.tools.CrashWriter` in a separate JVM on this JVM's classpath
  * and `--add-opens` list (build.sbt's `jdk17AddOpens`, which sbt
  * starts the forked test JVM with). Its output is drained so it never
  * blocks on a full pipe; [[Child.tail]] keeps the end for failure
  * messages. */
object ChildJvm {

  final class Child(p: Process) {
    private val out = new StringBuilder
    private val drain = new Thread(() => {
      val buf = new Array[Byte](8192)
      var r = p.getInputStream.read(buf)
      while (r >= 0) {
        out.synchronized { out.append(new String(buf, 0, r, "UTF-8")) }
        r = p.getInputStream.read(buf)
      }
    })
    drain.setDaemon(true); drain.start()

    def waitFor(): Int = p.waitFor()
    def tail: String = out.synchronized { out.takeRight(3000).toString }
  }

  private def addOpens: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens"))

  /** Starts `CrashWriter <args>`; `jvmProps` go before the main class. */
  def start(args: Seq[String], jvmProps: Seq[String] = Nil): Child = {
    val cmd = Seq("java", "-XX:+IgnoreUnrecognizedVMOptions") ++ addOpens ++
      Seq("-Xmx2g") ++ jvmProps ++
      Seq("-cp", sys.props("java.class.path"), "graft.tools.CrashWriter") ++
      args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    new Child(pb.start())
  }

  /** Runs `CrashWriter <args>` to its end; returns the exit status. */
  def run(args: Seq[String], jvmProps: Seq[String] = Nil): Int =
    start(args, jvmProps).waitFor()
}
