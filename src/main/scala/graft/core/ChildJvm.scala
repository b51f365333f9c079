package graft.core

import java.io.ByteArrayOutputStream
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Runs a main class in a fresh JVM that inherits this process's
  * classpath and JVM flags (the add-opens Spark needs, the heap cap), so
  * a child sees exactly the code and runtime its parent does. sbt's
  * forked runs and tests put the real classpath in `java.class.path` and
  * the flags in the runtime MXBean.
  */
object ChildJvm {

  /** Runs `mainClass` with `env` overriding the inherited
    * environment. Returns the exit code and everything the child wrote
    * to stdout, or None when the child outlives `timeoutSec` (it is then
    * destroyed). Stdout is drained on its own thread, so the timeout
    * fires even when a wedged child never closes it.
    *
    * Child stderr is discarded unless `inheritStderr`: Spark's startup
    * logging would otherwise bury the parent's own output. `xmx`
    * replaces the inherited heap flags.
    */
  def run(mainClass: String, env: Map[String, String] = Map.empty,
      timeoutSec: Long, inheritStderr: Boolean = false,
      xmx: Option[String] = None): Option[(Int, String)] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp") ||
        (xmx.isDefined && (a.startsWith("-Xmx") || a.startsWith("-Xms"))))
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      xmx.map("-Xmx" + _) ++
      Seq("-cp", sys.props("java.class.path"), mainClass)
    val pb = new ProcessBuilder(cmd.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectError(if (inheritStderr) ProcessBuilder.Redirect.INHERIT
      else ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val out = new ByteArrayOutputStream()
    val drain = new Thread(() => {
      try p.getInputStream.transferTo(out)
      catch { case _: Exception => () }
    })
    drain.setDaemon(true)
    drain.start()
    if (!p.waitFor(timeoutSec, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      None
    } else {
      drain.join(10000)
      Some((p.exitValue(), out.toString("UTF-8")))
    }
  }
}
