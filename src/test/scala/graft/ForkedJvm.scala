package graft

import java.io.File

/** Runs a main class of the test classpath in a fresh JVM, for specs
  * whose claim needs a second process. */
object ForkedJvm {

  // mirrors build.sbt's jdk17AddOpens — a plain `java` fork does not
  // inherit sbt's javaOptions
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Exit code and the child's stdout and stderr, interleaved. `env`
    * entries override the inherited environment. The child's
    * `java.io.tmpdir` is `cwd`, so what it leaves there (e.g. Hive's
    * per-session `<uuid>_resources` dir) goes with the caller's dir. */
  def run(heap: String, cwd: File, env: Seq[(String, String)],
      mainClass: String, args: String*): (Int, String) = {
    import scala.sys.process._
    val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx$heap", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Djava.io.tmpdir=${cwd.getAbsolutePath}",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.synchronized { out.append(l).append('\n') },
      l => out.synchronized { out.append(l).append('\n') })
    val code = Process(cmd, cwd, env: _*).!(logger)
    (code, out.toString)
  }
}
