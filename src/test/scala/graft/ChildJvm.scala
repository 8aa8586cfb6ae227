package graft

import java.nio.file.{Files, Path}

/** Launches a `main` on the test classpath in its own JVM, for what one
  * test JVM cannot host: a second SparkContext (a restart, a session
  * built with other static confs) or a second process contending for
  * a file lock.
  */
object ChildJvm {

  /** Start `main` with `args`; stdout+stderr land in the returned log. */
  def spawn(main: String, args: String*): (Process, Path) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // same add-opens set build.sbt gives forked JVMs (Spark 4 on JDK 17)
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val log = Files.createTempFile("graft-child", ".log")
    val cmd = Seq(java, "-Xmx2g", "-cp", cp) ++ opens ++ Seq(main) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    (p, log)
  }

  def logTail(log: Path): String =
    scala.util.Try(new String(Files.readAllBytes(log), "UTF-8").takeRight(2000))
      .getOrElse("<no log>")
}
