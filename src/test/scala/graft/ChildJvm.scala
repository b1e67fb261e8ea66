package graft

/** The command line of a child JVM on the test classpath that can run
  * Spark: a forked Spark child needs the same JDK-17 module opens the
  * test JVM itself runs with (build.sbt's javaOptions). */
object ChildJvm {

  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def command(heap: String, mainClass: String, args: String*): Seq[String] =
    Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++
      Seq(s"-Xmx$heap", "-cp", System.getProperty("java.class.path"),
        mainClass) ++ args
}
