package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards the one-builder session policy: every SparkSession comes from
  * `graft.core.Sessions.local`, so the settings below hold for every entry
  * point and a policy edit shows up here. */
class SessionsSpec extends SparkTestBase {

  /** The repository root: the nearest ancestor of the working directory
    * that holds `src/main/scala`. */
  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")))
      .getOrElse(fail(s"no src/main/scala above ${Paths.get("").toAbsolutePath}"))

  test("no SparkSession builder outside core/Sessions.scala") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val allowed = root.resolve("src/main/scala/graft/core/Sessions.scala")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      scala.util.Using.resource(Files.walk(root.resolve(dir))) {
        _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      }
    }
    assert(sources.contains(allowed))
    val sites = for {
      file <- sources if file != allowed
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//")
      if builder.findFirstIn(code.split("//", 2)(0)).nonEmpty
    } yield s"${root.relativize(file)}:${i + 1}: $code"
    assert(sites.isEmpty,
      s"build sessions with graft.core.Sessions.local; ${sites.size} other " +
        s"builder site(s):\n${sites.mkString("\n")}")
  }

  test("the test session runs the Sessions policy: UTC, UI off, shuffle partitions = cores") {
    val sc = spark.sparkContext
    assert(sc.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      sc.defaultParallelism)
    assert(sc.defaultParallelism === 4)
  }
}
