package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards against dead public surface, by a source scan (no Spark job).
  * Every public top-level `object` under `src/main/scala`, and every
  * public `def`/`val` of one, must be referenced by ANOTHER main source
  * file outside comments, or be named in
  * `src/test/resources/reachability_allowlist.txt`. Tests do not count
  * as references. The list can only shrink: the case fails on a new
  * unreferenced definition, and on a listed entry that is now referenced
  * or deleted.
  *
  * Matching is by simple name, so a definition whose name occurs in any
  * other main file counts as reached; the guard misses such dead code,
  * but never flags live code. `override` members (reached by the
  * framework) and `main` entry points (reached from the command line),
  * with their objects, are not candidates. */
class ReachabilitySpec extends AnyFunSuite {

  /** The repository root: the nearest ancestor of the working directory
    * that holds `src/main/scala`. */
  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")))
      .getOrElse(fail(s"no src/main/scala above ${Paths.get("").toAbsolutePath}"))

  /** `src` with every `//` and (nested) `/* */` comment removed; string
    * and character literals are kept, and so are the newlines inside
    * block comments, so line structure survives. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        do {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (i < n && depth > 0)
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        copyTo(if (end < 0) n else end + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else if (src.startsWith("'\\", i)) {
        val end = src.indexOf('\'', i + 2)
        copyTo(if (end < 0) n else end + 1)
      } else copyTo(i + 1)
    }
    out.toString
  }

  private val topLevel =
    """^(?:[a-z]+(?:\[\w+\])?\s+)*(object|class|trait)\s+(\w+).*""".r
  private val member =
    """^  (?:(?:final|implicit|lazy|@\w+)\s+)*(?:def|val|var)\s+([A-Za-z_]\w*).*""".r

  /** (qualified name, simple name, file) of every candidate definition. */
  private def candidates(sources: Map[Path, String]): Seq[(String, String, Path)] =
    sources.toSeq.flatMap { case (file, code) =>
      val lines = code.linesIterator.toIndexedSeq
      val pkg = lines.collectFirst {
        case l if l.startsWith("package ") => l.stripPrefix("package ").trim
      }.getOrElse("")
      // the public top-level object whose body the scan is in, if any
      var owner: Option[String] = None
      val found = Seq.newBuilder[(String, String, Path)]
      val entryPoints = Set.newBuilder[String]
      for (line <- lines) line match {
        case topLevel(kind, name) =>
          owner = Some(name).filter(_ =>
            kind == "object" && !line.startsWith("private") &&
              !line.startsWith("protected"))
          owner.foreach(o => found += ((s"$pkg.$o", o, file)))
        case member(name) if owner.isDefined =>
          if (name == "main") entryPoints += owner.get
          else found += ((s"$pkg.${owner.get}.$name", name, file))
        case _ =>
      }
      val mains = entryPoints.result()
      found.result().filterNot { case (q, _, _) =>
        mains.exists(o => q == s"$pkg.$o" || q.startsWith(s"$pkg.$o."))
      }
    }

  test("every public object and member is reached from another main file, or allow-listed") {
    val mainDir = root.resolve("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(mainDir)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val sources = files.map(f => f -> stripComments(Files.readString(f))).toMap
    val defs = candidates(sources)
    // the scan must see the operator surface, or the guard is vacuous
    assert(defs.exists(_._1 == "graft.operators.Dedup.lshCandidatesEager"),
      s"scan found no Dedup.lshCandidatesEager among ${defs.size} definitions")
    def reached(name: String, home: Path): Boolean = {
      val ident = ("(?<![\\w$])" + java.util.regex.Pattern.quote(name) +
        "(?![\\w$])").r
      sources.exists { case (f, code) => f != home && ident.findFirstIn(code).nonEmpty }
    }
    val unreached = defs
      .filterNot { case (_, name, home) => reached(name, home) }
      .map(_._1).toSet
    val listFile = root.resolve("src/test/resources/reachability_allowlist.txt")
    val listed = Files.readAllLines(listFile).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    val fresh = (unreached -- listed).toSeq.sorted
    val stale = (listed -- unreached).toSeq.sorted
    assert(fresh.isEmpty && stale.isEmpty,
      s"\n${fresh.size} public definition(s) no other main file references " +
        "(reference, narrow or delete each; the allow-list only shrinks):\n" +
        fresh.mkString("  ", "\n  ", "\n") +
        s"${stale.size} allow-list entry(ies) now referenced or deleted " +
        s"(remove them from ${root.relativize(listFile)}):\n" +
        stale.mkString("  ", "\n  ", ""))
  }
}
