package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards against dead public surface with a bytecode call graph
  * ([[CallGraph]]; no Spark job). The candidates come from a source scan:
  * every public top-level `object` under `src/main/scala`, and every
  * public `def`/`val` of one (bytecode cannot tell `private[graft]` from
  * public). `override` members and the objects that hold a `main` are
  * not candidates. The graph then decides which candidates the five
  * entry points' `main` methods reach. A candidate they do not reach must
  * be named in `src/test/resources/reachability_allowlist.txt`, and a
  * listed entry must be unreached and still defined. The list can only
  * shrink.
  *
  * A second case pins the product boundary: the exact set of top-level
  * objects `RunPipeline.main` reaches
  * (`src/test/resources/product_boundary.txt`). */
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

  /** A public top-level object (`member` None) or a public member of one. */
  private case class Candidate(obj: String, member: Option[String], file: Path) {
    def name: String = obj + member.fold("")("." + _)
  }

  private def candidates(sources: Map[Path, String]): Seq[Candidate] =
    sources.toSeq.flatMap { case (file, code) =>
      val lines = code.linesIterator.toIndexedSeq
      val pkg = lines.collectFirst {
        case l if l.startsWith("package ") => l.stripPrefix("package ").trim
      }.getOrElse("")
      // the public top-level object whose body the scan is in, if any
      var owner: Option[String] = None
      val found = Seq.newBuilder[Candidate]
      val entryPoints = Set.newBuilder[String]
      for (line <- lines) line match {
        case topLevel(kind, name) =>
          owner = Some(s"$pkg.$name").filter(_ =>
            kind == "object" && !line.startsWith("private") &&
              !line.startsWith("protected"))
          owner.foreach(o => found += Candidate(o, None, file))
        case member(name) if owner.isDefined =>
          if (name == "main") entryPoints += owner.get
          else found += Candidate(owner.get, Some(name), file)
        case _ =>
      }
      val mains = entryPoints.result()
      found.result().filterNot(c => mains(c.obj))
    }

  private val loader = getClass.getClassLoader

  private lazy val mainGraph =
    CallGraph.of(Class.forName("graft.pipeline.RunPipeline$", false, loader), "")

  private val entryPoints = Seq("graft.pipeline.RunPipeline", "graft.Verify",
    "graft.Bench", "graft.tools.ParityDump", "graft.tools.PlanAudit")

  private def listed(resource: String): Set[String] =
    Files.readAllLines(root.resolve(s"src/test/resources/$resource")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet

  test("call graph: each fixture rule reaches its member, and no more") {
    val fixture = CallGraph.of(
      Class.forName("graft.reachfixture.FixtureMain", false, loader), "graft/reachfixture/")
    val reach = fixture.reach(Seq(CallGraph.main("graft.reachfixture.FixtureMain")))
    def fx(o: String) = s"graft.reachfixture.$o"
    val hits = Seq("Direct", "Forwarded", "Lambda", "Default", "LazyInit", "EagerInit", "ByName",
      "Virtual", "TraitDefault", "Override", "CodegenTarget").map(o => fx(o) -> "hit") :+
      (fx("Lazy") -> "value")
    val misses = Seq("Direct", "Override", "CodegenTarget", "Dead").map(o => fx(o) -> "miss") :+
      (fx("DeadCaller") -> "caller")
    val wrong = hits.filterNot { case (o, m) => reach.reached(o, Some(m)) } ++
      misses.filter { case (o, m) => reach.reached(o, Some(m)) }
    assert(wrong.isEmpty, s"misjudged: ${wrong.map { case (o, m) => s"$o.$m" }.mkString(", ")}")
    assert(!reach.reached(fx("Dead"), None) && reach.reached(fx("Direct"), None))
    // who reaches a member: Java through the forwarder, Catalyst's emitted Java
    assert(reach.usedFrom(fx("Forwarded"), "hit") === Set("JavaCaller.java"))
    assert(reach.usedFrom(fx("CodegenTarget"), "hit") === Set("<generated>"))
    // a name-only javap prototype called stage 0's file selection unreached
    val product = mainGraph.reach(Seq(CallGraph.main("graft.pipeline.RunPipeline")))
    assert(product.reached("graft.ingest.Discovery", Some("selectByFilenameDate")))
  }

  test("public members: reached from an entry point, or listed") {
    val mainDir = root.resolve("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(mainDir)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val defs = candidates(files.map(f => f -> stripComments(Files.readString(f))).toMap)
    // the scan must see the operator surface, or the guard is vacuous
    assert(defs.exists(_.name == "graft.operators.Dedup.lshCandidatesEager"),
      s"scan found no Dedup.lshCandidatesEager among ${defs.size} definitions")
    val reach = mainGraph.reach(entryPoints.map(CallGraph.main))
    val unreached = defs.filterNot(c => reach.reached(c.obj, c.member)).map(_.name).toSet
    val listFile = "reachability_allowlist.txt"
    val allowed = listed(listFile)
    val fresh = (unreached -- allowed).toSeq.sorted
    val stale = (allowed -- unreached).toSeq.sorted
    val ownFileOnly = defs.collect {
      case c @ Candidate(o, Some(m), file)
          if reach.usedFrom(o, m) == Set(file.getFileName.toString) => c.name
    }.sorted
    assert(ownFileOnly.isEmpty,
      s"\n${ownFileOnly.size} public member(s) only their own file uses (narrow " +
        "each to private, or to private[graft] where a spec calls it):\n" +
        ownFileOnly.mkString("  ", "\n  ", ""))
    assert(fresh.isEmpty && stale.isEmpty,
      s"\n${fresh.size} public definition(s) no entry point reaches " +
        "(give each a caller, narrow or delete it; the allow-list only shrinks):\n" +
        fresh.mkString("  ", "\n  ", "\n") +
        s"${stale.size} allow-list entry(ies) now reached or deleted " +
        s"(remove them from src/test/resources/$listFile):\n" +
        stale.mkString("  ", "\n  ", ""))
  }

  test("product boundary: the objects RunPipeline.main reaches") {
    val reached = mainGraph.reach(Seq(CallGraph.main("graft.pipeline.RunPipeline")))
      .topLevelObjects
    val pinned = listed("product_boundary.txt")
    val added = (reached -- pinned).toSeq.sorted
    val gone = (pinned -- reached).toSeq.sorted
    assert(added.isEmpty && gone.isEmpty,
      s"\nRunPipeline.main now reaches ${added.size} more object(s):\n" +
        added.mkString("  ", "\n  ", "\n") +
        s"and no longer reaches ${gone.size}:\n" + gone.mkString("  ", "\n  ", "\n") +
        "keep catalog code out of the product, or update " +
        "src/test/resources/product_boundary.txt")
  }
}
