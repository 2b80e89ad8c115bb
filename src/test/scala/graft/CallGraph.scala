package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree.{ClassNode, FieldInsnNode, InvokeDynamicInsnNode,
  LdcInsnNode, MethodInsnNode, MethodNode, TypeInsnNode}

/** A class-hierarchy call graph over compiled classes, read with Spark's
  * shaded ASM: nothing is loaded or initialised.
  *
  * The classes in the graph (the scope) are those under one package
  * directory of a class directory. Reaching starts from root
  * methods and follows, inside the scope:
  *  - static, special and field instructions, with the class initialiser
  *    of every class they touch (so `MODULE$` access runs an object's
  *    constructor, and a Scala static forwarder reaches its module
  *    method through its own body);
  *  - `invokedynamic` bootstrap arguments: a lambda's implementation
  *    handle (`$anonfun$…`) and any constant among them;
  *  - virtual and interface calls, to the resolved implementation and to
  *    every subtype's (class-hierarchy analysis);
  *  - on every class a reached method instantiates (`new`, a method
  *    handle constructor or a class literal), each method that overrides
  *    a method of a supertype outside the scope, since that outside code
  *    (Catalyst's `eval`/`doGenCode`, `Aggregator`, `Runnable.run`) may
  *    call it;
  *  - string constants that name a scope member as
  *    `graft.pkg.Cls.member`: the Java that Catalyst expressions emit
  *    calls the static forwarder by that name. A string naming a bare
  *    scope class instantiates it.
  * Default-argument getters (`$default$N`) and lazy-val initialisers
  * (`$lzycompute`) are ordinary methods their callers invoke. */
final class CallGraph private (classes: Map[String, ClassNode]) {
  import CallGraph._

  private def declared(c: String, name: String, desc: String): Option[MethodNode] =
    classes.get(c).flatMap(_.methods.asScala.find(m => m.name == name && m.desc == desc))

  private def supers(c: String): Seq[String] = classes.get(c).toSeq.flatMap { n =>
    Option(n.superName).toSeq ++ n.interfaces.asScala
  }

  private lazy val directSubs: Map[String, Seq[String]] =
    classes.keys.toSeq.flatMap(c => supers(c).map(_ -> c)).groupMap(_._1)(_._2)

  private val subtypeMemo = mutable.Map.empty[String, Set[String]]
  private def subtypes(c: String): Set[String] = subtypeMemo.getOrElseUpdate(c,
    directSubs.getOrElse(c, Nil).toSet.flatMap((s: String) => subtypes(s) + s))

  /** The method a call to `owner.name desc` lands on: the first scope
    * class in `owner`'s superclass chain, then its interfaces, that
    * declares it with a body. */
  private def resolve(owner: String, name: String, desc: String): Option[Meth] = {
    val seen = mutable.Set.empty[String]
    val queue = mutable.Queue(owner)
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      if (seen.add(c) && classes.contains(c)) {
        declared(c, name, desc) match {
          case Some(m) if (m.access & Opcodes.ACC_ABSTRACT) == 0 => return Some(Meth(c, name, desc))
          case _ => queue ++= supers(c)
        }
      }
    }
    None
  }

  private def virtualTargets(owner: String, name: String, desc: String): Set[Meth] =
    (subtypes(owner) + owner).flatMap(resolve(_, name, desc))

  /** `name + desc` of every overridable method an outside class declares
    * or inherits. */
  private val outsideMemo = mutable.Map.empty[String, Set[String]]
  private def outsideMethods(c: String): Set[String] = outsideMemo.getOrElseUpdate(c, {
    Option(getClass.getClassLoader.getResourceAsStream(c + ".class")) match {
      case None => Set.empty
      case Some(in) =>
        val n = try readNode(new ClassReader(in), ClassReader.SKIP_CODE)
          finally in.close()
        val own = n.methods.asScala.filter(m =>
          (m.access & (Opcodes.ACC_STATIC | Opcodes.ACC_PRIVATE)) == 0 && !m.name.startsWith("<"))
          .map(m => m.name + m.desc).toSet
        (Option(n.superName).toSeq ++ n.interfaces.asScala).foldLeft(own)(_ ++ outsideMethods(_))
    }
  })

  /** `name + desc` of every method a scope class could override from
    * outside the scope. */
  private val overridableMemo = mutable.Map.empty[String, Set[String]]
  private def overridable(c: String): Set[String] = overridableMemo.getOrElseUpdate(c,
    supers(c).toSet.flatMap((s: String) =>
      if (classes.contains(s)) overridable(s) else outsideMethods(s)))

  private val memberRef = """(?<![\w$.])graft(?:\.[\w$]+)+""".r

  /** Everything reached from `roots`, each a (class, name, descriptor)
    * in binary form, for example
    * `Meth("graft/Bench", "main", "([Ljava/lang/String;)V")`. */
  def reach(roots: Seq[Meth]): Reach = {
    val callers = mutable.LinkedHashMap.empty[Meth, mutable.Set[Meth]]
    val fieldReaders = mutable.Map.empty[(String, String), mutable.Set[Meth]]
    val initialized = mutable.Set.empty[String]
    val instantiated = mutable.Set.empty[String]
    val queue = mutable.Queue.empty[Meth]

    def add(m: Meth, from: Meth): Unit =
      if (declared(m.owner, m.name, m.desc).isDefined) {
        callers.get(m) match {
          case Some(cs) => cs += from
          case None =>
            callers(m) = mutable.Set(from)
            queue += m
        }
      }
    def init(c: String): Unit =
      if (classes.contains(c) && initialized.add(c)) {
        add(Meth(c, "<clinit>", "()V"), Framework)
        supers(c).foreach(init)
      }
    def instantiate(c: String): Unit =
      if (classes.contains(c) && instantiated.add(c)) {
        init(c)
        for (a <- selfAndAncestors(c); n <- classes.get(a); m <- n.methods.asScala
             if (m.access & (Opcodes.ACC_STATIC | Opcodes.ACC_ABSTRACT)) == 0 &&
               overridable(a)(m.name + m.desc))
          add(Meth(a, m.name, m.desc), Framework)
      }
    def selfAndAncestors(c: String): Seq[String] =
      c +: supers(c).filter(classes.contains).flatMap(selfAndAncestors)
    def call(opcode: Int, owner: String, name: String, desc: String, from: Meth): Unit =
      if (classes.contains(owner)) opcode match {
        case Opcodes.INVOKESTATIC | Opcodes.H_INVOKESTATIC =>
          init(owner); resolve(owner, name, desc).foreach(add(_, from))
        case Opcodes.INVOKESPECIAL | Opcodes.H_INVOKESPECIAL =>
          resolve(owner, name, desc).foreach(add(_, from))
        case Opcodes.H_NEWINVOKESPECIAL =>
          instantiate(owner); resolve(owner, name, desc).foreach(add(_, from))
        case _ => virtualTargets(owner, name, desc).foreach(add(_, from))
      }
    def constant(cst: Any, from: Meth): Unit = cst match {
      case h: Handle if h.getTag >= Opcodes.H_INVOKEVIRTUAL =>
        call(h.getTag, h.getOwner, h.getName, h.getDesc, from)
      case t: Type if t.getSort == Type.OBJECT => instantiate(t.getInternalName)
      case s: String => memberRef.findAllIn(s).foreach(named)
      case _ =>
    }
    // `a.b.C.m` reaches every `m` of class `a/b/C`; `a.b.C` instantiates it
    def named(ref: String): Unit = {
      val parts = ref.split('.')
      val whole = parts.mkString("/")
      if (classes.contains(whole)) instantiate(whole)
      else {
        val c = parts.init.mkString("/")
        if (classes.contains(c)) {
          init(c)
          classes(c).methods.asScala.filter(_.name == parts.last)
            .foreach(m => add(Meth(c, m.name, m.desc), Generated))
        }
      }
    }

    roots.foreach { r =>
      require(declared(r.owner, r.name, r.desc).isDefined, s"no root method $r")
      init(r.owner)
      add(r, Root)
    }
    while (queue.nonEmpty) {
      val m = queue.dequeue()
      val insns = declared(m.owner, m.name, m.desc).get.instructions
      insns.iterator().asScala.foreach {
        case i: MethodInsnNode if !i.owner.startsWith("[") =>
          call(i.getOpcode, i.owner, i.name, i.desc, m)
        case i: FieldInsnNode =>
          if (i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.PUTSTATIC) init(i.owner)
          if (i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.GETFIELD)
            fieldReaders.getOrElseUpdate((i.owner, i.name), mutable.Set.empty) += m
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => instantiate(i.desc)
        case i: InvokeDynamicInsnNode => i.bsmArgs.foreach(constant(_, m))
        case i: LdcInsnNode => constant(i.cst, m)
        case _ =>
      }
    }
    new Reach(callers.map { case (k, v) => k -> v.toSet }.toMap,
      fieldReaders.map { case (k, v) => k -> v.toSet }.toMap, initialized.toSet,
      c => classes.get(c).flatMap(n => Option(n.sourceFile)))
  }
}

object CallGraph {

  /** A method in binary form: internal class name, name, descriptor. */
  final case class Meth(owner: String, name: String, desc: String)

  /** Callers that are not methods: a root, the framework calling an
    * override, or generated Java naming a member in a string. */
  val Root: Meth = Meth("<root>", "", "")
  val Framework: Meth = Meth("<framework>", "", "")
  val Generated: Meth = Meth("<generated>", "", "")

  /** The static `main` of object `fqcn` (its forwarder class). */
  def main(fqcn: String): Meth =
    Meth(fqcn.replace('.', '/'), "main", "([Ljava/lang/String;)V")

  private def readNode(r: ClassReader, flags: Int): ClassNode = {
    val n = new ClassNode()
    r.accept(n, flags)
    n
  }

  /** The graph over every class under `pkgDir` (for example
    * `graft/reachfixture/`, or `""` for all) of the class directory that
    * holds `anchor`. */
  def of(anchor: Class[_], pkgDir: String): CallGraph = {
    val loc = Paths.get(anchor.getProtectionDomain.getCodeSource.getLocation.toURI)
    require(Files.isDirectory(loc), s"$anchor was not loaded from a class directory: $loc")
    val files = scala.util.Using.resource(Files.walk(loc.resolve(pkgDir))) {
      _.iterator().asScala.filter(_.toString.endsWith(".class")).toList
    }
    new CallGraph(files.map { f =>
      val n = readNode(new ClassReader(Files.readAllBytes(f)), 0)
      n.name -> n
    }.toMap)
  }

  /** What [[CallGraph.reach]] found: each reached method with its
    * callers, the fields reached methods read, and the initialised
    * classes. */
  final class Reach(callers: Map[Meth, Set[Meth]],
      fieldReaders: Map[(String, String), Set[Meth]],
      initialized: Set[String], sourceOf: String => Option[String]) {

    /** The methods and field reads that make `cls.member` reached: a
      * method or field of that name on the object's module class `cls$`
      * or its static forwarder class `cls`. */
    private def uses(cls: String, member: String): Set[Meth] = {
      val internal = cls.replace('.', '/')
      val owners = Set(internal, internal + "$")
      val viaMethods = callers.collect {
        case (m, cs) if owners(m.owner) && m.name == member =>
          // a forwarder calling its module method is not a use of its own
          cs.filterNot(c => c.owner == internal && c.name == member)
      }.flatten
      viaMethods.toSet ++ owners.flatMap(o => fieldReaders.getOrElse((o, member), Set.empty))
    }

    /** Whether object `cls` (dotted, for example `graft.ops.Skew`) is
      * initialised, or its `member` is called or read. */
    def reached(cls: String, member: Option[String]): Boolean = member match {
      case None => initialized(cls.replace('.', '/') + "$")
      case Some(n) => uses(cls, n).nonEmpty
    }

    /** The source files `cls.member` is used from, where a root, the
      * framework or generated code count as `<root>`, `<framework>` and
      * `<generated>`. */
    def usedFrom(cls: String, member: String): Set[String] =
      uses(cls, member).map(c =>
        if (c.owner.startsWith("<")) c.owner else sourceOf(c.owner).getOrElse(c.owner))

    /** The dotted names of the top-level objects whose module class is
      * initialised. */
    def topLevelObjects: Set[String] = initialized.collect {
      case c if c.endsWith("$") && !c.split('/').last.dropRight(1).contains('$') =>
        c.dropRight(1).replace('/', '.')
    }
  }
}
