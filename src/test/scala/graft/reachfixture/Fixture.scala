package graft.reachfixture

/** Call-graph fixture for `ReachabilitySpec`: `FixtureMain.main` reaches
  * each `*.hit` member through one rule of `graft.CallGraph`, and no
  * `*.miss` member. Nothing here runs. */
object FixtureMain {
  def main(args: Array[String]): Unit = {
    Direct.hit()
    JavaCaller.run()
    Seq(1).map(i => Lambda.hit(i))
    withDefault()
    println(Lazy.value + Eager.value)
    Option.empty[Int].getOrElse(ByName.hit())
    val s: Shape = new Square
    s.area
    val g: Greeter = new Polite
    g.greet()
    val r: Runnable = new Job
    r.run()
    println(Codegen.emit("x"))
  }
  def withDefault(n: Int = Default.hit()): Int = n
}

/** `MODULE$` access. `miss` shares its name with nothing reached. */
object Direct {
  def hit(): Int = 1
  def miss(): Int = 2
}

/** Called only from Java, through the static forwarder `Forwarded.hit`. */
object Forwarded {
  def hit(): Int = 3
}

/** Called only inside a lambda body. */
object Lambda {
  def hit(i: Int): Int = i
}

/** Called only from a default-argument getter (`$default$1`). */
object Default {
  def hit(): Int = 4
}

/** Read only through a lazy val's `$lzycompute`. */
object Lazy {
  lazy val value: Int = LazyInit.hit()
}

object LazyInit {
  def hit(): Int = 5
}

/** Called only from an object's initialiser (`<clinit>`). */
object Eager {
  val value: Int = EagerInit.hit()
}

object EagerInit {
  def hit(): Int = 9
}

/** Called only from a by-name argument's `$anonfun$` thunk. */
object ByName {
  def hit(): Int = 6
}

/** Virtual dispatch: `Square.area` runs only through `Shape.area`. */
trait Shape { def area: Double }
class Square extends Shape { def area: Double = Virtual.hit() }

object Virtual {
  def hit(): Double = 7.0
}

/** Trait dispatch: the default method runs on a class that inherits it. */
trait Greeter { def greet(): String = TraitDefault.hit() }
class Polite extends Greeter

object TraitDefault {
  def hit(): String = "hi"
}

/** Framework override: `Job.run` is called by code outside the scope
  * (here through `Runnable`); `Unbuilt.run` is never instantiated. */
class Job extends Runnable { def run(): Unit = Override.hit() }
class Unbuilt extends Runnable { def run(): Unit = Override.miss() }

object Override {
  def hit(): Unit = ()
  def miss(): Unit = ()
}

/** Generated Java: the emitted string names `CodegenTarget.hit`. */
object Codegen {
  def emit(arg: String): String = s"graft.reachfixture.CodegenTarget.hit($arg)"
}

object CodegenTarget {
  def hit(s: String): Int = s.length
  def miss(s: String): Int = s.length
}

/** A public def that only an unreached def calls. */
object DeadCaller {
  def caller(): Int = Dead.miss()
}

object Dead {
  def miss(): Int = 8
}
