package graft.reachfixture;

/** Calls a Scala object through its static forwarder, as Java does. */
public final class JavaCaller {
  private JavaCaller() {}

  public static int run() {
    return Forwarded.hit();
  }
}
