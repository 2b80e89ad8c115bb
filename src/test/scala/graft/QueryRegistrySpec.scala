package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Guards the query registry: every query record reaches the driver
  * contract with its oracle, and none is lost to a duplicate name or a
  * move between files. Builds no query, so needs no Spark job. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every query record has an oracle") {
    assert(SparkEntry.all.forall(q => q.oracle != null && q.oracle.trim.nonEmpty),
      "a blank oracle (a helper read before its initialisation?)")
  }

  test("query names equal the committed list, and a duplicate name is refused") {
    val expected = scala.util.Using.resource(
      Source.fromInputStream(getClass.getResourceAsStream("/query_names.txt")))(
      _.getLines().filter(_.nonEmpty).toList)
    assert(SparkEntry.all.map(_.name).sorted == expected)
    val q = SparkEntry.all.head
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(Seq(q, q)))
    assert(e.getMessage.contains(q.name))
  }
}
