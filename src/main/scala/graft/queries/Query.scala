package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator query of the driver contract: `build` runs it over a
  * testdata directory, and `oracle` is the DuckDB SQL that computes the
  * same result over the same parquet tables (see [[graft.SparkEntry]]). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** Oracle of a query with no SQL formulation (sequential state, seeded
    * MLlib fits, generated fixtures): the committed parquet of the
    * engine's own deterministic output at sf0.01, written by
    * tools/pin_expected.py. Valid for the sf0.01 correctness run only. */
  def pinned(name: String, columns: String): String =
    s"""SELECT $columns
       |FROM read_parquet('$expectedDir/${name}_sf0.01.parquet')""".stripMargin

  /** src/test/resources/expected of the checkout this class was built
    * in: the nearest directory above its classes that holds it (sbt runs
    * a copy of the classes from under target/), else the working
    * directory's. So the SQL names the same file wherever the JVM starts. */
  private lazy val expectedDir: String = {
    val rel = "src/test/resources/expected"
    val classes = Paths.get(
      classOf[Query].getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve(rel)).find(Files.isDirectory(_))
      .getOrElse(Paths.get(rel).toAbsolutePath).toString
  }
}
