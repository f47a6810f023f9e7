package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over `src/main`. Every main starts its session through
  * `Tables.localSession`, so the cores, shuffle partitions, UI and
  * `withSessionConf` defaults are set in one place; the reference's
  * `production` catalog tables are the only catalog writes, so the
  * artifact layer stays catalog-free. A file that grows its own builder
  * or catalog write fails here.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {

  /** `file:line` of every `src/main` line containing one of `tokens`. */
  private def sites(tokens: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root missing")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (l, _) => tokens.exists(l.contains) }
          .map { case (_, i) => s"${root.relativize(p)}:${i + 1}" }
      }.toSeq
  }

  test("only util/Tables.scala calls SparkSession.builder() in src/main") {
    val s = sites("SparkSession.builder()")
    assert(s.size == 1 && s.head.startsWith("graft/util/Tables.scala:"),
      s"SparkSession.builder() sites: ${s.mkString(", ")}")
  }

  test("only sources/CatalogTables.scala writes or drops catalog tables in src/main") {
    val s = sites("saveAsTable", ".bucketBy(", "DROP TABLE")
    assert(s.nonEmpty && s.forall(_.startsWith("graft/sources/CatalogTables.scala:")),
      s"catalog-table sites: ${s.mkString(", ")}")
  }
}
