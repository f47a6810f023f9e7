package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main starts its session through `Tables.localSession`, so the
  * cores, shuffle partitions, UI and `withSessionConf` defaults are set
  * in one place. A main that grows its own builder fails here.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("only util/Tables.scala calls SparkSession.builder() in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root missing")
    val sites = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .filter(_._1.contains("SparkSession.builder()"))
          .map { case (_, i) => s"${root.relativize(p)}:${i + 1}" }
      }.toSeq
    assert(sites.size == 1 && sites.head.startsWith("graft/util/Tables.scala:"),
      s"SparkSession.builder() sites: ${sites.mkString(", ")}")
  }
}
