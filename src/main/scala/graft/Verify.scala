package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val usage = "usage: Verify <sfDir> <outDir> [queryPrefix,...]"

  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev only; the driver passes 2): comma-separated
    // query-name prefixes to dump a subset for fast iteration.
    val (sfDir, outDir, filter) = args match {
      case Array(a, b) => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
      case _ => throw new IllegalArgumentException(usage)
    }
    def keep(name: String): Boolean =
      filter.forall(_.exists(name.startsWith))
    val spark = graft.util.Tables.localSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Shared escaper (graft.util.Json): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.util.Json.str(s)
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
