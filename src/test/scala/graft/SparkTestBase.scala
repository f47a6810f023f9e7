package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — small core count and shuffle
  * partitions sized to it (the 32-thread bench config would slow tiny
  * unit-test plans down with scheduling overhead).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  // Stable path for `import sqlImplicits._` in subclasses.
  val sqlImplicits: org.apache.spark.sql.SQLImplicits = SparkTestBase.session.implicits

  /** The query executions `body` runs, as the session's listeners see
    * them. Listener events arrive asynchronously, so a marker query runs
    * last and the collection waits until the listener has seen it.
    */
  def executionsOf(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == "executions_marker")
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("executions_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(isMarker), "the query listener never saw the marker query")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.filterNot(isMarker).toSeq
  }
}

/** Per-suite temp corpus dirs with deep cleanup in afterAll — fixture
  * parquet is multi-MB per encoding and would otherwise accumulate in
  * tmpdir across runs. The cleanup also takes the `graft-snap-*`
  * artifact roots built from each dir: their names carry the dir's
  * hash, so no later run can reuse them. Mix in, create dirs via
  * [[tempCorpusDir]].
  */
trait TempCorpusDirs extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[String]
  def tempCorpusDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.synchronized(tmpDirs += d)
    d
  }
  override def afterAll(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tmpDirs.foreach { d =>
      SparkTestBase.deleteTree(java.nio.file.Paths.get(d))
      val prefix = graft.util.Snapshots.rootPrefix(d)
      Option(tmp.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix)).foreach(f => SparkTestBase.deleteTree(f.toPath))
    }
    super.afterAll()
  }
}

/** Shared fixtures for the at-rest maintenance/retraction specs: the
  * parquet round-trip (merges and retractions must read the compact
  * AT-REST artifact, as production would, and the round-trip lets the
  * plan pins count source scans), canonical row strings, and the
  * explain-based scan counter. One definition — the helpers were
  * previously copied per suite, where the scan-counting convention
  * could drift — with [[TempCorpusDirs]] cleanup underneath.
  */
trait ArtifactSpecHelpers extends TempCorpusDirs {
  this: SparkTestBase =>

  def atRest(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val out = s"${tempCorpusDir(s"graft_atrest_$name")}/$name"
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** How many scan nodes of `file` the final plan holds. */
  def scansOf(df: org.apache.spark.sql.DataFrame, file: String): Int =
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.count(l => l.contains("Location") && l.contains(file))

  def docScans(df: org.apache.spark.sql.DataFrame): Int = scansOf(df, "documents.parquet")
}

object SparkTestBase {
  /** Delete a file or a directory tree, if present. */
  def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }

  lazy val session: SparkSession = {
    // Catalog-table tests (saveAsTable) must not litter the repo cwd;
    // the warehouse goes when the test JVM exits.
    val warehouse = java.nio.file.Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(deleteTree(warehouse))
    val s = graft.util.Tables.withSessionConf(
      SparkSession.builder()
        .master("local[4]")
        .appName("graft-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
