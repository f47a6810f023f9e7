package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DoubleType
import graft.engine.Ops

/** The reference's publication stage (publish.py:41-97): an external
  * row-oriented sink with a clear-then-append, header-first, fixed-size-
  * chunk contract (50k rows per REST call to Google Sheets). The sink
  * itself is abstracted — Sheets isn't reachable here and isn't the
  * point; the contract is.
  *
  * Scale posture: the reference row-caps "large" tables at 50k
  * (publish.py:17,124-126) — an explicit bounded-collect contract. We
  * keep that: the cap is applied IN the plan, over the frame the
  * pipeline persisted for its writes (each partition of it stops after
  * the cap, and nothing is read back from the warehouse), and only the
  * capped result streams through the driver via toLocalIterator (one
  * partition in memory at a time, never the whole frame).
  */
trait ChunkedSink {
  /** Create the destination table if it doesn't exist (publish.py:64-68:
    * `spreadsheet.worksheet(name)` → on WorksheetNotFound,
    * `add_worksheet(...)`). Default no-op — file-backed sinks create on
    * first write anyway.
    */
  def ensure(table: String): Unit = ()
  def clear(table: String): Unit
  def appendHeader(table: String, columns: Seq[String]): Unit
  def appendChunk(table: String, rows: Seq[Seq[Any]]): Unit
}

object Publish {

  /** publish.py:17 — ROW_LIMIT_FOR_LARGE_TABLES. */
  val DefaultRowLimit: Int = 50000

  /** publish.py:71 — CHUNK_SIZE. */
  val ChunkSize: Int = 50000

  /** Publish one table through the sink contract:
    * empty-guard (F5) → ±Inf/NaN → null on double columns (X7/X8) →
    * optional row cap (S3) → clear → header → chunked append.
    */
  def publish(df: DataFrame, sink: ChunkedSink, table: String,
              limit: Option[Int] = Some(DefaultRowLimit),
              chunkSize: Int = ChunkSize): Long = {
    val normalized = normalizeDoubles(df)
    val capped = limit.fold(normalized)(normalized.limit)
    // Bounded by the row cap; streams one partition at a time. The first
    // hasNext fetches partitions until one holds a row, so it doubles as
    // the publish.py:43-45 empty-frame guard without a separate job.
    val rows = capped.toLocalIterator().asScala
    if (!rows.hasNext) return 0L
    sink.ensure(table) // publish.py:64-68 create-if-missing
    sink.clear(table)
    sink.appendHeader(table, capped.columns.toSeq)
    var published = 0L
    rows.grouped(chunkSize).foreach { chunk =>
      sink.appendChunk(table, chunk.map(_.toSeq))
      published += chunk.size
    }
    published
  }

  /** X7/X8 over every double column (publish.py:50-57). */
  def normalizeDoubles(df: DataFrame): DataFrame = {
    val doubles = df.schema.fields.collect {
      case f if f.dataType == DoubleType => f.name
    }
    doubles.foldLeft(df) { (d, c) =>
      d.withColumn(c, Ops.normalizeFloat(org.apache.spark.sql.functions.col(c)))
    }
  }

}

/** Local-filesystem CSV stand-in for the Sheets sink — same contract,
  * same chunking; one file per table, header first, append per chunk.
  */
class CsvFileSink(baseDir: String) extends ChunkedSink {
  private def file(table: String) = new java.io.File(baseDir, s"$table.csv")

  override def clear(table: String): Unit = {
    file(table).getParentFile.mkdirs()
    java.nio.file.Files.deleteIfExists(file(table).toPath)
  }

  override def appendHeader(table: String, columns: Seq[String]): Unit =
    append(table, Seq(columns))

  override def appendChunk(table: String, rows: Seq[Seq[Any]]): Unit =
    append(table, rows)

  private def append(table: String, rows: Seq[Seq[Any]]): Unit = {
    val w = new java.io.FileWriter(file(table), true)
    try rows.foreach { r =>
      w.write(r.map(quote).mkString(","))
      w.write("\n")
    } finally w.close()
  }

  /** RFC-4180 quoting — serialized list columns contain commas. */
  private def quote(v: Any): String = {
    if (v == null) return ""
    val s = v.toString
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
  }
}
