package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage backends for the pipeline's tables.
  *
  * The reference stores every table in PostgreSQL (ingest.py:80-86 COPY
  * into raw_data, transform.py:61-71 into production, scans at
  * transform.py:90-92 / publish.py:122-132). Our native at-rest format
  * is parquet (columnar, splittable, 100 TB-friendly); the JDBC backend
  * exists for drop-in parity so a user replacing the reference pipeline
  * can keep their Postgres warehouse — same `spark.read.jdbc` /
  * `df.write.jdbc` path Spark uses against any RDBMS, exercised in
  * tests against embedded Derby (no Postgres reachable in the sandbox).
  *
  * Both backends implement the reference's full-replace table contract
  * (D2: DROP + recreate ≙ SaveMode.Overwrite — Spark derives DDL from
  * the DataFrame schema in both cases, subsuming the reference's
  * hand-rolled `get_schema` → DROP → CREATE → COPY sequence).
  */
trait Warehouse {
  def read(spark: SparkSession, table: String): DataFrame

  /** Full-replace write (reference D2 semantics). */
  def write(df: DataFrame, table: String): Unit

  /** Scan with a row cap (reference S3, publish.py:122-128). Catalyst
    * pushes the limit into the source: parquet stops reading row
    * groups, JDBC appends `LIMIT n` to the pushed query (Spark ≥3.3).
    */
  def readLimit(spark: SparkSession, table: String, n: Int): DataFrame =
    read(spark, table).limit(n)
}

/** Parquet-directory warehouse — one subdirectory per table.
  *
  * @param partitionCols optional at-rest partition column per table
  *                      (e.g. `movie_facts → release_year`, SURVEY §4
  *                      scale posture): queries filtering on it prune
  *                      whole directories at the scan — at 100 TB the
  *                      difference between reading the corpus and
  *                      reading one year of it. Null partition values
  *                      land in the default partition and read back as
  *                      null, so row accounting is unchanged.
  *                      Rows are hash-clustered by that column before
  *                      the write, so each partition directory gets one
  *                      file instead of one per input task.
  */
final class ParquetWarehouse(
    root: String,
    partitionCols: Map[String, String] = Map.empty,
) extends Warehouse {
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$root/$table")

  override def write(df: DataFrame, table: String): Unit =
    partitionCols.get(table) match {
      case Some(p) =>
        // A rebalance rather than a repartition: AQE may still split a
        // skewed value across tasks, and coalesces small ones.
        df.hint("rebalance", col(p)).write.mode(SaveMode.Overwrite)
          .partitionBy(p).parquet(s"$root/$table")
      case None =>
        df.write.mode(SaveMode.Overwrite).parquet(s"$root/$table")
    }
}

/** JDBC warehouse (Postgres parity; Derby in tests).
  *
  * @param url    e.g. `jdbc:postgresql://host:6666/db` (the reference's
  *               port — docker-compose.yml:14) or `jdbc:derby:path`
  * @param driver JDBC driver class to load on the executors
  * @param props  extra connection properties (user, password, ...)
  */
final class JdbcWarehouse(
    url: String,
    driver: String,
    props: Map[String, String] = Map.empty,
) extends Warehouse {

  private def configure(r: org.apache.spark.sql.DataFrameReader) =
    r.format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .options(props)

  override def read(spark: SparkSession, table: String): DataFrame =
    configure(spark.read).option("dbtable", table).load()

  /** Partitioned parallel read: each executor scans one stride of the
    * partition column — the scale path for bulk JDBC extraction (a
    * single-connection read caps throughput at one round-trip stream,
    * the same bottleneck as the reference's single-threaded COPY).
    */
  def readPartitioned(
      spark: SparkSession,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
  ): DataFrame =
    configure(spark.read)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()

  override def write(df: DataFrame, table: String): Unit =
    df.write
      .format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .option("dbtable", table)
      .options(props)
      .mode(SaveMode.Overwrite)
      .save()
}
