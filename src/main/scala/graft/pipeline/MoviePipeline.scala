package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Ops
import graft.sources.{ParquetWarehouse, Warehouse}

/** The reference pipeline (run_pipeline.py:22-55: ingest → transform →
  * publish, sequential, fail-fast) re-expressed as DataFrame stages.
  * Each stage is a pure DataFrame => DataFrame function. The raw table
  * is read and cleaned once per run: the cleaned projection the three
  * production tables read is persisted (Spark's in-memory columnar
  * cache, spilling to disk), the three tables are derived from it and
  * written concurrently, and publish streams those same frames instead
  * of reading the tables back. Row counts for the reference's
  * accounting logs come from the write pass itself (an [[Observation]]
  * on each written frame), never from re-reading a table.
  */
object MoviePipeline {

  /** The seven comma-separated-text columns (transform.py:96). */
  val listCols: Seq[String] = Seq(
    "genres", "production_countries", "production_companies",
    "spoken_languages", "cast", "writers", "producers",
  )

  /** Leniently-coerced numeric columns (transform.py:100-102). */
  val numericCols: Seq[String] = Seq(
    "revenue", "budget", "runtime", "vote_count", "imdb_votes",
    "imdb_rating", "popularity",
  )

  /** movie_facts projection (transform.py:107-113) — 17 columns. They
    * are also every column the other two production tables read, so
    * this is the projection of the cleaned frame the pipeline persists.
    */
  val movieFactsCols: Seq[String] = Seq(
    "movie_fact_id", "title", "original_title", "release_date",
    "release_year", "status", "original_language", "revenue", "budget",
    "runtime", "vote_average", "vote_count", "imdb_rating", "imdb_votes",
    "popularity", "genres_list", "production_countries_list",
  )

  /** CSV read options matching pandas' dialect (ingest.py:64): RFC-4180
    * doubled-quote escaping ("" inside a quoted field), not Spark's
    * default backslash escape — movie titles/overviews contain quotes
    * and commas, and the two dialects silently part ways on them.
    */
  private def csvReader(spark: SparkSession) =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("quote", "\"")
      .option("escape", "\"")

  /** How long a finished write may take to report its row count. The
    * metric reaches the [[Observation]] through the listener bus, so it
    * lags the write by milliseconds; a backend whose write never reports
    * it fails here instead of blocking forever.
    */
  private val RowCountTimeout = 2.minutes

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * [[Observation]] in the write's own pass.
    */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    Await.result(rows.future, RowCountTimeout).getLong(0)
  }

  /** Ingest (EP2, ingest.py:53-95): CSV with header + schema inference →
    * parquet, full replace. Spark derives DDL from the inferred
    * StructType (the reference's hand-rolled get_schema/DROP/CREATE/COPY
    * sequence is subsumed by write.mode(overwrite)). Returns the rows
    * written.
    */
  def ingest(spark: SparkSession, csvPath: String, rawTablePath: String): Long =
    countedWrite(csvReader(spark).csv(csvPath))(_.write.mode("overwrite").parquet(rawTablePath))

  /** Warehouse-backed ingest: same S1 scan, sink chosen by the caller —
    * parquet natively, JDBC for Postgres parity (ingest.py:80-86), or
    * a catalog table (D1/D2).
    */
  def ingest(spark: SparkSession, csvPath: String, wh: Warehouse, table: String): Long =
    countedWrite(csvReader(spark).csv(csvPath))(wh.write(_, table))

  /** The cleaning/derivation stage (transform.py:96-105): list-parse the
    * text columns (X1, clean semantics per SURVEY §7.4 H2), coerce
    * numerics (X3), derive release_year (X4), cast id → movie_fact_id
    * (X5). Columns missing from the input are skipped, mirroring the
    * reference's reliance on the CSV carrying them.
    */
  def clean(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    val withLists = listCols.filter(present).foldLeft(raw) { (df, c) =>
      df.withColumn(s"${c}_list", Ops.parseNameList(col(c)))
    }
    val withNums = numericCols.filter(present).foldLeft(withLists) { (df, c) =>
      df.withColumn(c, Ops.lenientDouble(col(c)))
    }
    val withYear =
      if (present("release_date"))
        withNums.withColumn("release_year", Ops.deriveYear(col("release_date")))
      else withNums
    if (present("id"))
      withYear.withColumn("movie_fact_id", Ops.lenientLong(col("id")))
    else withYear
  }

  /** movie_facts (transform.py:107-133): keep rows with a non-null (and
    * non-NaN, H1) imdb_rating, project the 17 columns, serialize the
    * list columns to the reference's bracketed-string at-rest format
    * (X6). Natively we'd keep ArrayType in parquet; the stringified
    * variant preserves the reference's storage contract.
    */
  def movieFacts(cleaned: DataFrame): DataFrame = {
    val filtered = Ops.notNaFilter(cleaned, "imdb_rating")
    val present = filtered.columns.toSet
    val projected = filtered.select(movieFactsCols.filter(present).map(col): _*)
    projected.columns.filter(_.endsWith("_list")).foldLeft(projected) { (df, c) =>
      df.withColumn(c, Ops.serializeList(col(c)))
    }
  }

  /** movie_genre_fact (transform.py:135-157): explode genres, drop
    * null/empty genre rows (F2), project + rename to genre_name (P2).
    */
  def movieGenreFact(cleaned: DataFrame): DataFrame = {
    val filtered = Ops.notNaFilter(cleaned, "imdb_rating")
    filtered
      .select(
        col("movie_fact_id"), col("title"), col("release_year"),
        col("revenue"), col("budget"), col("imdb_rating"), col("popularity"),
        explode(col("genres_list")).as("genre_name"),
      )
      .filter(col("genre_name").isNotNull && col("genre_name") =!= "")
  }

  /** genre_average_revenue (transform.py:173-200): explode → 4-term
    * filter (F3) → groupBy mean/non-null-count (A1) → sort desc (O1,
    * with a tiebreaker the reference lacks, H6). Partial+final hash
    * aggregation keeps the shuffle at one row per (partition, genre).
    */
  def genreAverageRevenue(cleaned: DataFrame): DataFrame =
    cleaned
      .select(
        col("movie_fact_id"), col("revenue"),
        explode(col("genres_list")).as("genre_name"),
      )
      .filter(
        col("revenue").isNotNull && !isnan(col("revenue")) && col("revenue") > 0 &&
          col("genre_name").isNotNull && col("genre_name") =!= ""
      )
      .groupBy("genre_name")
      .agg(
        avg("revenue").as("average_revenue"),
        count(col("movie_fact_id")).as("total_movies"),
      )
      .orderBy(desc("average_revenue"), asc("genre_name"))

  /** The at-rest layout of the parquet production tables. Facts are
    * partitioned by year (SURVEY §4): per-year queries (Q3 "movies per
    * year" and every dashboard date filter) prune to one directory
    * instead of scanning the table.
    */
  private def parquetWarehouse(outDir: String): Warehouse =
    new ParquetWarehouse(outDir, Map("movie_facts" -> "release_year"))

  /** Transform (EP3): raw table → the three production tables, full
    * replace (D2 semantics). Returns the (facts, genreFact, genreAvg) rows
    * written, for the reference's row-accounting logs (A2).
    */
  def transform(spark: SparkSession, rawTablePath: String, outDir: String): (Long, Long, Long) =
    produce(clean(spark.read.parquet(rawTablePath)), parquetWarehouse(outDir))((_, _) => ())

  /** Warehouse-backed transform: the three production tables land in
    * whichever backend the caller chose (parquet / JDBC / catalog) —
    * the reference's `production` schema boundary (transform.py:61-71).
    */
  def transform(spark: SparkSession, cleaned: DataFrame, wh: Warehouse): (Long, Long, Long) =
    produce(cleaned, wh)((_, _) => ())

  /** Full pipeline (R1): fail-fast — exceptions propagate, aborting
    * later stages exactly like run_pipeline.py's early returns; publish
    * starts only once all three tables are written. Returns transform's
    * (facts, genreFact, genreAvg) row counts.
    */
  def run(spark: SparkSession, csvPath: String, warehouseDir: String,
          sink: ChunkedSink, rowLimit: Int = Publish.DefaultRowLimit): (Long, Long, Long) = {
    val rawTablePath = s"$warehouseDir/raw/tmdb_movies_raw"
    ingest(spark, csvPath, rawTablePath)
    produce(clean(spark.read.parquet(rawTablePath)), parquetWarehouse(s"$warehouseDir/production")) {
      (table, df) =>
        Publish.publish(df, sink, table,
          limit = if (table == "genre_average_revenue") None else Some(rowLimit))
    }
  }

  /** The one transform path: persists the cleaned projection, writes
    * the three production tables from it concurrently, then hands each
    * written frame to `publish` on the calling thread, in table order.
    * movie_facts is handed over in the reference's column order
    * (transform.py:107-113), which a partitioned table loses at rest.
    * The persisted frame is released whether or not anything failed.
    */
  private def produce(cleaned: DataFrame, wh: Warehouse)(
      publish: (String, DataFrame) => Unit): (Long, Long, Long) = {
    val shared = cleaned.select(movieFactsCols.filter(cleaned.columns.toSet).map(col): _*).persist()
    try {
      val frames = Seq(
        "movie_facts" -> movieFacts(shared),
        "movie_genre_fact" -> movieGenreFact(shared),
        "genre_average_revenue" -> genreAverageRevenue(shared))
      val Seq(facts, genreFact, genreAvg) = concurrently(frames.map { case (table, df) =>
        () => countedWrite(df)(wh.write(_, table))
      })
      frames.foreach(publish.tupled)
      (facts, genreFact, genreAvg)
    } finally shared.unpersist()
  }

  /** Runs every task on its own thread and waits for all of them, then
    * returns their results or rethrows the first failure in task order.
    * The pool is created here, on the calling thread, so its threads
    * inherit the caller's Spark local properties.
    */
  private def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(task => pool.submit(new Callable[T] { def call(): T = task() }))
      futures.map { f =>
        Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
      }.map(_.get)
    } finally pool.shutdown()
  }
}
