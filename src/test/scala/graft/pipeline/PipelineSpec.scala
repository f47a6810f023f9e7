package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.sources.{ParquetWarehouse, Warehouse}

/** Pipeline smoke test on a movie-shaped fixture (SURVEY.md §5.4):
  * mirrors the reference's row-count accounting (transform.py:116-121)
  * and checks the flagship aggregate end to end, including the
  * clear/header/chunk sink contract.
  */
class PipelineSpec extends SparkTestBase with graft.TempCorpusDirs {

  private def writeFixtureCsv(dir: String): String = {
    // FIXTURES.md §A rows: padded genres, bad dates/numerics, nulls, ties.
    val csv =
      """id,title,original_title,release_date,status,original_language,revenue,budget,runtime,vote_average,vote_count,imdb_rating,imdb_votes,popularity,genres,production_countries,production_companies,spoken_languages,cast,writers,producers
        |1,Movie A,Movie A,2009-12-15,Released,en,2787965087,237000000,162,7.6,12000,7.9,95000,150.5,"Action, Adventure ,Sci-Fi",US,StudioX,en,Actor A,Writer A,Prod A
        |2,Movie B,Movie B,garbage,Released,en,0,1000,90,6.0,50,6.1,300,4.2,,US,StudioY,en,Actor B,Writer B,Prod B
        |3,Movie C,Movie C,,Post,fr,not-a-num,,,5.5,10,,5,0.1,Drama,FR,,fr,,,
        |4,Movie D,Movie D,1994-06-01,Released,en,300000000,55000000,142,8.7,9000,8.8,120000,88.0," , ,Drama",US,StudioZ,en,Actor D,Writer D,Prod D
        |5,Movie E,Movie E,2001-01-01,Released,ja,300000000,19000000,125,8.5,8000,8.6,70000,70.0,"Drama,Action",JP,Ghibli-ish,ja,Actor E,Writer E,Prod E
        |""".stripMargin
    val f = new java.io.File(dir, "movies.csv")
    Files.writeString(f.toPath, csv)
    f.getAbsolutePath
  }

  test("ingest → transform → publish: row accounting and flagship aggregate") {
    val dir = tempCorpusDir("graft_pipeline")
    val csvPath = writeFixtureCsv(dir)
    val wh = s"$dir/warehouse"

    val rawCount = MoviePipeline.ingest(spark, csvPath, s"$wh/raw/tmdb_movies_raw")
    assert(rawCount == 5)

    val (facts, genreFact, genreAvg) =
      MoviePipeline.transform(spark, s"$wh/raw/tmdb_movies_raw", s"$wh/production")
    // Movie C has no imdb_rating → filtered (F1). 4 facts remain.
    assert(facts == 4)

    // Facts are partitioned by release_year at rest; a year filter
    // prunes at the scan and null years land in the default partition.
    val factsDf = spark.read.parquet(s"$wh/production/movie_facts")
    val y2009 = factsDf.filter(factsDf("release_year") === 2009)
    assert(y2009.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(y2009.count() == 1)
    assert(factsDf.filter(factsDf("release_year").isNull).count() == 1) // Movie B's bad date
    // genre rows: A=3 (Action,Adventure,Sci-Fi), B=0 (empty), D=1 (Drama),
    // E=2 (Drama,Action) → 6; filter ≤ input invariant of transform.py:116-121.
    assert(genreFact == 6)
    assert(genreFact <= facts * 3)

    val avg = spark.read.parquet(s"$wh/production/genre_average_revenue")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // revenue>0 filter (F3) drops Movie B's 0-revenue row; Movie C null revenue.
    // Action: (2787965087 + 300000000)/2; Drama: (300000000+300000000)/2.
    assert(avg.map(_._1).toSet == Set("Action", "Adventure", "Sci-Fi", "Drama"))
    assert(math.abs(avg.find(_._1 == "Action").get._2 - 1543982543.5) < 1e-6)
    assert(genreAvg == 4)
    // O1: sorted desc by average_revenue.
    assert(avg.map(_._2).toSeq == avg.map(_._2).sortBy(-_).toSeq)

    // Publish through the chunked-sink contract with a tiny chunk size.
    val sink = new CsvFileSink(s"$dir/sheets")
    val published = Publish.publish(
      spark.read.parquet(s"$wh/production/movie_facts"),
      sink, "movie_facts", limit = Some(3), chunkSize = 2,
    )
    assert(published == 3) // row cap applied
    val lines = scala.io.Source.fromFile(s"$dir/sheets/movie_facts.csv").getLines().toSeq
    assert(lines.length == 4) // header + 3 rows
    assert(lines.head.startsWith("movie_fact_id,"))
  }

  test("full orchestrator run: ingest → transform → publish all three tables (R1)") {
    val dir = tempCorpusDir("graft_full_run")
    val csvPath = writeFixtureCsv(dir)
    MoviePipeline.run(spark, csvPath, s"$dir/wh", new CsvFileSink(s"$dir/sheets"))
    // All three sinks published; the capped tables carry the row cap
    // semantics, genre_average_revenue publishes uncapped.
    Seq("movie_facts", "movie_genre_fact", "genre_average_revenue").foreach { t =>
      val f = new java.io.File(s"$dir/sheets/$t.csv")
      assert(f.exists, s"$t not published")
      assert(scala.io.Source.fromFile(f).getLines().size > 1, s"$t has no data rows")
    }
    val avgLines = scala.io.Source.fromFile(s"$dir/sheets/genre_average_revenue.csv")
      .getLines().toSeq
    assert(avgLines.length == 5) // header + 4 genres (fixture)

    // The published movie_facts layout must match the reference's
    // column order (transform.py:107-113) even though the table is
    // partitioned by release_year at rest (partition columns come
    // LAST on a parquet read — run() must restore the order).
    val factsHeader = scala.io.Source.fromFile(s"$dir/sheets/movie_facts.csv")
      .getLines().next().split(",").toSeq
    assert(factsHeader == MoviePipeline.movieFactsCols.filter(factsHeader.contains),
      s"published column order diverged: $factsHeader")
    assert(factsHeader.indexOf("release_year") == 4, factsHeader.toString)
  }

  test("CSV ingest parses RFC-4180 doubled quotes like pandas (quoted commas and quotes)") {
    val dir = tempCorpusDir("graft_csv_quotes")
    val csv =
      """id,title,genres
        |1,"Movie, with comma","Action, Drama"
        |2,"He said ""hi"" twice",Comedy
        |""".stripMargin
    val f = new java.io.File(dir, "quoted.csv")
    Files.writeString(f.toPath, csv)
    val n = MoviePipeline.ingest(spark, f.getAbsolutePath, s"$dir/raw")
    assert(n == 2)
    val rows = spark.read.parquet(s"$dir/raw").orderBy("id")
      .collect().map(r => (r.getAs[Any]("id").toString, r.getAs[String]("title")))
    assert(rows(0)._2 == "Movie, with comma")
    assert(rows(1)._2 == """He said "hi" twice""")
  }

  test("transform writes one file per release_year directory and returns the rows it wrote") {
    val dir = tempCorpusDir("graft_pipeline_layout")
    val csvDir = s"$dir/csv"
    ScaleSmoke.syntheticMovies(spark, 4000).repartition(4).write
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(csvDir)
    val raw = s"$dir/raw"
    val rawCount = MoviePipeline.ingest(spark, csvDir, raw)
    assert(rawCount == spark.read.parquet(raw).count())
    // Several input tasks, each holding rows of most years: without
    // clustering, every task would write a file into every year.
    assert(spark.read.parquet(raw).rdd.getNumPartitions > 1)

    val counts = MoviePipeline.transform(spark, raw, s"$dir/production")
    def readBack(t: String) = spark.read.parquet(s"$dir/production/$t").count()
    assert(counts ==
      ((readBack("movie_facts"), readBack("movie_genre_fact"), readBack("genre_average_revenue"))))

    val yearDirs = new java.io.File(s"$dir/production/movie_facts").listFiles()
      .filter(_.getName.startsWith("release_year="))
    assert(yearDirs.length > 50, yearDirs.map(_.getName).toSeq)
    yearDirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.toSeq}")
    }
  }

  test("publish streams every row when the first partitions are empty") {
    import sqlImplicits._
    val dir = tempCorpusDir("graft_publish_sparse")
    // Four range partitions of 10 ids each; only the last survives.
    val df = spark.range(0, 40, 1, 4).filter($"id" >= 30).toDF()
    assert(df.rdd.getNumPartitions == 4)
    val sink = new CsvFileSink(dir)
    assert(Publish.publish(df, sink, "t", limit = None, chunkSize = 4) == 10)
    val lines = scala.io.Source.fromFile(s"$dir/t.csv").getLines().toSeq
    assert(lines == "id" +: (30 until 40).map(_.toString))
  }

  test("publish empty-frame guard skips the sink entirely (F5)") {
    val dir = tempCorpusDir("graft_publish_empty")
    import sqlImplicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val sink = new CsvFileSink(dir)
    assert(Publish.publish(empty, sink, "t") == 0)
    assert(!new java.io.File(dir, "t.csv").exists())
  }

  /** Keeps every row it is handed, per table, header first. */
  private final class MemorySink extends ChunkedSink {
    val tables = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Any]]]
    override def clear(table: String): Unit = tables(table) = mutable.ArrayBuffer.empty
    override def appendHeader(table: String, columns: Seq[String]): Unit =
      tables(table) += columns
    override def appendChunk(table: String, rows: Seq[Seq[Any]]): Unit =
      tables(table) ++= rows
  }

  /** Every node of an executed plan, through adaptive plans and query
    * stages; a cached relation's own plan is not entered. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  private def scanRoots(p: SparkPlan): Seq[String] = nodes(p).collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
  }.flatten

  private def cachedScans(p: SparkPlan): Seq[InMemoryTableScanExec] =
    nodes(p).collect { case s: InMemoryTableScanExec => s }

  test("run reads no table back and cleans the raw table once, through one persisted relation") {
    val dir = tempCorpusDir("graft_run_plans")
    val csvPath = writeFixtureCsv(dir)
    val wh = s"$dir/wh"
    val sink = new MemorySink
    val plans = executionsOf(MoviePipeline.run(spark, csvPath, wh, sink)).map(_.executedPlan)

    // Everything any plan scans, including the plans of cached relations.
    val allRoots = plans.flatMap(p =>
      scanRoots(p) ++ cachedScans(p).flatMap(s => scanRoots(s.relation.cacheBuilder.cachedPlan)))
    assert(!allRoots.exists(_.contains("/production")), allRoots)

    val writes = plans.flatMap(p => nodes(p).collectFirst {
      case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _)
          if i.outputPath.toString.contains("/production/") => p
    })
    assert(writes.size == 3, plans.map(_.getClass.getSimpleName))
    // No write scans a file itself: each reads the one persisted relation,
    // and that relation's plan is the only scan of the raw table.
    writes.foreach(w => assert(scanRoots(w).isEmpty, w))
    val builders = writes.flatMap(cachedScans).map(_.relation.cacheBuilder).distinct
    assert(builders.size == 1, builders)
    writes.foreach(w => assert(cachedScans(w).nonEmpty, w))
    val rawRoots = scanRoots(builders.head.cachedPlan)
    assert(rawRoots.size == 1 && rawRoots.head.endsWith("/raw/tmdb_movies_raw"), rawRoots)
    assert(!plans.flatMap(scanRoots).exists(_.endsWith("/raw/tmdb_movies_raw")),
      "a plan scans the raw table outside the persisted relation")

    // What was published is what is at rest.
    def strings(row: Seq[Any]): Seq[String] = row.map(v => if (v == null) null else v.toString)
    def atRest(t: String, header: Seq[Any]): Seq[Seq[String]] =
      spark.read.parquet(s"$wh/production/$t").select(strings(header).map(col): _*)
        .collect().map(r => strings(r.toSeq)).toSeq
    val facts = sink.tables("movie_facts")
    assert(facts.tail.size == 4)
    assert(facts.tail.map(strings).toSet == atRest("movie_facts", facts.head).toSet)
    val avg = sink.tables("genre_average_revenue")
    assert(avg.tail.map(strings) == atRest("genre_average_revenue", avg.head))
  }

  test("a failing sink propagates out of run and leaves nothing persisted") {
    val dir = tempCorpusDir("graft_run_sink_fails")
    val csvPath = writeFixtureCsv(dir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var persistedDuringPublish = Set.empty[Int]
    val sink = new ChunkedSink {
      override def clear(table: String): Unit = ()
      override def appendHeader(table: String, columns: Seq[String]): Unit = ()
      override def appendChunk(table: String, rows: Seq[Seq[Any]]): Unit = {
        persistedDuringPublish = spark.sparkContext.getPersistentRDDs.keySet.toSet
        throw new IllegalStateException("sink unavailable")
      }
    }
    val e = intercept[IllegalStateException](
      MoviePipeline.run(spark, csvPath, s"$dir/wh", sink))
    assert(e.getMessage == "sink unavailable")
    assert((persistedDuringPublish -- before).nonEmpty, "nothing was persisted during publish")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a failed table write surfaces only after the other two writes finish") {
    val dir = tempCorpusDir("graft_transform_write_fails")
    val csvPath = writeFixtureCsv(dir)
    MoviePipeline.ingest(spark, csvPath, s"$dir/raw")
    val finished = new ConcurrentLinkedQueue[String]()
    val parquet = new ParquetWarehouse(s"$dir/production")
    val wh = new Warehouse {
      override def read(spark: SparkSession, table: String): DataFrame = parquet.read(spark, table)
      override def write(df: DataFrame, table: String): Unit = table match {
        case "movie_genre_fact" => throw new IllegalStateException("write refused")
        case "genre_average_revenue" =>
          // Ends well after both other writes have settled, so returning
          // on the failure, or once movie_facts is done, leaves it running.
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!finished.contains("movie_facts") && System.nanoTime() < deadline)
            Thread.sleep(20)
          Thread.sleep(500)
          parquet.write(df, table)
          finished.add(table)
        case _ =>
          parquet.write(df, table)
          finished.add(table)
      }
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](
      MoviePipeline.transform(spark, MoviePipeline.clean(spark.read.parquet(s"$dir/raw")), wh))
    assert(e.getMessage == "write refused")
    assert(finished.asScala.toSet == Set("movie_facts", "genre_average_revenue"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
