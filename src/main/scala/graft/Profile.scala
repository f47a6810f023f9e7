package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev profiler: the steady-state artifact. Prepares indexes, runs
  * one untimed warm-up pass, then [[DefaultReps]] timed passes over
  * every query and writes per-query MEDIANS (plus all raw runs) as one
  * JSON object. This is the committed per-round `PROFILE_r{N}.json`:
  * a contended box inflates some bench queries 2-4× (q110/q111/q143
  * in r9/r10 showed graded bench times with FLAT gc deltas while five
  * quiet-box runs sat at steady state) — a committed quiet-box median
  * makes that class a diffable artifact instead of a changelog
  * argument. Medians, not minima: the bench's
  * min-of-N answers "steady-state floor under noise"; the profile's
  * median answers "typical warm run", and comparing the two separates
  * noise from drift.
  *
  * Usage: runMain graft.Profile [sfDir] out=PROFILE_rN.json [reps=5]
  *   [bench=BENCH_local_rN.json]  — bench= embeds the per-query
  * median-vs-bench-min reconciliation block (see
  * [[Profile.ReconcileThreshold]]). Cold/warm timings of single
  * queries are `graft.Smoke --time`.
  */
object Profile {

  /** Timed passes in steady-state mode (after the untimed warm-up). */
  val DefaultReps = 5

  /** Embed a per-query reconciliation block against a committed bench
    * artifact (`bench=path`): for every query present in both files,
    * ratio = profile median / bench min-of-3; queries over
    * [[ReconcileThreshold]] are listed individually with all three
    * numbers, so "medians within ~1.5× of same-tree bench minima, or
    * the exceptions explained in the artifact" (r11 verdict item 2) is
    * checkable from the artifact alone. The session_offset (mean
    * ratio) separates a uniform box-state shift between the two
    * measurement sessions from genuine per-query drift.
    */
  private[graft] val ReconcileThreshold = 1.5

  private def reconciliationJson(
      rows: Seq[(String, Double, Double)], benchPath: String): String = {
    import org.json4s._
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _ => None
    }
    val bench = jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(benchPath)),
        java.nio.charset.StandardCharsets.UTF_8))
    val mins: Map[String, Double] = bench \ "queries" match {
      case JObject(fields) => fields.flatMap { case (k, v) => num(v).map(k -> _) }.toMap
      case _ => Map.empty
    }
    // Erred queries carry the -1.0 sentinel median — excluding them
    // here keeps one broken query from dragging the mean offset
    // negative and padding n_compared (the err field in the per-query
    // map already records the failure).
    val compared = rows.filter(_._2 >= 0).flatMap { case (name, median, minSec) =>
      mins.get(name).filter(_ > 0).map(b => (name, median, minSec, b, median / b))
    }
    val over = compared.filter(_._5 > ReconcileThreshold).sortBy(-_._5)
    val offset =
      if (compared.isEmpty) -1.0 else compared.map(_._5).sum / compared.size
    def jstr(s: String) = graft.util.Json.str(s)
    val overJson = over.map { case (name, median, minSec, b, r) =>
      s"${jstr(name)}:{" +
        f""""median_sec":$median,"profile_min_sec":$minSec,"bench_min_sec":$b,"ratio":${r}%.3f}"""
    }.mkString("{", ",", "}")
    s""""bench_ref":${jstr(benchPath)},"reconciliation":{""" +
      s""""threshold":$ReconcileThreshold,"n_compared":${compared.size},""" +
      f""""session_offset_mean_ratio":$offset%.3f,"n_over":${over.size},"over":$overJson,""" +
      jstr("note") + ":" + jstr(
        "profile and bench are separate sequential JVM sessions: the mean " +
          "ratio is the uniform box-state offset between them, and a median " +
          "of 5 samples is stochastically above a min of 3 decorrelated " +
          "passes, a bias that concentrates over-threshold ratios in " +
          "sub-second queries where fixed per-query overhead dominates") +
      "}"
  }

  /** Steady-state core, exposed for the schema spec: warm-up pass then
    * `reps` timed PASSES over the whole query set — each pass in a
    * different (rotated / alternately reversed) order — and the
    * artifact JSON. Query errors are recorded per-query (`err`)
    * rather than failing the whole profile — an artifact with one
    * broken query and 138 medians beats no artifact.
    *
    * Pass-structured, NOT back-to-back reps (the r11 PROFILE-vs-BENCH
    * reconciliation): the old shape ran each query's 5 reps
    * consecutively, so one multi-second box stall spanned several
    * consecutive runs of the SAME query and poisoned ≥3 of its 5
    * samples — the median itself, which is exactly how q21's r11
    * median read 2.34 s while three decorrelated bench passes put its
    * min under 1.1 s on the same tree. A pass structure is the bench's
    * own noise geometry: a wall-clock-localized stall lands on
    * DIFFERENT queries in different passes, so a 5-pass median
    * tolerates ⌊(reps-1)/2⌋ poisoned passes per query. Rotating the
    * start offset per pass (and reversing odd passes) additionally
    * decorrelates PERIODIC box noise, which a fixed order would land
    * on the same queries every pass. Each per-query row also carries
    * `min_sec` — the bench-comparable floor — so residual noise is
    * self-documenting as the median/min ratio instead of needing a
    * cross-artifact argument.
    */
  private[graft] def steadyState(
      spark: SparkSession, sfDir: String, reps: Int,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries,
      benchPath: Option[String] = None,
  ): String = {
    val t0 = System.nanoTime()
    val prepFailed =
      try SparkEntry.prepareIndexes(spark, sfDir)
      catch {
        // Keep the exception message: the committed artifact is the
        // one forensic record of a prepare crash (r11 advice).
        case scala.util.control.NonFatal(e) =>
          Seq("prepare-indexes-crashed: " + e.getMessage)
      }
    val prepareSec = (System.nanoTime() - t0) / 1e9
    val byName = queries.toSeq.sortBy(_._1)
    // NonFatal ONLY (the Bench prepare-phase rule): catching an
    // OOM-class Throwable here would keep timing later reps and
    // queries on a possibly-corrupted JVM and commit their medians as
    // authoritative — letting the fatal abort the profile (no
    // artifact) is the honest outcome.
    def once(fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
      val s0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - s0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage))
      }
    }
    // Untimed warm-up pass: first-touch page decode, codegen, and any
    // lazily-built snapshot land here, not in pass 1's sample.
    byName.foreach { case (_, fn) => once(fn) }
    // Pass i runs every query once, order rotated by i·n/reps and
    // reversed on odd passes (see scaladoc).
    def passOrder(i: Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val n = byName.size
      val rot =
        if (n == 0) byName
        else { val off = ((i.toLong * n) / reps).toInt % n; byName.drop(off) ++ byName.take(off) }
      if (i % 2 == 1) rot.reverse else rot
    }
    val samples = (0 until reps).flatMap { i =>
      passOrder(i).map { case (name, fn) => name -> once(fn) }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rows = byName.map { case (name, _) =>
      val runs = samples.getOrElse(name, Nil)
      val ok = runs.collect { case Right(v) => v }
      val err = runs.collectFirst { case Left(e) => e }
      val sorted = ok.sorted
      val median =
        if (sorted.isEmpty) -1.0
        else (sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2
      val minSec = if (sorted.isEmpty) -1.0 else sorted.head
      println(f"[profile] $name%-35s median=$median%.3f s min=$minSec%.3f s runs=${ok.map(v => f"$v%.2f").mkString(",")}")
      (name, median, minSec, ok, err)
    }
    def jstr(s: String): String = graft.util.Json.str(s)
    val qjson = rows.map { case (name, median, minSec, ok, err) =>
      s"${jstr(name)}:{" +
        s""""median_sec":$median,"min_sec":$minSec,"runs":${ok.mkString("[", ",", "]")}""" +
        err.map(e => s""","err":${jstr(e)}""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val medians = rows.map(_._2).filter(_ >= 0)
    // Reconciliation must never cost the artifact: a missing/corrupt
    // bench file surfaces as a recorded error field, not a crash after
    // the timed passes already ran (the broken-query degradation rule
    // applied to the bench reference).
    val reconcile = benchPath.map { b =>
      try reconciliationJson(rows.map(r => (r._1, r._2, r._3)), b) + ","
      catch {
        case scala.util.control.NonFatal(e) =>
          s""""bench_ref":${jstr(b)},"reconciliation_error":${jstr(
            String.valueOf(e.getMessage))},"""
      }
    }.getOrElse("")
    s"""{"mode":"steady_state","sf":${jstr(sfDir)},"reps":$reps,""" +
      s""""measure":"median_of_${reps}_decorrelated_passes",""" +
      s""""prepare_sec":$prepareSec,""" +
      s""""prepare_failed":${prepFailed.map(jstr).mkString("[", ",", "]")},""" +
      reconcile +
      s""""n_queries":${rows.size},"total_median_sec":${medians.sum},""" +
      s""""queries":$qjson}"""
  }

  val usage =
    "usage: Profile [sfDir] out=PROFILE_rN.json [reps=N] [bench=BENCH_local_rN.json]"

  def main(args: Array[String]): Unit = {
    // key=value args are options wherever they appear; sfDir is the
    // first POSITIONAL arg (r11 review: a blind headOption consumed
    // "out=..." as the corpus dir when sfDir was omitted, and wrote a
    // syntactically-valid artifact full of error rows).
    val (opts, positional) = args.toSeq.partition(a =>
      a.startsWith("out=") || a.startsWith("reps=") || a.startsWith("bench="))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.1")
    val out = opts.find(_.startsWith("out=")).map(_.stripPrefix("out="))
      .getOrElse(throw new IllegalArgumentException(usage))
    val benchRef = opts.find(_.startsWith("bench=")).map(_.stripPrefix("bench="))
    val reps = opts.find(_.startsWith("reps="))
      .map { r =>
        val v = r.stripPrefix("reps=")
        v.toIntOption.getOrElse(
          sys.error(s"reps= needs a positive integer, got '$v'"))
      }
      .getOrElse(DefaultReps)
    require(reps > 0, s"reps must be positive, got $reps")
    val spark = graft.util.Tables.localSession()
    val json = steadyState(spark, sfDir, reps, benchPath = benchRef)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
