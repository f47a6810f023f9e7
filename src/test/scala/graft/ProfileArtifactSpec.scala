package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Schema drill for the committed steady-state profile artifact
  * (`PROFILE_r{N}.json`) — the BenchChaos pattern applied to
  * `graft.Profile`: run the REAL steady-state core on a cross-module
  * query sample and assert the artifact parses and carries exactly the
  * fields the cross-round diff reads (per-query `median_sec` + raw
  * `runs`, the prepare ledger, the headline total). A schema drift
  * here would otherwise surface as an unreadable artifact in the round
  * where the driver-box-inflation argument needs it.
  */
class ProfileArtifactSpec extends SparkTestBase with TempCorpusDirs {

  private val sf = "/root/testdata/sf0.001"
  private val sample = Seq(
    "q20_join_broadcast", // relational
    "q60_exact_dedup", // textops
    "q68_knn_bruteforce", // similarity
  )

  test("steadyState emits parseable JSON with the diffable schema") {
    val json = Profile.steadyState(spark, sf, reps = 2,
      SparkEntry.queries.view.filterKeys(sample.contains).toMap)
    val root = JsonMethods.parse(json)

    assert((root \ "mode") == JString("steady_state"))
    assert((root \ "sf") == JString(sf))
    assert((root \ "reps") == JInt(2))
    val JInt(n) = root \ "n_queries"
    assert(n.toInt == sample.size)
    val JArray(prepFailed) = root \ "prepare_failed"
    assert(prepFailed.isEmpty, s"healthy prepare must report no failures: $prepFailed")
    val JDouble(prep) = root \ "prepare_sec"
    assert(prep >= 0)

    val JObject(queries) = root \ "queries"
    assert(queries.map(_._1).sorted == sample.sorted,
      s"every sampled query needs a row: ${queries.map(_._1)}")
    queries.foreach { case (name, q) =>
      val JDouble(med) = q \ "median_sec"
      assert(med > 0, s"$name median must be a positive time, got $med")
      val JArray(runs) = q \ "runs"
      assert(runs.size == 2, s"$name must report reps raw runs: $runs")
      runs.foreach { r =>
        val JDouble(v) = r
        assert(v > 0, s"$name raw run must be positive: $v")
      }
      assert((q \ "err") == JNothing, s"$name must not carry err: ${q \ "err"}")
      // The median/min of the reported runs ARE the reported stats —
      // the artifact is self-consistent, not two divergent code paths.
      // min_sec is the bench-comparable floor (r11 PROFILE-vs-BENCH
      // reconciliation): median/min per query exposes residual box
      // noise inside the artifact itself.
      val vs = runs.collect { case JDouble(v) => v }.sorted
      val expect = (vs((vs.size - 1) / 2) + vs(vs.size / 2)) / 2
      assert(math.abs(med - expect) < 1e-9)
      val JDouble(mn) = q \ "min_sec"
      assert(math.abs(mn - vs.head) < 1e-9, s"$name min_sec must be the min run")
    }
    // The decorrelated-pass measure is declared in the artifact so a
    // cross-round diff knows which noise geometry produced the medians.
    assert((root \ "measure") == JString("median_of_2_decorrelated_passes"))

    // The headline total is the sum of the medians (what the
    // cross-round one-liner diff reads).
    val JDouble(total) = root \ "total_median_sec"
    val meds = queries.map { case (_, q) => val JDouble(m) = q \ "median_sec"; m }
    assert(math.abs(total - meds.sum) < 1e-9)
  }

  test("bench= embeds a reconciliation block with per-query ratios and exceptions") {
    // Synthetic bench artifact: q20 matches the profile closely (under
    // threshold), q60's bench min is tiny so its ratio lands over
    // threshold and it must be listed individually.
    val benchPath = java.nio.file.Paths.get(tempCorpusDir("graft_prof_bench"), "bench.json")
    java.nio.file.Files.write(benchPath,
      """{"metric":"total","queries":{"q20_join_broadcast":1000.0,"q60_exact_dedup":0.000001}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val json = Profile.steadyState(spark, sf, reps = 2,
      SparkEntry.queries.view.filterKeys(sample.contains).toMap,
      benchPath = Some(benchPath.toString))
    val root = JsonMethods.parse(json)
    assert((root \ "bench_ref") == JString(benchPath.toString))
    val rec = root \ "reconciliation"
    assert((rec \ "threshold") == JDouble(Profile.ReconcileThreshold))
    // q68 is absent from the bench file → only the two shared queries compare.
    val JInt(n) = rec \ "n_compared"
    assert(n.toInt == 2, s"expected 2 compared queries, got $n")
    val JInt(nOver) = rec \ "n_over"
    assert(nOver.toInt == 1, s"only q60 should breach the threshold: $rec")
    val over = rec \ "over" \ "q60_exact_dedup"
    assert(over != JNothing, "the breaching query must be listed individually")
    val JDouble(ratio) = over \ "ratio"
    assert(ratio > Profile.ReconcileThreshold)
    Seq("median_sec", "profile_min_sec", "bench_min_sec").foreach { f =>
      assert((over \ f) != JNothing, s"exception row must carry $f")
    }
    val JDouble(off) = rec \ "session_offset_mean_ratio"
    assert(off > 0)
  }

  test("a broken query degrades to a per-query err, not a lost artifact") {
    val poisoned: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "q60_exact_dedup" -> SparkEntry.queries("q60_exact_dedup"),
        "q_broken" -> ((s, _) => s.sql("SELECT * FROM graft_no_such_table")),
      )
    // Bench file listing BOTH queries: the erred one must be excluded
    // from the reconciliation (its -1.0 sentinel would otherwise drag
    // the mean offset negative and pad n_compared).
    val benchPath = java.nio.file.Paths.get(tempCorpusDir("graft_prof_bench_err"), "bench.json")
    java.nio.file.Files.write(benchPath,
      """{"queries":{"q60_exact_dedup":0.3,"q_broken":0.3}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val json = Profile.steadyState(spark, sf, reps = 2, poisoned,
      benchPath = Some(benchPath.toString))
    val root = JsonMethods.parse(json)
    val healthy = root \ "queries" \ "q60_exact_dedup"
    val JDouble(med) = healthy \ "median_sec"
    assert(med > 0)
    val broken = root \ "queries" \ "q_broken"
    assert((broken \ "err") != JNothing, "the broken query must carry err")
    val JDouble(bmed) = broken \ "median_sec"
    assert(bmed == -1.0, "no successful runs → sentinel median")
    val rec = root \ "reconciliation"
    val JInt(n) = rec \ "n_compared"
    assert(n.toInt == 1, s"erred query must not enter the reconciliation: $rec")
    val JDouble(off) = rec \ "session_offset_mean_ratio"
    assert(off > 0, s"sentinel median corrupted the mean offset: $off")
  }

  test("a bad bench= path degrades to reconciliation_error, not a lost artifact") {
    val json = Profile.steadyState(spark, sf, reps = 2,
      SparkEntry.queries.view.filterKeys(Set("q60_exact_dedup")).toMap,
      benchPath = Some("/nonexistent/BENCH_typo.json"))
    val root = JsonMethods.parse(json)
    assert((root \ "reconciliation_error") != JNothing,
      "missing bench file must surface as a recorded error")
    // The medians themselves survived.
    val JDouble(med) = root \ "queries" \ "q60_exact_dedup" \ "median_sec"
    assert(med > 0)
  }
}
