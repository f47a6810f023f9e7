package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** The fixed round-1 bench roster — the 43 queries BASELINE.md's
    * 54.06 s headline was measured over (BENCH_r01.json, verbatim).
    * The roster has since grown 3.2×, which made the headline `value`
    * incomparable with the baseline (r10's 117 s read as a 2.16× gate
    * breach while the same-43-query total was 0.47×). `baseline43_sec`
    * in both JSON lines is the like-for-like number: the sum of
    * per-query minima over exactly this list. FROZEN — append-only
    * rosters keep every later round comparable to round 1.
    */
  private[graft] val Baseline43: Seq[String] = Seq(
    "q01_genre_avg_revenue", "q02_array_parse_serialize", "q03_lenient_casts",
    "q04_filter_notna", "q05_filter_conjunctive", "q06_project_rename",
    "q07_scan_limit", "q08_explode_outer", "q09_agg_multi",
    "q10_sort_desc_tiebreak", "q11_nonnull_counts", "q12_float_normalize",
    "q20_join_broadcast", "q21_join_multi", "q22_join_semi_anti",
    "q23_outer_join", "q30_window_topk", "q31_window_running",
    "q32_window_lag", "q34_rollup", "q35_distinct_agg", "q36_setops",
    "q37_stats", "q38_percentiles", "q39_per_year", "q40_bucket_relation",
    "q50_tumbling_window", "q51_sliding_window", "q52_session_window",
    "q53_sessionization_stats", "q54_json_extract", "q55_event_distinct",
    "q60_exact_dedup", "q61_token_stats", "q62_lang_id", "q63_quality_score",
    "q64_fingerprint", "q65_minhash_lsh", "q66_simhash", "q67_ngram_jaccard",
    "q68_knn_bruteforce", "q69_knn_ivf", "q70_multimodal_meta")

  /** The x10 heavy-slice roster (r17 verdict item 7): the sf0.1 bench
    * is overhead-dominated (median 0.52 s) and its baseline ratio
    * saturated, so a SCALE regression — a plan that degrades when the
    * data grows — is invisible there until it is enormous. These ~10
    * queries (the heaviest text/dedup chains, the two exact-money fact
    * aggregates, and the whole manifested/skipping family) re-run on a
    * 10× derived corpus when `SPARK_GRAFT_X10_DIR` points at one
    * (`tools/make_scale_corpus.py`), with their own regression map
    * against the committed `x10_ref` minima in BENCH_REF.json. Unset
    * env → no x10 section (the driver's lean bench is unchanged); the
    * committed BENCH_local_r{N}.json carries it each round.
    */
  private[graft] val X10Heavy: Seq[String] = Seq(
    "q65_minhash_lsh", "q67_ngram_jaccard", "q74_contamination",
    "q139_tpch_q11", "q140_tpch_q9", "q152_point_lookup",
    "q153_zslice_2d", "q154_dfp_join", "q156_digest_lookup",
    "q157_colocated_dfp",
    // r22 (VERDICT r21 item 3): the sort-then-project reshape family —
    // the r21 reshape ships full `text` through the range exchange, a
    // shape whose cost grows with corpus mass, so these gate at ×10
    // from this round's committed minima (first round records floors).
    "q63_quality_score", "q66_simhash", "q70_multimodal_meta",
    "q75_rolling_fingerprint", "q95_pattern_scrub",
    // r22: full-scan consumers that moved from the raw upload to the
    // ship-date log at sf0.1 — recorded at ×10 so the raw-vs-log scan
    // trade (see the q140 comment / OPTIMIZATION_r22.md's raw-vs-log
    // A/B) stays machine-measured as the corpus grows.
    "q20_join_broadcast", "q136_tpch_q16")

  /** Prepare only the modules the x10 roster reads: a derived scale
    * corpus has no embeddings table, and the similarity family's
    * ingest would be wasted build time there anyway. */
  private[graft] val X10Modules: Set[String] =
    Set("textops", "relational", "events")

  /** The ×100 roster: the manifested/skipping family whose BASELINE.md
    * files-planned claims (O(1)/ratio-improving admission as the file
    * population grows two decades) were hand-measured until r18 — the
    * gated section re-runs them against `SPARK_GRAFT_X100_DIR` with
    * their own `x100_ref` minima, so a pruning regression at 10³–10⁴
    * files is machine-caught each round instead of re-measured by
    * hand — plus a 2-query COMPUTE slice (r19 verdict item 5): the
    * heaviest fact aggregate and the heaviest text chain, whose scale
    * behavior previously stopped at ×10. Kept deliberately small: the
    * ×100 corpus costs ~a minute of prepare per module, and the rest
    * of the heavy chains already gate at ×10.
    */
  private[graft] val X100Roster: Seq[String] = Seq(
    "q152_point_lookup", "q153_zslice_2d", "q156_digest_lookup",
    "q157_colocated_dfp",
    "q140_tpch_q9", "q67_ngram_jaccard")

  /** The queries whose files-planned ratio IS a claim — the
    * manifested/skipping family, where planned ≪ population evidences
    * file-level admission. The scale sections' untimed third execution
    * (files_planned) runs ONLY for these: for a compute query the plan
    * reads everything by design, so the ratio says nothing, and at ×100
    * the third full execution of the two heaviest chains would cost
    * more than the whole skipping roster it was meant to evidence.
    */
  private[graft] val SkippingFamily: Set[String] = Set(
    "q152_point_lookup", "q153_zslice_2d", "q154_dfp_join",
    "q156_digest_lookup", "q157_colocated_dfp")

  /** Layout-wide file populations for the driver-narrowed reads in the
    * scale rosters (r19 advice): [[graft.util.PlanFiles.filesPlanned]]'s
    * "total" is the scanned RELATION's own listing, and for a
    * readKeyed/readForKeys query the admission happened before the
    * relation existed — the artifact would record "1/1" and a broken
    * admission would still read as planned==total. These resolve each
    * query's at-rest layout root and report its LIVE file count as the
    * honest denominator, emitted as `layout_live_files` next to
    * `files_planned`.
    */
  private[graft] val LayoutPopulation
      : Map[String, (SparkSession, String) => Int] = Map(
    "q152_point_lookup" -> ((s, dir) => graft.util.ManifestLog.liveFileCount(
      s, graft.queries.Events.eventsByUserLog(s, dir))),
    "q153_zslice_2d" -> ((s, dir) => graft.util.ManifestLog.liveFileCount(
      s, graft.queries.Events.eventsZLog(s, dir))),
    "q154_dfp_join" -> ((s, dir) => graft.util.ManifestLog.liveFileCount(
      s, graft.queries.Relational.lineitemOkLog(s, dir))),
    "q156_digest_lookup" -> ((s, dir) => graft.util.ManifestLog.liveFileCount(
      s, graft.queries.TextOps.docsDigestLog(s, dir))),
  )

  /** One bench execution's outcome: the prepare-phase report, the
    * per-query min-of-3 timings, and the two JSON lines main prints.
    * Exposed (private[graft]) so the chaos spec can run the REAL bench
    * pipeline — prepare → timed loop → JSON assembly — against a
    * poisoned module and assert on the machine-readable degradation
    * signature instead of trusting unit-level isolation alone.
    */
  private[graft] final case class Result(
      indexSec: Double, indexFailed: Seq[String], errors: Seq[String],
      results: Seq[(String, Double)], json: String, tail: String,
      regressions: Seq[(String, Double, Double)] = Nil)

  /** Per-query regression gate thresholds: the aggregate baseline43
    * ratio saturated rounds ago (~0.4× vs a 2× gate), so it can no
    * longer surface a single query getting slower — a 10× regression
    * on one mid-weight query moves the 86 s total by single-digit
    * percent. Instead every query compares against its committed
    * reference time (BENCH_REF.json, refreshed each round from the
    * quiet-box minima) and regresses only when BOTH the ratio and the
    * absolute delta trip — the same 1.4×-and-0.25 s rule the round
    * reviews already apply by hand, which absorbs shared-box noise on
    * sub-second queries.
    */
  private[graft] val RegressionRatio = 1.4
  private[graft] val RegressionSlackSec = 0.25

  /** Locale-pinned fixed-point formatting for the JSON fragments: the
    * f-interpolator formats with the JVM default locale, and a
    * comma-decimal locale would turn every %.2f into invalid JSON
    * (r17 advice). The raw-Double fields are unaffected — Double
    * .toString is locale-free.
    */
  private[graft] def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Reference map for the regression gate: a flat name→seconds JSON
    * nested under "ref" in the committed file. The text is sliced to
    * the "ref" object BEFORE the pair regex runs (r17 advice: a future
    * top-level numeric field, or a quoted name:number pair inside the
    * _comment prose, would otherwise silently become a query's
    * reference time), and only keys shaped like query ids (`q<digits>_`)
    * are admitted. Missing or unreadable file → empty map → gate
    * reports nothing, never fails the bench.
    */
  private[graft] def loadRef(path: String, key: String = "ref",
      keyShape: String = """q[0-9]+_[^"]+"""): Map[String, Double] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      // Anchor at a TOP-LEVEL key: the committed formatting puts every
      // top-level key at the start of its own line, and a JSON string
      // cannot contain a raw newline — so a quoted key (or stray '{')
      // inside the _comment prose can never match this anchor and
      // silently shift the slice (r18 advice). Then slice from the
      // key's opening brace to its matching close: the object is flat
      // (no nested braces), so the first '}' after the key bounds it.
      val anchored = txt.indexOf("\n\"" + key + "\":")
      val refIdx =
        if (anchored >= 0) anchored + 1
        else if (txt.startsWith("\"" + key + "\":")) 0
        else -1
      val slice =
        if (refIdx < 0) ""
        else {
          val open = txt.indexOf('{', refIdx)
          val close = if (open < 0) -1 else txt.indexOf('}', open)
          if (open < 0 || close < 0) "" else txt.substring(open, close + 1)
        }
      (""""(""" + keyShape +
        """)"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""").r
        .findAllMatchIn(slice)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The bench core: prepare indexes (fault-isolated, NonFatal-only),
    * three timed passes over `queries` in decorrelated orders,
    * min-of-3 merge, JSON assembly. Everything main adds is session
    * construction, warmup, and output.
    */
  private[graft] def run(
      spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries,
      x10Dir: Option[String] = sys.env.get("SPARK_GRAFT_X10_DIR"),
      x100Dir: Option[String] = sys.env.get("SPARK_GRAFT_X100_DIR"),
  ): Result = {
    // At-rest index artifacts (shingle/signature/IVF/bucketed layouts)
    // are ingest-time work paid once per corpus — build them before the
    // timed loop and report the cost as its own metric, so per-query
    // numbers measure query evaluation, not which query sorted first.
    val idxT0 = System.nanoTime()
    // Degraded prebuilds must be machine-readable, not stderr-only: a
    // failed module's artifacts lazily rebuild inside run 1 and
    // the min-of-N merge hides the cost, so a small index_build_sec with a
    // non-empty failed list is the honest signature (r8's was silent).
    // NonFatal ONLY: prepareIndexes already rethrows fatal throwables
    // (OOM-class) on purpose — catching those here would run the full
    // timed loop on a possibly-corrupted JVM and commit plausible-
    // looking numbers with nothing but a crash marker as the hint.
    // Letting the fatal abort the bench (no JSON at all) is the honest
    // outcome.
    val indexFailed =
      try SparkEntry.prepareIndexes(spark, sfDir)
      catch { case scala.util.control.NonFatal(_) => Seq("prepare-indexes-crashed") }
    val indexSec = (System.nanoTime() - idxT0) / 1e9
    val indexFailedJson = indexFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-module prepare seconds (concurrent — not additive): makes a
    // prepare regression attributable across rounds instead of one
    // opaque index_build_sec.
    val moduleSecs = SparkEntry.lastModuleSeconds.toSeq.sortBy(_._1)
    val indexModulesJson = moduleSecs
      .map { case (m, t) => s""""$m":${fmt(t, 2)}""" }.mkString("{", ",", "}")
    // Prepare-phase regression gate (r19 verdict item 3): prepare is
    // driver-saturation-bound, so it will not shrink — but it can
    // silently GROW, and the per-query gates never see it (prepare
    // runs before the timed loop). Each module's wall time compares
    // against its committed `prepare_ref` floor under the same
    // dual-threshold rule as queries. Caveat the floors inherit:
    // prepare is a SINGLE sample per bench (no min-of-3), so the
    // ratchet convention — floors refreshed only from round-committed
    // quiet-box artifacts — is what keeps one box burp from flagging
    // forever. Module names are not query-shaped, hence the keyShape.
    val refPathEarly = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
    val prepRef = loadRef(refPathEarly, "prepare_ref",
      keyShape = """[a-z][a-z0-9_-]*""")
    val prepRegressions = moduleSecs.collect {
      case (m, sec) if prepRef.get(m).exists(r =>
          sec > r * RegressionRatio && sec - r > RegressionSlackSec) =>
        (m, sec, prepRef(m))
    }
    val prepRegJson = prepRegressions.map { case (m, s, r) =>
      s""""$m":{"sec":${fmt(s, 2)},"ref_sec":${fmt(r, 2)},"ratio":${fmt(s / r, 2)}}"""
    }.mkString("{", ",", "}")
    val prepareGateJson =
      s""""n_prepare_regressions":${prepRegressions.size},""" +
        s""""prepare_ref_n":${prepRef.size},"prepare_regressions":$prepRegJson"""
    // Deterministic name order so per-query numbers compare across rounds.
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Driver-JVM GC time, for stall forensics: if a query's wall time
    // spikes while its GC delta stays flat, the stall was outside the
    // JVM (box contention / page cache); if GC tracks it, it's heap.
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    def timeAll(run: Int, ordered: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Double, Double)] =
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val g0 = gcMillis
        // noop-format write forces FULL evaluation of every column —
        // a bare count() would let Catalyst prune projection-only work
        // and under-measure map-shaped queries (VERDICT r1 caveat).
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            // A broken query must not read as a speedup: record it.
            if (!errors.contains(name)) errors += name
            System.err.println(s"[bench] $name FAILED (run $run): ${e.getMessage}")
        }
        (name, (System.nanoTime() - t0) / 1e9, (gcMillis - g0) / 1e3)
      }
    // THREE timed passes, each in a DIFFERENT query order, report the
    // per-query MIN. Rationale: the driver's shared box shows one-off
    // multi-second stalls that land on whichever query is executing at
    // a fixed wall-clock offset into the run (q54 absorbed 16.5 s in
    // r3 and 27.4 s in r4 on a 2.1 MB input; the identical binary
    // measures it at ~0.6 s on an idle box, and a plan read shows a
    // single scan+agg). A stall that is a property of the box, not the
    // plan, cannot hit the same query in every pass — and varying the
    // ORDER (sorted / reversed / stride-2 interleaved) additionally
    // decorrelates PERIODIC box noise, which a fixed order would land
    // on the same queries in every pass (the r10 four-runs-of-one-tree
    // 91.5–112 s spread). Min-of-3 over decorrelated passes measures
    // steady-state query evaluation — which is what per-round
    // comparisons need. All raw passes are reported for transparency.
    val byName = queries.toSeq.sortBy(_._1)
    val o2 = byName.reverse
    val o3 = byName.grouped(2).map(_.head).toSeq ++
      byName.drop(1).grouped(2).map(_.head).toSeq // evens then odds
    val run1 = timeAll(1, byName)
    val run2 = timeAll(2, o2).sortBy(_._1)
    val run3 = timeAll(3, o3).sortBy(_._1)
    // Errored queries are EXCLUDED from the merged min-of-3 map (and
    // from total/median/n_queries): an analysis fast-fail's ~0.05 s is
    // not a measurement, and recording it would read as a spurious
    // speedup this round and a large regression the round it's fixed —
    // the errors array alone carries failures. The raw run maps keep
    // every attempt for forensics.
    val results = run1.zip(run2).zip(run3).collect {
      case (((name, a, _), (_, b, _)), (_, c, _)) if !errors.contains(name) =>
        name -> (a min b min c)
    }
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // The like-for-like baseline number (VERDICT r10 item 1): sum of
    // per-query minima over exactly the frozen round-1 roster, so the
    // 2× gate divides identical work — BASELINE.md's 54.06 s was a
    // 43-query total, and the full-roster `value` (139 queries) is
    // 3.2× the work. baseline43_n counts roster queries actually
    // present (43 on a full run; fewer on a sampled/errored run, in
    // which case the subtotal is partial and says so).
    val b43 = results.filter(r => Baseline43.contains(r._1))
    val baseline43Sec = b43.map(_._2).sum
    // Protocol caveat (r11 review): a min over MORE passes is
    // stochastically ≤ one over fewer, so baseline43_sec carries a
    // small downward bias vs the single-pass 54.06 s baseline run.
    // baseline43_run1_sec is the protocol-closest number — pass 1
    // only, same sorted order r1 ran — so the gate can be checked
    // under either reading; the headroom (≈0.4× vs a 2× gate) dwarfs
    // the bias either way.
    val b43run1 = run1.collect {
      case (name, t, _) if Baseline43.contains(name) && !errors.contains(name) => t
    }.sum
    val baseline43Json =
      s""""baseline43_sec":$baseline43Sec,"baseline43_run1_sec":$b43run1,"baseline43_n":${b43.size}"""
    // Per-query regression gate (see RegressionRatio): compare each
    // min-of-3 against the committed reference; queries absent from
    // the reference (new this round) are skipped.
    val refPath = refPathEarly
    val ref = loadRef(refPath)
    val regressions = results.collect {
      case (name, sec) if ref.get(name).exists(r =>
          sec > r * RegressionRatio && sec - r > RegressionSlackSec) =>
        (name, sec, ref(name))
    }
    def regJsonOf(rs: Seq[(String, Double, Double)]) = rs.map { case (n, s, r) =>
      s""""$n":{"sec":${fmt(s, 3)},"ref_sec":${fmt(r, 3)},"ratio":${fmt(s / r, 2)}}"""
    }.mkString("{", ",", "}")
    val regressionJson =
      s""""n_regressions":${regressions.size},"regression_ref_n":${ref.size},"regressions":${regJsonOf(regressions)}"""
    // The TAIL line must always fit the driver's 2000-char stdout
    // capture whole; a noisy box can flag dozens of borderline
    // queries (55 observed under contention) and a full map would
    // push the headline metrics out of the window. The tail carries
    // the worst offenders by ratio; n_regressions states the true
    // count and the long line + file artifact keep the full map.
    val worst = regressions.sortBy { case (_, s, r) => -(s / r) }.take(8)
    val regressionTailJson =
      s""""n_regressions":${regressions.size},"regression_ref_n":${ref.size},"regressions_worst":${regJsonOf(worst)}"""
    // ---- derived-corpus scale sections (x10 / x100) ----
    // One parameterized block serves both opt-in corpora. Runs AFTER
    // the sf0.1 passes so a slow/failed scale build can never perturb
    // the primary timings. min-of-2 (sorted + reversed): the rosters'
    // queries are 1-10 s there, where a one-off box stall is visible
    // against the committed minimum without a third pass.
    def scaleFrags(tag: String, xdir: String, roster: Seq[String],
        refKey: String, modules: Set[String]): (String, String) =
      try {
        val t0 = System.nanoTime()
        val xFailed =
          try SparkEntry.prepareIndexes(spark, xdir, modules)
          catch { case scala.util.control.NonFatal(_) => Seq("prepare-indexes-crashed") }
        val xPrepSec = (System.nanoTime() - t0) / 1e9
        val sel = queries.toSeq.filter(kv => roster.contains(kv._1)).sortBy(_._1)
        val xErr = scala.collection.mutable.ArrayBuffer.empty[String]
        def xPass(ordered: Seq[(String, (SparkSession, String) => DataFrame)]) =
          ordered.map { case (name, fn) =>
            val s0 = System.nanoTime()
            try fn(spark, xdir).write.format("noop").mode("overwrite").save()
            catch {
              case e: Throwable =>
                if (!xErr.contains(name)) xErr += name
                System.err.println(s"[bench] $tag $name FAILED: ${e.getMessage}")
            }
            name -> (System.nanoTime() - s0) / 1e9
          }
        val xp1 = xPass(sel)
        val xp2 = xPass(sel.reverse).sortBy(_._1)
        val xRes = xp1.zip(xp2).collect {
          case ((n, a), (_, b)) if !xErr.contains(n) => n -> (a min b)
        }
        val xRef = loadRef(refPath, refKey)
        val xRegs = xRes.collect {
          case (name, sec) if xRef.get(name).exists(r =>
              sec > r * RegressionRatio && sec - r > RegressionSlackSec) =>
            (name, sec, xRef(name))
        }
        val xTotal = xRes.map(_._2).sum
        val xErrJson = xErr.map("\"" + _ + "\"").mkString("[", ",", "]")
        // Files-planned evidence, machine-recorded (r18 verdict: the
        // BASELINE claims should not need hand re-measurement): one
        // untimed third execution per SKIPPING-FAMILY query,
        // planned/scanned from the executed plan's own metrics.
        val xFiles = sel.collect {
          case (name, fn) if !xErr.contains(name) &&
              SkippingFamily.contains(name) =>
            val s = scala.util.Try(
              graft.util.PlanFiles.filesPlanned(fn(spark, xdir))) match {
              case scala.util.Success((p, t)) => s""""$p/$t""""
              case scala.util.Failure(e) => graft.util.Json.str(s"? ($e)")
            }
            s"${graft.util.Json.str(name)}:$s"
        }.mkString("{", ",", "}")
        // Layout-wide denominators for the driver-narrowed reads (the
        // "1/1" trap — see LayoutPopulation): planned-of-POPULATION is
        // the claim the scale sections exist to evidence.
        val xLayout = sel.collect {
          case (name, _) if !xErr.contains(name) &&
              LayoutPopulation.contains(name) =>
            val v = scala.util.Try(LayoutPopulation(name)(spark, xdir)) match {
              case scala.util.Success(n) => n.toString
              case scala.util.Failure(e) => graft.util.Json.str(s"? ($e)")
            }
            s"${graft.util.Json.str(name)}:$v"
        }.mkString("{", ",", "}")
        val long =
          s""""$tag":{"dir":${graft.util.Json.str(xdir)},"index_build_sec":$xPrepSec,""" +
            s""""index_build_failed":${xFailed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""measure":"min_of_2","n_queries":${xRes.size},"total_sec":$xTotal,""" +
            s""""n_regressions":${xRegs.size},"regression_ref_n":${xRef.size},""" +
            s""""regressions":${regJsonOf(xRegs)},"errors":$xErrJson,""" +
            s""""files_planned":$xFiles,"layout_live_files":$xLayout,""" +
            s""""queries_run1":${qjson(xp1)},"queries_run2":${qjson(xp2)},"queries":${qjson(xRes)}}"""
        val tail =
          s""""$tag":{"n_queries":${xRes.size},"total_sec":${fmt(xTotal, 2)},""" +
            s""""n_regressions":${xRegs.size},"regression_ref_n":${xRef.size},"errors":$xErrJson}"""
        (long, tail)
      } catch {
        case scala.util.control.NonFatal(e) =>
          val err = s""""$tag":{"err":${graft.util.Json.str(e.toString)}}"""
          (err, err)
      }
    val x10Frags = x10Dir.map(scaleFrags("x10", _, X10Heavy, "x10_ref", X10Modules))
    // x100: the files-planned claims of BASELINE.md's hand-run ×100
    // curve, machine-checked each round (r18 verdict ask) — the
    // skipping family only, against its own committed x100_ref minima.
    // A roster's MODULES must cover its queries: an unprepared module's
    // artifacts would build lazily inside timed run 1 and trip the
    // regression gate with a phantom flag (min-of-2 mostly absorbs it,
    // but the floor would ratchet off the contaminated pair).
    val x100Frags =
      x100Dir.map(scaleFrags("x100", _, X100Roster, "x100_ref", X10Modules))
    val x10LongJson = x10Frags.map("," + _._1).getOrElse("") +
      x100Frags.map("," + _._1).getOrElse("")
    val x10TailJson = x10Frags.map("," + _._2).getOrElse("") +
      x100Frags.map("," + _._2).getOrElse("")
    // The driver archives a 2000-char TAIL of stdout, so a capture can
    // start anywhere inside this (long) line. Two consequences: every
    // gc-map entry carries its own ".gc_delta_sec" suffix (a bare
    // fragment of ~0.0 values otherwise reads as per-query seconds —
    // the r7 cross-round diff trap), and the per-query MIN map — the
    // one number cross-round comparisons need — is placed LAST so the
    // tail window lands on real seconds, not forensics.
    val gc1 = qjson(run1.map(r => (r._1 + ".gc_delta_sec") -> r._3))
    val gc2 = qjson(run2.map(r => (r._1 + ".gc_delta_sec") -> r._3))
    val gc3 = qjson(run3.map(r => (r._1 + ".gc_delta_sec") -> r._3))
    // q35b/q38b's timed rows include the exact twin the hash gate
    // compares against (r7 reformulation) — they no longer measure the
    // sketch path alone and are not comparable with rounds 1-6.
    val gateOnly = """["q35b_approx_distinct","q38b_approx_percentiles"]"""
    // n_queries/n_errors ride the long (persisted) line too, not just
    // the compact tail: the file artifact's headline `value` sums only
    // non-errored queries, so a cross-round diff of `value` alone would
    // silently compare different query sets without them.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","measure":"min_of_3_interleaved",$baseline43Json,$regressionJson,"n_queries":${results.size},"n_errors":${errors.size},"index_build_sec":$indexSec,"index_build_modules":$indexModulesJson,$prepareGateJson,"index_build_failed":$indexFailedJson,"gate_only_queries":$gateOnly,"gc_delta_sec_run1":$gc1,"gc_delta_sec_run2":$gc2,"gc_delta_sec_run3":$gc3,"queries_run1":${qjson(run1.map(r => r._1 -> r._2))},"queries_run2":${qjson(run2.map(r => r._1 -> r._2))},"queries_run3":${qjson(run3.map(r => r._1 -> r._2))},"sf":"$sfDir"$x10LongJson,"errors":$errJson,"queries":${qjson(results)}}"""
    // The driver archives a 2000-char TAIL of stdout, which loses the
    // FRONT of the long line above (the r5 artifact ended inside the GC
    // map and the headline total survived only in the file). So main's
    // very last line is this compact summary — short enough to always
    // fit a tail capture whole — carrying the headline metrics.
    val sorted = results.map(_._2).sorted
    val median =
      if (sorted.isEmpty) 0.0
      else (sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2
    val maxQ = if (results.isEmpty) "null" else {
      val (n, v) = results.maxBy(_._2); s"""{"name":"$n","sec":$v}"""
    }
    val tail =
      s"""{"metric":"total","value":$total,"unit":"sec","measure":"min_of_3_interleaved",$baseline43Json,$regressionTailJson,"n_queries":${results.size},"median_sec":$median,"max_query":$maxQ,"index_build_sec":$indexSec,"index_build_modules":$indexModulesJson,$prepareGateJson,"index_build_failed":$indexFailedJson,"gate_only_queries":$gateOnly,"sf":"$sfDir"$x10TailJson,"errors":$errJson}"""
    Result(indexSec, indexFailed, errors.toSeq, results, json, tail, regressions)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Tables.localSession()
    // Untimed session warmup: JVM classloading, the codegen compiler,
    // and parquet reader init otherwise land on whichever query runs
    // first (~4-5s measured at sf0.1 misattributed to one query).
    // Covers the scan/agg/shuffle path and the text path (split/
    // explode/md5) that the dedup queries JIT on first use.
    // Warmup must never kill the bench — a missing table just means
    // that path stays cold and its first query absorbs the JIT.
    def warm(f: => Unit): Unit = try f catch { case _: Throwable => () }
    warm(spark.read.parquet(s"$sfDir/nation.parquet").count())
    // Touch EVERY column of EVERY table once (full decode via a noop
    // write, not count() which prunes): first-touch page decompress +
    // per-type decoder JIT otherwise lands on whichever timed query
    // first reads a column family — the r3/r4 driver benches charged
    // the events.props first decode to q54.
    warm {
      val fs = new org.apache.hadoop.fs.Path(sfDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(sfDir))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .foreach { p =>
          try spark.read.parquet(p.toString)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
    }
    warm(spark.range(1000000).selectExpr("sum(id * 2)").collect())
    warm(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .selectExpr("md5(text) AS m", "explode(split(text, ' ')) AS t")
        .groupBy("t").agg(org.apache.spark.sql.functions.count("m"))
        .count())
    // Shingle/HOF + parquet-write warmup: the higher-order shingle
    // chain (transform/sequence/element_at), conv(), and the parquet
    // write committer each pay a first-use planning/JIT tax that
    // measured 5-10 s on a cold JVM (box-dependent) — without this it
    // all lands on whichever shingle query sorts first (q64), making
    // per-query numbers incomparable across rounds/boxes.
    warm {
      import org.apache.spark.sql.functions._
      val f = graft.functions.TextFunctions
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          explode(array_distinct(f.shingles(f.tokens(col("text")), 3))).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("m"))
        .withColumn("h", conv(substring(col("m"), 1, 15), 16, 10).try_cast("bigint"))
        .write.mode("overwrite")
        .parquet(s"${System.getProperty("java.io.tmpdir")}/graft-bench-warm")
    }
    // First-use warmup for the remaining JIT-heavy paths the queries
    // share: the JSON parser (Jackson init + codegen, q54/q58), the
    // session-window planner (q52/q53), and the noop sink's committer.
    warm {
      import org.apache.spark.sql.functions._
      graft.util.Tables.events(spark, sfDir).limit(256)
        .select(col("user_id"), col("ts"),
          get_json_object(col("props"), "$.k").as("jk"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "k", org.apache.spark.sql.types.StringType)))).as("js"))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(col("jk")), min(col("js.k")))
        .write.format("noop").mode("overwrite").save()
    }
    val r = run(spark, sfDir)
    // Also persist to a file: a tail-capture of stdout can truncate the
    // (long) summary line mid-JSON (BENCH_r02 "parsed": null); the file
    // is immune to log interleaving and capture windows.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SUMMARY.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (r.json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () } // file is best-effort; stdout is the contract
    println(r.json)
    println(r.tail)
    spark.stop()
  }
}
