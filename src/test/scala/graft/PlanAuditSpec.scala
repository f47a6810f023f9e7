package graft

/** Static sanity of the plan-audit gate's configuration: every
  * documented same-source-scan allowance must name a DECLARED query —
  * a rename or roster change would otherwise leave a dangling entry
  * that silently exempts nothing (and, worse, suggests the gate still
  * covers a query it no longer sees).
  */
class PlanAuditSpec extends SparkTestBase with TempCorpusDirs {

  test("scan sources are named from the relation's root path, even past 100 characters") {
    // Spark cuts a scan node's one-line string at 100 characters
    // (spark.sql.maxMetadataStringLength): names parsed from that
    // string depend on the length of java.io.tmpdir.
    val long = tempCorpusDir("planaudit_" + "a_long_tmpdir_segment_" * 4)
    val snap = s"$long/graft-snap-0123456789ab-0123456789ab-ivf-half-assigned-n4"
    val raw = s"$long/lineitem.parquet"
    assert(snap.length > 100 && raw.length > 100)
    spark.range(10).write.parquet(snap)
    spark.range(5).write.parquet(raw)
    def df = spark.read.parquet(snap).union(spark.read.parquet(raw))
    // exec mode: the final adaptive plan; plan mode: the initial one.
    Seq(graft.util.PlanFiles.executeFinal(df).executedPlan,
        df.queryExecution.executedPlan).foreach { plan =>
      assert(PlanAudit.scanSources(graft.util.PlanFiles.finalNodes(plan)).sorted ==
        Seq("ivf-half-assigned", "lineitem"))
    }
  }

  test("every DocumentedReuse allowance names a declared query") {
    val declared = SparkEntry.queries.keySet
    val dangling = PlanAudit.DocumentedReuse.keys.map(_._1).filterNot(declared)
    assert(dangling.isEmpty,
      s"allowances for undeclared queries (renamed? removed?): ${dangling.mkString(", ")}")
  }

  test("sub-gate allowances are live pins (they match the observed dup), not dead entries") {
    // Two legitimate shapes in DocumentedReuse:
    //  - allowance ≥ gate threshold: a true exemption for a designed
    //    multi-scan the gate would otherwise flag;
    //  - allowance BELOW the threshold: a design PIN for a dup the
    //    gate doesn't flag today — it exists so a regression past the
    //    gate cites recorded intent ("documented allowance 2") instead
    //    of surfacing as an anonymous fresh violation (r10 advice).
    // A pin is only live while it states the dup the audit actually
    // observes; a pin of 2 where the artifact sees 0/1 is the dead
    // entry this test exists to reject.
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("PLANAUDIT_r\\d+\\.json"))
    assume(files.nonEmpty, "no committed PLANAUDIT artifact to cross-check")
    val latest = files.maxBy(f =>
      "\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(latest)
    val queries = root.get("queries")
    val dead = PlanAudit.DocumentedReuse.collect {
      case ((q, src), (max, _)) if max < PlanAudit.GateMaxSameSourceScans =>
        val node = if (queries == null) null else queries.get(q)
        val dup = if (node == null) null else node.get("dup")
        val observed = if (dup == null || !dup.has(src)) 0 else dup.get(src).asInt()
        (s"$q/$src(pin=$max, observed=$observed)", observed == max)
    }.collect { case (desc, ok) if !ok => desc }
    assert(dead.isEmpty,
      s"sub-gate pins must equal the observed dup in ${latest.getName}: ${dead.mkString(", ")}")
  }

  test("every allowance's SOURCE is still observed by the committed audit artifact") {
    // The query-name check above catches renamed queries; this catches
    // renamed ARTIFACTS (e.g. ivf-assigned-i2 → -i3) and counts that
    // dropped below the dup threshold: either way the allowance exempts
    // nothing while suggesting coverage, so it must be updated or
    // removed alongside the change.
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("PLANAUDIT_r\\d+\\.json"))
    assume(files.nonEmpty, "no committed PLANAUDIT artifact to cross-check")
    val latest = files.maxBy(f =>
      "\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(latest)
    val queries = root.get("queries")
    val stale = PlanAudit.DocumentedReuse.keys.toSeq.filter { case (q, src) =>
      val node = if (queries == null) null else queries.get(q)
      val dup = if (node == null) null else node.get("dup")
      dup == null || !dup.has(src)
    }
    assert(stale.isEmpty,
      s"allowances not observed in ${latest.getName} (artifact renamed? count dropped " +
        s"below 2?): ${stale.map { case (q, s) => s"$q/$s" }.mkString(", ")}")
  }
}
