package graft

/** Smoke-level invariants for every SparkEntry query at sf0.001 — the
  * deep value check is the driver's DuckDB oracle compare (tools/check.py);
  * this guards against regressions that break a plan outright, and the
  * same build serves the query's plan audit ([[PlanAudits]]). */
class QueriesSpec extends SparkSpec {

  /** §5 surface rule (r12): no registered query may put a DECIMAL of
    * precision > 18 in its FINAL output — the driver's cross-engine
    * hash canonicalizes wide decimals differently between the Spark
    * parquet read and DuckDB (the r11 q159/q162/q165/q170/q173 class).
    * Internal wide-decimal arithmetic is fine and load-bearing; the
    * surface casts to string (digits are digits in every engine). */
  private def wideDecimals(dt: org.apache.spark.sql.types.DataType,
      path: String): Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case d: DecimalType if d.precision > 18 => Seq(s"$path: $d")
      case s: StructType => s.fields.toSeq.flatMap(f => wideDecimals(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => wideDecimals(a.elementType, s"$path[]")
      case m: MapType => wideDecimals(m.keyType, s"$path.key") ++
        wideDecimals(m.valueType, s"$path.value")
      case _ => Nil
    }
  }

  private val defaultConfAudits: Map[String, PlanAudits.Want] =
    PlanAudits.audits.filter(_.conf.isEmpty).map(w => w.query -> w).toMap

  /** Every registered query, built once at default conf: what its smoke
    * check found wrong, and the failed checks of its plan audit, if it has
    * one without a `conf` ([[PlanAudits]]). */
  private lazy val runs: Seq[(Option[String], Seq[String])] = SparkEntry.allDefs.map { d =>
    val audit = defaultConfAudits.get(d.name)
    try {
      val df = d.run(spark, sfDir)
      val auditFailures = audit.toSeq.flatMap(w => PlanAudits.failed(PlanAudits.checks(w, PlanAudits.planOf(df))))
      val wide = df.schema.fields.toSeq.flatMap(f => wideDecimals(f.dataType, f.name))
      val n = df.count()
      val smoke =
        if (n == 0) Some(s"${d.name}: 0 rows")
        else if (wide.nonEmpty) Some(s"${d.name}: wide decimal in output (${wide.mkString(", ")}) — cast to string at the surface (§5)")
        else None
      (smoke, auditFailures)
    } catch { case e: Throwable =>
      val msg = s"${d.name}: ${e.getMessage.take(120)}"
      (Some(msg), audit.map(_ => s"$msg (not audited)").toSeq)
    }
  }

  test("every registered query runs, returns rows, and surfaces no wide decimal") {
    val failures = runs.flatMap(_._1)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("every plan audit without a conf holds on the query's default build") {
    val failures = runs.flatMap(_._2)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("oracle map only references registered queries, names align") {
    val qnames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qnames))
    assert(SparkEntry.allDefs.map(_.name).distinct.size == SparkEntry.allDefs.size)
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The per-round full-bench protocol (r15): the committed
    * `tools/bench_full_rN.json` (written by Bench via
    * SPARK_GRAFT_BENCH_OUT) is the ONLY complete per-query record — the
    * driver's 2000-char tail window truncates the stdout lines at 227+
    * queries (r14 lost 180/227 cpu entries to exactly that). The newest
    * checked-in full file must parse, name only registered queries
    * (catches renames/drops), and cover every query the latest committed
    * correctness gate verified — queries added since that gate are
    * allowed to lag until the round's full bench is re-recorded, which
    * is what ratchets this forward each round. */
  test("newest tools/bench_full_rN.json parses and covers the correctness-gated queries") {
    def newest(glob: String): java.io.File = {
      val dir = new java.io.File("tools")
      val re = glob.r
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => re.matches(f.getName))
      assert(fs.nonEmpty, s"no $glob under tools/ — run the full bench " +
        "with SPARK_GRAFT_BENCH_OUT and commit it (the per-round protocol)")
      fs.maxBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
    }
    def keysOf(obj: String): Set[String] =
      "\"(q\\d+[a-z0-9_]*)\"\\s*:".r.findAllMatchIn(obj).map(_.group(1)).toSet
    val full = newest("bench_full_r\\d+\\.json")
    val fullTxt = java.nio.file.Files.readString(full.toPath)
    val fullKeys = keysOf(fullTxt)
    val registered = SparkEntry.queries.keySet
    assert(fullKeys.nonEmpty && fullTxt.contains("\"queries_cpu\""),
      s"${full.getName} is not a Bench full record")
    val unknown = fullKeys -- registered
    assert(unknown.isEmpty, s"${full.getName} names unregistered queries: $unknown")
    val gate = new java.io.File(".").listFiles()
      .filter(f => "CORRECTNESS_r\\d+\\.json".r.matches(f.getName))
    if (gate.nonEmpty) {
      val newestGate = gate.maxBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
      val gated = keysOf(java.nio.file.Files.readString(newestGate.toPath))
        .intersect(registered) // a renamed/retired query can't be required
      val missing = gated -- fullKeys
      assert(missing.isEmpty,
        s"${full.getName} misses gated queries (re-run the round's full bench): $missing")
      // each profile is a flat object, so the first "}}" closes the map
      val profiled = "\"queries_profile\":\\{(.*?\\})\\}".r.findFirstMatchIn(fullTxt).fold("")(_.group(1))
      val unprofiled = gated -- keysOf(profiled)
      assert(unprofiled.isEmpty, s"${full.getName} has no queries_profile for gated queries: $unprofiled")
    }
  }
}
