package graft

import java.nio.file.{Files, Paths}
import graft.sources.{ColumnSpec, MappedImport, Partitioned, SpreadsheetDir, Tables}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("full spreadsheet import workflow: list sheets, load, map, append") {
    val wb = Files.createTempDirectory("workbook").toString
    Files.write(Paths.get(s"$wb/sales.csv"),
      "id,region,amount\n1,EMEA,10.5\n2,APAC,20.0\n".getBytes)
    Files.write(Paths.get(s"$wb/refunds.json"),
      """{"id": 9, "region": "EMEA", "amount": -3.5}""".getBytes)

    assert(SpreadsheetDir.listSheets(spark, wb) == Seq("refunds.json", "sales.csv"))

    val sheet = SpreadsheetDir.loadSheet(spark, wb, "sales.csv")
    val mapped = MappedImport(sheet, Seq(
      ColumnSpec("id", "sale_id", castTo = Some("bigint")),
      ColumnSpec("region", "region"),
      ColumnSpec("amount", "amount", castTo = Some("double"))))

    val target = Files.createTempDirectory("tgt").toString + "/sales.parquet"
    MappedImport.appendTo(mapped, target)
    MappedImport.appendTo(mapped, target) // second append accumulates
    val back = spark.read.parquet(target)
    assert(back.count() == 4)
    assert(back.columns.sorted.toSeq == Seq("amount", "region", "sale_id"))
    assert(back.agg(org.apache.spark.sql.functions.sum($"amount")).head().getDouble(0) == 61.0)
  }

  test("loadFormat reads csv and json with matching rows") {
    val wb = Files.createTempDirectory("fmt").toString
    Files.write(Paths.get(s"$wb/a.csv"), "x,y\n1,foo\n2,bar\n".getBytes)
    val df = Tables.loadFormat(spark, s"$wb/a.csv", "csv")
    assert(df.count() == 2 && df.columns.toSeq == Seq("x", "y"))
  }

  test("day-partitioned events prune to a strict file subset with exact rows") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.bridge.scannedFileCount
    val dir = Files.createTempDirectory("part").toString + "/events_by_day"
    Partitioned.writeEventsByDay(spark, sfDir, dir)
    val all = spark.read.parquet(dir)
    val day = all.agg(min($"day")).head().get(0).toString
    val pruned = Partitioned.readDay(spark, dir, day)
    val expected = Tables.load(spark, sfDir, "events")
      .filter(date_format($"ts", "yyyy-MM-dd") === day).count()
    assert(pruned.count() == expected && expected > 0)
    assert(PlanAudits.strictSubset(scannedFileCount(pruned), scannedFileCount(all)))
    // pruned at planning time: the day predicate is a partition filter,
    // and no day filter is left for after the scan
    val plan = PlanAudits.planOf(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(day") && plan.contains("(day"), plan)
    assert(!plan.contains("PushedFilters: [*day"), plan)
  }

  test("Layout.compact rewrites a fragmented dir to the computed file count, content intact") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    val dir = Files.createTempDirectory("frag").toString + "/t.parquet"
    // fragment: 64 tiny files
    spark.range(10000).withColumn("v", col("id") * 2)
      .repartition(64).write.parquet(dir)
    val before = Layout.stats(spark, dir)
    assert(before._2 == 64)
    val sumBefore = spark.read.parquet(dir).agg(sum(col("v"))).head().getLong(0)
    // target = half the total bytes -> exactly 2 files
    val n = Layout.compact(spark, dir, targetBytes = before._1 / 2 + 1)
    val after = Layout.stats(spark, dir)
    assert(n == 2 && after._2 == 2, s"expected 2 files, got $after")
    assert(spark.read.parquet(dir).count() == 10000)
    assert(spark.read.parquet(dir).agg(sum(col("v"))).head().getLong(0) == sumBefore)
  }

  test("Layout.compact refuses partitioned layouts; stats counts them recursively") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    val dir = Files.createTempDirectory("part").toString + "/t.parquet"
    spark.range(1000).withColumn("p", col("id") % 4)
      .write.partitionBy("p").parquet(dir)
    // recursive stats sees the leaf files a flat listing would miss
    val (bytes, n) = Layout.stats(spark, dir)
    assert(bytes > 0 && n >= 4, s"recursive stats: ($bytes, $n)")
    // compacting the root would flatten p=... dirs — must refuse
    val ex = intercept[IllegalArgumentException](Layout.compact(spark, dir))
    assert(ex.getMessage.contains("subdirectories"))
    // a leaf partition dir is flat and compacts fine
    assert(Layout.compact(spark, s"$dir/p=0") >= 1)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("Layout.writeClustered gives files disjoint key ranges (zonemap-friendly)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    val out = Files.createTempDirectory("clus").toString + "/docs.parquet"
    val docs = Tables.load(spark, sfDir, "documents")
    Layout.writeClustered(docs, out, nFiles = 4, col("n_chars"))
    val files = spark.read.parquet(out).inputFiles
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("n_chars")), max(col("n_chars"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"file key ranges overlap: $ranges")
    }
    assert(spark.read.parquet(out).count() == docs.count())
  }

  test("Layout.fileStats reads the zonemap manifest from footers; clustered ranges disjoint") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    val out = Files.createTempDirectory("fstat").toString + "/t.parquet"
    Layout.writeClustered(spark.range(10000).select(
      col("id").as("k"), (col("id") * 3).as("v")), out, nFiles = 4, col("k"))
    val manifest = Layout.fileStats(spark, out)
      .filter($"column" === "k")
      .select($"file", $"n_rows", $"min".cast("long"), $"max".cast("long"))
      .as[(String, Long, Long, Long)].collect()
    assert(manifest.length == 4 && manifest.map(_._2).sum == 10000L)
    // the manifest proves the clustering: per-file [min,max] on k disjoint
    val ranges = manifest.map(r => (r._3, r._4)).sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"manifest ranges overlap: ${ranges.toSeq}")
    case _ => }
    // both columns present for every file
    assert(Layout.fileStats(spark, out).groupBy($"column").count()
      .as[(String, Long)].collect().toMap == Map("k" -> 4L, "v" -> 4L))
  }

  test("Layout.vacuumSwapDebris restores a mid-swap crash and clears completed-swap debris") {
    import graft.sources.Layout
    val fsConf = spark.sparkContext.hadoopConfiguration
    val base = Files.createTempDirectory("vac").toString
    val dir = s"$base/t.parquet"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(fsConf)

    // state A: crash between rename-aside and rename-into-place — the
    // table path is gone, the verified original sits at .compact.old
    spark.range(100).write.parquet(s"$dir.compact.old")
    spark.range(50).write.parquet(s"$dir.compact.tmp") // unverified rewrite
    val log1 = Layout.vacuumSwapDebris(spark, dir)
    assert(log1.exists(_.startsWith("restored")), log1.mkString(";"))
    assert(spark.read.parquet(dir).count() == 100) // original restored
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.compact.tmp"))) // debris gone

    // state B: healthy table + leftover merge debris — delete only debris
    spark.range(10).write.parquet(s"$dir.merge.old")
    val log2 = Layout.vacuumSwapDebris(spark, dir)
    assert(log2.exists(_.contains("merge.old")) && spark.read.parquet(dir).count() == 100)

    // state C: nothing to do
    assert(Layout.vacuumSwapDebris(spark, dir).isEmpty)

    // state D: crash during an INITIAL write (StreamMerge's first batch) —
    // no table, no .old, only a .tmp: the debris must still be deleted and
    // reported, never silently skipped
    val dir2 = s"$base/t2.parquet"
    spark.range(5).write.parquet(s"$dir2.merge.tmp")
    val log4 = Layout.vacuumSwapDebris(spark, dir2)
    assert(log4.exists(_.contains("merge.tmp")), log4.mkString(";"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir2.merge.tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir2))) // no table invented
  }

  test("dirFingerprint detects overwrites; IvfIndexCache rebuilds for a changed corpus") {
    import graft.sources.Layout
    val base = Files.createTempDirectory("fpr").toString
    val d = s"$base/t.parquet"
    spark.range(100).write.mode("overwrite").parquet(d)
    val fp1 = Layout.dirFingerprint(spark, d)
    assert(fp1 == Layout.dirFingerprint(spark, d), "stable when nothing changed")
    Thread.sleep(10) // ensure the rewrite is visible at mtime granularity
    spark.range(200).write.mode("overwrite").parquet(d)
    assert(Layout.dirFingerprint(spark, d) != fp1, "overwrite must change the fingerprint")
    assert(Layout.dirFingerprint(spark, s"$base/nope") == "absent")

    // the memo consequence: same data dir, overwritten embeddings ->
    // a NEW index is built; unchanged -> the same index is served
    val dir2 = Files.createTempDirectory("fpivf").toString
    def emb() = graft.examples.GenData.clusteredEmbeddings(
      spark, n = 200, dim = 64, nClusters = 4, noise = 0.3)
    emb().write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    def corpus() = spark.read.parquet(s"$dir2/embeddings.parquet")
    val p1 = graft.ops.IvfIndexCache.getOrBuild(spark, dir2)(corpus())
    assert(graft.ops.IvfIndexCache.getOrBuild(spark, dir2)(corpus()) == p1)
    Thread.sleep(10)
    emb().write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val p2 = graft.ops.IvfIndexCache.getOrBuild(spark, dir2)(corpus())
    assert(p2 != p1, "overwritten corpus must not be served the stale index")
  }

  test("Layout.readPrunedByRange scans exactly the manifest-predicted file subset") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val base = Files.createTempDirectory("mprune").toString

    // clustered on k: a narrow k-band must map to a strict file subset
    val df = spark.range(20000).select(col("id").as("k"),
      (col("id") % 97).as("v"))
    val dir = s"$base/c.parquet"
    Layout.writeClustered(df, dir, 16, col("k"))
    val all = spark.read.parquet(dir).inputFiles.map(norm).toSet
    val predicted = Layout.prunedFiles(spark, dir, "k", 5000, 6000).map(norm).toSet
    assert(predicted.nonEmpty && predicted.size < all.size,
      s"clustered table must prune: ${predicted.size} of ${all.size}")
    val pruned = Layout.readPrunedByRange(spark, dir, "k", 5000, 6000)
    // the scan's actual file set IS the manifest's prediction
    assert(pruned.inputFiles.map(norm).toSet == predicted)
    // and the result is exactly the full-table filter
    val expect = df.filter(col("k").between(5000, 6000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)

    // z-ordered on (x, y): pruning works on EITHER axis from the same manifest
    val df2 = spark.range(20000).select(
      (pmod(hash(col("id")), lit(1000)) + 1000).cast("long").as("x"),
      (pmod(hash(col("id") + 7), lit(1000)) + 1000).cast("long").as("y"))
    val zdir = s"$base/z.parquet"
    Layout.writeZOrdered(df2, zdir, 32, "x", "y")
    val zAll = spark.read.parquet(zdir).inputFiles.map(norm).toSet
    Seq("x", "y").foreach { c =>
      val zPred = Layout.prunedFiles(spark, zdir, c, 1400, 1450).map(norm).toSet
      assert(zPred.size < zAll.size, s"z-order must prune on $c")
      val zr = Layout.readPrunedByRange(spark, zdir, c, 1400, 1450)
      assert(zr.inputFiles.map(norm).toSet == zPred)
      assert(zr.count() ==
        df2.filter(col(c).between(1400, 1450)).count())
    }
  }

  test("BloomIndex: point lookups on a hash layout prune to ~1 file, never lose a row") {
    import org.apache.spark.sql.functions._
    import graft.sources.BloomIndex
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val base = Files.createTempDirectory("bloomidx").toString
    val dir = s"$base/h.parquet"
    // HASH-distributed: every file spans the whole key range, so range
    // zonemaps prune nothing — exactly the layout bloom exists for
    val df = spark.range(20000).select(col("id").as("k"), (col("id") % 97).as("v"))
    df.repartition(16, col("k")).write.parquet(dir)
    val manifest = BloomIndex.build(spark, dir, "k").persist()
    try {
      val all = spark.read.parquet(dir).inputFiles.map(norm).toSet
      assert(manifest.count() == all.size)
      // single present key: kept files must include its true file and be
      // a strict subset (m=2^18, k=4, ~1250 rows/file → fp ~ 1e-8)
      val kept = BloomIndex.keptFiles(spark, manifest, Seq("12345"))
      assert(kept.nonEmpty && kept.size < all.size,
        s"bloom must prune: kept ${kept.size} of ${all.size}")
      val one = BloomIndex.readPruned(spark, dir, manifest, "k", Seq(12345L))
      assert(one.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((12345L, 12345L % 97)))
      // batch probe: result equals the full-table IN filter exactly
      val keys = Seq(0L, 7L, 9999L, 19999L)
      val got = BloomIndex.readPruned(spark, dir, manifest, "k", keys)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = df.filter(col("k").isin(keys: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect && got.size == keys.size)
      // absent key: with these parameters every filter should refuse it,
      // and the empty-keep branch returns an empty, right-schema frame
      val ghost = BloomIndex.readPruned(spark, dir, manifest, "k", Seq(999999L))
      assert(ghost.columns.toSeq == Seq("k", "v") && ghost.count() == 0)
    } finally { manifest.unpersist(); () }
  }

  test("Layout string zonemaps: URL-keyed range scan reads a strict file subset, result exact") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val base = Files.createTempDirectory("sprune").toString

    // URL-keyed corpus (the string keys the numeric zonemap refuses),
    // clustered on the key — a domain band must prune files
    val df = spark.range(8000).select(
      concat(lit("https://site"), lpad(col("id").cast("string"), 5, "0"),
        lit(".example.com/page")).as("url"),
      (col("id") % 97).as("v"))
    val dir = s"$base/u.parquet"
    Layout.writeClustered(df, dir, 16, col("url"))
    val all = spark.read.parquet(dir).inputFiles.map(norm).toSet
    val (lo, hi) = ("https://site02000", "https://site02999.zzzz")
    val predicted = Layout.prunedFilesString(spark, dir, "url", lo, hi).map(norm).toSet
    assert(predicted.nonEmpty && predicted.size < all.size,
      s"string-clustered table must prune: ${predicted.size} of ${all.size}")
    val pruned = Layout.readPrunedByRangeString(spark, dir, "url", lo, hi)
    assert(pruned.inputFiles.map(norm).toSet == predicted)
    val expect = df.filter(col("url") >= lo && col("url") <= hi)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(expect.nonEmpty)
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect)

    // keys LONGER than prefixLen prune via the incremented upper bound
    // (truncated-prefix widening, not exact-max compares): 14 chars =
    // "https://site0N" — past the shared scheme prefix, so thousand-id
    // bands discriminate. At prefixLen 8 (inside the shared "https://")
    // NOTHING can prune — and nothing may be lost either.
    val p2 = Layout.prunedFilesString(spark, dir, "url", lo, hi, prefixLen = 14)
    assert(p2.nonEmpty && p2.size < all.size, "truncated prefixes must still prune")
    val r2 = Layout.readPrunedByRangeString(spark, dir, "url", lo, hi, prefixLen = 14)
    assert(r2.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect)
    val r3 = Layout.readPrunedByRangeString(spark, dir, "url", lo, hi, prefixLen = 8)
    assert(r3.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect,
      "an undiscriminating prefix must degrade to keep-all, never lose rows")

    // non-ASCII keys: unsigned-lex vs UTF-16 order can disagree, so the
    // zonemap must retreat to keep (never prune wrongly) — result
    // equality is the contract, subset size is not asserted
    val dfU = spark.range(2000).select(
      concat(lit("Ω"), lpad(col("id").cast("string"), 4, "0"), lit("✓")).as("url"),
      col("id").as("v"))
    val dirU = s"$base/unicode.parquet"
    Layout.writeClustered(dfU, dirU, 8, col("url"))
    val (ulo, uhi) = ("Ω0100", "Ω0200✓")
    val got = Layout.readPrunedByRangeString(spark, dirU, "url", ulo, uhi)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = dfU.filter(col("url") >= ulo && col("url") <= uhi)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want,
      "non-ASCII stats must land in the keep-branch, never prune a matching row")
  }

  test("Layout.zValue binary-search rank equals the linear strictly-below count") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    // skewed + duplicated values: the adversarial case for a binary
    // search over non-strictly-increasing quantile boundaries
    val df = spark.range(4000).select(
      (pmod(hash(col("id")), lit(50)) * pmod(hash(col("id")), lit(50))).cast("long").as("x"),
      when(col("id") % 3 === 0, lit(7L)).otherwise(col("id") % 100).as("y"))
    val got = df.withColumn("z", Layout.zValue(df, "x", "y"))
      .select("x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // reference: same approx_percentile boundaries, linear count + interleave
    def boundsOf(c: String): Seq[Double] = {
      val probs = (1 until 256).map(_ / 256.0)
      df.select(expr(s"approx_percentile(CAST($c AS DOUBLE), array(${probs.mkString(",")}), 10000)"))
        .head.getSeq[Double](0)
    }
    val (bx, by) = (boundsOf("x"), boundsOf("y"))
    def interleave(ra: Int, rb: Int): Int =
      (0 until 8).map(i => (((ra >> i) & 1) << (2 * i + 1)) | (((rb >> i) & 1) << (2 * i))).sum
    got.foreach { case (x, y, z) =>
      val expect = interleave(bx.count(_ < x.toDouble), by.count(_ < y.toDouble))
      assert(z == expect, s"x=$x y=$y: z=$z expected=$expect")
    }
  }

  test("Layout.writeZOrdered keeps BOTH columns' per-file ranges tight (linear layout can't)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Layout
    val base = Files.createTempDirectory("zord").toString
    // independent uniform columns — the adversarial case for linear clustering
    val df = spark.range(40000).select(
      (pmod(hash(col("id")), lit(1000)) + 1000).cast("long").as("x"),
      (pmod(hash(col("id") + 7), lit(1000)) + 1000).cast("long").as("y"))
    Layout.writeZOrdered(df, s"$base/z.parquet", nFiles = 64, "x", "y")
    Layout.writeClustered(df, s"$base/lin.parquet", 64, col("x"))

    def hitFraction(dir: String, c: String): Double = {
      // per-file min/max in ONE job (r16: the per-file read+agg loop ran
      // ~130 separate jobs and was most of this test's 86 s)
      val stats = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
        .collect()
      // point-ish predicate: a ~1/16-wide band of the value domain
      val hit = stats.count(r =>
        r.getLong(1) <= 1531 && 1468 <= r.getLong(2)) // band [1468, 1531]
      hit.toDouble / stats.length
    }
    // z-order: a band predicate on EITHER column skips most files. The
    // 0.5 bound is deliberately slack: repartitionByRange SAMPLES its
    // boundaries, so the z-block grid is ragged and the hit fraction
    // varies run to run (observed 0.33-0.42 at 64 files) — the contrast
    // with the linear layout's >=0.9 is the invariant under test
    assert(hitFraction(s"$base/z.parquet", "x") <= 0.5, "z: x-band should skip files")
    assert(hitFraction(s"$base/z.parquet", "y") <= 0.5, "z: y-band should skip files")
    // linear on x prunes x but every file spans y's full range — no y pruning
    assert(hitFraction(s"$base/lin.parquet", "x") <= 0.5)
    assert(hitFraction(s"$base/lin.parquet", "y") >= 0.9,
      "linear-on-x files should all intersect the y band (that's the problem z-order solves)")
    // content survives the rewrite
    assert(spark.read.parquet(s"$base/z.parquet").count() == 40000)
  }
}
