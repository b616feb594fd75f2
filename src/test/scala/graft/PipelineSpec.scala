package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.{Shingling, TextAnalysis}
import graft.multimodal.Multimodal

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("normalize + fingerprint collapse whitespace/case variants") {
    val df = Seq("Hello  World", "hello world ", "other text").toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("fp"))
    assert(df.distinct().count() == 2)
  }

  test("word shingles of short docs collapse to whole text") {
    val sh = Seq("one two").toDF("t")
      .select(Shingling.wordShingles($"t", 3).as("sh")).head().getSeq[String](0)
    assert(sh == Seq("one two"))
  }

  test("exact dedup keeps min id per content hash") {
    val df = Seq((1L, "aa bb"), (2L, "AA  BB"), (3L, "cc")).toDF("id", "t")
    val out = Dedup.exact(df, "t", "id").orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minHashPairs finds a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog again and again until done"
    val near = base.replace("done", "finished")
    val df = Seq((1L, base), (2L, near), (3L, "completely different words entirely here now"))
      .toDF("id", "t")
    val pairs = Dedup.minHashPairs(df, "t", "id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minHashPairs reads each document's text once for fingerprints, once for signatures, once for verify sets") {
    val words = Seq("delta", "lake", "spark", "graph", "merge", "table", "query", "plan", "join", "scan")
    // i % 3 == 0 and 1 are exact duplicates, i % 3 == 2 a near duplicate
    val docs = (0 until 60).map(i => (i.toLong, (0 until 25).map(w =>
      words((i / 3 * 7 + w * (w + 3) + (if (i % 3 == 2) w % 2 else 0)) % words.size)).mkString(" ")))
    val path = java.nio.file.Files.createTempDirectory("minhash_reads").toString + "/docs"
    docs.toDF("doc_id", "text").repartition(2).write.parquet(path)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minHashPairs(df, "text", "doc_id").as[(Long, Long, Double)].collect().toSeq
    // under the cap the driver path fetches the band keys and the verify
    // sets in one scan each; over it the distributed pipeline runs
    for (cap <- Seq("100000", "0")) withConf("graft.cc.driverEdgeCap", cap) {
      val want = pairs(spark.read.parquet(path))
      val reads = spark.sparkContext.longAccumulator("text reads")
      val tally = udf { (t: String) => reads.add(1); t }.asNondeterministic()
      val got = pairs(spark.read.parquet(path).select($"doc_id", tally($"text").as("text")))
      assert(got == want && got.nonEmpty)
      // a file-sized input joins its representatives by broadcast, so each
      // kernel's stage reads the text itself: with the band rows or the
      // verify sets unlanded, a second copy of a kernel reads it again
      assert(reads.value == 3L * docs.size, s"${reads.value} text reads for ${docs.size} documents")
    }
  }

  test("simHash is identical for identical token multisets, and pairs verify") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha  beta gamma"), (3L, "zz yy xx ww"))
      .toDF("id", "t")
    val sims = df.select(Dedup.simHash64($"t")).as[Long].collect()
    assert(sims(0) == sims(1) && sims(0) != sims(2))
    val pairs = Dedup.simHashPairs(df, "t", "id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccard is 1.0 on identical and 0.0 on disjoint texts") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.ngramJaccard($"t1", $"t2").as("same"),
      Dedup.ngramJaccard($"t1", $"t3").as("diff")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("cosine and bruteTopK rank an obvious nearest neighbor first") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteTopK(df, df.filter($"vec_id" === 0), "embedding", "vec_id", 2)
      .orderBy("rk").select("n_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("Pii.luhnValid/cardSummary: known cards validate, off-by-one fails, boundaries hold") {
    import graft.text.Pii
    val df = Seq(
      // 4539578763621486 is Luhn-valid (hand-checked sum 80); the +1
      // variant is not; 12 digits is below the candidate floor; a
      // 20-digit run must not match the bounded pattern
      (1L, "pay 4539578763621486 now"),
      (2L, "pay 4539578763621487 now"),
      (3L, "ref 123456789012 short"),
      (4L, "id 12345678901234567890 too long"),
      (5L, "both 4539578763621486 and 4539578763621487"))
      .toDF("doc_id", "text")
    val r = df.select($"doc_id", Pii.cardSummary($"text")._1.as("c"),
        Pii.cardSummary($"text")._2.as("v"))
      .orderBy($"doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(r == Seq((1L, 1, 1), (2L, 1, 0), (3L, 0, 0), (4L, 0, 0), (5L, 2, 1)), r)
    // amex-length (15 digits) validates too: 371449635398431 is the
    // classic test number
    val a = df.sparkSession.range(1).select(
      Pii.luhnValid(lit("371449635398431"))).head().getBoolean(0)
    assert(a)
  }

  test("Dedup.deltaComponents: standing merges, fresh chains, stale pairs == recount diff") {
    import graft.dedup.Dedup
    // standing: {1,2,3} rep 1, {10,11} rep 10, {20,21} rep 20
    val sm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("id", "cluster_id")
    // delta: a standing MERGE (3-10), a chain through a fresh node into a
    // fresh node (21-100, 100-40), a fresh-only clique (200-201-202), a
    // stale intra-component pair (1-2), and a self-loop (7-7)
    val dp = Seq((3L, 10L), (21L, 100L), (100L, 40L), (200L, 201L),
      (201L, 202L), (1L, 2L), (7L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.deltaComponents(sm, dp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 10L, 1L), (11L, 10L, 1L), (100L, 100L, 20L),
      (40L, 40L, 20L), (201L, 201L, 200L), (202L, 202L, 200L)), got.toString)
    // recount identity: the standing map's star edges + the delta pairs,
    // through the full fixpoint, must agree with old-map + increments
    val star = sm.select($"cluster_id".as("id_a"), $"id".as("id_b"))
    val full = Dedup.connectedComponents(
        star.unionByName(dp.filter($"id_a" =!= $"id_b")), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = sm.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val applied = before ++ got.map(t => t._1 -> t._3)
    // full covers exactly the nodes in any pair; applied must agree there
    full.foreach { case (n, rep) =>
      assert(applied.getOrElse(n, n) == rep, s"node $n: ${applied.get(n)} vs $rep")
    }
  }

  test("hardNegatives excludes the anchor's label class and ranks by cosine") {
    // anchor (label 1) has an identical-direction clustermate (label 1,
    // cosine 1.0 — MUST be excluded) and three cross-label candidates;
    // ids 3 and 4 are byte-identical vectors pinning the smaller-id tie
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(2.0f, 0.0f, 0.0f), 1), // same label: never a negative
      (2L, Array(0.9f, 0.1f, 0.0f), 2),
      (4L, Array(0.5f, 0.5f, 0.0f), 2), // tie pair, larger id second
      (3L, Array(0.5f, 0.5f, 0.0f), 3),
      (5L, Array(0.0f, 0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val got = Ann.hardNegatives(df, df.filter($"vec_id" === 0),
      "embedding", "vec_id", "label", k = 4)
      .orderBy("rk").select("n_id").as[Long].collect()
    assert(got.toSeq == Seq(2L, 3L, 4L, 5L), got.toSeq.toString)
    // zero-norm guard: a padded/zero corpus vector has cosine NaN, and
    // NaN sorts above every real — it must never rank, let alone first
    val withZero = df.unionByName(
      Seq((9L, Array(0.0f, 0.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label"))
    val guarded = Ann.hardNegatives(withZero, withZero.filter($"vec_id" === 0),
      "embedding", "vec_id", "label", k = 4)
      .orderBy("rk").select("n_id").as[Long].collect()
    assert(guarded.toSeq == Seq(2L, 3L, 4L, 5L), guarded.toSeq.toString)
  }

  test("lshTopK returns a subset ranked by exact cosine") {
    val emb = sources.Tables.load(spark, sfDir, "embeddings")
    val out = Ann.lshTopK(emb, emb.filter($"vec_id" < 3), "embedding", "vec_id", 5, 64)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(1) <= 5))
  }

  test("rollingHashMin is shift-invariant on shared shingles") {
    // same k-shingles (plus extras) → the min rolling hash can only decrease
    val df = Seq(("a b c d e", "x y a b c d e")).toDF("t1", "t2")
    val r = df.select(
      TextAnalysis.rollingHashMin($"t1").as("h1"),
      TextAnalysis.rollingHashMin($"t2").as("h2")).head()
    assert(r.getLong(1) <= r.getLong(0))
    val same = Seq(("a b c d e", "a b c d e")).toDF("t1", "t2")
      .select(TextAnalysis.rollingHashMin($"t1") === TextAnalysis.rollingHashMin($"t2"))
      .head().getBoolean(0)
    assert(same)
  }

  test("langId picks the profile with most stopword hits") {
    val df = Seq("the cat and the dog of the house", "le chat et la maison des amis")
      .toDF("t").select(TextAnalysis.langId($"t").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "fr"))
  }

  test("multimodal synth→sniff→extract pipeline is consistent") {
    val docs = sources.Tables.load(spark, sfDir, "documents").limit(30)
    val assets = Multimodal.synthPayloads(docs)
    val sniffed = Multimodal.sniffFormat(assets)
    val meta = Multimodal.extractFeatures(spark, assets)
    val joined = sniffed.select($"doc_id", $"format".as("f_expr"))
      .join(meta.toDF().select($"doc_id", $"format".as("f_part")), "doc_id")
    assert(joined.filter($"f_expr" =!= $"f_part").count() == 0)
    assert(meta.filter(_.format == "unknown").count() == 0)
  }

  test("multimodal resize and frame-sample stages: shape, determinism, sniffability") {
    val docs = sources.Tables.load(spark, sfDir, "documents").limit(20)
    val assets = Multimodal.synthPayloads(docs)
    val resized = Multimodal.resizeImages(spark, assets, 32, 32)
    assert(resized.count() == 20)
    val r = resized.filter(_.doc_id == 0).head()
    assert(r.width == 32 && r.height == 32 && r.payload.length <= 4 + 32 * 32 / 64)
    // magic preserved → still sniffable after resize
    val sniffed = Multimodal.sniffFormat(resized.toDF())
    assert(sniffed.filter($"format" === "unknown").count() == 0)
    // deterministic: same input, same bytes
    val again = Multimodal.resizeImages(spark, assets, 32, 32).filter(_.doc_id == 0).head()
    assert(java.util.Arrays.equals(r.payload, again.payload))

    val frames = Multimodal.sampleFrames(spark, assets, frameBytes = 16, everyN = 3)
    val f0 = frames.filter(_.doc_id == 0).collect().sortBy(_.frame_idx)
    assert(f0.nonEmpty && f0.forall(_.frame_idx % 3 == 0))
    assert(f0.init.forall(_.frame.length == 16)) // only the tail frame may be short
    // fan-out matches the pseudo-frame count of the payload
    val bodyLen = assets.filter($"doc_id" === 0).head().getAs[Array[Byte]]("payload").length - 4
    assert(f0.length == (0 until (bodyLen + 15) / 16).count(_ % 3 == 0))
  }

  test("real image codec: synthImages dims/channels recovered by JDK decode; resample is real") {
    import graft.multimodal.ImageCodec
    val docs = sources.Tables.load(spark, sfDir, "documents").limit(40)
    val assets = Multimodal.synthImages(spark, docs.select($"doc_id"))
    val meta = Multimodal.extractFeatures(spark, assets).collect()
    assert(meta.length == 40)
    meta.foreach { m =>
      assert(m.format == Multimodal.synthFormat(m.doc_id))
      assert(m.width == Multimodal.synthWidth(m.doc_id))
      assert(m.height == Multimodal.synthHeight(m.doc_id))
      assert(m.channels == (if (Multimodal.synthHasAlpha(m.doc_id)) 4 else 3))
      assert(m.n_bytes > 0)
    }
    // the payloads are REAL containers: magic-byte sniff agrees with the codec
    val sniffed = Multimodal.sniffFormat(assets).select($"doc_id", $"format")
      .as[(Long, String)].collect()
    sniffed.foreach { case (id, f) => assert(f == Multimodal.synthFormat(id)) }

    // resample is real: output payload DECODES at exactly the requested dims,
    // and is deterministic (same input pixels → same bytes)
    val resized = Multimodal.resizeImages(spark, assets, 16, 12).collect()
    assert(resized.length == 40)
    resized.foreach { r =>
      val img = ImageCodec.decode(r.payload)
      assert(img.isDefined, s"resized payload of doc ${r.doc_id} must decode")
      assert(img.get.getWidth == 16 && img.get.getHeight == 12)
    }
    val again = Multimodal.resizeImages(spark, assets, 16, 12).collect()
    val byId = again.map(r => r.doc_id -> r.payload).toMap
    resized.foreach(r => assert(java.util.Arrays.equals(r.payload, byId(r.doc_id))))
  }

  test("PQ: 32x-compressed codes rank true neighbors on clustered data; decode distortion bounded") {
    import graft.similarity.{Ann, Pq}
    // clustered corpus — the data PQ (like IVF) is for; 2k vectors suffice
    val emb = graft.examples.GenData.clusteredEmbeddings(
      spark, n = 2000, dim = 64, nClusters = 32, noise = 0.3)
    val cb = Pq.train(emb, "embedding", dim = 64, m = 8, k = 32, iters = 8)
    val codes = Pq.encode(emb, "embedding", "vec_id", cb).cache()
    assert(codes.count() == 2000)
    assert(codes.head().codes.length == 8) // 8 bytes vs 256: 32x

    // decode distortion: quantized vector stays close to the original
    // (clustered corpus: subspace k-means centroids sit near cluster arms)
    val sample = emb.filter($"vec_id" < 50)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val codesById = codes.filter(_.id < 50).collect().map(c => c.id -> c.codes).toMap
    val relErrs = sample.map { case (id, v) =>
      // PQ is cosine-native: codes quantize the UNIT vector
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val u = v.map(_ / nrm)
      val d = Pq.decode(codesById(id), cb)
      math.sqrt(u.zip(d).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    assert(relErrs.max < 0.5, s"worst unit-sphere distortion ${relErrs.max}")

    // ADC recall@5 vs exact brute force over the same corpus
    val qs = emb.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(emb, qs, "embedding", "vec_id", 5)
      .select("q_id", "rk", "n_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    // pure ADC can't discriminate within a cluster (identical codes) but
    // must still land the shortlist in the right cluster...
    val short = Pq.adcTopK(codes, qs, "embedding", "vec_id", cb, 100)
      .select("q_id", "rk", "n_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val shortRecall = brute.map { case (q, t) => (short(q) & t).size.toDouble / t.size }
    assert(shortRecall.sum / shortRecall.size >= 0.9,
      s"ADC shortlist recall ${shortRecall.sum / shortRecall.size}")
    // ...and the production composition (ADC shortlist + exact rerank of
    // candidates only) recovers the true top-5
    val rr = Pq.adcRerankTopK(codes, emb, qs, "embedding", "vec_id", cb,
      k = 5, shortlist = 100)
      .select("q_id", "rk", "n_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val recall = brute.map { case (q, t) => (rr(q) & t).size.toDouble / t.size }
    val mean = recall.sum / recall.size
    assert(mean >= 0.9, s"ADC+rerank recall@5 $mean < 0.9 (per-query: $recall)")
    codes.unpersist()
  }

  test("IvfPq: cell-partitioned PQ index probes pruned, recall matches brute on clustered data") {
    import graft.similarity.{Ann, IvfPq}
    val emb = graft.examples.GenData.clusteredEmbeddings(
      spark, n = 2000, dim = 64, nClusters = 32, noise = 0.3)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString
    IvfPq.buildIndex(emb, "embedding", "vec_id", dim = 64, nCells = 16,
      m = 8, kCodes = 32, path = path)
    // the layout is really cell-partitioned
    val cellDirs = new java.io.File(s"$path/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1 && cellDirs.length <= 16)

    val qs = emb.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(emb, qs, "embedding", "vec_id", 5)
      .select("q_id", "rk", "n_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val probed = IvfPq.probeTopK(spark, path, qs, "embedding", "vec_id",
      k = 5, nProbe = 4, shortlist = 100)
      .select("q_id", "rk", "n_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val recall = brute.map { case (q, t) => (probed(q) & t).size.toDouble / t.size }
    val mean = recall.sum / recall.size
    assert(mean >= 0.9, s"IVF+PQ recall@5 $mean < 0.9 (per-query: $recall)")

    // appendToIndex: a planted direction-identical neighbor (1.02× the
    // query — same nearest centroid under max-dot, near-identical PQ
    // codes, exact-rerank cosine 1.0) becomes the top hit through the
    // EXISTING quantizers — the Ivf append test, ported to the composed
    // index (daily ingest never retrains)
    import org.apache.spark.sql.functions._
    val q1 = emb.filter($"vec_id" === 1)
    val newcomer = q1.select(($"vec_id" + 5000000).as("vec_id"),
      transform($"embedding", x => (x * lit(1.02f)).cast("float")).as("embedding"))
    IvfPq.appendToIndex(newcomer, "embedding", "vec_id", path)
    val top = IvfPq.probeTopK(spark, path, q1, "embedding", "vec_id",
      k = 1, nProbe = 1).select("n_id").as[Long].head()
    assert(top == 5000001L, s"appended direction-identical vector must rank first, got $top")
  }

  test("jaccardJoin equals the all-pairs oracle, incl. a moderate-J/high-hamming pair") {
    // d1↔d2 share half their vocabulary → J(shingles) ≈ 0.2-0.4 with a
    // LARGE simhash hamming distance — exactly the pair class the old
    // simhash-candidate path missed; prefix filtering must keep it.
    val d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d2 = "alpha beta gamma delta epsilon zeta nu xi omicron pi rho sigma"
    val d3 = d1.replace("mu", "omega") // near-dup of d1, high J
    val d4 = "totally different words about completely unrelated subject matter here"
    val df = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("id", "t")
    val thr = 0.2
    val got = Dedup.jaccardJoin(df, "t", "id", threshold = thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // oracle: brute-force exact Jaccard over all pairs
    val a = df.select($"id".as("id_a"), $"t".as("t_a"))
    val b = df.select($"id".as("id_b"), $"t".as("t_b"))
    val expected = a.join(b, $"id_a" < $"id_b")
      .filter(Dedup.ngramJaccard($"t_a", $"t_b") >= thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.contains((1L, 2L)), "planted moderate pair missing from oracle")
    assert(got == expected)
    // and every reported jaccard meets the threshold
    assert(Dedup.jaccardJoin(df, "t", "id", thr).filter($"jaccard" < thr).count() == 0)
  }

  test("containmentJoin: directed excerpt detection equals the all-pairs oracle") {
    import org.apache.spark.sql.functions._
    val big = ("w" + (1 to 40).mkString(" w")).replace("w", "word")
    val words = big.split(" ")
    val excerpt = words.slice(4, 20).mkString(" ") // 16 words inside big
    val tiny = words.slice(10, 13).mkString(" ")   // 3 words → 1 shingle < minGrams
    val other = "totally unrelated vocabulary about a different subject entirely now"
    val df = Seq((1L, big), (2L, excerpt), (3L, tiny), (4L, other),
      (5L, excerpt)).toDF("id", "t") // 5 duplicates 2 → mutual containment
    val got = dedup.Containment.containmentJoin(df, "t", "id",
        threshold = 0.9, minGrams = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // oracle: brute-force exact containment over all directed pairs
    def sh(c: org.apache.spark.sql.Column) = text.Shingling.wordShingles(c, 3)
    val a = df.select($"id".as("id_a"), $"t".as("t_a"))
    val b = df.select($"id".as("id_b"), $"t".as("t_b"))
    val expected = a.join(b, $"id_a" =!= $"id_b")
      .filter(size(sh($"t_a")) >= 8 &&
        size(array_intersect(sh($"t_a"), sh($"t_b"))).cast("double") /
          size(sh($"t_a")) >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.contains((2L, 1L)), "excerpt→source missing from oracle")
    assert(!expected.contains((1L, 2L)), "direction must be asymmetric")
    assert(expected.contains((2L, 5L)) && expected.contains((5L, 2L)),
      "mutual containment must appear in both directions")
    assert(!expected.exists(_._1 == 3L), "minGrams must exclude confetti docs")
    assert(got == expected)
    // every reported containment meets the threshold
    assert(dedup.Containment.containmentJoin(df, "t", "id", 0.9, minGrams = 8)
      .filter($"containment" < 0.9).count() == 0)
  }

  test("TrigramIndex: search equals the LIKE scan; pruning and short-pattern guard") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "QUICK BROWN dogs sleep"),   // case-insensitive match
      (3L, "quintessential bro wns"),   // shares trigrams, not the substring
      (4L, "totally unrelated words")
    ).toDF("doc_id", "text")
    val postings = text.TrigramIndex.build(docs, "text", "doc_id")
    val got = text.TrigramIndex.search(postings, docs, "text", "doc_id",
        Seq("quick brown", "fox", "zzz"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = Set(("quick brown", 1L), ("quick brown", 2L), ("fox", 1L))
    assert(got == expect)
    // doc 3 holds 'qui'/'bro' trigrams yet never all of the pattern's —
    // the all-trigram candidate filter must exclude it before verify
    val cands = postings.join(
        Seq.tabulate("quick brown".length - 2)(i => "quick brown".substring(i, i + 3))
          .distinct.toDF("g"), "g")
      .groupBy($"id").agg(count(lit(1)).as("n"))
      .filter($"n" === lit("quick brown".sliding(3).distinct.size))
      .select("id").as[Long].collect().toSet
    assert(cands == Set(1L, 2L), s"candidates must prune, got $cands")
    intercept[IllegalArgumentException] {
      text.TrigramIndex.search(postings, docs, "text", "doc_id", Seq("ab"))
    }
  }

  test("noveltyScore: unseen-bigram fractions are exact per class") {
    val ref = Seq((100L, "a b c d"), (101L, "c d e")).toDF("doc_id", "t")
    val cand = Seq(
      (1L, "a b c"),    // both bigrams seen → 0.0
      (2L, "x y z"),    // both unseen → 1.0
      (3L, "a b q r"),  // 1 of 3 seen → 2/3
      (4L, "solo")      // < 2 words → no row
    ).toDF("doc_id", "t")
    val rows = ops.TrainingPrep.noveltyScore(cand, ref, "t", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "n_unseen", "novelty")
      .as[(Long, Int, Int, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, 2, 0, 0.0),
      (2L, 2, 2, 1.0),
      (3L, 3, 2, 2.0 / 3.0)))
  }

  test("embeddingPairsLsh equals embeddingPairsExact on planted near-dups") {
    import org.apache.spark.sql.functions._
    val emb = sources.Tables.load(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val scaled = emb.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"),
        transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val copies = emb.filter($"vec_id" % 11 === 0)
      .select(($"vec_id" + 2000000).as("vec_id"), $"embedding")
    val df = emb.unionByName(scaled).unionByName(copies)
    val lsh = Dedup.embeddingPairsLsh(df, "embedding", "vec_id", 0.95, dim = 64)
      .as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingPairsExact(df, "embedding", "vec_id", 0.95)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("IVF probe finds direction-identical neighbors; natural recall is partial") {
    import org.apache.spark.sql.functions._
    val emb = sources.Tables.load(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val qs = emb.filter($"vec_id" < 3)
    val copies = qs.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding", x => (x * lit(4.0f)).cast("float")).as("embedding"))
    val got = graft.similarity.Ivf.topK(emb.unionByName(copies), qs,
      "embedding", "vec_id", k = 1, dim = 64, nCells = 8, nProbe = 1)
      .as[(Long, Int, Long)].collect().toSet
    // even at nProbe=1 the scaled copy (same cell by construction) is rank 1
    assert(got == Set((0L, 1, 1000000L), (1L, 1, 1000001L), (2L, 1, 1000002L)))
    // natural-data recall: partial but nonzero at nProbe half of nCells
    val brute = Ann.bruteTopK(emb, qs, "embedding", "vec_id", 5)
      .as[(Long, Int, Long)].collect().map(t => (t._1, t._3)).toSet
    val ivf = graft.similarity.Ivf.topK(emb, qs, "embedding", "vec_id",
      k = 5, dim = 64, nCells = 16, nProbe = 8)
      .as[(Long, Int, Long)].collect().map(t => (t._1, t._3)).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall > 0.3 && recall <= 1.0, s"recall=$recall")
  }

  test("ScoredTopK bounded-heap agg matches window row_number, dedupes by id") {
    import graft.functions.AggFunctions
    // duplicate candidate rows (same q_id, n_id, score) must rank ONCE
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.95),
      (1L, 13L, 0.8), // tie with 11 -> smaller id first
      (2L, 20L, 0.5), (2L, 21L, 0.7)).toDF("q_id", "n_id", "cos")
    val out = scored.groupBy($"q_id")
      .agg(AggFunctions.scoredTopK($"cos", $"n_id", 3).as("top"))
      .select($"q_id", posexplode($"top").as(Seq("p", "s")))
      .select($"q_id", ($"p" + 1).as("rk"), $"s.id".as("n_id"))
      .as[(Long, Int, Long)].collect().toSet
    assert(out == Set(
      (1L, 1, 12L), (1L, 2, 10L), (1L, 3, 11L),
      (2L, 1, 21L), (2L, 2, 20L)))
    // best-score-per-id: a later better score for a resident id replaces it
    val best = Seq((1L, 10L, 0.2), (1L, 10L, 0.9), (1L, 11L, 0.5))
      .toDF("q_id", "n_id", "cos")
      .groupBy($"q_id").agg(AggFunctions.scoredTopK($"cos", $"n_id", 2).as("top"))
      .select(posexplode($"top").as(Seq("p", "s")))
      .select($"s.id", $"s.score").as[(Long, Double)].collect().toSet
    assert(best == Set((10L, 0.9), (11L, 0.5)))
  }

  test("Ivf buildIndex writes a cell-partitioned layout probeTopK prunes and answers") {
    import org.apache.spark.sql.functions._
    val emb = sources.Tables.load(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val qs = emb.filter($"vec_id" < 3)
    val copies = qs.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding", x => (x * lit(4.0f)).cast("float")).as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("ivf_spec").toString
    graft.similarity.Ivf.buildIndex(emb.unionByName(copies), "embedding", "vec_id",
      dim = 64, nCells = 8, path = path)
    // layout: cell=N directories + readable centroids
    val dirs = new java.io.File(s"$path/data").listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 8).map(c => s"cell=$c").toSet))
    val (cents, dim) = graft.similarity.Ivf.loadCentroids(spark, path)
    assert(dim == 64 && cents.length == 8 * 64)
    // probe: planted same-cell copies are rank 1 at nProbe = 1
    val probed = graft.similarity.Ivf.probeTopK(spark, path, qs, "embedding", "vec_id",
      k = 1, nProbe = 1).as[(Long, Int, Long)].collect().toSet
    assert(probed == Set((0L, 1, 1000000L), (1L, 1, 1000001L), (2L, 1, 1000002L)))
    // pruning is physical: the probe scan reads strictly fewer files than the layout
    import org.apache.spark.sql.graft.bridge.scannedFileCount
    val all = spark.read.parquet(s"$path/data")
    val pruned = graft.similarity.Ivf.probeTopK(spark, path, qs, "embedding", "vec_id",
      k = 1, nProbe = 1)
    assert(scannedFileCount(pruned) > 0 && scannedFileCount(pruned) < scannedFileCount(all))
  }

  test("TrainingPrep: decontaminate, repetition, packing, domain mix") {
    import graft.ops.{Sampling, TrainingPrep}
    // decontaminate: doc 2 shares an 8-gram with the benchmark doc, doc 3 doesn't
    val bench = Seq((100L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "totally unrelated words that never appear in the benchmark corpus at all"),
      (2L, "prefix words then one two three four five six seven eight and a tail"),
      (3L, "one two three four five six seven shared but only seven grams long"))
      .toDF("doc_id", "text")
    val kept = TrainingPrep.decontaminate(docs, "text", "doc_id", bench, "text", k = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))

    // repetition: looped text scores high, distinct text scores 0
    val rep = Seq(("a b c a b c a b c a b c", 1), ("all words here are distinct now", 2))
      .toDF("t", "i")
      .select(TrainingPrep.repetitionScore($"t").as("r")).as[Double].collect()
    assert(rep(0) > 0.6 && rep(1) == 0.0)

    // packing: within a shard, seq_id is non-decreasing in id and starts at 0;
    // a sequence's token count can only overflow ctx by its LAST doc
    val corpus = sources.Tables.load(spark, sfDir, "documents")
    val packed = TrainingPrep.packSequences(corpus, "text", "doc_id", ctxTokens = 512, shards = 4)
    val byShard = packed.select("shard", "doc_id", "n_tok", "seq_id")
      .as[(Long, Long, Int, Long)].collect().groupBy(_._1)
    byShard.values.foreach { rows =>
      val ordered = rows.sortBy(_._2)
      assert(ordered.head._4 == 0L)
      assert(ordered.sliding(2).forall(p => p.length < 2 || p(0)._4 <= p(1)._4))
      // start-offset rule: every doc's start offset lies inside its sequence
      var cum = 0L
      ordered.foreach { case (_, _, n, seq) =>
        assert(cum / 512 == seq)
        cum += n
      }
    }
    // deterministic: same inputs, same assignment
    val again = TrainingPrep.packSequences(corpus, "text", "doc_id", 512, 4)
      .select("doc_id", "seq_id").as[(Long, Long)].collect().toSet
    assert(again == packed.select("doc_id", "seq_id").as[(Long, Long)].collect().toSet)

    // domain mix: deterministic, and rates order as 1000 > 500 > 100 kept fractions
    val permille = when($"source".isin("src0"), 1000)
      .when($"source".isin("src1"), 500).otherwise(100)
    val mixed = TrainingPrep.sampleByDomain(corpus, "doc_id", permille)
    val keptBySrc = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    val totBySrc = corpus.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(keptBySrc("src0") == totBySrc("src0")) // permille 1000 keeps all
    val frac500 = keptBySrc("src1").toDouble / totBySrc("src1")
    assert(frac500 > 0.3 && frac500 < 0.7, s"src1 kept fraction $frac500")
  }

  test("TrainingPrep: stratified sample, epoch upsample, contamination score") {
    import graft.ops.{Sampling, TrainingPrep}
    val corpus = sources.Tables.load(spark, sfDir, "documents")

    // stratified: exactly n per stratum, stable across runs, and equal to
    // the rank-by-md5 reference computed the naive way
    val smp = TrainingPrep.stratifiedSample(corpus, "doc_id", "source", n = 7)
    val bySrc = smp.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.values.forall(_ == 7L), s"per-stratum counts $bySrc")
    val naive = corpus
      .select($"source", $"doc_id",
        Sampling.shard($"doc_id", 1000000000, "strat").as("h"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"h", $"doc_id")))
      .filter($"rk" <= 7)
      .select($"source", $"doc_id").as[(String, Long)].collect().toSet
    assert(smp.select($"source", $"doc_id").as[(String, Long)].collect().toSet == naive)

    // epoch upsample: whole part copies everyone, remainder a deterministic
    // fraction; per-doc copy counts are floor(w) or floor(w)+1
    val up = TrainingPrep.epochUpsample(corpus, "doc_id", lit(2300))
    val perDoc = up.groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(perDoc.forall { case (_, n) => n == 2L || n == 3L })
    val total = corpus.count()
    val tripled = perDoc.count(_._2 == 3L).toDouble / total
    assert(tripled > 0.15 && tripled < 0.45, s"fraction tripled $tripled")
    assert(up.filter($"epoch_i" < 1 || $"epoch_i" > $"n_copies").isEmpty)
    // weight below 1000 permille downsamples instead
    val down = TrainingPrep.epochUpsample(corpus, "doc_id", lit(400))
    val downN = down.count()
    assert(downN > 0 && downN < total, s"downsampled $downN of $total")

    // contamination: a doc sharing half its grams scores 0.5-ish, a clean
    // doc never surfaces
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (2L, "completely different words with no benchmark overlap whatsoever in any gram"))
      .toDF("doc_id", "text")
    val sc = TrainingPrep.contaminationScore(docs, "text", "doc_id", bench, "text", k = 8)
      .as[(Long, Int, Int, Double)].collect()
    assert(sc.map(_._1).toSet == Set(1L))
    val (_, nGrams, nHit, score) = sc.head
    // doc 1 has 7 grams, exactly one of which (the first) is the benchmark's
    assert(nGrams == 7 && nHit == 1 && math.abs(score - 1.0 / 7) < 1e-12)
  }

  test("TrainingPrep.bigramLmScore: MLE bigram log-likelihood, micro-unit exact") {
    import graft.ops.TrainingPrep
    // corpus: "a b c" and "a b d" -> c(a b)=2, c(b c)=1, c(b d)=1; c1(a)=2, c1(b)=2
    // each doc: lp("a b") = ln(2/2) = 0; lp("b ·") = ln(1/2) -> floor(-693147.18..) = -693148
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val r = TrainingPrep.bigramLmScore(docs, "text", "doc_id")
      .orderBy($"doc_id").as[(Long, Int, Long)].collect()
    assert(r.toSeq == Seq((1L, 2, -693148L), (2L, 2, -693148L)))
    // quality signal direction: a doc of corpus-typical transitions
    // outscores token salad with the same length
    val corpus = (1L to 40L).map(i => (i, "the quick fox jumps over the lazy dog")) :+
      (100L, "dog the over quick lazy jumps fox the") :+
      (101L, "the quick fox jumps over the lazy dog")
    val sc = TrainingPrep.bigramLmScore(corpus.toDF("doc_id", "text"), "text", "doc_id")
      .filter($"doc_id" >= 100L).orderBy($"doc_id")
      .select(($"ll_u".cast("double") / $"n_bigrams").as("avg_u")).as[Double].collect()
    assert(sc(0) < sc(1), s"salad ${sc(0)} should score below typical ${sc(1)}")
  }

  test("TrainingPrep.nbClassifierScore: seed-fit NB kills held-out spam; unseen buckets take the default weight") {
    import graft.ops.TrainingPrep
    // seed: two curated docs (+), two crawl docs (− — one carrying the spam
    // token); held-out: a spam doc the fit never saw, a clean doc, and a doc
    // of ONLY unseen tokens (the coalesce default-weight path).
    val docs = Seq(
      (1L, "good clean prose words here", true, false),
      (2L, "more good clean words here", true, false),
      (3L, "spam spam spam spam buy", false, true),
      (4L, "some clean words here too now", false, true), // 6 tokens: T_neg=11
      (10L, "spam spam spam buy spam", false, false), // held-out spam
      (11L, "good clean prose words here", false, false), // held-out clean
      (12L, "unseenalpha unseenbeta", false, false)) // default-path only
      .toDF("doc_id", "text", "pos", "neg")
    val r = TrainingPrep.nbClassifierScore(docs, "text", "doc_id", $"pos", $"neg")
      .orderBy($"doc_id").as[(Long, Int, Long, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    // the held-out spam doc is killed by a model that never saw it, and
    // scores far below the held-out clean doc
    assert(!r(10L)._4, r(10L).toString)
    assert(r(10L)._3 < r(11L)._3 - 1000000L, s"${r(10L)} vs ${r(11L)}")
    // default path exact: T_pos=10, T_neg=11 seed tokens, n_pos=n_neg=2 docs
    // -> prior_u = floor(ln(1)*1e6) = 0, w0_u = floor(ln(1035/1034)*1e6);
    // doc 12 is two occurrences of tokens NO seed bucket holds
    val w0u = math.floor(math.log((11 + 1024.0) / (10 + 1024.0)) * 1e6).toLong
    assert(r(12L)._2 == 2 && r(12L)._3 == 2 * w0u, s"${r(12L)} vs w0=$w0u")
  }

  test("SparseCosine: group-local neighbors, parallel vectors rank first, maxDf audit") {
    import graft.similarity.SparseCosine
    // two disjoint term groups + a stop word in every doc (df 5 > maxDf 4)
    val docs = Seq(
      (10L, "the p q r p q r"), (11L, "the p q r"), (12L, "the p q r s"),
      (20L, "the x y z"), (21L, "the x y z"))
      .toDF("doc_id", "text")
    val top = SparseCosine.topK(docs, "text", "doc_id", lit(true), k = 3, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // neighbors never cross groups (the stop word is capped out of the index)
    top.foreach { case (q, _, n, _) => assert((q / 10) == (n / 10), s"$q -> $n") }
    // doc 11 is parallel to doc 10 (same direction, 2x tf): cosine ~ 1 beats doc 12
    val d11 = top.filter(_._1 == 11L).sortBy(_._2)
    assert(d11.head._3 == 10L && d11.head._4 > 999000L, d11.mkString(","))
    // symmetric identical docs score ~ 1 both ways
    val b = top.filter(t => t._1 >= 20L && t._2 == 1)
    assert(b.map(_._3).toSet == Set(20L, 21L) && b.forall(_._4 > 999000L))
    // audit view surfaces exactly the capped term
    val dropped = SparseCosine.droppedTerms(docs, "text", "doc_id", maxDf = 4)
      .as[(String, Long)].collect().toMap
    assert(dropped == Map("the" -> 5L))
  }

  test("real audio codec: WAV roundtrip through the JRE parser; opaque bytes fall through") {
    import graft.multimodal.{AudioCodec, Multimodal}
    // stereo roundtrip: header fields and every sample survive
    val samples = Array[Short](100, -100, 2000, -2000, 300, -300, 32767, -32768)
    val wav = AudioCodec.encodeWav(samples, sampleRate = 22050, channels = 2)
    val pcm = AudioCodec.decodeWav(wav).get
    assert(pcm.sampleRate == 22050 && pcm.channels == 2 && pcm.nFrames == 4)
    assert(pcm.samples.toSeq == samples.toSeq)
    // non-audio bytes take the opaque path, no throw
    assert(AudioCodec.decodeWav("not a wav at all".getBytes).isEmpty)
    // the distributed stage recovers the planted arithmetic end-to-end
    val docs = Seq(0L, 7L, 123L).toDF("doc_id")
    val meta = Multimodal.extractAudioFeatures(spark, Multimodal.synthAudio(spark, docs))
      .collect().map(m => m.doc_id -> m).toMap
    Seq(0L, 7L, 123L).foreach { id =>
      val m = meta(id)
      assert(m.sample_rate == Multimodal.synthRate(id) &&
        m.channels == Multimodal.synthChannels(id) &&
        m.n_frames == Multimodal.synthAudioFrames(id) &&
        m.sum_abs == Multimodal.synthAmp(id).toLong *
          Multimodal.synthAudioFrames(id) * Multimodal.synthChannels(id))
    }
  }

  test("Bpe: distributed training equals the driver reference; encode segments greedily") {
    import graft.text.Bpe
    // the classic Sennrich corpus shape: repeated word families
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
    val docs = corpus.grouped(4).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    // driver-side reference BPE over the same word-count table
    def refTrain(words: Map[String, Long], n: Int): Seq[(String, String)] = {
      var wt: Seq[(Seq[String], Long)] =
        words.map { case (w, c) => (w.map(_.toString).toSeq :+ Bpe.EndOfWord, c) }.toSeq
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var cont = true
      while (out.length < n && cont) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        wt.foreach { case (syms, c) =>
          syms.sliding(2).foreach { case Seq(a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => } }
        val cands = counts.filter(_._2 >= 2)
        if (cands.isEmpty) cont = false
        else {
          val best = cands.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += best
          wt = wt.map { case (syms, c) =>
            (Bpe.applyMerge(syms, Bpe.Merge(best._1, best._2)), c) }
        }
      }
      out.toSeq
    }
    val wordCounts = corpus.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val expected = refTrain(wordCounts, 12)
    val stats = scala.collection.mutable.ArrayBuffer[Bpe.RoundStats]()
    // a reliable checkpoint dir: the 10th round cuts its lineage there
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bpe_ckpt")
    val learned = Bpe.train(docs, "text", nMerges = 12, checkpointDir = Some(ckpt.toString),
      onRound = Some(stats += _))
    assert(learned.map(m => (m.left, m.right)) == expected,
      s"learned=$learned expected=$expected")
    assert(java.nio.file.Files.list(ckpt).count() > 0, "no checkpoint files under the dir")
    // the incremental claim: every merge round's delta recount reads only
    // the words CONTAINING the merged pair — a strict subset of the
    // vocabulary on this corpus (4 distinct words, no pair in all 4)
    assert(stats.length == learned.length)
    assert(stats.forall(s => s.affectedWords > 0 && s.affectedWords < s.totalWords),
      stats.map(s => s"${s.merge}:${s.affectedWords}/${s.totalWords}").mkString(", "))

    // the learned tokenizer segments a held-out word by shared subwords
    val segs = Bpe.segmentWord("lowest", learned)
    assert(segs.head.startsWith("lo") && segs.mkString == "lowest" + Bpe.EndOfWord, segs)
    // distributed encode runs the same segmentation per doc
    val enc = Bpe.encodeDocs(spark, Seq((7L, "low newest")).toDF("doc_id", "text"),
      "text", "doc_id", learned).head()
    assert(enc.getLong(0) == 7L &&
      enc.getSeq[String](1).mkString == "low" + Bpe.EndOfWord + "newest" + Bpe.EndOfWord)
    // segmentVocab (the corpus-encode vocabulary table) agrees with the
    // per-word reference segmentation, token for token
    val vocab = Seq("low", "lowest", "newest").toDF("w")
    val segTab = Bpe.segmentVocab(spark, vocab, "w", learned)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    vocab.as[String].collect().foreach { w =>
      val ref = Bpe.segmentWord(w, learned)
      assert(segTab(w) == ((ref.mkString(" "), ref.length)), s"vocab row for $w")
    }
  }

  test("resampleAudio really transforms: output decodes at downmixed/decimated geometry") {
    import graft.multimodal.{AudioCodec, Multimodal}
    val docs = Seq(1L, 6L, 13L).toDF("doc_id") // odd/even channel mixes
    val out = Multimodal.resampleAudio(spark, Multimodal.synthAudio(spark, docs), decimate = 2)
      .collect().map(r => r.doc_id -> r).toMap
    Seq(1L, 6L, 13L).foreach { id =>
      val r = out(id)
      val inFrames = Multimodal.synthAudioFrames(id)
      assert(r.channels == 1 && r.n_frames == (inFrames + 1) / 2)
      assert(r.sample_rate == Multimodal.synthRate(id) / 2)
      // the output payload is itself a REAL decodable WAV at that geometry
      val pcm = AudioCodec.decodeWav(r.payload).get
      assert(pcm.channels == 1 && pcm.nFrames == r.n_frames &&
        pcm.sampleRate == r.sample_rate)
      // square wave survives the downmix: every sample still +/-amp
      assert(pcm.samples.forall(s => math.abs(s) == Multimodal.synthAmp(id)))
    }
    // opaque payloads pass through untransformed
    val opaque = Seq((9L, "junk".getBytes)).toDF("doc_id", "payload")
    val p = Multimodal.resampleAudio(spark, opaque).head()
    assert(p.sample_rate == -1 && p.payload.toSeq == "junk".getBytes.toSeq)
  }

  test("audio fingerprint: real WAV roundtrip matches the arithmetic recipe; twins within hamming 1") {
    import graft.multimodal.Multimodal
    val docs = Seq(7L, 8L, 20L).toDF("doc_id")
    val fp = Multimodal.audioFingerprintBands(
        spark, Multimodal.synthNoiseAudio(spark, docs))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // recompute the fingerprint from the PURE sample formula (no codec):
    // the equality proves the WAV encode/decode path is byte-faithful
    def ref(id: Long): Seq[Int] = {
      val e = new Array[Long](65)
      (0 until Multimodal.NoiseFrames).foreach { t =>
        val s = Multimodal.synthNoiseSample(id, t).toLong
        e(t / 8) += s * s
      }
      val b = new Array[Int](4)
      (0 until 64).foreach(p => if (e(p + 1) > e(p)) b(p / 16) |= 1 << (p % 16))
      b.toSeq
    }
    Seq(7L, 8L, 20L).foreach(id => assert(fp(id) == ref(id), s"fp($id)"))
    // distinct waveforms are FAR apart (the middle-square nonlinearity:
    // a phase-shifted linear progression would near-collide)
    def ham(a: Seq[Int], b: Seq[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(ham(fp(7L), fp(8L)) > 3 && ham(fp(7L), fp(20L)) > 3)
    // a zeroed-frame twin moves at most one energy-delta bit
    val twins = Multimodal.audioFingerprintBands(
        spark, Multimodal.synthTwinAudio(spark, nPairs = 4, base = 100L))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    (0 until 4).foreach { i =>
      val d = ham(twins(100L + 2 * i), twins(100L + 2 * i + 1))
      assert(d <= 1, s"twin pair $i hamming $d")
    }
  }

  test("video fingerprint: payload bytes match the temporal recipe; twins within hamming 1") {
    import graft.multimodal.Multimodal
    val docs = Seq(3L, 4L, 11L).toDF("doc_id")
    val fp = Multimodal.videoFingerprintBands(
        spark, Multimodal.synthVideo(spark, docs))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // recompute from the PURE byte formula — proves the sampleFrames
    // demux + luma kernel + declarative packing read the same bytes
    def ref(id: Long): Seq[Int] = {
      val lum = Array.tabulate(Multimodal.VideoFrames) { f =>
        (0 until Multimodal.VideoFrameBytes).map(b =>
          Multimodal.synthVideoByte(id, f * Multimodal.VideoFrameBytes + b)
            & 0xFF).sum.toLong
      }
      val bands = new Array[Int](4)
      (0 until 64).foreach(f =>
        if (lum(f + 1) > lum(f)) bands(f / 16) |= 1 << (f % 16))
      bands.toSeq
    }
    Seq(3L, 4L, 11L).foreach(id => assert(fp(id) == ref(id), s"fp($id)"))
    def ham(a: Seq[Int], b: Seq[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(ham(fp(3L), fp(4L)) > 3 && ham(fp(3L), fp(11L)) > 3)
    // zeroed-frame twins: at most the one affected transition bit flips
    val twins = Multimodal.videoFingerprintBands(
        spark, Multimodal.synthTwinVideo(spark, nPairs = 4, base = 200L))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    (0 until 4).foreach { i =>
      val d = ham(twins(200L + 2 * i), twins(200L + 2 * i + 1))
      assert(d <= 1, s"twin pair $i hamming $d")
    }
    // a short payload (fewer than 65 frames) is skipped, not mis-hashed
    val short = Seq((9L, Array.fill[Byte](4 + 64 * 10)(1))).toDF("doc_id", "payload")
    assert(Multimodal.videoFingerprintBands(spark, short).count() == 0)
  }

  test("EmbeddingQc flags zero/non-finite vectors; norms are exact micro-units") {
    import graft.similarity.EmbeddingQc
    val embs = Seq(
      (1L, Array(3.0f, 4.0f), "a"),          // norm2 = 25 exactly
      (2L, Array(0.0f, 0.0f), "a"),          // zero
      (3L, Array(Float.NaN, 1.0f), "a"),     // poisoned
      (4L, Array(1.0f, Float.NegativeInfinity), "a"),
      (5L, Array(1.0f, 1.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    // NULL malformations (truncated writes): a NULL component and a NULL
    // vector must be COUNTED as bad, not vanish under three-valued logic
    val withNulls = embs.unionByName(
      Seq((6L, "c"), (7L, "c"), (8L, "c")).toDF("vec_id", "label")
        .withColumn("embedding",
          when($"vec_id" === 6L,
            expr("array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))"))
          .when($"vec_id" === 8L, expr("array(CAST(2.0 AS FLOAT))"))
          .otherwise(lit(null).cast("array<float>")))
        .select($"vec_id", $"embedding", $"label"))
    val r = EmbeddingQc.qcReport(withNulls, "embedding", "label")
      .orderBy($"label")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getInt(2), x.getInt(3),
        if (x.isNullAt(4)) -1L else x.getLong(4),
        if (x.isNullAt(5)) -1L else x.getLong(5)))
    assert(r.toSeq == Seq(
      ("a", 4, 1, 2, 0L, 25000000L),
      ("b", 1, 0, 0, 2000000L, 2000000L),
      ("c", 3, 0, 2, 4000000L, 4000000L)), r.toSeq)
  }

  test("Quantize int8 roundtrip error is bounded by scale/254") {
    import graft.similarity.Quantize
    val emb = sources.Tables.load(spark, sfDir, "embeddings").limit(200)
    val r = emb.withColumn("scale", Quantize.scaleOf($"embedding"))
      .withColumn("codes", Quantize.codes($"embedding", $"scale"))
      .withColumn("dq", Quantize.dequantize($"codes", $"scale"))
      .select($"scale",
        array_max(expr("zip_with(embedding, dq, (a, b) -> abs(CAST(a AS DOUBLE) - b))")).as("maxerr"),
        array_max(transform($"codes", c => abs(c))).as("maxcode"))
      .collect()
    r.foreach { row =>
      val (scale, maxerr, maxcode) = (row.getDouble(0), row.getDouble(1), row.getInt(2))
      assert(maxerr <= scale / 254 + 1e-12, s"err $maxerr vs bound ${scale / 254}")
      assert(maxcode <= 127)
    }
    // zero vector codes to zeros, no NaN
    val z = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("scale", Quantize.scaleOf($"embedding"))
      .select(Quantize.codes($"embedding", $"scale").as("c")).head().getSeq[Int](0)
    assert(z == Seq(0, 0))
  }

  test("CorpusPipeline: raw docs in, deduped/clean/packed shards out") {
    import graft.ops.{CorpusPipeline, TrainingPrep}
    val docs = sources.Tables.load(spark, sfDir, "documents").select($"doc_id", $"text")
    // plant: an exact dup, a near-dup, and a benchmark-contaminated doc
    // ... and a 6-doc family sharing an exact 8-token header (template
    // boilerplate) over unique 12-token bodies — the passage stage must
    // strip the header from every one while the bodies survive packing
    val header = "common site header navigation menu login search contact"
    val shared = (1 to 6).map { i =>
      (910000L + i, header + " " +
        (1 to 12).map(j => s"bodyword$i$j").mkString(" "))
    }
    val planted = (Seq(
      (900001L, docs.filter($"doc_id" === 3).head().getString(1)),          // exact dup of 3
      (900002L, docs.filter($"doc_id" === 5).head().getString(1) + " tail") // near-dup of 5
    ) ++ shared).toDF("doc_id", "text")
    val corpus = docs.unionByName(planted)
    val benchmark = docs.filter($"doc_id" % 101 === 0).limit(5)
    val out = CorpusPipeline.prepare(corpus, benchmark, ctxTokens = 256, shards = 4)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    assert(!ids.contains(900001L), "exact dup must collapse to the min id")
    assert(!ids.contains(900002L), "near-dup must drop in favor of the lower id")
    assert(ids.contains(3L) && ids.contains(5L))
    // benchmark docs contaminate themselves out
    val benchIds = benchmark.select("doc_id").as[Long].collect().toSet
    assert(ids.intersect(benchIds).isEmpty, "benchmark members must be decontaminated away")
    // packed output carries a valid (shard, seq) assignment
    val bad = out.filter($"seq_id" < 0 || $"shard" < 0 || $"shard" >= 4).count()
    assert(bad == 0)
    // the shared header vanished (each family doc packs only its 12-token
    // body) while every body survived to the trainer assignment
    val fam = out.filter($"doc_id" >= 910001L && $"doc_id" <= 910006L)
      .select("doc_id", "n_tok").as[(Long, Int)].collect().toMap
    assert(fam.keySet == (1 to 6).map(910000L + _).toSet,
      "every unique body must survive the passage stage")
    assert(fam.values.forall(_ == 12),
      s"header tokens must be stripped from the packed token counts: $fam")

    // landed trainer-ready: clustered write gives files with disjoint
    // shard ranges, so a one-shard read touches a file subset
    val outDir = java.nio.file.Files.createTempDirectory("corpus").toString + "/packed"
    graft.ops.CorpusPipeline.prepareAndWrite(corpus, benchmark, outDir,
      nFiles = 2, ctxTokens = 256, shards = 4)
    val back = spark.read.parquet(outDir)
    assert(back.select("doc_id").as[Long].collect().toSet == ids)
    val files = back.inputFiles
    assert(files.length == 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"shard"), max($"shard")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi <= lo },
      s"shard ranges overlap across files: ${ranges.toSeq}")
  }

  test("capBuckets drops hot buckets; droppedBuckets audits collapsed reps") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again until done"
    val near2 = near1.replace("done", "finished")
    val cluster = (1L to 5L).map(i => (i, "identical boilerplate text repeated verbatim for every row"))
    val df = (cluster ++ Seq((10L, near1), (11L, near2))).toDF("id", "t")
    // default cap: near pair found, cluster pairs come from exact-collapse
    val full = Dedup.minHashPairs(df, "t", "id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full.contains((10L, 11L)))
    assert((1L to 5L).combinations(2).forall(p => full.contains((p(0), p(1)))))
    // cap 1: every multi-rep bucket drops → only exact-dup pairs survive
    val capped = Dedup.minHashPairs(df, "t", "id", threshold = 0.5, maxBucket = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.contains((10L, 11L)))
    assert(capped == full - ((10L, 11L)))
    // audit matches what capBuckets saw: buckets of the two near-dup REPS
    // (size 2). The 5-doc exact cluster collapses to ONE rep, so no bucket
    // reaches size 5 — banding the raw df would report exactly that.
    val dropped = Dedup.droppedBuckets(df, "t", "id", maxBucket = 1)
    assert(dropped.count() > 0)
    assert(dropped.agg(org.apache.spark.sql.functions.max($"size")).head().getLong(0) == 2L)
  }

  test("exactGroups: 10^5-doc identical mega-cluster collapses with no window straggler") {
    // the 100 TB boilerplate shape the pre-banding collapse exists to
    // absorb: 10^5 byte-identical pages. The collapse must be a map-side
    // combinable groupBy + join-back — a min-over-window partitioned by
    // the fingerprint would put the whole cluster on ONE task's sort.
    val mega = spark.range(100000).select($"id",
      lit("identical boilerplate page body served on every mirror").as("t"))
    val rest = spark.range(100).select(($"id" + 1000000L).as("id"),
      concat(lit("distinct page number "), $"id").as("t"))
    val df = mega.unionByName(rest)
    val groups = Dedup.exactGroups(df, "t", "id")
    assert(!groups.queryExecution.executedPlan.toString.contains("Window"),
      "exactGroups must not compute representatives through a window")
    val clusters = groups.groupBy($"rep").count()
    assert(clusters.filter($"rep" === 0L).head().getLong(1) == 100000L)
    assert(groups.filter($"id" === $"rep").count() == 101L)
    // banding sees ONE row for the cluster: no bucket ever exceeds the
    // default cap, so candidate generation never touches the hot mass
    assert(Dedup.droppedBuckets(df, "t", "id").count() == 0L)
  }

  test("connectedComponents matches union-find on random graphs, chains and hubs") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      // long chain: the O(diameter) killer for label propagation
      (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // star hub + disjoint cliques
      (1L to 50L).map(i => (0L, i)) ++ Seq((100L, 101L), (101L, 102L), (200L, 201L)),
      // random sparse graph (with self-loops and duplicate/reversed edges)
      Seq.fill(300)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)))
    for (edges <- cases) {
      val expected = PipelineSpec.unionFind(edges.filter(e => e._1 != e._2))
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
    // empty input → empty output, correct schema
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.columns.toSeq == Seq("id", "cluster_id") && empty.isEmpty)
  }

  test("deltaComponents: answer-sized driver fold ≡ distributed fold") {
    import graft.dedup.Dedup
    // the r16 driver-orchestrated fold must agree row-for-row with the
    // distributed shape (forced via cap=0) on merges, fresh chains, and
    // stale pairs — same fixture class as the semantics test above
    val sm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (30L, 30L)).toDF("id", "cluster_id")
    val rnd = new scala.util.Random(29)
    val dp = (Seq((3L, 10L), (21L, 100L), (100L, 40L), (200L, 201L),
      (201L, 202L), (1L, 2L), (7L, 7L)) ++
      Seq.fill(60)((rnd.nextInt(40).toLong * 7, rnd.nextInt(300).toLong)))
      .toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = rows(Dedup.deltaComponents(sm, dp))
    withConf("graft.cc.driverEdgeCap", "0") {
      assert(local == rows(Dedup.deltaComponents(sm, dp)))
    }
  }

  test("connectedComponents: answer-sized union-find path ≡ distributed fixpoint") {
    // r16: inputs at or below graft.cc.driverEdgeCap are solved with a
    // driver union-find (the broadcast-build-side size contract) instead
    // of the per-round fixpoint. Force the distributed path with cap=0 on
    // the same graphs and assert label-for-label identity.
    val rnd = new scala.util.Random(13)
    val cases = Seq(
      (0L until 120L).sliding(2).map(s => (s(0), s(1))).toSeq, // chain
      Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)))
    for (edges <- cases) {
      val df = edges.toDF("a", "b")
      val local = Dedup.connectedComponents(df, "a", "b")
        .as[(Long, Long)].collect().toMap
      withConf("graft.cc.driverEdgeCap", "0") {
        val dist = Dedup.connectedComponents(df, "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(local == dist)
      }
    }
  }

  test("connectedComponents reliable-checkpoint path and string-id rejection") {
    // the cluster-safe truncation path: checkpoint() to a durable dir
    // (executor-local blocks die with their executor; see scaladoc)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    try {
      val edges = ((0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
        ++ Seq((100L, 101L), (300L, 200L))).toDF("a", "b")
      val got = Dedup.connectedComponents(edges, "a", "b",
          checkpointDir = Some(dir.toString))
        .as[(Long, Long)].collect().toMap
      assert((0L until 40L).forall(got(_) == 0L)
        && got(101L) == 100L && got(300L) == 200L)
      // checkpoint files actually landed in the reliable location
      assert(java.nio.file.Files.list(dir).count() > 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    // string ids must fail loudly, not silently drop un-castable edges
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        Seq(("a", "b")).toDF("a", "b"), "a", "b")
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("connectedComponents reliable-checkpoint path: self-loops only give an empty result") {
    // the reliable-checkpoint branch probes emptiness instead of counting
    // (the context's checkpoint dir is already set by the test above)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_empty")
    val got = Dedup.connectedComponents(Seq((1L, 1L), (2L, 2L)).toDF("a", "b"), "a", "b",
      checkpointDir = Some(dir.toString))
    assert(got.columns.toSeq == Seq("id", "cluster_id") && got.isEmpty)
  }

  test("PII redaction: per-class counts and in-place replacement") {
    val df = Seq(
      (1L, "write to alice.smith+news@sub.example.org today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "ping 10.0.3.25 and 192.168.1.1"),
      (4L, "no pii here at all")).toDF("id", "t")
    val out = df.select(Seq($"id") ++ TextAnalysis.piiCounts($"t") :+
        TextAnalysis.redactPii($"t").as("r"): _*)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1, 0, 0, "write to [EMAIL] today")))
    assert(out(1) == ((2L, 0, 2, 0, "call [PHONE] or [PHONE] now")))
    assert(out(2) == ((3L, 0, 0, 2, "ping [IP] and [IP]")))
    assert(out(3) == ((4L, 0, 0, 0, "no pii here at all")))
  }

  test("DeltaDedup: deltaPairs == minHashPairs(C∪D) restricted to delta-touching pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val corpus = Seq(
      (1L, base),
      (2L, base + "  "),                   // corpus-internal exact group {1,2}
      (3L, base + " corpus near dup tag"), // corpus-internal near-dup of 1
      (4L, other),
      (5L, "totally unrelated short text here")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (101L, base + " fresh tag"),         // near-dup of corpus group {1,2} and 3
      (102L, other + " "),                 // exact (normalized) copy of corpus 4
      (103L, "singleton about nothing shared at all"),
      (104L, base + " fresh tag "),        // delta-internal exact group {101,104}
      (105L, other + " delta variant tag") // near-dup of 4 AND of 102
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("lsh_idx_test").toString
    graft.dedup.DeltaDedup.buildIndex(corpus, "text", "doc_id", path)
    val got = graft.dedup.DeltaDedup
      .deltaPairs(spark, path, delta, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // reference: the full-rebuild operator on C∪D, pairs touching D
    val full = graft.dedup.Dedup
      .minHashPairs(corpus.unionByName(delta), "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._1 > 100L || p._2 > 100L).toSet
    assert(got == full, s"missing=${full -- got} extra=${got -- full}")
    // the cases that must be present: cross near-dup to BOTH members of a
    // corpus exact group, cross exact at J=1.0, delta-internal exact pair
    assert(got.exists(p => p._1 == 1L && p._2 == 101L))
    assert(got.exists(p => p._1 == 2L && p._2 == 101L))
    assert(got.contains((4L, 102L, 1.0)))
    assert(got.contains((101L, 104L, 1.0)))
    // and none that is corpus-internal (1-2 exact, 1-3 near-dup)
    assert(!got.exists(p => p._2 <= 100L), s"corpus-internal pair leaked: $got")
    assert(!got.exists(p => p._1 == 103L || p._2 == 103L), "unrelated singleton paired")
  }

  test("DeltaDedup.advanceIndex: advanced index == rebuilt index; chained probes agree") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val corpus = Seq(
      (1L, base), (2L, base + "  "), (3L, base + " corpus near dup tag"),
      (4L, other), (5L, "totally unrelated short text here")
    ).toDF("doc_id", "text")
    val d1 = Seq(
      (101L, base + " fresh tag"),   // fresh fingerprint -> new rep
      (102L, other + " "),           // attaches to 4's standing group
      (104L, base + " fresh tag ")   // attaches to 101's group (intra-delta)
    ).toDF("doc_id", "text")
    val adv = java.nio.file.Files.createTempDirectory("lsh_adv").toString
    graft.dedup.DeltaDedup.buildIndex(corpus, "text", "doc_id", adv)
    graft.dedup.DeltaDedup.advanceIndex(spark, adv, d1, "text", "doc_id")
    val reb = java.nio.file.Files.createTempDirectory("lsh_reb").toString
    graft.dedup.DeltaDedup.buildIndex(corpus.unionByName(d1), "text", "doc_id", reb)
    def art(path: String, name: String, cols: String*) =
      spark.read.parquet(s"$path/$name").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    for ((name, cols) <- Seq(
        "groups" -> Seq("id", "rep"), "bands" -> Seq("band", "bkey", "id"),
        "fps" -> Seq("fp", "rep"), "shingles" -> Seq("id"))) {
      assert(art(adv, name, cols: _*) == art(reb, name, cols: _*),
        s"$name drifted between advance and rebuild")
    }
    assert(spark.read.parquet(s"$adv/meta").head().getAs[Long]("max_id") == 104L)
    // a second increment probed against the ADVANCED index answers like
    // the rebuilt one — and pairs with a D1 doc (now standing)
    val d2 = Seq((201L, base + " fresh tag v2"),
      (202L, other + "   ")).toDF("doc_id", "text")
    def probe(path: String) = graft.dedup.DeltaDedup
      .deltaPairs(spark, path, d2, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val got = probe(adv)
    assert(got == probe(reb), "advanced-index probe drifted from rebuilt")
    assert(got.exists(p => p._1 == 101L && p._2 == 201L), "D1 doc not standing")
    assert(got.contains((102L, 202L, 1.0)), "cross-exact through the attached group missing")
    // the id contract is enforced against the index's own recorded max
    val low = Seq((50L, "late arrival with a stale id")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.dedup.DeltaDedup.advanceIndex(spark, adv, low, "text", "doc_id")
    }
    assert(e.getMessage.contains("must exceed the standing max id"))
    // streamed landing: ORDERED batches (104 attaches to batch 0's rep
    // 101 ACROSS the batch boundary) == the rebuilt index, and the probe
    // agrees; re-draining overwrites shards with equivalent content
    val pristine = java.nio.file.Files.createTempDirectory("lsh_base").toString
    graft.dedup.DeltaDedup.buildIndex(corpus, "text", "doc_id", pristine)
    val sDir = graft.Scratch.dir("lsh_stream").toString
    def slices = Seq(d1.filter(col("doc_id") <= 102L), d1.filter(col("doc_id") > 102L))
    graft.streaming.StreamingLsh.drain(spark, pristine,
      graft.streaming.EventsStream.replayOrdered(slices), "text", "doc_id", sDir)
    for ((name, cols) <- Seq(
        "groups" -> Seq("id", "rep"), "bands" -> Seq("band", "bkey", "id"),
        "fps" -> Seq("fp", "rep"), "shingles" -> Seq("id"))) {
      assert(art(sDir, name, cols: _*) == art(reb, name, cols: _*),
        s"streamed $name drifted from rebuild")
    }
    assert(probe(sDir) == probe(reb), "streamed-chain probe drifted")
    graft.streaming.StreamingLsh.drain(spark, pristine,
      graft.streaming.EventsStream.replayOrdered(slices), "text", "doc_id", sDir)
    assert(probe(sDir) == probe(reb), "re-draining drifted")
    // the ordered-ingest contract is enforced against the landed metas
    // (a fresh drain re-seeds shard=-1, so the violation must undercut
    // the SEED's max id — its own batches land from shard 0 up)
    val stale = Seq((3L, "late arrival below the seed max id")).toDF("doc_id", "text")
    val se = intercept[Exception] {
      graft.streaming.StreamingLsh.drain(spark, pristine,
        graft.streaming.EventsStream.replayOrdered(Seq(stale)), "text", "doc_id", sDir)
    }
    assert(se.getMessage.contains("ordered-ingest contract") ||
      Option(se.getCause).exists(_.getMessage.contains("ordered-ingest contract")),
      s"unexpected failure: ${se.getMessage}")
  }

  test("CdcChunk: rolling bounds == driver reference; edit stability; end-closure") {
    // driver-side reference of RollingChunkBounds' contract
    def refBounds(t: String, w: Int, m: Int): Seq[Int] = {
      val P = 2147483647L; val B = 131L
      val bpw = (1 until w).foldLeft(1L)((x, _) => x * B % P)
      val b = t.getBytes("UTF-8")
      var h = 0L
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      for (i <- b.indices) {
        if (i >= w) { h -= (b(i - w) & 0xff).toLong * bpw % P; if (h < 0) h += P }
        h = (h * B + (b(i) & 0xff)) % P
        if (i >= w - 1 && h % m == 0) out += i + 1
      }
      out.toSeq
    }
    def refChunks(t: String, w: Int, m: Int): Seq[(Long, Long, Long)] = {
      val bs0 = refBounds(t, w, m)
      val bs = if (bs0.nonEmpty && bs0.last == t.length) bs0 else bs0 :+ t.length
      bs.zipWithIndex.map { case (e, j) =>
        val prev = if (j == 0) 0 else bs(j - 1)
        ((j + 1).toLong, (prev + 1).toLong, (e - prev).toLong)
      }
    }
    // long enough that w=8/m=8 yields several content boundaries
    val body = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards mix assorted potions under a pale winter moon and count " +
      "zero one two three four five six seven eight nine ten again"
    val docs = Seq(
      (1L, body),
      (2L, "PREPENDED HEADER " + body), // same body behind an edit
      (3L, "short"),                    // < w: single end-closed chunk
      (4L, "????!!!")                   // normalizes to spaces, len >= 1
    ).toDF("doc_id", "text")
    val got = graft.text.CdcChunk.chunks(docs, "text", "doc_id", w = 8, m = 8)
      .orderBy($"id", $"idx")
      .as[(Long, Long, Long, Long, String)].collect()
    val g1 = got.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).toSeq
    assert(g1 == refChunks(body, 8, 8), "doc 1 chunks must equal the driver reference")
    assert(g1.size > 2, s"corpus text must yield content boundaries, got ${g1.size}")
    // CDC property: the edit changes chunking only UPSTREAM of it — every
    // chunk hash of doc 1 after doc 2's first post-edit boundary recurs in
    // doc 2 (boundaries are a function of the trailing window only)
    val h1 = got.filter(_._1 == 1L).map(_._5)
    val h2 = got.filter(_._1 == 2L).map(_._5).toSet
    assert(h1.drop(1).forall(h2.contains),
      "downstream chunk hashes must survive a prepended edit")
    // short doc: one chunk, closed by the document end
    assert(got.filter(_._1 == 3L).toSeq.map(r => (r._2, r._3, r._4)) == Seq((1L, 1L, 5L)))
    // punctuation-only doc normalizes to spaces but still chunks
    assert(got.filter(_._1 == 4L).map(_._4).sum == 7L)
    // interpreted eval path (nullSafeEval) agrees with codegen
    val expr = org.apache.spark.sql.graft.RollingChunkBounds(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(body)), 8, 8)
    val interp = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray.toSeq
    assert(interp == refBounds(body, 8, 8))
  }

  test("SubstringDedup: unaligned cross-doc spans, within-doc repeats, keep-first") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 10-token quote; any 8-gram fully inside it is shared
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val p8 = "red orange yellow green blue indigo violet ultraviolet"
    val docs = Seq(
      (1L, s"intro one two $quote closing words here"),        // keeper (smallest id)
      (2L, s"alpha beta gamma delta epsilon $quote tail bits"), // quote at a DIFFERENT offset
      (3L, s"$p8 middle filler stuff $p8"),                     // within-doc repeat
      (4L, "short doc only"),                                   // < L tokens: untouched
      (5L, s"$quote unique ending five tokens go here")         // quote at offset 0
    ).toDF("doc_id", "text")
    val got = graft.dedup.SubstringDedup.excise(docs, "text", "doc_id", l = 8)
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, String)].collect()
    // doc 1 keeps everything (keep-first by (doc_id, start))
    assert(got(0) == ((1L, 16L, 0L, 0L, 0L,
      md5hex(s"intro one two $quote closing words here"))))
    // doc 2: 3 dup windows (quote offsets 0..2) merge to ONE 10-token span —
    // the unaligned-quote class q101's fixed windows cannot catch
    assert(got(1) == ((2L, 17L, 3L, 1L, 10L,
      md5hex("alpha beta gamma delta epsilon tail bits"))))
    // doc 3: second occurrence of the 8-token phrase excised, first kept
    assert(got(2) == ((3L, 19L, 1L, 1L, 8L,
      md5hex(s"$p8 middle filler stuff"))))
    // doc 4: shorter than L — no windows, untouched
    assert(got(3) == ((4L, 3L, 0L, 0L, 0L, md5hex("short doc only"))))
    // doc 5: loses the quote to doc 1's earlier occurrences
    assert(got(4) == ((5L, 16L, 3L, 1L, 10L,
      md5hex("unique ending five tokens go here"))))
  }

  test("SubstringDedup: overlapping spans merge; full-doc duplicate empties the copy") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val body = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (10L, body),         // keeper
      (11L, body + "  "),  // whitespace variant: every window dup → emptied
      // two separate shared spans with a private middle: tokens 0..7 from
      // the body's head and 4..11 from its tail overlap nothing here —
      // spans [0,8) and [9,17) stay TWO islands
      (12L, "one two three four five six seven eight private " +
        "five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val got = graft.dedup.SubstringDedup.excise(docs, "text", "doc_id", l = 8)
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(got(0) == ((10L, 12L, 0L, 0L, 0L, md5hex(body))))
    assert(got(1) == ((11L, 12L, 5L, 1L, 12L, md5hex(""))))
    assert(got(2) == ((12L, 17L, 2L, 2L, 16L, md5hex("private"))))
  }

  test("Mmr: diversity beats redundancy; plain top-k would return the near-dup") {
    // query 0 = (1, 0); a/b nearly identical high-relevance pair, c diverse
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),    // the probe
      (1L, Array(0.99f, 0.10f)),  // a: top relevance
      (2L, Array(0.98f, 0.12f)),  // b: near-duplicate of a (plain #2)
      (3L, Array(0.50f, -0.80f)), // c: relevant-ish but diverse
      (4L, Array(-1.0f, 0.0f))    // anti-correlated
    ).toDF("vec_id", "embedding")
    val got = graft.similarity.Mmr.rerank(emb, "embedding", "vec_id",
        queryId = 0L, shortlist = 4, k = 3)
      .orderBy($"rk").as[(Int, Long, Long, Long)].collect()
    // rk1 = a (highest rel); rk2 = c, NOT the near-dup b (its max-sim to a
    // wipes its margin); near-dup b only enters at rk3
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L), got.mkString(";"))
    // rk1's cut equals its relevance (nothing selected yet)
    assert(got(0)._3 == got(0)._4)
    // exact-integer contract: rk2's cut = rel - max int8-code dot vs a
    def codes(v: Array[Float]): Array[Long] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      v.map(x => math.floor(x / s * 127 + 0.5).toLong)
    }
    def dot(a: Array[Long], b: Array[Long]) =
      a.indices.map(i => a(i) * b(i)).sum
    val (a, c) = (codes(Array(0.99f, 0.10f)), codes(Array(0.50f, -0.80f)))
    assert(got(1)._4 == got(1)._3 - dot(c, a))
  }
}

object PipelineSpec {
  /** Reference connected components for driver-side checks: a recursive
    * union-find over a map, labelling every endpoint of `edges` with its
    * component minimum. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // path-compress fully, then label every node by its root (= min id,
    // because unions always point the larger root at the smaller)
    nodes.map(v => v -> find(v)).toMap
  }
}
