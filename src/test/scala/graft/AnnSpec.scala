package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, AnnIvf, AnnLsh, AnnPq}

class AnnSpec extends SparkSpec {

  lazy val emb = table("embeddings")
  lazy val queries = emb.filter(col("vec_id") < 5)

  private def neighborSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  lazy val truth: Map[Long, Set[Long]] =
    neighborSets(Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))

  private def recall(approx: Map[Long, Set[Long]]): Double = {
    val hits = truth.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).count(t.contains) }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }

  test("brute force returns k ranked neighbors per query") {
    assert(truth.size === 5)
    assert(truth.values.forall(_.size == 10))
  }

  test("LSH ANN recall vs brute force") {
    val r = recall(neighborSets(
      AnnLsh.annTopKExact(emb, queries, "vec_id", "embedding", 10)))
    // synthetic embeddings have moderate nearest-neighbor cosines
    // (~0.5), the hard regime for hyperplane LSH — the point here is
    // the mechanism + determinism, not tuned recall
    assert(r > 0.15, s"LSH recall $r")
  }

  test("IVF ANN recall vs brute force") {
    val r = recall(neighborSets(
      AnnIvf.annTopK(emb, queries, "vec_id", "embedding", 10, nlist = 16, nprobe = 8)))
    assert(r > 0.5, s"IVF recall $r")
  }

  test("PQ ANN returns k ranked neighbors and codes stay in range") {
    val res = AnnPq.annTopK(emb, queries, "vec_id", "embedding", 10)
    val sets = neighborSets(res)
    assert(sets.size === 5)
    assert(sets.values.forall(_.size == 10))
    val codes = AnnPq.encode(emb,
      AnnPq.fitCodebooks(emb, "vec_id", "embedding", 8, 8, 16),
      "vec_id", "embedding", 8, 8)
    assert(codes.count() === emb.count() * 8)
    assert(codes.agg(max(col("code"))).head().getLong(0) < 16)
    assert(codes.agg(min(col("code"))).head().getLong(0) >= 0)
  }

  test("Lloyd-trained PQ codebooks do not lose recall vs stride init") {
    val untrained = recall(neighborSets(
      AnnPq.annTopK(emb, queries, "vec_id", "embedding", 10)))
    val trained = recall(neighborSets(
      AnnPq.annTopK(emb, queries, "vec_id", "embedding", 10, iters = 2)))
    // quantized scoring is approximate by design; training the
    // codebooks must help (or at worst tie) and clear a sanity floor
    assert(trained >= untrained - 0.02, s"trained $trained vs $untrained")
    assert(trained > 0.2, s"trained PQ recall $trained")
  }

  test("IVF index artifact round-trips: loaded centroids serve identical results") {
    // fit-once/serve-many: a production pipeline fits the quantizer on
    // one snapshot, persists it, and every later query job loads the
    // SAME centroids — results must be identical to the fitting session
    val dir = tmpDir("ivfidx")
    val centroids = AnnIvf.fitExact(emb, "vec_id", "embedding", 16, iters = 1)
    AnnIvf.saveIndex(centroids, s"$dir/centroids")
    val loaded = AnnIvf.loadIndex(spark, s"$dir/centroids")
    def results(c: org.apache.spark.sql.DataFrame) =
      AnnIvf.search(AnnIvf.assign(emb, c, "vec_id", "embedding"), c,
          queries, "vec_id", "embedding", 10, 4)
        .select("q_id", "rn", "n_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(results(loaded) === results(centroids))
    assert(loaded.count() === 16)
  }

  test("IndexedSearch: fit once, serve many — all three modes match the fitting session") {
    // the end-to-end artifact contract: fit + persist EVERYTHING in
    // one session; a fresh "query job" (same spark here, but only the
    // artifact dir as input) serves IVF / PQ / hybrid results identical
    // to the composition run directly in the fitting session
    import graft.operators.{IndexedSearch, Search}
    val docs = table("documents")
    val dir = tmpDir("idxsearch")
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)

    // in-session references (same params as IndexedSearch defaults)
    val centroids = AnnIvf.fitExact(emb, "vec_id", "embedding", 16, iters = 1)
    val assigned = AnnIvf.assign(emb, centroids, "vec_id", "embedding")
    val refIvf = AnnIvf.search(assigned, centroids, queries,
        "vec_id", "embedding", 10, 4)
      .select("q_id", "rn", "n_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotIvf = IndexedSearch.serveIvf(spark, dir, queries,
        "vec_id", "embedding", 10)
      .select("q_id", "rn", "n_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotIvf === refIvf)

    val refPq = neighborSets(AnnPq.annTopK(emb, queries,
      "vec_id", "embedding", 10, iters = 1))
    val gotPq = neighborSets(IndexedSearch.servePq(spark, dir, queries,
      "vec_id", "embedding", 10))
    assert(gotPq === refPq)

    val semRef = AnnIvf.search(assigned, centroids,
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("id"),
          col("embedding").as("vec")), "id", "vec", 20, 4)
      .select(col("q_id"), col("n_id").as("d_id"), col("rn").as("rsem"))
    val refHybrid = Search.fuseRrf(semRef,
        Search.lexicalArm(docs, "doc_id", "text", col("id") < 5, 20), 60, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotHybrid = IndexedSearch.serveHybrid(spark, dir, docs,
        "doc_id", "text", queries, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotHybrid === refHybrid)
    assert(gotHybrid.nonEmpty)

    // the IN/semi-join switch itself, driven across the boundary with
    // an injected threshold: a batch of n queries at maxInIds = n must
    // take the IN path with ALL n ids (a dropped `+1` in the
    // limit(maxInIds + 1) probe would truncate the list and lose the
    // last query's lexical hits), and at maxInIds = n - 1 must take
    // the semi-join path; both must equal the default-path result.
    val nQ = queries.count().toInt
    for (m <- Seq(nQ, nQ - 1)) {
      val got = IndexedSearch.serveHybrid(spark, dir, docs,
          "doc_id", "text", queries, "vec_id", "embedding", maxInIds = m)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === gotHybrid, s"maxInIds=$m diverged from default path")
    }
  }

  test("lexical arm: LEFT SEMI query selection == IN-filter selection row-for-row") {
    // serveHybrid switches from the collected-IN path to
    // lexicalArmJoin past MaxInFilterQueryIds; the two selection
    // mechanisms must be value-identical for the switch to be a pure
    // scale decision.
    import graft.operators.Search
    val docs = table("documents")
    val qIds = docs.filter(col("doc_id") < 5).select(col("doc_id"))
    val inList = qIds.collect().map(_.getLong(0)).toSeq
    val viaJoin = Search.lexicalArmJoin(docs, "doc_id", "text", qIds, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaIn = Search.lexicalArm(docs, "doc_id", "text",
        col("id").isInCollection(inList), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaJoin === viaIn)
    assert(viaJoin.nonEmpty)
  }

  test("IndexedSearch: composed IVF×PQ serve ADC-scans ONLY the probed " +
      "cells' code files; probing all cells equals the full PQ serve") {
    import graft.operators.IndexedSearch
    val dir = tmpDir("ivfpq")
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rn", "n_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = nlist probes every cell: the composed path must equal
    // the full-ADC memory-side serve EXACTLY (same scores, same ties)
    assert(triples(IndexedSearch.serveIvfPq(spark, dir, queries,
        "vec_id", "embedding", 10, nprobe = 16)) ===
      triples(IndexedSearch.servePq(spark, dir, queries,
        "vec_id", "embedding", 10)))
    // nprobe = 2: the pq_codes scan reads EXACTLY the probed cells'
    // files — the collected cid set prunes partitions statically
    val pruned = IndexedSearch.serveIvfPq(spark, dir, queries,
      "vec_id", "embedding", 10, nprobe = 2)
    assert(pruned.collect().nonEmpty)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val codeScans = scans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("pq_codes")))
    assert(codeScans.nonEmpty, "expected a pq_codes file scan")
    val filesRead = codeScans.map(_.metrics("numFiles").value).max
    // ground truth: the cells the 5 queries actually probe, and the
    // parquet files under exactly those partitions
    val gen = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "CURRENT").toPath), "UTF-8").trim
    val probed = AnnIvf.probes(
        AnnIvf.loadIndex(spark, s"$dir/$gen/ivf_centroids"),
        queries, "vec_id", "embedding", 2)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    assert(probed.size < 16, s"5 queries x nprobe 2 probe < all cells: $probed")
    val probedFiles = probed.toSeq.map(c =>
      Option(new java.io.File(s"$dir/$gen/pq_codes/cid=$c").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum
    assert(filesRead === probedFiles.toLong,
      s"scan must read exactly the probed cells' files " +
        s"($probedFiles expected, $filesRead read)")
  }

  test("IndexedSearch: artifact commit is atomic — crash debris never serves, re-fit swaps generations") {
    import graft.operators.IndexedSearch
    val dir = tmpDir("idxatomic")
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)
    val root = new java.io.File(dir)
    def gens = root.listFiles.filter(f =>
      f.isDirectory && f.getName.startsWith("gen-")).map(_.getName).toSet
    val genA = gens
    assert(genA.size === 1, s"one committed generation, got $gens")
    val current = new java.io.File(root, "CURRENT")
    assert(current.isFile && java.nio.file.Files.readString(
      current.toPath).trim == genA.head)
    // tampering helper: drop the local-FS checksum sidecar too, else
    // the read fails on ChecksumException instead of our guard
    def tamper(content: String): Unit = {
      java.nio.file.Files.writeString(current.toPath, content)
      new java.io.File(root, ".CURRENT.crc").delete()
    }

    // simulate a fit that crashed after SOME artifact writes: a gen
    // dir with artifacts but NO manifest. Serving must be unaffected
    // (CURRENT still points at the complete generation).
    val dead = new java.io.File(root, "gen-deadbeef0000")
    assert(dead.mkdirs())
    val before = IndexedSearch.servePq(spark, dir, queries,
      "vec_id", "embedding", 5).collect().length
    assert(before > 0)

    // tampered CURRENT → unmanifested gen must REFUSE, not serve junk
    tamper("gen-deadbeef0000")
    val ex = intercept[IllegalArgumentException] {
      IndexedSearch.servePq(spark, dir, queries, "vec_id", "embedding", 5)
    }
    assert(ex.getMessage.contains("_MANIFEST"))
    tamper(genA.head)

    // re-fit publishes a NEW generation and GCs the crash debris, but
    // KEEPS the superseded generation (N-1 grace: a concurrent reader
    // that resolved the old CURRENT may still be lazily reading its
    // parquet — deleting it at publish would fail that query mid-read)
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)
    val genB = gens
    assert(genB.size === 2 && genB.contains(genA.head),
      s"publish keeps N-1: $genA -> $genB")
    assert(!genB.contains("gen-deadbeef0000"), "crash debris GC'd")
    val pointedB = java.nio.file.Files.readString(current.toPath).trim
    assert(pointedB != genA.head && genB.contains(pointedB))
    val after = IndexedSearch.servePq(spark, dir, queries,
      "vec_id", "embedding", 5).collect().length
    assert(after === before)

    // a THIRD fit retires the original generation (now two re-fits
    // stale — outside the one-generation grace window)
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)
    val genC = gens
    val pointedC = java.nio.file.Files.readString(current.toPath).trim
    assert(genC.size === 2 && !genC.contains(genA.head),
      s"N-2 retired: $genC")
    assert(genC === Set(pointedB, pointedC))
  }

  test("PQ codebook artifact round-trips: loaded codebooks encode identically") {
    val dir = tmpDir("pqidx")
    val cb = AnnPq.trainCodebooks(emb,
      AnnPq.fitCodebooks(emb, "vec_id", "embedding", 8, 8, 16),
      "vec_id", "embedding", 8, 8, iters = 1)
    AnnPq.saveCodebooks(cb, s"$dir/codebooks")
    val loaded = AnnPq.loadCodebooks(spark, s"$dir/codebooks")
    def codes(c: org.apache.spark.sql.DataFrame) =
      AnnPq.encode(emb, c, "vec_id", "embedding", 8, 8).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // parquet round-trips doubles bit-exactly, so codes match 1:1 even
    // after Lloyd training produced non-trivial float centroids
    assert(codes(loaded) === codes(cb))
  }

  test("IVF assigns every vector to exactly one cell") {
    val centroids = AnnIvf.fitExact(emb, "vec_id", "embedding", 16, iters = 1)
    val assigned = AnnIvf.assign(emb, centroids, "vec_id", "embedding")
    assert(assigned.count() === emb.count())
    assert(assigned.select("id").distinct().count() === emb.count())
  }

  test("MMR fused flatMapGroups == unrolled k-job formulation, row for row") {
    // The one-job production path must replay the unrolled DataFrame
    // greedy EXACTLY — same rel/pair rounding, same (score desc, id
    // asc) tie-breaks — or the engine-replayable-trajectory claim dies.
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select(col("q_id").cast("long"), col("pick").cast("int"),
          col("n_id").cast("long")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fused = rows(Ann.mmrTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCand = 20))
    val unrolled = rows(Ann.mmrTopKUnrolled(emb, queries, "vec_id", "embedding",
      k = 10, nCand = 20))
    assert(fused === unrolled)
    assert(fused.size === 50) // 5 queries × 10 picks
    // and the fused path is ONE shuffle-bounded job: the plan carries a
    // single flatMapGroups (no per-round checkpoint lineage)
    val plan = Ann.mmrTopK(emb, queries, "vec_id", "embedding", 10, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD"), "fused MMR must not checkpoint")
  }

  test("silhouette over the served artifact equals the fitting session's direct computation") {
    import graft.operators.IndexedSearch
    val dir = tmpDir("idxsil")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // fit WITHOUT the persisted report: serve-side silhouette must
    // RECOMPUTE from the published generation's artifacts
    IndexedSearch.fit(emb, "vec_id", "embedding", dir)
    val gen = new java.io.File(dir, java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim).getPath
    assert(!new java.io.File(gen, "fit_quality").exists,
      "no report requested -> none persisted")
    // the fitting session's direct computation on the SAME artifacts
    // the index serves: the persisted assignment (each vector in its
    // served cell, never a re-derived argmax) against the loaded
    // centroids (not refit: the double-avg Lloyd pass is
    // accumulation-order sensitive, a second fit is not the same
    // clustering in the last ulps)
    def servedAssigned(g: String) = spark.read.parquet(s"$g/ivf_assigned")
      .select(col("id"), col("vec"),
        col("cid").cast("long").as("cid"))
    val direct = rows(AnnIvf.silhouetteAssigned(servedAssigned(gen),
      AnnIvf.loadIndex(spark, s"$gen/ivf_centroids"), "id", "vec"))
    assert(direct.toSeq.map(_._2).sum === emb.count(), "every vector scored")
    assert(rows(IndexedSearch.silhouette(spark, dir)) === direct)

    // re-fit WITH the report: a fresh generation persists fit_quality
    // and the serve path returns it verbatim — still the same numbers
    // as computing directly against that generation's artifacts
    IndexedSearch.fit(emb, "vec_id", "embedding", dir, qualityReport = true)
    val gen2 = new java.io.File(dir, java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim).getPath
    assert(new java.io.File(gen2, "fit_quality").exists)
    val direct2 = rows(AnnIvf.silhouetteAssigned(servedAssigned(gen2),
      AnnIvf.loadIndex(spark, s"$gen2/ivf_centroids"), "id", "vec"))
    assert(rows(IndexedSearch.silhouette(spark, dir)) === direct2)
  }

  test("silhouetteAssigned: a vector persisted in the wrong cell scores negative, never migrates") {
    import SparkSpec.spark.implicits._
    // two orthogonal unit centroids; vector 3 sits on axis 0 but its
    // ASSIGNMENT says cell 1 — the served-partition grade must score
    // it in cell 1 (negative: own-sim 0 < neighbor-sim 1), while the
    // argmax-rederiving overload would silently move it to cell 0
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "centroid")
    val assigned = Seq(
      (1L, Seq(1.0, 0.0), 0L), (2L, Seq(0.0, 1.0), 1L),
      (3L, Seq(1.0, 0.0), 1L)).toDF("id", "vec", "cid")
    val m = AnnIvf.silhouetteAssigned(assigned, cents, "id", "vec")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(m(0L) === ((1L, 1.0)), "on-centroid member of cell 0 is perfect")
    // cell 1 carries its true member (sil 1) AND the misplaced vector
    // (s1 = 0, s2 = 1 -> sil (0-1)/(1-1)=... 1-s2=0 guard -> 0; use a
    // near-miss instead so the negative branch is exercised)
    assert(m(1L)._1 === 2L, "both persisted members grade in cell 1")
    val cents2 = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.6, 0.8)))
      .toDF("cid", "centroid")
    val m2 = AnnIvf.silhouetteAssigned(
      Seq((3L, Seq(1.0, 0.0), 1L)).toDF("id", "vec", "cid"),
      cents2, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // own = cos(v, c1) = 0.6, neighbor = cos(v, c0) = 1.0:
    // sil = (0.6 - 1)/(1 - 1) is guarded... neighbor sim 1.0 hits the
    // 1 - s2 = 0 guard -> 0.0; tilt the neighbor off-axis instead
    val cents3 = Seq((0L, Seq(0.8, 0.6)), (1L, Seq(0.6, 0.8)))
      .toDF("cid", "centroid")
    val m3 = AnnIvf.silhouetteAssigned(
      Seq((3L, Seq(1.0, 0.0), 1L)).toDF("id", "vec", "cid"),
      cents3, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // own = 0.6, neighbor = 0.8 -> sil = (0.6 - 0.8)/(1 - 0.8) = -1.0
    assert(m3(1L) === -1.0,
      "misplaced vector scores negative in its persisted cell")
    assert(m2(1L) === 0.0, "exact-tie neighbor hits the 1-s2 guard")
  }

  test("silhouetteAssigned fails fast on a cid absent from the centroid table") {
    import SparkSpec.spark.implicits._
    // r14 advice: an unmatched cid made s1 NULL, which vanished from
    // the decimal sum while n still counted the row — mean_sil drifted
    // toward 0 and a quality gate on a stale/corrupted generation saw
    // a plausible number. It must ERROR instead.
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "centroid")
    val stale = Seq(
      (1L, Seq(1.0, 0.0), 0L),
      (2L, Seq(0.0, 1.0), 999L)) // cid 999 exists in no generation
      .toDF("id", "vec", "cid")
    val e = intercept[Exception] {
      AnnIvf.silhouetteAssigned(stale, cents, "id", "vec").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("999") &&
        m.contains("absent from the centroid table")),
      s"error must name the stale cid: ${messages(e)}")
    // and a fully-matched assignment still grades cleanly
    val ok = AnnIvf.silhouetteAssigned(
      Seq((1L, Seq(1.0, 0.0), 0L), (2L, Seq(0.0, 1.0), 1L))
        .toDF("id", "vec", "cid"), cents, "id", "vec")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(ok === Map(0L -> ((1L, 1.0)), 1L -> ((1L, 1.0))))
  }

  test("silhouette: separated clusters score near 1, one blob scores low") {
    import SparkSpec.spark.implicits._
    // ids 0..49 cluster on axis 0, 50..99 on axis 2; stride init with
    // nlist=2 picks ids 0 and 50 — one centroid per true cluster
    val separated = (0L until 100L).map { i =>
      val j = 0.01 * (i % 5)
      if (i < 50) (i, Seq(1.0, j, 0.0, 0.0)) else (i, Seq(0.0, 0.0, 1.0, j))
    }.toDF("vec_id", "embedding")
    val sep = AnnIvf.silhouette(separated, "vec_id", "embedding", nlist = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(sep.values.map(_._1).sum === 100L, "every vector scored once")
    assert(sep.values.forall(_._2 > 0.8),
      s"well-separated clusters must score high: $sep")
    // same corpus squeezed into one blob: no structure, score collapses
    val blob = (0L until 100L).map { i =>
      (i, Seq(1.0, 0.1 * (i % 7), 0.1 * (i % 3), 0.1 * (i % 5)))
    }.toDF("vec_id", "embedding")
    val bl = AnnIvf.silhouette(blob, "vec_id", "embedding", nlist = 2)
      .collect().map(r => r.getDouble(2))
    assert(bl.forall(_ < 0.5), s"a structureless blob must score low: ${bl.toSeq}")
  }
}
