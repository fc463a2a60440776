package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-IVF serving path: the cell-partitioned index is actually
  * PRUNED at the scan (the 100 TB claim), and pruning changes no result. */
class SimilarityIvfSpec extends SparkSpec {
  import spark.implicits._

  test("served IVF reads only the probed cell partitions and matches the in-flight plan") {
    val out = SimilarityIvf.ivfServed.fn(spark, sfDir)
      .select($"qid", $"cid", $"rk").as[(Long, Long, Int)].collect().toSeq
    val flight = SimilarityIvf.ivfTopK.fn(spark, sfDir)
      .select($"qid", $"cid", $"rk").as[(Long, Long, Int)].collect().toSeq
    assert(out == flight, "pruned serving must equal the in-flight ranking")

    // rebuild the index here to inspect the pruned scan directly
    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id",
        graft.functions.VectorExprs.quantize1000($"embedding").as("qv"))
    val cents = broadcast(e.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"qv".as("cv")))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-spec")
    try {
      SimilarityIvf.buildCellIndex(e, cents, tmp.toString)
      val allCells = spark.read.parquet(tmp.toString)
        .select($"cell").distinct().as[Long].collect().toSet
      assert(allCells.size > 3, s"need >3 populated cells, got $allCells")
      val probed = allCells.take(2).toSeq
      val pruned = spark.read.parquet(tmp.toString)
        .filter($"cell".isin(probed: _*))
      // the scan must prune at PARTITION level: every file actually read
      // lives under a probed cell=... directory
      val files = pruned.select(input_file_name()).distinct().as[String].collect()
      assert(files.nonEmpty)
      assert(files.forall(f => probed.exists(c => f.contains(s"cell=$c"))),
        files.mkString("\n"))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        plan.take(600))
      // one file per populated cell: the repartition(cell) write discipline
      val allFiles = spark.read.parquet(tmp.toString)
        .select(input_file_name()).distinct().count()
      assert(allFiles == allCells.size,
        s"$allFiles files for ${allCells.size} cells")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("ann recall: metrics reconcile and the probed index keeps a useful floor") {
    val rows = SimilarityIvf.annRecall.fn(spark, sfDir)
      .select($"qid", $"n_true", $"n_cand", $"n_hit", $"recall_scaled")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 10) // the fixed [100, 110) probe slice
    rows.foreach { case (qid, nTrue, nCand, nHit, rec) =>
      assert(nTrue == 3L, s"$qid truth depth")
      assert(nCand == 3L, s"$qid candidate depth")
      assert(nHit <= math.min(nTrue, nCand), s"$qid hit bound")
      assert(rec == nHit * 1000000L / nTrue, s"$qid recall formula")
    }
    // nprobe=3 of 8 cells on the isotropic corpus: the audit must show a
    // real (non-degenerate) recall, not 0 and not vacuous truth
    val totalHit = rows.map(_._4).sum
    assert(totalHit * 2 >= rows.length * 3,
      s"aggregate recall ${totalHit}/${rows.length * 3} below 50%")
  }

  test("knn classify: index excludes held-out vectors; the vote is the argmax with the pinned tie-break") {
    val cand = SimilarityIvf.ivfCandidates(spark, sfDir,
      $"vec_id" % 13 === 0, $"vec_id" % 13 =!= 0, 5)
      .select($"qid", $"cid", $"rk").as[(Long, Long, Int)].collect()
    assert(cand.nonEmpty)
    // the classification contract: a held-out vector is never its own (or
    // any query's) neighbor — the index genuinely excluded them
    assert(cand.forall(_._2 % 13 != 0), "held-out vec leaked into the index")
    val labels = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val out = SimilarityIvf.knnClassify.fn(spark, sfDir)
      .select($"qid", $"label_true", $"label_pred", $"n_votes", $"correct")
      .as[(Long, Int, Int, Long, Boolean)].collect()
    assert(out.map(_._1).toSet == cand.map(_._1).toSet)
    out.foreach { case (qid, lt, lp, nv, ok) =>
      assert(lt == labels(qid), s"$qid true label")
      assert(ok == (lp == lt), s"$qid correct flag")
      val votes = cand.filter(_._1 == qid)
        .groupBy(c => labels(c._2))
        .map { case (l, cs) => (l, cs.length, cs.map(_._3).min) }
      val best = votes.minBy { case (l, n, bestRk) => (-n, bestRk, l) }
      assert((lp, nv) == ((best._1, best._2.toLong)), s"$qid vote argmax")
    }
  }

  test("knnGraphFromIndex at the registered parameters equals the fixed-K path; grown K keeps full degree") {
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    // identical parameters (numCells=8=K, nprobe=3, k=4) -> identical edges:
    // the scale twin shares scoring expression and tie-break with the
    // oracle-pinned sim_knn_graph, differing only in HOW the ranking
    // reduces (TopKAggregator partials vs rank window)
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-spec")
    try {
      val scaled = SimilarityIvf
        .knnGraphFromIndex(vecs, 4, 8, 3, tmp.toString)
        .select($"src", $"dst", $"rk").as[(Long, Long, Int)].collect().sorted.toSeq
      val fixed = SimilarityIvf.ivfCandidatesFrom(vecs, lit(true), lit(true), 4)
        .select($"qid", $"cid", $"rk").as[(Long, Long, Int)].collect().sorted.toSeq
      assert(scaled == fixed, "scale path diverged from the registered ranking")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

    // grown cell count (the K ~ N/cellTarget rule): every source still at
    // full degree k, src/dst never self-paired
    val n = vecs.count()
    val numCells = math.max(4, (n / 64).toInt)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-knn-spec2")
    try {
      val g = SimilarityIvf.knnGraphFromIndex(vecs, 4, numCells, 3, tmp2.toString)
      val degs = g.groupBy($"src").count().select($"count").as[Long].collect()
      assert(degs.length.toLong == n && degs.forall(_ == 4L),
        s"expected $n sources at degree 4")
      assert(g.filter($"src" === $"dst").isEmpty, "self edge")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp2.toFile)
  }

  test("hierarchical quantizer: exhaustive coarse probing is edge-identical " +
      "to the flat build; the default keeps full degree and high recall") {
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val n = vecs.count()
    // a cell count big enough for a non-trivial branch fan (numCoarse=8)
    val numCells = 64
    def build(f: String => org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Int)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hier-spec")
      try {
        val g = f(tmp.toString)
        val out = g.select($"src", $"dst", $"rk").as[(Long, Long, Int)]
          .collect().sorted.toSeq
        g.unpersist()
        out
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val flat = build(d =>
      SimilarityIvf.knnGraphFromIndex(vecs, 4, numCells, 3, d))
    // coarseProbe ≥ numCoarse ⇒ every fine centroid is ranked for every
    // vector ⇒ the two quantizers produce the IDENTICAL ranking
    val exhaustive = build(d =>
      SimilarityIvf.knnGraphHierarchical(vecs, 4, numCells, 3, d,
        coarseProbe = 8))
    assert(exhaustive == flat,
      "exhaustive hierarchical build diverged from the flat quantizer")
    // the default (partial) coarse probing: full degree k, no self
    // edges. Edge agreement with the flat build TRACKS BRANCH COVERAGE
    // on this corpus — isotropic gaussian embeddings are the hierarchical
    // quantizer's worst case (no cluster structure ⇒ branch routing
    // carries no signal, so agreement ≈ the fraction of cells probed,
    // measured 39%/60% at 2/4 of 8 branches vs the 25%/50% coverage
    // floor; on real clustered embeddings the loss concentrates at
    // branch boundaries instead). Pin: above the coverage floor at both
    // depths, and monotone in coarseProbe.
    def agree(cp: Int): (Int, Seq[(Long, Long, Int)]) = {
      val p = build(d =>
        SimilarityIvf.knnGraphHierarchical(vecs, 4, numCells, 3, d,
          coarseProbe = cp))
      (p.map(e => (e._1, e._2)).toSet
        .intersect(flat.map(e => (e._1, e._2)).toSet).size, p)
    }
    val (ov2, partial) = agree(2)
    val bySrc = partial.groupBy(_._1)
    assert(bySrc.size.toLong == n && bySrc.values.forall(_.size == 4),
      s"expected $n sources at degree 4")
    assert(partial.forall(e => e._1 != e._2), "self edge")
    assert(ov2 * 100 >= flat.size * 35,
      s"coarseProbe=2 agreement below the 35% bar: $ov2/${flat.size}")
    val (ov4, _) = agree(4)
    assert(ov4 > ov2 && ov4 * 100 >= flat.size * 55,
      s"deeper probing must raise agreement: $ov4 vs $ov2 of ${flat.size}")
  }

  test("trained coarse quantizer: exhaustive probing stays edge-identical " +
      "to the flat build; default probing keeps full degree and lifts " +
      "agreement over the prefix seeding") {
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val n = vecs.count()
    val numCells = 64
    def build(f: String => org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Int)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hierT-spec")
      try {
        val g = f(tmp.toString)
        val out = g.select($"src", $"dst", $"rk").as[(Long, Long, Int)]
          .collect().sorted.toSeq
        g.unpersist()
        out
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val flat = build(d =>
      SimilarityIvf.knnGraphFromIndex(vecs, 4, numCells, 3, d))
    // trained coarse centroids CHANGE the fine→branch routing, but with
    // coarseProbe ≥ numCoarse every branch is probed, every fine centroid
    // is ranked, and the ranking is the flat quantizer's — identically,
    // whatever the coarse layer looks like
    val exhaustiveT = build(d =>
      SimilarityIvf.knnGraphHierarchical(vecs, 4, numCells, 3, d,
        coarseProbe = 8, coarseTrainIters = 2))
    assert(exhaustiveT == flat,
      "trained coarse + exhaustive probing diverged from the flat build")
    // default probing: full degree, no self edges; k-means-balanced
    // branches concentrate each vector's best fine cells in fewer
    // branches, so flat-ranking agreement must not fall below the
    // prefix-seeded build's (measured +11 points on the sf0.1 isotropic
    // base — SCALE.md round 14; ≥ keeps the pin noise-safe on the tiny
    // spec corpus)
    def partial(iters: Int): Set[(Long, Long)] = {
      val p = build(d =>
        SimilarityIvf.knnGraphHierarchical(vecs, 4, numCells, 3, d,
          coarseTrainIters = iters))
      val bySrc = p.groupBy(_._1)
      assert(bySrc.size.toLong == n && bySrc.values.forall(_.size == 4))
      assert(p.forall(e => e._1 != e._2), "self edge")
      p.map(e => (e._1, e._2)).toSet
    }
    val flatSet = flat.map(e => (e._1, e._2)).toSet
    val trained = partial(2).intersect(flatSet).size
    val prefix = partial(0).intersect(flatSet).size
    assert(trained >= prefix,
      s"trained coarse agreement $trained fell below prefix $prefix")
  }

  /** Build once, returning (edges, stage map — incl. cand_rows). */
  private def buildStaged(vecs: org.apache.spark.sql.DataFrame,
      numCells: Int,
      f: (String, (String, Double) => Unit) => org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Long, Int)], Map[String, Double]) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fineT-spec")
    try {
      val st = scala.collection.mutable.Map.empty[String, Double]
      val g = f(tmp.toString, (n, s) => st(n) = s)
      val out = g.select($"src", $"dst", $"rk").as[(Long, Long, Int)]
        .collect().sorted.toSeq
      g.unpersist()
      (out, st.toMap)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("trained FINE cells: total assignment at full degree, deterministic " +
      "across builds; on a clustered corpus the probe candidate volume " +
      "collapses vs prefix seeding (the r14 x100 pile-up, at spec scale)") {
    // structural invariants on the real (isotropic) embeddings table
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val n = vecs.count()
    val numCells = 64
    def trainedBuild() = buildStaged(vecs, numCells, (d, on) =>
      SimilarityIvf.knnGraphHierarchical(vecs, 4, numCells, 3, d,
        fineTrainIters = 2, onStage = on))
    val (t1, _) = trainedBuild()
    val bySrc = t1.groupBy(_._1)
    assert(bySrc.size.toLong == n && bySrc.values.forall(_.size == 4),
      s"expected $n sources at degree 4")
    assert(t1.forall(e => e._1 != e._2), "self edge")
    // deterministic: sample, both Lloyd layers, assignment, and rerank
    // are all integer-exact with pinned tie-breaks — a rebuild must be
    // edge-identical
    val (t2, _) = trainedBuild()
    assert(t1 == t2, "trained-fine build is not deterministic")

    // THE SCALE CLAIM: a clustered corpus whose id prefix lives entirely
    // inside ONE cluster (the pathology of seeding cells from vec_id <
    // numCells — SCALE.md r14 measured the flat/prefix build DNF at x100
    // on exactly this shape). 10 angularly-separated clusters x 100
    // members, ids sorted by cluster, so all 64 prefix ids sit in
    // cluster 0: every other cluster's members crowd onto their few
    // nearest prefix cells and the probe join explodes; trained cells
    // track the clusters and candidates stay near N·nprobe·cellTarget.
    val clustered = spark.range(1000).select(
      $"id".as("vec_id"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0),
          org.apache.spark.sql.functions.lit(7)),
        d => (((($"id" / 100).cast("long") * 31 + d * 17) % 11) * 2.0
          + (($"id" * 13 + d * 7) % 5) * 0.01).cast("float"))
        .as("embedding"))
    val (pEdges, pStages) = buildStaged(clustered, numCells, (d, on) =>
      SimilarityIvf.knnGraphHierarchical(clustered, 4, numCells, 3, d,
        onStage = on))
    val (tEdges, tStages) = buildStaged(clustered, numCells, (d, on) =>
      SimilarityIvf.knnGraphHierarchical(clustered, 4, numCells, 3, d,
        fineTrainIters = 2, onStage = on))
    val pCands = pStages("cand_rows").toLong
    val tCands = tStages("cand_rows").toLong
    assert(tEdges.groupBy(_._1).size == 1000 &&
      tEdges.groupBy(_._1).values.forall(_.size == 4))
    assert(tCands * 3 < pCands,
      s"trained cells must collapse the clustered probe volume: " +
        s"trained=$tCands prefix=$pCands")

    // probe-by-cell-mass quota: per-query candidates are bounded by
    // quota + the last admitted cell BY CONSTRUCTION (the kept cells are
    // a rank prefix whose preceding mass is < quota), full degree holds
    // at a sane quota, and the volume never exceeds the unquota'd build
    val quota = 64
    val (qEdges, qStages) = buildStaged(clustered, numCells, (d, on) =>
      SimilarityIvf.knnGraphHierarchical(clustered, 4, numCells, 3, d,
        fineTrainIters = 2, probeMassQuota = quota, onStage = on))
    val qBySrc = qEdges.groupBy(_._1)
    assert(qBySrc.size == 1000 && qBySrc.values.forall(_.size == 4),
      "quota build must keep full degree")
    val qCands = qStages("cand_rows").toLong
    assert(qCands <= tCands,
      s"quota must never add candidates: $qCands vs $tCands")
    // loose structural bound: quota + a generous max-cell allowance,
    // per query (cells on this corpus are ~10-30 members)
    assert(qCands <= 1000L * (quota + 200),
      s"quota bound violated: $qCands")
    // the recall trade: quota truncation only drops LOW-ranked cells, so
    // edge agreement with the unquota'd build stays high — pin a floor
    // and surface the measured value
    val agree = qEdges.map(e => (e._1, e._2)).toSet
      .intersect(tEdges.map(e => (e._1, e._2)).toSet).size
    info(s"quota=$quota edge agreement with unquota'd: $agree/${tEdges.size}")
    assert(agree * 100 >= tEdges.size * 80,
      s"quota edge agreement below 80%: $agree/${tEdges.size}")
  }

  test("balanced fine training (r16): a density spike cannot own one " +
      "giant cell — cell_max drops vs the uncapped trainer; full degree " +
      "and determinism hold; the capped build stays edge-deterministic") {
    // 900 rows concentrated around the all-ones diagonal with small
    // per-id perturbations (a dense but NOT duplicate blob — identical
    // vectors are unsplittable by construction) + 600 direction-spread
    // rows: the density-gradient shape whose peak cell grew with corpus
    // size in SCALE.md's ×600 column
    val skewed = spark.range(1500).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => when($"id" < 900,
            lit(1.0) + (($"id" * 31 + d * 17) % 97) * 0.001)
          .otherwise(((($"id" * 31 + d * 17) % 11) * 2.0)
            + (($"id" * 13 + d * 7) % 5) * 0.01)
          .cast("float")).as("embedding"))
      .localCheckpoint(true)
    val numCells = 64
    def build(cap: Double): (Seq[(Long, Long, Int)], Long) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-balance-spec")
      try {
        val g = SimilarityIvf.knnGraphHierarchical(skewed, 4, numCells, 3,
          tmp.toString, fineTrainIters = 2, fineCellCapFactor = cap)
        val edges = g.select($"src", $"dst", $"rk").as[(Long, Long, Int)]
          .collect().sorted.toSeq
        val cellMax = spark.read.parquet(tmp.toString)
          .groupBy($"cell").count().agg(max($"count")).head().getLong(0)
        g.unpersist()
        (edges, cellMax)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val (e0, m0) = build(0.0)
    val (e2, m2) = build(2.0)
    val (e2b, m2b) = build(2.0)
    assert(e2 == e2b && m2 == m2b, "balanced build is not deterministic")
    val bySrc = e2.groupBy(_._1)
    assert(bySrc.size == 1500 && bySrc.values.forall(_.size == 4),
      "balanced build must keep full degree")
    info(s"cell_max uncapped=$m0 capped=$m2 (mean=${1500 / numCells})")
    assert(m2 < m0,
      s"the cap must shrink the peak cell: capped=$m2 uncapped=$m0")
    // the uncapped run is bit-identical to the pre-r16 trainer (cap 0
    // short-circuits rebalance entirely) — e0 exists to prove the
    // comparison is apples-to-apples at the same parameters
    assert(e0.groupBy(_._1).size == 1500)
  }

  test("recall audit truth sampling (r16): the hash-uniform query sample " +
      "tracks the exhaustive audit within tolerance, and sampleN ≥ n is " +
      "EXACTLY the exhaustive audit") {
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").localCheckpoint(true)
    val n = vecs.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft-recaudit-spec")
    try {
      val edges = SimilarityIvf.knnGraphHierarchical(vecs, 4, 16, 8,
        tmp.toString, coarseProbe = 4, fineTrainIters = 2)
      val (nFull, fullPpm) =
        SimilarityIvf.recallAuditPpm(vecs, edges, n, Int.MaxValue)
      assert(nFull == n, "sampleN ≥ n must keep every query")
      val (nS, sampledPpm) =
        SimilarityIvf.recallAuditPpm(vecs, edges, n, (n / 4).toInt)
      assert(nS > 0 && nS < n,
        s"a finite target must sample a strict subset: $nS of $n")
      info(s"recall full=$fullPpm sampled=$sampledPpm over $nS/$n queries")
      assert(math.abs(fullPpm - sampledPpm) <= 200000L,
        s"sampled recall drifted: full=$fullPpm sampled=$sampledPpm")
      edges.unpersist()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
