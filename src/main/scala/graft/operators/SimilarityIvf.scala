package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-style approximate nearest neighbor: coarse-quantize the corpus into
  * cells (centroids = a fixed deterministic subset — a k-means iteration
  * would slot in here unchanged), then search only the best `nprobe` cells
  * per query and exact-rank inside them.
  *
  * This is the standard scale shape for vector search: assignment is a
  * broadcast join against O(k) centroids + one narrow argmax; search
  * shuffles only (query, cell) probes against a cell-partitioned index —
  * at 100 TB the cell assignment is the partition key of the stored index,
  * so a probe reads `nprobe/k` of the data instead of all of it.
  *
  * All arithmetic is integer-quantized (round(x*1000)) → dot products and
  * norms are exact, cosine is a fixed IEEE expression → full DuckDB oracle,
  * including the argmax cell assignment (ties broken by centroid id).
  */
object SimilarityIvf {

  private val K = 8        // centroid count (vec_id < 8)
  // On clustered real-world embeddings nprobe=2 of 8 suffices; this corpus
  // is isotropic gaussian (no cluster structure), so probe deeper to keep
  // recall honest — the recall/cost dial is exactly what IVF exposes.
  private val NProbe = 3   // cells searched per query
  private val TopK = 3

  private def quant(c: Column): Column =
    graft.functions.VectorExprs.quantize1000(c)

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProductLong(a, b)

  private def cos(a: Column, b: Column): Column =
    dot(a, b).cast(DoubleType) /
      sqrt(dot(a, a).cast(DoubleType)) / sqrt(dot(b, b).cast(DoubleType))

  // cosine from PRECOMPUTED per-side norms — same IEEE expression as
  // [[cos]] (dot / na / nb), so the oracle hash is unchanged while the
  // per-pair work drops from 3 integer folds to 1 (the topkQuantized /
  // semanticEdges discipline)
  private def cosPre(d: Column, na: Column, nb: Column): Column =
    d.cast(DoubleType) / na / nb

  private def withNorm(df: DataFrame, vec: String, as: String): DataFrame =
    df.withColumn(as, sqrt(dot(col(vec), col(vec)).cast(DoubleType)))

  /** The full IVF probe pipeline (assignment → probes → in-cell exact
    * rerank), parameterized on who queries (`probePred`), who is indexed
    * (`trainPred`), and how deep the rerank goes (`k`) — shared by
    * `sim_ivf_topk` (everyone indexed, fixed query slice), the recall
    * audit `sim_ann_recall` (same setup, so it measures the IDENTICAL
    * index), and `sim_knn_classify` (held-out queries excluded from the
    * index). Returns (qid, cid, rk, cos) for rk ≤ k. */
  private[operators] def ivfCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String, probePred: Column, trainPred: Column, k: Int): DataFrame =
    ivfCandidatesFrom(Tables.load(s, dir, "embeddings"), probePred,
      trainPred, k)

  /** Frame-parameterized body of [[ivfCandidates]] (`vecs` = (vec_id,
    * embedding)) — lets the scale demo drive the identical pipeline over
    * synthesized ×m corpora. `numCells`/`nprobe` default to the registered
    * queries' constants (oracle-pinned); the scale path grows `numCells`
    * with the corpus (K ≈ N/cellTarget — see [[knnGraphFromIndex]]) so
    * per-probe candidate volume stays nprobe · cellTarget instead of
    * nprobe/K of the corpus. */
  private[graft] def ivfCandidatesFrom(vecs: DataFrame,
      probePred: Column, trainPred: Column, k: Int,
      numCells: Int = K, nprobe: Int = NProbe): DataFrame = {
      val e = withNorm(
        vecs.select(col("vec_id"), quant(col("embedding")).as("qv")),
        "qv", "nq")
      val cents = broadcast(
        e.filter(col("vec_id") < numCells)
          .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nq").as("ncv")))

      // cell assignment: argmax cosine over centroids, tie → smaller cid
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid"))
      val assigned = e.filter(trainPred).join(cents)
        .withColumn("ccos", cosPre(dot(col("qv"), col("cv")), col("nq"), col("ncv")))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"), col("qv"), col("nq"))

      // probe list: best `nprobe` cells per query vector
      val wProbe = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid"))
      val probes = e.filter(probePred)
        .join(cents)
        .withColumn("ccos", cosPre(dot(col("qv"), col("cv")), col("nq"), col("ncv")))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nprobe)
        .select(col("vec_id").as("qid"), col("qv").as("q"),
          col("nq").as("nqq"), col("cid").as("cell"))

      // exact re-rank inside probed cells
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("ccos").desc, col("vec_id"))
      probes.join(assigned, Seq("cell"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("ccos", cosPre(dot(col("q"), col("qv")), col("nqq"), col("nq")))
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= k)
        .select(col("qid"), col("vec_id").as("cid"), col("rk"), col("ccos").as("cos"))
        .orderBy(col("qid"), col("rk"))
  }

  private val probeSlice = col("vec_id") >= 100 && col("vec_id") < 110

  private def ivfTopkFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    ivfCandidates(s, dir, probeSlice, lit(true), TopK)

  /** The q/cents/sim/assigned/probes/cands/ranked CTE chain — the SQL
    * mirror of [[ivfCandidates]], shared verbatim by every oracle that
    * audits this index so the pipelines can never drift apart. */
  private def ivfCteSql(probePred: String, trainPred: String): String =
    s"""q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < $K),
      |sim AS (
      |  SELECT q.vec_id, cents.cid,
      |    CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * cents.cv[i])) AS DOUBLE)
      |      / sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
      |      / sqrt(CAST(list_sum(list_transform(cents.cv, x -> x * x)) AS DOUBLE)) AS ccos
      |  FROM q, cents),
      |assigned AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
      |    FROM sim WHERE $trainPred) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, cid AS cell FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
      |    FROM sim WHERE $probePred) WHERE rn <= $NProbe),
      |cands AS (
      |  SELECT p.qid, a.vec_id AS cid,
      |    CAST(list_sum(list_transform(range(1, 65), i -> qq.v[i] * cc.v[i])) AS DOUBLE)
      |      / sqrt(CAST(list_sum(list_transform(qq.v, x -> x * x)) AS DOUBLE))
      |      / sqrt(CAST(list_sum(list_transform(cc.v, x -> x * x)) AS DOUBLE)) AS ccos
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid
      |  JOIN q qq ON qq.vec_id = p.qid
      |  JOIN q cc ON cc.vec_id = a.vec_id),
      |ranked AS (
      |  SELECT qid, cid, ccos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS rk
      |  FROM cands)""".stripMargin

  private val probeSliceSql = "vec_id >= 100 AND vec_id < 110"

  val ivfTopK: Q = Q(
    "sim_ivf_topk",
    (s, dir) => ivfTopkFrame(s, dir),
    Some(s"""WITH ${ivfCteSql(probeSliceSql, "TRUE")}
      |SELECT qid, cid, CAST(rk AS INT) AS rk, ccos AS cos
      |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin))

  // ------------------------------------------------------------------
  // ANN recall audit — the measurement loop before trusting the index (the
  // dedup_minhash_eval discipline applied to vector search): ground truth
  // is the EXACT top-K by the same quantized cosine over the whole corpus
  // (the brute-force path, identical IEEE scoring expression and tie-break,
  // so "missed" is always the index's miss, never a scoring drift), the
  // approximate side is the identical IVF pipeline `sim_ivf_topk` serves
  // (shared [[ivfCandidates]] frame / [[ivfCteSql]] chain). One full-outer
  // join on (qid, cid) + one hash aggregate emits per-query all-integer
  // metrics: n_true (=K), n_cand, n_hit, recall_scaled = n_hit·10⁶ div
  // n_true. At 100 TB this runs on a bounded probe SAMPLE (the query slice
  // here), so truth cost is |sample|·N — the standard recall-audit spend,
  // never N².
  val annRecall: Q = Q(
    "sim_ann_recall",
    (s, dir) => {
      val approx = ivfTopkFrame(s, dir)
        .select(col("qid"), col("cid"), lit(1L).as("is_cand"))
      val e = withNorm(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), quant(col("embedding")).as("qv")), "qv", "nq")
      val queries = broadcast(e.filter(probeSlice)
        .select(col("vec_id").as("qid"), col("qv").as("q"), col("nq").as("nqq")))
      val wT = Window.partitionBy(col("qid"))
        .orderBy(col("ccos").desc, col("vec_id"))
      val truth = queries.join(e, col("qid") =!= col("vec_id"))
        .withColumn("ccos", cosPre(dot(col("q"), col("qv")), col("nqq"), col("nq")))
        .withColumn("rk", row_number().over(wT))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("vec_id").as("cid"), lit(1L).as("is_true"))
      truth.join(approx, Seq("qid", "cid"), "full_outer")
        .groupBy(col("qid"))
        .agg(
          sum(coalesce(col("is_true"), lit(0L))).as("n_true"),
          sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
          sum(coalesce(col("is_true"), lit(0L)) *
            coalesce(col("is_cand"), lit(0L))).as("n_hit"))
        .select(col("qid"), col("n_true"), col("n_cand"), col("n_hit"),
          expr("n_hit * 1000000 div n_true").as("recall_scaled"))
        .orderBy(col("qid"))
    },
    Some(s"""WITH ${ivfCteSql(probeSliceSql, "TRUE")},
      |approx AS (SELECT qid, cid FROM ranked WHERE rk <= $TopK),
      |truthp AS (
      |  SELECT s.vec_id AS qid, c.vec_id AS cid,
      |    CAST(list_sum(list_transform(range(1, 65), i -> s.v[i] * c.v[i])) AS DOUBLE)
      |      / sqrt(CAST(list_sum(list_transform(s.v, x -> x * x)) AS DOUBLE))
      |      / sqrt(CAST(list_sum(list_transform(c.v, x -> x * x)) AS DOUBLE)) AS ccos
      |  FROM q s JOIN q c ON c.vec_id <> s.vec_id
      |  WHERE s.vec_id >= 100 AND s.vec_id < 110),
      |truth AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS rk
      |    FROM truthp) WHERE rk <= $TopK),
      |j AS (
      |  SELECT COALESCE(t.qid, a.qid) AS qid,
      |    CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END AS is_true,
      |    CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      |  FROM truth t FULL OUTER JOIN approx a ON t.qid = a.qid AND t.cid = a.cid)
      |SELECT qid, CAST(SUM(is_true) AS BIGINT) AS n_true,
      |  CAST(SUM(is_cand) AS BIGINT) AS n_cand,
      |  CAST(SUM(is_true * is_cand) AS BIGINT) AS n_hit,
      |  CAST(SUM(is_true * is_cand) * 1000000 // SUM(is_true) AS BIGINT) AS recall_scaled
      |FROM j GROUP BY qid ORDER BY qid""".stripMargin))

  // ------------------------------------------------------------------
  // kNN label propagation through the IVF index — the FineWeb-Edu-style
  // curation move: a small labeled pool annotates an unlabeled corpus by
  // nearest-neighbor vote, so a handful of human (or teacher-model) labels
  // scale to billions of documents. Held-out queries (vec_id % 13 = 0) are
  // EXCLUDED from the index (trainPred) — the honest classification setup;
  // their top-KnnK neighbors come from the same probed-cell pipeline as
  // sim_ivf_topk, the vote is an all-integer (qid, label) count with a
  // deterministic tie-break (votes desc, then CLOSEST member's rank, then
  // label), and the output pairs the prediction with the withheld true
  // label. On this isotropic-gaussian corpus labels carry no geometric
  // signal, so accuracy sits at chance — the driver-checked contract is
  // the machinery (candidate generation, vote, tie-break), which is
  // label-distribution-independent. At 100 TB: queries rack up ~NProbe/K
  // of the index each, votes are one hash aggregate over q×KnnK rows, and
  // the label table rides the candidate join — no new shuffle shape beyond
  // the serving path itself.
  private val KnnK = 5
  private val heldOutSql = "vec_id % 13 = 0"

  val knnClassify: Q = Q(
    "sim_knn_classify",
    (s, dir) => {
      val cand = ivfCandidates(s, dir,
        col("vec_id") % 13 === 0, col("vec_id") % 13 =!= 0, KnnK)
      val lbl = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val votes = cand
        .join(lbl.select(col("vec_id").as("cid"), col("label")), "cid")
        .groupBy(col("qid"), col("label"))
        .agg(count(lit(1)).as("n_votes"), min(col("rk")).as("best_rk"))
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("best_rk"), col("label"))
      votes
        .withColumn("rn", row_number().over(wVote))
        .filter(col("rn") === 1)
        .join(lbl.select(col("vec_id").as("qid"), col("label").as("label_true")),
          "qid")
        .select(col("qid"), col("label_true"), col("label").as("label_pred"),
          col("n_votes"),
          (col("label") === col("label_true")).as("correct"))
        .orderBy(col("qid"))
    },
    Some(s"""WITH ${ivfCteSql(heldOutSql, "vec_id % 13 <> 0")},
      |cand AS (SELECT qid, cid, rk FROM ranked WHERE rk <= $KnnK),
      |votes AS (
      |  SELECT c.qid, e.label, COUNT(*) AS n_votes, MIN(c.rk) AS best_rk
      |  FROM cand c JOIN embeddings e ON e.vec_id = c.cid
      |  GROUP BY c.qid, e.label),
      |best AS (
      |  SELECT qid, label, n_votes FROM (
      |    SELECT qid, label, n_votes,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY n_votes DESC, best_rk, label) AS rn
      |    FROM votes) WHERE rn = 1)
      |SELECT b.qid, e.label AS label_true, b.label AS label_pred,
      |  CAST(b.n_votes AS BIGINT) AS n_votes,
      |  b.label = e.label AS correct
      |FROM best b JOIN embeddings e ON e.vec_id = b.qid
      |ORDER BY b.qid""".stripMargin))

  // ------------------------------------------------------------------
  // kNN GRAPH construction — every vector queries the index (probePred =
  // trainPred = TRUE): the all-corpus k-nearest-neighbor graph that
  // cluster-based curation (SemDeDup's pair graph, Louvain topic
  // clustering, graph-connectivity dedup) consumes as input. The IVF
  // probing bounds candidate volume at Σ_probed-cell |cell| per query
  // (≈ nprobe/K of the corpus each) instead of N² — the standard scale
  // shape for kNN-graph builds; edges come out ranked so a consumer can
  // take any k' ≤ k cut. Shares [[ivfCandidates]]/[[ivfCteSql]] with the
  // serving and audit queries, so the graph provably comes from the same
  // index they measure.
  private val KnnGraphK = 4

  /** The all-corpus kNN edge set at k = [[KnnGraphK]], computed once per
    * (session, dir): `sim_knn_graph` serves it and `graph_communities`
    * clusters over it — the SessionMemo shared-drive discipline, so the
    * two queries provably consume the IDENTICAL graph and the probe
    * pipeline runs once (timed as `drive:sim_knn_edges`). Narrow frame
    * (two longs + int + double per edge, k·N rows), eager localCheckpoint
    * so the bench's per-sweep clearCache can't drop it. */
  private val knnEdgesShared = new graft.SessionMemo[DataFrame]({ (s, dir) =>
    ivfCandidates(s, dir, lit(true), lit(true), KnnGraphK)
      .select(col("qid").as("src"), col("cid").as("dst"),
        col("rk"), col("cos"))
      .localCheckpoint(true)
  })

  val knnGraph: Q = Q(
    "sim_knn_graph",
    (s, dir) => knnEdgesShared(s, dir).orderBy(col("src"), col("rk")),
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")}
      |SELECT qid AS src, cid AS dst, CAST(rk AS INT) AS rk, ccos AS cos
      |FROM ranked WHERE rk <= $KnnGraphK ORDER BY src, rk""".stripMargin))

  // ------------------------------------------------------------------
  // COMMUNITY DETECTION over the kNN graph — the consumer the graph
  // exists for: topic clusters for mixture balancing, the SemDeDup →
  // cluster → sample pipeline endpoint. Deterministic synchronous
  // modularity label propagation (the Louvain local-move objective in
  // fixed rounds, exact BIGINT scores — [[Graph.modularityLpaRun]]), so
  // the WHOLE pipeline — IVF index → kNN edges → community rounds —
  // unrolls as one oracle CTE chain and the hash check covers it end to
  // end. Edges come from the same ivfCandidates/ivfCteSql pair as
  // `sim_knn_graph`, so the communities provably form over the graph that
  // query serves.
  private val CommunityRounds = 3

  /** Final community labels, computed once per (session, dir): the
    * membership query and the per-community quality table both consume
    * them (LPA rounds run once — the shared-drive discipline). */
  private val communityLabels = new graft.SessionMemo[DataFrame]({ (s, dir) =>
    Graph.modularityLpaRun(
      knnEdgesShared(s, dir).select(col("src"), col("dst")),
      Tables.load(s, dir, "embeddings").select(col("vec_id").as("id")),
      CommunityRounds).localCheckpoint(true)
  })

  val knnCommunities: Q = Q(
    "graph_communities",
    (s, dir) => {
      val labels = communityLabels(s, dir)
      val sizes = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("community_size"))
      labels.join(sizes, "lbl")
        .select(col("id"), col("lbl").as("community"), col("community_size"))
        .orderBy(col("id"))
    },
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")}
      |SELECT l.id, l.lbl AS community, CAST(s.cs AS BIGINT) AS community_size
      |FROM l$CommunityRounds l JOIN (
      |  SELECT lbl, COUNT(*) AS cs FROM l$CommunityRounds GROUP BY lbl) s
      |  USING (lbl)
      |ORDER BY l.id""".stripMargin))

  /** Per-community quality table — the curation consumer's actual input
    * for mixture balancing: size, degree volume, internal edges, and cut
    * edges (vol = 2·internal + cut, all exact integers) per community.
    * A dense community (internal ≫ cut) is a coherent topic cluster; a
    * high-cut one is a candidate for re-clustering or exclusion. Shares
    * [[communityLabels]] and [[knnEdgesShared]] with `graph_communities`
    * — one LPA run, one edge build, two reports. Shape: three hash aggs
    * at label/vertex cardinality over the narrow edge frame. */
  val knnCommunityQuality: Q = Q(
    "graph_communities_quality",
    (s, dir) => {
      val labels = communityLabels(s, dir)
      val und = knnEdgesShared(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val la = labels.select(col("id").as("a"), col("lbl").as("la"))
      val lb = labels.select(col("id").as("b"), col("lbl").as("lb"))
      val internal = und.join(la, "a").join(lb, "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("internal_edges"))
      val sym = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      val deg = sym.groupBy(col("v")).agg(count(lit(1)).as("d"))
      val vol = labels.join(deg, labels("id") === deg("v"))
        .groupBy(col("lbl")).agg(sum(col("d")).as("volume"))
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
        .join(vol, Seq("lbl"), "left")
        .join(internal, Seq("lbl"), "left")
        .select(col("lbl").as("community"), col("community_size"),
          coalesce(col("volume"), lit(0L)).as("volume"),
          coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
          (coalesce(col("volume"), lit(0L)) -
            lit(2L) * coalesce(col("internal_edges"), lit(0L))).as("cut_edges"))
        .orderBy(col("community"))
    },
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")},
      |lf AS (SELECT id, lbl FROM l$CommunityRounds),
      |internal AS (
      |  SELECT la.lbl, COUNT(*) AS ie
      |  FROM und JOIN lf la ON la.id = und.a JOIN lf lb ON lb.id = und.b
      |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
      |volf AS (
      |  SELECT l.lbl, SUM(d.d) AS vol FROM lf l
      |  JOIN deg d ON d.v = l.id GROUP BY l.lbl),
      |sizes AS (SELECT lbl, COUNT(*) AS cs FROM lf GROUP BY lbl)
      |SELECT s.lbl AS community, CAST(s.cs AS BIGINT) AS community_size,
      |  CAST(COALESCE(v.vol, 0) AS BIGINT) AS volume,
      |  CAST(COALESCE(i.ie, 0) AS BIGINT) AS internal_edges,
      |  CAST(COALESCE(v.vol, 0) - 2 * COALESCE(i.ie, 0) AS BIGINT) AS cut_edges
      |FROM sizes s LEFT JOIN volf v USING (lbl) LEFT JOIN internal i USING (lbl)
      |ORDER BY community""".stripMargin))

  /** Leiden-style refinement of the LPA partition
    * ([[Graph.refineWithin]]): every community split into its connected
    * components over community-INTERNAL edges, so each refined community
    * is internally connected by construction — the guarantee plain
    * modularity LPA (like Louvain) does not give and the Leiden paper's
    * refinement phase exists to repair. Deterministic (refined id = min
    * reachable member id), so the oracle replays it as a recursive
    * min-label fixpoint over the same internal edge set the quality
    * report counts. Only ever SPLITS (internal edges never cross
    * communities) — the spec pins a planted disconnected community
    * splitting and `n_refined ≥ n_communities` on the corpus. */
  val knnCommunitiesRefined: Q = Q(
    "graph_communities_refined",
    (s, dir) => {
      val refined = Graph.refineWithin(
        knnEdgesShared(s, dir).select(col("src"), col("dst")),
        communityLabels(s, dir))
      val sizes = refined.groupBy(col("refined"))
        .agg(count(lit(1)).as("refined_size"))
      refined.join(sizes, "refined")
        .select(col("id"), col("lbl").as("community"),
          col("refined").as("refined_community"), col("refined_size"))
        .orderBy(col("id"))
    },
    Some(s"""WITH RECURSIVE ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")},
      |lf AS (SELECT id, lbl FROM l$CommunityRounds),
      |internal AS (
      |  SELECT und.a AS src, und.b AS dst
      |  FROM und JOIN lf la ON la.id = und.a JOIN lf lb ON lb.id = und.b
      |  WHERE la.lbl = lb.lbl),
      |iedges AS (
      |  SELECT src, dst FROM internal UNION ALL SELECT dst, src FROM internal),
      |reach AS (
      |  SELECT id AS node, id AS lbl FROM verts
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN iedges e ON e.src = r.node),
      |ref AS (SELECT node AS id, MIN(lbl) AS refined FROM reach GROUP BY node),
      |rs AS (SELECT refined, COUNT(*) AS cs FROM ref GROUP BY refined)
      |SELECT r.id, lf.lbl AS community, r.refined AS refined_community,
      |  CAST(rs.cs AS BIGINT) AS refined_size
      |FROM ref r JOIN lf ON lf.id = r.id JOIN rs ON rs.refined = r.refined
      |ORDER BY r.id""".stripMargin))

  /** Louvain PHASE-2 coarsening of the LPA partition
    * ([[Graph.louvainCoarsen]]): build the super-graph of communities
    * (weighted inter-community edges + per-community degree volumes) and
    * run the same exact-BIGINT local-move rounds AT COMMUNITY
    * GRANULARITY, so merges invisible to vertex-level moves — two whole
    * communities that belong together — happen as single super-node
    * moves. This is the aggregation half of Louvain (and the step Leiden
    * runs after refinement), completing the refine → aggregate → move
    * loop; `GraphSpec` pins a planted two-cliques-split-by-L1 case
    * merging at L2 and that coarsening never loses exact modularity on
    * this corpus. The whole chain — IVF probes → kNN edges → L1 rounds →
    * super-graph → weighted rounds — unrolls as ONE oracle CTE chain.
    *
    * 100 TB shape: the super-graph is |communities| nodes + collapsed
    * edges (orders of magnitude below the base graph); building it costs
    * two narrow label joins + two hash aggs on the k·N edge frame, and
    * every weighted round runs at super-graph cardinality. */
  private val L2Rounds = 2

  private val communityLabelsL2 = new graft.SessionMemo[DataFrame]({ (s, dir) =>
    Graph.louvainCoarsen(
      knnEdgesShared(s, dir).select(col("src"), col("dst")),
      communityLabels(s, dir),
      L2Rounds).localCheckpoint(true)
  })

  val knnCommunitiesL2: Q = Q(
    "graph_communities_l2",
    (s, dir) => {
      val l2 = communityLabelsL2(s, dir)
      val sizes = l2.groupBy(col("lbl2")).agg(count(lit(1)).as("l2_size"))
      l2.join(sizes, "lbl2")
        .select(col("id"), col("lbl").as("community"),
          col("lbl2").as("community_l2"), col("l2_size"))
        .orderBy(col("id"))
    },
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")},
      |lf AS MATERIALIZED (SELECT id, lbl FROM l$CommunityRounds),
      |${Graph.louvainCoarsenPreludeSql("w", "lf")},
      |${(1 to L2Rounds).map(Graph.modularityLpaWeightedRoundSql("w")).mkString(",\n")},
      |proj AS (
      |  SELECT lf.id, lf.lbl, w.lbl AS lbl2
      |  FROM lf JOIN wl$L2Rounds w ON w.id = lf.lbl),
      |s2 AS (SELECT lbl2, COUNT(*) AS cs FROM proj GROUP BY lbl2)
      |SELECT p.id, p.lbl AS community, p.lbl2 AS community_l2,
      |  CAST(s2.cs AS BIGINT) AS l2_size
      |FROM proj p JOIN s2 ON s2.lbl2 = p.lbl2
      |ORDER BY p.id""".stripMargin))

  /** THIRD aggregation level — the full multi-level Louvain loop
    * iterated once more: the L2 partition (projected to vertices) is
    * itself coarsened ([[Graph.louvainCoarsen]] is partition-agnostic —
    * every level coarsens the ORIGINAL graph, so m2/deg are shared and a
    * super-move's exact gain stays a base-graph gain), and the hierarchy
    * (id → L1 → L2 → L3) comes out as one row per vector. GraphSpec pins
    * modularity non-decrease and never-split per level; the nesting (L3
    * is a function of L2) holds by construction and the oracle replays
    * the whole three-level chain as ONE CTE chain with a second
    * weighted-round prelude under its own name prefix. */
  private val communityLabelsL3 = new graft.SessionMemo[DataFrame]({ (s, dir) =>
    Graph.louvainCoarsen(
      knnEdgesShared(s, dir).select(col("src"), col("dst")),
      communityLabelsL2(s, dir).select(col("id"), col("lbl2").as("lbl")),
      L2Rounds).localCheckpoint(true)
  })

  val knnCommunitiesMultilevel: Q = Q(
    "graph_communities_multilevel",
    (s, dir) => {
      val l2 = communityLabelsL2(s, dir)
        .select(col("id"), col("lbl").as("community"),
          col("lbl2").as("community_l2"))
      val l3 = communityLabelsL3(s, dir)
        .select(col("id"), col("lbl2").as("community_l3"))
      val joined = l2.join(l3, "id")
      val sizes = joined.groupBy(col("community_l3"))
        .agg(count(lit(1)).as("l3_size"))
      joined.join(sizes, "community_l3")
        .select(col("id"), col("community"), col("community_l2"),
          col("community_l3"), col("l3_size"))
        .orderBy(col("id"))
    },
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")},
      |lf AS MATERIALIZED (SELECT id, lbl FROM l$CommunityRounds),
      |${Graph.louvainCoarsenPreludeSql("w", "lf")},
      |${(1 to L2Rounds).map(Graph.modularityLpaWeightedRoundSql("w")).mkString(",\n")},
      |lf2 AS MATERIALIZED (
      |  SELECT lf.id, w.lbl FROM lf JOIN wl$L2Rounds w ON w.id = lf.lbl),
      |${Graph.louvainCoarsenPreludeSql("x", "lf2")},
      |${(1 to L2Rounds).map(Graph.modularityLpaWeightedRoundSql("x")).mkString(",\n")},
      |proj AS (
      |  SELECT lf.id, lf.lbl AS l1, f2.lbl AS l2, x.lbl AS l3
      |  FROM lf JOIN lf2 f2 ON f2.id = lf.id
      |  JOIN xl$L2Rounds x ON x.id = f2.lbl),
      |s3 AS (SELECT l3, COUNT(*) AS cs FROM proj GROUP BY l3)
      |SELECT p.id, p.l1 AS community, p.l2 AS community_l2,
      |  p.l3 AS community_l3, CAST(s3.cs AS BIGINT) AS l3_size
      |FROM proj p JOIN s3 ON s3.l3 = p.l3
      |ORDER BY p.id""".stripMargin))

  /** The CONVERGENCE drive (VERDICT r13 item 5): from the registered L1
    * partition, iterate the multi-level loop — each level's local moves
    * run to their FIXPOINT (classic Louvain's inner loop; the registered
    * L2/L3 levels are the 2-round oracle-unrolled variants and are NOT
    * reused here, since a non-fixpoint level leaves gain that costs a
    * whole extra level to collect) — until the exact scaled modularity
    * stops improving past the ΔQ > 1e-4 floor ([[Graph.louvainConverge]]).
    * The final partition's modularity is ≥ the pinned L3 chain's by the
    * accept rule (GraphSpec pins it). */
  private val ConvergeRoundCap = 32

  private val communityLabelsConverged =
    new graft.SessionMemo[(DataFrame, Int)]({ (s, dir) =>
      val edges = knnEdgesShared(s, dir).select(col("src"), col("dst"))
      val (labels, levels) = Graph.louvainConverge(edges, {
        case 1 => Some(communityLabels(s, dir))
        case _ => None
      }, ConvergeRoundCap,
        onLevel = (lvl, q, sec) => System.err.println(
          f"[louvain] level $lvl q=$q candidate took $sec%.1f s"))
      (labels.localCheckpoint(true), levels)
    })

  /** Probe accessor for the convergence spec/demo: (final labels, levels
    * accepted). */
  private[graft] def convergedCommunities(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Int) = communityLabelsConverged(s, dir)

  /** Driver-gated CONVERGENCE query (VERDICT r14 item 2): the converged
    * partition itself is engine-native (how many fixpoint levels run is
    * the algorithm's own business), but its CONTRACTS are not — so, the
    * `q_approx_stats_pinned` pattern: compute the witnesses in-engine
    * and emit booleans the DuckDB oracle pins to TRUE.
    *
    *  - `all_labeled`: every embeddings vertex carries exactly one label;
    *  - `labels_are_members`: every label value is itself a vertex id
    *    (communities are named by a member — the projection chain cannot
    *    fabricate ids);
    *  - `q_ge_l3`: the converged partition's EXACT scaled modularity
    *    Q·m2² is ≥ the registered fixed-round L1/L2/L3 chain's (the
    *    accept rule only ever replaces a partition with a strictly
    *    better one, and level 1 IS the chain's base — convergence can
    *    only add gain);
    *  - `levels_le_cap`: the loop terminated inside its level budget.
    *
    * A convergence regression (a level accepted on a worse Q, a dropped
    * vertex in the driver-side fixpoint, a label projected onto a
    * non-member) flips a boolean and fails the hash gate. */
  val knnCommunitiesConverged: Q = Q(
    "graph_communities_converged",
    (s, dir) => {
      import s.implicits._
      val edges = knnEdgesShared(s, dir).select(col("src"), col("dst"))
      val (labels, levels) = communityLabelsConverged(s, dir)
      val verts = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"))
      val n = verts.count()
      val labeled = labels.filter(col("lbl").isNotNull).count()
      val distinctIds = labels.select(col("id")).distinct().count()
      val nonMemberLabels = labels.select(col("lbl").as("id")).distinct()
        .join(verts, Seq("id"), "left_anti").count()
      val qConv = Graph.modularityScaled(edges, labels)
      val qL3 = Graph.modularityScaled(edges,
        communityLabelsL3(s, dir).select(col("id"), col("lbl2").as("lbl")))
      Seq((n,
        labels.count() == n && labeled == n && distinctIds == n,
        nonMemberLabels == 0L,
        qConv >= qL3,
        levels <= ConvergeRoundCap))
        .toDF("n_vertices", "all_labeled", "labels_are_members",
          "q_ge_l3", "levels_le_cap")
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
      |  TRUE AS all_labeled, TRUE AS labels_are_members,
      |  TRUE AS q_ge_l3, TRUE AS levels_le_cap
      |FROM embeddings""".stripMargin))

  /** Driver-gated audit of the TRAINED two-level quantizer (round 15's
    * headline path): build the trained-fine kNN graph at exhaustive
    * coarse probing, score it against the EXACT top-k truth (identical
    * quantized-cosine expression and tie-break, the sim_ann_recall
    * discipline — here over all pairs, bounded at the registered SFs; at
    * 100 TB the audit runs on a query sample), and pin what the oracle
    * can state: every query at full degree, and recall above a floor
    * with wide margin (measured 0.7775 / 0.781 at sf0.01 / sf0.1 on the
    * isotropic corpus — the quantizer's WORST case: no cluster structure,
    * so probing 8 of 16 trained cells bounds recall near the coverage
    * curve — pinned at 0.60; the tolerance-boolean discipline). A
    * seeding or assignment regression (the r14 pile-up class) collapses
    * recall and flips the boolean. */
  private val TrainedRecallFloorPpm = 600000L

  /** Exhaustive at the registered SFs: stride = 1 whenever the sample
    * target covers the corpus, so the pinned rows are byte-identical to
    * the unparameterized audit. A 100 TB deployment sets a finite
    * target and the truth join's cost drops from O(N²) to O(sample·N)
    * — now a code path (VERDICT r15 item 5), not a comment. */
  private val TrainedRecallTruthSample = Int.MaxValue

  /** Recall (ppm) of `edges` against the EXACT quantized-cosine top-k
    * truth, over a hash-uniform sample of query ids: the sample keeps
    * ids with `xxhash64(vec_id) ≡ 0 (mod stride)` (the trainer's own
    * sampling discipline — independent of any id structure), with
    * stride sized so ≈`truthSampleN` queries survive; `truthSampleN ≥ n`
    * ⇒ stride 1 ⇒ every query (exhaustive). The truth join is
    * O(|sample|·N) — the term that makes the audit runnable at any
    * scale. Returns (sampled queries, recall_ppm over the sample). */
  private[graft] def recallAuditPpm(vecs: DataFrame, edges: DataFrame,
      n: Long, truthSampleN: Int): (Long, Long) = {
    import vecs.sparkSession.implicits._
    val e = withNorm(
      vecs.select(col("vec_id"), quant(col("embedding")).as("qv")),
      "qv", "nq")
    val stride =
      if (truthSampleN <= 0 || truthSampleN.toLong >= n) 1L
      else math.max(1L, n / truthSampleN)
    // per-pair scores feeding the exact top-k truth (r16 — two moves,
    // same truth set to the row):
    //  1. EXHAUSTIVE path (stride 1 — every vector queries): the pair
    //     predicate is `qid < vec_id`, HALVING the N² integer dot folds
    //     (the audit's dominant cost), and each surviving pair emits both
    //     directions through one narrow explode — the reverse direction's
    //     cosine divides by the norms in ITS OWN order (d / n_b / n_a),
    //     so both rows carry bit-identical IEEE values to the
    //     `qid =!= vec_id` join they replace, and codegen's subexpression
    //     elimination still folds the shared dot once per pair.
    //  2. The rank window became the bounded TopKAggregator reduce (the
    //     knnGraph discipline; identical ordering contract — score desc,
    //     id asc): only k (cid, ccos) pairs per query per mapper ride the
    //     shuffle, where the window sorted all |sample|·N scored rows.
    val scores =
      if (stride == 1L) {
        val q = e.select(col("vec_id").as("qid"), col("qv").as("q"),
          col("nq").as("nqq"))
        q.join(e, col("qid") < col("vec_id"))
          .select(explode(array(
            struct(col("qid"), col("vec_id").as("cid"),
              cosPre(dot(col("q"), col("qv")), col("nqq"), col("nq"))
                .as("ccos")),
            struct(col("vec_id").as("qid"), col("qid").as("cid"),
              cosPre(dot(col("q"), col("qv")), col("nq"), col("nqq"))
                .as("ccos")))).as("p"))
          .select(col("p.qid"), col("p.cid"), col("p.ccos"))
      } else
        e.select(col("vec_id").as("qid"), col("qv").as("q"),
          col("nq").as("nqq"))
          .filter(pmod(xxhash64(col("qid")), lit(stride)) === 0)
          .join(e, col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id").as("cid"),
            cosPre(dot(col("q"), col("qv")), col("nqq"), col("nq"))
              .as("ccos"))
    val truth = scores
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(KnnGraphK).toColumn.name("top"))
      .toDF("qid", "top")
      .select(col("qid"), explode(col("top")).as("p"))
      .select(col("qid"), col("p._2").as("cid"))
    val approx = edges.select(col("src").as("qid"), col("dst").as("cid"))
    val hits = truth.join(approx, Seq("qid", "cid")).count()
    val nSampled =
      if (stride == 1L) n
      else e.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0).count()
    (nSampled,
      if (nSampled == 0) 0L else hits * 1000000L / (nSampled * KnnGraphK))
  }

  /** The quota audit's probe budget: 4× the mean cell mass of the
    * 16-cell trained build (a real cut — see [[ivfQuota]]). */
  private def quotaFor(n: Long): Int = math.max(1L, 4L * n / 16L).toInt

  /** ONE trained-quantizer build per (session, dir), shared by the recall
    * audit and the quota audit — the decodedEvents discipline (re-building
    * the identical index per consumer is the "replay the topic N times"
    * mistake). r16: the quota audit's edges come from RE-PROBING this same
    * build (training is deterministic — hash-sampled, order-independent
    * integer Lloyd steps — so the separate full rebuild the audit
    * previously ran produced the identical index at twice the train +
    * assign + index-write cost; the probe pass is the only stage the
    * quota changes, so it is the only stage run twice). Returns
    * (unquota'd edges, n, unquota'd cand rows, quota'd edges,
    * quota'd cand rows); both edge frames are eager localCheckpoints. */
  private val trainedGraphShared =
    new graft.SessionMemo[(DataFrame, Long, Long, DataFrame, Long)]({
      (s, dir) =>
      val vecs = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val n = vecs.count()
      val tmp =
        java.nio.file.Files.createTempDirectory("graft-trained-shared")
      try {
        val (e, ranked) = hierarchicalRanked(vecs, 16, 8, coarseProbe = 4,
          coarseTrainIters = 0, fineTrainIters = 2, samplePerCell = 8,
          fineCellCapFactor = 2.0,
          onStage = (_, _) => ())
        writeIndex(e, ranked, s"$tmp/idx", (_, _) => ())
        // one candidate join serves BOTH audits (r17 — see probeRankBoth)
        val (outU, outQ, candsU, candsQ) =
          probeRankBoth(e, ranked, KnnGraphK, s"$tmp/idx", quotaFor(n))
        e.unpersist()
        ranked.unpersist()
        (outU, n, candsU, outQ, candsQ)
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    })

  val trainedRecall: Q = Q(
    "sim_trained_recall",
    (s, dir) => {
      import s.implicits._
      val (edges, n, _, _, _) = trainedGraphShared(s, dir)
      val vecs = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val (nSampled, recallPpm) =
        recallAuditPpm(vecs, edges, n, TrainedRecallTruthSample)
      val fullDegree = edges.groupBy(col("src")).count()
        .filter(col("count") =!= KnnGraphK).count() == 0L &&
        edges.select(col("src")).distinct().count() == n
      System.err.println(
        s"[sim_trained_recall] recall_ppm=$recallPpm n=$n sampled=$nSampled")
      Seq((n, fullDegree, recallPpm >= TrainedRecallFloorPpm))
        .toDF("n_queries", "full_degree", "recall_ge_floor")
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  TRUE AS full_degree, TRUE AS recall_ge_floor
      |FROM embeddings""".stripMargin))

  /** Oracle-gated QUOTA-PATH audit (VERDICT r15 item 2): the shared
    * trained build re-probed under `probeMassQuota = 4× the mean cell
    * mass` — a real cut (the unquota'd probe list carries 8 of 16
    * cells ≈ half the corpus per query; the quota halves that again on
    * this isotropic corpus, the quantizer's worst case), pinned on what
    * the oracle can state:
    *
    *  - `full_degree`: the quota never costs a query its k edges (the
    *    best cell always probes);
    *  - `agreement_ge_floor`: edge agreement with the unquota'd build
    *    stays above the floor (measured 0.7235 / 0.6988 at sf0.01 /
    *    sf0.1 — the isotropic corpus is the quota's WORST case: the
    *    cell ranking is uninformative, so mass truncation genuinely
    *    drops neighbors, where the clustered spec corpus measures 100%
    *    agreement at the mean-mass quota; pinned 0.60, the
    *    tolerance-boolean discipline);
    *  - `cands_le_unquotad`: probe-stage candidate volume never exceeds
    *    the unquota'd build's — the quota's entire reason to exist.
    *
    * A quota regression (admitting past the mass budget, dropping the
    * rank-1 cell, a skew re-introduction) flips a boolean and fails the
    * driver's hash gate. */
  private val IvfQuotaAgreementFloorPpm = 600000L

  val ivfQuota: Q = Q(
    "sim_ivf_quota",
    (s, dir) => {
      import s.implicits._
      // both edge sets come from the ONE shared trained build (r16): the
      // quota pass re-probes the identical index instead of retraining —
      // deterministic training made the previous full rebuild a
      // byte-identical duplicate of the shared one
      val (edgesU, n, candsU, edgesQ, candsQ) = trainedGraphShared(s, dir)
      val fullDegree = edgesQ.groupBy(col("src")).count()
        .filter(col("count") =!= KnnGraphK).count() == 0L &&
        edgesQ.select(col("src")).distinct().count() == n
      val agree = edgesU.select(col("src"), col("dst"))
        .join(edgesQ.select(col("src"), col("dst")), Seq("src", "dst"))
        .count()
      val agreePpm = agree * 1000000L / (n * KnnGraphK)
      System.err.println(s"[sim_ivf_quota] agree_ppm=$agreePpm " +
        s"cands_quota=$candsQ cands_full=$candsU quota=${quotaFor(n)}")
      Seq((n, fullDegree, agreePpm >= IvfQuotaAgreementFloorPpm,
        candsQ <= candsU))
        .toDF("n_queries", "full_degree", "agreement_ge_floor",
          "cands_le_unquotad")
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  TRUE AS full_degree, TRUE AS agreement_ge_floor,
      |  TRUE AS cands_le_unquotad
      |FROM embeddings""".stripMargin))

  /** Community EXEMPLARS — the `sample` step of the SemDeDup → cluster →
    * sample pipeline the kNN graph exists for: per community, the
    * [[ExemplarsPerCommunity]] most CENTRAL members, i.e. highest dot
    * product with the community's elementwise SUM vector. argmax of
    * dot(v, Σ_c) equals argmax of dot(v, mean_c) with no division, so
    * every score is exact BIGINT arithmetic on the quantized vectors —
    * the oracle replays it digit-for-digit. These rows are what a curator
    * inspects per topic and what representative-sampling seeds from.
    *
    * 100 TB shape: one posexplode to (community, dim, x) — 64 narrow rows
    * per vector; the sum vector is a hash agg at |communities|·64; the
    * score re-join rides (community, dim) keys; the final top-k is one
    * bounded rank window per community. Nothing sized by community count
    * or corpus beyond the 64× dim fan. */
  private val ExemplarsPerCommunity = 2

  val knnCommunityExemplars: Q = Q(
    "graph_community_exemplars",
    (s, dir) => {
      val labels = communityLabels(s, dir)
      val dims = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quant(col("embedding")).as("qv"))
        .join(labels, "id")
        .select(col("id"), col("lbl"), posexplode(col("qv")))
        .select(col("id"), col("lbl"), col("pos").as("d"), col("col").as("x"))
      val sums = dims.groupBy(col("lbl"), col("d"))
        .agg(sum(col("x")).as("sx"))
      val scores = dims.join(sums, Seq("lbl", "d"))
        .groupBy(col("id"), col("lbl"))
        .agg(sum(col("x") * col("sx")).as("score"))
      val w = Window.partitionBy(col("lbl"))
        .orderBy(col("score").desc, col("id"))
      scores.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= ExemplarsPerCommunity)
        .select(col("lbl").as("community"), col("rk"), col("id"),
          col("score"))
        .orderBy(col("community"), col("rk"))
    },
    Some(s"""WITH ${ivfCteSql("TRUE", "TRUE")},
      |edges AS (SELECT qid AS src, cid AS dst FROM ranked WHERE rk <= $KnnGraphK),
      |verts AS (SELECT vec_id AS id FROM embeddings),
      |${Graph.modularityLpaPreludeSql},
      |${(1 to CommunityRounds).map(Graph.modularityLpaRoundSql).mkString(",\n")},
      |dims AS (
      |  SELECT l.id, l.lbl, t.i AS d, q.v[t.i] AS x
      |  FROM l$CommunityRounds l JOIN q ON q.vec_id = l.id
      |  CROSS JOIN range(1, 65) t(i)),
      |sums AS (SELECT lbl, d, SUM(x) AS sx FROM dims GROUP BY lbl, d),
      |scores AS (
      |  SELECT dims.id, dims.lbl, SUM(dims.x * s.sx) AS score
      |  FROM dims JOIN sums s ON s.lbl = dims.lbl AND s.d = dims.d
      |  GROUP BY dims.id, dims.lbl)
      |SELECT lbl AS community, CAST(rk AS INT) AS rk, id,
      |  CAST(score AS BIGINT) AS score
      |FROM (
      |  SELECT id, lbl, score,
      |    ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY score DESC, id) AS rk
      |  FROM scores)
      |WHERE rk <= $ExemplarsPerCommunity
      |ORDER BY community, rk""".stripMargin))

  /** The kNN-graph SCALE path (the standard IVF sizing rule made code):
    * grow the cell count with the corpus — `numCells ≈ N / cellTarget` —
    * so cells stay ~constant-sized, and build the graph FROM the
    * cell-PARTITIONED index layout `sim_ivf_served` serves from. Work per
    * stage is then:
    *
    *  - assignment: N × numCells centroid scores (the one super-linear
    *    term, N²/cellTarget with a 1/cellTarget constant; production
    *    systems cut it with a hierarchical coarse quantizer — at the demo
    *    scales it is minutes-from-dominant and measured as such);
    *  - index write: one shuffle clustered by cell, parquet
    *    `partitionBy(cell)` — each cell a directory, the 100 TB layout;
    *  - probe join: (qid, cell) × cell-partitioned index = N · nprobe ·
    *    cellTarget candidate pairs — LINEAR in N, vs N²·nprobe/K at
    *    fixed K (the shape VERDICT r11 flagged);
    *  - rerank: row_number over ≤ nprobe·cellTarget rows per query.
    *
    * Returns the same (src, dst, rk, cos) edge schema as `sim_knn_graph`
    * (which stays at the oracle-pinned K=8 — the SQL unrolls the fixed
    * quantizer; this path is the measured-at-scale twin, SCALE.md
    * round 12). */
  private[graft] def knnGraphFromIndex(vecs: DataFrame, k: Int,
      numCells: Int, nprobe: Int, idxDir: String,
      onStage: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    // persist + eager count, NOT localCheckpoint: these are build-time
    // pins a repeated-build caller (the scale demo, an index refresh
    // loop) must be able to RELEASE, and Dataset.unpersist is a no-op on
    // a checkpointed frame (it only uncaches CacheManager entries; the
    // checkpoint RDD blocks linger until GC) — persist is the level
    // unpersist actually frees
    val e = pinned(withNorm(
      vecs.select(col("vec_id"), quant(col("embedding")).as("qv")),
      "qv", "nq"))
    val cents = broadcast(
      e.filter(col("vec_id") < numCells)
        .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nq").as("ncv")))

    // centroid scoring ONCE, reduced by the bounded-buffer TopKAggregator
    // instead of a rank window: the N × numCells dot products evaluate
    // map-side inside the broadcast-join stage and only nprobe
    // (cid, ccos) pairs PER VECTOR PER MAPPER ride the shuffle — a rank
    // window would sort all N·numCells scores. Same ordering contract
    // (score desc, id asc). Assignment (rn = 1) and the probe list
    // (rn ≤ nprobe) are the same ranking, so one pass serves both;
    // materialize the N·nprobe survivors. NOTE the flat quantizer here is
    // the SMALL-REGIME twin: the broadcast is O(numCells) and the scoring
    // N × numCells, both of which outgrow a cluster once numCells tracks
    // the corpus (numCells ≈ N/cellTarget) — [[knnGraphHierarchical]] is
    // the production shape past that point.
    val t0 = System.nanoTime()
    val ranked = pinned(rankTopCells(
      e.join(cents)
        .select(col("vec_id"), col("cid"),
          cosPre(dot(col("qv"), col("cv")), col("nq"), col("ncv")).as("ccos")),
      nprobe))
    onStage("assign", (System.nanoTime() - t0) / 1e9)
    graphFromRanked(e, ranked, k, idxDir, onStage)
  }

  private def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count() // materialize eagerly; callers re-read it several times
    p
  }

  /** Reduce a (vec_id, cid, ccos) score frame to each vector's best
    * `nprobe` cells via the bounded TopKAggregator — only nprobe pairs
    * per vector per mapper ride the shuffle (a rank window would sort
    * every score). Ordering contract: ccos desc, cid asc. Returns
    * (vec_id, cid, rn) with rn = 1..nprobe. */
  private def rankTopCells(scores: DataFrame, nprobe: Int): DataFrame = {
    import scores.sparkSession.implicits._
    scores
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(math.max(nprobe, 1))
        .toColumn.name("top"))
      .toDF("vec_id", "top")
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col._2").as("cid"),
        (col("pos") + 1).as("rn"))
  }

  /** The shared build tail: a pinned (vec_id, cid, rn) cell ranking —
    * however the quantizer produced it — becomes the cell-partitioned
    * index (rn = 1 is the assignment) plus the probe list (rn ≤ nprobe),
    * and the probe join + bounded top-k reduce emit the kNN edges.
    * Releases the `e`/`ranked` pins; the returned edge frame stays
    * persisted until the caller unpersists.
    *
    * `probeMassQuota > 0` bounds each query's probe list by CELL MASS
    * instead of a fixed cell count (the r15 ×300 finding: residual cell
    * skew is structural on density-gradient corpora and candidate volume
    * is cell-size-weighted, so a fixed nprobe over-probes exactly where
    * cells are fat): cells are kept in rank order while the PRECEDING
    * kept mass is below the quota — the best cell always probes, and
    * per-query candidates are ≤ quota + the last kept cell, by
    * construction, whatever the skew. The standard IVF "probe until a
    * work budget" move, costing one (qid-keyed) running-sum window over
    * the ≤ nprobe-row probe list plus an O(numCells) cell-size agg —
    * nothing new is corpus-sized. */
  private def graphFromRanked(e: DataFrame, ranked: DataFrame, k: Int,
      idxDir: String, onStage: (String, Double) => Unit,
      probeMassQuota: Int = 0): DataFrame = {
    writeIndex(e, ranked, idxDir, onStage)
    val edges = probeRankFromIndex(e, ranked, k, idxDir, onStage,
      probeMassQuota)
    e.unpersist()
    ranked.unpersist()
    edges
  }

  /** The index-write half of [[graphFromRanked]], split out (r16) so one
    * trained build can serve SEVERAL probe passes (the quota audit
    * re-probes the identical index — retraining and rewriting it per
    * consumer was the "replay the topic N times" mistake at the index
    * level). */
  private def writeIndex(e: DataFrame, ranked: DataFrame,
      idxDir: String, onStage: (String, Double) => Unit): Unit = {
    // cell-partitioned index: assignment = probe rank 1; vectors re-attach
    // via an N-row equi-join (narrow compared to carrying them through the
    // ranking shuffle). One shuffle clustered by cell keeps the write to
    // ≤1 file per cell per task wave — `sim_ivf_served`'s layout.
    val t0 = System.nanoTime()
    ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id"), col("cell"), col("qv"), col("nq"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(idxDir)
    onStage("index_write", (System.nanoTime() - t0) / 1e9)
  }

  /** The probe half of [[graphFromRanked]]: probe list (optionally
    * mass-quota'd) → candidate join against the written index → bounded
    * top-k reduce. Leaves the `e`/`ranked` pins alone — the CALLER
    * releases them after its last probe pass. */
  private def probeRankFromIndex(e: DataFrame, ranked: DataFrame, k: Int,
      idxDir: String, onStage: (String, Double) => Unit,
      probeMassQuota: Int): DataFrame = {
    import e.sparkSession.implicits._
    val idx = e.sparkSession.read.parquet(idxDir)

    // probe list: best nprobe cells per query (every vector queries),
    // optionally cut by the cell-mass quota
    val probeCells =
      if (probeMassQuota > 0) {
        val sizes = ranked.filter(col("rn") === 1)
          .groupBy(col("cid")).agg(count(lit(1)).as("csz"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("rn"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ranked.join(sizes, "cid")
          .withColumn("kept_before", coalesce(sum(col("csz")).over(w), lit(0L)))
          // rn = 1 always probes (the quota bounds work, never correctness
          // of "at least the best cell"); later cells admit while the
          // PRECEDING kept mass is under the quota
          .filter(col("rn") === 1 || col("kept_before") < probeMassQuota)
          .select(col("vec_id"), col("cid"))
      } else ranked.select(col("vec_id"), col("cid"))
    val probes = probeCells
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
      .join(e.select(col("vec_id").as("qid"), col("qv").as("q"),
        col("nq").as("nqq")), "qid")

    // candidates ride the cell key against the partitioned index; the
    // pair cosine evaluates inside the join stage and the rerank is again
    // the bounded top-k reduce — only k (dst, cos) pairs per query per
    // mapper shuffle, never the nprobe·cellTarget candidate set
    val t1 = System.nanoTime()
    // candidate volume (Σ_query Σ_probed-cell |cell|) rides the edge job
    // as an observation — the number that explains a probe-stage wall
    // (it is the stage's work) without a separate count job
    val obs = org.apache.spark.sql.Observation()
    val edges = probes.join(idx, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .observe(obs, count(lit(1)).as("cands"))
      .select(col("qid"), col("vec_id").as("dst"),
        cosPre(dot(col("q"), col("qv")), col("nqq"), col("nq")).as("ccos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("top"))
      .toDF("qid", "top")
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid").as("src"), col("col._2").as("dst"),
        (col("pos") + 1).as("rk"), col("col._1").as("cos"))
      // materialize the k·N narrow edge rows, then release the build-time
      // pins — repeated builds in one JVM (the scale demo, an index
      // refresh loop) must not accumulate block-manager pressure; the
      // edge frame itself stays persisted until the CALLER unpersists
      // (it also reads back from the parquet index, so eviction is safe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    onStage("probe_rank", (System.nanoTime() - t1) / 1e9)
    onStage("cand_rows", obs.get("cands").asInstanceOf[Long].toDouble)
    edges
  }

  /** BOTH probe passes of the shared trained build in ONE candidate join
    * (r17): the quota'd probe list is by construction a SUBSET of the
    * unquota'd one (ranked cells filtered by the running-mass cut), so
    * scoring the superset once with a per-(query, cell) `q` flag and
    * reducing through the dual-buffer [[graft.functions.TopK2Aggregator]]
    * yields BOTH edge sets bit-identically (same insertion, same
    * ordering contract) while paying one index read, one join, and
    * candsU ≈ 2.0M pair cosines instead of candsU + candsQ ≈ 3.1M across
    * two passes (guide §1.2 step 1 / §2.3). Returns the eager
    * localCheckpoints plus both passes' candidate-row observations
    * (identical numbers to the two-pass form: candsQ counts the flagged
    * rows). */
  private def probeRankBoth(e: DataFrame, ranked: DataFrame, k: Int,
      idxDir: String, quota: Int): (DataFrame, DataFrame, Long, Long) = {
    import e.sparkSession.implicits._
    val idx = e.sparkSession.read.parquet(idxDir)
    val sizes = ranked.filter(col("rn") === 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val probeCells = ranked.join(sizes, "cid")
      .withColumn("kept_before", coalesce(sum(col("csz")).over(w), lit(0L)))
      .select(col("vec_id"), col("cid"),
        (col("rn") === 1 || col("kept_before") < quota).as("q"))
    val probes = probeCells
      .select(col("vec_id").as("qid"), col("cid").as("cell"), col("q"))
      .join(e.select(col("vec_id").as("qid"), col("qv").as("q_v"),
        col("nq").as("nqq")), "qid")
    val obs = org.apache.spark.sql.Observation()
    val both = probes.join(idx, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .observe(obs, count(lit(1)).as("cands"),
        sum(when(col("q"), 1L).otherwise(0L)).as("cands_q"))
      .select(col("qid"), col("vec_id").as("dst"),
        cosPre(dot(col("q_v"), col("qv")), col("nqq"), col("nq")).as("ccos"),
        col("q"))
      .as[(Long, Long, Double, Boolean)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3, t._4))
      .agg(new graft.functions.TopK2Aggregator(k).toColumn.name("tops"))
      .toDF("qid", "tops")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    both.count()
    def edges(top: Column): DataFrame = both
      .select(col("qid"), posexplode(top))
      .select(col("qid").as("src"), col("col._2").as("dst"),
        (col("pos") + 1).as("rk"), col("col._1").as("cos"))
      .localCheckpoint(true)
    val outU = edges(col("tops._1"))
    val outQ = edges(col("tops._2"))
    both.unpersist()
    (outU, outQ,
      obs.get("cands").asInstanceOf[Long],
      obs.get("cands_q").asInstanceOf[Long])
  }

  /** TRAINED two-level quantizer (VERDICT r14 item 1 — the ×100
    * probe-skew finding): BOTH layers k-means-seeded, so cells are sized
    * by the DATA, not by id prefix. On a clustered corpus the prefix
    * seeding (`vec_id < numCells`) piles every shifted cluster into the
    * few cells nearest the id-prefix vectors and the probe join's
    * candidate volume goes quadratic (SCALE.md r14: flat ×100 DNF in a
    * 40-minute budget); Lloyd-trained cells track the cluster structure
    * and candidates return to ~N·nprobe·cellTarget.
    *
    * All training work is BOUNDED — nothing O(N) beyond one narrow
    * filter pass, and no broadcast above O(√numCells):
    *
    *  1. a deterministic sample of ~samplePerCell·numCells vectors
    *     (`xxhash64(vec_id) ≡ 0 (mod stride)` — independent of any id
    *     structure; stride 1 on small corpora ⇒ train on everything);
    *  2. the COARSE layer: `fitQuantizedFrom` over the sample,
    *     numCoarse = ⌈√numCells⌉ centroids (broadcast per Lloyd iter is
    *     O(√numCells); work per iter |sample|·√numCells);
    *  3. the FINE layer: the sample branch-assigned, then
    *     [[graft.functions.KMeans.fitQuantizedPerBranch]] trains each
    *     branch's ⌈numCells/numCoarse⌉ cells INSIDE a branch-keyed
    *     shuffle join (the fine table is never broadcast; the budget
    *     is deliberately UNIFORM — see the allocation note in the
    *     body);
    *  4. a branch that captured no sample members keeps its coarse
    *     centroid as its lone fine cell — every branch a vector can
    *     route to has ≥1 cell, so the rn=1 assignment stays TOTAL;
    *  5. `cellCapFactor > 1` trains the fine layer BALANCED (r16 — the
    *     ×600 residual): per-query probe work tracks PEAK cell mass
    *     (the quota always admits a query's top cell), so a density
    *     spike must not own one giant cell — over-cap cells re-seed the
    *     branch's emptiest onto their farthest member each Lloyd round
    *     ([[graft.functions.KMeans.fitQuantizedPerBranch]]).
    *
    * Fine cell ids are `branch·finePerBranch + local` — disjoint by
    * construction, and the fine→branch routing is exact (each cell was
    * trained inside its branch), so the prefix path's routing rank step
    * disappears. Returns the (broadcast coarse, pinned fine routing
    * table) pair the shared assignment tail consumes. */
  private def trainedQuantizer(e: DataFrame, numCells: Int, numCoarse: Int,
      iters: Int, samplePerCell: Int, cellCapFactor: Double,
      onStage: (String, Double) => Unit): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val tTrain = System.nanoTime()
    val finePerBranch =
      math.max(1, math.ceil(numCells.toDouble / numCoarse).toInt)
    val total = e.count() // e is pinned — the count is a cache scan
    val targetSample = math.max(1L, samplePerCell.toLong * numCells)
    val stride = math.max(1L, total / targetSample)
    // Parameter-bounded sample ⇒ train ON THE DRIVER (guide §1.2 step 1:
    // the distributed loop's per-iteration jobs + AQE stages were ~10 s
    // of fixed cost over a 128-row sample at sf0.1). Same arithmetic,
    // bit-identical (KMeans.LocalTrainMax — the twins are spec-pinned ≡
    // the distributed loops); a corpus-tracking sample above the cutoff
    // trains distributed exactly as before.
    if (targetSample <= graft.functions.KMeans.LocalTrainMax) {
      import e.sparkSession.implicits._
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val rows = e.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id").as("id"), col("qv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      // coarse init: the numCoarse sample rows with the smallest
      // (xxhash64(id), id) — the distributed orderBy + row_number twin
      val cInit = rows.sortBy(r => (XXH64.hashLong(r._1, 42L), r._1))
        .take(numCoarse).zipWithIndex
        .map { case (r, i) => (i.toLong, r._2) }.toSeq
      val coarseL = graft.functions.KMeans.localLloyd(rows, cInit, iters)
      val sampleBr = graft.functions.KMeans.localAssignQ(rows, coarseL)
        .map { case (id, qv, cell) => (cell, id, qv) }
      val fineL = graft.functions.KMeans
        .localPerBranch(sampleBr, finePerBranch, iters, cellCapFactor)
      // a branch that captured no sample members keeps its coarse
      // centroid as its lone fine cell (assignment stays TOTAL)
      val fineBranches = fineL.map(_._1).toSet
      val fineAll = fineL ++ coarseL.collect {
        case (b, cv) if !fineBranches(b) => (b, 0L, cv)
      }
      val fineTL = fineAll.map { case (b, cid, cv) =>
        (b, b * finePerBranch + cid, cv.toSeq)
      }.toDF("branch", "cid", "cv")
      val fineRouted = pinned(
        withNorm(fineTL, "cv", "ncv")
          .select(col("cid"), col("branch"), col("cv"), col("ncv"))
          .repartition(col("branch")))
      onStage("train", (System.nanoTime() - tTrain) / 1e9)
      val coarse = broadcast(withNorm(
        coarseL.map { case (cid, cv) => (cid, cv.toSeq) }
          .toDF("branch", "bv"),
        "bv", "nbv"))
      return (coarse, fineRouted)
    }
    val sample = pinned(
      e.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id").as("id"), col("qv")))
    // coarse init: the numCoarse sample rows with the smallest
    // xxhash64(id) — HASH order, not id order (ids correlate with data
    // position in clustered corpora; the hash ranks uniformly over the
    // sample, the standard random init made reproducible). Distributed
    // TopK via orderBy+limit; the row_number window runs over only those
    // numCoarse rows.
    val cInit = sample
      .orderBy(xxhash64(col("id")), col("id")).limit(numCoarse)
      .withColumn("cid",
        (row_number().over(
          Window.orderBy(xxhash64(col("id")), col("id"))) - 1).cast("long"))
      .select(col("cid"), col("qv").as("cv"))
    val coarseT = graft.functions.KMeans
      .fitQuantizedFrom(sample, cInit, iters)
    // UNIFORM fine allocation — deliberately, after measurement (r16):
    // mass-proportional budgets (kb ∝ branch sample mass, clamped or
    // not) looked like the obvious fix for the dense-branch residual —
    // a dense branch's within-branch cap can never push a cell below
    // that branch's own mean — and at SPEC scale they do contain the
    // spike (cell_max 315 → 74) and lift sf0.01 recall 0.7775 → 0.799.
    // But at ×100/×600 they LOSE on both scale metrics (×600 quota'd
    // candidates 610M → 725M, ×100 cell_max 413 → 641): branch sample
    // masses are stride-sampled and NOISY, so low-mass branches get
    // starved into giant corpus cells, and the per-branch Lloyd
    // trajectories shift wholesale. The within-branch cap + ε-split
    // alone measured strictly better at every ×m — so the allocation
    // stays uniform and the adaptive budget remains a measured
    // negative (SCALE.md r16), not shipped surface.
    val sampleBr = pinned(
      graft.functions.KMeans.assignQuantized(sample, coarseT)
        .select(col("cell").as("branch"), col("id"), col("qv")))
    val fineLocal = graft.functions.KMeans
      .fitQuantizedPerBranch(sampleBr, finePerBranch, iters, cellCapFactor)
    sampleBr.unpersist()
    val missing = coarseT.select(col("cid").as("branch"), col("cv"))
      .join(fineLocal.select(col("branch")).distinct(),
        Seq("branch"), "left_anti")
      .select(col("branch"), lit(0L).as("cid"), col("cv"))
    val fineT = fineLocal.unionByName(missing)
      .select(col("branch"),
        (col("branch") * finePerBranch + col("cid")).as("cid"), col("cv"))
    val fineRouted = pinned(
      withNorm(fineT, "cv", "ncv")
        .select(col("cid"), col("branch"), col("cv"), col("ncv"))
        .repartition(col("branch")))
    sample.unpersist()
    onStage("train", (System.nanoTime() - tTrain) / 1e9)
    val coarse = broadcast(
      withNorm(coarseT.select(col("cid").as("branch"), col("cv").as("bv")),
        "bv", "nbv"))
    (coarse, fineRouted)
  }

  /** The kNN-graph build under a HIERARCHICAL coarse quantizer — the
    * production shape once `numCells` tracks the corpus (numCells ≈
    * N/cellTarget, the scale rule above), where the flat quantizer's two
    * remnants turn super-linear: its assignment scores N × numCells
    * centroid pairs (= N²/cellTarget) and its `broadcast(centroids)`
    * ships an O(N) table to every executor.
    *
    * Two-level assignment (the standard IVF fix):
    *
    *  1. `numCoarse = ⌈√numCells⌉` COARSE centroids are the only broadcast
    *     — O(√numCells), i.e. O(√(N/cellTarget)): ~4k rows at a billion
    *     vectors, where the flat broadcast would be ~16M.
    *  2. Each FINE centroid routes to its best coarse branch (numCells ×
    *     numCoarse scores over the numCells-row table — never broadcast;
    *     it shuffles by branch key).
    *  3. Each vector scores the coarse table (N × √numCells) and keeps
    *     its best `coarseProbe` branches, then ranks only the fine
    *     centroids INSIDE those branches via a branch-keyed shuffle join
    *     (N × coarseProbe × √numCells scores).
    *
    * Total assignment work: N·(1 + coarseProbe)·√numCells vs the flat
    * N·numCells — the N^1.5/√cellTarget vs N²/cellTarget trade every
    * production IVF makes; no O(N) broadcast remains anywhere on the
    * build path. With `coarseProbe ≥ numCoarse` the branch filter is
    * exhaustive and the ranking is IDENTICAL to the flat quantizer's
    * (same scores, same ties) — the spec pins that equality; at the
    * default `coarseProbe = 2` a vector near a branch boundary may rank a
    * slightly different cell set, the standard hierarchical-IVF recall
    * trade, measured in SCALE.md (round 13).
    *
    * Same tail as [[knnGraphFromIndex]] ([[graphFromRanked]]): the
    * cell-partitioned parquet index, the probe join riding the cell key,
    * the bounded top-k reduce.
    *
    * `fineTrainIters > 0` switches BOTH layers to the TRAINED quantizer
    * ([[trainedQuantizer]] — round 15, the production seeding for
    * clustered corpora): cells are k-means-sized by the data instead of
    * seeded from the id prefix, `coarseTrainIters` is subsumed (both
    * layers train `fineTrainIters` Lloyd iterations), and
    * `samplePerCell` bounds the training sample (~samplePerCell·numCells
    * vectors). The prefix modes remain for the oracle-pinned small-SF
    * twins and the seeding ablations (SCALE.md r15). */
  private[graft] def knnGraphHierarchical(vecs: DataFrame, k: Int,
      numCells: Int, nprobe: Int, idxDir: String, coarseProbe: Int = 2,
      coarseTrainIters: Int = 0, fineTrainIters: Int = 0,
      samplePerCell: Int = 8, probeMassQuota: Int = 0,
      fineCellCapFactor: Double = 2.0,
      onStage: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    val (e, ranked) = hierarchicalRanked(vecs, numCells, nprobe, coarseProbe,
      coarseTrainIters, fineTrainIters, samplePerCell, fineCellCapFactor,
      onStage)
    graphFromRanked(e, ranked, k, idxDir, onStage, probeMassQuota)
  }

  /** Quantizer training + cell ranking of [[knnGraphHierarchical]], split
    * out (r16) so one trained build can feed several probe passes:
    * returns the PINNED (e, ranked) pair [[graphFromRanked]] (or
    * [[writeIndex]] + [[probeRankFromIndex]]) consumes. The caller owns
    * the pins. */
  private def hierarchicalRanked(vecs: DataFrame,
      numCells: Int, nprobe: Int, coarseProbe: Int,
      coarseTrainIters: Int, fineTrainIters: Int,
      samplePerCell: Int, fineCellCapFactor: Double,
      onStage: (String, Double) => Unit): (DataFrame, DataFrame) = {
    val e = pinned(withNorm(
      vecs.select(col("vec_id"), quant(col("embedding")).as("qv")),
      "qv", "nq"))
    val t0 = System.nanoTime()
    val numCoarse = math.max(1, math.ceil(math.sqrt(numCells.toDouble)).toInt)
    // (coarse broadcast, fine routing table): both layers TRAINED when
    // fineTrainIters > 0 — the production seeding (r14's ×100 finding:
    // prefix-seeded fine cells pile a CLUSTERED corpus into few cells and
    // the probe join goes quadratic) — else the prefix-seeded fine layer
    // with an optionally trained coarse layer (the oracle-adjacent twin).
    val (coarse, fineRouted) =
      if (fineTrainIters > 0)
        trainedQuantizer(e, numCells, numCoarse, fineTrainIters,
          samplePerCell, fineCellCapFactor, onStage)
      else {
    // coarse centroids: corpus-prefix vectors by default (the flat twin's
    // seeding rule), or — coarseTrainIters > 0 — TRAINED by quantized
    // Lloyd's over the FINE-centroid table (numCells rows, the exact
    // population the coarse layer routes): k-means balances the branches,
    // so a vector's best fine cells concentrate in fewer branches and
    // the default-probe coverage rises. Training cost is
    // iters × numCells × numCoarse integer distances with an O(numCoarse)
    // broadcast per iteration — the routing step's own shape; still no
    // O(N) broadcast anywhere on the build path.
    val coarseCents =
      if (coarseTrainIters > 0) {
        val tTrain = System.nanoTime()
        // eager: fitQuantized localCheckpoints each Lloyd iteration
        val trained = graft.functions.KMeans.fitQuantized(
          e.filter(col("vec_id") < numCells)
            .select(col("vec_id").as("id"), col("qv")),
          numCoarse, coarseTrainIters)
        onStage("coarse_train", (System.nanoTime() - tTrain) / 1e9)
        withNorm(trained.select(col("cid").as("vec_id"), col("cv").as("qv")),
          "qv", "nq")
      } else
        e.filter(col("vec_id") < numCoarse)
    val coarsePrefix = broadcast(coarseCents
      .select(col("vec_id").as("branch"), col("qv").as("bv"),
        col("nq").as("nbv")))
    // fine-centroid → branch routing table: numCells rows riding a
    // branch-keyed shuffle (same deterministic argmax contract as the
    // vector assignment: cos desc, smaller id on ties)
    val routed = pinned(
      rankTopCells(
        e.filter(col("vec_id") < numCells)
          .join(coarsePrefix)
          .select(col("vec_id"), col("branch").as("cid"),
            cosPre(dot(col("qv"), col("bv")), col("nq"), col("nbv")).as("ccos")),
        1)
        .select(col("vec_id").as("cid"), col("cid").as("branch"))
        .join(e.select(col("vec_id").as("cid"), col("qv").as("cv"),
          col("nq").as("ncv")), "cid")
        .repartition(col("branch")))
    (coarsePrefix, routed)
      }
    // vector → best coarseProbe branches (N × √numCells, broadcast join)
    val vBranches = rankTopCells(
      e.join(coarse)
        .select(col("vec_id"), col("branch").as("cid"),
          cosPre(dot(col("qv"), col("bv")), col("nq"), col("nbv")).as("ccos")),
      coarseProbe)
      .select(col("vec_id"), col("cid").as("branch"))
    // fine ranking only within the matched branches: a branch-keyed
    // SHUFFLE join (never a broadcast of the fine table), then the same
    // bounded top-nprobe reduce as the flat path
    val ranked = pinned(rankTopCells(
      vBranches
        .join(e, "vec_id")
        .join(fineRouted, "branch")
        .select(col("vec_id"), col("cid"),
          cosPre(dot(col("qv"), col("cv")), col("nq"), col("ncv")).as("ccos")),
      nprobe))
    onStage("assign", (System.nanoTime() - t0) / 1e9)
    fineRouted.unpersist()
    (e, ranked)
  }

  // ------------------------------------------------------------------
  // Trained coarse quantizer: 2 Lloyd iterations of quantized k-means
  // (graft.functions.KMeans.fitQuantized) — integer distances and floor-of-
  // integer-mean updates make every training step order-independent, so the
  // ENTIRE training loop is oracle-checked (the SQL unrolls the same two
  // iterations as CTEs). Output: per-cell population + inertia, which any
  // centroid drift would perturb.
  private val KmIters = 2

  private def kmeansIterSql(j: Int): String =
    s"""assigned$j AS (
       |  SELECT vec_id, cell, dist2 FROM (
       |    SELECT vec_id, cell, dist2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
       |    FROM (
       |      SELECT q.vec_id, c.cid AS cell,
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT) AS dist2
       |      FROM q, cents$j c))
       |  WHERE rn = 1),
       |upd$j AS (
       |  SELECT cell AS cid, list(m ORDER BY dim) AS cv FROM (
       |    SELECT a.cell, t.i AS dim,
       |      CAST((SUM(q.v[t.i])
       |            - ((SUM(q.v[t.i]) % COUNT(*)) + COUNT(*)) % COUNT(*))
       |           // COUNT(*) AS BIGINT) AS m
       |    FROM assigned$j a
       |    JOIN q ON q.vec_id = a.vec_id
       |    CROSS JOIN range(1, 65) t(i)
       |    GROUP BY a.cell, t.i)
       |  GROUP BY cell),
       |cents${j + 1} AS (
       |  SELECT cid, cv FROM upd$j
       |  UNION ALL
       |  SELECT c.cid, c.cv FROM cents$j c
       |  WHERE c.cid NOT IN (SELECT cid FROM upd$j))""".stripMargin

  /** The trained-quantizer assignment CTE chain (q → cents0 → KmIters
    * Lloyd iterations → final_assign), shared by `sim_kmeans_cells` and
    * `sim_outlier_filter` so both audit the identical trained model. */
  private def kmeansOracleCtes: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |cents0 AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < $K),
      |${(0 until KmIters).map(kmeansIterSql).mkString(",\n")},
      |final_assign AS (
      |  SELECT vec_id, cell, dist2 FROM (
      |    SELECT vec_id, cell, dist2,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
      |    FROM (
      |      SELECT q.vec_id, c.cid AS cell,
      |        CAST(list_sum(list_transform(range(1, 65),
      |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT) AS dist2
      |      FROM q, cents$KmIters c))
      |  WHERE rn = 1)""".stripMargin

  /** vectors → (id, cell, dist2) under the trained quantizer — the Spark
    * mirror of [[kmeansOracleCtes]]. Session-memoized (SessionMemo): the
    * Lloyd training drive is multiple jobs with driver collects, and both
    * `sim_kmeans_cells` and `sim_outlier_filter` consume the identical
    * model — "reuses the identical trained-quantizer assignment" means
    * the computation, not just the definition. Checkpointed WITHOUT the
    * qv vectors (three longs per row). */
  private val trainedAssignment = new graft.SessionMemo[DataFrame]({ (s, dir) =>
    val vecs = Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("id"), quant(col("embedding")).as("qv"))
    val cents = graft.functions.KMeans.fitQuantized(vecs, K, KmIters)
    graft.functions.KMeans.assignQuantized(vecs, cents)
      .select(col("id"), col("cell"), col("dist2"))
      .localCheckpoint(true)
  })

  val kmeansCells: Q = Q(
    "sim_kmeans_cells",
    (s, dir) => trainedAssignment(s, dir)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("dist2")).as("inertia"))
        .orderBy(col("cell")),
    Some(s"""$kmeansOracleCtes
      |SELECT cell, COUNT(*) AS n, CAST(SUM(dist2) AS BIGINT) AS inertia
      |FROM final_assign GROUP BY cell ORDER BY cell""".stripMargin))

  // ------------------------------------------------------------------
  // Embedding outlier filter — the curation step that removes vectors far
  // from their cluster's mass (mislabeled scrapes, encoder failures, OCR
  // noise) before they poison dedup thresholds or ANN training: a vector
  // is an outlier when its squared distance to its TRAINED cell centroid
  // exceeds 21/20 of the cell's mean — evaluated as the integer
  // cross-multiplication dist2 · n_cell · 20 > 21 · sum_d2, so the
  // verdict is exact (no division, no doubles). The tight rational bar
  // reflects 64-d distance concentration (measured max ratio ≈ 1.08 on
  // this corpus; a 2× bar never fires in high dimensions — the classic
  // curse-of-dimensionality pitfall of absolute outlier thresholds).
  // Reuses the identical trained-quantizer assignment `sim_kmeans_cells`
  // audits.
  //
  // 100 TB shape: assignment is the broadcast-centroid join + per-vector
  // argmin (narrow); the per-cell stats table is K rows, broadcast back;
  // the verdict is a scan-speed boolean. Nothing shuffles the vectors.
  private val OutNum = 21
  private val OutDen = 20

  val outlierFilter: Q = Q(
    "sim_outlier_filter",
    (s, dir) => {
      val assigned = trainedAssignment(s, dir)
      val stats = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_cell"), sum(col("dist2")).as("sum_d2"))
      assigned.join(broadcast(stats), "cell")
        .select(col("id").as("vec_id"), col("cell"), col("dist2"),
          col("n_cell"),
          (col("dist2") * col("n_cell") * OutDen > lit(OutNum.toLong) * col("sum_d2"))
            .as("is_outlier"))
        .orderBy(col("vec_id"))
    },
    Some(s"""$kmeansOracleCtes,
      |stats AS (
      |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cell,
      |    CAST(SUM(dist2) AS BIGINT) AS sum_d2
      |  FROM final_assign GROUP BY cell)
      |SELECT a.vec_id, a.cell, a.dist2, s.n_cell,
      |  a.dist2 * s.n_cell * $OutDen > $OutNum * s.sum_d2 AS is_outlier
      |FROM final_assign a JOIN stats s ON s.cell = a.cell
      |ORDER BY a.vec_id""".stripMargin))

  // ------------------------------------------------------------------
  // Persisted IVF index, served with partition pruning — the shape the
  // Scaladoc above PROMISES for 100 TB ("the cell assignment is the
  // partition key of the stored index") made literal: build writes the
  // assignment parquet PARTITIONED BY cell; serving filters the index scan
  // to the probed cells (a bounded ≤K literal set the prober knows at plan
  // time), so the scan LISTS AND READS only nprobe directories of K. The
  // probe-side join is broadcast. Same probes, same ranking, same result
  // as sim_ivf_topk — shares its oracle verbatim, so "pruning changed no
  // row" is driver-hash-checked at both SFs; the pruning itself is pinned
  // by spec on PartitionFilters + the scan's partitionCount.

  /** Write the cell-partitioned index. One shuffle (cluster by cell) keeps
    * it to ≤1 file per cell per task wave — same discipline as the
    * bucketed CDC sinks. */
  def buildCellIndex(e: DataFrame, cents: DataFrame, idxDir: String): Unit = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    e.join(cents)
      .withColumn("ccos", cos(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"), col("qv"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(idxDir)
  }

  /** The serving half: probe the cell-partitioned index at `idxRoot` with
    * partition pruning and exact-rank inside the probed cells. Returns the
    * result MATERIALIZED (localCheckpoint) so the caller may delete the
    * index directory afterwards. */
  private def serveFromIndex(s: org.apache.spark.sql.SparkSession,
      e: DataFrame, cents: DataFrame, idxRoot: String): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val probes = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .join(cents)
      .withColumn("ccos", cos(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("qid"), col("qv").as("q"), col("cid").as("cell"))
      .localCheckpoint() // tiny (queries × nprobe); computed once
    // the probed-cell set is bounded by K (=8) — a plan-time literal,
    // like the touched-bucket collects on the CDC sinks
    val probeCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq

    val idx = s.read.parquet(idxRoot)
      .filter(col("cell").isin(probeCells: _*)) // partition pruning
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("vec_id"))
    broadcast(probes).join(idx, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("ccos", cos(col("q"), col("qv")))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("vec_id").as("cid"), col("rk"), col("ccos").as("cos"))
      .orderBy(col("qid"), col("rk"))
      .localCheckpoint() // materialize through the pruned scan, then GC
  }

  val ivfServed: Q = Q(
    "sim_ivf_served",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), quant(col("embedding")).as("qv"))
      val cents = broadcast(
        e.filter(col("vec_id") < K).select(col("vec_id").as("cid"), col("qv").as("cv")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-index")
      buildCellIndex(e, cents, tmp.toString)
      val out = serveFromIndex(s, e, cents, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      out
    },
    ivfTopK.oracle)

  /** The same serve routed through [[graft.streaming.VectorIndexStream
    * .IndexHome]]'s generation pointer: build into the initial generation,
    * compact-and-cutover (atomic pointer swap + old-generation GC), then
    * serve whatever root the pointer resolves to. Shares the oracle — the
    * driver hash proves the cutover machinery changed no row; the crash
    * contract is pinned by `VectorIndexStreamSpec`. */
  val ivfServedCutover: Q = Q(
    "sim_ivf_served_cutover",
    (s, dir) => {
      import graft.streaming.VectorIndexStream.IndexHome
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), quant(col("embedding")).as("qv"))
      val cents = broadcast(
        e.filter(col("vec_id") < K).select(col("vec_id").as("cid"), col("qv").as("cv")))
      val home = java.nio.file.Files.createTempDirectory("graft-ivf-home")
      buildCellIndex(e, cents, IndexHome.init(home.toString))
      val root = IndexHome.compactCutover(s, home.toString)
      require(root.endsWith("gen-1") &&
        IndexHome.resolveRoot(home.toString).contains(root),
        s"cutover did not advance the pointer: $root")
      val out = serveFromIndex(s, e, cents, root)
      org.apache.commons.io.FileUtils.deleteDirectory(home.toFile)
      out
    },
    ivfTopK.oracle)

  /** Shared drives for the bench's `drive:*` pseudo-entries (see
    * [[graft.cdc.CdcQueries.drives]]). */
  private[graft] val drives
      : Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    Seq(
      "drive:sim_kmeans" -> ((s, d) => { trainedAssignment(s, d); () }),
      "drive:sim_knn_edges" -> ((s, d) => { knnEdgesShared(s, d); () }),
      "drive:sim_trained_graph" ->
        ((s, d) => { trainedGraphShared(s, d); () }),
      "drive:graph_communities_labels" ->
        ((s, d) => { communityLabels(s, d); () }))

  val all: Seq[Q] = Seq(ivfTopK, annRecall, knnClassify, knnGraph,
    knnCommunities, knnCommunityQuality, knnCommunitiesRefined,
    knnCommunitiesL2, knnCommunitiesMultilevel, knnCommunitiesConverged,
    knnCommunityExemplars, trainedRecall, ivfQuota,
    kmeansCells, outlierFilter, ivfServed, ivfServedCutover)
}
