package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exactness baseline, hyperplane-LSH
  * bucketed ANN as the scale path, and embedding-cosine near-dup pairs.
  *
  * Scale design:
  *  - `simTopK` broadcasts the (small) query set against the corpus — a
  *    BroadcastNestedLoopJoin that scans the corpus once; per-query top-k is
  *    a window over the query id. Exact, O(|Q| * N): the baseline.
  *  - `simLshAnn` / `embeddingPairs` hash every vector into sign-pattern
  *    buckets of random hyperplanes (L tables x b bits; b grows with log N
  *    cluster-side) and only compares bucket-mates: candidate generation is
  *    a shuffle join on the bucket key, never a cartesian product.
  *
  * Determinism/portability: hyperplane weights derive from md5 computed at
  * plan-build time (same values embedded into the DuckDB oracle), and every
  * dot product is the same left-fold over double-cast elements in both
  * engines, so doubles — and therefore signs, roundings and rankings — match
  * bit-for-bit. Zero UDFs: the one hot-loop kernel is a native Catalyst
  * expression (graft.functions.ArrayDot) that stays in whole-stage codegen.
  */
object Similarity {

  /** Ordered-fold dot product (native fused loop — Spark's higher-order
    * `aggregate`/`zip_with` are CodegenFallback, i.e. an interpreted lambda
    * plus an array allocation per pair; graft.functions.ArrayDot keeps the
    * identical left-fold double math inside whole-stage codegen).
    */
  def dotD(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.arrayDot(a, b)

  /** (id, ne): unit-normalised double vectors. Normalising ONCE per vector
    * turns every pairwise cosine downstream into a single dot fold — at
    * millions of candidate pairs that is 3x fewer folds and no per-pair
    * sqrt. The norm rides as a separate projection so it is computed once,
    * not per element.
    */
  def normalized(df: DataFrame, id: String, emb: String): DataFrame =
    df.select(col(id), col(emb))
      .withColumn("_norm", sqrt(dotD(col(emb), col(emb))))
      .select(col(id), transform(col(emb), x => x.cast("double") / col("_norm")).as("ne"))

  /** Embedding-store health audit — the table-level check run before any
    * index build: per label, the vector count, the dims range (ragged
    * arrays break every ANN index downstream) and the squared-norm range
    * (zero-norm rows break cosine; runaway norms flag encoder bugs), plus
    * a NaN-vector count. One map-side-combined hash agg over a zero-
    * shuffle projection; every aggregate is order-free (count/min/max/
    * integer sum), so the doubles need no rounding — the row-local norm
    * fold is the same IEEE left fold in both engines ([[dotD]] /
    * `list_reduce`), and min/max of identical doubles are bitwise
    * portable at any partitioning.
    */
  def embProfile(df: DataFrame, labelCol: String, emb: String): DataFrame =
    df.select(col(labelCol).cast("long").as("label"),
        size(col(emb)).cast("long").as("dims"),
        dotD(col(emb), col(emb)).as("n2"),
        when(exists(col(emb), x => isnan(x)), 1L).otherwise(0L).as("bad"))
      // NaN norms are EXCLUDED from the range (they are counted in
      // n_nan_vecs): engines disagree on NaN's place in min/max ordering,
      // and a poisoned range tells the auditor nothing anyway
      .withColumn("n2", when(isnan(col("n2")), lit(null)).otherwise(col("n2")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("dims").as("min_dims"), max("dims").as("max_dims"),
        min("n2").as("min_norm2"), max("n2").as("max_norm2"),
        sum("bad").as("n_nan_vecs"))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic pseudo-random hyperplanes: weight = first md5 nibble of
    * "table|plane|dim" centered to [-7.5, 7.5]. Reproducible in SQL text.
    */
  def planes(tables: Int, bits: Int, dims: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => (0 until bits).map(p => (0 until dims).map(j =>
      Character.digit(md5hex(s"$t|$p|$j").charAt(0), 16) - 7.5)))

  /** Sign-pattern bucket string of one table's hyperplanes. */
  def bucketSig(e: Column, table: Seq[Seq[Double]]): Column =
    concat(table.map { w =>
      when(dotD(e, array(w.map(lit): _*)) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** One row per (vector, table): (id, emb, t, bucket). */
  def lshBuckets(df: DataFrame, id: String, emb: String,
                 tabs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sigs = tabs.zipWithIndex.map { case (tab, t) =>
      struct(lit(t).as("t"), bucketSig(col(emb), tab).as("bucket"))
    }
    df.select(col(id), col(emb), explode(array(sigs: _*)).as("tb"))
      .select(col(id), col(emb), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** Exact brute-force cosine top-k: broadcast the (pre-normalised) query
    * set, one dot fold per (corpus row, query), window rank per query on
    * (rounded cosine desc, neighbor id) — rounding first makes the ranking
    * reproducible across engines.
    */
  def simTopK(corpus: DataFrame, queriesDf: DataFrame, id: String, emb: String,
              k: Int, prebuiltNrm: Option[DataFrame] = None): DataFrame = {
    val q = broadcast(normalized(queriesDf, id, emb)
      .select(col(id).as("query_id"), col("ne").as("qe")))
    val c = prebuiltNrm.getOrElse(normalized(corpus, id, emb))
      .select(col(id).as("neighbor_id"), col("ne").as("ce"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("ce")), 4).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** ANN: top-k among LSH bucket-mates only (recall < 1 by design — the
    * oracle mirrors the same buckets, so results still compare exactly).
    *
    * `multiProbe` additionally probes, on the QUERY side only, every
    * bucket at hamming distance 1 from the query's own (one sign flipped)
    * — the standard multi-probe LSH recall lift: a near neighbor that
    * lands one hyperplane away is still found, at (bits+1)× candidate
    * fanout on the tiny query side and ZERO extra cost on the corpus side
    * (no extra tables, no wider corpus shuffle).
    */
  /** Shared candidate generation + exact scoring of the query-set LSH
    * family ([[simLshAnn]], [[simRangeSearch]]): bucket-mate candidate
    * pairs travel as bare (query_id, neighbor_id) ints — the wide
    * embedding arrays are joined back only AFTER the distinct, so the
    * bucket self-join shuffle stays narrow. `multiProbe` additionally
    * probes, on the QUERY side only, every bucket at hamming distance 1
    * (one sign flipped) — the standard multi-probe recall lift at
    * (bits+1)× fanout on the tiny query side and ZERO extra corpus
    * cost. Query-side candidates are |Q|-bounded: broadcast them (and
    * the candidates⋈queries intermediate) so the corpus vectors are
    * scanned, never shuffled — same shape as rerankExact.
    */
  /** The bucket string plus its `bits` hamming-1 variants (one sign
    * flipped) — the multi-probe LSH fan shared by the query-set family,
    * the knn-graph init and the beam-search seeds. */
  private[operators] def hamming1Variants(bits: Int): Seq[Column] =
    col("bucket") +: (0 until bits).map { i =>
      concat(substring(col("bucket"), 1, i),
        when(substring(col("bucket"), i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 2, bits))
    }

  private def lshScoredCandidates(df: DataFrame, id: String, emb: String,
                                  queryPred: Column, tabs: Seq[Seq[Seq[Double]]],
                                  multiProbe: Boolean): DataFrame = {
    // b feeds the query side AND the corpus side, n the two vector
    // join-backs — lazy, each pair re-ran the scan + projection per
    // reference (r15); one narrow checkpoint each (the (id, ne) table
    // is what FAISS-class systems hold resident anyway)
    val b = graft.CacheScope.register(
      lshBuckets(df, id, emb, tabs).select(col(id), col("t"), col("bucket"))
        .localCheckpoint(true))
    val qOwn = b.filter(queryPred)
    val q = (if (!multiProbe) qOwn else {
      qOwn.withColumn("bucket",
        explode(array(hamming1Variants(tabs.head.size): _*)))
    }).select(col(id).as("query_id"), col("t"), col("bucket"))
    val c = b.select(col(id).as("neighbor_id"), col("t").as("t2"), col("bucket").as("bucket2"))
    val cand = q.join(c, col("t") === col("t2") && col("bucket") === col("bucket2") &&
        col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val n = graft.CacheScope.register(
      normalized(df, id, emb).localCheckpoint(true))
    broadcast(
        n.select(col(id).as("query_id"), col("ne").as("qe"))
          .join(broadcast(cand), "query_id"))
      .join(n.select(col(id).as("neighbor_id"), col("ne").as("ce")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("ce")), 4).as("cos_sim"))
  }

  def simLshAnn(df: DataFrame, id: String, emb: String, queryPred: Column,
                tabs: Seq[Seq[Seq[Double]]], k: Int,
                multiProbe: Boolean = false): DataFrame = {
    val scored = lshScoredCandidates(df, id, emb, queryPred, tabs, multiProbe)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Per-row nearest-centroid ranking as a PURE PROJECTION: the centroid
    * set is embedded as literals (centroids are metadata — tiny by
    * construction), each row scores every centroid in-expression and
    * `array_sort` of (sortKey, cid) structs ranks them. `_nn` holds the
    * nProbe best (cid, csim) pairs, best first. ZERO shuffle — the round-2
    * plan (crossJoin + row_number window) shuffled N×C scored rows to rank
    * centroids per vector, the dominant avoidable cost at scale.
    *
    * Sort key: `2.0 - csim` ascending == csim descending (monotonic; avoids
    * negation's -0.0 ambiguity), ties broken by cid ascending — exactly the
    * old window's (csim DESC, cid ASC) order.
    */
  def ivfAssign(nrm: DataFrame, cents: Seq[(Any, Seq[Double])],
                nProbe: Int, euclid: Boolean = false): DataFrame = {
    require(cents.nonEmpty, "ivfAssign needs at least one centroid")
    val scored = cents.map { case (cid, ce) =>
      // euclid: centroids aren't unit vectors (k-means output), so nearest
      // by L2 = argmax(dot - |c|²/2). Unrounded — the oracle replays the
      // identical fold AND the identical `2.0 - score` sort key, so even
      // an ulp-level key collapse resolves to the same cid on both sides.
      val score =
        if (euclid) dotD(col("ne"), array(ce.map(lit): _*)) - lit(ce.map(x => x * x).sum / 2)
        else round(dotD(col("ne"), array(ce.map(lit): _*)), 4)
      struct((lit(2.0) - score).as("k"), lit(cid).as("cid"))
    }
    nrm.withColumn("_nn", slice(array_sort(array(scored: _*)), 1, nProbe))
  }

  /** Embedding OUTLIER screen — the index-hygiene pass run between
    * [[embProfile]] and any ANN build: vectors far from every cluster
    * centroid are encoder failures, wrong-modality rows or garbage
    * inputs, and they poison both recall measurements and k-means
    * updates. Score = cosine to the assigned (nearest-by-L2) centroid's
    * DIRECTION; flag when below `tau`. Zero-shuffle: assignment and
    * scoring are one projection over broadcast literal centroids —
    * outlier screening at 100 TB is a map. Portability: the centroid
    * squared-norm is folded left-to-right in Scala (same order as the
    * oracle's list_reduce), sqrt/divide are IEEE-correctly-rounded, so
    * the rounded score replays exactly.
    */
  def embOutliers(df: DataFrame, id: String, emb: String,
                  cents: Seq[(Any, Seq[Double])], tau: Double): DataFrame = {
    val nrm = normalized(df, id, emb)
    val a = ivfAssign(nrm, cents, nProbe = 1, euclid = true)
      .select(col(id), col("ne"), col("_nn")(0)("cid").as("cid"))
    val cosByCid = cents.map { case (cid, ce) =>
      val sumsq = ce.map(x => x * x).sum
      (cid, round(dotD(col("ne"), array(ce.map(lit): _*)) / lit(math.sqrt(sumsq)), 4))
    }
    val cosExpr = cosByCid.tail.foldLeft(
      when(col("cid") === lit(cosByCid.head._1), cosByCid.head._2)) {
      case (acc, (cid, e)) => acc.when(col("cid") === lit(cid), e)
    }
    a.select(col(id), col("cid"), cosExpr.as("cos_c"))
      .withColumn("is_outlier", col("cos_c") < tau)
  }

  /** Trivial centroid choice: the vectors matching `centPred` (a
    * deterministic subset — the structural baseline [[kmeansCentroids]]
    * refines). The sort is lexicographic on the id's string form: it only
    * stabilises the literal layout (ranking is order-independent). */
  def subsetCentroids(nrm: DataFrame, id: String, centPred: Column): Seq[(Any, Seq[Double])] =
    nrm.filter(centPred).select(col(id), col("ne")).collect().toSeq
      .map(r => (r.get(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1.toString)

  /** Lloyd-iterated k-means centroids, engine-portable by construction:
    *
    *  - init: the `c` lowest-id normalized vectors (cid = their id);
    *  - assignment: per-row argmax of `dot(ne, ce) - |ce|²/2` (nearest by
    *    L2) over BROADCAST LITERAL centroids — [[ivfAssign]]'s zero-shuffle
    *    projection, never a crossJoin shuffle;
    *  - update: element means computed in EXACT integer arithmetic —
    *    elements quantized to 1e-6 (`floor(x*1e6 + 0.5)`), summed as
    *    longs (order-free, exact), mean = `floor(s/n + 0.5) / 1e6`. Double
    *    summation order can differ between engines by ~1e-16 and flip
    *    downstream roundings; exact integer sums cannot. Quantizing inputs
    *    at 1e-6 is far below any clustering-relevant signal.
    *  - empty clusters keep their previous centroid.
    *
    * TRAINING RUNS ON A SAMPLE — the production shape, coded not prose:
    * Lloyd iterations see only the deterministic md5-draw subset (the
    * sample_hash_split 16-bit draw on the id, rate
    * [[Similarity.kmeansSampleRate]], init vectors always included so
    * c0 is sample-independent), while ASSIGNMENT of the full corpus is
    * unchanged. At 100 TB the per-iteration pass thus touches a fixed
    * fraction (tunable to an absolute cap) instead of the corpus; the
    * oracle samples in-SQL with the identical draw, so exact replay
    * holds. Each iteration is one projection + one (cid, pos) hash-agg
    * over sample×dims rows collected to C×dims values — centroids are
    * metadata.
    */
  def kmeansCentroids(nrm: DataFrame, id: String, c: Int,
                      iters: Int): Seq[(Any, Seq[Double])] = {
    val draw = conv(substring(md5(col(id).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    val train = nrm.filter(draw < lit(kmeansSampleCut) || col(id) < c)
    var cents: Seq[(Long, Seq[Double])] = nrm.filter(col(id) < c)
      .select(col(id), col("ne")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(train, cents, nProbe = 1, euclid = true)
        .select(col("_nn")(0)("cid").as("cid"), col("ne"))
      val sums = assigned
        .select(col("cid"), posexplode(col("ne")).as(Seq("pos", "x")))
        .withColumn("sx", floor(col("x") * lit(1000000.0) + lit(0.5)).cast("long"))
        .groupBy("cid", "pos")
        .agg(sum("sx").as("s"), count(lit(1)).as("n"))
        .collect()
      val fresh: Map[Long, Seq[Double]] = sums.groupBy(_.getLong(0)).map {
        case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).toSeq
            .map(r => math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5) / 1000000.0)
      }
      cents = cents.map { case (cid, old) => (cid, fresh.getOrElse(cid, old)) }
    }
    cents
  }

  /** IVF-style ANN: assign every vector to its nearest coarse centroid
    * (the inverted lists), probe the query's nProbe nearest lists, rank
    * candidates by exact cosine. List assignment is [[ivfAssign]] — a
    * zero-shuffle projection over broadcast centroid literals (one tiny
    * collect at plan build; centroids are metadata) — and querying touches
    * only the probed lists, the IVF scale contract. Centroids come from
    * [[kmeansCentroids]] (euclid = true) or [[subsetCentroids]].
    */
  /** The inverted-list table (id, vector, list id) — an INDEX ARTIFACT:
    * corpus-invariant, built once per (corpus, centroids) and queried many
    * times (the FAISS contract). Callers pass it prebuilt (see
    * [[cachedIndex]]) or let the query build it inline.
    */
  def ivfListsTable(nrm: DataFrame, id: String, cents: Seq[(Any, Seq[Double])],
                    euclid: Boolean): DataFrame =
    ivfAssign(nrm, cents, nProbe = 1, euclid)
      .select(col(id).as("neighbor_id"), col("ne").as("ce2"),
        col("_nn")(0)("cid").as("cid"))

  /** `neighborPred` is the FILTERED-ANN path (vector search with a
    * metadata predicate — "top-k among label=2 only"): the predicate
    * applies to the posting-lists scan BEFORE any scoring, so pruned
    * rows cost a codegen'd comparison, not a dot product. Real vector
    * stores denormalize the filter columns into the index for exactly
    * this pushdown; callers here pass prebuilt lists carrying the
    * metadata column. Selective predicates thin each probed list, so
    * recall against the filtered ground truth is recovered by probing
    * MORE lists (raise nProbe) — the standard filtered-search knob.
    */
  def simIvfAnn(df: DataFrame, id: String, emb: String,
                cents: Seq[(Any, Seq[Double])], queryPred: Column,
                nProbe: Int, k: Int, euclid: Boolean = false,
                prebuiltLists: Option[DataFrame] = None,
                neighborPred: Option[Column] = None): DataFrame = {
    val nrm = normalized(df, id, emb)
    val lists0 = prebuiltLists.getOrElse(ivfListsTable(nrm, id, cents, euclid))
    val lists = neighborPred.map(lists0.filter).getOrElse(lists0)
    // only QUERY rows need the nProbe-deep assignment — assign after the
    // predicate, not the whole corpus
    val probes = ivfAssign(nrm.filter(queryPred), cents, nProbe, euclid)
      .select(col(id).as("query_id"), col("ne").as("qe"),
        explode(transform(col("_nn"), s => s("cid"))).as("cid"))
    // probe side = queries × nProbe: tiny — broadcast it so the lists scan
    // never shuffles
    val scored2 = lists.join(broadcast(probes), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("ce2")), 4).as("cos_sim"))
      .distinct()
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored2.withColumn("rank", row_number().over(w2).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Product-quantization codebooks: the vector space is split into `m`
    * `subDims`-wide subspaces and each gets its own `ks`-centroid k-means
    * codebook. Codebooks are metadata: m × ks × subDims doubles
    * (8×16×8 = 1 KB here), broadcast as literals everywhere they're used.
    *
    * All m subspaces train TOGETHER, one SAMPLE pass per Lloyd iteration
    * (the same md5-draw training sample as [[kmeansCentroids]], init
    * rows always included — encoding of the full corpus is unchanged):
    * a single projection assigns every sampled row its nearest code in
    * every subspace (argmin over that subspace's literal centroids — the
    * [[ivfAssign]] sort-key arithmetic per subspace), one explode emits
    * (subspace, cid, pos, element) and ONE hash-agg sums the exact
    * 1e-6-quantized elements. The per-subspace-loop shape ran m separate
    * k-means jobs that each re-scanned the corpus — 8× the index-build
    * scans for identical output (same IEEE op sequence element-wise, so
    * the unrolled per-subspace oracle CTEs replay this training
    * unchanged).
    */
  def pqCodebooks(nrm: DataFrame, id: String, m: Int, subDims: Int,
                  ks: Int, iters: Int): Seq[Seq[(Any, Seq[Double])]] = {
    // init: per subspace, the ks lowest-id vectors' sub-slices (cid = id)
    val seed = nrm.filter(col(id) < ks).select(col(id), col("ne")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    var cbs: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { s =>
      seed.map { case (cid, v) => (cid, v.slice(s * subDims, (s + 1) * subDims)) }
    }
    // training sees the same md5-draw sample as kmeansCentroids (init
    // rows always included); ENCODING of the full corpus is unchanged.
    // Same production rationale, same in-oracle replay of the draw.
    val draw = conv(substring(md5(col(id).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    val train = nrm.filter(draw < lit(kmeansSampleCut) || col(id) < ks)
    for (_ <- 0 until iters) {
      val subCols = (0 until m).map { s =>
        val sub = slice(col("ne"), s * subDims + 1, subDims)
        val scored = cbs(s).map { case (cid, ce) =>
          val score = dotD(sub, array(ce.map(lit): _*)) - lit(ce.map(x => x * x).sum / 2)
          struct((lit(2.0) - score).as("k"), lit(cid).as("cid"))
        }
        struct(lit(s).as("s"),
          array_sort(array(scored: _*))(0)("cid").as("cid"), sub.as("sub"))
      }
      val sums = train.select(explode(array(subCols: _*)).as("sc"))
        .select(col("sc.s").as("s"), col("sc.cid").as("cid"),
          posexplode(col("sc.sub")).as(Seq("pos", "x")))
        .withColumn("sx", floor(col("x") * lit(1000000.0) + lit(0.5)).cast("long"))
        .groupBy("s", "cid", "pos")
        .agg(sum("sx").as("sm"), count(lit(1)).as("n"))
        .collect()
      val fresh: Map[(Int, Long), Seq[Double]] =
        sums.groupBy(r => (r.getInt(0), r.getLong(1))).map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).toSeq
            .map(r => math.floor(r.getLong(3).toDouble / r.getLong(4) + 0.5) / 1000000.0)
        }
      cbs = cbs.zipWithIndex.map { case (cb, s) =>
        cb.map { case (cid, old) => (cid, fresh.getOrElse((s, cid), old)) }
      }
    }
    cbs.map(_.map { case (cid, ce) => (cid: Any, ce) })
  }

  /** PQ-ANN with asymmetric distance (ADC) and exact re-rank — the
    * memory-compression scale path: each corpus vector is stored as `m`
    * byte-sized codes (nearest codebook row per subspace), so the scan
    * state is m bytes/vector instead of dims×4 — at 100 TB of embeddings
    * the codes table is ~32× smaller than the vectors and the scan reads
    * ONLY it.
    *
    * Shapes, all shuffle-minimal:
    *  - encoding: per-subspace argmin over LITERAL codebooks — a
    *    zero-shuffle projection (array_sort of (key, cid, j) structs, the
    *    [[ivfAssign]] pattern per subspace);
    *  - ADC scan: each query precomputes its m×ks dot table ONCE (tiny,
    *    broadcast with the queries); scoring a pair is m array lookups +
    *    adds — no 64-dim fold per pair, the whole point of PQ;
    *  - shortlist: per-query top-`shortlist` by (approx desc, id) — Spark 4
    *    pushes the rank filter map-side (WindowGroupLimit), so only
    *    shortlist×|Q| rows reach the shuffle;
    *  - re-rank: exact cosine on the shortlist only (|Q|×shortlist rows),
    *    final top-k. Approx scores order the shortlist; exact scores order
    *    the answer — the standard IVF-PQ/FAISS refinement contract.
    *
    * Portability: every dot is the shared left fold; the ADC sum is a
    * FIXED-ORDER chain s=0..m-1 (written identically in the oracle), and
    * ranking keys round first — bitwise-reproducible end to end.
    */
  /** Per-subspace nearest-code columns c0..c{m-1} (argmin over literal
    * codebooks — the [[ivfAssign]] zero-shuffle pattern per subspace). */
  private def pqCodeCols(cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int): Seq[Column] =
    cbs.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col("ne"), s * subDims + 1, subDims)
      val scored = cb.zipWithIndex.map { case ((cid, ce), j) =>
        val score = dotD(sub, array(ce.map(lit): _*)) - lit(ce.map(x => x * x).sum / 2)
        struct((lit(2.0) - score).as("k"),
          lit(cid.asInstanceOf[Long]).as("cid"), lit(j).as("j"))
      }
      array_sort(array(scored: _*))(0)("j").as(s"c$s")
    }

  /** Per-query ADC dot tables qt0..qt{m-1}: the query sub-vector against
    * every codebook row, computed once per query row. */
  private def pqQtabCols(cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int): Seq[Column] =
    cbs.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col("ne"), s * subDims + 1, subDims)
      array(cb.map { case (_, ce) => dotD(sub, array(ce.map(lit): _*)) }: _*)
        .as(s"qt$s")
    }

  /** Fixed-order ADC sum s=0..m-1 (the oracle replays the same chain). */
  private def pqApprox(m: Int): Column =
    (0 until m).map(s => element_at(col(s"qt$s"), col(s"c$s") + 1)).reduce(_ + _)

  /** Shortlist (query_id, neighbor_id) pairs re-ranked by EXACT cosine,
    * top-k per query — the shared PQ refinement tail. */
  private def rerankExact(sl: DataFrame, nrm: DataFrame, id: String, k: Int): DataFrame = {
    // The shortlist is |Q|×shortlist ID PAIRS — metadata-sized by
    // construction — but it falls out of a window filter, so Spark has no
    // size estimate and plans sort-merge joins that shuffle the corpus
    // TWICE. Broadcasting the shortlist (and the small shortlist⋈queries
    // intermediate) keeps the corpus table scan-only through the re-rank.
    val withQ = broadcast(
      nrm.select(col(id).as("query_id"), col("ne").as("qe"))
        .join(broadcast(sl), "query_id"))
    val exact = withQ
      .join(nrm.select(col(id).as("neighbor_id"), col("ne").as("ce")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("ce")), 4).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** PQ code table (id, c0..c{m-1}) — index artifact like [[ivfListsTable]]. */
  def pqCodesTable(nrm: DataFrame, id: String,
                   cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int): DataFrame =
    nrm.select(col(id).as("neighbor_id") +: pqCodeCols(cbs, subDims): _*)

  def simPqAnn(df: DataFrame, id: String, emb: String,
               cbs: Seq[Seq[(Any, Seq[Double])]], queryPred: Column,
               subDims: Int, shortlist: Int, k: Int,
               prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    val nrm = normalized(df, id, emb)
    val codes = prebuiltCodes.getOrElse(pqCodesTable(nrm, id, cbs, subDims))
    val q = broadcast(nrm.filter(queryPred)
      .select(col(id).as("query_id") +: pqQtabCols(cbs, subDims): _*))
    val scanned = codes.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pqApprox(cbs.size), 4).as("approx_sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val sl = scanned.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= shortlist)
      .select("query_id", "neighbor_id")
    rerankExact(sl, nrm, id, k)
  }

  /** SQ8 (scalar 8-bit) quantization — the THIRD FAISS compression shape
    * next to PQ and IVF-PQ: each dimension is linearly quantized to one
    * byte against per-dim [min, max] trained over the corpus, so storage
    * is dims bytes/vector (4× under float32, no codebook training loop)
    * and reconstruction error is per-dim bounded — the accuracy/simplicity
    * point between raw floats and PQ's m-byte codes. Training is ONE
    * narrow agg (per-dim min/max = 2×dims doubles — metadata, same
    * collect contract as the k-means centroids); encoding and
    * reconstruction are zero-shuffle projections over literal arrays.
    * Scoring is asymmetric (query floats × reconstructed corpus dims),
    * reconstructed ONCE per corpus row (before the query crossJoin), then
    * the PQ chain's shortlist window + exact re-rank. Every float op is
    * a fixed-order IEEE fold, so the oracle replays training, encoding
    * and scoring bit-for-bit.
    */
  def sq8Train(nrm: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = nrm.select(posexplode(col("ne")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (rows.map(_._2).toSeq, rows.map(t => t._3 - t._2).toSeq)
  }

  /** SQ8 code table (id, codes: array<long> of 0..255) — index artifact. */
  def sq8CodesTable(nrm: DataFrame, id: String,
                    mn: Seq[Double], sc: Seq[Double]): DataFrame = {
    val mnl = array(mn.map(lit): _*)
    val scl = array(sc.map(lit): _*)
    val codes = transform(col("ne"), (x, i) =>
      sq8CodeExpr(x, element_at(mnl, i + 1), element_at(scl, i + 1)))
    nrm.select(col(id).as("neighbor_id"), codes.as("codes"))
  }

  /** The per-dim SQ8 encode — the SINGLE source for the codes table and
    * the quantize-error audit (they must round identically or the audit
    * grades a different map than the index stores). Half-up via
    * floor(x + 0.5): unambiguous on any double (engines disagree on
    * round-at-tie); a zero-range dim encodes as 0.
    */
  private[operators] def sq8CodeExpr(x: Column, m: Column, s: Column): Column =
    when(s === 0.0, lit(0L)).otherwise(
      least(greatest(floor((x - m) / s * 255 + lit(0.5)), lit(0.0)),
        lit(255.0)).cast("long"))

  /** SQ8 reconstruction-error AUDIT — grades the quantizer the way
    * events_approx_stats grades its sketches: re-encode each vector
    * through the trained affine map (bit-identical to what
    * [[sq8CodesTable]] stores — the encode is a deterministic function
    * of (ne, mn, sc), shared via [[sq8CodeExpr]]), decode it back, and
    * report the per-vector max absolute and summed squared error vs the
    * exact normalized embedding. The acceptance gate an index build runs
    * before swapping quantized search into production. Portability: each
    * per-dim |error| is floor-quantized to 1e-6 and the per-vector folds
    * run on exact longs (order-free in both engines); the arithmetic
    * mirrors the oracle token-for-token. Encode-inline means the whole
    * audit is ONE zero-shuffle, zero-join projection over the corpus
    * (plan-audited) — no index join, no extra pass.
    */
  def sq8QuantizeError(nrm: DataFrame, id: String, mn: Seq[Double],
                       sc: Seq[Double]): DataFrame = {
    val mnl = array(mn.map(lit): _*)
    val scl = array(sc.map(lit): _*)
    val errs = transform(col("ne"), (x, i) => {
      val m = element_at(mnl, i + 1)
      val s = element_at(scl, i + 1)
      val c = sq8CodeExpr(x, m, s)
      floor(abs(x - (m + (c * s) / lit(255.0))) * lit(1e6)).cast("long")
    })
    nrm.select(col(id), errs.as("_e"))
      .select(col(id),
        array_max(col("_e")).as("max_abs_q6"),
        aggregate(col("_e"), lit(0L), (a, e) => a + e * e).as("sse_q12"))
      .withColumn("max_abs_err", col("max_abs_q6") / lit(1e6))
  }

  def simSq8Ann(df: DataFrame, id: String, emb: String, queryPred: Column,
                mn: Seq[Double], sc: Seq[Double], shortlist: Int, k: Int,
                prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    val nrm = normalized(df, id, emb)
    val codes = prebuiltCodes.getOrElse(sq8CodesTable(nrm, id, mn, sc))
    val mnl = array(mn.map(lit): _*)
    val scl = array(sc.map(lit): _*)
    val re = transform(col("codes"), (c, i) =>
      element_at(mnl, i + 1) + (c * element_at(scl, i + 1)) / lit(255.0))
    val q = broadcast(nrm.filter(queryPred)
      .select(col(id).as("query_id"), col("ne").as("qe")))
    val scanned = codes.withColumn("re", re).crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("qe"), col("re")), 4).as("approx_sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val sl = scanned.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= shortlist)
      .select("query_id", "neighbor_id")
    rerankExact(sl, nrm, id, k)
  }

  /** IVF-PQ — the composed scale-path index (the FAISS IVFPQ shape, sans
    * residual encoding — PQ codes are built on the raw vectors, documented
    * divergence): the coarse quantizer restricts candidates to the query's
    * nProbe inverted lists, ADC scores those candidates from their m-byte
    * codes, and exact cosine re-ranks the shortlist. At 100 TB the scan
    * touches probed lists only AND reads codes instead of vectors — the
    * two reductions compose multiplicatively (lists cut the rows, codes
    * cut the bytes/row). One narrow shuffle (codes join on cid against
    * broadcast probes); assignment and encoding stay zero-shuffle
    * projections over literal centroids/codebooks.
    */
  /** IVF-PQ list+code table (id, list id, c0..c{m-1}) — index artifact. */
  def ivfPqCodesTable(nrm: DataFrame, id: String, coarse: Seq[(Any, Seq[Double])],
                      cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int): DataFrame =
    ivfAssign(nrm, coarse, nProbe = 1, euclid = true).select(
      col(id).as("neighbor_id") +: col("_nn")(0)("cid").as("cid") +:
        pqCodeCols(cbs, subDims): _*)

  def simIvfPqAnn(df: DataFrame, id: String, emb: String,
                  coarse: Seq[(Any, Seq[Double])], cbs: Seq[Seq[(Any, Seq[Double])]],
                  queryPred: Column, nProbe: Int, subDims: Int,
                  shortlist: Int, k: Int,
                  prebuiltLists: Option[DataFrame] = None): DataFrame = {
    val nrm = normalized(df, id, emb)
    val lists = prebuiltLists.getOrElse(ivfPqCodesTable(nrm, id, coarse, cbs, subDims))
    val probes = broadcast(
      ivfAssign(nrm.filter(queryPred), coarse, nProbe, euclid = true)
        .select(col(id).as("query_id") +:
          explode(transform(col("_nn"), s => s("cid"))).as("cid") +:
          pqQtabCols(cbs, subDims): _*))
    // a (query, neighbor) pair joins at most once: the neighbor's list id
    // is unique, so no post-join distinct is needed
    val scanned = lists.join(probes, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pqApprox(cbs.size), 4).as("approx_sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val sl = scanned.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= shortlist)
      .select("query_id", "neighbor_id")
    rerankExact(sl, nrm, id, k)
  }

  /** 2-D literal array of the coarse centroids, indexable by cid (the
    * coarse init pins cid = the vector id for the ivfC lowest ids, so cid
    * IS the 0-based index — asserted, not assumed).
    */
  private def coarseLit2d(coarse: Seq[(Any, Seq[Double])]): Column = {
    coarse.zipWithIndex.foreach { case ((cid, _), i) =>
      require(cid == i.toLong, s"coarse cids must be 0..n-1 in order, got $cid at $i")
    }
    array(coarse.map { case (_, ce) => array(ce.map(lit): _*) }: _*)
  }

  /** Coarse-residual vectors (FAISS-style): each vector minus its nearest
    * coarse centroid, emitted under the SAME (id, ne) shape so the fused
    * PQ trainer runs on residuals unchanged. zip_with is CodegenFallback —
    * fine here because residual materialization happens only in index
    * CONSTRUCTION (training); the query-time encode path never builds
    * residual arrays (see the literal-offset trick in resCodeCols).
    */
  def residuals(nrm: DataFrame, id: String,
                coarse: Seq[(Any, Seq[Double])]): DataFrame = {
    val lit2d = coarseLit2d(coarse)
    ivfAssign(nrm, coarse, nProbe = 1, euclid = true)
      .select(col(id), col("ne"), col("_nn")(0)("cid").cast("int").as("_cid"))
      .select(col(id),
        zip_with(col("ne"), element_at(lit2d, col("_cid") + 1), (x, c) => x - c).as("ne"))
  }

  /** Residual PQ codebooks: [[pqCodebooks]] over [[residuals]] — same
    * engine-portable Lloyd arithmetic, trained on what the codes will
    * actually encode. The oracle replays training over residual CTEs.
    */
  def pqResCodebooks(nrm: DataFrame, id: String, coarse: Seq[(Any, Seq[Double])],
                     m: Int, subDims: Int, ks: Int, iters: Int): Seq[Seq[(Any, Seq[Double])]] =
    pqCodebooks(residuals(nrm, id, coarse), id, m, subDims, ks, iters)

  /** Left-fold dot of two Scala vectors — the same summation order as
    * [[dotD]]/the oracle's list_reduce, so constants derived from it are
    * bit-identical to either engine recomputing them.
    */
  private def dotS(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }

  /** Residual encode WITHOUT materializing residuals: for subspace s and
    * codebook row j, argmin_j |res_s - cb_j|² = argmax_j (dot(ne_s, cb_j)
    * - [dot(ce_s, cb_j) + |cb_j|²/2]) — the bracket depends only on the
    * (coarse centroid, codebook row) literals, so it rides as a 16-entry
    * literal array indexed by cid while the data side stays the plain
    * codegen'd dot against the raw sub-vector. The oracle recomputes the
    * same bracket with the identical fold order (dot + dot/2).
    */
  private def resCodeCols(coarse: Seq[(Any, Seq[Double])],
                          cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int,
                          cidCol: Column): Seq[Column] =
    cbs.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col("ne"), s * subDims + 1, subDims)
      val scored = cb.zipWithIndex.map { case ((cjid, cj), j) =>
        val offs = coarse.map { case (_, ce) =>
          val ceS = ce.slice(s * subDims, (s + 1) * subDims)
          lit(dotS(ceS, cj) + dotS(cj, cj) / 2)
        }
        val score = dotD(sub, array(cj.map(lit): _*)) -
          element_at(array(offs: _*), cidCol + 1)
        struct((lit(2.0) - score).as("k"),
          lit(cjid.asInstanceOf[Long]).as("cid"), lit(j).as("j"))
      }
      array_sort(array(scored: _*))(0)("j").as(s"c$s")
    }

  /** IVF-PQ with RESIDUAL encoding — closes the documented divergence from
    * the FAISS IVFPQ shape: PQ codes quantize (vector − its coarse
    * centroid), which concentrates the code budget on the within-list
    * variation instead of re-spending it on the coarse position every
    * vector shares. ADC scores become dot(q, ce_list) + Σ_s qt_s[code_s]
    * (the coarse dot is one fold per PROBED (query, list) pair — |Q|×nProbe
    * of them, metadata-sized). Same narrow-shuffle shape as
    * [[simIvfPqAnn]]: probed lists cut rows, codes cut bytes, one join.
    */
  /** Residual IVF-PQ list+code table — index artifact. */
  def resCodesTable(nrm: DataFrame, id: String, coarse: Seq[(Any, Seq[Double])],
                    cbs: Seq[Seq[(Any, Seq[Double])]], subDims: Int): DataFrame =
    ivfAssign(nrm, coarse, nProbe = 1, euclid = true)
      .withColumn("_cid", col("_nn")(0)("cid").cast("int"))
      .select(col(id).as("neighbor_id") +: col("_cid").as("cid") +:
        resCodeCols(coarse, cbs, subDims, col("_cid")): _*)

  def simIvfPqResAnn(df: DataFrame, id: String, emb: String,
                     coarse: Seq[(Any, Seq[Double])], cbs: Seq[Seq[(Any, Seq[Double])]],
                     queryPred: Column, nProbe: Int, subDims: Int,
                     shortlist: Int, k: Int,
                     prebuiltLists: Option[DataFrame] = None): DataFrame = {
    val lit2d = coarseLit2d(coarse)
    val nrm = normalized(df, id, emb)
    val lists = prebuiltLists.getOrElse(resCodesTable(nrm, id, coarse, cbs, subDims))
    val probes = broadcast(
      ivfAssign(nrm.filter(queryPred), coarse, nProbe, euclid = true)
        .select(col(id).as("query_id") +: col("ne") +:
          explode(transform(col("_nn"), s => s("cid").cast("int"))).as("cid") +:
          pqQtabCols(cbs, subDims): _*)
        .withColumn("qc", dotD(col("ne"), element_at(lit2d, col("cid") + 1)))
        .drop("ne"))
    val scanned = lists.join(probes, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round((0 until cbs.size).foldLeft(col("qc")) { (acc, s) =>
          acc + element_at(col(s"qt$s"), col(s"c$s") + 1)
        }, 4).as("approx_sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val sl = scanned.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= shortlist)
      .select("query_id", "neighbor_id")
    rerankExact(sl, nrm, id, k)
  }

  /** Embedding near-dup pairs: LSH candidates (id_a < id_b across L tables,
    * deduped) verified by exact cosine >= threshold.
    */
  def embeddingPairs(df: DataFrame, id: String, emb: String,
                     tabs: Seq[Seq[Seq[Double]]], threshold: Double): DataFrame = {
    // Same narrow-shuffle shape as simLshAnn: id-only candidate pairs,
    // dedup, then join the pre-normalised vectors back for one dot fold.
    // b and n are each referenced twice — checkpoint once (r15)
    val b = graft.CacheScope.register(
      lshBuckets(df, id, emb, tabs).select(col(id), col("t"), col("bucket"))
        .localCheckpoint(true))
    val a = b.select(col(id).as("id_a"), col("t"), col("bucket"))
    val bb = b.select(col(id).as("id_b"), col("t").as("t2"), col("bucket").as("bucket2"))
    val cand = a.join(bb, col("t") === col("t2") && col("bucket") === col("bucket2") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val n = graft.CacheScope.register(
      normalized(df, id, emb).localCheckpoint(true))
    cand
      .join(n.select(col(id).as("id_a"), col("ne").as("na")), "id_a")
      .join(n.select(col(id).as("id_b"), col("ne").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dotD(col("na"), col("nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Radius (range) search: every corpus vector within cosine ≥ `tau` of
    * each query — the "give me EVERYTHING this similar" retrieval shape
    * (dedup review queues, policy screens), where top-k's fixed cutoff
    * is wrong because the answer size is data-dependent. Same machinery
    * as [[simLshAnn]] — bucket-mate candidates (query-side multi-probe
    * lifts recall at zero corpus cost), id-only candidate shuffle,
    * vectors joined back for one dot fold — but the final predicate is
    * the threshold itself, no window/rank stage at all: at 100 TB this
    * saves the per-query sort that top-k needs, and the output contract
    * (recall < 1 only through the mirrored buckets) stays
    * oracle-exact.
    */
  def simRangeSearch(df: DataFrame, id: String, emb: String, queryPred: Column,
                     tabs: Seq[Seq[Seq[Double]]], tau: Double,
                     multiProbe: Boolean = true): DataFrame =
    lshScoredCandidates(df, id, emb, queryPred, tabs, multiProbe)
      .filter(col("cos_sim") >= tau)

  /** Approximate k-NN JOIN: EVERY point's top-k nearest bucket-mates —
    * the corpus-wide neighbor table behind near-dup clustering, label
    * propagation and retrieval-index bootstrapping. Unlike [[simTopK]]
    * (a small query set against the corpus) this is self-join-shaped, so
    * brute force would be N² at corpus scale; instead candidates come
    * from the same LSH bucket machinery as [[embeddingPairs]] but kept
    * DIRECTED (every point is a query; (a,b) and (b,a) rank
    * independently). The candidate shuffle carries ids only, the
    * per-query rank is a window over each point's own candidates (not a
    * global sort), and — same skew-proofing as the dedup family — each
    * (table, bucket) is CAPPED to its `bucketCap` lowest-id members on
    * the NEIGHBOR side, so a degenerate corpus (a viral embedding with m
    * copies) costs O(m·cap) instead of O(m²); the cap is mirrored in the
    * oracle, and a capped point still surfaces through its other tables.
    * The query side stays uncapped — every point keeps its query role.
    * Points whose buckets hold < k mates return fewer rows (recall is
    * approximate by design; the oracle mirrors the buckets).
    */
  def simKnnJoin(df: DataFrame, id: String, emb: String,
                 tabs: Seq[Seq[Seq[Double]]], k: Int,
                 bucketCap: Int = Dedup.defaultBucketCap): DataFrame = {
    // b feeds the query side AND the capped neighbor side, n the two
    // vector join-backs — checkpoint each once per invocation (r15)
    val b = graft.CacheScope.register(
      lshBuckets(df, id, emb, tabs).select(col(id), col("t"), col("bucket"))
        .localCheckpoint(true))
    val a = b.select(col(id).as("query_id"), col("t"), col("bucket"))
    val bb = Dedup.capBuckets(b, Seq("t", "bucket"), id, bucketCap)
      .select(col(id).as("neighbor_id"), col("t").as("t2"), col("bucket").as("bucket2"))
    val cand = a.join(bb, col("t") === col("t2") && col("bucket") === col("bucket2") &&
        col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val n = graft.CacheScope.register(
      normalized(df, id, emb).localCheckpoint(true))
    val scored = cand
      .join(n.select(col(id).as("query_id"), col("ne").as("na")), "query_id")
      .join(n.select(col(id).as("neighbor_id"), col("ne").as("nb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("na"), col("nb")), 4).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Representative-grain k-NN join — the COPY-HEAVY corpus scale path for
    * [[simKnnJoin]]. Real 100 TB embedding corpora are duplicate-dense
    * (re-crawls, mirrors, template pages embed identically); running the
    * kNN self-join at raw grain makes every copy a query AND a candidate,
    * so m copies of one vector cost O(m·cap) candidate rows and the
    * LSH/dedup exchanges carry the copy multiplicity end-to-end. The sf10
    * smoke measured exactly this: 102.7 s raw vs 8.4 s rep-grain, same
    * JVM (BASELINE.md r7). This operator makes the mitigation a library
    * contract instead of a caller recipe:
    *
    *   1. COLLAPSE — one hash agg groups by the exact vector value
    *      (bit-identical floats; the one corpus-grain shuffle, carrying
    *      each vector once) and keeps the min-id member as representative.
    *   2. kNN AT REP GRAIN — [[simKnnJoin]] unchanged, over distinct
    *      vectors only: candidate generation, caps and ranking all pay
    *      |distinct|, not |corpus|.
    *   3. FAN BACK — each copy inherits its representative's neighbor
    *      list through an id-grain join (narrow rows, linear in output).
    *
    * Output contract: `(query_id, rep_id, neighbor_id, cos_sim, rank)` —
    * neighbors are DISTINCT VECTORS (representative ids), so a copy's
    * exact-duplicate siblings are reachable through the shared `rep_id`,
    * not re-listed as k identical cos=1.0 rows; ranks therefore spend the
    * k budget on genuinely distinct neighbors. Recall semantics and the
    * per-(table,bucket) neighbor cap are [[simKnnJoin]]'s, applied at rep
    * grain.
    */
  /** Duplication-ratio router for the kNN self-join — closes the "user
    * calls the raw operator on a copy-heavy 100 TB crawl and gets the
    * spill" gap (BASELINE r7: 102.7 s raw vs 8.4 s rep-grain on the same
    * corpus). ONE cheap linear pass decides: count(*) vs an HLL
    * approx-distinct of the hashed vector value (no distinct shuffle, no
    * vector movement — the sketch rides the scan's partial aggs). A ±5%
    * HLL error is irrelevant against the 1.25 threshold: real corpora
    * are either ~1.0 (all-distinct) or ≥ 2 (re-crawls/mirrors).
    */
  def knnDupRatioRoutesRep(df: DataFrame, emb: String,
                           threshold: Double = 1.25): Boolean = {
    val r = df.agg(count(lit(1)).as("n"),
      approx_count_distinct(xxhash64(col(emb))).as("d")).head()
    val (n, d) = (r.getLong(0), r.getLong(1))
    d > 0 && n.toDouble / d >= threshold
  }

  /** The ROUTED kNN join: [[simKnnJoinRep]]'s output contract either
    * way (`rep_id` rides along; on an all-distinct corpus it equals
    * `query_id` and the rows are exactly [[simKnnJoin]]'s), with the
    * collapse/fan-back stages paid only when the measured duplication
    * ratio says they buy something. A copy-free corpus skips the
    * vector-value hash agg entirely — its rep map would be the identity.
    */
  def simKnnJoinAuto(df: DataFrame, id: String, emb: String,
                     tabs: Seq[Seq[Seq[Double]]], k: Int,
                     bucketCap: Int = Dedup.defaultBucketCap,
                     threshold: Double = 1.25): DataFrame =
    if (knnDupRatioRoutesRep(df, emb, threshold))
      simKnnJoinRep(df, id, emb, tabs, k, bucketCap)
    else
      simKnnJoin(df, id, emb, tabs, k, bucketCap)
        .select(col("query_id"), col("query_id").as("rep_id"),
          col("neighbor_id"), col("cos_sim"), col("rank"))

  def simKnnJoinRep(df: DataFrame, id: String, emb: String,
                    tabs: Seq[Seq[Seq[Double]]], k: Int,
                    bucketCap: Int = Dedup.defaultBucketCap): DataFrame = {
    // the rep map feeds the copy fan-back AND the rep-grain kNN input —
    // checkpoint the vector-value hash agg once per invocation (r15)
    val repMap = graft.CacheScope.register(
      df.groupBy(col(emb)).agg(min(col(id)).as("rep_id"))
        .localCheckpoint(true))
    val copies = df.join(repMap, Seq(emb)).select(col(id).as("query_id"), col("rep_id"))
    val reps = repMap.select(col("rep_id").as(id), col(emb))
    val nn = simKnnJoin(reps, id, emb, tabs, k, bucketCap)
      .withColumnRenamed("query_id", "rep_id")
    copies.join(nn, Seq("rep_id"))
      .select(col("query_id"), col("rep_id"), col("neighbor_id"),
        col("cos_sim"), col("rank"))
  }

  // ---------------------------------------------------------------- queries

  private val dims = 64
  /** sim_ivf_ann config: centroid count and Lloyd iterations (shared by the
    * query and the generated oracle so they cannot drift). */
  val ivfC = 16
  val ivfIters = 2
  /** k-means training-sample rate (md5-draw, [[kmeansCentroids]]): half
    * the corpus at test SFs keeps every cluster populated; at real scale
    * the rate shrinks toward an absolute sample cap. 16-bit cut shared
    * with the generated oracles. */
  val kmeansSampleRate = 0.5
  val kmeansSampleCut: Long = (kmeansSampleRate * 65536).toLong
  /** emb_outliers threshold: cos-to-centroid below this flags the vector
    * (this corpus's cos_c runs 0.12–0.85, median 0.31 — 0.15 flags only
    * the far tail, the "nothing explains this vector" shape). */
  val outlierTau = 0.15
  private val kmeansCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Any, Seq[Double])]]()
  // ANN config chosen against the tested recall contract (SimilaritySpec
  // recall@5 floor): for cos≈0.5 neighbors a 6-bit table matches with
  // P≈(2/3)^6≈0.09 — 4 such tables gave recall 0.22. 12 tables × 4 bits
  // gives P(≥1 shared bucket)≈0.93 at the same candidate-generation shape
  // (measured 0.78 on this corpus); bits-per-table still grows with log N
  // cluster-side to bound buckets.
  val annTabs: Seq[Seq[Seq[Double]]] = planes(tables = 12, bits = 4, dims = dims)
  // near-dup config: more bits per table bounds bucket sizes (b scales with
  // log N cluster-side); more tables buys recall back
  val dupTabs: Seq[Seq[Seq[Double]]] = planes(tables = 6, bits = 6, dims = dims)

  /** sim_pq_ann config (shared by query and generated oracle): m subspaces
    * of subDims dims, ks codes each, Lloyd iters, ADC shortlist size. */
  val pqM = 8
  val pqSubDims = 8
  val pqKs = 16
  val pqIters = 1
  // shortlist sized against the tested recall floor: ADC over 8×16 codes
  // quantizes hard relative to this corpus's shallow cosine gaps (max
  // cos≈0.5, no planted neighbors) — 20 gave recall 0.56, 48 clears the
  // floor at a cost that stays |Q|×shortlist, independent of corpus size
  val pqShort = 48
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[(Any, Seq[Double])]]]()
  private val pqResCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[(Any, Seq[Double])]]]()
  private val sq8Cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Double], Seq[Double])]()

  /** Session-lifetime INDEX TABLES (inverted lists, PQ codes): the FAISS
    * contract is that an index is built once per corpus and amortized over
    * every query — re-encoding 100 TB of vectors per lookup is not a real
    * system's shape. Eagerly checkpointed and deliberately NOT
    * CacheScope-swept; bounded at one narrow table per (corpus, config)
    * key. Contents are deterministic, so caching cannot change results —
    * the correctness gate's first invocation builds them from scratch.
    */
  // shared session-index contract — see graft.IndexCache (NOT re-entrant:
  // builders must resolve nested index dependencies before the call)
  private def cachedIndex(key: String)(build: => DataFrame): DataFrame =
    graft.IndexCache.of(key)(build)


  /** The persisted IVF-PQ index's on-disk key: every training parameter
    * PLUS a content fingerprint of the embedding corpus (count + summed
    * crc32 of per-row (id, vector-hash) — [[graft.sources.Io
    * .contentFingerprint]]), so a REGENERATED corpus at the same path
    * re-keys and rebuilds instead of serving codes quantized under a
    * vanished distribution (the decon_bloom_persisted contract applied
    * here; IoSpec pins the staleness behavior). The fingerprint pass is
    * one linear agg over two narrow columns — at warehouse scale a
    * table-format snapshot id replaces it outright.
    */
  def ivfPqArtifactPath(e: DataFrame, d: String): String = {
    val fp = graft.sources.Io.contentFingerprint(e, Seq(
      col("vec_id").cast("string"),
      xxhash64(col("vec_id"), col("embedding")).cast("string")))
    "/tmp/graft_io/ivfpq_index/" +
      s"$d|$ivfC|$ivfIters|smp$kmeansSampleCut|$pqM|$pqKs|$pqIters|$fp"
        .replaceAll("[^A-Za-z0-9.]", "_")
  }

  /** Approximate k-NN GRAPH construction by NN-Descent (Dong et al.,
    * WWW'11) — the third ANN index family real systems ship (the
    * HNSW/NSW class: HNSW's layer 0 IS a navigable k-NN graph; full
    * HNSW's insert loop is inherently sequential, and NN-Descent is the
    * established DISTRIBUTED construction for the same search
    * structure). Init: capped LSH bucket-mates (the dedup family's
    * skew-proof blocking — a flood costs O(bucket×cap), never
    * quadratic) scored exactly and pruned to the k best per node
    * (rounded-cosine desc, id asc — the family's deterministic rank).
    * Each round then follows the NN-Descent exchange: candidates =
    * neighbors-of-neighbors over the SYMMETRIZED current graph
    * (forward ∪ reverse — a node locates itself through nodes that
    * point at it), union the standing edges, re-score, keep k. Fan-out
    * per round is n·k² rows of bare int pairs — linear in the corpus,
    * independent of skew; vectors join back only for the score, so the
    * candidate shuffles stay narrow (the lshScoredCandidates shape).
    * Rounds are localCheckpoint-materialized (2 rounds; lazy
    * composition would re-execute the init per reference — the
    * components-loop contract).
    */
  /** Scoring-strategy knobs (runtime-settable so the spec and sf-decade
    * probes can force either path): `spark.graft.graph.scoring` ∈
    * auto (default — broadcast under the 256 MB byte gate, grid past
    * it) | broadcast | grid; `spark.graft.graph.gridBlockBytes` sizes
    * one grid block (default 64 MiB — a deployment raises it toward
    * executor memory so the grid side stays small). */
  private[graft] val scoringModeKey = "spark.graft.graph.scoring"
  private[graft] val gridBlockBytesKey = "spark.graft.graph.gridBlockBytes"

  /** Pick the scoring strategy for a normalized vector table: broadcast
    * the node-grain table only while its estimated serialized size fits
    * comfortably in the JVM defaults — gate on BYTES, not row count: 4M
    * 64-dim double rows is ~2 GB serialized, past any sane driver/
    * executor broadcast budget long before a row cutoff bites
    * (rows × (8·dims + 32 struct overhead) ≤ 256 MB). PAST the gate the
    * scorer switches to the grid block-nested-loop path ([[gridTopK]])
    * instead of an unhinted join — a pair-stream join would re-shuffle
    * a 64-double payload per candidate pair per round (the ~59 GB shape
    * the sf10 smoke measured at 200k nodes before the broadcast hint).
    */
  /** Memoized (row count, dims) of scored vector tables, keyed weakly by
    * the analyzed plan object — see the r16 note inside [[scoreTopK]]. */
  private val nrmStats = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      (Long, Int)]())

  private[graft] def scoreTopK(nrm: DataFrame, id: String): (DataFrame, Int) => DataFrame = {
    val s = nrm.sparkSession
    val mode = s.conf.get(scoringModeKey, "auto")
    // r16: the (count, dims) probe is two driver jobs per call; for the
    // session-cached nrm (an immutable materialized checkpoint) the
    // answer never changes — memoize per plan object. Weak keys: a
    // fresh per-invocation nrm gets a fresh plan object (no stale hit),
    // and dropped indexes free their entry.
    val (n, d0) = {
      val key = nrm.queryExecution.logical
      Option(nrmStats.get(key)).getOrElse {
        val nn = nrm.count()
        val dd = if (nn == 0) 0 else nrm.select(size(col("ne"))).head.getInt(0)
        nrmStats.put(key, (nn, dd))
        (nn, dd)
      }
    }
    val useBroadcast = mode == "broadcast" ||
      (mode != "grid" && n * (8L * d0 + 32L) <= (256L << 20))
    if (useBroadcast)
      (cand: DataFrame, k: Int) =>
        graphTopK(nrm, id, cand, k, (x: DataFrame) => broadcast(x))
    else {
      val g = gridIndexOf(nrm, id, n, d0)
      (cand: DataFrame, k: Int) => gridTopK(g, cand, k)
    }
  }

  /** The 100 TB scoring path: a REPLICATED, CELL-PARTITIONED vector
    * table served like every other session index. The table is split
    * into `side` blocks by id (block = floorMod(id, side)); cell (i, j)
    * of the side² grid holds block i tagged src-side and block j tagged
    * dst-side, so a candidate pair (src, dst) meets BOTH its vectors in
    * exactly one cell with zero per-pair payload movement.
    *
    * Why a grid and not a join: exact scoring as two sequential equi-
    * joins must carry one vector payload across the second exchange —
    * per-PAIR bytes (n·4k² pairs × 8·dims each round, the named
    * scale-killer). The grid ships vector payloads only at REPLICATION
    * (2·side·n rows, ONCE per session — independent of pair count and
    * of round count), and every per-round scoring shuffle is bare
    * (cell, src, dst) longs. Cost model at 100 TB: side = tableBytes /
    * gridBlockBytes with the block target sized to executor memory
    * (two blocks resident per task), so a 512 GB vector table at 8 GB
    * blocks is side=64 → 4096 cells and a one-time 2·64·n replication —
    * while the per-round pair stream (the part that multiplies by
    * rounds × fan) stays integer-narrow forever. */
  private[graft] final case class GridIndex(
      rep: org.apache.spark.rdd.RDD[(Int, (Boolean, Long, Array[Double]))],
      side: Int)

  private val gridCache =
    new java.util.concurrent.ConcurrentHashMap[String, GridIndex]()

  private[graft] def gridIndexOf(nrm: DataFrame, id: String,
                                 n: Long, dims: Int): GridIndex = {
    val s = nrm.sparkSession
    val blockBytes =
      s.conf.get(gridBlockBytesKey, (64L << 20).toString).toLong
    val bytes = n * (8L * dims + 32L)
    val side = math.min(64L, math.max(2L,
      (bytes + blockBytes - 1) / blockBytes)).toInt
    val key = nrm.queryExecution.analyzed.semanticHash().toString + "|" + side
    gridCache.computeIfAbsent(key, _ => {
      val part = new org.apache.spark.HashPartitioner(side * side)
      val rep = nrm.select(col(id).cast("long"), col("ne")).rdd.flatMap { r =>
        val vid = r.getLong(0)
        val vec = r.getSeq[Double](1).toArray
        val b = java.lang.Math.floorMod(vid, side.toLong).toInt
        val out = new Array[(Int, (Boolean, Long, Array[Double]))](2 * side)
        var j = 0
        while (j < side) {
          out(2 * j) = (b * side + j, (true, vid, vec))
          out(2 * j + 1) = (j * side + b, (false, vid, vec))
          j += 1
        }
        out
      }.partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      rep.count() // materialize once; session-lifetime, like IndexCache
      GridIndex(rep, side)
    })
  }

  /** Spark `round(_, 4)` replica for the grid scorer: the same
    * BigDecimal.valueOf(double) HALF_UP quantization Catalyst's Round
    * generates, so grid scores are bit-identical to the join path. */
  private def roundHalfUp4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Score a bare (src, dst) candidate stream against the grid index
    * and keep each src's k best — the post-gate twin of [[graphTopK]].
    * Pairs route to cell (block(src), block(dst)) as bare longs and
    * zip against the resident vector blocks; the dot is the identical
    * ArrayDot left fold and the rank the shared [[rankTopK]], so the
    * two strategies are interchangeable bit-for-bit (SimilaritySpec
    * pins equality and pins this plan payload-shuffle-free). */
  private[graft] def gridTopK(g: GridIndex, cand: DataFrame, k: Int): DataFrame = {
    val s = cand.sparkSession
    val side = g.side
    val srcT = cand.schema("src").dataType
    val dstT = cand.schema("dst").dataType
    val part = new org.apache.spark.HashPartitioner(side * side)
    val pairs = cand.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        val cell = java.lang.Math.floorMod(a, side.toLong).toInt * side +
          java.lang.Math.floorMod(b, side.toLong).toInt
        (cell, (a, b))
      }.partitionBy(part)
    val scored = g.rep.zipPartitions(pairs) { (vit, pit) =>
      val sm = new java.util.HashMap[java.lang.Long, Array[Double]]()
      val dm = new java.util.HashMap[java.lang.Long, Array[Double]]()
      vit.foreach { case (_, (isSrc, vid, vec)) =>
        if (isSrc) sm.put(vid, vec) else dm.put(vid, vec)
      }
      pit.flatMap { case (_, (a, b)) =>
        val se = sm.get(a); val de = dm.get(b)
        if (se == null || de == null) Iterator.empty // the inner-join drop
        else {
          // ArrayDot's left fold from 0.0 — same IEEE sum, same result
          var acc = 0.0; var i = 0
          while (i < se.length) { acc += se(i) * de(i); i += 1 }
          Iterator(org.apache.spark.sql.Row(a, b, roundHalfUp4(acc)))
        }
      }
    }
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val df = s.createDataFrame(scored, StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType),
        StructField("cos_sim", DoubleType))))
      .select(col("src").cast(srcT).as("src"),
        col("dst").cast(dstT).as("dst"), col("cos_sim"))
    rankTopK(df, k)
  }

  /** Exact-score a bare (src, dst) candidate stream against the
    * normalized vector table and keep each src's k best (rounded-cosine
    * desc, dst asc — the family's deterministic rank): the shared rank
    * stage of knn-graph construction rounds and append splices. `bc`
    * wraps the vector-table sides (broadcast under the byte gate) so
    * candidate pairs score map-side and never shuffle vector payloads. */
  private def graphTopK(nrm: DataFrame, id: String, cand: DataFrame, k: Int,
                        bc: DataFrame => DataFrame): DataFrame = {
    val scored = cand
      .join(bc(nrm.select(col(id).as("src"), col("ne").as("se"))), "src")
      .join(bc(nrm.select(col(id).as("dst"), col("ne").as("de"))), "dst")
      .select(col("src"), col("dst"),
        round(dotD(col("se"), col("de")), 4).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** The family's deterministic rank, shared by both scoring strategies:
    * each src keeps its k best by (rounded-cosine desc, dst asc). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos_sim").desc, col("dst").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  def knnGraph(df: DataFrame, id: String, emb: String, k: Int, rounds: Int,
               tabs: Seq[Seq[Seq[Double]]],
               bucketCap: Int = Dedup.defaultBucketCap,
               prebuiltNrm: Option[DataFrame] = None): DataFrame = {
    // the normalized vector table is scored against once per topK pass
    // (init + every round) — materialize it up front when the caller has
    // not already supplied the session-cached copy, so counting and the
    // repeated scoring joins read blocks, not a re-normalizing scan
    val nrm = prebuiltNrm.getOrElse(
      graft.CacheScope.register(normalized(df, id, emb).localCheckpoint(true)))
    // the candidate stream is n·tables·cap DIRECTED pairs — under the
    // byte gate, broadcast the node-grain vector table (|n| rows) so
    // pairs score MAP-SIDE and never shuffle 64-double payloads (the
    // sf10 smoke measured the unhinted shape shuffling ~59 GB of
    // vectors at 200k nodes); PAST the gate, scoreTopK routes to the
    // replicated cell-partitioned grid ([[gridTopK]]) where per-round
    // shuffles stay bare longs and vector bytes move once per session
    val scorer = scoreTopK(nrm, id)
    def topK(cand: DataFrame): DataFrame = scorer(cand, k)
    val bkt = lshBuckets(df, id, emb, tabs).select(col(id), col("t"), col("bucket"))
    val capped = bkt.withColumn("bn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("t", "bucket").orderBy(col(id))))
      .filter(col("bn") <= bucketCap)
      .select(col(id).as("nb"), col("t"), col("bucket"))
    // multi-probe the INIT: each node also probes its hamming-1 buckets
    // (one sign flipped) — the sim_lsh_ann lift (0.78 → 1.00) applied to
    // graph construction, where init-bucket recall was the measured
    // residual (rounds/hops were flat). Fan is (bits+1)× on the probe
    // side only; candidates stay n·tables·(bits+1)·cap bare int pairs —
    // linear in the corpus, and the capped side is unchanged so a
    // flooded bucket still costs O(bucket×cap).
    val probes = bkt.withColumn("bucket",
      explode(array(hamming1Variants(tabs.head.size): _*)))
    val cand0 = probes.join(capped, Seq("t", "bucket"))
      .filter(col(id) =!= col("nb"))
      .select(col(id).as("src"), col("nb").as("dst")).distinct()
    var g = graft.CacheScope.register(topK(cand0).localCheckpoint(true))
    (1 to rounds).foreach { _ =>
      // REVERSE edges are in-degree-unbounded (a popular node — e.g.
      // every copy in a duplicate flood pointing at the cluster head —
      // collects arbitrarily many), and the neighbor-of-neighbor fan is
      // indeg×outdeg, so cap the reverse contribution per node at k
      // (NN-Descent's reverse sampling, Dong et al. §3.2): u's degree
      // is then ≤ 2k and the round fan ≤ 4k² per node — linear in n,
      // skew-proof (the sf10 duplicate-replicated smoke measured the
      // uncapped shape superlinear). Deterministic: keep the k
      // BEST-SCORED reverse neighbors (cos desc, id asc) — smallest-id
      // sampling measured recall 0.62 vs 0.82; score-ranked keeps the
      // links that matter.
      val rev = g.select(col("dst").as("src"), col("src").as("dst"),
          col("cos_sim"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("src").orderBy(col("cos_sim").desc, col("dst"))))
        .filter(col("rn") <= k).select("src", "dst")
      val u = g.select(col("src"), col("dst")).unionByName(rev).distinct()
      val c1 = u.as("ga").join(u.as("gb"), col("ga.dst") === col("gb.src"))
        .filter(col("gb.dst") =!= col("ga.src"))
        .select(col("ga.src").as("src"), col("gb.dst").as("dst"))
      val cand = c1.unionByName(g.select("src", "dst")).distinct()
      g = graft.CacheScope.register(topK(cand).localCheckpoint(true))
    }
    g
  }

  /** NSW-style BEAM SEARCH over the [[knnGraph]] structure: per query,
    * the beam seeds from the query's own (capped) LSH bucket-mates plus
    * the global-minimum entry node (multi-entry seeding — how real
    * deployments bootstrap a navigable-graph search), then `hops`
    * rounds of expand-through-neighbors → exact-score → keep the
    * `beam` best (rounded-cosine desc, id asc), and the final beam
    * yields top-k with the query's own node excluded. Every hop is one
    * join of the |Q|·beam frontier against the edge table + one window
    * prune — query-side work is |Q|-bounded at any corpus size, and
    * the graph (an index artifact) is built once per corpus and served
    * from the session index cache.
    */
  def graphSearch(df: DataFrame, id: String, emb: String, g: DataFrame,
                  queryPred: Column, beam: Int, hops: Int, k: Int,
                  tabs: Seq[Seq[Seq[Double]]],
                  bucketCap: Int = Dedup.defaultBucketCap,
                  prebuiltNrm: Option[DataFrame] = None,
                  corpusPred: Column = lit(true),
                  prebuiltBkt: Option[DataFrame] = None): DataFrame = {
    // every prune hop joins the frontier against the normalized vector
    // table — without a prebuilt (session-index) copy that is hops+1
    // full normalize-scans of the corpus per search batch; the query
    // sites pass the family-shared cached table so each hop probes
    // materialized blocks instead
    val nrm = prebuiltNrm.getOrElse(normalized(df, id, emb))
    val q = broadcast(nrm.filter(queryPred)
      .select(col(id).as("query_id"), col("ne").as("qe")))
    // frontier rows are |Q|·beam·k — tiny; broadcast THEM against the
    // corpus-sized vector table so scoring is one scan, no shuffle
    def prune(b: DataFrame, width: Int): DataFrame = {
      val scored = broadcast(b)
        .join(nrm.select(col(id).as("node"), col("ne").as("ce")), "node")
        .join(q, "query_id")
        .select(col("query_id"), col("node"),
          round(dotD(col("qe"), col("ce")), 4).as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos_sim").desc, col("node").asc)
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= width)
    }
    // the bucket projection feeds BOTH the capped corpus side and the
    // query-side seeds — lazy, that is two full corpus scans + sign
    // projections per search batch; checkpoint the narrow (id, t,
    // bucket) rows once (r15). r16: the query sites pass the
    // session-cached corpus bucket table ([[bktOf]]) — the LSH tables
    // ARE part of the navigable-graph index (the seed structure), so
    // like nrm/graph they are built once per corpus, not per search
    // batch; a bare operator call without one still checkpoints its own.
    val bkt = prebuiltBkt.getOrElse(graft.CacheScope.register(
      lshBuckets(df, id, emb, tabs).select(col(id), col("t"), col("bucket"))
        .localCheckpoint(true)))
    // seed candidates and the entry node come from the CORPUS side only
    // (corpusPred; default = whole df) — graphAppend searches a frozen
    // BASE graph, so its seeds must never be other batch nodes
    val capped = bkt.filter(corpusPred).withColumn("bn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("t", "bucket").orderBy(col(id))))
      .filter(col("bn") <= bucketCap)
      .select(col(id).as("nb"), col("t"), col("bucket"))
    val entry = nrm.filter(corpusPred).agg(min(col(id)).as("node"))
    // multi-probe the seeds: the query side also probes every hamming-1
    // bucket — (bits+1)× fanout on the |Q|-bounded side only, zero extra
    // corpus cost (the sim_lsh_ann precedent); better seeds are the
    // measured recall lever since hops beyond 3 were flat
    val seeds = bkt.filter(queryPred)
      .withColumn("bucket", explode(array(hamming1Variants(tabs.head.size): _*)))
      .join(capped, Seq("t", "bucket"))
      .filter(col(id) =!= col("nb"))
      .select(col(id).as("query_id"), col("nb").as("node"))
      .unionByName(q.select(col("query_id")).crossJoin(broadcast(entry)))
      .distinct()
    // each hop references the previous beam TWICE (expand ∪ carry) — a
    // lazy chain doubles the plan per hop and re-executes hop 0 up to
    // 2^hops times; the frontier is |Q|·beam rows, so materialize each
    // hop (the knnGraph rounds contract applied to the search side).
    // r16 NEGATIVE (measured, reverted): running these eager hop
    // checkpoints with AQE OFF — motivated by the job-cadence anatomy
    // (66 jobs/append, ~9 AQE sub-jobs per prune, ~45 ms driver cadence
    // each) — more than DOUBLED the family (append 4.7 → 9.3 s,
    // search 2.2 → 3.4 s back-to-back): the static planner has no
    // stats for the checkpointed inputs (LogicalRDD → huge estimates),
    // mis-plans the g-expand join as sort-merge, and every interior
    // exchange runs 32 un-coalesced tasks. AQE's per-stage cadence IS
    // the cheaper execution for the loop; the floor stands as the
    // price of runtime re-planning.
    var beamDf = graft.CacheScope.register(
      prune(seeds, beam).localCheckpoint(true))
    (1 to hops).foreach { _ =>
      val expanded = beamDf
        .select(col("query_id"), col("node"))
        .join(g.select(col("src").as("node"), col("dst")), "node")
        .select(col("query_id"), col("dst").as("node"))
        .unionByName(beamDf.select("query_id", "node"))
        .distinct()
      beamDf = graft.CacheScope.register(
        prune(expanded, beam).localCheckpoint(true))
    }
    val fin = beamDf.filter(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node").as("neighbor_id"), col("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    fin.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** INCREMENTAL graph maintenance — the online insert step the r13
    * verdict named as the family's missing half (the `sim_ivfpq_append`
    * contract applied to the HNSW class): a new batch joins an EXISTING
    * k-NN graph with BATCH-sized work, no corpus rescan, no rebuild.
    * Each new vector beam-searches the frozen base graph for its k
    * nearest base nodes (its forward edges — exactly how HNSW inserts
    * route), and each found base node then re-ranks its standing edge
    * list against the arriving reverse edge (the splice), keeping k.
    * Untouched base rows pass through unmodified. Work: |batch| beams
    * (each |Q|-bounded) + ≤ |batch|·k re-ranks + |batch|·tables·cap
    * batch-batch candidates.
    *
    * Sequential-insert fidelity (r15): nodes arriving in the same batch
    * link to EACH OTHER — their capped multi-probed LSH bucket-mate
    * pairs (the graph-init candidate shape restricted to the batch,
    * symmetrized) join the beam-found base candidates before the
    * forward top-k. The r14 batch-vs-base-only trade cost appended-node
    * recall 0.859 vs the base build's 0.94 — a rolling-ingest user
    * accumulated that deficit every batch. */
  def graphAppend(df: DataFrame, id: String, emb: String, g: DataFrame,
                  batchPred: Column, k: Int, beam: Int, hops: Int,
                  tabs: Seq[Seq[Seq[Double]]],
                  bucketCap: Int = Dedup.defaultBucketCap,
                  prebuiltNrm: Option[DataFrame] = None,
                  prebuiltBkt: Option[DataFrame] = None): DataFrame = {
    val nrm = prebuiltNrm.getOrElse(
      graft.CacheScope.register(normalized(df, id, emb).localCheckpoint(true)))
    val found = graphSearch(df, id, emb, g, batchPred, beam, hops, k,
      tabs, bucketCap, prebuiltNrm = Some(nrm), corpusPred = !batchPred,
      prebuiltBkt = prebuiltBkt)
    // batch-batch candidates: the knnGraph init shape (hamming-1
    // multi-probe against capped buckets) over BATCH rows only —
    // |batch|·tables·(bits+1)·cap bare pairs, symmetrized because
    // caps trim asymmetrically
    // batch-side buckets feed the cap window AND the probe explode —
    // checkpoint once instead of two batch scans (r15). r16: with the
    // session bucket index available this is a narrow FILTER over its
    // materialized blocks (both consumers re-read blocks, never re-scan
    // the corpus) — no second checkpoint job needed.
    val bktQ = prebuiltBkt.map(_.filter(batchPred)).getOrElse(
      graft.CacheScope.register(
        lshBuckets(df, id, emb, tabs)
          .filter(batchPred).select(col(id), col("t"), col("bucket"))
          .localCheckpoint(true)))
    val capQ = bktQ.withColumn("bn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("t", "bucket").orderBy(col(id))))
      .filter(col("bn") <= bucketCap)
      .select(col(id).as("nb"), col("t"), col("bucket"))
    val bb0 = bktQ.withColumn("bucket",
        explode(array(hamming1Variants(tabs.head.size): _*)))
      .join(capQ, Seq("t", "bucket"))
      .filter(col(id) =!= col("nb"))
      .select(col(id).as("src"), col("nb").as("dst"))
    val bbs = bb0.unionByName(
      bb0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    // forward edges: top-k per batch node over beam-found base
    // candidates ∪ batch-batch candidates, re-scored by the gated
    // scorer. `fwd` feeds the output, the reverse splice AND the
    // touched set — materialize once (the r14 lazy-reexecution fix)
    val scorer = scoreTopK(nrm, id)
    val candF = found.select(col("query_id").as("src"),
        col("neighbor_id").as("dst"))
      .unionByName(bbs).distinct()
    val fwd = graft.CacheScope.register(
      scorer(candF, k).localCheckpoint(true))
    // reverse splice: candidate edges toward the new nodes, re-ranked
    // against each touched BASE node's standing list — bare int pairs,
    // vectors join back only inside the gated scorer (broadcast under
    // the byte gate, the session grid index past it). Batch-side
    // reverse edges need no splice: bbs is symmetric, so the batch
    // already saw them before its forward top-k.
    val batchIds = df.filter(batchPred).select(col(id).as("dst"))
    val revc = fwd.join(batchIds, Seq("dst"), "left_anti")
      .select(col("dst").as("src"), col("src").as("dst"))
    val touched = revc.select("src").distinct()
    val cand = g.join(touched, Seq("src")).select("src", "dst")
      .unionByName(revc).distinct()
    val reRanked = scorer(cand, k)
    val untouched = g.join(touched, Seq("src"), "left_anti")
      .select("src", "dst", "cos_sim", "rank")
    untouched.unionByName(reRanked)
      .unionByName(fwd.select("src", "dst", "cos_sim", "rank"))
  }

  /** knn-graph family config, shared by queries and generated oracles.
    * Init uses the ANN-tuned 12×4-bit tables (annTabs): on this
    * corpus's shallow cosine gaps the 6-bit dup tables bucket cos≈0.5
    * neighbors with P≈0.09/table and the graph never sees them —
    * measured graph recall@5 0.44 under dupTabs init vs 0.82 under
    * annTabs at (k=8, rounds=2, beam=12). Degree and beam were then
    * set by the r14 GraphAnnProbe sweep at sf0.1: search recall
    * saturates at the graph's truth-edge coverage (beam=12 recall 0.76
    * vs edge recall 0.74 at k=8), so DEGREE is the lever — k 8→16
    * lifts edge recall 0.74→0.88 and search to 0.92/0.60 at beam=16,
    * 0.94/0.60 at beam=24 (rounds=3 and hops=4 measured flat at every
    * k). k=16 is also the HNSW-standard M; round fan stays ≤4k² per
    * node — linear in the corpus. */
  val graphK = 16
  val graphRounds = 2
  val graphBeam = 24
  val graphHops = 3
  val graphTopK = 5
  val graphInitCap = 48

  /** The session-cached NORMALIZED vector table the sim family shares:
    * every ANN build and every beam-search hop scores against it, so it
    * is an index artifact in its own right (FAISS keeps exactly this
    * table resident). IndexCache is not re-entrant — resolve this
    * BEFORE any enclosing cachedIndex builder (pass it in). */
  private def nrmOf(s: SparkSession, d: String): DataFrame =
    cachedIndex(s"$d|nrm") {
      normalized(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding")
    }

  /** The session-cached corpus LSH BUCKET table the graph-ANN family
    * shares (r16): the hash tables are the index's seed structure —
    * every beam search (and the append path's batch-mate candidates)
    * reads them, exactly as an HNSW/LSH deployment keeps its hash
    * tables resident next to the vectors. Narrow (id, t, bucket) rows;
    * deterministic (fixed annTabs hyperplanes), so serving it cached
    * cannot change results. */
  private def bktOf(s: SparkSession, d: String): DataFrame =
    cachedIndex(s"$d|lshbkt|${annTabs.size}x${annTabs.head.size}") {
      lshBuckets(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", annTabs)
        .select(col("vec_id"), col("t"), col("bucket"))
    }

  /** The session-cached graph index the family's queries share. */
  private def graphOf(s: SparkSession, d: String): DataFrame = {
    val nrm = nrmOf(s, d) // resolve OUTSIDE the builder (re-entrancy)
    cachedIndex(s"$d|knngraph|$graphK|$graphRounds") {
      knnGraph(Tables.embeddings(s, d), "vec_id", "embedding",
        k = graphK, rounds = graphRounds, tabs = annTabs,
        bucketCap = graphInitCap, prebuiltNrm = Some(nrm))
    }
  }

  /** The append family's frozen BASE graph: built over the corpus MINUS
    * the arriving batch (vec_id ≡ 7 mod 10 — the sim_ivfpq_append batch
    * convention), session-cached like every index artifact. */
  val graphBatchMod = 7
  private def graphBaseOf(s: SparkSession, d: String): DataFrame = {
    val nrm = nrmOf(s, d) // resolve OUTSIDE the builder (re-entrancy)
    cachedIndex(s"$d|knngraph_base|$graphK|$graphRounds") {
      knnGraph(
        Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= graphBatchMod),
        "vec_id", "embedding", k = graphK, rounds = graphRounds,
        tabs = annTabs, bucketCap = graphInitCap,
        prebuiltNrm = Some(nrm.filter(col("vec_id") % 10 =!= graphBatchMod)))
    }
  }

  // ---- oracle SQL generation (same plane literals, same fold order)

  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"
  /** dot over already-double (normalised) lists — no per-element cast, so
    * the fold replays Spark's dotRaw bit-for-bit. */
  private def sqlDotRaw(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  /** mirrors `normalized`: norm once per vector, then elementwise divide. */
  private def normCteFor(rel: String): String =
    s"""nrm AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / nr) AS ne FROM (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nr FROM $rel))"""
  private val normCte = normCteFor("embeddings")

  /** Shared SQ8 train+encode chain (nrm → per-dim min/span → code lists),
    * ending in `codes(vec_id, cs)` — the single SQL source for the ANN
    * oracle and the quantize-error audit. */
  private lazy val sq8CtesSql: String =
    s"""$normCte, """ +
      s"""mm AS (SELECT pos, min(x) AS mn, max(x) - min(x) AS sc FROM (SELECT unnest(ne) AS x, unnest(range(1, len(ne) + 1)) AS pos FROM nrm) GROUP BY pos), """ +
      s"""qv AS (SELECT list(mn ORDER BY pos) AS mnl, list(sc ORDER BY pos) AS scl FROM mm), """ +
      s"""codes AS (SELECT vec_id, list_transform(range(1, len(ne) + 1), i -> CASE WHEN v.scl[i] = 0 THEN 0.0 ELSE least(greatest(floor((ne[i] - v.mnl[i]) / v.scl[i] * 255 + 0.5), 0.0), 255.0) END) AS cs FROM nrm CROSS JOIN qv v)"""

  private def planesValues(tabs: Seq[Seq[Seq[Double]]]): String =
    tabs.zipWithIndex.flatMap { case (tab, t) =>
      tab.zipWithIndex.map { case (w, p) =>
        s"($t, $p, [${w.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(", ")

  /** Unrolled Lloyd iterations mirroring [[kmeansCentroids]] CTE by CTE:
    * s_i scores every vector against the previous centroids (the oracle
    * may crossJoin — only the Spark plan is graded on shuffle shape),
    * a_i picks the argmax by the SAME `2.0 - score` key Spark sorts on,
    * m_i sums 1e-6-quantized elements as exact BIGINTs, l_i rebuilds the
    * mean lists, c_i falls back to the previous centroid for empty
    * clusters. All arithmetic is the identical IEEE op sequence.
    */
  private def kmeansCtes: String = kmeansCtesFrom("nrm")

  /** [[kmeansCtes]] over an arbitrary source relation — the append oracle
    * trains on the base-only subset while assigning the full corpus.
    * Lloyd iterations read the md5-draw SAMPLE of the source (identical
    * 16-bit draw to [[kmeansCentroids]]; init rows always included), so
    * the oracle replays the sample-trained centroids exactly. */
  private def kmeansCtesFrom(src: String): String = {
    val drawSql = (1 to 4).map(j =>
      s"((strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
      .mkString("(", " + ", ")")
    val smp = s"${src}smp"
    val iterCtes = (1 to ivfIters).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS (SELECT n.vec_id, n.ne, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM $smp n CROSS JOIN $prev c), """ +
        s"""a$i AS (SELECT vec_id, ne, cid FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS rn FROM s$i) WHERE rn = 1), """ +
        s"""m$i AS (SELECT cid, i AS pos, sum(CAST(floor(ne[i] * 1000000.0 + 0.5) AS BIGINT)) AS s, count(*) AS n FROM a$i CROSS JOIN range(1, ${dims + 1}) t(i) GROUP BY cid, i), """ +
        s"""l$i AS (SELECT cid, list(floor(s / n + 0.5) / 1000000.0 ORDER BY pos) AS ce FROM m$i GROUP BY cid), """ +
        s"""c$i AS (SELECT c.cid, coalesce(l.ce, c.ce) AS ce FROM $prev c LEFT JOIN l$i l USING (cid))"""
    }.mkString(", ")
    s"""$smp AS (SELECT * FROM $src WHERE $drawSql < $kmeansSampleCut OR vec_id < $ivfC), """ +
      s"""c0 AS (SELECT vec_id AS cid, ne AS ce FROM $src WHERE vec_id < $ivfC), $iterCtes"""
  }

  /** Per-subspace PQ training CTEs mirroring [[pqCodebooks]]: nsub$s is
    * the sub-vector slice, cb${s}_0..cb${s}_iters the unrolled Lloyd
    * iterations (same CTE shapes as [[kmeansCtes]], same exact-integer
    * means), cbj$s the final codebook with its positional code j
    * (row_number over cid ascending == the Scala seq index, since the
    * Scala codebook is id-sorted).
    */
  private def pqKmeansCtes(s: Int, src: String = "nrm", tag: String = ""): String = {
    val lo = s * pqSubDims + 1
    val hi = lo + pqSubDims - 1
    val nsub = s"nsub$tag$s"
    val smp = s"${nsub}smp"
    val drawSql = (1 to 4).map(j =>
      s"((strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
      .mkString("(", " + ", ")")
    val iterCtes = (1 to pqIters).map { i =>
      val prev = s"cb$tag${s}_${i - 1}"
      s"""sq$tag${s}_$i AS (SELECT n.vec_id, n.ne, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM $smp n CROSS JOIN $prev c), """ +
        s"""aq$tag${s}_$i AS (SELECT vec_id, ne, cid FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS rn FROM sq$tag${s}_$i) WHERE rn = 1), """ +
        s"""mq$tag${s}_$i AS (SELECT cid, i AS pos, sum(CAST(floor(ne[i] * 1000000.0 + 0.5) AS BIGINT)) AS sm, count(*) AS n FROM aq$tag${s}_$i CROSS JOIN range(1, ${pqSubDims + 1}) t(i) GROUP BY cid, i), """ +
        s"""lq$tag${s}_$i AS (SELECT cid, list(floor(sm / n + 0.5) / 1000000.0 ORDER BY pos) AS ce FROM mq$tag${s}_$i GROUP BY cid), """ +
        s"""cb$tag${s}_$i AS (SELECT c.cid, coalesce(l.ce, c.ce) AS ce FROM $prev c LEFT JOIN lq$tag${s}_$i l USING (cid))"""
    }.mkString(", ")
    s"""$nsub AS (SELECT vec_id, ne[$lo:$hi] AS ne FROM $src), """ +
      s"""$smp AS (SELECT * FROM $nsub WHERE $drawSql < $kmeansSampleCut OR vec_id < $pqKs), """ +
      s"""cb$tag${s}_0 AS (SELECT vec_id AS cid, ne AS ce FROM $nsub WHERE vec_id < $pqKs), $iterCtes, """ +
      s"""cbj$tag$s AS (SELECT cid, ce, row_number() OVER (ORDER BY cid) - 1 AS j FROM cb$tag${s}_$pqIters)"""
  }

  // shared PQ oracle fragments (training CTEs come from pqKmeansCtes)
  private def pqSs = 0 until pqM
  private def pqCodeCtes: String = pqSs.map { s =>
    s"""cdq$s AS (SELECT vec_id, j AS code FROM (SELECT n.vec_id, c.j, row_number() OVER (PARTITION BY n.vec_id ORDER BY 2.0 - (${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2) ASC, c.cid ASC) AS rn FROM nsub$s n CROSS JOIN cbj$s c) WHERE rn = 1)"""
  }.mkString(", ")
  private def pqCodesWide: String =
    s"""codes AS (SELECT c0.vec_id${pqSs.map(s => s", c$s.code AS k$s").mkString} FROM cdq0 c0 ${pqSs.drop(1).map(s => s"JOIN cdq$s c$s USING (vec_id)").mkString(" ")})"""
  private def pqQtCtes: String = pqSs.map { s =>
    s"""qt$s AS (SELECT n.vec_id, list(${sqlDotRaw("n.ne", "c.ce")} ORDER BY c.j) AS t FROM nsub$s n CROSS JOIN cbj$s c WHERE n.vec_id < 10 GROUP BY n.vec_id)"""
  }.mkString(", ")
  private def pqQtsWide: String =
    s"""qts AS (SELECT qt0.vec_id${pqSs.map(s => s", qt$s.t AS t$s").mkString} FROM qt0 ${pqSs.drop(1).map(s => s"JOIN qt$s USING (vec_id)").mkString(" ")})"""
  private def pqAdcSum: String = pqSs.map(s => s"q.t$s[x.k$s + 1]").mkString(" + ")
  private def pqTail: String =
    s"""sl AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id ASC) AS rn FROM sc) WHERE rn <= $pqShort), """ +
      s"""ex AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("a.ne", "b.ne")}, 4) AS cos_sim FROM sl JOIN nrm a ON query_id = a.vec_id JOIN nrm b ON neighbor_id = b.vec_id), """ +
      s"""r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM ex) """ +
      s"""SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Full sim_pq_ann oracle: per-subspace training + encoding, wide code
    * rows, per-query ADC tables, fixed-order ADC sum, shortlist, exact
    * re-rank — each stage the literal SQL image of [[simPqAnn]].
    */
  private def pqOracle: String =
    s"""WITH $normCte, ${pqSs.map(s => pqKmeansCtes(s)).mkString(", ")}, $pqCodeCtes, $pqCodesWide, $pqQtCtes, $pqQtsWide, """ +
      s"""sc AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, round($pqAdcSum, 4) AS approx_sim FROM codes x CROSS JOIN qts q WHERE q.vec_id != x.vec_id), """ +
      pqTail

  /** sim_ivfpq_res_ann oracle — the residual-encoded variant: the coarse
    * CTEs feed an explicit residual table (ne[i] - ce[i] per assigned
    * centroid) that the PQ training CTEs consume; ENCODING replays the
    * query's literal-offset identity exactly — score = dot(raw_sub, cb) -
    * (dot(ce_sub, cb) + dot(cb, cb)/2), every fold in the shared order —
    * and scoring adds the per-(query, probed list) coarse dot before the
    * fixed-order ADC chain.
    */
  private def resOracle: String = {
    val adc = pqSs.map(s => s"q.t$s[x.k$s + 1]").mkString(" + ")
    def lo(s: Int) = s * pqSubDims + 1
    def hi(s: Int) = lo(s) + pqSubDims - 1
    s"""WITH $normCte, $kmeansCtes, """ +
      s"""fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), """ +
      s"""fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), """ +
      s"""lists AS (SELECT vec_id AS neighbor_id, cid FROM fr WHERE crank = 1), """ +
      s"""probes AS (SELECT vec_id AS query_id, cid FROM fr WHERE vec_id < 10 AND crank <= 2), """ +
      s"""asg AS (SELECT vec_id, cid FROM fr WHERE crank = 1), """ +
      s"""res AS (SELECT n.vec_id, list_transform(range(1, ${dims + 1}), i -> n.ne[i] - c.ce[i]) AS ne FROM nrm n JOIN asg a USING (vec_id) JOIN c$ivfIters c ON a.cid = c.cid), """ +
      pqSs.map(s => pqKmeansCtes(s, src = "res", tag = "r")).mkString(", ") + ", " +
      pqSs.map(s => s"""rawsub$s AS (SELECT vec_id, ne[${lo(s)}:${hi(s)}] AS ne FROM nrm)""").mkString(", ") + ", " +
      pqSs.map(s => s"""csub$s AS (SELECT cid, ce[${lo(s)}:${hi(s)}] AS ce FROM c$ivfIters)""").mkString(", ") + ", " +
      pqSs.map(s => s"""cdqr$s AS (SELECT vec_id, j AS code FROM (SELECT n.vec_id, c.j, row_number() OVER (PARTITION BY n.vec_id ORDER BY 2.0 - (${sqlDotRaw("n.ne", "c.ce")} - (${sqlDotRaw("g.ce", "c.ce")} + ${sqlDotRaw("c.ce", "c.ce")} / 2)) ASC, c.cid ASC) AS rn FROM rawsub$s n JOIN asg a USING (vec_id) JOIN csub$s g ON a.cid = g.cid CROSS JOIN cbjr$s c) WHERE rn = 1)""").mkString(", ") + ", " +
      s"""codesr AS (SELECT c0.vec_id${pqSs.map(s => s", c$s.code AS k$s").mkString} FROM cdqr0 c0 ${pqSs.drop(1).map(s => s"JOIN cdqr$s c$s USING (vec_id)").mkString(" ")}), """ +
      pqSs.map(s => s"""qtr$s AS (SELECT n.vec_id, list(${sqlDotRaw("n.ne", "c.ce")} ORDER BY c.j) AS t FROM rawsub$s n CROSS JOIN cbjr$s c WHERE n.vec_id < 10 GROUP BY n.vec_id)""").mkString(", ") + ", " +
      s"""qtsr AS (SELECT qtr0.vec_id${pqSs.map(s => s", qtr$s.t AS t$s").mkString} FROM qtr0 ${pqSs.drop(1).map(s => s"JOIN qtr$s USING (vec_id)").mkString(" ")}), """ +
      s"""qcr AS (SELECT p.query_id, p.cid, ${sqlDotRaw("n.ne", "c.ce")} AS qc FROM probes p JOIN nrm n ON p.query_id = n.vec_id JOIN c$ivfIters c USING (cid)), """ +
      s"""sc AS (SELECT w.query_id, l.neighbor_id, round(w.qc + $adc, 4) AS approx_sim FROM qcr w JOIN lists l ON l.cid = w.cid JOIN codesr x ON l.neighbor_id = x.vec_id JOIN qtsr q ON w.query_id = q.vec_id WHERE w.query_id != l.neighbor_id), """ +
      pqTail
  }

  /** sim_ivfpq_ann oracle: the coarse-quantizer CTEs of the IVF oracle
    * (same centroids/assignment) feed the PQ oracle's codes/qtabs — the
    * candidate set is probed-lists ∩ ADC scan, then the shared shortlist +
    * exact re-rank tail. The literal SQL image of [[simIvfPqAnn]].
    */
  private def ivfPqOracle: String =
    s"""WITH $normCte, $kmeansCtes, """ +
      s"""fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), """ +
      s"""fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), """ +
      s"""lists AS (SELECT vec_id AS neighbor_id, cid FROM fr WHERE crank = 1), """ +
      s"""probes AS (SELECT vec_id AS query_id, cid FROM fr WHERE vec_id < 10 AND crank <= 2), """ +
      s"""${pqSs.map(s => pqKmeansCtes(s)).mkString(", ")}, $pqCodeCtes, $pqCodesWide, $pqQtCtes, $pqQtsWide, """ +
      s"""sc AS (SELECT p.query_id, l.neighbor_id, round($pqAdcSum, 4) AS approx_sim FROM probes p JOIN lists l USING (cid) JOIN codes x ON l.neighbor_id = x.vec_id JOIN qts q ON p.query_id = q.vec_id WHERE p.query_id != l.neighbor_id), """ +
      pqTail

  /** sim_ivfpq_append oracle: a FROM-SCRATCH encode of the unioned
    * corpus under quantizers trained on the base subset only (nrmb) —
    * training CTEs read nrmb, assignment/encoding/probing read the full
    * nrm. Appending batch rows to the base index must answer exactly
    * this, because encoding under frozen quantizers is a pure
    * projection.
    */
  private def ivfPqAppendOracle: String = {
    def lo(s: Int) = s * pqSubDims + 1
    def hi(s: Int) = lo(s) + pqSubDims - 1
    s"""WITH $normCte, nrmb AS (SELECT * FROM nrm WHERE NOT (vec_id >= $ivfC AND vec_id % 10 = 7)), """ +
      s"""${kmeansCtesFrom("nrmb")}, """ +
      s"""fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), """ +
      s"""fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), """ +
      s"""lists AS (SELECT vec_id AS neighbor_id, cid FROM fr WHERE crank = 1), """ +
      s"""probes AS (SELECT vec_id AS query_id, cid FROM fr WHERE vec_id < 10 AND crank <= 2), """ +
      pqSs.map(s => pqKmeansCtes(s, src = "nrmb", tag = "b")).mkString(", ") + ", " +
      pqSs.map(s => s"""nsubf$s AS (SELECT vec_id, ne[${lo(s)}:${hi(s)}] AS ne FROM nrm)""").mkString(", ") + ", " +
      pqSs.map(s => s"""cdqf$s AS (SELECT vec_id, j AS code FROM (SELECT n.vec_id, c.j, row_number() OVER (PARTITION BY n.vec_id ORDER BY 2.0 - (${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2) ASC, c.cid ASC) AS rn FROM nsubf$s n CROSS JOIN cbjb$s c) WHERE rn = 1)""").mkString(", ") + ", " +
      s"""codes AS (SELECT c0.vec_id${pqSs.map(s => s", c$s.code AS k$s").mkString} FROM cdqf0 c0 ${pqSs.drop(1).map(s => s"JOIN cdqf$s c$s USING (vec_id)").mkString(" ")}), """ +
      pqSs.map(s => s"""qtf$s AS (SELECT n.vec_id, list(${sqlDotRaw("n.ne", "c.ce")} ORDER BY c.j) AS t FROM nsubf$s n CROSS JOIN cbjb$s c WHERE n.vec_id < 10 GROUP BY n.vec_id)""").mkString(", ") + ", " +
      s"""qts AS (SELECT qtf0.vec_id${pqSs.map(s => s", qtf$s.t AS t$s").mkString} FROM qtf0 ${pqSs.drop(1).map(s => s"JOIN qtf$s USING (vec_id)").mkString(" ")}), """ +
      s"""sc AS (SELECT p.query_id, l.neighbor_id, round($pqAdcSum, 4) AS approx_sim FROM probes p JOIN lists l USING (cid) JOIN codes x ON l.neighbor_id = x.vec_id JOIN qts q ON p.query_id = q.vec_id WHERE p.query_id != l.neighbor_id), """ +
      pqTail
  }

  /** DuckDB list of the bucket string plus its hamming-1 variants —
    * mirrors [[hamming1Variants]]; shared by every multi-probe replay. */
  private def flipsSql(bits: Int): String =
    ("bucket" +: (0 until bits).map(i =>
      s"substr(bucket, 1, $i) || (CASE WHEN substr(bucket, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, ${i + 2}, $bits)")).mkString("[", ", ", "]")

  /** bucket per (vec, table): ordered sign concat — mirrors bucketSig. */
  private def bucketsCte(tabs: Seq[Seq[Seq[Double]]], rel: String = "embeddings"): String =
    s"""pl(tid, pid, w) AS (SELECT * FROM (VALUES ${planesValues(tabs)})), """ +
      s"""bkt AS (SELECT vec_id, tid, string_agg(CASE WHEN ${sqlDot("embedding", "w")} >= 0 THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket FROM $rel CROSS JOIN pl GROUP BY vec_id, tid)"""

  /** The sim_knn_join chain replayed at REP grain over the copy-heavy
    * corpus (embeddings ∪ id-shifted exact copies) — shared verbatim by
    * `sim_knn_join_rep` and the routed `sim_knn_join_auto`, which must
    * produce the identical rep-grain answer when its ratio probe fires. */
  private lazy val knnRepOracle: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings), reps AS (SELECT min(vec_id) AS vec_id, embedding FROM corpus GROUP BY embedding), ${bucketsCte(dupTabs, "reps")}, ${normCteFor("reps")}, capped AS (SELECT tid, bucket, vec_id FROM (SELECT tid, bucket, vec_id, row_number() OVER (PARTITION BY tid, bucket ORDER BY vec_id) AS bn FROM bkt) WHERE bn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.vec_id AS rep_id, b.vec_id AS neighbor_id FROM bkt a JOIN capped b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.vec_id), p AS (SELECT rep_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON rep_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id), r AS (SELECT rep_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY rep_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p), base AS (SELECT rep_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 3), copies AS (SELECT c.vec_id AS query_id, rp.vec_id AS rep_id FROM corpus c JOIN reps rp ON c.embedding = rp.embedding) SELECT cp.query_id, cp.rep_id, b.neighbor_id, b.cos_sim, b.rank FROM copies cp JOIN base b USING (rep_id) ORDER BY query_id, rank"""

  /** One exact-score + keep-k stage of the knn-graph replay: `cand`
    * must expose (src, dst); emits `out`(src, dst, cos_sim, rank). */
  private def graphTopKSql(cand: String, out: String, k: Int): String =
    s"""$out AS MATERIALIZED (SELECT src, dst, cos_sim, rank FROM (SELECT p.src, p.dst, p.cos_sim, row_number() OVER (PARTITION BY p.src ORDER BY p.cos_sim DESC, p.dst) AS rank FROM (SELECT c.src AS src, c.dst AS dst, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM $cand c JOIN nrm x ON c.src = x.vec_id JOIN nrm y ON c.dst = y.vec_id) p) WHERE rank <= $k)"""

  /** One NN-Descent round: symmetrize g(i-1), neighbor-of-neighbor
    * candidates ∪ standing edges, re-score, keep k → g$i. */
  private def graphRoundSql(gIn: String, i: Int, k: Int): String =
    s"""r$i AS MATERIALIZED (SELECT rsrc AS src, rdst AS dst FROM (SELECT dst AS rsrc, src AS rdst, row_number() OVER (PARTITION BY dst ORDER BY cos_sim DESC, src) AS rn FROM $gIn) WHERE rn <= $k), u$i AS MATERIALIZED (SELECT src, dst FROM $gIn UNION SELECT src, dst FROM r$i), x$i AS MATERIALIZED (SELECT a.src AS src, b.dst AS dst FROM u$i a JOIN u$i b ON a.dst = b.src WHERE b.dst != a.src UNION SELECT src, dst FROM $gIn), ${graphTopKSql(s"x$i", s"g$i", k)}"""

  /** The full knn-graph construction replay: capped-LSH init + the
    * configured NN-Descent rounds; the final graph is g$graphRounds. */
  private def graphCtesFor(baseCond: String): String =
    s"""${bucketsCte(annTabs)}, $normCte, bktb AS (SELECT * FROM bkt WHERE $baseCond), cap AS MATERIALIZED (SELECT vec_id AS nb, tid, bucket FROM (SELECT vec_id, tid, bucket, row_number() OVER (PARTITION BY tid, bucket ORDER BY vec_id) AS bn FROM bktb) WHERE bn <= $graphInitCap), qp AS MATERIALIZED (SELECT vec_id, tid, unnest(${flipsSql(annTabs.head.size)}) AS bucket FROM bktb), c0 AS MATERIALIZED (SELECT DISTINCT a.vec_id AS src, b.nb AS dst FROM qp a JOIN cap b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.nb), ${graphTopKSql("c0", "g0", graphK)}, ${(1 to graphRounds).map(i => graphRoundSql(s"g${i - 1}", i, graphK)).mkString(", ")}"""

  private lazy val graphCtes: String = graphCtesFor("TRUE")

  /** The beam-search replay CTE block (seeds → b0..bH → ranked fin):
    * queries from `qCond` rows, seeds/entry restricted to `corpusCond`
    * (TRUE for the plain search; the base side for the append). */
  private def beamCtes(qCond: String, corpusCond: String): String = {
    val gf = s"g$graphRounds"
    s"""qs AS (SELECT vec_id AS query_id, ne AS qe FROM nrm WHERE $qCond), ent AS (SELECT min(vec_id) AS node FROM nrm WHERE $corpusCond), sd AS (SELECT a.vec_id AS query_id, b.nb AS node FROM (SELECT vec_id, tid, unnest(${flipsSql(annTabs.head.size)}) AS bucket FROM bkt WHERE $qCond) a JOIN cap b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.nb UNION SELECT q.query_id, e.node FROM qs q CROSS JOIN ent e), ${beamPruneSql("sd", "b0", graphBeam)}, ${(1 to graphHops).map(i => beamHopSql(i, gf, graphBeam)).mkString(", ")}, fin AS (SELECT query_id, node AS neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, node) AS rank FROM b$graphHops WHERE node != query_id)"""
  }

  /** One beam prune stage of the search replay: `in`(query_id, node) →
    * `out`(query_id, node, cos_sim) keeping the `width` best. */
  private def beamPruneSql(in: String, out: String, width: Int): String =
    s"""$out AS MATERIALIZED (SELECT query_id, node, cos_sim FROM (SELECT p.query_id, p.node, p.cos_sim, row_number() OVER (PARTITION BY p.query_id ORDER BY p.cos_sim DESC, p.node) AS rk FROM (SELECT s.query_id AS query_id, s.node AS node, round(${sqlDotRaw("q.qe", "n.ne")}, 4) AS cos_sim FROM $in s JOIN qs q ON s.query_id = q.query_id JOIN nrm n ON s.node = n.vec_id) p) WHERE rk <= $width)"""

  private def beamHopSql(i: Int, gFinal: String, width: Int): String =
    s"""e$i AS MATERIALIZED (SELECT s.query_id AS query_id, g.dst AS node FROM b${i - 1} s JOIN $gFinal g ON s.node = g.src UNION SELECT query_id, node FROM b${i - 1}), ${beamPruneSql(s"e$i", s"b$i", width)}"""

  /** Oracle replay chains the recall audits compose with. */
  private val topkSql =
    s"""WITH $normCte, q AS (SELECT vec_id AS query_id, ne AS qe FROM nrm WHERE vec_id < 10), c AS (SELECT vec_id AS neighbor_id, ne AS ce FROM nrm), p AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("qe", "ce")}, 4) AS cos_sim FROM q CROSS JOIN c WHERE query_id != neighbor_id), r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  private val ivfAnnSql =
    s"""WITH $normCte, $kmeansCtes, fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), lists AS (SELECT vec_id AS neighbor_id, cid FROM fr WHERE crank = 1), probes AS (SELECT vec_id AS query_id, cid FROM fr WHERE vec_id < 10 AND crank <= 2), cand AS (SELECT DISTINCT p.query_id, l.neighbor_id FROM probes p JOIN lists l USING (cid) WHERE p.query_id != l.neighbor_id), scored2 AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id), r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored2) SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  private val graphSearchSql =
    s"""WITH $graphCtes, ${beamCtes("vec_id < 10", "TRUE")} SELECT query_id, neighbor_id, cos_sim, rank FROM fin WHERE rank <= $graphTopK ORDER BY query_id, rank"""

  /** A recall audit's oracle COMPOSES two committed replay chains
    * (brute-force truth, ANN result) as nested-WITH CTEs and joins them
    * — one source of each chain's SQL, so the audit can never drift
    * from the queries it audits. */
  private def recallSql(tru: String, got: String, gotName: String): String =
    s"""WITH tru AS ($tru), $gotName AS ($got), pq AS (SELECT t.query_id, count(*) AS t, sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS h FROM tru t LEFT JOIN $gotName a ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id GROUP BY t.query_id) SELECT count(*) AS n_queries, sum(t)::BIGINT AS n_truth, sum(h)::BIGINT AS n_hit, ${Stable.sqlRatioRounded("sum(h)", "sum(t)", 4)} AS recall, min(${Stable.sqlRatioRounded("h", "t", 4)}) AS min_recall FROM pq"""

  val queries: Seq[Query] = Seq(
    Query("emb_profile", corpusGrain = false, Some(
      s"""SELECT label::BIGINT AS label, count(*) AS n_vecs, min(len(embedding))::BIGINT AS min_dims, max(len(embedding))::BIGINT AS max_dims, min(n2) AS min_norm2, max(n2) AS max_norm2, sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_nan_vecs FROM (SELECT label, embedding, CASE WHEN isnan(n2r) THEN NULL ELSE n2r END AS n2, bad FROM (SELECT label, embedding, ${sqlDot("embedding", "embedding")} AS n2r, len(list_filter(embedding, x -> isnan(x))) > 0 AS bad FROM embeddings)) GROUP BY label ORDER BY label""")) { (s, d) =>
      embProfile(Tables.embeddings(s, d), "label", "embedding")
        .orderBy("label")
    },

    Query("sim_topk", corpusGrain = false, Some(topkSql)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      simTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          prebuiltNrm = Some(nrmOf(s, d)))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // ANN quality audit: IVF recall@5 vs the brute-force truth — the
    // similarity-family sibling of dedup_lsh_eval. Both sides reuse the
    // SAME helpers/caches as the queries they audit, and the oracle
    // composes the two committed replay chains, so the audit cannot
    // drift from the audited configs.
    Query("sim_recall_eval", corpusGrain = false,
      Some(recallSql(topkSql, ivfAnnSql, "annr"))) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val truth = simTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, prebuiltNrm = Some(nrmOf(s, d)))
        .select("query_id", "neighbor_id")
      val cents = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(normalized(e, "vec_id", "embedding"),
          "vec_id", c = ivfC, iters = ivfIters))
      val nrmI = normalized(e, "vec_id", "embedding")
      val lists = cachedIndex(s"$d|ivf_lists|$ivfC|$ivfIters")(
        ivfListsTable(nrmI, "vec_id", cents, euclid = true))
      val ann = simIvfAnn(e, "vec_id", "embedding", cents,
        queryPred = col("vec_id") < 10, nProbe = 2, k = 5, euclid = true,
        prebuiltLists = Some(lists))
        .select("query_id", "neighbor_id")
      val perQ = truth.join(ann.withColumn("h", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("t"), sum(coalesce(col("h"), lit(0L))).as("h"))
      perQ.agg(
        count(lit(1)).as("n_queries"),
        sum(col("t")).as("n_truth"),
        sum(col("h")).as("n_hit"),
        Stable.ratioRounded(sum(col("h")), sum(col("t")), 4).as("recall"),
        min(Stable.ratioRounded(col("h"), col("t"), 4)).as("min_recall"))
    },

    // the HNSW-class index family: NN-Descent k-NN graph construction
    // (capped-LSH init, 2 neighbor-of-neighbor rounds) — the navigable
    // graph a beam search routes over
    Query("sim_knn_graph", corpusGrain = true, Some(
      s"""WITH $graphCtes SELECT src AS vec_id, dst AS neighbor_id, cos_sim, rank FROM g$graphRounds ORDER BY vec_id, rank""")) { (s, d) =>
      graphOf(s, d)
        .select(col("src").as("vec_id"), col("dst").as("neighbor_id"),
          col("cos_sim"), col("rank"))
        .orderBy("vec_id", "rank")
    },

    // NSW beam search over the session-cached graph: LSH-seeded
    // multi-entry beam, 3 expand/score/prune hops, top-5 emitted
    Query("sim_graph_search", corpusGrain = false, Some(graphSearchSql)) { (s, d) =>
      graphSearch(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", graphOf(s, d), col("vec_id") < 10,
        beam = graphBeam, hops = graphHops, k = graphTopK,
        tabs = annTabs, bucketCap = graphInitCap,
        prebuiltNrm = Some(nrmOf(s, d)), prebuiltBkt = Some(bktOf(s, d)))
        .orderBy("query_id", "rank")
    },

    // incremental maintenance: a 10% batch splices into the frozen base
    // graph with batch-sized work (beam-search forward edges + reverse
    // re-ranks) — the online-insert half of the family; the oracle
    // replays base build + batch beams + splice definitionally
    // oracle: base graph over vec_id % 10 != 7, batch beams seeded from the
    // base side only, forward edges + reverse splice re-rank — the
    // committed replay of graphAppend, stage for stage
    Query("sim_graph_append", corpusGrain = true, Some(
      s"""WITH ${graphCtesFor(s"vec_id % 10 != $graphBatchMod")}, ${beamCtes(s"vec_id % 10 = $graphBatchMod", s"vec_id % 10 != $graphBatchMod")}, bktq AS (SELECT * FROM bkt WHERE vec_id % 10 = $graphBatchMod), capq AS (SELECT vec_id AS nb, tid, bucket FROM (SELECT vec_id, tid, bucket, row_number() OVER (PARTITION BY tid, bucket ORDER BY vec_id) AS bn FROM bktq) WHERE bn <= $graphInitCap), qpq AS (SELECT vec_id, tid, unnest(${flipsSql(annTabs.head.size)}) AS bucket FROM bktq), bb0 AS (SELECT DISTINCT a.vec_id AS src, b.nb AS dst FROM qpq a JOIN capq b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.nb), bbs AS (SELECT src, dst FROM bb0 UNION SELECT dst AS src, src AS dst FROM bb0), candf AS (SELECT query_id AS src, neighbor_id AS dst FROM fin WHERE rank <= $graphK UNION SELECT src, dst FROM bbs), ${graphTopKSql("candf", "fwd", graphK)}, revc AS (SELECT dst AS src, src AS dst FROM fwd WHERE dst % 10 != $graphBatchMod), tch AS (SELECT DISTINCT src FROM revc), candt AS (SELECT g.src, g.dst FROM g$graphRounds g JOIN tch USING (src) UNION SELECT src, dst FROM revc), ${graphTopKSql("candt", "gt", graphK)}, unt AS (SELECT src, dst, cos_sim, rank FROM g$graphRounds WHERE src NOT IN (SELECT src FROM tch)) SELECT src AS vec_id, dst AS neighbor_id, cos_sim, rank FROM (SELECT * FROM unt UNION ALL SELECT * FROM gt UNION ALL SELECT * FROM fwd) ORDER BY vec_id, rank""")) { (s, d) =>
      graphAppend(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", graphBaseOf(s, d),
        batchPred = col("vec_id") % 10 === graphBatchMod, k = graphK,
        beam = graphBeam, hops = graphHops, tabs = annTabs,
        bucketCap = graphInitCap, prebuiltNrm = Some(nrmOf(s, d)),
        prebuiltBkt = Some(bktOf(s, d)))
        .select(col("src").as("vec_id"), col("dst").as("neighbor_id"),
          col("cos_sim"), col("rank"))
        .orderBy("vec_id", "rank")
    },

    // the family's recall audit vs brute-force truth — same composed-
    // chain contract as sim_recall_eval: both sides run the committed
    // graph build + search, so the audit cannot drift from the config;
    // truth = the committed brute-force replay, got = the committed
    // graph-build + beam-search replay
    Query("sim_graph_recall_eval", corpusGrain = false,
      Some(recallSql(topkSql, graphSearchSql, "gotr"))) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val truth = simTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = graphTopK, prebuiltNrm = Some(nrmOf(s, d)))
        .select("query_id", "neighbor_id")
      val got = graphSearch(e, "vec_id", "embedding", graphOf(s, d),
        col("vec_id") < 10, beam = graphBeam, hops = graphHops,
        k = graphTopK, tabs = annTabs, bucketCap = graphInitCap,
        prebuiltNrm = Some(nrmOf(s, d)), prebuiltBkt = Some(bktOf(s, d)))
        .select("query_id", "neighbor_id")
      val perQ = truth.join(got.withColumn("h", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("t"), sum(coalesce(col("h"), lit(0L))).as("h"))
      perQ.agg(
        count(lit(1)).as("n_queries"),
        sum(col("t")).as("n_truth"),
        sum(col("h")).as("n_hit"),
        Stable.ratioRounded(sum(col("h")), sum(col("t")), 4).as("recall"),
        min(Stable.ratioRounded(col("h"), col("t"), 4)).as("min_recall"))
    },

    Query("sim_lsh_ann", corpusGrain = false, Some {
      // multi-probe: the query side also probes every hamming-1 bucket
      // (one sign flipped) — mirrors simLshAnn(multiProbe = true)
      val flips = flipsSql(annTabs.head.size)
      s"""WITH ${bucketsCte(annTabs)}, $normCte, qb AS (SELECT vec_id, tid, unnest($flips) AS bucket FROM bkt WHERE vec_id < 10), cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id FROM qb a JOIN bkt b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.vec_id), p AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id), r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
    }) { (s, d) =>
      simLshAnn(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", col("vec_id") < 10, annTabs, k = 5,
        multiProbe = true)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    Query("sim_ivf_ann", corpusGrain = false, Some(ivfAnnSql)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      // centroid training is INDEX CONSTRUCTION — run once per corpus and
      // reused by every query (the GroupIndex pattern), not re-trained per
      // invocation; deterministic, so caching cannot change results
      val cents = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(normalized(e, "vec_id", "embedding"),
          "vec_id", c = ivfC, iters = ivfIters))
      val nrmI = normalized(e, "vec_id", "embedding")
      val lists = cachedIndex(s"$d|ivf_lists|$ivfC|$ivfIters")(
        ivfListsTable(nrmI, "vec_id", cents, euclid = true))
      simIvfAnn(e, "vec_id", "embedding", cents,
        queryPred = col("vec_id") < 10, nProbe = 2, k = 5, euclid = true,
        prebuiltLists = Some(lists))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // metadata-FILTERED ANN: top-5 among label=2 vectors only, the
    // predicate pushed to the posting-lists scan (label denormalized
    // into the index), nProbe raised 2->4 to recover filtered recall
    // oracle: the sim_ivf_ann chain with the label denormalized into the lists,
    // the predicate applied before scoring, and crank<=4 probes
    Query("sim_filtered_ann", corpusGrain = false, Some(
      s"""WITH $normCte, $kmeansCtes, fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), lists AS (SELECT f.vec_id AS neighbor_id, f.cid, e.label FROM fr f JOIN embeddings e ON f.vec_id = e.vec_id WHERE f.crank = 1), probes AS (SELECT vec_id AS query_id, cid FROM fr WHERE vec_id < 10 AND crank <= 4), cand AS (SELECT DISTINCT p.query_id, l.neighbor_id FROM probes p JOIN lists l USING (cid) WHERE p.query_id != l.neighbor_id AND l.label = 2), scored2 AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id), r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored2) SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""")) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val cents = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(normalized(e, "vec_id", "embedding"),
          "vec_id", c = ivfC, iters = ivfIters))
      val nrmI = normalized(e, "vec_id", "embedding")
      val lists = cachedIndex(s"$d|ivf_lists|$ivfC|$ivfIters")(
        ivfListsTable(nrmI, "vec_id", cents, euclid = true))
      val meta = Tables.embeddings(s, d)
        .select(col("vec_id").as("neighbor_id"), col("label"))
      val listsMeta = cachedIndex(s"$d|ivf_lists_meta|$ivfC|$ivfIters")(
        lists.join(meta, "neighbor_id"))
      simIvfAnn(e, "vec_id", "embedding", cents,
        queryPred = col("vec_id") < 10, nProbe = 4, k = 5, euclid = true,
        prebuiltLists = Some(listsMeta),
        neighborPred = Some(col("label") === 2))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // k-means topic bucketing: every vector's cluster + cluster sizes —
    // the "balance the corpus by embedding cluster" curation view. The
    // assignment IS the session-lifetime IVF lists index (built once,
    // zero-shuffle literal-centroid projection); sizes are one tiny agg
    // broadcast back, so the corpus-sized side never shuffles.
    Query("cluster_kmeans", corpusGrain = true, Some(
      s"""WITH $normCte, $kmeansCtes, fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), lists AS (SELECT vec_id, cid FROM fr WHERE crank = 1) SELECT l.vec_id, l.cid, s.cluster_n FROM lists l JOIN (SELECT cid, count(*) AS cluster_n FROM lists GROUP BY cid) s USING (cid) ORDER BY l.vec_id""")) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val cents = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(normalized(e, "vec_id", "embedding"),
          "vec_id", c = ivfC, iters = ivfIters))
      val nrmI = normalized(e, "vec_id", "embedding")
      val lists = cachedIndex(s"$d|ivf_lists|$ivfC|$ivfIters")(
        ivfListsTable(nrmI, "vec_id", cents, euclid = true))
      val assign = lists.select(col("neighbor_id").as("vec_id"), col("cid"))
      val sizes = assign.groupBy("cid").agg(count(lit(1)).as("cluster_n"))
      assign.join(broadcast(sizes), "cid")
        .select("vec_id", "cid", "cluster_n")
        .orderBy("vec_id")
    },

    Query("dedup_embedding", corpusGrain = true, Some(
      s"""WITH ${bucketsCte(dupTabs)}, $normCte, cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bkt a JOIN bkt b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id < b.vec_id), p AS (SELECT id_a, id_b, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON id_a = x.vec_id JOIN nrm y ON id_b = y.vec_id) SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""")) { (s, d) =>
      embeddingPairs(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", dupTabs, threshold = 0.4)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    },

    // centroid-distance outlier screen over the shared k-means centroids
    // oracle: the cluster_kmeans assignment CTEs + cosine-to-centroid-direction
    // scoring; the fold, sqrt and divide replay Spark's literal order
    Query("emb_outliers", corpusGrain = true, Some(
      s"""WITH $normCte, $kmeansCtes, fs AS (SELECT n.vec_id, c.cid, ${sqlDotRaw("n.ne", "c.ce")} - ${sqlDotRaw("c.ce", "c.ce")} / 2 AS score FROM nrm n CROSS JOIN c$ivfIters c), fr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY 2.0 - score ASC, cid ASC) AS crank FROM fs), lists AS (SELECT vec_id, cid FROM fr WHERE crank = 1), cc AS (SELECT l.vec_id, l.cid, round(${sqlDotRaw("n.ne", "c.ce")} / sqrt(${sqlDotRaw("c.ce", "c.ce")}), 4) AS cos_c FROM lists l JOIN nrm n ON l.vec_id = n.vec_id JOIN c$ivfIters c ON l.cid = c.cid) SELECT vec_id, cid, cos_c, cos_c < $outlierTau AS is_outlier FROM cc ORDER BY vec_id""")) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val cents = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(normalized(e, "vec_id", "embedding"),
          "vec_id", c = ivfC, iters = ivfIters))
      embOutliers(e, "vec_id", "embedding", cents, tau = outlierTau)
        .orderBy("vec_id")
    },

    // data-dependent answer size: everything with cos >= 0.25 per query
    // oracle: the lsh-ann oracle minus the rank stage: threshold, not top-k
    Query("sim_range_search", corpusGrain = true, Some {
      val flips = flipsSql(annTabs.head.size)
      s"""WITH ${bucketsCte(annTabs)}, $normCte, qb AS (SELECT vec_id, tid, unnest($flips) AS bucket FROM bkt WHERE vec_id < 10), cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id FROM qb a JOIN bkt b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.vec_id), p AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id) SELECT query_id, neighbor_id, cos_sim FROM p WHERE cos_sim >= 0.25 ORDER BY query_id, neighbor_id"""
    }) { (s, d) =>
      simRangeSearch(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", col("vec_id") < 10, annTabs, tau = 0.25)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", "neighbor_id")
    },

    // SemDeDup-shaped semantic dedup: near-dup embedding pairs ->
    // components -> keep each cluster's min member with its cluster size.
    // The component labelling is a session-lifetime INDEX artifact like
    // the IVF/PQ tables (deterministic — caching cannot change results).
    // oracle: the dedup_embedding pair CTEs feeding the same recursive min-label
    // fixpoint the Dedup oracles use; keep self-labelled reps + sizes
    Query("dedup_semantic_e2e", corpusGrain = true, Some(
      s"""WITH RECURSIVE ${bucketsCte(dupTabs)}, $normCte, cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bkt a JOIN bkt b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id < b.vec_id), p AS (SELECT id_a, id_b, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON id_a = x.vec_id JOIN nrm y ON id_b = y.vec_id), prs AS (SELECT id_a, id_b FROM p WHERE cos_sim >= 0.4), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT vec_id, vec_id FROM embeddings UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id), sizes AS (SELECT cluster, count(*) AS cluster_n FROM comp GROUP BY cluster) SELECT c.id AS vec_id, s.cluster_n FROM comp c JOIN sizes s ON c.cluster = s.cluster WHERE c.id = c.cluster ORDER BY vec_id""")) { (s, d) =>
      val comps = cachedIndex(s"$d|semcomp|0.4") {
        val e = Tables.embeddings(s, d).select("vec_id", "embedding")
        val pairs = embeddingPairs(e, "vec_id", "embedding", dupTabs,
          threshold = 0.4).select("id_a", "id_b")
        Dedup.connectedComponents(e.select("vec_id"), "vec_id",
          pairs, "id_a", "id_b")
      }
      val sizes = comps.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
      comps.filter(col("vec_id") === col("cluster")).select("vec_id")
        .join(sizes.select(col("cluster").as("vec_id"), col("cluster_n")), "vec_id")
        .orderBy("vec_id")
    },

    // every point's top-3 bucket-mate neighbors (directed self-join)
    Query("sim_knn_join", corpusGrain = true, Some(
      s"""WITH ${bucketsCte(dupTabs)}, $normCte, capped AS (SELECT tid, bucket, vec_id FROM (SELECT tid, bucket, vec_id, row_number() OVER (PARTITION BY tid, bucket ORDER BY vec_id) AS bn FROM bkt) WHERE bn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id FROM bkt a JOIN capped b ON a.tid = b.tid AND a.bucket = b.bucket AND a.vec_id != b.vec_id), p AS (SELECT query_id, neighbor_id, round(${sqlDotRaw("x.ne", "y.ne")}, 4) AS cos_sim FROM cand JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id), r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""")) { (s, d) =>
      simKnnJoin(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding", dupTabs, k = 3)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // the copy-heavy scale path: the testdata vectors are all distinct, so
    // the registered corpus UNIONs an id-shifted exact copy of every vector
    // — the collapse and fan-back stages then do real work at oracle scale
    // (each rep fans back to two query ids), not just pass-through
    // oracle: the sim_knn_join chain replayed at REP grain: corpus = embeddings ∪
    // id-shifted copy; reps = GROUP BY embedding min(vec_id); buckets/norm
    // CTEs run over the rep relation; fan-back joins copies on exact
    // vector equality — the same copy identity the Spark collapse uses
    Query("sim_knn_join_rep", corpusGrain = true, Some(knnRepOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corpus = e.union(
        e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      simKnnJoinRep(corpus, "vec_id", "embedding", dupTabs, k = 3)
        .orderBy("query_id", "rank")
    },

    // the ROUTED kNN join on the copy-heavy corpus: the distinct-ratio
    // probe (one HLL agg) must fire and route to rep grain — the oracle
    // IS the rep-grain answer, so a mis-route hash-fails; SimilaritySpec
    // pins the opposite decision on the all-distinct corpus
    // oracle: the routed operator on the same copy-heavy corpus: the router must
    // pick rep grain, and the result must be the rep-grain answer
    Query("sim_knn_join_auto", corpusGrain = true, Some(knnRepOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corpus = e.union(
        e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      simKnnJoinAuto(corpus, "vec_id", "embedding", dupTabs, k = 3)
        .orderBy("query_id", "rank")
    },

    // oracle: SQ8: per-dim min/max training, byte encoding, reconstruction and
    // asymmetric scoring replayed stage-for-stage; shares the PQ chain's
    // shortlist/re-rank tail (same shortlist size, k = 5)
    Query("sim_sq8_ann", corpusGrain = false, Some(
      s"""WITH $sq8CtesSql, """ +
        s"""rec AS (SELECT c.vec_id, list_transform(range(1, len(cs) + 1), i -> v.mnl[i] + (cs[i] * v.scl[i]) / 255.0) AS re FROM codes c CROSS JOIN qv v), """ +
        s"""sc AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id, round(${sqlDotRaw("q.ne", "x.re")}, 4) AS approx_sim FROM rec x CROSS JOIN (SELECT vec_id, ne FROM nrm WHERE vec_id < 10) q WHERE q.vec_id != x.vec_id), """ +
        pqTail)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val nrm = normalized(e, "vec_id", "embedding")
      // training is index construction: once per corpus (2×dims doubles)
      val (mn, sc) = sq8Cache.computeIfAbsent(d, _ => sq8Train(nrm))
      val codes = cachedIndex(s"$d|sq8_codes")(
        sq8CodesTable(nrm, "vec_id", mn, sc))
      simSq8Ann(e, "vec_id", "embedding", col("vec_id") < 10, mn, sc,
        shortlist = pqShort, k = 5, prebuiltCodes = Some(codes))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // the quantizer's acceptance gate: re-encode + decode through the
    // trained map and report per-vector error vs the exact embedding
    // oracle: same train + encode chain; per-dim |error| floor-quantized to 1e-6
    // and folded as exact integers (order-free both engines)
    Query("emb_quantize_error", corpusGrain = true, Some(
      s"""WITH $sq8CtesSql, """ +
        s"""er AS (SELECT n.vec_id, list_transform(range(1, len(n.ne) + 1), i -> floor(abs(n.ne[i] - (v.mnl[i] + (c.cs[i] * v.scl[i]) / 255.0)) * 1000000.0)::BIGINT) AS e FROM nrm n JOIN codes c USING (vec_id) CROSS JOIN qv v) """ +
        s"""SELECT vec_id, list_max(e)::BIGINT AS max_abs_q6, list_sum(list_transform(e, x -> x * x))::BIGINT AS sse_q12, list_max(e) / 1000000.0 AS max_abs_err FROM er ORDER BY vec_id""")) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val nrm = normalized(e, "vec_id", "embedding")
      val (mn, sc) = sq8Cache.computeIfAbsent(d, _ => sq8Train(nrm))
      sq8QuantizeError(nrm, "vec_id", mn, sc)
        .orderBy("vec_id")
    },

    Query("sim_pq_ann", corpusGrain = false, Some(pqOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      // codebook training is index construction: once per corpus, cached
      // like the IVF centroids (deterministic — caching can't change results)
      val cbs = pqCache.computeIfAbsent(s"$d|$pqM|$pqKs|$pqIters",
        _ => pqCodebooks(normalized(e, "vec_id", "embedding"), "vec_id",
          pqM, pqSubDims, pqKs, pqIters))
      val codes = cachedIndex(s"$d|pq_codes|$pqM|$pqKs|$pqIters")(
        pqCodesTable(normalized(e, "vec_id", "embedding"), "vec_id", cbs, pqSubDims))
      simPqAnn(e, "vec_id", "embedding", cbs, queryPred = col("vec_id") < 10,
        subDims = pqSubDims, shortlist = pqShort, k = 5,
        prebuiltCodes = Some(codes))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    Query("sim_ivfpq_ann", corpusGrain = false, Some(ivfPqOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val nrm = normalized(e, "vec_id", "embedding")
      val coarse = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(nrm, "vec_id", c = ivfC, iters = ivfIters))
      val cbs = pqCache.computeIfAbsent(s"$d|$pqM|$pqKs|$pqIters",
        _ => pqCodebooks(nrm, "vec_id", pqM, pqSubDims, pqKs, pqIters))
      val lists = cachedIndex(s"$d|ivfpq_codes|$ivfC|$pqM|$pqKs|$pqIters")(
        ivfPqCodesTable(nrm, "vec_id", coarse, cbs, pqSubDims))
      simIvfPqAnn(e, "vec_id", "embedding", coarse, cbs,
        queryPred = col("vec_id") < 10, nProbe = 2,
        subDims = pqSubDims, shortlist = pqShort, k = 5,
        prebuiltLists = Some(lists))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // The index-persistence lifecycle: the IVF-PQ list/code table is
    // BUILT once, written as parquet (the durable index artifact a real
    // deployment ships between jobs), READ BACK like any table, and
    // queried — results identical to the in-session index, checked by the
    // SAME oracle as sim_ivfpq_ann. The read-back scan prunes to the
    // narrow code columns like any parquet source.
    // oracle: identical results to the in-session index — same oracle
    Query("sim_ivfpq_persisted", corpusGrain = false, Some(ivfPqOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val nrm = normalized(e, "vec_id", "embedding")
      val coarse = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(nrm, "vec_id", c = ivfC, iters = ivfIters))
      val cbs = pqCache.computeIfAbsent(s"$d|$pqM|$pqKs|$pqIters",
        _ => pqCodebooks(nrm, "vec_id", pqM, pqSubDims, pqKs, pqIters))
      // kmeansSampleCut in the key: the coarse centroids are a function
      // of the training-sample draw, so a sampling change re-keys the
      // artifact instead of serving codes quantized under stale centroids
      val path = ivfPqArtifactPath(e, d)
      val lists = graft.sources.Io.atomicParquetArtifact(s, path)(
        ivfPqCodesTable(nrm, "vec_id", coarse, cbs, pqSubDims))
      simIvfPqAnn(e, "vec_id", "embedding", coarse, cbs,
        queryPred = col("vec_id") < 10, nProbe = 2,
        subDims = pqSubDims, shortlist = pqShort, k = 5,
        prebuiltLists = Some(lists))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // INCREMENTAL index maintenance — the `dedup_incremental` pattern
    // for the sim family: the base index is built WITHOUT the new batch
    // (and cached like any session index artifact); the batch is then
    // encoded against the FROZEN coarse/PQ quantizers — a pure batch-
    // sized projection, no corpus rescan, no retraining — and its rows
    // appended. Because encoding is deterministic under frozen
    // quantizers, the appended index answers queries identically to a
    // from-scratch encode of the unioned corpus — which is exactly what
    // the oracle replays. Batch ids sit above ivfC so the base keeps
    // every k-means/PQ seed row.
    Query("sim_ivfpq_append", corpusGrain = false, Some(ivfPqAppendOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val isBatch = col("vec_id") >= ivfC && col("vec_id") % 10 === 7
      val nrmBase = normalized(e.filter(!isBatch), "vec_id", "embedding")
      val coarse = kmeansCache.computeIfAbsent(s"$d|app|$ivfC|$ivfIters",
        _ => kmeansCentroids(nrmBase, "vec_id", c = ivfC, iters = ivfIters))
      val cbs = pqCache.computeIfAbsent(s"$d|app|$pqM|$pqKs|$pqIters",
        _ => pqCodebooks(nrmBase, "vec_id", pqM, pqSubDims, pqKs, pqIters))
      val baseLists = cachedIndex(s"$d|ivfpq_app_base|$ivfC|$pqM|$pqKs|$pqIters")(
        ivfPqCodesTable(nrmBase, "vec_id", coarse, cbs, pqSubDims))
      val batchCodes = ivfPqCodesTable(
        normalized(e.filter(isBatch), "vec_id", "embedding"),
        "vec_id", coarse, cbs, pqSubDims)
      simIvfPqAnn(e, "vec_id", "embedding", coarse, cbs,
        queryPred = col("vec_id") < 10, nProbe = 2,
        subDims = pqSubDims, shortlist = pqShort, k = 5,
        prebuiltLists = Some(baseLists.union(batchCodes)))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    Query("sim_ivfpq_res_ann", corpusGrain = false, Some(resOracle)) { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val nrm = normalized(e, "vec_id", "embedding")
      val coarse = kmeansCache.computeIfAbsent(s"$d|$ivfC|$ivfIters",
        _ => kmeansCentroids(nrm, "vec_id", c = ivfC, iters = ivfIters))
      val rcbs = pqResCache.computeIfAbsent(s"$d|$pqM|$pqKs|$pqIters",
        _ => pqResCodebooks(nrm, "vec_id", coarse, pqM, pqSubDims, pqKs, pqIters))
      val lists = cachedIndex(s"$d|ivfpqres_codes|$ivfC|$pqM|$pqKs|$pqIters")(
        resCodesTable(nrm, "vec_id", coarse, rcbs, pqSubDims))
      simIvfPqResAnn(e, "vec_id", "embedding", coarse, rcbs,
        queryPred = col("vec_id") < 10, nProbe = 2,
        subDims = pqSubDims, shortlist = pqShort, k = 5,
        prebuiltLists = Some(lists))
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    }
  )
}
