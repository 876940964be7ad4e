package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Record linkage / entity resolution: match dirty (typo-bearing)
  * records back to a clean entity table without ever forming the
  * quadratic record×entity cross product.
  *
  * Reference tie: the reference's ETL dedup/merge keyed by
  * caller-declared identity columns (packages/app/bundles/custom/models/
  * ETL.ts:14-27) assumes keys arrive CLEAN; real crawl/CRM ingest does
  * not — linking "kai stone ames" to "kai stone amse" is the step the
  * reference leaves to the caller and a training-data pipeline must own
  * (author/license/source-site attribution joins at corpus scale).
  *
  * Candidate generation is a DELETION-NEIGHBORHOOD index (the public
  * FastSS / SymSpell family: index every string under itself plus each
  * single-character deletion; two strings within small edit distance
  * share an index key). For the three typo classes modeled here the
  * k=1 index is EXACT (recall 1.0, spec-pinned):
  *   - one deletion: the dirty string IS a deletion variant of clean;
  *   - one substitution at p: deleting p from both sides collides;
  *   - adjacent transposition at p: clean minus char p collides with
  *     dirty minus char p+1 ("abcd"→del2→"abd"; "acbd"→del3→"abd"... both
  *     reach "abd"/"acd" forms — shared member exists for every p).
  * Cost is LINEAR: ~(len+1) index rows per record, never |R|×|E|. For
  * larger edit radii the index grows as len^k — at that point the right
  * tool is the MinHash/LSH family (dedup_minhash), not a deeper index.
  *
  * Scale shape (100 TB): the index explode is a scan-fused projection
  * (zero shuffle, ×~17 row amplification of a name-projection — a few
  * hundred bytes per record); index rows CARRY the (short) name string,
  * so the verify step needs no join back to either corpus — the one
  * shuffle pair is the variant-key equi-join plus the (record, entity)
  * distinct. Hot variant keys are bounded by name-collision mass (two
  * entities sharing a full name), not by corpus size. Best-match is
  * `min(struct(lev, e))` — a partial-aggregable hash agg (map-side
  * combine), NOT a window sort, so the reduce side sees one row per
  * (record, partition) not the full candidate list.
  *
  * Oracle pattern: the dirty corpus is SYNTHESIZED from c_custkey by a
  * fixed formula (three word lists with pairwise-coprime moduli 17/19/23,
  * four variants per entity: exact / delete / adjacent-transpose /
  * substitute at a formula position), and DuckDB replays the formula AND
  * the full pipeline definitionally (same index, same verify, same
  * tie-break) — both engines do the real work; name collisions between
  * entities (vocab 7429 < |E| at sf≥0.1) make the report's
  * n_correct < n_matched rows genuinely earned on both sides.
  */
object Link {

  private val firsts = Seq(
    "kai", "mara", "otto", "nina", "raul", "sofia", "emil", "vera", "hugo",
    "ines", "leon", "dara", "milo", "ruth", "ivan", "cleo", "finn")
  private val mids = Seq(
    "stone", "rivera", "holt", "akira", "lund", "meyer", "cross", "ibarra",
    "vance", "osei", "marsh", "devi", "quint", "bauer", "reyes", "tanak",
    "floyd", "nansen", "okafor")
  private val lasts = Seq(
    "ames", "barton", "cole", "durant", "ellis", "fontes", "grady", "hale",
    "irons", "joshi", "keller", "lomas", "mercer", "novak", "opara", "petit",
    "quincy", "rollo", "sastre", "tormo", "ulrich", "varga", "wilde")

  private def wordArr(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Clean entity table (e, cname): three-word names from coprime-moduli
    * word lists — 17·19·23 = 7429 distinct names, so entities collide on
    * full names once |E| exceeds the vocabulary (deterministic ambiguity
    * the tie-break resolves identically on both sides). */
  def cleanEntities(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("e"))
      .withColumn("cname", expr(
        s"element_at(${wordArr(firsts)}, cast(e % 17 as int) + 1) || ' ' || " +
        s"element_at(${wordArr(mids)},   cast(e % 19 as int) + 1) || ' ' || " +
        s"element_at(${wordArr(lasts)},  cast(e % 23 as int) + 1)"))

  /** Four dirty records per entity (record_id = e*4+v): v0 exact, v1
    * delete char p, v2 transpose chars p,p+1, v3 substitute char p with
    * its successor code point; p = 1 + e % (len-1) sweeps every position. */
  def dirtyRecords(clean: DataFrame): DataFrame =
    clean
      .select(col("e"), col("cname"), explode(expr("sequence(0, 3)")).as("v"))
      .withColumn("p", expr("cast(1 + (e % (length(cname) - 1)) as int)"))
      .select(
        expr("e * 4 + v").as("record_id"),
        col("e").as("true_e"),
        col("v"),
        expr("""CASE v
            WHEN 0 THEN cname
            WHEN 1 THEN substr(cname, 1, p-1) || substr(cname, p+1)
            WHEN 2 THEN substr(cname, 1, p-1) || substr(cname, p+1, 1) || substr(cname, p, 1) || substr(cname, p+2)
            ELSE substr(cname, 1, p-1) || char(ascii(substr(cname, p, 1)) + 1) || substr(cname, p+1)
          END""").as("dname"))

  /** Deletion-neighborhood index: the string itself (i=0) plus every
    * single-character deletion. One scan-fused explode, zero shuffle;
    * rows carry the name so verification is join-free downstream. */
  def deletionIndex(df: DataFrame, nameCol: String, keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+
        explode(expr(s"sequence(0, length($nameCol))")).as("i"): _*)
      .withColumn("variant", expr(
        s"CASE WHEN i = 0 THEN $nameCol " +
        s"ELSE substr($nameCol, 1, i-1) || substr($nameCol, i+1) END"))
      .drop("i")

  /** Exact-dedup pre-pass on the entity side: DISTINCT names, each
    * represented by its minimum entity id. EXACT for every downstream
    * query, not a lossy cap: entities sharing a full name are
    * interchangeable under the (lev, e) tie-break — they all sit at the
    * SAME lev from any record, so the argmin always lands on the
    * lowest-e member of the winning name, which is precisely the
    * representative this collapse keeps (ties ACROSS names at equal lev
    * reduce to min over the names' min-e's — the same value either way).
    *
    * This is the linkage analog of the dedup family's exact-dedup
    * pre-pass before LSH, and it is what bounds candidate mass at
    * scale: without it, hot names make the variant join quadratic in
    * the per-name entity count (the sf10 smoke — 1.5 M entities over
    * this synthetic corpus's FIXED 7429-name vocabulary, ~200 entities
    * per name — ran past 25 min on two queries before being killed;
    * collapsed, candidate volume follows the DISTINCT-name count, which
    * grows sublinearly in any real corpus, and the same smoke finishes
    * in seconds). One partial-aggregable hash agg on a two-column
    * projection. */
  def nameReps(clean: DataFrame): DataFrame =
    clean.groupBy("cname").agg(min(col("e")).as("e"))

  /** Candidate (record, name-representative) pairs: variant-key
    * equi-join between the dirty index and the [[nameReps]]-collapsed
    * clean index, deduped. Names ride along so no corpus re-join.
    *
    * Join strategy (r15, guide §3.1): the CLEAN variant index is
    * distinct-NAME grain — sublinear in the corpus (Heaps-like; fixed
    * 7429 names on this synthetic corpus at every SF) at ~(len+2) rows
    * of ≈100 B per name — so under [[broadcastNameLimit]] it is
    * BROADCAST and the corpus-grain dirty index never shuffles at all:
    * the only exchange left in the candidates stage is the distinct
    * over MATCHED pairs (candidate mass, orders of magnitude below the
    * ~(len+2)×|records| index rows the old shuffle carried); see
    * OPTIMIZATION_r15.md for the measured per-query deltas.
    *
    * PAST the gate the join keeps its explicit SHUFFLE_HASH hint: the
    * dirty side is corpus-grain, and Catalyst's size estimate does not
    * scale through the Generate (explode) nodes, so the ~len+1× index
    * amplification is invisible to the planner — at sf0.01 it happily
    * BROADCASTS the dirty index (estimated at the few-MB customer
    * scan), and at sf1 that mis-plan ships a ~600 MB build side to
    * every task (measured: the sf1 smoke crawled past 16 min before
    * being killed; with the hint the whole family runs in seconds). A
    * shuffled hash join on the variant key is the right fallback shape:
    * no sort, per-task build = one partition of the (name-collapsed,
    * smaller) clean index, skew bounded by cross-NAME variant
    * collisions only. The gate count is one agg over the name-collapsed
    * projection, checkpointed so the gate pass doubles as the index
    * build (the graph family's hintIf pattern). */
  def candidates(dirty: DataFrame, clean: DataFrame): DataFrame = {
    // Under the broadcast gate the WHOLE probe chain (deletion explode →
    // hash probe → levenshtein verify → partial agg) fuses into the
    // dirty side's SCAN tasks — and a record corpus read from one small
    // file is ONE task doing 17×|records| explodes plus every verify
    // single-threaded (measured: link_fuzzy_best 1.4 → 2.4 s at sf0.1
    // when the BHJ landed on the 1-partition customer scan). Guide §2.5
    // (input parallelism starved by an unsplittable/tiny read):
    // repartition the RECORD-grain side right after the read — |records|
    // narrow rows, strictly less than the ~(len+2)×|records| index rows
    // the old shuffle_hash exchange carried — but only when the scan's
    // own parallelism is degenerate (a real deployment's corpus scan
    // arrives with thousands of splits and must NOT pay a gratuitous
    // corpus shuffle). r16: the probe is the shared Par.fanOut, whose
    // plan-shape gate also refuses to physically plan (and, under AQE,
    // eagerly execute) a non-scan-rooted input a future caller might
    // pass.
    val dvIn = graft.Par.fanOut(dirty, col("record_id"))
    val dv = deletionIndex(dvIn, "dname", Seq("record_id", "dname"))
    val reps = graft.CacheScope.register(nameReps(clean).localCheckpoint(true))
    val cv = deletionIndex(reps, "cname", Seq("e", "cname"))
    val joined =
      if (reps.count() <= broadcastNameLimit) dv.join(broadcast(cv), "variant")
      else dv.join(cv.hint("shuffle_hash"), "variant")
    joined.select("record_id", "dname", "e", "cname")
      .distinct()
  }

  /** Broadcast gate for the clean variant index, in distinct NAMES:
    * ~(len+2) ≈ 17 index rows per name × ≈100 B built-row bytes keeps
    * 150k names ≈ 2.6M rows under a ~256 MB broadcast budget (the
    * graph family's byte-modeled ceiling). Distinct-name growth is
    * sublinear in any real corpus, so most deployments sit under the
    * gate; past it the shuffle_hash hint is the durable shape. */
  private[operators] val broadcastNameLimit =
    sys.env.getOrElse("GRAFT_LINK_BCAST_LIMIT", "150000").toLong

  /** Levenshtein-verified best match per record: threshold lev <= 2, then
    * argmin on (lev, e) — BIT-PACKED into one BIGINT (lev·2^48 + e; lev ≤ 2
    * and entity ids < 2^48, so the packing is order-preserving) because a
    * `min(struct(...))` plans as SortAggregate (struct min has no mutable
    * hash-agg buffer) while `min(bigint)` stays in the codegen'd
    * HashAggregate with map-side partial combine. Same tie-break, one
    * hash agg, no per-partition sort. */
  private val Pack = 1L << 48
  private val JPack = 1L << 40
  def bestMatch(cand: DataFrame): DataFrame =
    cand
      .withColumn("lev", levenshtein(col("dname"), col("cname")))
      .filter(col("lev") <= 2)
      .groupBy("record_id")
      .agg(min(expr(s"cast(lev as bigint) * ${Pack}L + e")).as("pk"))
      .select(
        col("record_id"),
        expr(s"pk % ${Pack}L").as("matched_e"),
        expr(s"cast(pk div ${Pack}L as int)").as("lev"))

  /** Persisted clean-variant-index artifact path: index parameters (k=1)
    * plus a content fingerprint of the (e, cname) entity table — a
    * regenerated catalog at the same path re-keys and rebuilds instead of
    * serving stale variants (the dedup_components_persisted contract
    * applied to linkage). */
  def linkIndexArtifactPath(s: SparkSession, clean: DataFrame, d: String): String = {
    val fp = graft.sources.Io.contentFingerprint(clean,
      Seq(col("e").cast("string"), col("cname")))
    "/tmp/graft_io/link_index/" + s"$d|k1|$fp".replaceAll("[^A-Za-z0-9.]", "_")
  }

  private def pipeline(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val clean = cleanEntities(Tables.customer(s, d), "c_custkey")
    val dirty = dirtyRecords(clean)
    (dirty, clean)
  }

  /** DuckDB definitional replay: same synthesis formulas, same deletion
    * index (bounded constant range — names are < 64 chars), same verify
    * and tie-break. */
  private def duckArr(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("([", ", ", "])")

  private val linkCte: String = {
    val f = duckArr(firsts); val m = duckArr(mids); val l = duckArr(lasts)
    s"""ents AS (SELECT c_custkey AS e FROM customer),
       |clean AS (
       |  SELECT e,
       |    $f[CAST(e % 17 AS INT)+1] || ' ' ||
       |    $m[CAST(e % 19 AS INT)+1] || ' ' ||
       |    $l[CAST(e % 23 AS INT)+1] AS cname
       |  FROM ents),
       |recs AS (
       |  SELECT e*4 + v AS record_id, e AS true_e, v, cname,
       |    CAST(1 + (e % (length(cname)-1)) AS INT) AS p
       |  FROM clean CROSS JOIN (VALUES (0),(1),(2),(3)) t(v)),
       |dirty AS (
       |  SELECT record_id, true_e, v,
       |    CASE v
       |      WHEN 0 THEN cname
       |      WHEN 1 THEN substr(cname,1,p-1) || substr(cname,p+1)
       |      WHEN 2 THEN substr(cname,1,p-1) || substr(cname,p+1,1) || substr(cname,p,1) || substr(cname,p+2)
       |      ELSE substr(cname,1,p-1) || chr(ascii(substr(cname,p,1))+1) || substr(cname,p+1)
       |    END AS dname
       |  FROM recs),
       |crep AS (
       |  SELECT cname, min(e) AS e FROM clean GROUP BY cname),
       |cvar AS (
       |  SELECT e, cname,
       |    CASE WHEN i=0 THEN cname ELSE substr(cname,1,CAST(i AS INT)-1)||substr(cname,CAST(i AS INT)+1) END AS variant
       |  FROM crep CROSS JOIN range(0,64) g(i) WHERE i <= length(cname)),
       |dvar AS (
       |  SELECT record_id, dname,
       |    CASE WHEN i=0 THEN dname ELSE substr(dname,1,CAST(i AS INT)-1)||substr(dname,CAST(i AS INT)+1) END AS variant
       |  FROM dirty CROSS JOIN range(0,64) g(i) WHERE i <= length(dname)),
       |cand AS (
       |  SELECT DISTINCT record_id, dname, e, cname FROM dvar JOIN cvar USING (variant)),
       |best AS (
       |  SELECT record_id, e AS matched_e, CAST(levenshtein(dname, cname) AS INT) AS lev,
       |    row_number() OVER (PARTITION BY record_id ORDER BY levenshtein(dname, cname), e) AS rn
       |  FROM cand WHERE levenshtein(dname, cname) <= 2)""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    // deletion-neighborhood candidate pairs (linear index, no cross product)
    Query("link_candidates", corpusGrain = true, Some(
      s"WITH $linkCte " +
        "SELECT record_id, e AS entity_id FROM cand ORDER BY record_id, entity_id")) { (s, d) =>
      val (dirty, clean) = pipeline(s, d)
      candidates(dirty, clean)
        .select(col("record_id"), col("e").as("entity_id"))
        .orderBy("record_id", "entity_id")
    },

    // lev-verified best entity per dirty record
    Query("link_fuzzy_best", corpusGrain = true, Some(
      s"WITH $linkCte " +
        "SELECT record_id, matched_e, lev FROM best WHERE rn = 1 ORDER BY record_id")) { (s, d) =>
      val (dirty, clean) = pipeline(s, d)
      bestMatch(candidates(dirty, clean))
        .orderBy("record_id")
    },

    // per-variant accuracy: matched vs formula ground truth (4 rows)
    Query("link_er_report", corpusGrain = false, Some(
      s"WITH $linkCte " +
        """SELECT d.v, CAST(count(*) AS BIGINT) AS n_records,
          |  CAST(sum(CASE WHEN b.matched_e IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          |  CAST(sum(CASE WHEN b.matched_e = d.true_e THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
          |FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (record_id)
          |GROUP BY d.v ORDER BY d.v""".stripMargin)) { (s, d) =>
      val (dirty, clean) = pipeline(s, d)
      val best = bestMatch(candidates(dirty, clean))
      dirty.join(best, Seq("record_id"), "left")
        .groupBy("v")
        .agg(
          count(lit(1)).as("n_records"),
          sum(when(col("matched_e").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("matched_e") === col("true_e"), 1L).otherwise(0L)).as("n_correct"))
        .orderBy("v")
    },

    // Jaro-Winkler re-rank of the same candidates: argmax on the
    // similarity (micro-scaled to BIGINT so the argmin bit-pack trick
    // applies unchanged: (1e6 − jw_micro)·2^40 + e — 2^40 not 2^48
    // because 10^6·2^48 overflows Long; 2^40 still clears any entity-id
    // space we'd meet), tie-break min e. The native expression's parity
    // with DuckDB's implementation IS the point of the oracle — strict
    // 0.7 boost threshold, prefix cap 4, greedy match window — checked
    // over every candidate pair.
    Query("link_jaro_rerank", corpusGrain = true, Some(
      s"WITH $linkCte, " +
        """jscored AS (
          |  SELECT record_id, e,
          |    CAST(round(jaro_winkler_similarity(dname, cname) * 1000000) AS BIGINT) AS jw_micro
          |  FROM cand),
          |jbest AS (
          |  SELECT record_id, e AS matched_e, jw_micro,
          |    row_number() OVER (PARTITION BY record_id ORDER BY jw_micro DESC, e) AS rn
          |  FROM jscored)
          |SELECT record_id, matched_e, jw_micro FROM jbest WHERE rn = 1 ORDER BY record_id""".stripMargin)) { (s, d) =>
      val (dirty, clean) = pipeline(s, d)
      candidates(dirty, clean)
        .withColumn("jw_micro", expr(
          "cast(round(jaro_winkler(dname, cname) * 1000000) as bigint)"))
        .groupBy("record_id")
        .agg(min(expr(s"(1000000L - jw_micro) * ${JPack}L + e")).as("pk"))
        .select(
          col("record_id"),
          expr(s"pk % ${JPack}L").as("matched_e"),
          expr(s"1000000L - (pk div ${JPack}L)").as("jw_micro"))
        .orderBy("record_id")
    },

    // incremental linkage: the nightly-batch production shape — the
    // name-collapsed clean variant index is built ONCE, persisted as an
    // atomic parquet artifact (content-fingerprint staleness key), and
    // each new dirty batch (here: the e % 10 == 0 entities' records)
    // answers against the READ-BACK artifact. The oracle is the full
    // fuzzy_best pipeline restricted to the batch — the persistence
    // must be answer-invisible; at scale only the batch explodes and
    // shuffles, the catalog side is a narrow 3-column parquet scan.
    // oracle: the persisted-index path must answer exactly like the in-session
    // pipeline on the batch subset (record_id = e*4+v, so the batch
    // predicate is (record_id // 4) % 10 = 0)
    Query("link_incremental", corpusGrain = true, Some(
      s"WITH $linkCte " +
        "SELECT record_id, matched_e, lev FROM best " +
        "WHERE rn = 1 AND (record_id // 4) % 10 = 0 ORDER BY record_id")) { (s, d) =>
      val clean = cleanEntities(Tables.customer(s, d), "c_custkey")
      val idx = graft.sources.Io.atomicParquetArtifact(
        s, linkIndexArtifactPath(s, clean, d))(
        deletionIndex(nameReps(clean), "cname", Seq("e", "cname")))
      val batch = dirtyRecords(clean.filter(col("e") % 10 === 0))
      val dv = deletionIndex(batch, "dname", Seq("record_id", "dname"))
      bestMatch(
        dv.join(idx.hint("shuffle_hash"), "variant")
          .select("record_id", "dname", "e", "cname")
          .distinct())
        .orderBy("record_id")
    },

    // entity-grain clusters of linked records
    Query("link_clusters", corpusGrain = true, Some(
      s"WITH $linkCte " +
        """SELECT matched_e AS entity_id, CAST(count(*) AS BIGINT) AS n_records,
          |  min(record_id) AS min_record, max(record_id) AS max_record
          |FROM best WHERE rn = 1 GROUP BY matched_e ORDER BY entity_id""".stripMargin)) { (s, d) =>
      val (dirty, clean) = pipeline(s, d)
      bestMatch(candidates(dirty, clean))
        .groupBy(col("matched_e").as("entity_id"))
        .agg(
          count(lit(1)).as("n_records"),
          min(col("record_id")).as("min_record"),
          max(col("record_id")).as("max_record"))
        .orderBy("entity_id")
    }
  )
}
