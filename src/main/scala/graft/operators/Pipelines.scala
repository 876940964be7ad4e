package graft.operators

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** The flagship composed pipeline: the WHOLE training-data stack in one
  * declarative plan — the thing this engine exists to run at 100 TB.
  *
  *   quality band (p5–p95 trim) → exact dedup → minhash near-dedup →
  *   components → keep cluster minima → weighted source mix →
  *   train/val/test hash split → context-window sequence packing
  *
  * Every stage is one of the library's tested operators composed
  * unchanged, so the scale properties compose too: regex scoring and
  * gating are projections, the band rank is the distinct-score histogram
  * (no global sort), dedup candidates are band-bucketed (never
  * all-pairs), the component loop checkpoints per round, mix/split are
  * zero-shuffle hash draws, and packing is shard-local prefix sums. The
  * oracle replays all of it in SQL — band CTEs, the recursive-CTE
  * component fixpoint, the md5 draws, the pack windows — so the composed
  * output is hash-checked end to end, not just per stage.
  */
object Pipelines {

  /** `preMix` hooks an extra stage between the dedup keep and the mix —
    * identity for the base flagship; the decon variant anti-joins the
    * contaminated ids there. */
  def trainingData(docs: DataFrame,
                   preMix: DataFrame => DataFrame = identity): DataFrame = {
    // r16 NEGATIVE (measured, reverted): a gated fan-out of `docs` at
    // the pipeline entry — distributing the quality regex + rep-agg map
    // side — made the composed queries ~25% SLOWER back-to-back
    // (training_data_e2e 2.74 → 3.46 s): every downstream block becomes
    // 32 partitions, and the pipeline's ~37 tiny jobs each pay 32-task
    // scheduling where one task sufficed. The single-split inheritance
    // is the cheaper shape for the many-small-jobs pipeline.
    // 1. quality trim: keep the p5-p95 band of quality_score (scores ride
    //    the band pass alone; text joins back after)
    val band = TextOps.qualityBand(
      TextOps.quality(docs.select(col("doc_id"), col("text")), "text")
        .select("doc_id", "quality_score"),
      scoreCol = "quality_score", lo = 0.05, hi = 0.95)
      .select("doc_id")
    // banded docs feed BOTH the dedup rep derivation and the final
    // join-back — checkpoint once (swept at the next query, CacheScope)
    val bd = CacheScope.register(
      docs.join(band, "doc_id").localCheckpoint(true))
    // 2. near-dedup: exact reps → minhash pairs → components → minima
    val reps = CacheScope.register(
      Dedup.representatives(bd, "doc_id", "text").localCheckpoint(true))
    val pairs = Dedup.minhashPairsOfReps(reps.select("doc_id", "text"),
      "doc_id", "text", n = 3, k = 8, rowsPerBand = 2)
      .select("id_a", "id_b")
    val keep = Dedup.connectedComponents(reps.select("doc_id"), "doc_id",
        pairs, "id_a", "id_b")
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
    // 3. compose the corpus: [preMix stage] → mix → split → pack
    val mixed = Dedup.mixSources(preMix(bd.join(keep, "doc_id")),
      sourceCol = "source", idCol = "doc_id",
      rates = Map("src0" -> 0.9, "src1" -> 0.1), defaultRate = 0.5)
    val split = TextOps.hashSplit(mixed, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counted = split
      .withColumn("ws_tokens", size(TextOps.tokens(col("text"))).cast("bigint"))
      .withColumn("shard", pmod(col("doc_id"), lit(8L)))
      .withColumn("_ss", concat_ws("|", col("split"), col("shard")))
    TextOps.packSequences(counted, idCol = "doc_id", shardCol = "_ss",
      tokensCol = "ws_tokens", budget = 2048L)
      .select("doc_id", "source", "split", "shard", "ws_tokens",
        "pack_id", "pack_offset")
  }

  val queries: Seq[Query] = Seq(
    Query("training_data_e2e", corpusGrain = true, Some {
      val draw = Dedup.sqlDraw("doc_id")
      s"""WITH RECURSIVE ${TextOps.sqlQualityBandCtes("documents", 0.05, 0.95)}, """ +
        s"""bd AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN band USING (doc_id)), """ +
        Dedup.sqlDedupKeepChain("bd") + ", " +
        s"""mixed AS (SELECT b.doc_id, b.text, b.source FROM bd b JOIN keep USING (doc_id) WHERE $draw < (CASE WHEN b.source = 'src0' THEN 0.9 WHEN b.source = 'src1' THEN 0.1 ELSE 0.5 END) * 65536), """ +
        s"""spl AS (SELECT doc_id, source, CASE WHEN $draw < 0.8 * 65536 THEN 'train' WHEN $draw < 0.9 * 65536 THEN 'val' ELSE 'test' END AS split, len(string_split_regex(trim(text), '\\s+'))::BIGINT AS ws_tokens, doc_id % 8 AS shard FROM mixed), """ +
        s"""cum AS (SELECT *, sum(ws_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ws_tokens AS c FROM spl) """ +
        s"""SELECT doc_id, source, split, shard::BIGINT AS shard, ws_tokens, (c // 2048)::BIGINT AS pack_id, (c % 2048)::BIGINT AS pack_offset FROM cum ORDER BY doc_id"""
    }) { (s, d) =>
      trainingData(Tables.documents(s, d).select("doc_id", "text", "source"))
        .orderBy("doc_id")
    },

    // the flagship WITH the decontamination stage a production run needs:
    // after dedup, drop the eval docs themselves (doc_id < 20) and every
    // kept doc sharing a 5-gram shingle with them — executed as the
    // two-phase bloom-screen → exact-verify anti-join (the corpus never
    // shuffles for the screen; only bloom-flagged candidates reach the
    // verify join), while the oracle states plain shared-shingle
    // semantics (the screen is exact by construction)
    // oracle: the decon stage states PLAIN shared-shingle semantics (drop eval
    // docs + any kept doc sharing a 5-gram with them) — the Spark side's
    // bloom screen + exact verify must land on exactly this set
    Query("training_data_decon_e2e", corpusGrain = true, Some {
      val draw = Dedup.sqlDraw("doc_id")
      s"""WITH RECURSIVE ${TextOps.sqlQualityBandCtes("documents", 0.05, 0.95)}, """ +
        s"""bd AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN band USING (doc_id)), """ +
        Dedup.sqlDedupKeepChain("bd") + ", " +
        s"""kd AS (SELECT b.doc_id, b.text, b.source FROM bd b JOIN keep USING (doc_id) WHERE b.doc_id >= 20), """ +
        s"""bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20), """ +
        Dedup.sqlShingleChain("q", "bench", 5) + ", " +
        Dedup.sqlShingleChain("k", "kd", 5) + ", " +
        s"""bad AS (SELECT DISTINCT k.doc_id FROM ksh k JOIN qsh q ON k.s = q.s), """ +
        s"""decon AS (SELECT doc_id, text, source FROM kd WHERE doc_id NOT IN (SELECT doc_id FROM bad)), """ +
        s"""mixed AS (SELECT b.doc_id, b.text, b.source FROM decon b WHERE $draw < (CASE WHEN b.source = 'src0' THEN 0.9 WHEN b.source = 'src1' THEN 0.1 ELSE 0.5 END) * 65536), """ +
        s"""spl AS (SELECT doc_id, source, CASE WHEN $draw < 0.8 * 65536 THEN 'train' WHEN $draw < 0.9 * 65536 THEN 'val' ELSE 'test' END AS split, len(string_split_regex(trim(text), '\\s+'))::BIGINT AS ws_tokens, doc_id % 8 AS shard FROM mixed), """ +
        s"""cum AS (SELECT *, sum(ws_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ws_tokens AS c FROM spl) """ +
        s"""SELECT doc_id, source, split, shard::BIGINT AS shard, ws_tokens, (c // 2048)::BIGINT AS pack_id, (c % 2048)::BIGINT AS pack_offset FROM cum ORDER BY doc_id"""
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val bench = docs.filter(col("doc_id") < 20).select("doc_id", "text")
      trainingData(docs, preMix = { kept =>
        val train = kept.filter(col("doc_id") >= 20)
        train.join(
          Dedup.contaminatedIds(train.select("doc_id", "text"), bench,
            "doc_id", "text", n = 5, numBits = 1 << 16, numHashes = 4),
          Seq("doc_id"), "left_anti")
      }).orderBy("doc_id")
    }
  )
}
