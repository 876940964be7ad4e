package graft

import org.apache.spark.sql.functions._

/** Plan audit: projections and filters must reach the parquet scans.
  * ReadSchema pruning is the difference between reading 2 columns and
  * reading every column of a 100 TB table.
  */
class PlanAuditSpec extends SparkSpec {

  private def readSchema(p: String): String =
    p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")

  test("text ops scan only doc_id and text") {
    Seq("text_tokencount", "text_quality", "text_langid", "text_fingerprint").foreach { q =>
      val rs = readSchema(plan(run(q)))
      assert(rs.contains("doc_id") && rs.contains("text"), s"$q: $rs")
      assert(!rs.contains("n_chars") && !rs.contains("source"), s"$q reads extra columns: $rs")
    }
  }

  test("dedup pipelines scan only doc_id and text") {
    Seq("dedup_minhash", "dedup_simhash").foreach { q =>
      val rs = readSchema(plan(run(q)))
      assert(!rs.contains("lang") && !rs.contains("source"), s"$q reads extra columns: $rs")
    }
  }

  test("similarity ops scan only vec_id and embedding") {
    Seq("sim_topk", "dedup_embedding").foreach { q =>
      val rs = readSchema(plan(run(q)))
      assert(!rs.contains("label"), s"$q reads the unused label column: $rs")
    }
  }

  test("relational filters push to the scan") {
    Seq("q_filter_range" -> "o_totalprice", "events_recent" -> "event_type").foreach {
      case (q, f) =>
        val p = plan(run(q))
        assert(p.contains("PushedFilters") && p.contains(f), s"$q missing pushdown of $f")
    }
  }

  test("q1_agg scans only the aggregated lineitem columns") {
    val rs = readSchema(plan(run("q1_agg")))
    assert(!rs.contains("l_comment") && !rs.contains("l_shipmode"), rs)
  }

  test("merge_upsert: rank-limit pushes map-side, scans pruned") {
    val p = plan(run("merge_upsert"))
    // WindowGroupLimit appears twice: partial (map-side, pre-shuffle)
    // and final — the rn=1 filter never ships a whole key's history
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(2000))
    val rs = readSchema(p)
    assert(!rs.contains("o_orderdate") && !rs.contains("o_orderpriority"),
      s"merge_upsert reads unused columns: $rs")
  }

  test("events_asof_join: purchase filter pushes to the scan, left scan is 3 columns") {
    val p = plan(run("events_asof_join"))
    assert(p.contains("PushedFilters") && p.contains("purchase"), "filter not pushed")
    val rs = readSchema(p)
    assert(!rs.contains("props"), s"asof reads the wide props column: $rs")
    // exactly one Window (the carry) — the whole as-of is one shuffle +
    // one running frame, no join operator at all
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of should be a window carry, not a join")
  }

  test("graph derivations: scans pruned, dims broadcast, histogram join-free") {
    // degree histogram: scan only the 4 key columns, one agg chain —
    // the bucket ladder is a projection, never a join
    val dd = plan(run("graph_degree_dist"))
    val rs = readSchema(dd)
    assert(!rs.contains("o_totalprice") && !rs.contains("l_quantity") &&
      !rs.contains("l_extendedprice"), s"degree_dist reads extra columns: $rs")
    assert(!dd.contains("SortMergeJoin"), "degree_dist should not shuffle-join")
    // nation edge derivation: customer/supplier are node-grain dims —
    // broadcast against the fact-grain order×lineitem join, scans pruned
    val ne = plan(operators.Graph.nationTradeEdges(spark, sfDir))
    assert(ne.contains("BroadcastHashJoin"), "nation dims should broadcast")
    val nrs = readSchema(ne)
    assert(!nrs.contains("c_name") && !nrs.contains("s_acctbal"),
      s"nationTradeEdges reads extra columns: $nrs")
  }

  test("pack/sample/band plans keep their scale shapes") {
    val pack = plan(run("text_pack_sequences"))
    assert(!readSchema(pack).contains("lang"), "pack reads unused columns")
    val samp = plan(run("sample_stratified"))
    assert("WindowGroupLimit".r.findAllIn(samp).size >= 2,
      "stratified sample should push the top-k map-side")
    val band = plan(run("text_quality_band"))
    assert(band.contains("BroadcastHashJoin") || band.contains("BroadcastExchange"),
      "quality band should broadcast the distinct-score rank table")
  }

  test("fifth-session ops keep their scale shapes") {
    // active users: the ×7 contribution explode runs on the (user, day)
    // grain, never the raw event stream — the explode must sit ABOVE the
    // first distinct/agg, i.e. no Generate directly over the file scan
    val au = plan(run("events_active_users"))
    // the Generate's immediate child must be the (user, day) distinct
    // aggregate, never the raw file scan
    assert("""explode[^\n]*\n[^\n]*HashAggregate""".r.findFirstIn(au).isDefined,
      au.take(800))
    // leakage split: cluster mapping joins the (tiny) rep table; the split
    // itself is a projection — no extra wide exchange beyond the mapping
    val ls = plan(run("sample_leakage_split"))
    assert(ls.contains("BroadcastHashJoin") || ls.contains("SortMergeJoin"), ls.take(800))
    // collocations: margin joins are NOT pinned broadcast (vocabulary is
    // not a broadcast budget at 100 TB) — AQE/stats must still CHOOSE
    // broadcast at test scale, and top-k is a TakeOrdered
    val coDf = run("text_collocations")
    val co = plan(coDf)
    assert(co.contains("BroadcastHashJoin") && co.contains("TakeOrderedAndProject"), co.take(800))
    assert(!coDf.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "collocations re-pinned its vocabulary broadcast")
    // LM score: the vocab-bounded unigram margin broadcasts; the bigram
    // table must NOT be pinned broadcast (corpus-scale at 100 TB) — its
    // join is size-decided, so the static plan may legally shuffle
    val lm = plan(run("text_lm_score"))
    assert(lm.contains("BroadcastHashJoin"), lm.take(800))
  }

  test("seventh-session ops keep their scale shapes") {
    // BM25: df + corpus stats broadcast (both bounded); top-k is a
    // TakeOrdered; nothing corpus-scale ever shuffle-joins
    val bm = plan(run("text_bm25_search"))
    assert(bm.contains("TakeOrderedAndProject") && !bm.contains("SortMergeJoin"),
      bm.take(1200))
    // z-order layout: min/max and the layout are pure broadcast + aggs —
    // a shuffle JOIN anywhere means the 1-row stats stopped broadcasting
    val zo = plan(run("data_zorder_layout"))
    assert(!zo.contains("SortMergeJoin") && !zo.contains("CartesianProduct"),
      zo.take(1200))
    // skew report: key-count agg + broadcast totals + TakeOrdered
    val sk = plan(run("data_skew_report"))
    assert(sk.contains("TakeOrderedAndProject") && !sk.contains("SortMergeJoin"),
      sk.take(1200))
    // bloom screen: the probe is a scan-side filter expression — the only
    // join is the grading equi-join; never a cartesian (persisted variant
    // shares the identical probe plan)
    Seq("decon_bloom_screen", "decon_bloom_persisted").foreach { q =>
      val bl = plan(run(q))
      assert(!bl.contains("CartesianProduct"), s"$q:\n${bl.take(1200)}")
    }
    // keep-best: rep-grain argmax + fan-back — never a cartesian, and the
    // argmax window is cluster-partitioned (the global-window sweep below
    // would flag an unpartitioned one)
    val kb = plan(run("dedup_keep_best"))
    assert(!kb.contains("CartesianProduct"), kb.take(1200))
    // binary dedup: one codegen projection + one hash agg — no join at all
    val mb = plan(run("mm_dedup_binary"))
    assert(!mb.contains("Join"), mb.take(1200))
    // quantize-error audit: encode-inline means zero joins AND zero
    // shuffles beyond the answer sort's single exchange
    val qe = plan(run("emb_quantize_error"))
    assert(!qe.contains("Join"), qe.take(1200))
    assert("Exchange".r.findAllIn(qe).size <= 1,
      s"quantize-error audit must be a single projection:\n${qe.take(1200)}")
  }

  test("presentation sorts follow output grain: range for corpus-grain, one-task local otherwise") {
    // Two-sided pin of SparkEntry.answerSort's policy. ANSWER-SIZED
    // queries must not pay a range-sampling job anywhere in the plan;
    // CORPUS-GRAIN queries must never funnel their whole output through a
    // one-task sort (the sf100 smoke measured that funnel at 16× on 10×
    // data for etl_dedup_merge's 147M-row output, with a 7 GB single
    // task). The logical root tells which shape answerSort produced:
    // Sort(global=true) = distributed range sort, Sort(global=false) over
    // Repartition(1) = the local answer sort.
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    SparkEntry.registry.sortBy(_.name).foreach { rec =>
      val q = rec.name
      val df = run(q)
      df.queryExecution.optimizedPlan match {
        case Sort(_, global, _, _) =>
          if (rec.corpusGrain)
            assert(global,
              s"$q: corpus-grain output funnels through a one-task local sort")
          else
            assert(!global,
              s"$q: answer-sized output pays a range-sampling pass")
        case _ => // no trailing sort at the root (TakeOrdered pagination etc.)
      }
      if (!rec.corpusGrain)
        assert(!plan(df).contains("rangepartitioning"),
          s"$q plans a range sort:\n${plan(df).take(1500)}")
    }
    // pagination keeps its real global-order semantics (TakeOrdered —
    // per-partition heaps, not a full sort either)
    val page = plan(run("q_orderby_page"))
    assert(page.contains("TakeOrderedAndProject"), page.take(1500))
  }

  test("ANN re-rank joins broadcast the shortlist, never shuffle the corpus") {
    Seq("sim_pq_ann", "sim_ivfpq_ann", "sim_ivfpq_res_ann", "sim_lsh_ann").foreach { q =>
      val p = plan(run(q))
      assert(!p.contains("SortMergeJoin"),
        s"$q re-rank shuffles the corpus (SortMergeJoin):\n${p.take(1500)}")
    }
  }

  test("text_dup_spans runs the winnow kernel once (exchange reused)") {
    // The span-frequency aggregate and the join probe both consume the
    // one repartition-by-fp exchange; if the subtrees stop canonicalizing
    // equal (pruning/filter asymmetry), the corpus fingerprint kernel
    // silently runs twice — 2.4× slower at 10× scale.
    val df = run("text_dup_spans")
    df.collect() // AQE reuse only materializes in the executed plan
    val fin = plan(df).split("== Initial Plan ==")(0)
    assert("winnowfingerprints".r.findAllIn(fin).size == 1,
      s"fingerprint kernel computed more than once:\n${fin.take(2000)}")
    assert(fin.contains("Reused"), s"no exchange reuse:\n${fin.take(2000)}")
  }

  test("unpartitioned windows only ride bounded post-aggregation inputs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LocalRelation, LogicalPlan, Window => LWindow}
    // A WindowExec with no partition spec serializes the WHOLE input
    // through one task — fine over a handful of post-aggregation rows
    // (days, months, a quantized-score histogram), fatal over a corpus.
    // This guard pins the invariant the bench-tail warnings obscure:
    // every unpartitioned window in the registry must (a) be on this
    // whitelist and (b) consume an aggregated (bounded-grain) relation,
    // with no row-inflating Generate between the window and its agg.
    val whitelist = Set(
      "events_cumulative_users", // running sum over day-grain agg
      "q_trend_monthly",         // lag/moving-avg over month-grain agg
      "text_quality_band"        // rank over 1e-4-quantized score histogram
    )
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate     => true
      case _: LocalRelation => true // literal config tables
      case _: Generate      => false // explode above the agg re-inflates
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val lp = run(q).queryExecution.optimizedPlan
      val globals = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (globals.isEmpty) None else Some(q -> globals)
    }
    assert(offenders.map(_._1).toSet == whitelist,
      s"unpartitioned-window queries drifted from the whitelist: " +
        s"actual=${offenders.map(_._1).toSet.toSeq.sorted.mkString(",")} " +
        s"whitelist=${whitelist.toSeq.sorted.mkString(",")}")
    offenders.foreach { case (q, ws) =>
      ws.foreach { w =>
        assert(bounded(w.child),
          s"$q: unpartitioned window consumes a non-aggregated (corpus-sized) input:\n" +
            w.child.treeString.take(1500))
      }
    }
  }

  test("r12 second-session ops keep their scale shapes") {
    // pii_scrub / text_fix_mojibake / pii_luhn_check: scan-fused
    // projections — no joins, the corpus-grain range sort is the only
    // exchange (synthesis + native walk never shuffle)
    Seq("pii_scrub", "pii_luhn_check", "text_fix_mojibake").foreach { q =>
      val p = plan(run(q))
      assert(!p.contains("Join"), s"$q joins:\n${p.take(1200)}")
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q must be sort-only:\n${p.take(1500)}")
    }
    // the robots gate broadcasts the 23-row parsed-rules side; the URL
    // corpus must NEVER sort-merge against it
    val rf = plan(run("web_robots_filter"))
    assert(rf.contains("BroadcastHashJoin"), rf.take(1500))
    assert(!rf.contains("SortMergeJoin"), s"robots rules side got shuffled:\n${rf.take(1500)}")
    // expectations: rule sums ride ONE partial agg per table (no row
    // explosion before aggregation), uniqueness adds distinct aggs;
    // no SortMergeJoin anywhere in an answer-sized report
    val ex = plan(run("etl_expectations"))
    assert(!ex.contains("SortMergeJoin"), ex.take(1500))
    val rs = readSchema(ex)
    assert(!rs.contains("o_comment") && !rs.contains("c_address"),
      s"etl_expectations reads unused columns: $rs")
  }

  test("archive queries: fixture assembly is the only data shuffle, parse side scan-fused") {
    // The ingest half of every archive query (codec expression + explode
    // + projection) must be shuffle-free: at 100 TB the fixture groupBy
    // disappears (shards already exist as objects) and the parse is the
    // whole job. Pin: no joins anywhere; exchanges bounded by the fixture
    // groupBy (+ the corpus-grain range sort), so a parse-side shuffle
    // can never slip in unnoticed.
    Seq("src_tar_roundtrip", "src_zip_roundtrip", "src_warc_records",
        "src_warc_gz_e2e", "mm_webdataset", "mm_webdataset_zst").foreach { q =>
      val p = plan(run(q))
      assert(!p.contains("Join"), s"$q joins:\n${p.take(1200)}")
      val n = "Exchange".r.findAllIn(p).size
      assert(n <= 3, s"$q has $n exchanges (fixture agg + sort expected):\n${p.take(1500)}")
    }
    // per-doc gzip/zstd round-trips are pure projections: sort exchange only
    Seq("src_gzip_roundtrip", "src_zst_roundtrip").foreach { q =>
      val gz = plan(run(q))
      assert(!gz.contains("Join") && "Exchange".r.findAllIn(gz).size <= 1,
        s"$q must be a single projection:\n${gz.take(1500)}")
    }
    // mm_exif likewise: synth + walk fused into the scan projection.
    // The r15 guarded fan-out (Par.fanOut: REPARTITION_BY_NUM above the
    // scan, fires only on a degenerate single-split input, never on a
    // production-shaped scan) is NOT a data shuffle — discount it; the
    // pin still forbids any join/agg exchange sneaking into the walk.
    // r16 (ADVICE): the discount is capped at ONE — exactly the one
    // gated fan-out this query is allowed; a second REPARTITION_BY_NUM
    // (e.g. a gratuitous repartition placed after the walk, where it
    // would be a real data shuffle) is counted as the data exchange
    // it is.
    val ex = plan(run("mm_exif"))
    val dataEx = "Exchange".r.findAllIn(ex).size -
      math.min(1, "REPARTITION_BY_NUM".r.findAllIn(ex).size)
    assert(!ex.contains("Join") && dataEx <= 1,
      s"mm_exif must be a single projection:\n${ex.take(1500)}")
  }

  test("mm_dedup_percept decodes each payload once (exchange reused, no cartesian)") {
    // Both sides of the band self-join consume the capBuckets window's
    // exchange; if the subtrees stop canonicalizing equal, the PNG
    // synthesis + Inflater decode silently runs TWICE per row — the
    // single most expensive projection in the query.
    val df = run("mm_dedup_percept")
    df.collect() // AQE reuse only materializes in the executed plan
    val fin = plan(df).split("== Initial Plan ==")(0)
    assert("pngdhash|PngDhash".r.findAllIn(fin).size <= 1,
      s"PNG decode planned more than once:\n${fin.take(2000)}")
    assert(fin.contains("Reused"), s"no exchange reuse:\n${fin.take(2000)}")
    assert(!fin.contains("CartesianProduct"), fin.take(1500))
    // same pin for the JPEG sibling: its decode (ImageIO round trip) is
    // even costlier per row than the Inflater path
    val dj = run("mm_dedup_percept_jpeg")
    dj.collect()
    val fj = plan(dj).split("== Initial Plan ==")(0)
    assert("jpegdhash|JpegDhash".r.findAllIn(fj).size <= 1,
      s"JPEG decode planned more than once:\n${fj.take(2000)}")
    assert(fj.contains("Reused"), s"no exchange reuse:\n${fj.take(2000)}")
    assert(!fj.contains("CartesianProduct"), fj.take(1500))
    // and the GIF sibling (ImageIO LZW round trip per row)
    val dg = run("mm_dedup_percept_gif")
    dg.collect()
    val fg = plan(dg).split("== Initial Plan ==")(0)
    assert("gifdhash|GifDhash".r.findAllIn(fg).size <= 1,
      s"GIF decode planned more than once:\n${fg.take(2000)}")
    assert(fg.contains("Reused"), s"no exchange reuse:\n${fg.take(2000)}")
    assert(!fg.contains("CartesianProduct"), fg.take(1500))
    // the five-container cross query: PushProjectionThroughUnion
    // legitimately clones the coalesced decode into each of the five
    // union branches (each ROW still decodes once) — the hazard line is
    // >5 occurrences, which would mean per-row re-evaluation crept in
    val dc = run("mm_dedup_percept_cross")
    dc.collect()
    val fc = plan(dc).split("== Initial Plan ==")(0)
    for (pat <- Seq("pngdhash|PngDhash", "jpegdhash|JpegDhash",
        "gifdhash|GifDhash", "bmpdhash|BmpDhash", "tiffdhash|TiffDhash"))
      assert(pat.r.findAllIn(fc).size <= 5,
        s"cross: $pat planned more than once per union branch:\n${fc.take(2000)}")
    assert(!fc.contains("CartesianProduct"), fc.take(1500))
  }

  test("corpus grain: measured grain implies membership") {
    // The presentation-sort audit above derives its expected shape from
    // each record's declared grain, so on its own it is circular: a
    // future corpus-grain registration declared `corpusGrain = false`
    // would pass while funnelling its output through one task. So the
    // membership criterion is re-MEASURED, not trusted: count
    // every query's output at sf0.001 and sf0.01 and apply the documented
    // criterion at test scale — >= 200 rows at sf0.01 (the 2000-at-sf0.1
    // threshold, linear grain) AND >= 3x growth across the decade (which
    // exonerates fixed-size samples/top-k that happen to be large).
    // One-sided by design: small pair-list members keep their membership
    // on the documented sf0.01->sf0.1 growth evidence instead.
    val sf001 = "/root/testdata/sf0.001"
    val sf01 = "/root/testdata/sf0.01"
    val sf1 = "/root/testdata/sf0.1"
    // only NON-members can be missing, so only they need measuring —
    // ~70 queries instead of 2×186 executions. BOTH decades are
    // measured (r13 ADVICE): a table that is flat from sf0.001 to
    // sf0.01 (documents: 500→500) exonerated linear-grain queries under
    // the first decade alone — sink_webdataset (2 rows/doc) and
    // events_state_machine (1 row/user, 150 users at sf0.01) only show
    // their growth from sf0.01 to sf0.1. The second decade measures
    // queries with ≥ 100 rows at sf0.01 and flags ≥ 3× growth landing
    // ≥ 1000 rows at sf0.1.
    val missing = SparkEntry.registry.filterNot(_.corpusGrain).map(_.name).sorted
      .flatMap { q =>
        val n01 = SparkEntry.queries(q)(spark, sf01).count()
        val firstDecade = n01 >= 200 && {
          val n001 = SparkEntry.queries(q)(spark, sf001).count()
          n01 >= 3 * n001
        }
        val secondDecade = n01 >= 100 && {
          val n1 = SparkEntry.queries(q)(spark, sf1).count()
          n1 >= 1000 && n1 >= 3 * n01
        }
        if (firstDecade || secondDecade) Some(q) else None
      }
    assert(missing.isEmpty,
      s"measured corpus-grain queries declared corpusGrain = false " +
        s"(their presentation sort funnels through one task): $missing")
  }

  test("mm_decode_meta is a pure projection: no joins, no shuffles") {
    val p = plan(run("mm_decode_meta"))
    assert(!p.contains("Join"), p.take(1500))
    // the only exchange allowed is the presentation sort's (range —
    // mm_decode_meta is document-grain, so its answer sort distributes)
    assert(!p.contains("hashpartitioning"), p.take(1500))
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }
}
