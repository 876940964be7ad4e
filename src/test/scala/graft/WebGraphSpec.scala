package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Etl, Graph, Web}

/** URL canonicalization, triangle counting, and the compaction planner:
  * hand-computed ground truth plus the adversarial input shapes the
  * formula corpus can't produce.
  */
class WebGraphSpec extends SparkSpec {

  private def canon(raw: String): Option[String] = {
    val s = spark
    import s.implicits._
    Seq(raw).toDF("u")
      .select(GraftFunctions.urlCanonical(col("u")).as("c"))
      .collect().headOption.flatMap(r => Option(r.getString(0)))
  }

  test("url_canonical: RFC 3986 normalizations, one by one") {
    // scheme/host case, default port, fragment — path case PRESERVED
    assert(canon("HTTP://Ex.COM:80/A?x=1#f").contains("http://ex.com/A?x=1"))
    assert(canon("https://a.b:443/").contains("https://a.b/"))
    // non-default port and scheme changes survive (no over-collapse)
    assert(canon("http://a.b:8080/p").contains("http://a.b:8080/p"))
    assert(canon("https://a.b/p").contains("https://a.b/p"))
    // dot segments, incl. leading .. clamped at root + trailing slash kept
    assert(canon("http://a.b/x/./y/../z").contains("http://a.b/x/z"))
    assert(canon("http://a.b/../x").contains("http://a.b/x"))
    assert(canon("http://a.b/x/").contains("http://a.b/x/"))
    assert(canon("http://a.b/x/..").contains("http://a.b/"))
    assert(canon("http://a.b").contains("http://a.b/"))
    // percent normalization: unreserved decoded, the rest uppercased,
    // %2E becomes a dot BEFORE dot-segment removal (§6.2.2 ordering)
    assert(canon("http://a.b/%41%7e?k=%2fv").contains("http://a.b/A~?k=%2Fv"))
    assert(canon("http://a.b/p/%2E%2E/q").contains("http://a.b/q"))
    // tracking params dropped (utm_ prefix + fixed set), survivors
    // sorted, empty params ignored, bare keys kept
    assert(canon("http://a.b/p?b=2&utm_source=x&a=1&gclid=z")
      .contains("http://a.b/p?a=1&b=2"))
    assert(canon("http://a.b/p?utm_campaign=only").contains("http://a.b/p"))
    assert(canon("http://a.b/p?flag&&a=1").contains("http://a.b/p?a=1&flag"))
    // userinfo preserved, host still lowercased behind it
    assert(canon("http://u:p@Host.com/x").contains("http://u:p@host.com/x"))
  }

  test("url_canonical: unparseable shapes return null, not garbage") {
    assert(canon("no scheme here").isEmpty)
    assert(canon("http://").isEmpty)
    assert(canon("http://host:8x/").isEmpty)
    assert(canon("h ttp://a.b/").isEmpty)
    assert(canon("http://a.b/%G1").isEmpty)
    assert(canon("http://a.b/p?x=%2").isEmpty)
  }

  test("url_canonical: idempotent over the synthesized corpus") {
    val urls = Web.synthesizeUrls(Tables.documents(spark, sfDir), "doc_id")
    val twice = urls
      .select(GraftFunctions.urlCanonical(col("raw_url")).as("c1"))
      .select(col("c1"), GraftFunctions.urlCanonical(col("c1")).as("c2"))
    assert(twice.filter(col("c1").isNull).count() == 0,
      "formula corpus must be fully parseable")
    assert(twice.filter(col("c1") =!= col("c2")).count() == 0,
      "canonicalization must be a projection onto its own fixed points")
  }

  test("dedup_url: variants 0-3 collapse, the https variant stays distinct") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val groups = Web.dedupByUrl(
      Web.canonicalize(Web.synthesizeUrls(docs, "doc_id"), "raw_url"),
      "url", "doc_id").collect()
    assert(groups.map(_.getAs[Long]("n_raw")).sum == n, "every doc lands in a group")
    val httpsGroups = groups.filter(_.getAs[String]("url").startsWith("https://"))
    assert(httpsGroups.nonEmpty && httpsGroups.forall(_.getAs[Long]("n_raw") == 1),
      "scheme change must not collapse into the http group")
    assert(groups.forall(_.getAs[Long]("n_raw") <= 4), "at most the 4 http variants")
  }

  test("triangleCounts: hand graphs — diamond, star, K4") {
    val s = spark
    import s.implicits._
    def counts(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
      Graph.triangleCounts(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // diamond: K4 minus (3,4) — triangles {1,2,3} and {1,2,4}
    val diamond = counts(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
    assert(diamond == Map(1L -> (3L, 2L), 2L -> (3L, 2L),
      3L -> (2L, 1L), 4L -> (2L, 1L)), s"got $diamond")
    // star: the heavy hitter emits no wedge pairs and closes nothing
    val star = counts(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (10L, 5L))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) })
    assert(star.values.forall(_._2 == 0L) && star(10L)._1 == 5L, s"got $star")
    // K4: 4 triangles, every node in 3 of them
    val k4 = counts(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(k4.values.forall(_ == (3L, 3L)), s"got $k4")
  }

  test("triangleCounts: map-agg and explode shapes agree row-for-row") {
    // mapAggMaxNodes = 0 forces the past-the-gate explode shape; both
    // paths must produce identical node/degree/triangle rows
    val e = Graph.coSupplyEdges(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mapAgg = rows(Graph.triangleCounts(e))
    val exploded = rows(Graph.triangleCounts(e, mapAggMaxNodes = 0L))
    assert(mapAgg == exploded, "gate branches diverged")
    assert(mapAgg.nonEmpty)
  }

  test("graph_triangles agrees with the naive triple count on real data") {
    // independent ground truth computed WITHOUT the degree orientation
    val e = Graph.coSupplyEdges(spark, sfDir).cache()
    try {
      val naive = e.as("e1")
        .join(e.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .join(e.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
        .count()
      val perNode = Graph.triangleCounts(e)
      val total = perNode.agg(sum("triangles")).head.getLong(0)
      assert(total == 3 * naive, s"oriented $total vs naive 3×$naive")
      assert(naive > 0, "sf0.001 co-supply graph should close some wedges")
    } finally { e.unpersist() }
  }

  test("bfsLayers: hand graph — path distances, bound truncation, unreachable absent") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 plus a disconnected pair {10,11}; seed = min = 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    def dists(maxHops: Int): Map[Long, Long] =
      Graph.bfsLayers(edges, "src", "dst", maxHops).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists(6) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // the bound is a hard shell: hops > maxHops rows must be ABSENT
    assert(dists(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("kCore: hand graph — K4 survives the tail peel cascade; empty core is legal") {
    val s = spark
    import s.implicits._
    // K4 on {1,2,3,4} with a pendant chain 4-5-6: the chain must peel
    // away in CASCADE (6 first, then 5), leaving exactly the K4 at k=2+
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    def core(k: Int): Map[Long, Long] =
      Graph.kCore(edges, "a", "b", k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core(3) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max core: empty result, not a throw
    assert(core(4).isEmpty)
    // k=1 keeps everything, with the in-core (= full) degrees
    assert(core(1) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L,
      5L -> 2L, 6L -> 1L))
  }

  test("graph_components: nation edges never cross clusters, sizes consistent") {
    val comp = Graph.queries.find(_.name == "graph_components").get.build(spark, sfDir).cache()
    try {
      // the nation predicate fragments the trade graph: >1 component,
      // every edge's endpoints share a cluster (it IS a valid labelling)
      assert(comp.select("cluster").distinct().count() > 1)
      val e = Graph.nationTradeEdges(spark, sfDir)
      val ca = comp.select(col("node").as("a"), col("cluster").as("cla"))
      val cb = comp.select(col("node").as("b"), col("cluster").as("clb"))
      assert(e.join(ca, "a").join(cb, "b")
        .filter(col("cla") =!= col("clb")).count() == 0, "edge crosses clusters")
      // comp_size is the actual per-cluster node count, cluster = min id
      val bad = comp.groupBy("cluster")
        .agg(count(lit(1)).as("n"), max("comp_size").as("sz"), min("node").as("mn"))
        .filter(col("n") =!= col("sz") || col("mn") =!= col("cluster")).count()
      assert(bad == 0, "comp_size or min-label mismatch")
    } finally { comp.unpersist() }
  }

  test("graph_degree_dist: buckets are powers of two and bound their degrees") {
    val rows = Graph.queries.find(_.name == "graph_degree_dist").get.build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (bucket, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(java.lang.Long.bitCount(bucket) == 1, s"bucket $bucket not a power of 2")
      assert(mn >= bucket && mx < bucket * 2 && mn <= mx,
        s"degrees [$mn,$mx] outside bucket [$bucket, ${bucket * 2})")
    }
    // the histogram partitions all nodes exactly once
    val total = rows.map(_.getLong(2)).sum
    val nodes = Graph.tradeGraph(spark, sfDir).select("src").distinct().count()
    assert(total == nodes, s"histogram covers $total of $nodes nodes")
  }

  test("compactionPlan: next-fit prefix-sum binning, oversized file included") {
    val s = spark
    import s.implicits._
    val inv = Seq(("a", 1L, 3000L), ("a", 2L, 3000L), ("a", 3L, 3000L),
      ("b", 1L, 10000L), ("b", 2L, 100L)).toDF("part", "fid", "bytes")
    val plan = Etl.compactionPlan(inv, "part", "fid", "bytes", 4096L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // a: prior 0,3000,6000 → bins 0,0,1
    assert(plan(("a", 0L)) == (2L, 6000L, 1L, 2L), s"got $plan")
    assert(plan(("a", 1L)) == (1L, 3000L, 3L, 3L))
    // b: the 10000-byte file owns bin 0 (spanning past the target);
    // the next file starts where the prefix sum left it — bin 2
    assert(plan(("b", 0L)) == (1L, 10000L, 1L, 1L))
    assert(plan(("b", 2L)) == (1L, 100L, 2L, 2L))
    assert(plan.size == 4)
  }

  test("etl_compaction_plan conserves bytes and files") {
    val docs = Tables.documents(spark, sfDir)
    val out = run("etl_compaction_plan")
    val (files, bytes) = out.agg(sum("n_files"), sum("bytes")).head match {
      case r => (r.getLong(0), r.getLong(1))
    }
    assert(files == docs.count())
    assert(bytes == docs.agg(sum(col("n_chars").cast("bigint"))).head.getLong(0))
  }
}
