package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.functions.GraftFunctions

/** Web-corpus ingest operators: URL canonicalization and URL-keyed
  * dedup — the first stage of every crawl-derived training-data
  * pipeline (syntactically different URLs that fetch the same resource
  * must collapse BEFORE content dedup ever runs, or the exact-hash
  * family pays for the same page N times).
  *
  * Reference tie: the reference ETL ingests external objects keyed by
  * caller-supplied names (packages/app/bundles/custom/aws/s3/
  * s3-connector.ts:1) and its flow bundle normalizes inbound keys
  * before object writes (protolib/src/bundles/flow); URL-keyed web
  * corpora are the training-data analog of that ingest surface.
  *
  * Oracle pattern: the corpus is SYNTHESIZED from doc_id by a fixed
  * formula (five raw variants per logical page — parameter reorder,
  * case + default port + fragment, dot-segments + utm tracking,
  * percent-encoding + gclid, and a genuinely-distinct https variant),
  * and the DuckDB oracle replays the FORMULA for both the raw and the
  * canonical string — the engine must reproduce ground truth through
  * the real RFC 3986 parser ([[graft.functions.UrlCanonical]]), so a
  * parser bug hash-fails rather than being replayed on both sides.
  * Same contract as the percept family's pixel-formula oracles
  * (Mm.synthesizePixelPngs).
  *
  * Scale shape: canonicalization is a scan-fused codegen projection
  * (zero shuffle); the dedup is ONE hash aggregation on the canonical
  * key — at 100 TB the group-by shuffles the (url, doc_id) projection
  * only, never the payload, and AQE sizes the exchange.
  */
object Web {

  /** Five deterministic raw-URL variants per logical page
    * (L = doc_id div 5): v0 parameter reorder, v1 scheme/host case +
    * default port + fragment, v2 dot-segments + utm_source, v3
    * percent-encoded unreserved + `./` + gclid, v4 https (+ its own
    * default port) — canonically DISTINCT from v0-v3: scheme changes
    * must not collapse. */
  def synthesizeUrls(df: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol).cast("bigint")
    val l = expr(s"cast($idCol as bigint) div 5")
    val site = pmod(l, lit(23)).cast("string")
    val p = pmod(l, lit(11)).cast("string")
    val q = pmod(l, lit(101)).cast("string")
    val v = pmod(id, lit(5))
    val raw = when(v === 0, concat(
        lit("http://www.site"), site, lit(".example.com/cat"), p,
        lit("/item?page="), p, lit("&id="), q))
      .when(v === 1, concat(
        lit("HTTP://WWW.SITE"), site, lit(".Example.COM:80/cat"), p,
        lit("/item?id="), q, lit("&page="), p, lit("#sec"), q))
      .when(v === 2, concat(
        lit("http://www.site"), site, lit(".example.com/cat"), p,
        lit("/x/../item?id="), q, lit("&utm_source=news&page="), p))
      .when(v === 3, concat(
        lit("http://www.site"), site, lit(".example.com/%63at"), p,
        lit("/./item?gclid=g"), q, lit("&id="), q, lit("&page="), p))
      .otherwise(concat(
        lit("https://www.site"), site, lit(".example.com:443/cat"), p,
        lit("/item?id="), q, lit("&page="), p))
    df.select(id.as("doc_id"), raw.as("raw_url"))
  }

  /** Canonical form beside the raw — per-row projection, zero shuffle. */
  def canonicalize(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url", GraftFunctions.urlCanonical(col(urlCol)))

  /** URL-keyed dedup: one hash agg on the canonical key. Unparseable
    * URLs (null canonical) are EXCLUDED — they have no fetchable
    * identity; a production pipeline quarantines them (etl_quarantine
    * is the sibling path). */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.filter(col(urlCol).isNotNull)
      .groupBy(col(urlCol))
      .agg(count(lit(1)).as("n_raw"), min(col(idCol)).as("keeper"))

  /** One robots.txt per site, synthesized by formula — a `*` group
    * (with a second UA token for s%5==0 sites and comment/blank noise
    * for even sites), plus a graftbot-specific group for s%3==0 sites
    * whose presence must EXCLUSIVELY govern (RFC 9309: the exact-agent
    * group replaces `*`, it does not merge). Key/value case varies with
    * s so the parser's case folding is on the oracle path.
    *
    * Two further site classes pin the r12-verdict RFC paths:
    *  - s%7==3: a graftbot UA run INTERRUPTED by a non-rule record
    *    (`Crawl-delay`) before a second UA token — §2.2.4 says other
    *    records don't seal the run, so graftbot and extrabot share the
    *    group and graftbot inherits its `/cat{(s+3)%11}/` disallow;
    *  - s%7==5: the empty-Disallow idiom under an exact graftbot
    *    group — the group's EXISTENCE replaces `*` (allow everything),
    *    it must not fall back to the `*` rules. */
  def synthesizeRobots(df: DataFrame, idCol: String): DataFrame = {
    val s = expr(s"cast($idCol as bigint) div 5 % 23")
    val s2 = pmod(s + 1, lit(11)).cast("string")
    val s3 = pmod(s + 2, lit(11)).cast("string")
    val s4 = pmod(s + 3, lit(11)).cast("string")
    val txt = concat(
      when(pmod(s, lit(2)) === 0,
        concat(lit("# site "), s.cast("string"), lit("\n\n"))).otherwise(lit("")),
      // Sitemap records are group-independent (RFC 9309 §2.2.2): stated
      // at the top, before any group, for s%4==0 sites (+ a second one
      // on s%8==0)
      when(pmod(s, lit(4)) === 0, concat(
        lit("Sitemap: https://www.site"), s.cast("string"),
        lit(".example.com/sitemap"), pmod(s, lit(7)).cast("string"),
        lit(".xml\n"))).otherwise(lit("")),
      when(pmod(s, lit(8)) === 0, concat(
        lit("sitemap: https://www.site"), s.cast("string"),
        lit(".example.com/sitemap-news.xml\n"))).otherwise(lit("")),
      when(pmod(s, lit(5)) === 0, lit("User-agent: otherbot\n")).otherwise(lit("")),
      lit("User-agent: *\n"),
      lit("Disallow: /cat"), s2, lit("/\n"),
      lit("Allow: /cat"), s2, lit("/item?id=1\n"),
      lit("Disallow: /private/\n"),
      when(pmod(s, lit(3)) === 0, concat(
        when(pmod(s, lit(2)) === 0, lit("User-Agent: GraftBot\n"))
          .otherwise(lit("user-agent: graftbot\n")),
        lit("DISALLOW: /cat"), s3, lit("/\n"))).otherwise(lit("")),
      when(pmod(s, lit(7)) === 3, concat(
        lit("User-agent: graftbot\n"),
        lit("Crawl-delay: 5\n"),
        lit("User-agent: extrabot\n"),
        lit("Disallow: /cat"), s4, lit("/\n"))).otherwise(lit("")),
      when(pmod(s, lit(7)) === 5, concat(
        lit("User-agent: graftbot\n"),
        lit("Disallow:\n"))).otherwise(lit("")))
    df.select(s.as("site"), txt.as("robots")).distinct()
  }

  /** URL gate: canonical URLs joined to their site's parsed rules
    * (site grain — 23 rows — broadcast), verdict fused into the probe
    * projection. A site with no robots row coalesces to allow. */
  def robotsFilter(urls: DataFrame, robots: DataFrame, urlCol: String): DataFrame = {
    val rules = robots.select(col("site"),
      GraftFunctions.robotsRules(col("robots"), lit("graftbot")).as("rules"))
    val withSite = urls
      .withColumn("site", regexp_extract(col(urlCol), "site([0-9]+)\\.", 1).cast("bigint"))
      .withColumn("path", regexp_extract(col(urlCol), "^[a-z]+://[^/]+(/.*)$", 1))
    withSite.join(broadcast(rules), Seq("site"), "left")
      .withColumn("allowed",
        coalesce(GraftFunctions.robotsAllowed(col("rules"), col("path")), lit(true)))
  }

  /** DuckDB formula replay. `u` states both strings from doc_id alone —
    * the canonical is built pre-sorted/pre-normalized (id < page in
    * byte order), never parsed. */
  private val urlCte =
    """u AS (
      |  SELECT doc_id,
      |    CAST(doc_id // 5 % 23 AS VARCHAR) AS site,
      |    CAST(doc_id // 5 % 11 AS VARCHAR) AS p,
      |    CAST(doc_id // 5 % 101 AS VARCHAR) AS q,
      |    doc_id % 5 AS v
      |  FROM documents),
      |urls AS (
      |  SELECT doc_id,
      |    CASE v
      |      WHEN 0 THEN 'http://www.site' || site || '.example.com/cat' || p || '/item?page=' || p || '&id=' || q
      |      WHEN 1 THEN 'HTTP://WWW.SITE' || site || '.Example.COM:80/cat' || p || '/item?id=' || q || '&page=' || p || '#sec' || q
      |      WHEN 2 THEN 'http://www.site' || site || '.example.com/cat' || p || '/x/../item?id=' || q || '&utm_source=news&page=' || p
      |      WHEN 3 THEN 'http://www.site' || site || '.example.com/%63at' || p || '/./item?gclid=g' || q || '&id=' || q || '&page=' || p
      |      ELSE 'https://www.site' || site || '.example.com:443/cat' || p || '/item?id=' || q || '&page=' || p
      |    END AS raw_url,
      |    CASE WHEN v = 4 THEN 'https' ELSE 'http' END
      |      || '://www.site' || site || '.example.com/cat' || p || '/item?id=' || q || '&page=' || p AS url
      |  FROM u)""".stripMargin

  val queries: Seq[Query] = Seq(
    // raw → canonical per document: the parser vs the formula
    Query("url_canonicalize", corpusGrain = true, Some(
      s"WITH $urlCte SELECT doc_id, raw_url, url FROM urls ORDER BY doc_id")) { (s, d) =>
      canonicalize(synthesizeUrls(Tables.documents(s, d), "doc_id"), "raw_url")
        .select("doc_id", "raw_url", "url")
        .orderBy("doc_id")
    },

    // canonical-key dedup: v0-v3 collapse, v4 survives alone
    // oracle: NOTE: plain concatenation, no second stripMargin — urlCte is
    // already margin-stripped, and re-stripping would eat the leading
    // pipe of its `|| '://www.site'` continuation line (r9 ERR row)
    Query("dedup_url", corpusGrain = true, Some(
      s"WITH $urlCte " +
        "SELECT url, count(*) AS n_raw, min(doc_id) AS keeper " +
        "FROM urls GROUP BY url ORDER BY url")) { (s, d) =>
      dedupByUrl(
        canonicalize(synthesizeUrls(Tables.documents(s, d), "doc_id"), "raw_url"),
        "url", "doc_id")
        .orderBy("url")
    },

    // parsed rule list per site: the parser vs the formula
    // oracle: exact graftbot groups exist for s%3==0 (rule group), s%7==3
    // (UA run split by Crawl-delay, merged with extrabot's disallow)
    // and s%7==5 (the rule-less empty-Disallow idiom); any of them
    // replaces the `*` group. File order: the s%3 rule precedes the
    // s%7==3 rule.
    Query("web_robots_rules", corpusGrain = false, Some(
      """WITH sites AS (SELECT DISTINCT doc_id // 5 % 23 AS s FROM documents),
        |r AS (
        |  SELECT s, 0 AS idx, false AS allow,
        |         '/cat' || CAST((s+2) % 11 AS VARCHAR) || '/' AS pattern
        |  FROM sites WHERE s % 3 = 0
        |  UNION ALL SELECT s, CASE WHEN s % 3 = 0 THEN 1 ELSE 0 END, false,
        |         '/cat' || CAST((s+3) % 11 AS VARCHAR) || '/'
        |  FROM sites WHERE s % 7 = 3
        |  UNION ALL SELECT s, 0, false,
        |         '/cat' || CAST((s+1) % 11 AS VARCHAR) || '/' AS pattern
        |  FROM sites WHERE s % 3 <> 0 AND s % 7 <> 3 AND s % 7 <> 5
        |  UNION ALL SELECT s, 1, true,
        |         '/cat' || CAST((s+1) % 11 AS VARCHAR) || '/item?id=1'
        |  FROM sites WHERE s % 3 <> 0 AND s % 7 <> 3 AND s % 7 <> 5
        |  UNION ALL SELECT s, 2, false, '/private/'
        |  FROM sites WHERE s % 3 <> 0 AND s % 7 <> 3 AND s % 7 <> 5)
        |SELECT s AS site, idx, allow, pattern FROM r ORDER BY site, idx""".stripMargin)) { (s, d) =>
      synthesizeRobots(Tables.documents(s, d), "doc_id")
        .select(col("site"), posexplode(
          GraftFunctions.robotsRules(col("robots"), lit("graftbot"))))
        .select(col("site"), col("pos").as("idx"),
          col("col.allow").as("allow"), col("col.pattern").as("pattern"))
        .orderBy("site", "idx")
    },

    // sitemap discovery: the crawl seed list a frontier planner reads
    Query("web_sitemaps", corpusGrain = false, Some(
      """WITH sites AS (SELECT DISTINCT doc_id // 5 % 23 AS s FROM documents),
        |m AS (
        |  SELECT s, 0 AS idx,
        |    'https://www.site' || CAST(s AS VARCHAR) || '.example.com/sitemap' ||
        |    CAST(s % 7 AS VARCHAR) || '.xml' AS sitemap
        |  FROM sites WHERE s % 4 = 0
        |  UNION ALL SELECT s, 1,
        |    'https://www.site' || CAST(s AS VARCHAR) || '.example.com/sitemap-news.xml'
        |  FROM sites WHERE s % 8 = 0)
        |SELECT s AS site, idx, sitemap FROM m ORDER BY site, idx""".stripMargin)) { (s, d) =>
      synthesizeRobots(Tables.documents(s, d), "doc_id")
        .select(col("site"), posexplode(
          GraftFunctions.robotsSitemaps(col("robots"))))
        .select(col("site"), col("pos").as("idx"), col("col").as("sitemap"))
        .orderBy("site", "idx")
    },

    // crawl politeness gate over the canonical corpus
    Query("web_robots_filter", corpusGrain = true, Some(
      s"WITH $urlCte, " +
        """v AS (SELECT doc_id, url,
          |  (doc_id // 5) % 23 AS s, (doc_id // 5) % 11 AS p2, (doc_id // 5) % 101 AS q2
          |  FROM urls)
          |SELECT doc_id, url,
          |  CASE WHEN s % 3 = 0 OR s % 7 = 3 OR s % 7 = 5
          |       THEN NOT ((s % 3 = 0 AND p2 = (s+2) % 11) OR
          |                 (s % 7 = 3 AND p2 = (s+3) % 11))
          |       ELSE NOT (p2 = (s+1) % 11 AND
          |                 NOT (q2 = 1 OR q2 BETWEEN 10 AND 19 OR q2 = 100))
          |  END AS allowed
          |FROM v ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val docs = Tables.documents(s, d)
      robotsFilter(
        canonicalize(synthesizeUrls(docs, "doc_id"), "raw_url"),
        synthesizeRobots(docs, "doc_id"), "url")
        .select("doc_id", "url", "allowed")
        .orderBy("doc_id")
    },

    // the web-ingest flagship: raw variants → canonical collapse →
    // robots gate → admitted frontier, with sitemap seed presence —
    // the family's pieces composed end-to-end into one per-site report
    Query("web_ingest_e2e", corpusGrain = false, Some(
      s"WITH $urlCte, " +
        """v AS (SELECT doc_id, url,
          |  (doc_id // 5) % 23 AS s, (doc_id // 5) % 11 AS p2, (doc_id // 5) % 101 AS q2
          |  FROM urls),
          |a AS (SELECT *,
          |  CASE WHEN s % 3 = 0 OR s % 7 = 3 OR s % 7 = 5
          |       THEN NOT ((s % 3 = 0 AND p2 = (s+2) % 11) OR
          |                 (s % 7 = 3 AND p2 = (s+3) % 11))
          |       ELSE NOT (p2 = (s+1) % 11 AND
          |                 NOT (q2 = 1 OR q2 BETWEEN 10 AND 19 OR q2 = 100))
          |  END AS allowed FROM v)
          |SELECT s AS site, count(*) AS n_raw,
          |  count(DISTINCT url) AS n_canonical,
          |  count(DISTINCT CASE WHEN allowed THEN url END) AS n_admitted,
          |  s % 4 = 0 AS has_sitemap
          |FROM a GROUP BY s ORDER BY site""".stripMargin)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val gated = robotsFilter(
        canonicalize(synthesizeUrls(docs, "doc_id"), "raw_url"),
        synthesizeRobots(docs, "doc_id"), "url")
      val raw = gated.groupBy("site").agg(count(lit(1)).as("n_raw"))
      val canon = gated.select("site", "url").distinct()
        .groupBy("site").agg(count(lit(1)).as("n_canonical"))
      val adm = gated.filter(col("allowed")).select("site", "url").distinct()
        .groupBy("site").agg(count(lit(1)).as("n_admitted"))
      val sm = synthesizeRobots(docs, "doc_id").select(col("site"),
        (size(GraftFunctions.robotsSitemaps(col("robots"))) > 0).as("has_sitemap"))
      raw.join(canon, Seq("site")).join(adm, Seq("site"), "left")
        .na.fill(0L, Seq("n_admitted"))
        .join(sm, Seq("site"))
        .orderBy("site")
    },

    // per-site crawlable share: the politeness report a crawl planner reads
    Query("web_robots_report", corpusGrain = false, Some(
      s"WITH $urlCte, " +
        """v AS (SELECT doc_id,
          |  (doc_id // 5) % 23 AS s, (doc_id // 5) % 11 AS p2, (doc_id // 5) % 101 AS q2
          |  FROM urls)
          |SELECT s AS site, count(*) AS n_urls,
          |  sum(CASE WHEN (CASE WHEN s % 3 = 0 OR s % 7 = 3 OR s % 7 = 5
          |       THEN NOT ((s % 3 = 0 AND p2 = (s+2) % 11) OR
          |                 (s % 7 = 3 AND p2 = (s+3) % 11))
          |       ELSE NOT (p2 = (s+1) % 11 AND
          |                 NOT (q2 = 1 OR q2 BETWEEN 10 AND 19 OR q2 = 100)) END)
          |      THEN 1 ELSE 0 END)::BIGINT AS n_allowed
          |FROM v GROUP BY s ORDER BY site""".stripMargin)) { (s, d) =>
      val docs = Tables.documents(s, d)
      robotsFilter(
        canonicalize(synthesizeUrls(docs, "doc_id"), "raw_url"),
        synthesizeRobots(docs, "doc_id"), "url")
        .groupBy("site")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .orderBy("site")
    }
  )
}
