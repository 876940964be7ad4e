package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.functions.GraftFunctions

/** Typed PII detection + redaction — the pre-training scrub pass every
  * public corpus pipeline runs (C4 strips emails, Dolma/RefinedWeb mask
  * typed spans). Unlike the blanket-regex `text_pii_mask` (which masks
  * EVERY digit run), this family masks only VALIDATED matches through
  * the native single-pass [[graft.functions.PiiScrub]] walker: emails
  * with a real TLD shape, separator/`+`-bearing 10-15-digit phones,
  * range-checked IPv4s, and Luhn-valid 13-19-digit card numbers — so
  * order ids, epochs and version strings survive in the clear.
  *
  * Reference tie: the reference ETL's sanitize transform strips
  * caller-declared sensitive fields before persistence
  * (packages/app/bundles/custom/models/ETL.ts:1); typed content-level
  * scrubbing is the training-data analog of that declared-field pass.
  *
  * Oracle pattern (the Web-family contract, Web.scala:20): the corpus
  * is SYNTHESIZED from doc_id by a fixed formula — including the Luhn
  * check digit, computed by explicit per-position arithmetic on BOTH
  * sides — and DuckDB replays the formula for the raw AND the masked
  * string. The engine must reproduce ground truth through the real
  * scanner, so a scanner bug hash-fails rather than being replayed.
  * Negative controls ride in every row: an out-of-range IP
  * (`10.9.299.1`), a checksum-broken 16-digit "card", and a short
  * order number — none may be masked.
  *
  * Scale shape: synthesis and scrub are one scan-fused codegen
  * projection (zero shuffle); the report is a single partial-aggregable
  * global agg. At 100 TB the scrub is embarrassingly parallel and the
  * report shuffles 32 partial rows.
  */
object Pii {

  /** Luhn check digit for a 15-digit payload column (16-digit card):
    * payload position j (0-based from the left) sits at position 16-j
    * from the right of the final card, so even j doubles. */
  private def luhnDigitCol(pay: Column): Column = {
    val terms = (0 until 15).map { j =>
      val dcol = substring(pay, j + 1, 1).cast("int")
      if ((16 - j) % 2 == 0) when(dcol * 2 > 9, dcol * 2 - 9).otherwise(dcol * 2)
      else dcol
    }
    pmod(lit(10) - pmod(terms.reduce(_ + _), lit(10)), lit(10))
  }

  /** The same check-digit arithmetic as DuckDB SQL text over a payload
    * expression — generated, not hand-unrolled, so the two sides cannot
    * drift. */
  private def luhnDigitSql(pay: String): String = {
    val terms = (0 until 15).map { j =>
      val dd = s"CAST(substr($pay, ${j + 1}, 1) AS INTEGER)"
      if ((16 - j) % 2 == 0) s"(CASE WHEN 2*$dd > 9 THEN 2*$dd - 9 ELSE 2*$dd END)"
      else dd
    }
    s"((10 - ((${terms.mkString(" + ")}) % 10)) % 10)"
  }

  /** doc_id → the synthesized PII-bearing document plus the per-type
    * presence formula columns (what the oracle states in SQL). */
  def synthesize(df: DataFrame, idCol: String): DataFrame = {
    val d = col(idCol).cast("bigint")
    val s = (c: Column) => c.cast("string")
    val email = concat(lit("user"), s(pmod(d, lit(1000))),
      when(pmod(d, lit(2)) === 1, lit("+tag")).otherwise(lit("")),
      lit("@mail"), s(pmod(d, lit(7))), lit(".example.com"))
    val a3 = s(lit(100) + pmod(d, lit(900)))
    val b4 = s(lit(1000) + pmod(d, lit(9000)))
    val phone = when(pmod(d, lit(3)) === 0,
        concat(lit("(555) "), a3, lit("-"), b4))
      .otherwise(concat(lit("+1-555-"), a3, lit("-"), b4))
    val ip = concat(lit("10."), s(pmod(d, lit(256))), lit("."),
      s(pmod(d, lit(254))), lit("."), s(lit(1) + pmod(d, lit(254))))
    val pay = concat(lit("4"),
      lpad(s(pmod(d * 48271L, lit(1000000L))), 6, "0"),
      lpad(s(pmod(d * 69621L, lit(100000000L))), 8, "0"))
    val check = luhnDigitCol(pay)
    val card = concat(pay, s(check))
    val bogus = concat(pay, s(pmod(check + 5, lit(10))))
    val sep = when(pmod(d, lit(3)) === 1, lit(" ")).otherwise(lit("-"))
    val cardFmt = when(pmod(d, lit(3)) === 0, card)
      .otherwise(concat(substring(card, 1, 4), sep, substring(card, 5, 4),
        sep, substring(card, 9, 4), sep, substring(card, 13, 4)))
    val raw = concat(
      lit("Doc "), s(d),
      when(pmod(d, lit(3)) > 0, concat(lit(" mail "), email)).otherwise(lit("")),
      when(pmod(d, lit(4)) === 3, concat(lit(" tel "), phone)).otherwise(lit("")),
      when(pmod(d, lit(5)) > 0, concat(lit(" ip "), ip)).otherwise(lit("")),
      lit(" bad 10.9.299.1"),
      when(pmod(d, lit(2)) === 0, concat(lit(" pay "), cardFmt))
        .otherwise(concat(lit(" ref "), bogus)),
      lit(" order "), s(pmod(d, lit(100000))), lit(" end"))
    df.select(d.as("doc_id"), raw.as("raw"), card.as("card16"),
      bogus.as("bogus16"), cardFmt.as("card_fmt"))
  }

  /** The shared DuckDB formula CTE: raw + expected-masked + presence
    * flags, all stated from doc_id alone. */
  private val piiCte: String = {
    val pay = "('4' || lpad(CAST(doc_id * 48271 % 1000000 AS VARCHAR), 6, '0') " +
      "|| lpad(CAST(doc_id * 69621 % 100000000 AS VARCHAR), 8, '0'))"
    s"""p AS (
       |  SELECT doc_id, $pay AS pay, ${luhnDigitSql(pay)} AS chk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, pay || CAST(chk AS VARCHAR) AS card,
       |    pay || CAST((chk + 5) % 10 AS VARCHAR) AS bogus,
       |    CASE WHEN doc_id % 3 = 1 THEN ' ' ELSE '-' END AS sep
       |  FROM p),
       |f AS (
       |  SELECT doc_id, card, bogus,
       |    CASE WHEN doc_id % 3 = 0 THEN card
       |         ELSE substr(card,1,4) || sep || substr(card,5,4) || sep ||
       |              substr(card,9,4) || sep || substr(card,13,4) END AS card_fmt,
       |    'user' || CAST(doc_id % 1000 AS VARCHAR) ||
       |      CASE WHEN doc_id % 2 = 1 THEN '+tag' ELSE '' END ||
       |      '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS email,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN '(555) ' || CAST(100 + doc_id % 900 AS VARCHAR) || '-' ||
       |              CAST(1000 + doc_id % 9000 AS VARCHAR)
       |         ELSE '+1-555-' || CAST(100 + doc_id % 900 AS VARCHAR) || '-' ||
       |              CAST(1000 + doc_id % 9000 AS VARCHAR) END AS phone,
       |    '10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |      CAST(doc_id % 254 AS VARCHAR) || '.' ||
       |      CAST(1 + doc_id % 254 AS VARCHAR) AS ip
       |  FROM c),
       |pii AS (
       |  SELECT doc_id,
       |    'Doc ' || CAST(doc_id AS VARCHAR) ||
       |      CASE WHEN doc_id % 3 > 0 THEN ' mail ' || email ELSE '' END ||
       |      CASE WHEN doc_id % 4 = 3 THEN ' tel ' || phone ELSE '' END ||
       |      CASE WHEN doc_id % 5 > 0 THEN ' ip ' || ip ELSE '' END ||
       |      ' bad 10.9.299.1' ||
       |      CASE WHEN doc_id % 2 = 0 THEN ' pay ' || card_fmt
       |           ELSE ' ref ' || bogus END ||
       |      ' order ' || CAST(doc_id % 100000 AS VARCHAR) || ' end' AS raw,
       |    'Doc ' || CAST(doc_id AS VARCHAR) ||
       |      CASE WHEN doc_id % 3 > 0 THEN ' mail <EMAIL>' ELSE '' END ||
       |      CASE WHEN doc_id % 4 = 3 THEN ' tel <PHONE>' ELSE '' END ||
       |      CASE WHEN doc_id % 5 > 0 THEN ' ip <IP>' ELSE '' END ||
       |      ' bad 10.9.299.1' ||
       |      CASE WHEN doc_id % 2 = 0 THEN ' pay <CARD>'
       |           ELSE ' ref ' || bogus END ||
       |      ' order ' || CAST(doc_id % 100000 AS VARCHAR) || ' end' AS masked,
       |    CAST(CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END AS INTEGER) AS n_email,
       |    CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS INTEGER) AS n_phone,
       |    CAST(CASE WHEN doc_id % 5 > 0 THEN 1 ELSE 0 END AS INTEGER) AS n_ip,
       |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_card,
       |    card, bogus
       |  FROM f)""".stripMargin
  }

  /** Scrub through the native walker; one projection, zero shuffle. */
  def scrub(df: DataFrame, textCol: String): DataFrame = {
    val r = GraftFunctions.piiScrub(col(textCol))
    df.withColumn("masked", r.getField("masked"))
      .withColumn("n_email", r.getField("emails"))
      .withColumn("n_phone", r.getField("phones"))
      .withColumn("n_ip", r.getField("ips"))
      .withColumn("n_card", r.getField("cards"))
  }

  val queries: Seq[Query] = Seq(
    // per-document typed scrub: the scanner vs the formula
    Query("pii_scrub", corpusGrain = true, Some(
      s"WITH $piiCte " +
        "SELECT doc_id, raw, masked, n_email, n_phone, n_ip, n_card " +
        "FROM pii ORDER BY doc_id")) { (s, d) =>
      scrub(synthesize(Tables.documents(s, d), "doc_id"), "raw")
        .select("doc_id", "raw", "masked", "n_email", "n_phone", "n_ip", "n_card")
        .orderBy("doc_id")
    },

    // corpus PII exposure report: one partial-aggregable global agg
    Query("pii_report", corpusGrain = false, Some(
      s"WITH $piiCte " +
        "SELECT count(*) AS n_docs, " +
        "sum(CASE WHEN n_email + n_phone + n_ip + n_card > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii, " +
        "sum(n_email)::BIGINT AS emails, sum(n_phone)::BIGINT AS phones, " +
        "sum(n_ip)::BIGINT AS ips, sum(n_card)::BIGINT AS cards FROM pii")) { (s, d) =>
      scrub(synthesize(Tables.documents(s, d), "doc_id"), "raw")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_phone") + col("n_ip") +
            col("n_card") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email").cast("long")).as("emails"),
          sum(col("n_phone").cast("long")).as("phones"),
          sum(col("n_ip").cast("long")).as("ips"),
          sum(col("n_card").cast("long")).as("cards"))
    },

    // Luhn validation in isolation: valid card vs checksum-broken twin,
    // plain and separator-grouped forms must agree
    Query("pii_luhn_check", corpusGrain = true, Some(
      s"WITH $piiCte " +
        "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN card ELSE bogus END AS candidate, " +
        "doc_id % 2 = 0 AS valid, doc_id % 2 = 0 AS valid_fmt " +
        "FROM pii ORDER BY doc_id")) { (s, d) =>
      val base = synthesize(Tables.documents(s, d), "doc_id")
      base.select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, col("card16"))
          .otherwise(col("bogus16")).as("candidate"),
        GraftFunctions.luhnValid(
          when(pmod(col("doc_id"), lit(2)) === 0, col("card16"))
            .otherwise(col("bogus16"))).as("valid"),
        GraftFunctions.luhnValid(
          when(pmod(col("doc_id"), lit(2)) === 0, col("card_fmt"))
            .otherwise(col("bogus16"))).as("valid_fmt"))
        .orderBy("doc_id")
    }
  )
}
