package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the single record every consumer derives from.
  *
  *  - `name` is the driver-contract key.
  *  - `corpusGrain` says the OUTPUT rows scale with the corpus. The
  *    criterion is measured, from the Verify dumps: result rows ≥ 2000
  *    at sf0.1 (document/event/order/lineitem/vector grain), OR result
  *    rows growing ≥ 3× from sf0.01 to sf0.1 (pair lists, search hits,
  *    diff/anti-join results, file listings: small at test SFs but
  *    linear in the data). Every other query's output is a bounded
  *    report (fixed group-bys, top-k, histograms). The grain picks the
  *    presentation-sort strategy in `SparkEntry.answerSort`;
  *    PlanAuditSpec pins the plan shape on both sides of the split and
  *    re-measures the criterion, so a corpus-grain query declared
  *    `false` cannot silently inherit the one-task funnel.
  *  - `oracleSql` is the equivalent ANSI SQL DuckDB runs over the same
  *    parquet tables, when the op is SQL-expressible.
  *  - `build` plans the query over `(session, sfDir)`.
  *
  * `build` sits in a second parameter list so a record is written with
  * the build as a trailing block next to its oracle.
  */
final case class Query(name: String, corpusGrain: Boolean, oracleSql: Option[String])(
    val build: (SparkSession, String) => DataFrame)
