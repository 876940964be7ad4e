package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.{Query, Tables}

/** Sources and sinks: JSON-lines, CSV, partitioned parquet, file streams.
  *
  * Reference counterparts: the S3 JSON-lines batch reader
  * (packages/app/bundles/custom/apis/etl.ts:38-52 + aws/s3/s3-connector.ts)
  * and the DynamoDB batch writer (apis/etl.ts:44-52) — re-expressed as
  * Spark's native distributed readers/writers.
  *
  * Scale notes: `writePartitioned` is the 100 TB table-layout story —
  * partition directories give readers partition pruning (a `filter` on the
  * partition column never touches other directories' files). JSON/CSV
  * readers take an explicit schema so ingest never pays the
  * infer-pass-over-everything cost at scale.
  */
object Io {

  /** JSON-lines reader (one JSON object per line, the S3 batch layout). */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** ORC round-trip — the second columnar format a lakehouse ingests from
    * (Hive-era feeds). Same pushdown/pruning contract as parquet via
    * Spark's native vectorized ORC reader.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned parquet layout: one directory per partition
    * value -> readers get partition pruning for free.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Partition BACKFILL: overwrite ONLY the partitions present in `df`,
    * leaving every other partition untouched — the daily-reprocessing
    * shape (re-run one day, don't clobber the table). Static overwrite
    * mode would delete ALL partitions first; the dynamic setting scopes
    * the delete to partitions the write actually produces. The option is
    * set per-write, not on the session, so concurrent writers keep their
    * own semantics. At 100 TB this is the difference between rewriting a
    * day and rewriting the table.
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Schema-evolution read: a long-lived dataset's early files lack
    * columns later files carry (additive evolution — the only kind a
    * lakehouse does without rewriting history). `mergeSchema` unions the
    * per-file parquet footers into one planning-time schema; columns
    * absent from a file read as NULL for its rows. The merge is
    * footer-only metadata work — no data pass — so a 100 TB table with
    * thousands of heterogeneous files plans in footer-read time.
    */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** File streaming source: tail a directory as a stream (new files become
    * micro-batches). Schema is mandatory — streaming never infers.
    */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  /** Bucketed table write: pre-shuffle the data ONCE at write time into
    * `buckets` hash buckets of `key` (sorted within buckets). Two tables
    * bucketed the same way join with ZERO exchange — the join that at
    * 100 TB would shuffle both sides every query instead reads co-located
    * buckets. This is the table-layout half of the scale story: pay the
    * shuffle once at ingest, not per query.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Durable-index commit protocol: a parquet artifact is served ONLY if
    * fully committed. A bare existence check is not a protocol — a build
    * that crashed mid-write leaves the directory present and every later
    * session would serve a partial (or empty) index. Here the build lands
    * in a private temp directory first and is RENAMED into place (atomic
    * on one filesystem — the same flip the CDC sink's `_latest` pointer
    * uses), and the reader trusts a path only when Spark's `_SUCCESS`
    * commit marker is inside it. A half-written directory (present, no
    * marker) is swept and rebuilt instead of being trusted. If a
    * concurrent builder wins the rename race, its committed artifact is
    * served and ours is discarded — both answer identically, because
    * artifacts are deterministic functions of (input path, parameters).
    */
  /** Order-free CONTENT fingerprint for persisted-artifact path keying:
    * row count + the sum of per-row crc32 over the '|'-joined key
    * columns (sum, not xor — with xor a content swap between two rows
    * cancels exactly; with the id inside each row's hash a sum does
    * not). One linear scan folded into a single agg — no shuffle of the
    * data itself; at warehouse scale a table format's snapshot id is
    * this fingerprint for free, and replaces it. Keying an artifact by
    * content (not just path+params) means a REGENERATED input re-keys
    * and rebuilds instead of silently serving a stale index.
    */
  def contentFingerprint(df: DataFrame, cols: Seq[Column]): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(crc32(concat_ws("|", cols: _*).cast("binary"))), lit(0L))).head()
    s"${r.getLong(0)}x${r.getLong(1)}"
  }

  def atomicParquetArtifact(spark: SparkSession, path: String)
                           (build: => DataFrame): DataFrame = {
    val dir = new java.io.File(path)
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val tmp = new java.io.File(dir.getParentFile,
        dir.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      build.write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (dir.exists()) org.apache.commons.io.FileUtils.deleteQuietly(dir)
      if (!tmp.renameTo(dir))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    spark.read.parquet(path)
  }

  /** One-file-per-row blob export — the fixture/export half of the blob
    * ingestion pair. Each row lands as its own file named by `nameCol`
    * (executor-local file IO; on a real deployment the export side is an
    * object-store API — the operator under test here is the READER).
    */
  def writeBlobFiles(df: DataFrame, dir: String, nameCol: Column, payloadCol: Column): Unit = {
    val target = new java.io.File(dir)
    // the target may exist as a stale DIRECTORY or (crashed run, foreign
    // process) a plain FILE — clear either, and fail loudly if it stuck
    if (target.isFile) target.delete()
    else if (target.exists()) org.apache.commons.io.FileUtils.deleteDirectory(target)
    if (target.exists())
      throw new java.io.IOException(s"writeBlobFiles: could not clear target $dir")
    target.mkdirs()
    val baseStr = target.getAbsolutePath
    df.select(nameCol.cast("string").as("_name"), payloadCol.cast("binary").as("_bytes"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val base = java.nio.file.Paths.get(baseStr).normalize()
        it.foreach { r =>
          val name = r.getString(0)
          // names come from a DATA column — refuse anything that could
          // escape the target dir (separators, traversal, absolute
          // paths, or chars the filesystem rejects) BEFORE resolving,
          // so the guard fires instead of an InvalidPathException
          val out =
            try base.resolve(name).normalize()
            catch { case _: java.nio.file.InvalidPathException => null }
          if (name.contains("/") || name.contains("\\") ||
              out == null || !out.startsWith(base) || out == base)
            throw new IllegalArgumentException(
              s"writeBlobFiles: unsafe blob name '$name' (would escape $dir)")
          java.nio.file.Files.write(out, r.getAs[Array[Byte]](1))
        }
      }
  }

  /** Blob-directory reader: Spark's `binaryFile` source — the real
    * ingestion path for a 100 TB image/audio corpus laid out as one
    * object per item. Listing is distributed, each file becomes one
    * (path, length, content) row (files are never split — a blob is an
    * atomic value), and `pathGlobFilter` prunes at LISTING time, so a
    * glob over a million-object prefix never opens non-matching files.
    */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** Whole-file text reader (`wholetext`): one document per file — the
    * classic LLM-corpus drop layout. Same distributed-listing contract
    * as `binaryFile`; each file arrives as a single string row.
    */
  def readWholeTextFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)

  /** KV batch-write shape: the reference batch-writes <= `batchSize` items
    * per request to a key-value store (apis/etl.ts:44-52 -> DynamoDB
    * batchWrite). Distributed equivalent: bucket rows per partition key
    * into bounded, deterministically-ordered batches — one shuffle on the
    * key, batch assembly partition-local. Emits one row per batch (key,
    * seq, item count, content digest) — the unit a KV writer task sends.
    */
  def kvBatches(df: DataFrame, key: Column, payload: Column, batchSize: Int): DataFrame = {
    val w = Window.partitionBy("pk").orderBy("payload")
    df.select(key.as("pk"), payload.as("payload"))
      // bigint: the driver's compare checks output schemas, and floor()
      // yields double while the oracle's integer division yields BIGINT
      .withColumn("batch_seq",
        floor((row_number().over(w) - 1) / lit(batchSize)).cast("bigint"))
      .groupBy("pk", "batch_seq")
      .agg(count(lit(1)).as("n_items"),
        md5(array_join(array_sort(collect_list(col("payload"))), "\n")).as("digest"))
  }

  // ------------------------------------------------------- round-trip queries
  // Each writes to a scratch dir then reads back through the source under
  // test; the oracle reads the original table — so a green row proves the
  // writer+reader pair is lossless.

  private[graft] val scratch = "/tmp/graft_io"

  val queries: Seq[Query] = Seq(
    Query("src_jsonlines_file", corpusGrain = true, Some(
      """SELECT event_id, event_type, value FROM events ORDER BY event_id""")) { (s, d) =>
      val out = s"$scratch/jsonl"
      val src = Tables.events(s, d).select("event_id", "event_type", "value")
      writeJsonLines(src, out)
      readJsonLines(s, out, StructType(src.schema.fields))
        .orderBy("event_id")
    },

    Query("src_csv_roundtrip", corpusGrain = true, Some(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""")) { (s, d) =>
      val out = s"$scratch/csv"
      val src = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      writeCsv(src, out)
      readCsv(s, out, StructType(src.schema.fields))
        .orderBy("c_custkey")
    },

    Query("src_orc_roundtrip", corpusGrain = true, Some(
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey""")) { (s, d) =>
      val out = s"$scratch/orc"
      val src = Tables.supplier(s, d)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      writeOrc(src, out)
      readOrc(s, out).orderBy("s_suppkey")
    },

    // additive schema evolution: era=0 files lack o_orderpriority; the
    // merged read serves NULL for them and the real value for era=1
    Query("src_parquet_merge_schema", corpusGrain = true, Some(
      """SELECT o_orderkey, o_totalprice, CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      val out = s"$scratch/evolve"
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/era=0")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/era=1")
      readMergedSchema(s, out)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // one-object-per-item blob layout read back through the binaryFile
    // source; content decoded for the compare (ASCII corpus — the same
    // byte/char-unit caveat the levenshtein oracle documents)
    Query("src_binary_files", corpusGrain = true, Some(
      """SELECT 'doc_' || doc_id || '.txt' AS file_name, octet_length(text::BLOB)::BIGINT AS n_bytes, text FROM documents WHERE doc_id % 10 = 0 ORDER BY file_name""")) { (s, d) =>
      val out = s"$scratch/blob"
      writeBlobFiles(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        out, concat(lit("doc_"), col("doc_id"), lit(".txt")), col("text"))
      readBinaryFiles(s, out, "*.txt")
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
          col("length").as("n_bytes"),
          col("content").cast("string").as("text"))
        .orderBy("file_name")
    },

    // the same blob layout as one-document-per-file TEXT (wholetext) —
    // the LLM corpus-drop ingestion shape
    Query("src_text_files", corpusGrain = true, Some(
      """SELECT 'doc_' || doc_id || '.txt' AS file_name, text FROM documents WHERE doc_id % 10 = 0 ORDER BY file_name""")) { (s, d) =>
      val out = s"$scratch/blob"
      writeBlobFiles(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        out, concat(lit("doc_"), col("doc_id"), lit(".txt")), col("text"))
      readWholeTextFiles(s, out)
        .select(col("_metadata.file_name").as("file_name"), col("value").as("text"))
        .orderBy("file_name")
    },

    Query("sink_kv_batches", corpusGrain = true, Some(
      """WITH p AS (SELECT user_id % 50 AS pk, to_json(struct_pack(event_id := event_id, event_type := event_type, value := value))::VARCHAR AS payload FROM events), b AS (SELECT pk, payload, (row_number() OVER (PARTITION BY pk ORDER BY payload) - 1) // 25 AS batch_seq FROM p) SELECT pk, batch_seq, count(*) AS n_items, md5(string_agg(payload, chr(10) ORDER BY payload)) AS digest FROM b GROUP BY pk, batch_seq ORDER BY pk, batch_seq""")) { (s, d) =>
      kvBatches(Tables.events(s, d),
        key = pmod(col("user_id"), lit(50)),
        payload = to_json(struct(col("event_id"), col("event_type"), col("value"))),
        batchSize = 25)
        .orderBy("pk", "batch_seq")
    },

    Query("sink_partitioned", corpusGrain = false, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(CAST(o_totalprice AS DECIMAL(20,6))), 2)::DOUBLE AS sum_price FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, d) =>
      val out = s"$scratch/part"
      writePartitioned(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority"),
        out, Seq("o_orderpriority"))
      s.read.parquet(out)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"),
          graft.operators.Stable.sumRounded(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    }
  )
}
