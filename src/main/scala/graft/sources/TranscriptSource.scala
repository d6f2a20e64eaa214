package graft.sources

import graft.schema.Turn
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** Transcript table readers for the input contract
  * (conv_id, turn_idx, role, text, tool, ts) over formats beyond
  * parquet/Iceberg. The reference's closest analogue is its corpus
  * file reader (vkit/engine/char_sampler/corpus.py:71-103 — seek-and-
  * scan over raw text); at Spark scale the equivalents are splittable
  * line-delimited formats with an EXPLICIT schema.
  *
  * Scale notes (the reasons this module exists instead of bare
  * `spark.read`):
  *  - the schema is always supplied, never inferred — schema inference
  *    is a full extra pass over the data (at 100 TB, a second 100 TB
  *    scan before the job starts);
  *  - JSONL is the preferred text interchange: newlines inside `text`
  *    are escaped by JSON, so files stay line-splittable and every
  *    input split parallelizes;
  *  - CSV requires multiLine=true because tool payloads contain real
  *    newlines; multiLine disables intra-file splitting (one task per
  *    file), so CSV ingestion must arrive as MANY files to
  *    parallelize — prefer JSONL for bulk loads;
  *  - corrupt records fail fast (FAILFAST) rather than silently
  *    nulling columns mid-corpus: a malformed transcript file should
  *    stop the load, not poison the extraction downstream.
  */
object TranscriptSource {

  /** The input contract's schema, from the Turn encoder (one source of
    * truth with the typed pipeline).
    */
  val schema: StructType = Encoders.product[Turn].schema

  /** Parquet file(s) or directories, read with the contract schema:
    * no footer-inference job before the scan.
    */
  def parquet(spark: SparkSession, paths: String*): Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(schema).parquet(paths: _*).as[Turn]
  }

  /** Line-delimited JSON (one turn object per line). */
  def jsonl(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path).as[Turn]
  }

  /** Lenient JSONL ingestion with a QUARANTINE channel: unparseable
    * lines and rows missing required fields (conv_id, text, ts) land
    * in the returned quarantine frame (raw line + reason) instead of
    * either killing the load (FAILFAST) or silently poisoning the
    * corpus with nulls (PERMISSIVE's default). This is the
    * production-bulk-load mode: a 100 TB crawl drop always contains
    * some garbage, and the job should finish while accounting for
    * every rejected line. Each returned frame re-reads the text
    * source independently (line-splittable, no caching assumption).
    */
  def jsonlQuarantine(spark: SparkSession, path: String)
      : (Dataset[Turn], org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def parsed = spark.read.textFile(path).toDF("raw")
      .withColumn("t", from_json(col("raw"), schema))
    // EVERY Turn field is required: a parseable line with a null
    // turn_idx (non-nullable Int) would otherwise pass the filter and
    // kill the whole load at Dataset deserialization — the exact
    // failure mode this path exists to prevent; null role/tool would
    // flow unvalidated into extraction
    val fields = schema.fieldNames
    val reason = fields.foldLeft(
      when(col("t").isNull, "unparseable")) { (acc, f) =>
      acc.when(col(s"t.$f").isNull, s"null $f")
    }
    val bad = parsed
      .withColumn("reason", reason)
      .filter(col("reason").isNotNull)
      .select(col("raw"), col("reason"))
    val good = parsed
      .filter(col("t").isNotNull &&
        fields.map(f => col(s"t.$f").isNotNull).reduce(_ && _))
      .select("t.*").as[Turn]
    (good, bad)
  }

  /** CSV with header; multiLine for embedded newlines (see scale
    * notes). Options mirror `writeCsv` so the pair round-trips.
    */
  def csv(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      // distinguish empty string (written quoted) from null: the input
      // contract's `tool` column is "" for non-tool turns, not null.
      // Spark's default nullValue is ALSO "" and is applied after
      // unescaping, so it must be moved to a sentinel that cannot
      // appear in the data or quoted-empty fields still read as null.
      .option("emptyValue", "")
      .option("nullValue", "\u0000")
      .option("mode", "FAILFAST")
      .csv(path).as[Turn]
  }

  /** CSV writer paired with `csv` (same quoting/escape options). The
    * writer's nullValue is the same U+0000 sentinel the reader maps back
    * to null — without it a null string field would be written as the
    * unquoted empty the reader no longer treats as null, silently
    * coercing null to "" across a round-trip.
    */
  def writeCsv(turns: Dataset[Turn], path: String): Unit =
    turns.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .option("emptyValue", "\"\"")
      .option("nullValue", "\u0000")
      .csv(path)
}
