package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Container loaders (rxsci `rs.container.*`, SURVEY.md §2.4: typed
  * CSV/JSON parsing), the bounded side of the unified batch/stream
  * promise (reference README.rst:38); a topology reads the same topics
  * unbounded (`streaming.Topology`).
  *
  * Schemas are explicit (SURVEY.md §1.2 policy: inference allowed in dev,
  * pinned in prod) — an inferred schema on a 100 TB dataset is both a
  * full extra pass and a correctness hazard.
  */
object Sources {

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      // match writeCsv: whitespace is DATA (the reader defaults already
      // preserve it; pinned explicitly so the pair can't drift).
      // Documented limitation: EMPTY strings read back as null — the
      // reader cannot distinguish a quoted from a bare empty field
      // (SourcesSpec pins the normalization); JSONL is the faithful
      // export for free text
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .schema(schema)
      .csv(path)

  def jsonLines(spark: SparkSession, path: String, schema: StructType)
      : DataFrame =
    spark.read.schema(schema).json(path)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the other columnar interchange format (Spark-native reader,
    * same pushdown/pruning surface as parquet: PushedFilters +
    * ReadSchema reach the scan). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw text: one `value` row per line — the pre-schema ingest shape
    * for log/jsonl corpora (pair with from_json for late schemas). */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Whole files as binary rows (`path`, `modificationTime`, `length`,
    * `content: binary`) — the multimodal ingest path: image/audio/video
    * payloads land as opaque binary columns for
    * [[graft.llm.Multimodal]]'s codec dispatch. `pathGlobFilter` bounds
    * the listing; payloads stream straight to executors, never through
    * the driver. */
  def binaryFiles(spark: SparkSession, path: String,
                  globFilter: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", globFilter).load(path)

  /** JSONL export — the interchange format downstream training stacks
    * read; one JSON object per line, quoting/escaping handled by the
    * writer. `partitions` bounds the file count (0 = leave layout).
    * Timestamps are written with MICROSECOND fractions — Spark's
    * default json timestampFormat (.SSSXXX) silently truncates
    * event-time micros; readers stay on the default lenient ISO
    * parser, which accepts any fraction width. */
  def writeJsonLines(df: DataFrame, path: String,
                     partitions: Int = 0): Unit =
    (if (partitions > 0) df.repartition(partitions) else df)
      .write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               partitions: Int = 0): Unit =
    (if (partitions > 0) df.repartition(partitions) else df)
      .write.mode("overwrite").option("header", header.toString)
      // micros-precision timestamps, same rationale as writeJsonLines
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      // Spark's CSV WRITER trims leading/trailing whitespace by
      // default (the reader does not) — silent text corruption for a
      // training-data exporter; whitespace is DATA. Empty-vs-null is
      // CSV's inherent ambiguity: both land as an empty field and read
      // back as null (documented at [[csv]]; JSONL keeps the
      // distinction)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
}
