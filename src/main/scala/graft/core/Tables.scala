package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * Plays the role of the reference's topic registry
  * (makinage/operator.py:21-75): a named catalog of sources. Here sources
  * are parquet tables under a scale-factor directory; in streaming mode the
  * same names bind to Kafka topics via [[graft.streaming.Topology]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table; column pruning + predicate pushdown reach the scan
    * because we hand Catalyst the raw parquet relation.
    *
    * The driver has shipped `events.parquet` with two different `ts`
    * physical encodings across rounds, both normalized here to a plain
    * UTC TimestampType so every operator sees one type:
    *  - TIMESTAMP(NANOS): rejected by Spark's reader by default — enable
    *    the nanos-as-long legacy read (runtime conf, safe on any session)
    *    and rebuild a microsecond TimestampType with integer arithmetic
    *    (ns epoch exceeds 2^53, so `div`, not double division);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as TIMESTAMP_NTZ,
    *    cast to TimestampType — the session timezone is pinned UTC by
    *    every entrypoint, so the wall-clock reinterpretation is the
    *    identity (and NTZ would otherwise break `cast(ts as long)` and
    *    NTZ/TZ comparisons downstream). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** What a memoized schema was inferred under: the path's leaf files
    * (name, size, mtime) and the session's confs that change what
    * inference returns (the parquet ones, case sensitivity, and
    * partition-column typing, which a supplied schema would otherwise
    * override). */
  private final case class Inferred(files: Seq[(String, Long, Long)],
                                    confs: Map[String, String],
                                    schema: StructType)

  private val inferred =
    new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  /** `spark.read.parquet(path)` without its schema-inference job when
    * the answer cannot have changed: the inferred schema is kept per
    * path and handed back to the reader while the path's leaf-file
    * listing and the session's parquet confs are the ones it was
    * inferred under. Only the `StructType` is kept — every read still
    * lists the files itself, so a rewrite at the same path is never
    * served a stale listing, and a rewritten or reconfigured read
    * infers again. A path the Hadoop listing cannot resolve (missing,
    * a glob) takes the plain read and its errors. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val files = try Some(leafFiles(spark, path)) catch {
      case _: java.io.IOException => None
    }
    files match {
      case None => spark.read.parquet(path)
      case Some(fs) =>
        val confs = spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") ||
            k == "spark.sql.caseSensitive" ||
            k == "spark.sql.sources.partitionColumnTypeInference.enabled"
        }
        val hit = Option(inferred.get(path))
          .filter(i => i.files == fs && i.confs == confs)
        val schema = hit.map(_.schema).getOrElse {
          val s = spark.read.parquet(path).schema
          inferred.put(path, Inferred(fs, confs, s))
          s
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Every leaf file under `path` (or `path` itself) with its size and
    * mtime, sorted — the listing signature [[parquet]] keys on. */
  private def leafFiles(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  /** Register all tables as temp views (idempotent) and return the session.
    * Lets operators and tests address tables by name via spark.table(...). */
  def registerAll(spark: SparkSession, sfDir: String): SparkSession = {
    names.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }
    spark
  }
}
