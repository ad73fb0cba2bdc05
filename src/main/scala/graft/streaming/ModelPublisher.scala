package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model publisher (reference makinage/model_publisher/model_publisher.py:
  * 30-111; console script makinage-model-publisher, setup.py:60): a one-shot
  * batch job that pushes model artifact bytes to a model topic, from which
  * running serve operators hot-swap (`start_from: last` semantics).
  *
  * Spark form: file bytes → single-row DataFrame (name, version, content)
  * → a file-backed model topic.
  */
object ModelPublisher {

  /** Read one model artifact into a publishable single-row DataFrame. */
  def modelRow(spark: SparkSession, name: String, version: Long,
               path: String): DataFrame = {
    import spark.implicits._
    val bytes = Files.readAllBytes(Paths.get(path))
    Seq((name, version, bytes)).toDF("name", "version", "content")
      .withColumn("published_at", current_timestamp())
  }

  /** Publish to a file-backed model topic (parquet dir, append — readers
    * take max(version), i.e. `start_from: last`). */
  def publishToPath(df: DataFrame, topicPath: String): Unit =
    df.write.mode("append").parquet(topicPath)

  /** Resolve the latest model from a file-backed topic (start_from: last). */
  def latestFromPath(spark: SparkSession, topicPath: String): DataFrame = {
    val all = spark.read.parquet(topicPath)
    all.orderBy(col("version").desc, col("published_at").desc).limit(1)
  }
}
