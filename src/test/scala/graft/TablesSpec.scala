package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.core.Tables

/** Pins `Tables.parquet`'s schema memo: a repeat read skips the
  * inference job, and a rewrite at the same path, a changed parquet conf
  * or a partitioned layout never reads a stale or different schema. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_tables").toString

  test("a repeat Tables.table read runs no job before its action") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobs(Tables.table(spark, dir, "t")) >= 1) // the inference job
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobs { df = Tables.table(spark, dir, "t") } == 0)
    assert(df.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a directory rewritten at the same path with another schema " +
    "reads the new schema") {
    val p = s"${tmp()}/d"
    Seq(1L, 2L).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("a"))
    Seq(("x", 3)).toDF("b", "c").write.mode("overwrite").parquet(p)
    val df = Tables.parquet(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.as[(String, Int)].collect().toSeq == Seq(("x", 3)))
  }

  test("flipping spark.sql.parquet.binaryAsString between reads returns " +
    "the new type") {
    // a file Spark did not write: Spark's own files carry their Spark
    // schema, which inference prefers to the parquet types
    val p = s"${tmp()}/bin"
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary v; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(schema).newGroup().append("v", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, p).schema("v").dataType == BinaryType)
      spark.conf.set(key, "true")
      val df = Tables.parquet(spark, p)
      assert(df.schema("v").dataType == StringType)
      assert(df.as[String].collect().toSeq == Seq("x"))
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, p).schema("v").dataType == BinaryType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a partitioned directory read through the memo equals the plain " +
    "read, schema and rows") {
    val p = s"${tmp()}/part"
    Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20))
      .toDF("id", "s", "p").write.partitionBy("p").parquet(p)
    val plain = spark.read.parquet(p)
    for (_ <- 1 to 2) { // infer, then the memoized schema
      val df = Tables.parquet(spark, p)
      assert(df.schema == plain.schema)
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    }
    assert(Tables.parquet(spark, p).filter(col("p") === 20)
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }
}
