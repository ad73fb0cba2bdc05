package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.Codecs

import SparkEntry.t
import Case.oracle

/** The codecs (SURVEY.md §2.2): JSON and string round trips. */
object Encodings extends Family {

  val cases: Seq[Case] = Seq(

    // json codec: decode props payload, aggregate a field
    Case("q_json_codec", (s, dir) => {
      val codec = Codecs.JsonCodec(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
      t(s, dir, "events")
        .withColumn("decoded",
          codec.decode(encode(col("props"), "UTF-8")))
        .select(col("decoded.k").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
      oracle("""SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
          |       count(*) AS n
          |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // string codec round-trip: decode(encode(x)) = x (operator.py:40-42)
    Case("q_string_codec", (s, dir) => {
      val codec = Codecs.StringCodec()
      t(s, dir, "events")
        .withColumn("rt", codec.decode(codec.encode(col("event_type"))))
        .groupBy(col("rt").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      oracle("""SELECT event_type, count(*) AS n FROM events
          |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
