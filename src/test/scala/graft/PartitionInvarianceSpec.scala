package graft

import org.apache.spark.sql.Row

/** Answers do not depend on how a run is partitioned: a fixed slice of
  * the battery (every 12th `SparkEntry.cases` entry, 20 queries) gives
  * the same sorted rows on the test session and on one shuffle
  * partition with AQE and broadcast joins off. The oracle gate checks
  * answers under one posture only; this pins the others. */
class PartitionInvarianceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** One value rendered canonically: binary as hex, maps sorted. */
  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => render(k) + "→" + render(x) }.sorted
      .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count and SHA-256 of the sorted rendered rows of `q`. */
  private def digest(q: queries.Case): (Int, String) = {
    val rows = q.run(spark, sfDir).collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length, md.digest().map("%02x".format(_)).mkString)
  }

  test("every 12th battery query answers the same on one shuffle " +
    "partition with AQE and broadcast joins off") {
    val slice = SparkEntry.cases.zipWithIndex
      .collect { case (c, i) if i % 12 == 0 => c }
    assert(slice.size == 20)
    val differ = slice.flatMap { q =>
      val session = digest(q)
      val single = withConf("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(digest(q))
      if (session == single) None
      else Some(s"${q.name}: $session vs $single")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
