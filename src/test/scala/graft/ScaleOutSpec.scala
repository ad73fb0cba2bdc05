package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Artifact gate for the measured scale tier (`graft.Dev scale`): the
  * committed scale_out.json must show every swept query within the
  * shuffle-linear-with-headroom bar (time at 10x data <= ~15x time at
  * 1x on constant cores). The MEASUREMENT is `Dev scale` (minutes — run
  * per round, commit the artifact); this spec is the cheap always-on
  * assertion that the committed claim holds and the sweep set hasn't
  * silently shrunk. DevSpec reads a freshly written artifact with the
  * same [[ScaleOutSpec.parse]]. */
class ScaleOutSpec extends AnyFunSuite {
  import ScaleOutSpec._

  private def checkArtifact(path: String): Unit = {
    val f = new java.io.File(path)
    if (!f.isFile)
      cancel(s"$path absent — run `runMain graft.Dev scale`")
    val (bar, rows) = parse(java.nio.file.Files.readString(f.toPath))
    assert(rows.size == ScaleSweep.SweepQueries.size,
      s"sweep set shrank: ${rows.map(_.name)}")
    val over = rows.filter(_.ratio > bar)
    assert(over.isEmpty, "SUPER-LINEAR rows (plan read required): " +
      over.map(r => f"${r.name} ${r.ratio}%.1fx").mkString(", "))
    // a FAILED row writes -1 (Dev scale's error contract) — it must
    // fail this gate, not slide under the bar
    assert(failed(rows).isEmpty,
      s"FAILED sweep rows in the committed artifact: " +
        failed(rows).map(_.name).mkString(", "))
    rows.foreach { r =>
      info(f"${r.name}%-20s ${r.small}%6.2fs -> ${r.big}%6.2fs  " +
        f"${r.ratio}%5.1fx (bar $bar)") }
  }

  test("committed scale_out.json (10x): every query within the ratio bar") {
    checkArtifact("scale_out.json")
  }

  test("committed scale_out_100.json (100x): every query within the bar") {
    checkArtifact("scale_out_100.json")
  }
}

object ScaleOutSpec {

  final case class Row(name: String, small: Double, big: Double,
                       ratio: Double, verdict: String)

  /** A scale artifact's ratio bar and its per-query rows, by a real JSON
    * parse. A missing number reads as -1, so it lands in [[failed]]. */
  def parse(text: String): (Double, Vector[Row]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(text)
    val rows = root.path("queries").properties().iterator().asScala.map { e =>
      val q = e.getValue
      Row(e.getKey, q.path("sf01_sec").asDouble(-1), q.path("sf1_sec")
        .asDouble(-1), q.path("ratio").asDouble(-1), q.path("verdict")
        .asText(""))
    }.toVector
    (root.path("ratio_bar").asDouble(ScaleSweep.RatioBar), rows)
  }

  /** Rows that carry a failure: a non-positive time or ratio, or the
    * FAILED verdict. */
  def failed(rows: Seq[Row]): Seq[Row] = rows.filter(r =>
    r.small <= 0 || r.big <= 0 || r.ratio <= 0 || r.verdict == "FAILED")
}
