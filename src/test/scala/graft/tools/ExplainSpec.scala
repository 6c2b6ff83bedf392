package graft.tools

import java.io.ByteArrayOutputStream

import graft.SparkSpecBase
import graft.core.Pin

class ExplainSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  // the profile's printed lines, also when it throws
  private def profiled(out: ByteArrayOutputStream, names: String, reps: Int): Seq[String] = {
    Console.withOut(out)(Explain.profile(spark, names, sf, reps))
    out.toString("UTF-8").split("\n").toSeq
  }

  test("profile: one RUN line per rep with job and byte totals; pins released") {
    val lines = profiled(new ByteArrayOutputStream, "q30_dedup_exact", reps = 2)
    val all = lines.mkString("\n")
    val runs = lines.filter(_.startsWith("RUN"))
    assert(runs.size == 2, all)
    assert(runs.map(_.takeWhile(_ != ':')) == Seq("RUN1 q30_dedup_exact", "RUN2 q30_dedup_exact"), all)
    val jobLines = lines.filter(_.startsWith("[job "))
    assert(jobLines.nonEmpty, all)
    // every job names its SQL execution and a call site, not the adaptive
    // query stage pool's frame
    jobLines.foreach { j =>
      assert(j.contains(" exec="), j)
      assert(!j.contains("withThreadLocalCaptured"), j)
    }
    // q30 groups by fingerprint: every run writes shuffle bytes
    runs.foreach { r =>
      val write = "shuffle_write=(\\d+)".r.findFirstMatchIn(r).map(_.group(1).toLong)
      assert(write.exists(_ > 0L), r)
      assert("jobs=(\\d+)".r.findFirstMatchIn(r).exists(_.group(1).toInt >= 1), r)
    }
    assert(lines.exists(_.startsWith("OPS q30_dedup_exact: scans=")), all)
    assert(Pin.live(spark) == 0)
  }

  test("an unknown name fails the registry check before any query runs") {
    val out = new ByteArrayOutputStream
    val e = intercept[IllegalArgumentException](
      profiled(out, "q30_dedup_exact,q_no_such_query", reps = 1))
    assert(e.getMessage.contains("unknown queries: q_no_such_query"), e.getMessage)
    assert(out.size == 0, out.toString("UTF-8"))
  }
}
