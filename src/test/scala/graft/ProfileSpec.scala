package graft

import graft.tools.Profile

/** Smoke test of the profiler's report on the toy fixture. */
class ProfileSpec extends SparkSpec {
  test("Profile reports runs, stages, Catalyst phases and a census") {
    val lines = Profile.report(spark, Fixtures.write(spark), "cooc_topk")
    val text = lines.mkString("\n")
    assert(lines.count(_.matches("run \\d+  construct .* wall .*")) == 3,
      text)
    assert(lines.exists(_.matches("\\s*\\d+\\s+\\d+\\.\\d\\d .*")), text)
    Seq("analysis", "optimization", "planning").foreach { p =>
      assert(lines.exists(_.startsWith(s"phase $p ")), text)
    }
    assert(lines.exists(_.startsWith("census broadcastHash=")), text)
    assert(lines.exists(_.startsWith("residual ")), text)
  }

  test("Profile prints the round records of the fixpoint a query runs") {
    val lines = Profile.report(spark, Fixtures.write(spark), "reach_hops")
    val rounds = lines.filter(_.startsWith("fixpoint reach_hops round "))
    assert(rounds.map(_.split("\\s+")(3).toInt) == Seq(1, 2, 3),
      lines.mkString("\n"))
    assert(rounds.forall(_.matches(".* delta .* rows -?\\d+  wall \\d+ ms")),
      rounds.mkString("\n"))
  }
}
