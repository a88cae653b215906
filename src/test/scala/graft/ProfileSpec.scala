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
}
