package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Session.conf]] is pure: these cases build no SparkContext. */
class SessionSpec extends AnyFunSuite {
  private def conf(env: (String, String)*) = Session.conf(env.toMap).toMap

  test("cpus default to the available processors") {
    val n = Runtime.getRuntime.availableProcessors
    assert(conf()("spark.master") == s"local[$n]")
    assert(conf()("spark.sql.shuffle.partitions") == n.toString)
  }

  test("a non-positive or non-numeric SPARK_GRAFT_CPUS is rejected by name") {
    Seq("0", "-2", "x").foreach { bad =>
      val e = intercept[IllegalArgumentException](conf("SPARK_GRAFT_CPUS" -> bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_MASTER wins over local[cpus]") {
    val c = conf("SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]")
    assert(c("spark.master") == "local-cluster[2,1,1024]")
    assert(c("spark.sql.shuffle.partitions") == "3")
  }

  test("shuffle partitions equal cpus") {
    val c = conf("SPARK_GRAFT_CPUS" -> "6")
    assert(c("spark.master") == "local[6]")
    assert(c("spark.sql.shuffle.partitions") == "6")
  }
}
