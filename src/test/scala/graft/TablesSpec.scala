package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.model.Tables

/** [[Tables.read]] infers a table's schema once per file version: later
  * reads start no Spark job and still see a rewritten file, the reader
  * settings that change inference, and a missing path. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir() = Files.createTempDirectory("graft-tables").toString

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("a second read of an unchanged table starts no job and matches the plain read") {
    val d = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(s"$d/t.parquet")
    Tables.read(spark, d, "t")
    var again: DataFrame = null
    assert(jobsDuring { again = Tables.read(spark, d, "t") } == 0)
    val plain = spark.read.parquet(s"$d/t.parquet")
    assert(again.schema == plain.schema)
    assert(rows(again) == rows(plain))
  }

  test("a table overwritten at the same path reads its new schema and rows") {
    val d = tmpDir()
    Seq(1L, 2L).toDF("k").write.parquet(s"$d/t.parquet")
    assert(Tables.read(spark, d, "t").columns.toSeq == Seq("k"))
    val table = new java.io.File(s"$d/t.parquet")
    val mtime = table.lastModified()
    Seq(("x", 3), ("y", 4)).toDF("name", "n")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    // the directory keeps its old mtime: only its part files differ
    assert(table.setLastModified(mtime))
    val after = Tables.read(spark, d, "t")
    assert(after.schema == spark.read.parquet(s"$d/t.parquet").schema)
    assert(rows(after) == Seq(Row("x", 3), Row("y", 4)))
  }

  /** A one-row parquet file whose column `b` is binary with no string
    * annotation, as non-Spark writers leave it. Spark-written files are
    * no use here: their footer carries Spark's own schema, which
    * inference prefers to `spark.sql.parquet.binaryAsString`. */
  private def writeRawBinary(path: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
  }

  test("binaryAsString in one session does not leak into another, in either order") {
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val d = tmpDir()
    Seq("first", "second").foreach(n => writeRawBinary(s"$d/$n.parquet"))
    def typeOf(s: SparkSession, n: String) =
      Tables.read(s, d, n).schema("b").dataType
    assert(typeOf(spark, "first") == BinaryType)
    assert(typeOf(asString, "first") == StringType)
    assert(typeOf(asString, "second") == StringType)
    assert(typeOf(spark, "second") == BinaryType)
    assert(Tables.read(asString, d, "first").as[String].collect().toSeq ==
      Seq("hi"))
  }

  test("a missing table still raises Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables.read(spark, tmpDir(), "absent"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("building a warm query's frame starts no Spark job") {
    val dir = Fixtures.write(spark)
    val names = Seq("cooc_topk", "degree_dist", "dedup_exact", "corpus_mix",
      "tfidf", "multimodal_features", "sessionize")
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop")
        .mode("overwrite").save()
    }
    names.foreach { n =>
      assert(jobsDuring(SparkEntry.queries(n)(spark, dir)) == 0, n)
    }
  }
}
