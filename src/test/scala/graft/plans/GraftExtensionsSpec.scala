package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.ClipGen
import graft.functions.GraftFunctions._

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("DecodeElision rewrites size(decode_pcm(...)) to pcm_sample_count") {
    // GraftSession registers the extensions session-wide, so the shared
    // session's optimizer already applies the rule; check both the raw
    // rule (on the un-optimized plan) and the end-to-end optimized plan.
    val df = ClipGen.clipsDf(spark, 10)
      .select(size(decode_pcm(col("bytes"), col("codec"), col("sr_hz"))).as("n"))
    val analyzed = df.queryExecution.analyzed
    assert(analyzed.toString.contains("decode_pcm"))
    val after = DecodeElision(analyzed)
    assert(!after.toString.contains("decode_pcm"), s"not elided:\n$after")
    assert(after.toString.contains("pcm_sample_count"))
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.toString.contains("decode_pcm"),
      s"session-wide extensions did not elide:\n$optimized")
  }

  test("clip_cards TVF: SQL table function over a clip table path") {
    val dir = java.nio.file.Files.createTempDirectory("tvf-clips").toString
    ClipGen.clipsDf(spark, 6).write.mode("overwrite").parquet(dir)
    val rows = spark.sql(
      s"SELECT clip_id, Name_text FROM clip_cards('$dir') ORDER BY clip_id")
      .collect()
    assert(rows.length == 6)
    assert(rows.head.getString(0) == ClipGen.clipId(0))
    assert(rows.head.getSeq[String](1).head == graft.fixtures.Persons.all(0).name)
  }

  test("clip_extract TVF: parameterized payload spec in SQL") {
    val dir = java.nio.file.Files.createTempDirectory("tvf-extract").toString
    ClipGen.clipsDf(spark, 6).write.mode("overwrite").parquet(dir)
    val rows = spark.sql(
      s"""SELECT clip_id, Who_text, Who_href, Mail_text
         |FROM clip_extract('$dir', 'Who:name:text+href; Mail:email:text:uppercase')
         |ORDER BY clip_id""".stripMargin).collect()
    assert(rows.length == 6)
    assert(rows.head.getSeq[String](1).head == graft.fixtures.Persons.all(0).name)
    assert(rows.head.getSeq[String](3).head ==
      graft.fixtures.Persons.all(0).email.toUpperCase)
    // unknown filters fail the same checkPayload path as the programmatic API
    val err = intercept[Exception](spark.sql(
      s"SELECT * FROM clip_extract('$dir', 'A:name:text:nosuchfilter')").collect())
    assert(err.getMessage.contains("unknown filter"))
  }

  test("parseSpec keeps regex metacharacters ('+', ':', '=') intact in filter args") {
    val spec = graft.operators.Extraction.parseSpec(
      "F:name:text:regex=[0-9]+; G:phone:text:trim+regex=a+b:c=d")
    assert(spec.fields(0).filters == Seq(("regex", "[0-9]+")),
      s"trailing quantifier lost: ${spec.fields(0).filters}")
    assert(spec.fields(1).filters == Seq(("trim", ""), ("regex", "a+b:c=d")),
      s"regex arg split apart: ${spec.fields(1).filters}")
  }

  test("session with GraftExtensions applies the rule and injects SQL functions") {
    // force a FRESH session (getOrCreate would return the shared one and
    // ignore withExtensions) — restore the shared default afterwards
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val df = ClipGen.clipsDf(s2, 10)
        .select(col("clip_id"),
          size(decode_pcm(col("bytes"), col("codec"), col("sr_hz"))).as("n"),
          pcm_sample_count(col("bytes"), col("codec")).as("want"))
      assert(df.queryExecution.optimizedPlan.toString.contains("pcm_sample_count"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("decode_pcm"))
      df.collect().foreach(r => assert(r.getInt(1) == r.getInt(2)))
      // SQL function injected too
      assert(s2.sql("SELECT size(decode_pcm(X'0000', 'pcm16', 8000))")
        .head().getInt(0) == 1)
      // ...and so is the rest of the SQL surface, not only decode_pcm
      assert(s2.sql("SELECT pcm_rms(X'00400040', 'pcm16')").head().getDouble(0) == 0.5)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }
}
