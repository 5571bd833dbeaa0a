package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** The harness pieces: the JSON escaper, the catalog selection and the
  * catalog runner every main shares. */
class HarnessSpec extends AnyFunSuite {

  test("jsonStr: keys and values with quotes, backslashes and control chars round-trip through Jackson") {
    val key = "q\"b\\n\nr\rt\tc\u0001"
    val value = "SELECT '\"x\"' AS \"a\\b\"\n\r\t\u0001 -- end\u001f"
    val text = "{" + Harness.jsonStr(key) + ":" + Harness.jsonStr(value) + "}"
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(root.size == 1, text)
    val field = root.properties().iterator().next()
    assert(field.getKey == key)
    assert(field.getValue.isTextual && field.getValue.asText == value)
  }

  test("select: sorted names, the regex anchored at both ends") {
    val names = Seq("hm_b", "xhm_a", "hm_a", "hm_a2x")
    assert(Harness.select(names, Some("hm_a|hm_b")) == Seq("hm_a", "hm_b"))
    assert(Harness.select(names, None) == names.sorted)
  }

  test("runEntry: the noop sink executes the columns a count() prunes") {
    val spark = TestSpark.spark
    val build: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(3).select(col("id"), raise_error(lit("boom")).as("e"))
    // the pruned plan never evaluates the failing column
    assert(build(spark, TestSpark.sfSmoke).count() == 3)
    var sunk = ""
    val run = Harness.runEntry(spark, TestSpark.sfSmoke, "raises", build,
      (name, df) => { sunk = name; Harness.noop(df) })
    assert(sunk == "raises")
    assert(run.isLeft, run)
    assert(run.swap.toOption.get.getMessage.contains("boom"))
  }

  test("runEntry: a builder that throws after persisting is a failure and leaves nothing cached") {
    val spark = TestSpark.spark
    val build: (SparkSession, String) => DataFrame = (s, _) => {
      val df = s.range(100).toDF("id").persist()
      df.count()
      assert(s.sparkContext.getPersistentRDDs.nonEmpty)
      throw new IllegalStateException("after persist")
    }
    val run = Harness.runEntry(spark, TestSpark.sfSmoke, "persists", build,
      (_, df) => Harness.noop(df))
    assert(run.swap.toOption.map(_.getMessage).contains("after persist"), run)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("runEntry: a healthy entry reports build and sink seconds") {
    val spark = TestSpark.spark
    val run = Harness.runEntry(spark, TestSpark.sfSmoke, "range",
      (s, _) => s.range(10).toDF("id"), (_, df) => Harness.noop(df))
    assert(run.exists(t => t.buildS >= 0 && t.sinkS >= 0), run)
  }
}
