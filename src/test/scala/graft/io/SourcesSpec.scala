package graft.io

import java.nio.file.Files

import graft.SparkSpec

/** [[Sources.table]] memoizes each table's inferred schema. A table
  * rewritten inside the same JVM with a different column set must be
  * read with its new schema, not the memoized old one. */
class SourcesSpec extends SparkSpec {

  test("a table rewritten in the same JVM is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sources-memo").toString
    val path = s"$dir/customer.parquet"

    Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(path)
    val first = Sources.table(spark, dir, "customer")
    assert(first.columns.toSeq === Seq("c_custkey", "c_name"))
    assert(first.count() === 2L)

    Seq((7L, 1.5, "x")).toDF("c_custkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(path)
    val second = Sources.table(spark, dir, "customer")
    assert(second.columns.toSeq === Seq("c_custkey", "c_acctbal", "c_mktsegment"))
    assert(second.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq === Seq((7L, 1.5, "x")))
  }
}
