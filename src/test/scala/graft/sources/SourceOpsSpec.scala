package graft.sources

import graft.SparkSpec

/** The write-then-read source operators each write their own directory. */
class SourceOpsSpec extends SparkSpec {

  test("a src_csv_roundtrip frame still reads correctly after the next call has written") {
    val dir = sf("lineitem")
    val run = SourceOps.defs("src_csv_roundtrip").run
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val first = run(spark, dir)
    val expected = rows(first)
    val second = run(spark, dir)
    assert(rows(second) == expected)
    // A new plan over the first frame scans its files again (re-running
    // `first` itself would reuse the shuffle output of its first run).
    assert(rows(first.as("again")) == expected)
    assert(first.inputFiles.toSet.intersect(second.inputFiles.toSet).isEmpty)
  }
}
