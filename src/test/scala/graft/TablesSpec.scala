package graft

import org.apache.spark.sql.functions.col

class TablesSpec extends SparkSpec {

  test("staged rich corpus is row-identical to the defining expression") {
    val derived = Tables.richDocuments(spark, sfDir)
    val staged = Tables.richDocumentsStaged(spark, sfDir)
    assert(staged.schema === derived.schema)
    assert(staged.count() === derived.count())
    assert(staged.exceptAll(derived).count() === 0L)
    assert(derived.exceptAll(staged).count() === 0L)
  }

  test("staging is reused: second read touches the same files") {
    val a = Tables.richDocumentsStaged(spark, sfDir).inputFiles.sorted.toSeq
    val b = Tables.richDocumentsStaged(spark, sfDir).inputFiles.sorted.toSeq
    assert(a.nonEmpty && a === b)
  }

  test("widen leaves a frame not rooted in files alone") {
    val shuffled = spark.range(0, 100, 1, 1).groupBy((col("id") % 7).as("g")).count()
    assert(Tables.widen(shuffled) eq shuffled)
  }

  test("widen repartitions a file scan narrower than the cluster") {
    val dir = java.nio.file.Files.createTempDirectory("tables_widen").resolve("one")
    spark.range(0, 100, 1, 1).write.parquet(dir.toString)
    val narrow = spark.read.parquet(dir.toString)
    assert(Tables.widen(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }
}
