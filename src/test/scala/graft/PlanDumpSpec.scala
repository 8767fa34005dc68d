package graft

import org.apache.spark.sql.functions._

/** PlanDump's shape counter on a plan whose node counts are pinned by
  * hints: a forced shuffle (sort-merge) join, a broadcast join over a
  * cached side, one file scan and a global aggregate. */
class PlanDumpSpec extends SparkSpec {
  test("shape counts scans, exchanges, join kinds and SinglePartition") {
    val dir = java.nio.file.Files.createTempDirectory("plandump_spec")
    val c = spark.range(0, 200, 3).toDF("k").cache()
    try {
      spark.range(200).toDF("k").write.mode("overwrite")
        .parquet(s"$dir/a")
      val a = spark.read.parquet(s"$dir/a")
      val b = spark.range(0, 200, 2).toDF("k")
      val df = a.join(b.hint("merge"), "k")
        .join(broadcast(c), "k")
        .agg(sum(col("k")).as("s"), count(lit(1)).as("n"))
      PlanDump.execute(df)
      // exchanges: hash(k) on each SMJ side, the broadcast, and the
      // global aggregate's single-partition shuffle
      assert(PlanDump.shape(df) == PlanDump.Shape(fileScans = 1,
        exchanges = 4, smj = 1, bhj = 1, inMemoryScans = 1,
        singlePartition = 1))
      val r = df.collect().head
      assert(r.getLong(0) == (0L until 200L by 6).sum && r.getLong(1) == 34)
    } finally {
      c.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
