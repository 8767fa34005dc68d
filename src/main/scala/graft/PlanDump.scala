package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}

/** Dev tool: run selected queries cold then warm under the shared
  * harness session, print each run's completed-stage cost table (stage
  * wall, task-time sum, shuffle bytes), and record the warm run's plan.
  *
  * Args: <outDir> <suffix> [names...]  (names default: all queries);
  * env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. From the warm
  * run it writes the full formatted plan to `<outDir>/<name>_<suffix>.txt`
  * and appends one [[Shape]] row to `<outDir>/shape_<suffix>.tsv`
  * (truncated at start, one row per query that ran).
  *
  * Each run executes the query's OWN plan (rows discarded) rather than
  * `count()`, which plans a different, column-pruned query — so the
  * recorded plan is the AQE final plan of the frame itself.
  */
object PlanDump {
  /** Node counts of one executed plan. `singlePartition` counts the
    * shuffle exchanges into one partition — harmless over tiny inputs
    * (global aggregates), the plan shape that dies at 100 TB over a
    * full relation. */
  final case class Shape(fileScans: Int, exchanges: Int, smj: Int,
      bhj: Int, inMemoryScans: Int, singlePartition: Int)

  /** Execute `df`'s own physical plan to completion, discarding rows. */
  def execute(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plandump"))(
      qe.toRdd.foreach(_ => ()))
  }

  /** [[Shape]] of `df`'s physical plan (AQE's final plan once
    * [[execute]]d). Walks through adaptive wrappers, query stages and
    * subqueries; a reused exchange is not counted again, and a cached
    * input counts as one InMemoryTableScan without walking the plan
    * that filled it. */
  def shape(df: DataFrame): Shape = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    Shape(
      fileScans = all.count(_.isInstanceOf[FileSourceScanExec]),
      exchanges = all.count(_.isInstanceOf[Exchange]),
      smj = all.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = all.count(_.isInstanceOf[BroadcastHashJoinExec]),
      inMemoryScans = all.count(_.isInstanceOf[InMemoryTableScanExec]),
      singlePartition = all.count {
        case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
        case _ => false
      })
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // shared harness session — dumps reflect exactly the bench's plans
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        val m = i.taskMetrics
        stages.add((i.stageId,
          s"tasks=${i.numTasks} " + i.name.take(60).replace('\n', ' '),
          wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    })
    GraftSession.warmup(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val tsv = new java.io.PrintWriter(s"$outDir/shape_$suffix.tsv")
    tsv.println("query\tseconds\tfile_scans\texchanges\tsmj\tbhj\t" +
      "inmemory_scans\tsingle_partition")
    var rows = 0
    for (n <- names; run <- Seq("cold", "warm")) {
      stages.clear()
      spark.sparkContext.setJobDescription(s"plandump: $n $run")
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        execute(df)
        val sec = (System.nanoTime() - t0) / 1e9
        // stage completion is async — drain the bus before reading
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
        val all = scala.jdk.CollectionConverters
          .IteratorHasAsScala(stages.iterator()).asScala.toSeq
        println(f"===== $n $run total $sec%.2f s, ${all.size} stages, " +
          f"stage-wall sum ${all.map(_._3).sum / 1e3}%.2f s =====")
        all.sortBy(-_._3).take(18).foreach {
          case (id, nm, wall, taskSum, sr, sw) =>
            println(f"  stage $id%4d ${wall / 1e3}%7.2fs taskSum ${
              taskSum / 1e3}%7.2fs shufR ${sr / 1024}%8dK shufW ${
              sw / 1024}%8dK  $nm")
        }
        if (run == "warm") {
          val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt")
          try {
            w.println(f"== $n @ $sfDir cpus=$cpus  executed in $sec%.2f s ==")
            w.println(df.queryExecution.explainString(FormattedMode))
          } finally w.close()
          tsv.println(f"$n\t$sec%.2f\t" + shape(df).productIterator
            .mkString("\t"))
          tsv.flush()
          rows += 1
        }
      } catch { case e: Throwable =>
        println(s"[plandump] $n $run FAILED: ${e.getMessage}")
      } finally {
        InternalCaches.releaseAll()
        spark.catalog.clearCache()
      }
    }
    tsv.close()
    println(s"[plandump] $rows/${names.size} rows -> $outDir/shape_$suffix.tsv")
    spark.stop()
  }
}
