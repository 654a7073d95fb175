package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The datamart's final sort runs in one task (`COALESCE(1)`): one Spark
  * job per lookup, the same rows in the same order as the hint-free query.
  */
class DatamartSortSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** `events` rewritten as four parquet files in an sf-shaped directory. */
  private lazy val fourFileDir: String = {
    val dir = Files.createTempDirectory("graft-four-files").toFile
    dir.deleteOnExit()
    GraftSession.tune(spark)
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.parquet(s"$dir/events.parquet")
    dir.getPath
  }

  /** Exchanges of the executed plan; for an adaptive plan, of its final plan. */
  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marker job before and after
    * `body` brackets exactly its jobs.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val markers = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("job-count-marker")) match {
          case Some(m) => markers.put(m)
          case None => jobs.incrementAndGet(): Unit
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markers.poll(30, TimeUnit.SECONDS) == name)
    }
    sc.addSparkListener(listener)
    try {
      marker("job-count-marker-before")
      jobs.set(0)
      body
      marker("job-count-marker-after")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def hintFreeRows(s: SparkSession, id: String): Seq[Row] =
    s.sql(
      """SELECT column1, datetime
        |FROM test_table_function(:filter_id)
        |ORDER BY column1""".stripMargin,
      Map("filter_id" -> id)).collect().toSeq

  private val ids = Seq("13", "7", "no-such-id", "a\\", "o'brien", "x\\') UNION ALL SELECT 1, NULL --")

  test("a lookup is one Spark job with no exchange, and keeps the hint-free rows in order") {
    val s = spark.newSession()
    ReferencePipeline.register(s, sf)
    for (id <- ids) {
      var dm: DataFrame = null
      var rows: Seq[Row] = Nil
      val jobs = jobsDuring {
        dm = ReferencePipeline.datamart(s, sf, id)
        rows = dm.collect().toSeq
      }
      assert(jobs == 1, id)
      assert(exchanges(dm).isEmpty, s"$id:\n${dm.queryExecution.executedPlan}")
      assert(rows == hintFreeRows(s, id), id)
    }
    assert(ReferencePipeline.datamart(s, sf, "13").collect().nonEmpty)
  }

  test("a lookup over a four-file copy of events is one job and returns the same rows") {
    val one = spark.newSession()
    val four = spark.newSession()
    ReferencePipeline.register(four, fourFileDir)
    for (id <- Seq("13", "7", "no-such-id")) {
      val expected = ReferencePipeline.datamart(one, sf, id).collect().toSeq
      var dm: DataFrame = null
      var rows: Seq[Row] = Nil
      val jobs = jobsDuring {
        dm = ReferencePipeline.datamart(four, fourFileDir, id)
        rows = dm.collect().toSeq
      }
      assert(jobs == 1, id)
      assert(dm.rdd.getNumPartitions == 1, id)
      assert(rows == expected, id)
      assert(rows == hintFreeRows(four, id), id)
    }
  }

  test("an id that matches no rows gives one empty partition, and a window over it is empty") {
    val dm = ReferencePipeline.datamart(spark, sf, "no-such-id")
    assert(dm.rdd.getNumPartitions == 1)
    assert(dm.collect().isEmpty)
    val windowed = dm.withColumn("rn", row_number().over(Window.orderBy(col("column1"))))
    assert(windowed.collect().isEmpty)
  }

  test("q_global_sort, a global sort without the hint, plans its range exchange") {
    // the query itself requires `rangepartitioning` in its executed plan
    assert(SparkEntry.queries("q_global_sort")(spark, sf).count() > 0)
  }
}
