package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.CatalogBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

class ReferencePipelineSpec extends SparkTestBase {

  private def rows(s: SparkSession, dir: String, id: String = "13"): Seq[Row] =
    ReferencePipeline.datamart(s, dir, id).collect().toSeq

  private def view(s: SparkSession): AnyRef = CatalogBridge.tempView(s, "test_table").get

  test("flagship datamart reproduces the reference's output shape and filters by id") {
    val dm = ReferencePipeline.datamart(spark, sf, id = "13")
    val schema = dm.schema
    // /root/reference/models/datamart/schema.yml:6-10: (column1 INT64, datetime DATETIME)
    assert(schema("column1").dataType == LongType)
    assert(schema("datetime").dataType == TimestampNTZType)
    val rows = dm.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getAs[Any]("datetime") != null))
  }

  test("TVF argument binds at runtime: different ids give disjoint row sets") {
    val a = ReferencePipeline.datamart(spark, sf, id = "13").collect().map(_.getLong(0)).toSet
    val b = ReferencePipeline.datamart(spark, sf, id = "7").collect().map(_.getLong(0)).toSet
    assert(a.nonEmpty && b.nonEmpty && a.intersect(b).isEmpty)
  }

  test("datamart model persists docs: DESCRIBE shows reference schema.yml comments") {
    new graft.udf.ModelRunner(Seq(ReferencePipeline.datamartModel(sf)))
      .run(spark)
    val desc = spark.sql("DESCRIBE TABLE test_datamart").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("column1").contains("INT64"))
    assert(desc("datetime").contains("civil datetime"))
    val tbl = spark.sql("DESCRIBE TABLE EXTENDED test_datamart").collect()
      .find(_.getString(0) == "Comment").map(_.getString(1))
    assert(tbl.exists(_.contains("datamart")))
    spark.sql("DROP TABLE test_datamart")
  }

  test("type-conflict guard: existing view with the function's name raises") {
    import spark.implicits._
    Seq(1).toDF("x").createOrReplaceTempView("conflicted_name")
    val spec = ReferencePipeline.parseDatetimeSpec.copy(name = "conflicted_name")
    val e = intercept[IllegalStateException] {
      graft.udf.Materializer.materializeFunction(spark, spec, temporary = true)
    }
    assert(e.getMessage.contains("exists as a table/view"))
  }

  test("TVF argument is bound, not spliced: quotes and backslashes stay inside the id") {
    for (id <- Seq("a\\", "o'brien", "x\\') UNION ALL SELECT 1, NULL --")) {
      val dm = ReferencePipeline.datamart(spark, sf, id)
      assert(dm.schema.map(f => f.name -> f.dataType) ==
        Seq("column1" -> LongType, "datetime" -> TimestampNTZType), id)
      assert(dm.collect().isEmpty, id)
    }
  }

  test("register once: repeat calls reuse the catalog objects until one is dropped or replaced") {
    val s = spark.newSession()
    val fresh = rows(s, sf)
    assert(fresh.nonEmpty)
    val v = view(s)
    assert(rows(s, sf) == fresh)
    assert(view(s) eq v, "a second call re-registered the source view")

    s.catalog.dropTempView("test_table")
    assert(rows(s, sf) == fresh)
    val afterDrop = view(s)

    s.sql("DROP TEMPORARY FUNCTION parse_datetime")
    assert(rows(s, sf) == fresh)
    assert(!(view(s) eq afterDrop), "a dropped UDF did not re-register")

    s.range(3).selectExpr("'13' AS id", "'1' AS column1", "'2020-01-01' AS column2")
      .createOrReplaceTempView("test_table")
    assert(rows(s, sf) == fresh)

    val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"
    val other = rows(s, sf01)
    assert(other == rows(spark.newSession(), sf01))
    assert(other != fresh)
    assert(rows(s, sf) == fresh)
  }

  test("register once is per session: a new session registers its own objects") {
    val a = spark.newSession()
    val fresh = rows(a, sf)
    val v = view(a)
    val b = a.newSession()
    assert(rows(b, sf) == fresh)
    assert(!(view(b) eq v))
    assert(rows(a, sf) == fresh)
    assert(view(a) eq v)
  }

  test("concurrent datamart calls on one session equal serial calls, id by id") {
    val ids = Seq("13", "7", "3", "no-such-id")
    val serial = { val s = spark.newSession(); ids.map(id => id -> rows(s, sf, id)).toMap }
    assert(serial("13").nonEmpty && serial("no-such-id").isEmpty)
    val shared = spark.newSession()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { t =>
        new Callable[(Boolean, Seq[(String, Seq[Row])])] {
          def call(): (Boolean, Seq[(String, Seq[Row])]) = {
            start.await()
            val registered = ReferencePipeline.register(shared, sf)
            (registered, ids.indices.map(i => ids((i + t) % ids.size)).map(id => id -> rows(shared, sf, id)))
          }
        }
      }
      val futures = tasks.map(pool.submit(_))
      start.countDown()
      val results = futures.map(_.get(5, TimeUnit.MINUTES))
      // one registration for all eight threads, kept through all 32 calls
      assert(results.count(_._1) == 1)
      assert(!ReferencePipeline.register(shared, sf))
      val got = results.flatMap(_._2)
      assert(got.size == 8 * ids.size)
      got.foreach { case (id, rs) => assert(rs == serial(id), id) }
    } finally pool.shutdownNow()
  }
}
