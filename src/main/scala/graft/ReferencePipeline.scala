package graft

import graft.functions.BqFunctions
import graft.udf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalogBridge

import java.lang.ref.WeakReference

/** The reference's flagship 3-node pipeline, end-to-end on Spark:
  *
  * {{{
  * source test_table (id, column1, column2)      <- derived from events
  *   │ scanned by
  * TVF test_table_function(id STRING)            <- cast + parse_datetime + filter
  *   │ invoked by
  * table test_datamart (column1 LONG, datetime TIMESTAMP_NTZ)
  * }}}
  *
  * mirroring /root/reference/models/udf/table_function/test_table_function.sql:8-14
  * and /root/reference/models/datamart/test_datamart.sql:1-5. The source table
  * (/root/reference/models/udf/source.yml:4-9) is played by `events`:
  * `user_id` -> `id` (the TVF filter key), `event_id` -> `column1` (the CAST
  * exercise), and `column2` is the event timestamp formatted into one of the
  * five layouts `parse_datetime` accepts, rotated by `event_id % 5`, so every
  * parse arm is exercised (FIXTURES.md).
  *
  * Note on the reference's `WHERE id = '{{ id }}'` (test_table_function.sql:13):
  * that Jinja splice renders at dbt-compile time; we implement the evident
  * intent — the predicate binds to the call-site argument at runtime
  * (SURVEY.md §2 O3). The TVF is a real catalog object (`CREATE FUNCTION …
  * RETURNS TABLE`), so Catalyst inlines the body and pushes `id = <arg>`
  * down to the parquet scan.
  *
  * Register once, call many times, as the reference's managed functions
  * are created once and then found in the warehouse on the next run:
  * [[register]] puts the source view, the UDF and the TVF into a session's
  * catalog on the first [[datamart]] call, and later calls for the same
  * `sfDir` reuse them for as long as the catalog still holds those very
  * objects. Like any DataFrame temp view, the source view snapshots the
  * `events` file listing when it is registered; dropping `test_table`
  * makes the next call register again and list the files afresh.
  *
  * The final sort runs in one task, as BigQuery (Dremel, VLDB 2020)
  * finishes an outermost ORDER BY on a single worker: the result is one
  * user's rows, a few dozen, so a parallel range sort would spend more on
  * its sampling job and shuffle than on sorting. [[datamart]] reads the
  * TVF's rows into one partition with `COALESCE(1)`, which satisfies the
  * global sort's distribution without a shuffle, so a lookup runs as one
  * Spark job: no range exchange, no sampling job, no AQE query stage. The
  * scan then runs in that one task too; the `events` source is a single
  * file, and the pushed-down `id` filter leaves it little to read.
  */
object ReferencePipeline {

  /** The five Spark format strings used to *render* column2 (the inverse of
    * the parse arms), index-aligned with BqFunctions.parseDatetimeFormats.
    */
  private val renderFormats = Seq(
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  )

  /** DuckDB strftime equivalents, for the oracle. */
  val renderFormatsDuckDb: Seq[String] = Seq(
    "%Y/%m/%d %H:%M:%S",
    "%Y/%m/%d",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%S.%fZ"
  )

  /** The stand-in for the reference's source table
    * `joshua-1000.joshua_dataset.test_table` (id, column1, column2 — all STRING).
    */
  def testTable(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val fmt = renderFormats.zipWithIndex.foldLeft(lit(null: String)) {
      case (acc, (f, i)) =>
        when(pmod(col("event_id"), lit(5)) === i, date_format(col("ts"), f)).otherwise(acc)
    }
    ev.select(
      col("user_id").cast("string").as("id"),
      col("event_id").cast("string").as("column1"),
      fmt.as("column2")
    )
  }

  /** The managed scalar UDF, as a spec (SURVEY.md §2 O11/O15/O16). */
  val parseDatetimeSpec: UdfSpec = UdfSpec(
    name = "parse_datetime",
    params = Seq(Param("timestamp_expression", "STRING")),
    returnType = "TIMESTAMP_NTZ",
    body = BqFunctions.parseDatetimeSqlBody("timestamp_expression"),
    description = "Lenient multi-format datetime parse; raises if no format matches (reference parse_datetime.sql)."
  )

  /** The managed TVF (SURVEY.md §2 O12): scan + cast + UDF call + filter. */
  val testTableFunctionSpec: TvfSpec = TvfSpec(
    name = "test_table_function",
    params = Seq(Param("filter_id", "STRING")),
    query = """SELECT
              |    CAST(column1 AS BIGINT) AS column1,
              |    parse_datetime(column2) AS datetime
              |  FROM test_table
              |  WHERE id = filter_id""".stripMargin,
    description = "Rows of test_table for one id, with column1 cast and column2 parsed."
  )

  /** What [[register]] last put in one session's catalog: its `sfDir` and
    * the three catalog objects, held weakly. The view's plan references the
    * session, so a strong value would keep its weak key alive; an object
    * that was replaced and collected reads as changed.
    */
  private final class Registration(sfDir: String, objects: Seq[WeakReference[AnyRef]]) {
    def holds(spark: SparkSession, sfDir: String): Boolean =
      sfDir == this.sfDir && objects.zip(catalogObjects(spark)).forall {
        case (ref, now) => now.exists(_ eq ref.get)
      }
  }

  private def catalogObjects(spark: SparkSession): Seq[Option[AnyRef]] = Seq(
    CatalogBridge.tempView(spark, "test_table"),
    CatalogBridge.function(spark, parseDatetimeSpec.name),
    CatalogBridge.tableFunction(spark, testTableFunctionSpec.name))

  private val registrations = new java.util.WeakHashMap[SparkSession, Registration]()

  /** Register source view + UDF + TVF in the session catalog, once per
    * session: when the catalog still holds the objects the last call made
    * for this `sfDir`, only the session policy is applied. Dropping or
    * replacing any of them, or a new `sfDir`, registers all three again.
    * The lock makes check-then-register atomic for models built
    * concurrently on one session. Returns whether this call registered.
    */
  def register(spark: SparkSession, sfDir: String): Boolean = registrations.synchronized {
    GraftSession.tune(spark)
    val stale = !Option(registrations.get(spark)).exists(_.holds(spark, sfDir))
    if (stale) {
      testTable(spark, sfDir).createOrReplaceTempView("test_table")
      Materializer.materializeFunction(spark, parseDatetimeSpec, temporary = true)
      Materializer.materializeTableFunction(spark, testTableFunctionSpec, temporary = true)
      registrations.put(spark, new Registration(sfDir, catalogObjects(spark).map(o => new WeakReference(o.orNull))))
    }
    stale
  }

  /** The datamart query (reference models/datamart/test_datamart.sql:1-5)
    * with the TVF argument bound as a named parameter, never spliced into
    * the SQL text. `COALESCE(1)` puts the final sort in one task (see the
    * object's scaladoc).
    */
  def datamart(spark: SparkSession, sfDir: String, id: String = "13"): DataFrame = {
    register(spark, sfDir)
    spark.sql(
      """SELECT /*+ COALESCE(1) */ column1, datetime
        |FROM test_table_function(:filter_id)
        |ORDER BY column1""".stripMargin,
      Map("filter_id" -> id)
    )
  }

  /** The datamart as a managed Table model with persisted docs — the full
    * `+persist_docs: {relation: true, columns: true}` path of the reference
    * (dbt_project.yml:41-43 applied to models/datamart/schema.yml:4-10):
    * materializing through [[ModelRunner]] writes the table AND its
    * relation/column comments into the catalog, so `DESCRIBE` shows them.
    */
  def datamartModel(sfDir: String, id: String = "13"): Model = Model(
    name = "test_datamart",
    refs = Nil,
    build = s => datamart(s, sfDir, id),
    materialization = Materialization.Table,
    docs = ModelDocs(
      description = Some("Datamart table for testing (reference schema.yml: '測試用的 datamart 表')."),
      columns = Map(
        "column1"  -> "INT64 id column cast from the source (schema.yml type INT64)",
        "datetime" -> "parsed civil datetime, no timezone (schema.yml type DATETIME)"))
  )
}
