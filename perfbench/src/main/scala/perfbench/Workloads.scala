package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ReferencePipeline
import graft.queries.{DedupQueries, GraphQueries, QueryDef, SimilarityQueries, StreamingQueries}
import graft.udf.{Materialization, Model, ModelRunner, Registry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** An op's output fingerprint: row count plus the order-insensitive
  * `bit_xor(xxhash64(struct(*)))` the engine's own bench forces ("null"
  * when there are no rows).
  */
final case class Print(rows: Long, hash: String) {
  override def toString: String = s"$rows\t$hash"
}

object Print {
  /** The fingerprint as one Spark action over every output column. */
  def of(df: DataFrame): Print = {
    val r = df.select(struct(df.columns.toIndexedSeq.map(col): _*).as("s"))
      .selectExpr("count(*) AS n", "bit_xor(xxhash64(s)) AS h").collect().head
    Print(r.getLong(0), if (r.isNullAt(1)) "null" else r.getLong(1).toString)
  }

  def load(path: String): Map[String, Print] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val f = l.split('\t')
      f(0) -> Print(f(1).toLong, f(2))
    }.toMap
    finally src.close()
  }
}

/** What one workload needs from the run: the session, the corpus, its own
  * scratch directory, the tracer, the seeded generator and the expected
  * fingerprints. `timed` is false during the warm-up round, whose Spark
  * jobs then run under the `warmup` group and stay out of the trace.
  */
final class Ctx(val spark: SparkSession, val corpus: String, val work: String, val tracer: Tracer,
    val rng: scala.util.Random, val expected: Map[String, Print], val cores: Int) {
  var timed = false
  def group(lane: Long): String = if (timed) s"o$lane" else "warmup"
  def setGroup(g: String): Unit = spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  /** Compares an op's fingerprint with the committed one; false (and a
    * note on stderr) on a mismatch or an unknown key.
    */
  def check(key: String, got: Print): Boolean = {
    val ok = expected.get(key).contains(got)
    if (!ok) System.err.println(s"[perfbench] fingerprint mismatch for $key: got $got, expected ${expected.get(key)}")
    ok
  }
}

/** The outcome of one round: per-call latencies (empty when the whole round
  * is the call) and the op counts.
  */
final case class RoundOut(callNs: Seq[Long], attempted: Int, failed: Int)

sealed trait Workload {
  def name: String
  /** Untimed rounds before the timed ones; enough for the JIT to settle. */
  def warmupRounds: Int = 1
  /** Runs one round; its wall time is what the benchmark times. */
  def round(ctx: Ctx): Unit
  /** Checks the round's outputs (untimed) and reports its calls and ops. */
  def finish(ctx: Ctx): RoundOut
  /** Spans only known once the run's listener events are in (traced run). */
  def closeSpans(ctx: Ctx): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tvf_lookup"   => new TvfLookup
    case "model_dag"    => new ModelDag
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Level-1 queries of the model DAG, by family: exact-hash and MinHash
    * LSH dedup (shuffles, candidate joins) and IVF nearest neighbours
    * (Lloyd k-means). With the datamart that is four models, one per pool
    * thread, and three level-2 readers, so every model of a level starts
    * at once and the makespan does not hinge on the seed's submission order.
    */
  val dagFamilies: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_exact", "dedup_minhash_lsh"),
    "similarity" -> Seq("ann_ivf_topk"))

  /** Streaming gates: CDC upserts through the RocksDB state store, whose
    * stream start, state-store load and commits dominate its wall time.
    */
  val gates: Seq[String] = Seq("q_streaming_cdc_rocksdb")

  private lazy val defs: Map[String, QueryDef] =
    (DedupQueries.defs ++ SimilarityQueries.defs ++ GraphQueries.defs ++ StreamingQueries.defs)
      .map(d => d.name -> d).toMap
  def query(name: String): QueryDef = defs(name)

  /** Lookup ids: Zipf-skewed (exponent 1.2) over the corpus's user ids in a
    * seed-chosen rank order, plus a fixed 10% share of ids no event has.
    */
  final class Ids(rng: scala.util.Random) {
    private val ranked = rng.shuffle((0 until Corpus.Users).toVector)
    private val cdf = ranked.indices.map(k => 1.0 / math.pow(k + 1, 1.2)).scanLeft(0.0)(_ + _).tail
    def next(): String =
      if (rng.nextDouble() < 0.1) (Corpus.Users + 1000 + rng.nextInt(9000)).toString
      else {
        val u = rng.nextDouble() * cdf.last
        ranked(cdf.indexWhere(_ >= u)).toString
      }
  }

  def datamartKey(id: String): String =
    if (id.toIntOption.exists(i => i >= 0 && i < Corpus.Users)) s"datamart:$id" else "datamart:absent"
}

/** One closed-loop client: each call builds the datamart through the TVF
  * for one id and collects its rows. A round is five calls; after a timed
  * round their rows are fingerprinted, untimed. Warm-up rounds count only
  * calls that throw, so the check's Spark jobs stay out of `setup_s`. Call
  * latency falls by half over the first ~50 calls of a JVM as the JIT
  * compiles the planner, so ten rounds warm up.
  */
final class TvfLookup extends Workload {
  val name = "tvf_lookup"
  override val warmupRounds = 10
  private var ids: Workload.Ids = _
  private val calls = mutable.ArrayBuffer.empty[Long]
  private val outputs = mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]
  private var failed = 0

  def round(ctx: Ctx): Unit = {
    if (ids == null) ids = new Workload.Ids(ctx.rng)
    val t = ctx.tracer
    (1 to 5).foreach { _ =>
      val id = ids.next()
      val lane = t.nextId()
      ctx.setGroup(ctx.group(lane))
      val t0 = System.nanoTime()
      try {
        val (rows, schema) = t.span("op.call", lane) {
          val df = t.span("udf.datamart")(ReferencePipeline.datamart(ctx.spark, ctx.corpus, id))
          (t.span("query.force")(df.collect()), df.schema)
        }
        calls += System.nanoTime() - t0
        outputs += ((Workload.datamartKey(id), rows, schema))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] datamart($id) failed: $e"); failed += 1
      }
    }
  }

  def finish(ctx: Ctx): RoundOut = {
    ctx.setGroup("verify")
    val wrong = if (!ctx.timed) 0 else outputs.count { case (key, rows, schema) =>
      !ctx.check(key, Print.of(ctx.spark.createDataFrame(rows.toSeq.asJava, schema)))
    }
    val out = RoundOut(calls.toSeq, 5, failed + wrong)
    calls.clear(); outputs.clear(); failed = 0
    out
  }
}

/** A dbt-run-shaped build: register the managed UDF and TVF through the
  * registry, then one `ModelRunner.run` at parallelism = cores, then the
  * streaming gates serially. Level 1 is the datamart model plus the family
  * queries as Table models; level 2 has one model per family that reads
  * its level-1 tables back and fingerprints them. Each gate is built
  * (which runs its streams to completion) and forced to its fingerprint;
  * the gates run after the DAG, one at a time, because they scope session
  * confs that concurrent models would see. The seed orders the models
  * within each level and the gates, and picks the datamart id, every round.
  */
final class ModelDag extends Workload {
  val name = "model_dag"
  // the first build runs cold; the second lets the JIT settle before timing
  override val warmupRounds = 2
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[ModelDag.Built]()
  private var ids: Workload.Ids = _
  private var datamartId = ""
  private var runFailed = false
  private var gatesFailed = 0

  private def wrap(ctx: Ctx, runner: Long, m: Model, inner: String): Model = m.copy(build = s => {
    val t = ctx.tracer
    val lane = t.nextId(); val op = t.nextId()
    ctx.setGroup(ctx.group(lane))
    val start = System.nanoTime()
    val df = t.span("runner.model_build", lane, op)(if (inner.isEmpty) m.build(s) else t.span(inner)(m.build(s)))
    built.add(ModelDag.Built(lane, op, runner, start, System.nanoTime()))
    df
  })

  def round(ctx: Ctx): Unit = {
    if (ids == null) ids = new Workload.Ids(ctx.rng)
    val t = ctx.tracer
    val spark = ctx.spark
    datamartId = ids.next()
    t.span("udf.materialize") {
      ReferencePipeline.testTable(spark, ctx.corpus).createOrReplaceTempView("test_table")
      Registry.materializeAndSave(spark, s"${ctx.work}/registry",
        Seq(ReferencePipeline.parseDatetimeSpec), Seq(ReferencePipeline.testTableFunctionSpec))
    }
    t.span("runner.run") {
      val runner = t.currentId
      val level1 = wrap(ctx, runner, ReferencePipeline.datamartModel(ctx.corpus, datamartId), "udf.datamart") +:
        Workload.dagFamilies.flatMap(_._2).map { q =>
          val d = Workload.query(q)
          wrap(ctx, runner, Model(q, Nil, s => d.build(s, ctx.corpus), Materialization.Table), "query.build")
        }
      val level2 = (("datamart" -> Seq("test_datamart")) +: Workload.dagFamilies).map { case (family, tables) =>
        wrap(ctx, runner, Model(s"fp_$family", tables, s => tables.map { tbl =>
          val df = s.table(tbl)
          df.select(struct(df.columns.toIndexedSeq.map(col): _*).as("s"))
            .selectExpr(s"'$tbl' AS model", "count(*) AS n", "bit_xor(xxhash64(s)) AS h")
        }.reduce(_ unionByName _), Materialization.Table), "")
      }
      try new ModelRunner(ctx.rng.shuffle(level1) ++ ctx.rng.shuffle(level2)).run(spark, parallelism = ctx.cores)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] model run failed: $e"); runFailed = true
      }
    }
    ctx.rng.shuffle(Workload.gates).foreach { g =>
      val d = Workload.query(g)
      val lane = t.nextId()
      ctx.setGroup(ctx.group(lane))
      val ok = try ctx.check(g, t.span("op.gate", lane) {
          val df = t.span("query.build")(d.build(spark, ctx.corpus))
          t.span("query.force")(Print.of(df))
        })
      catch { case e: Exception =>
        System.err.println(s"[perfbench] gate $g failed: $e"); false
      }
      if (!ok) gatesFailed += 1
    }
  }

  def finish(ctx: Ctx): RoundOut = {
    ctx.setGroup("verify")
    val names = "test_datamart" +: Workload.dagFamilies.flatMap(_._2)
    val got: Map[String, Print] =
      if (runFailed) Map.empty
      else (("datamart", Nil) +: Workload.dagFamilies).flatMap { case (family, _) =>
        ctx.spark.table(s"fp_$family").collect().map { r =>
          r.getString(0) -> Print(r.getLong(1), if (r.isNullAt(2)) "null" else r.getLong(2).toString)
        }
      }.toMap
    val failed = names.count { n =>
      val key = if (n == "test_datamart") Workload.datamartKey(datamartId) else n
      got.get(n).forall(p => !ctx.check(key, p))
    }
    val out = RoundOut(Nil, names.size + Workload.gates.size, failed + gatesFailed)
    runFailed = false; gatesFailed = 0
    out
  }

  /** A model's span runs from its build to the end of its last SQL
    * execution (the table write); the write is the part after the build.
    */
  override def closeSpans(ctx: Ctx): Unit = {
    val t = ctx.tracer
    built.forEach { b =>
      val end = math.max(b.builtAt, t.lastExecEnd(s"o${b.lane}").getOrElse(b.builtAt))
      t.record("op.model", b.parent, b.lane, b.start, end, id = b.op)
      t.record("runner.write", b.op, b.lane, b.builtAt, end)
    }
    built.clear()
  }
}

object ModelDag {
  private final case class Built(lane: Long, op: Long, parent: Long, start: Long, builtAt: Long)
}
