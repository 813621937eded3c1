package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.Dedup
import graft.sqlgen.SqlGen

/** One timed operation of the closed loop. `run` returns the reason the
  * output is wrong, or None when it checks out. `before` and `after` run
  * just outside the timed interval, for bookkeeping the time must not see.
  */
final case class Op(name: String, kind: String, run: () => Option[String],
    before: () => Unit = () => (), after: () => Unit = () => ())

/** What a workload sees of the run: the session, the input tables, a
  * scratch directory, the seed.
  */
final class Ctx(val dataDir: String, val workDir: String, val seed: Long,
    val tracer: Tracer, val expected: Map[String, String]) {
  var spark: SparkSession = _
  /** Layer numbers a workload samples itself, summed per op id. */
  val samples = mutable.Map.empty[(Int, String), Double]
  /** Checks made outside the timed loop: (name, failure). */
  val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
  def sample(name: String, v: Double): Unit =
    if (tracer.on) samples((tracer.op, name)) = samples.getOrElse((tracer.op, name), 0.0) + v
}

trait Workload {
  def name: String
  /** Tables the set-up reads once, so no timed operation pays first-touch costs. */
  def tables: Seq[String]
  def fixture(ctx: Ctx): Unit
  def pass(ctx: Ctx, n: Int): Seq[Op]
  /** Typical first-pass and warm-pass seconds on 4 cores, which size a run. */
  def firstPassS: Double
  def passS: Double
}

object Workloads {
  val all: Seq[Workload] = Seq(Pipeline, CorpusStoreCycle)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Sixteen of the 49 q* entries, one per SQL feature family: filter,
    * aggregate, sort/limit, pattern match, subquery, inner join,
    * semi/anti join, union, CTE, window, rollup, top-k, set operations,
    * pivot, date/time and JSON functions. Their plans feed the SqlGen
    * probe.
    */
  val relationalPool: Seq[String] = Seq(
    "q02_filter", "q03_agg_pricing", "q05_sort_limit_offset", "q10_like_regex",
    "q14_in_subquery", "q15_join_inner", "q18_semi_anti", "q19_union",
    "q20_cte", "q21_window_rank", "q23_rollup", "q28_topk_per_group",
    "q31_intersect_except", "q32_pivot", "q35_datetime_fns", "q39_json_extract")

  /** Seven corpus entries that run graft kernels inside dedup, nearest
    * neighbour and tokenizer operators: minhash, simhash, Jaccard,
    * decontamination (cached dedup state), brute-force and PQ kNN, BPE.
    */
  val pipelinePool: Seq[String] = Seq(
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_dedup_jaccard",
    "d07_decontaminate", "s04_knn_batch", "s11_knn_pq_batch", "t26_bpe_encode")

  /** Order-insensitive digest of a frame: row count and the sum of a
    * 64-bit hash of every row. Maps do not hash, so a frame with a map
    * anywhere in its schema hashes its rows' JSON form instead.
    */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val h =
      if (hasMap(named.schema)) xxhash64(to_json(struct(named.columns.map(col): _*)))
      else xxhash64(named.columns.map(col): _*)
    named.select(h.as("h")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(BigDecimal(0))).as("s"))
  }

  def digestValue(rows: Array[Row]): String =
    s"${rows(0).getLong(0)}:${rows(0).getDecimal(1).toPlainString}"

  /** Builds a frame, plans it (separately when traced) and collects it. */
  def collect(ctx: Ctx)(build: => DataFrame): Array[Row] = {
    val tr = ctx.tracer
    val d = tr.span("queries.build")(build)
    if (tr.on) {
      tr.span("catalyst.optimize")(d.queryExecution.optimizedPlan)
      tr.span("catalyst.physical")(d.queryExecution.executedPlan)
    }
    tr.span("exec.action")(d.collect())
  }

  /** Build, plan and run one query, checking its digest. */
  def queryOp(ctx: Ctx, name: String): Op = {
    val build = SparkEntry.queries(name)
    Op(name, "query", () => {
      val got = digestValue(collect(ctx)(digestFrame(build(ctx.spark, ctx.dataDir))))
      if (ctx.tracer.on) ctx.sample("persisted_bytes", ctx.spark.sparkContext
        .getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
      Dedup.unpersistAll()
      ctx.expected.get(name) match {
        case None => Some("no expected digest")
        case Some(e) if e != got => Some(s"digest $got, expected $e")
        case _ => None
      }
    })
  }

  def shuffled[T](xs: Seq[T], seed: Long, n: Int): Seq[T] =
    new Random(seed * 1000003L + n).shuffle(xs)
}

/** Kernel- and shuffle-heavy corpus pipeline entries. */
object Pipeline extends Workload {
  val name = "pipeline"
  val tables = Seq("documents", "embeddings")
  val firstPassS = 14.0
  val passS = 6.0
  def fixture(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, n: Int): Seq[Op] =
    Workloads.shuffled(Workloads.pipelinePool, ctx.seed, n).map(Workloads.queryOp(ctx, _))
}

/** SQL generation over the analyzed plans of the relational pool plus
  * the pipeline capstone: no Spark execution, so it runs after the
  * traced run's loop. Each regenerated SQL must re-analyze
  * to its plan's output schema and read the same on every repetition.
  */
object SqlGenProbe {
  val Reps = 20

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    Tables.register(spark, ctx.dataDir)
    val plans = (Workloads.relationalPool :+ "c10_pipeline_capstone").map { n =>
      val df = SparkEntry.queries(n)(spark, ctx.dataDir)
      (n, df.queryExecution.analyzed, df.schema)
    }
    Dedup.unpersistAll()
    var secs = 0.0
    var chars = 0.0
    plans.foreach { case (name, plan, schema) =>
      val sqls = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        val sql = SqlGen.toSql(plan)
        secs += (System.nanoTime() - t0) / 1e9
        sql
      }
      chars += sqls.head.length
      val err =
        if (sqls.distinct.size != 1) Some("generated SQL differs between repetitions")
        else try {
          val got = spark.sql(sqls.head).schema
          if (got.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType))) None
          else Some(s"regenerated SQL schema ${got.simpleString} != ${schema.simpleString}")
        } catch { case e: Throwable => Some(s"regenerated SQL does not analyze: ${String.valueOf(e.getMessage).take(200)}") }
      ctx.checks += (s"sqlgen:$name" -> err)
    }
    Map("sqlgen.to_sql_s" -> secs / (Reps * plans.size), "sqlgen.sql_chars" -> chars / plans.size)
  }
}
