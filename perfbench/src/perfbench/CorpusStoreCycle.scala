package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SfSynth, Tables}
import graft.sources.CorpusStore

/** A seeded write/read schedule over a copy-on-write CorpusStore. Each
  * cycle commits a delta of new and updated documents, tombstones some
  * live ones, scans the snapshot, looks up an id set, reads the changes
  * since the previous cycle, and every second cycle runs maintenance.
  * An in-memory model of the live rows checks every read.
  */
object CorpusStoreCycle extends Workload {
  val name = "corpus_store"
  val tables = Seq("documents")

  // Sizes follow graft.CowScaleProbe, the repo's own store probe: its
  // middle replication step (1, 4, 16), its default bucket count (64),
  // its 20-row ingest batches (here 10 new + 10 updated ids) and its
  // default 10-id takedown. Maintenance uses maintainCorpusCow's default
  // policy, as Ingest and IndexHealth call it.
  val Replicas = 4
  val Buckets = 64
  val NewPerCycle = 10
  val UpdatesPerCycle = 10
  val TombstonesPerCycle = 10
  val MaintainEvery = 2
  val firstPassS = 16.0
  val passS = 19.0

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val words = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "batch", "window", "spark", "order",
    "data", "column", "join", "small", "line", "customer", "query", "store")

  /** Live rows of the model: id -> (n_chars, user bytes). */
  private val live = mutable.Map.empty[Long, (Long, Long)]
  private val dead = mutable.Set.empty[Long]
  private var path: String = _
  private var userBytesSubmitted = 0.0
  private var bytesWritten = 0.0
  private var filesWritten = 0.0
  private var writeOps = 0
  /** Longest delta chain the maintenance calls found. */
  private var maxChain = 0

  private def rowBytes(text: String, lang: String, source: String): Long =
    16L + text.getBytes("UTF-8").length + lang.length + source.length

  def fixture(ctx: Ctx): Unit = {
    val spark = ctx.spark
    path = s"${ctx.workDir}/store"
    val founding = SfSynth.replicateDocuments(
      Tables.load(spark, ctx.dataDir, "documents"), Replicas).localCheckpoint()
    CorpusStore.writeCorpusCow(founding, path, "doc_id", Buckets)
    founding.select(col("doc_id"), col("n_chars"),
      (octet_length(col("text")) + octet_length(col("lang")) +
        octet_length(col("source")) + 16).cast("long"))
      .collect().foreach(r => live(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
  }

  /** Every file under the store: path -> (size, modification time). */
  private def dirState(): Map[Path, (Long, Long)] = {
    val s = Files.walk(Paths.get(path))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  private var stateBefore = Map.empty[Path, (Long, Long)]

  /** A store write. Traced runs list the store just before and just
    * after it, outside the timed interval, and count the files it
    * created or rewrote.
    */
  private def writeOp(ctx: Ctx, name: String)(body: => Unit): Op = {
    val run = () => { body; None }
    if (!ctx.tracer.on) Op(name, "write", run)
    else Op(name, "write", run,
      before = () => stateBefore = dirState(),
      after = () => {
        val written = dirState().filter { case (p, st) => !stateBefore.get(p).contains(st) }
        bytesWritten += written.values.map(_._1).sum
        filesWritten += written.size
        writeOps += 1
      })
  }

  /** One pass is two cycles, so every pass has one maintenance call. */
  def pass(ctx: Ctx, n: Int): Seq[Op] =
    (0 until MaintainEvery).flatMap(i => cycle(ctx, n * MaintainEvery + i))

  private def cycle(ctx: Ctx, n: Int): Seq[Op] = {
    val spark = ctx.spark
    val rng = new Random(ctx.seed * 1000003L + n)
    var genBefore = -1
    var upserted = Map.empty[Long, (Long, Long)]

    val append = writeOp(ctx, "append_delta") {
      val liveIds = live.keys.toSeq.sorted
      val updates = rng.shuffle(liveIds).take(UpdatesPerCycle)
      val fresh = (0 until NewPerCycle).map(j => 900000000L + n * 1000L + j)
      val rows = (updates ++ fresh).map { id =>
        val text = Seq.fill(20 + rng.nextInt(40))(words(rng.nextInt(words.size))).mkString(" ")
        val source = s"src${id % 5}"
        Row(id, text, "en", source, text.length.toLong)
      }
      upserted = rows.map(r => r.getLong(0) ->
        (r.getLong(4), rowBytes(r.getString(1), r.getString(2), r.getString(3)))).toMap
      userBytesSubmitted += upserted.values.map(_._2).sum
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      genBefore = ctx.tracer.span("store.append_delta")(
        CorpusStore.appendDeltaToCorpusCow(df, path)) - 1
      live ++= upserted
      dead --= upserted.keys
    }

    val tombstone = writeOp(ctx, "tombstone") {
      val doomed = rng.shuffle(live.keys.toSeq.sorted.filterNot(upserted.contains))
        .take(TombstonesPerCycle)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        doomed.map(Row(_)), 1), StructType(Seq(StructField("doc_id", LongType))))
      ctx.tracer.span("store.tombstone")(CorpusStore.appendTombstonesToCorpusCow(df, path))
      live --= doomed
      dead ++= doomed
    }

    val scan = Op("scan", "read", () => {
      val r = ctx.tracer.span("store.scan")(Workloads.collect(ctx)(
        CorpusStore.readCorpusSnapshot(spark, path)
          .agg(count(lit(1)), sum(col("doc_id").cast("decimal(38,0)")),
            sum(col("n_chars").cast("decimal(38,0)")))))(0)
      val want = (live.size.toLong, BigDecimal(live.keys.sum), BigDecimal(live.values.map(_._1).sum))
      val got = (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
      if (got == want) None else Some(s"snapshot (rows, id sum, chars sum) $got, model $want")
    })

    val lookup = Op("lookup", "read", () => {
      val probe = rng.shuffle(live.keys.toSeq.sorted).take(10) ++
        rng.shuffle(dead.toSeq.sorted).take(5) ++ Seq(-1L, -2L, 123456789012L)
      val got = ctx.tracer.span("store.lookup")(Workloads.collect(ctx)(
        CorpusStore.readCorpusSnapshot(spark, path)
          .where(col("doc_id").isin(probe: _*)).select("doc_id", "n_chars")))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = probe.flatMap(id => live.get(id).map(v => id -> v._1)).toMap
      if (got == want) None else Some(s"lookup of ${probe.size} ids returned ${got.size} rows, model ${want.size}")
    })

    val changes = Op("changes_since", "read", () => {
      val to = CorpusStore.currentGen(spark, path)._1
      val got = ctx.tracer.span("store.changes_since")(Workloads.collect(ctx)(
        CorpusStore.corpusChangesSince(spark, path, genBefore, to).select("doc_id")))
        .map(_.getLong(0)).toSet
      val mustHave = upserted.keySet.filter(live.contains)
      if (!mustHave.subsetOf(got)) Some(s"changes miss ${(mustHave -- got).size} upserted ids")
      else if (!got.subsetOf(live.keySet)) Some(s"changes carry ${(got -- live.keySet).size} ids not live")
      else None
    })

    val maintain = writeOp(ctx, "maintain") {
      val r = ctx.tracer.span("store.maintain")(CorpusStore.maintainCorpusCow(spark, path))
      maxChain = math.max(maxChain, r.before.maxDeltaChain)
    }

    Seq(append, tombstone, scan, lookup, changes) ++
      (if (n % MaintainEvery == MaintainEvery - 1) Seq(maintain) else Nil)
  }

  /** Store size and write metrics of the cycles run so far. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val onDisk = dirState().values.map(_._1).sum.toDouble
    val liveBytes = live.values.map(_._2).sum.toDouble
    Map(
      "store.max_delta_chain" -> maxChain.toDouble,
      "store.bytes_written" -> bytesWritten / math.max(1, writeOps),
      "store.files_written" -> filesWritten / math.max(1, writeOps),
      "store.bytes_on_disk" -> onDisk,
      "write_amp" -> bytesWritten / math.max(1.0, userBytesSubmitted),
      "space_amp" -> onDisk / math.max(1.0, liveBytes))
  }
}
