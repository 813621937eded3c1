package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `readCorpusStream` — the COW corpus store as a first-class
  * Structured Streaming SOURCE (round 16, completing the change-feed
  * story): `spark.readStream.format("graft-corpus").option("path", p)
  * .load()` emits each committed generation range as a micro-batch,
  * so index ingest, pack writers, or any other follower ride Spark's
  * OWN offset checkpointing instead of the [[CorpusStore.followCorpus]]
  * pull loop — watermarks, foreachBatch, rate limits and restart
  * recovery all come for free.
  *
  * Offsets ARE generation numbers (the store's atomic commit unit):
  * `getOffset` reads the newest commit record (one listing per
  * trigger), and `getBatch(start, end)` is exactly
  * [[CorpusStore.corpusChangesSince]](start, end] — O(changes) for
  * delta generations, the at-least-the-changes re-emission contract
  * for rewrites, deletions never surfacing. The first batch
  * (start = None) bootstraps with the full CURRENT version, same as
  * a fresh follower.
  *
  * Delivery semantics: Spark's checkpoint persists the (start, end]
  * range before the sink commits, so a crash replays the SAME range —
  * at-least-once per row, exactly-once in EFFECT for the idempotent
  * consumers the change-feed contract already requires (index appends
  * that probes distinct away, keyed upserts). Retention contract: a
  * restarted stream's checkpointed offset must still be ≥ the store's
  * vacuum base — [[CorpusStore.corpusChangesSince]] fails fast on a
  * vacuumed end generation rather than silently skipping history, so
  * size `vacuumCorpusSnapshots` retention past the longest expected
  * stream downtime (the same reader contract every vacuum carries).
  *
  * V1 [[Source]] on purpose: `getBatch` returns the change feed's
  * DataFrame directly (manifest-fed parquet relations, the
  * LWW merge only where chains exist), so the stream reads the exact
  * plan the batch feed reads — a DSv2 MicroBatchStream would have to
  * re-implement the scan row-by-row for zero gain on a
  * generation-granular source.
  *
  * CATCH-UP IS BOUNDED on request (round 17 — r16 missing item 2):
  * without it `getOffset` always returns CURRENT, so a stream resumed
  * after N generations of downtime drains the whole backlog as ONE
  * micro-batch — at the 100 TB design point an unbounded unit of
  * retry. `.option("maxGenerationsPerTrigger", n)` caps every batch
  * at n generations past the last one this source handed out: the
  * backlog drains in ceil(N/n) batches, each a normal checkpointed
  * unit. The source's own high-water mark (a [[GenLog]] whose entry
  * name is the mark, under the stream's PRIVATE metadata directory,
  * advanced in
  * `getBatch` — which Spark replays for the last recovered range
  * before asking for new offsets) makes the cap restart-safe: a
  * capped `getOffset` never regresses below what the checkpoint
  * already committed. The BOOTSTRAP batch is still one full snapshot
  * (a fresh consumer needs the corpus; no per-generation cap can
  * shrink that) taken at the OLDEST retained generation consistent
  * with the cap, so catch-up after it stays capped. The vacuumed-
  * offset fail-fast is unchanged: if the cap makes the stream fall
  * behind retention, the next range's end generation is below base
  * and [[CorpusStore.corpusChangesSince]] kills the stream loudly —
  * register the stream as a follower (below) or size retention past
  * the lag.
  *
  * `.option("consumer", name)` (round 17) registers the stream as a
  * DURABLE FOLLOWER: each getBatch acks the range's committed start
  * generation at `<store>/followers/<name>` (the
  * [[CorpusStore.followCorpus]] offset log), so the follower-aware
  * vacuum floors retention at exactly the range the stream still
  * needs — a registered stream survives arbitrary downtime under a
  * maintenance loop instead of dying on the fail-fast. Retire a
  * decommissioned stream with [[CorpusStore.unregisterFollower]].
  */
class CorpusStreamProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-corpus"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-corpus source requires .option(\"path\", <cow store>)"))

  private def consumerOf(parameters: Map[String, String]): Option[String] =
    parameters.get("consumer").map { c =>
      require(c.nonEmpty && !c.contains("/"),
        s"graft-corpus source: '$c' is not a valid consumer name")
      c
    }

  private def capOf(parameters: Map[String, String]): Option[Int] =
    parameters.get("maxGenerationsPerTrigger").map { s =>
      val n = try s.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-corpus source: maxGenerationsPerTrigger '$s' is not " +
            "an integer")
      }
      require(n >= 1,
        s"graft-corpus source: maxGenerationsPerTrigger must be >= 1, got $n")
      n
    }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    CorpusStore.requireStore(spark, path)
    require(schema.isEmpty,
      "graft-corpus source: the schema is the store's row schema — " +
        "don't pass one")
    capOf(parameters) // validate at analysis time, not first trigger
    consumerOf(parameters)
    (shortName(), CorpusStore.corpusSchema(spark, path))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new CorpusStreamSource(sqlContext.sparkSession, pathOf(parameters),
      capOf(parameters), consumerOf(parameters), metadataPath)
}

/** One committed generation number as a streaming offset. */
private[sources] case class GenOffset(gen: Int) extends Offset {
  override def json: String = gen.toString
}

private[sources] class CorpusStreamSource(spark: SparkSession,
    path: String, maxGensPerTrigger: Option[Int],
    consumer: Option[String], metadataPath: String) extends Source {

  override val schema: StructType = CorpusStore.corpusSchema(spark, path)

  // the schema epoch this source instance fixed its shape under —
  // the reference point for the conform-up-vs-fail direction test in
  // getBatch (a restart creates a fresh source, re-fixing both)
  private val startEpoch: Int =
    CorpusStore.schemaEpochAt(spark, path,
      CorpusStore.currentGen(spark, path)._1)

  // an Offset arriving back from the checkpoint log is a
  // SerializedOffset carrying only the json — parse, never pattern
  // match on GenOffset
  private def genOf(o: Offset): Int = o.json.trim.toInt

  // the capped source's restart-safe high-water mark: the largest end
  // generation this source ever handed to getBatch, persisted in the
  // stream's private metadata dir. Spark replays getBatch for the
  // last recovered range before constructing a new batch, so by the
  // first capped getOffset after a restart this mark is at least
  // the checkpoint's committed end — a capped offer can never
  // regress below it. Untouched (and never written) without the cap.
  private def hwPath = s"$metadataPath/graft-gen-hw"

  // In-memory mirror of the high-water mark (r20 optimization —
  // the stream-floor item: per-trigger metadata reads whose answer
  // this source itself wrote last). The LOG stays the durable truth
  // a restart recovers from; within one source instance every write
  // goes through [[advanceHighWater]], so the mirror can never lag
  // the log. All Source methods run on the stream's single
  // microbatch thread — no synchronization needed.
  private var hwMem: Option[Int] = None

  private def highWater: Option[Int] = {
    if (hwMem.isEmpty)
      hwMem = GenLog.bounds(spark, hwPath).map(_._1.toInt)
    hwMem
  }

  private def advanceHighWater(gen: Int): Unit = {
    GenLog.advance(spark, hwPath, gen)
    hwMem = Some(gen)
  }

  // The checkpoint root and this source's index within it, recovered
  // from the V1 contract's metadataPath (= <ckpt>/sources/<i>) — what
  // lets the follower ack ride the OFFSET COMMIT LOG itself (round 19
  // — r18 verdict task 5): Spark's Source.commit callback for batch N
  // fires at the start of trigger N+1, so an ack driven only by the
  // callback trails a full cadence and a stream that stalls right
  // after a sink commit holds vacuum retention one generation longer
  // than it needs. The commit log IS the durable truth of what the
  // sink committed; reading its latest entry (and that batch's end
  // offset from the offset log) each trigger advances the follower
  // floor in the SAME trigger the commit landed, including empty
  // triggers where no callback would ever fire.
  private val ckptAndIdx: Option[(String, Int)] = {
    val p = new org.apache.hadoop.fs.Path(metadataPath)
    val idx = scala.util.Try(p.getName.toInt).toOption
    val parent = p.getParent
    if (idx.isDefined && parent != null && parent.getName == "sources" &&
        parent.getParent != null)
      Some((parent.getParent.toString, idx.get))
    else None
  }
  private lazy val commitLog = ckptAndIdx.map { case (root, _) =>
    new org.apache.spark.sql.execution.streaming.checkpointing.CommitLog(
      spark, s"$root/commits")
  }
  private lazy val offsetLog = ckptAndIdx.map { case (root, _) =>
    new org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog(
      spark, s"$root/offsets")
  }

  /** The last SINK-COMMITTED batch's end generation, straight from
    * the checkpoint logs (commit log → that batch's entry in the
    * offset log → this source's offset). Best-effort: a
    * malformed/foreign checkpoint layout reads as None rather than
    * failing a trigger.
    */
  private def latestCommittedBatch(): Option[Long] =
    try commitLog.flatMap(_.getLatest()).map(_._1)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The end generation batch `batchId` committed, from the offset
    * log (both logs are append-only, so a batch id resolves to one
    * end forever).
    */
  private def committedEndOf(batchId: Long): Option[Int] =
    try {
      for {
        ol <- offsetLog
        seq <- ol.get(batchId)
        (_, i) <- ckptAndIdx
        off <- seq.offsets.lift(i).flatten
      } yield off.json.trim.toInt
    } catch { case scala.util.control.NonFatal(_) => None }

  private def latestCommittedEnd(): Option[Int] =
    latestCommittedBatch().flatMap(committedEndOf)

  /** Ack the last sink-committed end. Safe precisely because the
    * recovery replay of a committed range is tolerated below: once
    * (s, e] is in the commit log the stream never needs gens ≤ e
    * again — the only post-commit read of that range is the V1
    * restart replay, whose result the engine discards.
    */
  // The last commit-log batch id whose end offset this source already
  // resolved and acked (r20): getOffset AND getBatch both consult the
  // commit log every trigger, but a batch id can only resolve to ONE
  // end offset (both logs are append-only), so re-reading the offset
  // log and re-acking for a batch id already handled is pure
  // per-trigger fixed cost. The listing (getLatest) stays — it is the
  // poll that notices NEW commits.
  private var lastAckedCommitBatch: Option[Long] = None

  private def ackCommittedFromLog(): Unit =
    if (consumer.isDefined) {
      latestCommittedBatch()
        .filterNot(lastAckedCommitBatch.contains).foreach { batchId =>
          committedEndOf(batchId).foreach { end =>
            ackFollower(end)
            lastAckedCommitBatch = Some(batchId)
          }
        }
    }

  override def getOffset: Option[Offset] = {
    ackCommittedFromLog()
    val (cur, base) = CorpusStore.currentGen(spark, path)
    val offered = maxGensPerTrigger match {
      case None => cur
      case Some(n) => highWater match {
        case Some(hw) => math.max(hw, math.min(cur, hw + n))
        case None =>
          // bootstrap: one full snapshot at the oldest RETAINED
          // generation the cap allows — never below base (a vacuumed
          // bootstrap target would fail for no reason), never above
          // CURRENT
          math.min(cur, math.max(base, n - 1))
      }
    }
    Some(GenOffset(offered))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endGen = genOf(end)
    if (maxGensPerTrigger.isDefined && !highWater.exists(_ >= endGen))
      advanceHighWater(endGen)
    // `.option("consumer", name)` registers the stream as a durable
    // follower (round 17): everything at-or-below `start` is
    // sink-committed (Spark hands a range to getBatch only after the
    // previous batch committed), so acking `start` makes the
    // follower-aware vacuum floor retention at start+1 — exactly the
    // range this stream still needs — and a long-stopped registered
    // stream survives maintenance instead of dying on the
    // vacuumed-offset fail-fast. Unregistered streams keep the old
    // contract (size retention past your downtime).
    // a bootstrap batch (start = None) acks -1 — retain everything
    // until Spark's commit callback acks the processed end; a
    // replayed range acks its committed start the same way
    ackFollower(start.map(genOf).getOrElse(-1))
    ackCommittedFromLog()
    // Recovery replay of a COMMITTED range whose generations vacuum
    // already reclaimed (round 19): on restart the V1 engine replays
    // getBatch for the last recovered range before constructing a
    // new batch, and DISCARDS the result when the commit log already
    // holds that batch — so when the range's end generation is below
    // the store's retained base AND the checkpoint commit log proves
    // it sink-committed, an empty frame is the correct answer, not
    // the vacuumed-offset fail-fast. This is what makes acking the
    // committed END safe (the lag-free follower floor): the genuine
    // lost-data case — an UNcommitted range pointing below base —
    // still fails loudly below, and the follower ack can never have
    // advanced past an uncommitted range in the first place.
    val (_, baseGen) = CorpusStore.currentGen(spark, path)
    if (endGen < baseGen && latestCommittedEnd().exists(_ >= endGen))
      return org.apache.spark.sql.graft.StreamingFrame.asStreaming(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema))
    val raw = CorpusStore.corpusChangesSince(spark, path,
      start.map(genOf).getOrElse(-1), endGen)
    val rawShape = raw.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val fixedShape = schema.fields.map(f => (f.name, f.dataType)).toSeq
    // The V1 contract fixes the schema at stream start. Two distinct
    // mismatch cases (round 18 — r17 ADVICE; round 19 — epoch-
    // directed now that drops/renames exist and SHAPE no longer
    // encodes direction: an older-epoch batch can have MORE columns
    // than the fixed schema, not just a prefix of it):
    //  - the batch's end generation reads in an epoch AT-OR-BELOW
    //    the one this source started under: a capped/lagging stream
    //    draining pre-evolve generations. Conform the batch UP —
    //    adds fill with the recorded defaults, drops project away,
    //    renames resolve through the provenance chain — or the old
    //    guard deadlocked the stream: every restart re-fixed
    //    `schema` to the evolved shape and the capped backlog could
    //    never cross the boundary ("restart the query" never
    //    helped).
    //  - the batch reads in a NEWER epoch than the stream started
    //    under: a true mid-stream evolve. Fail loudly — the sink was
    //    planned for the old shape; restarting genuinely fixes it.
    val batch =
      if (rawShape == fixedShape) raw
      else if (CorpusStore.schemaEpochAt(spark, path, endGen) <= startEpoch)
        CorpusStore.conformTo(raw, schema)
      else throw new IllegalStateException(
        s"graft-corpus source: the store's row schema evolved while " +
          "the stream was running (stream started with " +
          s"${schema.fieldNames.mkString(", ")}; generation $endGen " +
          s"reads as ${raw.schema.fieldNames.mkString(", ")}) — " +
          "restart the query to pick up the new shape")
    // re-tag the change feed's plan as a streaming frame (the V1
    // Source contract): same physical scan, evaluated once for this
    // micro-batch
    org.apache.spark.sql.graft.StreamingFrame.asStreaming(batch)
  }

  // In-memory mirror of the follower offset (r20, same stance as
  // hwMem): this source is the offset's only writer, so after the
  // first read the log can never hold more than the mirror — the
  // monotonicity check no longer needs a read per call, and a
  // non-advancing ack (the steady-state getBatch(start) ack, already
  // covered by the previous trigger's committed-end ack) skips the
  // write too. The ack that ADVANCES the floor still hits disk
  // before returning, so vacuum sees exactly the same durable floor
  // at exactly the same points.
  private var followerAckMem: Option[Int] = None

  /** Monotonic follower ack at `<store>/followers/<consumer>` — a
    * no-op for unregistered streams.
    */
  private def ackFollower(gen: Int): Unit =
    consumer.foreach { c =>
      val prev = followerAckMem.getOrElse {
        val p = CorpusStore.followerOffset(spark, path, c)
          .getOrElse(Int.MinValue)
        followerAckMem = Some(p)
        p
      }
      if (gen > prev) {
        GenLog.advance(spark, s"$path/followers/$c", gen)
        followerAckMem = Some(gen)
      }
    }

  // Spark calls this when a batch is fully committed downstream — the
  // authoritative follower ack: everything at-or-below `end` is
  // processed, so vacuum may reclaim up to end+1
  override def commit(end: Offset): Unit = ackFollower(genOf(end))

  override def stop(): Unit = ()
}
