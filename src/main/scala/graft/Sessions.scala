package graft

import org.apache.spark.sql.SparkSession

/** Session builders with the engine's recommended configuration.
  *
  * The driver contract builds its own sessions (Verify); this is
  * the front door for library users, encoding the 100 TB-oriented
  * defaults so they don't have to rediscover them:
  *
  *  - AQE on (default in Spark 4) with skew-join handling: runtime
  *    re-planning replaces hand-tuned partition counts per query.
  *  - `shuffle.partitions` sized to the cluster, not the 200 default:
  *    pass total executor cores locally; on a real cluster 2-3× cores.
  *  - 128 MB scan partitions: large enough to amortize task startup,
  *    small enough that a partition's working set fits executor memory
  *    alongside shuffle buffers.
  *  - nanosAsLong: tolerate TIMESTAMP(NANOS) parquet (see
  *    Tables.events).
  */
object Sessions {

  /** The runtime (session-modifiable) confs, shared by [[builder]]
    * and [[local]] so the two cannot drift apart.
    */
  private[graft] def runtimeConfs(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(appName: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config(runtimeConfs(shufflePartitions).toMap)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** Local session for tests/exploration.
    *
    * getOrCreate returns a pre-existing session if the JVM already has
    * one, and STATIC confs (spark.sql.extensions, master) are then
    * silently ignored — so the graft functions are registered
    * explicitly (idempotent) and the runtime confs re-applied, making
    * the promised surface available either way.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder("graft", cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    runtimeConfs(cores).foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
