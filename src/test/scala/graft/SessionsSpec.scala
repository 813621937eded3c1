package graft

class SessionsSpec extends SparkSpec {
  test("Sessions.local re-applies every runtime conf to an existing session") {
    val cores = 3
    val expected = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val stale = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "11",
      "spark.sql.files.maxPartitionBytes" -> (1L << 20).toString,
      "spark.sql.session.timeZone" -> "America/Los_Angeles",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")
    val previous = expected.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      stale.foreach { case (k, v) => spark.conf.set(k, v) }
      val s = Sessions.local(cores)
      assert(s eq spark, "getOrCreate must return the shared session")
      expected.foreach { case (k, v) =>
        assert(s.conf.get(k) == v, s"$k reads back ${s.conf.get(k)}, not $v")
      }
      assert(Sessions.runtimeConfs(cores) == expected)
      val r = s.sql("SELECT dot_product(array(2.0D), array(3.0D))").head()
      assert(r.getDouble(0) == 6.0)
    } finally {
      previous.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
