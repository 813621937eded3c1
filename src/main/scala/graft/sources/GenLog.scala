package graft.sources

import org.apache.spark.sql.SparkSession

/** The one commit primitive behind every generational artifact: the
  * corpus store's records ([[CorpusStore]], `_log/`), the BM25 index's
  * records ([[graft.operators.Retrieval]], `commits/`), the ingest
  * logs' folds ([[BatchLog]], `<log>_compact/folds/`), the change
  * feed's follower offsets (`followers/<consumer>/`) and the corpus
  * stream's high-water mark. Each is a directory of immutable entries
  * named by a number `n`, and every one of those numbers only moves
  * forward, so an append-only log replaces an overwritten pointer:
  *
  *  - the NEWEST entry is the committed state, the OLDEST the oldest
  *    retained one, both from ONE listing ([[bounds]]);
  *  - entry `n` is published EXCLUSIVELY ([[publish]]): its bytes go
  *    to a dot-prefixed temp file, which is then linked into place
  *    with link(2) (`Files.createLink`, EEXIST when the entry exists)
  *    on local paths, or renamed without OVERWRITE through FileContext
  *    elsewhere (HDFS's rename2 refuses an existing target).
  *    `FileSystem.create(p, overwrite = false)` is NOT exclusive: the
  *    local filesystem checks `exists()` and then opens a truncating
  *    stream. Two writers that both read entry n and both publish n+1
  *    therefore race on one name, and exactly one wins — the mutual
  *    exclusion on log entry N that Delta Lake (Armbrust et al., VLDB
  *    2020) relies on. Object stores without a conditional put cannot
  *    give this guarantee and are out of scope;
  *  - entries are never rewritten, so a reader sees one complete entry
  *    or none, and one that lists an entry a writer then prunes
  *    re-lists ([[latest]]).
  *
  * All I/O goes through the RAW filesystem, below Hadoop's checksum
  * layer: on the local filesystem that layer would write a `.crc`
  * sidecar per entry and could validate an entry against a sidecar
  * it has not renamed yet.
  *
  * Pruning ([[prune]]) frees the numbers below its bound: a writer
  * still building on a pruned entry would publish below the newest,
  * where no reader looks. A log is therefore pruned only below entries
  * whose writers are done — after the commit that supersedes them, the
  * same contract as the store's vacuum.
  */
private[graft] object GenLog {

  private def rawFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def isLocal(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    "file" == p.toUri.getScheme ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]

  /** The names in `dir`, none when it does not exist. On local paths
    * they come from one readdir: Hadoop's listing then stats each name
    * and silently drops one a concurrent prune removed in between, so
    * a log whose only entries were swapped mid-listing read as empty.
    */
  private def names(spark: SparkSession, dir: String): Seq[String] = {
    val f = rawFs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (isLocal(f, p))
      Option(new java.io.File(p.toUri.getPath).list()).toSeq.flatten
    else
      try f.listStatus(p).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** JSON for the entries that carry a record. */
  val json: com.fasterxml.jackson.databind.json.JsonMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .build()

  /** Publish `bytes` as `<dir>/<n>` exclusively (see the module doc);
    * whether the entry was created. `false` means another writer
    * published `n` first — or an entry at or above `n` exists and a
    * [[prune]] removed this publish's temp file. The temp file is
    * removed either way.
    */
  def publish(spark: SparkSession, dir: String, n: Long,
      bytes: Array[Byte]): Boolean = {
    val f = rawFs(spark, dir)
    val dst = new org.apache.hadoop.fs.Path(s"$dir/$n")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/.$n.${java.util.UUID.randomUUID()}.tmp")
    try {
      if (isLocal(f, dst)) {
        // java.nio, not Hadoop's create, which chmods the file it just
        // made: a prune removing the temp in between fails that chmod
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.write(t, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath), t)
      } else {
        val out = f.create(tmp, false)
        try out.write(bytes) finally out.close()
        org.apache.hadoop.fs.FileContext
          .getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, dst)
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => false
    } finally f.delete(tmp, false)
  }

  /** (newest, oldest) entry from one listing, or None for an empty or
    * absent log; temp files are dot-prefixed and never parse.
    */
  def bounds(spark: SparkSession, dir: String): Option[(Long, Long)] = {
    val ns = names(spark, dir).flatMap(_.toLongOption)
    if (ns.isEmpty) None else Some((ns.max, ns.min))
  }

  /** Entry `n`'s bytes. */
  def read(spark: SparkSession, dir: String, n: Long): Array[Byte] = {
    val in = rawFs(spark, dir).open(new org.apache.hadoop.fs.Path(s"$dir/$n"))
    try in.readAllBytes() finally in.close()
  }

  /** The newest entry and its bytes, or None for an empty log. An entry
    * pruned between the listing and the read has a newer successor, so
    * the read re-lists.
    */
  def latest(spark: SparkSession, dir: String): Option[(Long, Array[Byte])] = {
    @annotation.tailrec
    def from(newest: Option[Long]): Option[(Long, Array[Byte])] =
      newest match {
        case None => None
        case Some(n) =>
          (try Right(read(spark, dir, n))
           catch { case e: java.io.FileNotFoundException => Left(e) }) match {
            case Right(bytes) => Some(n -> bytes)
            case Left(e) =>
              val again = bounds(spark, dir).map(_._1)
              if (again.contains(n)) throw e
              from(again)
          }
      }
    from(bounds(spark, dir).map(_._1))
  }

  /** Delete every entry below `n`, oldest first (a crash part-way
    * leaves the retained entries contiguous), and every temp file a
    * crashed publish left: one numbered at or below the newest entry
    * can never be linked.
    */
  def prune(spark: SparkSession, dir: String, n: Long): Unit = {
    val f = rawFs(spark, dir)
    def delete(name: String) =
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$name"), false)
    val (temps, named) = names(spark, dir).partition(_.startsWith("."))
    val entries = named.flatMap(e => e.toLongOption.map(e -> _))
    entries.filter(_._2 < n).sortBy(_._2).foreach(e => delete(e._1))
    val newest = entries.map(_._2).maxOption.getOrElse(Long.MinValue)
    temps.filter(_.drop(1).takeWhile(_ != '.').toLongOption
      .exists(_ <= newest)).foreach(delete)
  }

  /** Advance a log whose entry names are its values (a follower's
    * acknowledged generation, a stream's high-water mark) to `n`: an
    * existing entry `n` already holds the same value, so a lost publish
    * is success too. The older entries are pruned.
    */
  def advance(spark: SparkSession, dir: String, n: Long): Unit = {
    publish(spark, dir, n, Array.emptyByteArray)
    prune(spark, dir, n)
  }
}
