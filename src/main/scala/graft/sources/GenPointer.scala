package graft.sources

import org.apache.spark.sql.SparkSession

/** The shared atomic generation-pointer primitive behind the BM25
  * index ([[graft.operators.Retrieval]]) and the corpus store
  * ([[CorpusStore]]): a single `CURRENT` file holding "g" or "g b"
  * (committed generation, oldest retained base), committed by ONE
  * atomic rename. Extracted in round 14 so the crash-safety-critical
  * code — and the fix below — lives once.
  *
  * Read race, fixed here (round-14 review finding): the previous
  * per-module readers fetched the file LENGTH via getFileStatus and
  * then opened the file — a swap landing between the two calls made
  * readFully read the NEW file with the OLD file's length, silently
  * resolving a wrong (possibly vacuumed) generation or throwing EOF.
  * [[read]] opens the file FIRST and reads the opened stream to EOF:
  * the open pins one version of the file (rename replaces the
  * directory entry, not the open handle's data), so a reader always
  * sees one complete pointer value, before or after the swap — never
  * a hybrid.
  *
  * Checksum-sidecar race, fixed in round 16 (surfaced by the
  * streaming corpus source — the first reader that polls CURRENT
  * from its own thread while a writer commits): on Hadoop's LOCAL
  * filesystem the checksum layer (ChecksumFs) renames the data file
  * and its `.crc` sidecar in TWO steps, so a reader opening between
  * them validates the NEW bytes against the OLD checksum and throws
  * "Checksum error: …/CURRENT". The pointer file therefore bypasses
  * the checksum layer entirely — created and opened through the RAW
  * filesystem (no sidecar written, none validated). Atomicity still
  * comes from the single data-file rename; integrity of a
  * tens-of-bytes pointer is the rename's to give, not a CRC's. Non-checksummed filesystems (HDFS, object
  * stores) are unaffected — raw IS the filesystem there.
  */
object GenPointer {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem
      case other => other
    }

  /** Whether `path/CURRENT` exists (a store/index with no committed
    * generation has none).
    */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/CURRENT"))

  /** The committed (gen, base) pair; base defaults to 0 for the
    * bare-int legacy format.
    */
  def read(spark: SparkSession, path: String): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/CURRENT")
    val in = fs(spark, path).open(p)
    val buf = new java.io.ByteArrayOutputStream(32)
    try {
      val chunk = new Array[Byte](256) // a pointer is tens of bytes
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
    } finally in.close()
    val parts = new String(buf.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
    (parts(0).toInt, if (parts.length > 1) parts(1).toInt else 0)
  }

  /** Atomically (re)point CURRENT at (gen, base): write CURRENT.tmp,
    * then one atomic overwrite-rename — rename(2) on local paths,
    * FileContext OVERWRITE on remote filesystems (HDFS rename2); see
    * the inline note for why local must NOT go through FileContext.
    * A crash before the rename leaves the previous pointer (and thus
    * the previous committed state) fully intact. base=0 writes the
    * bare-int legacy format so never-compacted stores stay readable
    * by pre-compaction code.
    */
  def commit(spark: SparkSession, path: String, gen: Int,
             base: Int = 0): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    val dst = new org.apache.hadoop.fs.Path(s"$path/CURRENT")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/CURRENT.tmp")
    val out = f.create(tmp, true)
    val text = if (base == 0) gen.toString else s"$gen $base"
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // second round-16 sidecar-class finding (same concurrent-poll
    // trigger): FileContext's OVERWRITE rename is delete-then-rename
    // on the LOCAL AbstractFileSystem — a window where CURRENT does
    // not exist at all, which a polling reader hits as "no committed
    // snapshot". On local paths use the POSIX rename(2) overwrite
    // (atomic, no gap) via java.nio; FileContext stays the remote
    // path, where HDFS's rename2 IS atomic.
    if ("file" == dst.toUri.getScheme ||
        f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
