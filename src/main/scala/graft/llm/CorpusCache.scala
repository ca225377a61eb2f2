package graft.llm

import org.apache.spark.sql.SparkSession

/** Corpus-identity cache for derived index artifacts (IVF layouts,
  * PQ code tables + codebooks, LSH band indexes): each artifact is a
  * pure function of (source file identity, geometry tag), so the
  * declared queries build it ONCE and every later run serves from the
  * persisted copy — the bench then measures the steady-state serving
  * path, with the one-time build paid only on a cache miss (fresh
  * corpus, changed geometry, or a wiped tmp dir).
  *
  * The key is an MD5 over the source's (uri, length, mtime) plus the
  * caller's version/geometry tag, so a regenerated corpus or a
  * geometry change mints a FRESH directory instead of silently serving
  * a stale one. Validity = ALL `markers` present (parquet `_SUCCESS`
  * plus any caller sentinels written last): a crash mid-build leaves
  * one missing and the next run rebuilds into the same key.
  *
  * In a deployment the same layout lives on the warehouse store next
  * to its corpus; java.io.tmpdir stands in for it on the single-node
  * harness (the verify recipe wipes `/tmp/graft-*` before cold-path
  * timings for exactly this reason).
  */
object CorpusCache {

  /** Test-only failpoint: crash [[resolve]] after a complete build,
    * before the atomic publish rename (CrashMatrixSpec). */
  @volatile private[graft] var failBeforePublish: Boolean = false

  /** One monitor per cache key: concurrent same-JVM resolves of one
    * key serialize, so exactly ONE build runs and the rest serve it. */
  private val keyMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def isComplete(dir: java.io.File, markers: Seq[String]): Boolean =
    markers.forall(mk => new java.io.File(dir, mk).exists())

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Resolve the cache dir for (`srcPath`, `tag`), invoking `build` on
    * a miss. `prefix` names the artifact family (`graft-ivf`,
    * `graft-pq`, ...); `markers` are file names inside the dir whose
    * joint existence marks a completed build — `build` must write
    * every one of them, sentinels last.
    *
    * Concurrency: a build writes into a UUID-salted TEMP SIBLING and
    * publishes with one atomic directory rename, so two
    * sessions racing the same key can never interleave writes into the
    * served directory — the first complete build wins, the loser
    * discards its own and serves the winner's. Within one JVM a
    * per-key monitor collapses the race entirely: one build runs,
    * every concurrent resolve blocks and serves it. A crash mid-build
    * orphans only its temp sibling (never the served key), rebuilt-over
    * on the next miss. */
  def resolve(spark: SparkSession, srcPath: String, prefix: String,
              tag: String, markers: Seq[String])
             (build: java.io.File => Unit): java.io.File = {
    require(markers.nonEmpty, "need at least one completion marker")
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val st = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(src)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${src.toUri}|${st.getLen}|${st.getModificationTime}|$tag"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"$prefix-$key")
    val monitor = keyMonitors.computeIfAbsent(s"$prefix-$key",
      _ => new AnyRef)
    monitor.synchronized {
      if (!isComplete(dir, markers)) {
        val tmp = new java.io.File(dir.getParentFile,
          s"$prefix-$key.build-" +
            java.util.UUID.randomUUID().toString.take(8))
        build(tmp)
        require(isComplete(tmp, markers),
          s"graft cache: build for $prefix-$key did not write all markers")
        // crash window: build complete in the temp sibling, publish
        // rename not yet executed — the orphaned sibling must never be
        // served and the next resolve must rebuild+publish cleanly
        // (CrashMatrixSpec kills here)
        if (CorpusCache.failBeforePublish)
          throw new RuntimeException(
            s"graft failpoint: $prefix-$key@beforePublish")
        if (!tmp.renameTo(dir)) {
          // the key path is occupied: either another PROCESS published a
          // complete build first (serve it), or a stale partial dir from
          // a crashed marker-era build squats there (replace it)
          if (!isComplete(dir, markers)) {
            deleteTree(dir)
            if (!tmp.renameTo(dir) && !isComplete(dir, markers))
              throw new java.io.IOException(
                s"graft cache: cannot publish $dir")
          }
          deleteTree(tmp)
        }
      }
    }
    dir
  }

  /** Write an empty sentinel file `name` inside `dir` — the completion
    * marker a `build` writes LAST. */
  def touchMarker(dir: java.io.File, name: String): Unit =
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      Array.emptyByteArray)
}
