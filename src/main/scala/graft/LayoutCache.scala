package graft

/** Content-keyed per-JVM cache for the layout executors' physical temp
  * writes (SURVEY.md §2 #320/#324/#331/#332/#337/#340/#343/#347/#350).
  *
  * Every layout operator writes a DETERMINISTIC parquet tree — a pure
  * function of (recipe, sf dir) — so a sweep that runs seven layout
  * queries twice (warmup + two timed passes) was paying the identical
  * multi-second write I/O up to 26 times per bench run (~92 s, 18% of
  * the r9 sweep; the root cause of the `layout_overlap_depth` 9.9→22 s
  * in-sweep drift — see PLANS.md). Here each recipe is written ONCE per
  * JVM and reused; results are unchanged because every consumer reads
  * only the (deterministic) file bytes/footers back.
  *
  * Leak discipline (the r8 vacuum rule: sweeps must not accumulate
  * full-table parquet under java.io.tmpdir): cached trees are owned by
  * this object alone — consumers and specs must NOT delete them — and a
  * JVM shutdown hook removes everything. A write that fails mid-flight
  * is deleted immediately and NOT cached, so a retry re-runs the write
  * (the try/finally the per-op delete paths used to need).
  */
object LayoutCache {

  Runtime.getRuntime.addShutdownHook(new Thread(() => deleteAll()))

  /** Return the cached root for `recipe` over `dir`, running `write`
    * into a fresh temp directory on first use. `recipe` must uniquely
    * identify the written CONTENT (frame, partitioning, sort, file
    * caps, writer options) — two call sites may share a recipe id only
    * if their writes are byte-identical in layout-relevant structure.
    * A failed write is deleted, uncached (a retry re-runs it), and
    * rethrown to the caller AND any concurrent waiters. The memo is
    * DerivedCache's (one writer per key, the write outside any map
    * lock, same-key re-entrancy fails fast); the `graft_lc_` recipe
    * prefix keeps layout keys apart from the derived recipes.
    */
  def getOrWrite(recipe: String, dir: String)(
      write: String => Unit): String =
    DerivedCache.getOrCompute(s"graft_lc_$recipe", dir) {
      val tmp = allocDir(recipe)
      try { write(tmp); tmp }
      catch { case e: Throwable => removeTree(tmp); throw e }
    }

  // path → how to delete it. Populated by allocDir, drained by
  // removeTree (failed writes) and deleteAll (shutdown hook).
  private val deleters =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()

  /** Allocate a fresh cache directory. Default: a local
    * `java.io.tmpdir` temp tree — correct on `local[*]`, where driver
    * and executors share one filesystem. On a real cluster a
    * driver-local path is wrong for distributed writes/reads (the r12
    * verdict's item 3), so `spark.graft.cacheRoot` points the cache at
    * a scratch directory on the session's shared Hadoop filesystem
    * (e.g. an HDFS/object-store scratch prefix); trees are allocated
    * and deleted through that FS, same keying, same shutdown cleanup.
    * Deletion captures the FS handle at allocation so the shutdown
    * hook never needs a live SparkSession.
    */
  private def allocDir(recipe: String): String = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val root = session.map(_.conf.get("spark.graft.cacheRoot", ""))
      .getOrElse("")
    if (root.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(root,
        s"graft_lc_${recipe}_${java.util.UUID.randomUUID().toString.take(8)}")
      val fs = p.getFileSystem(session.get.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      fs.mkdirs(q)
      deleters.put(q.toString, () => { fs.delete(q, true); () })
      q.toString
    } else {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_lc_$recipe").toString
      deleters.put(tmp, () => deleteDir(tmp))
      tmp
    }
  }

  private def removeTree(path: String): Unit = {
    val d = deleters.remove(path)
    if (d != null) d.run()
  }

  /** Local recursive delete (children before parents). Plain NIO, not
    * Hadoop FS: shutdown-hook time must not depend on a live
    * SparkSession. Used for the default java.io.tmpdir trees;
    * `spark.graft.cacheRoot` trees delete through the FS handle
    * captured at allocation instead.
    */
  private def deleteDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try {
        val it = walk
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
      } finally walk.close()
    }
  }

  private def deleteAll(): Unit = {
    // every allocated tree has a deleter; failed writes already ran
    // and removed theirs, so draining the map removes exactly the
    // cached (and any shutdown-interrupted in-flight) trees — local
    // NIO or captured-FS deletes alike, no live SparkSession needed
    deleters.forEach((_, d) => d.run())
    deleters.clear()
  }
}
