package graft.queries

/** Per-JVM scratch directories and one-shot builds for graded queries that
  * materialize real tables (bronze layouts, gold aggregates, stream feeds).
  *
  * Paths carry a per-process token so two concurrent gate runs never share
  * a directory, and every path is registered for recursive deletion at JVM
  * exit so repeated gate/bench runs don't accumulate table copies in the
  * tmpdir. Builds latch as done only AFTER completing (inside the lock): a
  * failed or in-flight build must never be served as built.
  */
private[graft] object Scratch {
  import scala.jdk.CollectionConverters._

  private lazy val RunToken: String =
    java.util.UUID.randomUUID().toString.take(8)

  private val dirs =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => rm(new java.io.File(d)))))
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Content fingerprint of an input table path: recursive listing of
    * (relative path, length, mtime), hashed — so a corpus with any file
    * added, removed, resized, or rewritten in place gets a different
    * print. This is what keys every derived artifact (scratch builds,
    * ANN models): a bare directory-path key would serve stale state if
    * the data under the path were regenerated within one JVM lifetime.
    * (mtime granularity is filesystem-dependent — a same-size in-place
    * rewrite inside one clock tick can alias; content hashing would close
    * that at the cost of reading every byte, overkill for table inputs
    * that are rewritten via fresh part files with fresh names.) */
  def fingerprint(path: String): String = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    walk(root).foreach { f =>
      val rel = f.getAbsolutePath.stripPrefix(root.getAbsolutePath)
      md.update(s"$rel|${f.length}|${f.lastModified}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** A per-(kind, input-CONTENT, process) scratch path, registered for
    * cleanup. Keyed on [[fingerprint]] of the input dir, not its path:
    * regenerating the input within one JVM yields a fresh scratch dir,
    * so [[buildOnce]] rebuilds instead of serving the stale artifact. */
  def dir(kind: String, sfDir: String): String = {
    val p = sys.props("java.io.tmpdir") +
      s"/graft_${kind}_${fingerprint(sfDir)}_$RunToken"
    dirs.add(p)
    kinds.put(p, kind)
    p
  }

  private val kinds = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val seconds =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Double]]()

  /** Wall seconds of each completed [[buildOnce]] build, by the kind its
    * key was made with in [[dir]] (else the key itself): one-shot builds
    * run outside any query's timed runs. */
  def buildSeconds: Map[String, Vector[Double]] = seconds.asScala.toMap

  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Strictly increasing mtime source for [[dumpJsonl]]: the file stream
    * source orders discovery by modification time, and several graded
    * feeds DEPEND on stage order (late-data conformance, cross-batch
    * dedup, MERGE version chains). Sequential writes usually produce
    * increasing mtimes anyway, but a fast writer can tie at ms
    * granularity and leave the order to luck — so every moved feed file
    * gets an explicit monotonic stamp instead.
    *
    * Seeded from the REAL clock, not a fixed epoch: a fixed 2023 seed
    * stamped files OLDER than any clock mtime, so a dest dir that ever
    * mixed stamped and unstamped files (partial build, fs rejecting
    * setLastModified) would silently invert discovery order. Starting a
    * minute AHEAD of now keeps every stamp newer than any stray
    * clock-mtimed file while staying monotonic within the JVM. */
  private val feedMtime = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis() + 60000L)

  /** Write `df` as JSONL into a staging dir, then move the part files into
    * `dest` under `prefix` — the feed-builder for every streaming graded
    * query (a file source needs files appearing IN a directory; Spark's
    * JSON writer wants to own the directory it writes, hence the
    * stage-then-move). Call order IS feed order: each moved file gets a
    * strictly increasing mtime, so a later dump always arrives in a
    * later micro-batch under maxFilesPerTrigger. */
  def dumpJsonl(df: org.apache.spark.sql.DataFrame, stage: String,
                dest: String, prefix: String, fmt: String): Unit = {
    df.write.mode("overwrite").option("timestampFormat", fmt).json(stage)
    val destDir = new java.io.File(dest)
    destDir.mkdirs()
    new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
      .foreach { f =>
        val moved = new java.io.File(destDir, prefix + f.getName)
        java.nio.file.Files.move(f.toPath, moved.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // a silently-rejected stamp would leave this file's position in
        // the feed to clock-mtime luck — fail loudly instead
        val stamp = feedMtime.addAndGet(1000L)
        require(moved.setLastModified(stamp),
          s"setLastModified($stamp) rejected for $moved — feed order " +
            "would fall back to tie-prone clock mtimes")
      }
  }

  /** Run `build` once per JVM for `key` (a scratch DIRECTORY path);
    * same-key callers wait on a per-key latch — an in-flight multi-minute
    * stream build must not block unrelated keys. Only a COMPLETED build is
    * latched, and a retry after failure starts from a CLEAN directory: a
    * partial first attempt leaves part files, sink output, and streaming
    * checkpoints that would otherwise double-feed the rebuilt stream. */
  def buildOnce(key: String)(build: => Unit): Unit = {
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!built.contains(key)) {
        rm(new java.io.File(key))
        val t0 = System.nanoTime()
        build
        seconds.merge(kinds.getOrDefault(key, key),
          Vector((System.nanoTime() - t0) / 1e9), _ ++ _)
        built.add(key)
      }
    }
  }
}
