package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared parquet staging: a configurable root, a canonical-path-keyed
  * directory per (namespace, corpus), and a single-flight write-once memo.
  * This is the q105 staging discipline (one eager materialization serves
  * every subsequent plan construction; two threads never interleave
  * overwrite-and-read on one dir), and the ONE implementation of it: the
  * dedup shingle stage (Dedup.minhashLshStaged), the ANN and lexical
  * index stages (Similarity q150/q151, TextAnalysis q168/q169), the
  * rollup, compaction and schema-evolution stages (q155/q158/q166), the
  * ORC, JSONL, XML, partitioned and bucketed source stages
  * (q121/q117/q138/q130/q132), the brc sink stage and every streaming
  * stage, q142's state checkpoint included.
  *
  * [[frame]] is the memo of finished frames built on it: a frame is
  * written once per (namespace, corpus) and every consumer scans the
  * parquet leaf instead of re-analyzing the lineage that built it. Its
  * namespaces are the trained ANN models `ann-pq-codebook` (q327),
  * `ann-lloyd` (q129/q143/q150) and `ann-lloyd-inc` (q151), the ranked
  * lists `ki-ranked` (q218/q258) and `bm25-ranked` (q153/q165/q255), the
  * verified dedup pairs `dedup-delta-pairs` (q78/q99/q104) and the CC
  * labels `cc` (q69/q77/q102/q120/q304), plus the q155 `rollup`. Like every
  * stage, memo frames are durable under `-Dgraft.stage.dir` and are
  * dropped with their corpus by [[forgetCorpus]].
  *
  * Durability: by default the root is a temp dir deleted on JVM exit
  * (tests, one-shot jobs). Setting `-Dgraft.stage.dir=<path>` points the
  * root at real storage and the stages become DURABLE: every completed
  * [[once]] drops a `<key>.staged` marker next to the stage, and a fresh
  * JVM seeing the marker serves the existing files instead of rebuilding —
  * the "materialized once" contract survives restarts. [[forget]] and
  * [[forgetCorpus]] remove the markers with the memo, so corpus-rewrite
  * invalidation works the same in both modes. (Markers are written in
  * both modes; under the temp root they die with the JVM, so they add
  * nothing — and cost nothing.) Single-flight is per-JVM; concurrent
  * DRIVERS racing one durable stage need external coordination, as with
  * any shared output path.
  */
object Staging {

  private lazy val root: java.nio.file.Path =
    sys.props.get("graft.stage.dir") match {
      case Some(p) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      case None =>
        val r = java.nio.file.Files.createTempDirectory("graft-stage-")
        sys.addShutdownHook {
          org.apache.commons.io.FileUtils.deleteQuietly(r.toFile); ()
        }
        r
    }

  private val written =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private def marker(key: String) = new java.io.File(key + ".staged")
  private def preManifest(key: String) = new java.io.File(key + ".pre")

  /** Data directory a key describes, by the suite-wide key convention
    * `<dir>` or `<dir>@step` — used to detect a STALE marker (marker
    * present, staged files gone, e.g. a storage wipe that spared the
    * tiny marker): serving such a stage would fail every read, so
    * [[once]] drops the marker and rebuilds instead. */
  private def dataPath(key: String) = new java.io.File(key.split('@').head)

  private def hasData(f: java.io.File): Boolean =
    f.isFile || (f.isDirectory && Option(f.listFiles).exists(_.nonEmpty))

  /** Stage directory for (`ns`, corpus `d`) — keyed by the md5 of the
    * CANONICAL absolute corpus path, so distinct corpora can never share
    * a stage (a lossy character substitution would map '/a/b' and '/a_b'
    * to one key). */
  def dirFor(ns: String, d: String): String =
    root.resolve(s"$ns-${corpusKey(d)}").toString

  private def corpusKey(d: String): String = {
    val canon = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Run `write` the first time `key` is staged — in this JVM (memo) or,
    * under a durable root, EVER (marker file); no-op after (memoized,
    * single-flight per key).
    *
    * KEY CONTRACT: `key` must be `<dir>` or `<dir>@step`, where `<dir>`
    * is the directory (or file) `write` leaves its data at — the
    * stale-marker check (marker present, data gone ⇒ rebuild) derives
    * the data path from the key by this convention. A key whose write
    * lands data elsewhere would look permanently stale and rebuild on
    * every new JVM; [[once]] fails loudly on that instead (post-write
    * assert). A stage whose data genuinely lives elsewhere passes the
    * path explicitly via the two-arg overload. */
  def once(key: String)(write: => Unit): Unit =
    once(key, dataPath(key).getPath)(write)

  /** [[once]] with the staged-data location given explicitly (for keys
    * that don't follow the `<dir>`/`<dir>@step` convention). */
  def once(key: String, dataDir: String)(write: => Unit): Unit =
    locks.getOrElseUpdate(key, new Object).synchronized {
      if (!written.contains(key)) {
        // stale marker (data lost after a completed stage): rebuild
        if (marker(key).isFile && !hasData(new java.io.File(dataDir)))
          forget(key)
        if (!marker(key).isFile) {
          freeingCheckpoints(write)
          if (!hasData(new java.io.File(dataDir)))
            throw new IllegalStateException(
              s"Staging.once('$key'): write left no data at '$dataDir'. " +
                "Keys must be <dir> or <dir>@step pointing at the staged " +
                "data, or pass the data path via once(key, dataDir).")
          val m = marker(key)
          Option(m.getParentFile).foreach(_.mkdirs())
          m.createNewFile()
        }
        written(key) = true
      }
    }

  /** The frame `build` computes, staged once per (`ns`, corpus `d`) as
    * parquet under [[dirFor]] and returned as a scan of that stage:
    * single-flight and durable like any [[once]] stage, and forgotten with
    * the corpus by [[forgetCorpus]]. Consumers compose on a leaf, so the
    * lineage that built the frame is neither re-analyzed nor re-run. */
  def frame(s: SparkSession, ns: String, d: String)
           (build: => DataFrame): DataFrame = {
    val dir = dirFor(ns, d)
    once(dir) { build.write.mode("overwrite").parquet(dir) }
    s.read.parquet(dir)
  }

  /** [[once]] for a step that APPENDS into directories that already hold
    * committed files (delta admission: ANN codes, lexical postings).
    * Plain [[once]] is NOT crash-safe for appends: a writer dying between
    * the append and the marker leaves the dead attempt's part files in
    * place, indistinguishable from base files, and the retry appends a
    * second copy — silent double-admission. Protocol: before the first
    * append, snapshot the names of every pre-existing file under `dirs`
    * into a `<key>.pre` manifest (temp-file + atomic rename); a retry
    * that finds the manifest without the marker deletes every file NOT in
    * the snapshot (the dead attempt's output) before re-running `write`.
    * The manifest is removed only after the marker is durable, so every
    * crash point — before the manifest, mid-append, after the append,
    * after the marker — replays to exactly-once admission. */
  def onceAppend(key: String, dirs: Seq[String])(write: => Unit): Unit =
    locks.getOrElseUpdate(key, new Object).synchronized {
      if (!written.contains(key)) {
        if (marker(key).isFile) {
          preManifest(key).delete() // leftover from a crash post-marker
        } else {
          val pre = preManifest(key)
          Option(pre.getParentFile).foreach(_.mkdirs())
          if (pre.isFile) {
            // dead attempt detected: roll back its files, keep the snapshot
            val keep = java.nio.file.Files.readAllLines(pre.toPath)
              .toArray.map(_.toString).toSet
            listFilesUnder(dirs).filterNot(f => keep(f.getPath))
              .foreach(_.delete())
          } else {
            val tmp = new java.io.File(key + ".pre.tmp")
            java.nio.file.Files.writeString(tmp.toPath,
              listFilesUnder(dirs).map(_.getPath).mkString("\n"))
            java.nio.file.Files.move(tmp.toPath, pre.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          freeingCheckpoints(write)
          val m = marker(key)
          Option(m.getParentFile).foreach(_.mkdirs())
          m.createNewFile()
          pre.delete()
        }
        written(key) = true
      }
    }

  /** RDDs the stage build running on this thread has checkpointed. */
  private val buildCheckpoints =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]]

  /** `df.localCheckpoint()` for a frame a stage build reads more than
    * once. Its blocks are freed (non-blocking) as soon as the enclosing
    * [[once]] or [[onceAppend]] write returns, instead of staying until GC
    * collects the RDD; the stage's parquet is what later readers scan.
    * Outside a build it is a plain local checkpoint. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    Option(buildCheckpoints.get).foreach(_ ++= cp.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    })
    cp
  }

  private def freeingCheckpoints(write: => Unit): Unit = {
    val outer = buildCheckpoints.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    buildCheckpoints.set(mine)
    try write finally {
      buildCheckpoints.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  private def listFilesUnder(dirs: Seq[String]): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    dirs.map(new java.io.File(_)).filter(_.exists).flatMap(walk)
  }

  /** Forget a stage so the next [[once]] re-writes it — the in-session
    * corpus-rewrite hook (Dedup.invalidateClusters routes here). Drops
    * the durable marker too, so invalidation survives into the next JVM. */
  def forget(key: String): Unit = {
    written.remove(key); marker(key).delete(); preManifest(key).delete(); ()
  }

  /** Forget EVERY stage of corpus `d`, whatever its namespace — the
    * corpus-rewrite hook (Dedup.invalidateClusters routes here). Drops
    * each key under `<root>/<ns>-<md5(canon d)>` (`<dir>`, `<dir>@step`
    * and `<dir>/sub@step` alike) with its `.staged` marker and `.pre`
    * manifest, so a new stage can never be left out of invalidation.
    * The data stays; the next [[once]] overwrites it. */
  def forgetCorpus(d: String): Unit = {
    val tag = "-" + corpusKey(d)
    written.keys.filter(_.contains(tag)).foreach(written.remove)
    Option(root.toFile.listFiles).toSeq.flatten
      .filter(_.getName.contains(tag))
      .flatMap(f => listFilesUnder(Seq(f.getPath)))
      .filter(f => f.getName.endsWith(".staged") || f.getName.endsWith(".pre"))
      .foreach(_.delete())
  }

  /** Spec probe: the file list [[onceAppend]] would snapshot for `dirs`. */
  private[graft] def listFilesForTest(dirs: Seq[String]): Seq[String] =
    listFilesUnder(dirs).map(_.getPath)

  /** Spec probe: has `key` been staged in this JVM? */
  def isStaged(key: String): Boolean = written.contains(key)

  /** Spec-only hook simulating a JVM restart for one key: drops the
    * in-memory memo but KEEPS the durable marker, so the next [[once]]
    * must decide from disk state alone. */
  private[graft] def dropMemoForTest(key: String): Unit = {
    written.remove(key); ()
  }
}
