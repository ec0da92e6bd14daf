package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed registry of every frame the library persists.
  *
  * Spark's CacheManager dedupes persisted entries by plan identity but
  * never drops them, so a long-lived driver would otherwise accumulate one
  * MEMORY_AND_DISK entry per corpus per query family for the life of the
  * session (the round-4 Dedup leak, and round 5's Graph.scala repeat).
  * Every module that persists routes through [[cached]]; [[release]] is
  * the shared cache-lifecycle hook — call it when done with a corpus (or
  * after rewriting one in-session). Over-releasing a sibling corpus's
  * frames in the same session only costs a recompute on next use, never
  * correctness. `graft.Bench` calls [[release]] after each query's timed
  * reps, which bounds a suite-length session's storage to one query's
  * working set (the next query's warmup rebuilds what it needs, so the
  * timed reps see the same cache state as before).
  *
  * A site persists only when one of these holds; a frame two branches
  * of one plan read but that is cheap to recompute is shared by exchange
  * reuse instead (PlanSpec pins q210's), a frame read only inside a
  * `Staging` build is checkpointed by `Staging.checkpoint`, which frees it
  * when the stage commits, and one read only inside an iteration loop is
  * `localCheckpoint()`ed:
  *   - ''shared across queries'' over one corpus, by plan identity: the
  *     Dedup shingle, pair, signature, gram and window frames, Graph's
  *     sampled edges (q203/q257/q292), the basket family, `bpeTrain`
  *     (q152/q160/q208), the known-item frames (q218/q258), the lang-ID
  *     model (q328/q329) and the ANN cell ranking (q143/q150/q151);
  *   - ''shared by the runs of one query'': every later run (Bench's
  *     timed reps after the warmup, a repeated interactive query) reads
  *     the frame from the first run's cache. Where two branches of the
  *     plan read it, exchange reuse would share the first run's work but
  *     not the later runs': dropping such persists made q178, q231, q282,
  *     q296, q297 and q298 1.2–1.4× slower, and q100, q259, q289 and
  *     q327 up to 3.5× slower, in a bench A/B whose controls held. Reuse
  *     also misses outright where a frame is narrow (no exchange), is
  *     topped by a join, or gets a different inferred filter per branch
  *     (q278's revenue view: the supplier join's isnotnull(l_suppkey));
  *   - ''plan pins'': frames whose single computation PlanSpec proves
  *     through `InMemoryTableScan` (q246, q312, q299/q128);
  *   - ''several actions'' (counts, heads) over one frame in the `*Scale`
  *     gates: each action is its own job, and reuse never spans jobs.
  */
object CacheRegistry {

  private val registry =
    scala.collection.concurrent.TrieMap.empty[SparkSession, List[DataFrame]]

  /** persist + record for release. A frame whose storage level is already
    * set is returned as is, so a long session registers each cache entry
    * once, not once per construction; entries pinned to stopped sessions
    * are evicted opportunistically. */
  def cached(df: DataFrame): DataFrame = {
    if (df.storageLevel.isValid) return df
    registry.keys.filter(_.sparkContext.isStopped).foreach(registry.remove)
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registry.synchronized {
      val s = df.sparkSession
      registry(s) = p :: registry.getOrElse(s, Nil)
    }
    p
  }

  /** Unpersist and forget every frame registered for `s`. */
  def release(s: SparkSession): Unit =
    registry.remove(s).foreach(_.foreach(_.unpersist()))

  /** Frames currently registered for `s` (spec probe). */
  def frames(s: SparkSession): List[DataFrame] = registry.getOrElse(s, Nil)

  /** Materialized storage (memory + disk bytes) of every persisted RDD in
    * `s`'s block manager — registered frames, iteration checkpoints and
    * any other persist alike. */
  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
