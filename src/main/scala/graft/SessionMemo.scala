package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed memo of FINISHED, lineage-truncated frames (r14).
  *
  * The suite's expensive intermediates (trained ANN/lang-ID models, the
  * delta-touching verified dedup pairs, the BM25 ranked lists) were
  * already execution-deduped through [[CacheRegistry]], but every
  * consumer query still re-BUILT the full plan: Catalyst re-analyzes the
  * whole lineage (training loops, candidate+verify chains) on each
  * DataFrame construction — measured at 0.3–1.5 s per query at sf0.1,
  * often exceeding execution with caches hot. `once` builds the frame a
  * single time per (session, family, corpus), truncates its lineage with
  * `localCheckpoint` (the q292 iteration idiom), and hands every
  * consumer the same leaf-rooted frame. Values are unchanged: the
  * checkpoint holds exactly the rows the plan computes from the parquet
  * inputs, lives only for the session (never on cross-run storage), and
  * [[forgetDir]] drops a corpus's entries on in-session rewrite
  * (wired into Dedup.invalidateClusters). At cluster scale this is the
  * standard "materialize the model/stage table once per run" discipline
  * (guide §3.3 "materialising an intermediate result truncates the
  * plan"; §5 localCheckpoint).
  *
  * The q69/q77 connected-component labels (Dedup.nearDupClusters) are
  * memoized here too, under family "cc".
  *
  * Mechanics: single-flight per key — the miss path runs multi-second
  * Spark jobs, so concurrent callers for one key must not each compute,
  * while different keys must not serialize behind a global lock — and a
  * cheap head(1) liveness probe on every hit, because localCheckpoint
  * blocks are not fault-tolerant on a cluster (an executor loss takes
  * them; recompute instead of serving a permanently broken frame).
  */
object SessionMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val locks =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Object]

  private def canonDir(d: String): String =
    java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString

  /** The memoized, lineage-truncated `build` result for (session,
    * `family`, corpus `dir`). */
  def once(s: SparkSession, family: String, dir: String)
          (build: => DataFrame): DataFrame = {
    memo.keys.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    locks.keys.filter(_._1.sparkContext.isStopped).foreach(locks.remove)
    val k = (s, family + "@" + canonDir(dir))
    locks.getOrElseUpdate(k, new Object).synchronized {
      memo.get(k)
        .filter(df => scala.util.Try(df.head(1)).isSuccess)
        .getOrElse {
          val fresh = build.localCheckpoint()
          memo(k) = fresh
          fresh
        }
    }
  }

  /** Drop every family's entry for corpus `dir` (all sessions) — the
    * corpus-rewrite hook; recompute-on-next-use, never correctness. */
  def forgetDir(dir: String): Unit = {
    val suffix = "@" + canonDir(dir)
    memo.keys.filter(_._2.endsWith(suffix)).foreach(memo.remove)
  }

  /** Number of live entries for `s` (spec probe). */
  def size(s: SparkSession): Int = memo.keys.count(_._1 eq s)
}
