package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q128 PageRank: the distributed iteration must equal an independent
  * in-memory model exactly (integer arithmetic ⇒ bit-equality, not
  * tolerance), and the plan must stay declarative (no eager driver
  * actions inside the loop).
  */
class GraphSpec extends SparkSpec {

  test("q128 pagerank equals an in-memory integer model bit-for-bit") {
    val li = graft.Tables.t(spark, sf0001, "lineitem")
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.length.toLong).toMap
    val n = deg.size.toLong
    var r: Map[Long, Long] = deg.map { case (v, _) => v -> Graph.Base / n }
    for (_ <- 1 to Graph.Iters) {
      val sums = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      r.foreach { case (u, ru) =>
        val c = ru / deg(u)
        nbrs(u).foreach(v => sums(v) += c)
      }
      r = deg.map { case (v, _) =>
        v -> ((15L * Graph.Base) / (100L * n) + (85L * sums(v)) / 100L)
      }
    }
    val expectedTop = r.toSeq.map { case (v, rv) => (rv, v) }
      .sortBy { case (rv, v) => (-rv, v) }.take(Graph.TopK)
      .map { case (rv, v) => (v, rv) }
    val got = Graph.queries("q128_pagerank")(spark, sf0001).collect()
      .map(row => (row.getLong(0), row.getLong(3)))
    assert(got.toSeq == expectedTop,
      s"distributed != in-memory model:\n got=${got.toSeq}\n exp=$expectedTop")
    // sanity on the model itself: floor losses are the only mass leak
    val total = r.values.sum
    assert(total <= Graph.Base && total > (Graph.Base * 9) / 10,
      s"rank mass $total escaped the [0.9·Base, Base] envelope")
  }

  test("q128 persists register with CacheRegistry; release() drains them") {
    graft.CacheRegistry.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Graph.queries("q128_pagerank")(spark, sf0001).collect()
    assert(graft.CacheRegistry.frames(spark).size >= 2,
      "edges + deg must route through the shared registry")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "materialization must actually cache blocks")
    // a second construction finds its frames already cached and registers
    // nothing new: one registry entry per cache entry, not per construction
    val registered = graft.CacheRegistry.frames(spark).size
    Graph.queries("q128_pagerank")(spark, sf0001).collect()
    assert(graft.CacheRegistry.frames(spark).size == registered,
      "re-running q128 must not grow the registry")
    graft.CacheRegistry.release(spark)
    assert(graft.CacheRegistry.frames(spark).size == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before),
      "no MEMORY_AND_DISK entries may survive release()")
  }

  test("q128 plan: ranks/edges meet on equi-joins; top-k is TakeOrdered") {
    val p = Graph.queries("q128_pagerank")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "only the 1-row n frame may broadcast-nest; node joins must be equi")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-k must not global-sort:\n$p")
  }

  private def census(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long)] = {
    import spark.implicits._
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    Graph.bfsCensus(sym.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  test("q257 BFS on a path graph: exactly one node per hop") {
    // 0-1-2-3-4 plus the isolated pair 10-11: seed = 0, hop h must hold
    // exactly node h, and the disconnected pair must land at hop −1
    val c = census(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    (0 to Graph.BfsHops).foreach { h =>
      assert(c(h.toLong) == ((1L, h.toLong, h.toLong, h.toLong)),
        s"hop $h must hold exactly node $h, got ${c(h.toLong)}")
    }
    assert(c(-1L) == ((2L, 10L, 11L, 21L)),
      "the disconnected pair must be the whole unreached census")
  }

  test("q257 BFS on a star: everything at hop 1, no deeper frontier") {
    // hub 0 with leaves 1..6 — hop 1 is all six leaves, hops 2..4 are
    // EMPTY (no rows — the frontier must die, not re-emit visited nodes)
    val c = census((1L to 6L).map(i => (0L, i)))
    assert(c(0L) == ((1L, 0L, 0L, 0L)))
    assert(c(1L) == ((6L, 1L, 6L, 21L)))
    (2 to Graph.BfsHops).foreach(h =>
      assert(!c.contains(h.toLong), s"hop $h must be empty on a star"))
    assert(!c.contains(-1L), "a star has no unreached remainder")
  }

  test("q292 LPA: disjoint cliques collapse to min-node labels") {
    import spark.implicits._
    // two K4s (10..13, 20..23) + an isolated edge pair (30, 31): after
    // ONE iteration every clique neighborhood has all-distinct labels,
    // so the min-label tie-break assigns the clique min to everyone —
    // iterations 2..LpaIters must keep it stable (the convergence
    // identity the min-tie-break guarantees on symmetric cliques)
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b)
    val und = (clique(Seq(10L, 11L, 12L, 13L)) ++
      clique(Seq(20L, 21L, 22L, 23L)) :+ ((30L, 31L)))
    val edges = und.toDF("src", "dst")
      .union(und.map(_.swap).toDF("src", "dst"))
    val got = Graph.lpaCommunities(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set(
      (10L, 4L, 10L, 46L), (20L, 4L, 20L, 86L), (30L, 2L, 30L, 61L)),
      s"got ${got.toSeq}")
    // and the ordering contract: size desc then label
    assert(got.map(_._1).toSeq == Seq(10L, 20L, 30L))
  }
}
