package graft

import org.apache.spark.sql.functions._
import graft.algo.Scc

/** Strongly connected components (algo/Scc.scala) — hand graphs with
  * known condensations plus a driver-side Tarjan reference replay on
  * random digraphs (the SpCount/KTruss random-trial discipline).
  */
class SccSpec extends SparkSpec {

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Scc.scc(edges.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** driver-side iterative Tarjan (explicit stack — no recursion
    * limits), labels = min vertex id per SCC */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var counter = 0
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.ArrayBuffer[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    for (root <- nodes if !index.contains(root)) {
      // work stack of (vertex, next-child offset)
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.remove(work.size - 1)
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val children = adj.getOrElse(v, Seq.empty)
        var i = ci
        var descended = false
        while (i < children.size && !descended) {
          val w = children(i)
          if (!index.contains(w)) {
            work += ((v, i + 1)); work += ((w, 0)); descended = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!descended) {
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer[Long]()
            var w = -1L
            while ({ w = stack.remove(stack.size - 1); onStack -= w; members += w; w != v }) ()
            val label = members.min
            members.foreach(comp(_) = label)
          }
          // propagate lowlink to the parent frame on top of the work stack
          if (work.nonEmpty) {
            val p = work(work.size - 1)._1
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    comp.toMap
  }

  test("two 3-cycles joined by a one-way bridge stay separate SCCs") {
    // 0→1→2→0 (SCC {0,1,2}), 3→4→5→3 (SCC {3,4,5}), bridge 2→3
    val got = sccOf(Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("a directed chain is all singletons; a back-edge fuses its span") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(sccOf(chain) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // back-edge 3→1 makes {1,2,3} a cycle; 0 and 4 stay singletons
    val got = sccOf(chain :+ (3L -> 1L))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("SCC sharded mode (the above-guard 100TB path) matches broadcast mode") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L))
    val want = sccOf(edges)
    assert(sharded(sccOf(edges)) == want)
  }

  test("SCC matches a driver-side Tarjan replay on random digraphs") {
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 4
      val edges = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }.distinct
      val got = sccOf(edges)
      val want = tarjan(edges)
      assert(got === want, s"trial $trial edges=$edges")
    }
  }
}
