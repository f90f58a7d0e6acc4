package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.algo.FastSV
import graft.io.MatrixMarket

/** FastSV connected components — the acceptance demo (SURVEY §3.4,
  * reference notebooks/Connected Components -- FastSV.ipynb).
  */
class FastSVSpec extends SparkSpec {

  private def matFromEdges(undirected: Seq[(Long, Long)], n: Long): GrbMatrix = {
    val triples: Seq[(Long, Long, Any)] =
      undirected.flatMap { case (a, b) => Seq((a, b, 1L: Any), (b, a, 1L: Any)) }
    GrbMatrix.fromValues(spark, triples, GrbType.INT64, n, n)
  }

  private def labelsOf(v: GrbVector): Map[Long, Long] =
    v.toValues.map { case (i, x) => i -> x.asInstanceOf[Long] }.toMap

  test("two triangles + isolated vertex") {
    val a = matFromEdges(Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L)), 7L)
    val l = labelsOf(FastSV.connectedComponents(a))
    assert(Seq(0L, 1L, 2L).forall(l(_) == 0L))
    assert(Seq(3L, 4L, 5L).forall(l(_) == 3L))
    assert(l(6L) == 6L)
  }

  /** the notebook's 12×12 fixture (FIXTURES.md; notebooks/Connected
    * Components -- FastSV.ipynb): components {0..5} {6,7,8} {9,10,11}
    */
  private val notebookEdges = Seq(
    (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 4L), (2L, 5L),
    (3L, 4L), (6L, 7L), (6L, 8L), (9L, 10L), (9L, 11L))

  test("notebook 12x12 graph (reference flagship demo)") {
    val a = matFromEdges(notebookEdges, 12L)
    val l = labelsOf(FastSV.connectedComponents(a))
    assert((0L to 5L).forall(l(_) == 0L))
    assert((6L to 8L).forall(l(_) == 6L))
    assert((9L to 11L).forall(l(_) == 9L))
  }

  test("BFS levels on the notebook graph: distances from 0, unreachable absent") {
    val a = matFromEdges(notebookEdges, 12L)
    val l = labelsOf(graft.algo.Bfs.levels(a, 0L))
    assert(l == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
    // vertices 6..11 are in other components — no level, not level-∞
  }

  test("shortest-path counts: diamond doubles sigma, pendant inherits it, other components absent") {
    // 0—1, 0—2, 1—3, 2—3 (diamond), 3—4 (pendant), 5—6 (other comp):
    // from 0: σ(1)=σ(2)=1; vertex 3 is reached at depth 2 along BOTH
    // arms (σ=2); the pendant 4 inherits σ=2 at depth 3; 5,6 absent
    val a = matFromEdges(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (5L, 6L)), 7L)
    val got = graft.algo.SpCount.counts(a, 0L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(
      0L -> (0L, 1L), 1L -> (1L, 1L), 2L -> (1L, 1L),
      3L -> (2L, 2L), 4L -> (3L, 2L)))
  }

  test("shortest-path counts match a driver-side BFS replay on random graphs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 14 + trial * 3
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.14
      } yield (i.toLong, j.toLong)).toSeq
      val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // driver BFS with path counting from vertex 0
      var dist = Map(0L -> 0L); var sigma = Map(0L -> 1L)
      var frontier = Set(0L); var k = 0L
      while (frontier.nonEmpty) {
        k += 1
        val cand = frontier.toSeq.flatMap(u =>
          adj.getOrElse(u, Set.empty).map(v => v -> sigma(u)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          .filter { case (v, _) => !dist.contains(v) }
        cand.foreach { case (v, s) => dist += v -> k; sigma += v -> s }
        frontier = cand.keySet
      }
      val a = matFromEdges(edges, n.toLong)
      val got = graft.algo.SpCount.counts(a, 0L).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = dist.map { case (v, d) => v -> (d, sigma(v)) }
      assert(got === want, s"trial $trial")
    }
  }

  test("k-truss: weak triangle pruned, surviving supports recomputed on the fixpoint set") {
    // K4 {0,1,2,3} + triangle {2,3,4}: at k=4, edges (2,4),(3,4) have
    // support 1 and drop in round 1; edge (2,3) starts at support 3
    // (the extra triangle through 4) but its FINAL support — computed
    // on survivors — must be 2, like every other K4 edge
    val a = matFromEdges(Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L),
      (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)), 6L)
    val got = graft.algo.KTruss.ktruss(a, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 1L) -> 2L, (0L, 2L) -> 2L, (0L, 3L) -> 2L,
      (1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 2L))
    // k=3 keeps the pendant triangle too, with its support of 1
    val got3 = graft.algo.KTruss.ktruss(a, 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got3((2L, 4L)) === 1L && got3((3L, 4L)) === 1L && got3((2L, 3L)) === 3L)
    assert(got3.size === 8)
  }

  test("incremental CC: new edges merge components through label contraction; fresh vertices enter") {
    val spark2 = spark
    import spark2.implicits._
    // base: {0,1,2} and {3,4}; batch: (2,3) merges them, (6,7) is a
    // brand-new component never seen by the base labeling
    val base = matFromEdges(Seq((0L, 1L), (1L, 2L), (3L, 4L)), 8L)
    val labels = graft.algo.PregelCC.connectedComponents(base)
    val newEdges = Seq((2L, 3L), (6L, 7L)).toDF("i", "j")
    val got = labelsOf(graft.algo.PregelCC.incremental(labels, newEdges))
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      6L -> 6L, 7L -> 6L))
    // and with an empty batch the labeling passes through unchanged
    val got2 = labelsOf(graft.algo.PregelCC.incremental(labels,
      Seq.empty[(Long, Long)].toDF("i", "j")))
    assert(got2 === labelsOf(labels))
  }

  test("k-truss matches a driver-side support peel on random graphs") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 3
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.3
      } yield (i.toLong, j.toLong)).toSet
      // driver peel at k=4: recompute support on survivors, drop < 2
      var cur = edges
      var stable = false
      var sup = Map.empty[(Long, Long), Int]
      while (!stable) {
        val adj = cur.flatMap { case (u, v) => Seq(u -> v, v -> u) }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        sup = cur.map { case (u, v) =>
          (u, v) -> (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size
        }.toMap
        val kept = cur.filter(e => sup(e) >= 2)
        stable = kept == cur
        cur = kept
      }
      val want = cur.map(e => e -> sup(e).toLong).toMap
      val a = matFromEdges(edges.toSeq, n.toLong)
      val got = graft.algo.KTruss.ktruss(a, 4L).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("multi-source BFS equals per-source driver BFS on random graphs") {
    val rnd = new scala.util.Random(53)
    val n = 18
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.12
    } yield (i.toLong, j.toLong)).toSeq
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def bfs(src: Long): Map[Long, Long] = {
      var dist = Map(src -> 0L); var frontier = Set(src); var k = 0L
      while (frontier.nonEmpty) {
        k += 1
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        next.foreach(v => dist += v -> k)
        frontier = next
      }
      dist
    }
    val sources = Seq(0L, 3L, 7L)
    val want = sources.flatMap(s => bfs(s).map { case (v, d) => (s, v) -> d }).toMap
    val a = matFromEdges(edges, n.toLong)
    val got = graft.algo.Bfs.multiSourceLevels(a, sources).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("multi-source BFS: each notebook-graph source gets its own level map, cross-component absent") {
    val a = matFromEdges(notebookEdges, 12L)
    val got = graft.algo.Bfs.multiSourceLevels(a, Seq(0L, 6L, 9L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // source 0's map == the single-source test; 6 and 9 stay inside
    // their own components — no (s, i) pair crosses components
    assert(got.filter(_._1._1 == 0L).map { case ((_, i), d) => i -> d } ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
    assert(got.filter(_._1._1 == 6L).map { case ((_, i), d) => i -> d } ==
      Map(6L -> 0L, 7L -> 1L, 8L -> 1L))
    assert(got.filter(_._1._1 == 9L).map { case ((_, i), d) => i -> d } ==
      Map(9L -> 0L, 10L -> 1L, 11L -> 1L))
  }

  test("stress centrality: diamond hand-computed, pendant tail carries flow") {
    // same diamond+pendant as the σ test. Continuation counts D:
    // D(4)=0, D(3)=1, D(1)=D(2)=1+D(3)=2, D(0)=2·(1+2)=6.
    // stress = σ·D: the source carries all 6 shortest paths; vertex 3
    // sits inside both length-3 paths to 4 (σ=2 · D=1); 5,6 absent
    val a = matFromEdges(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (5L, 6L)), 7L)
    val got = graft.algo.SpCount.stress(a, 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      0L -> ((0L, 1L, 6L)), 1L -> ((1L, 1L, 2L)), 2L -> ((1L, 1L, 2L)),
      3L -> ((2L, 2L, 2L)), 4L -> ((3L, 2L, 0L))))
  }

  test("stress centrality matches a driver-side dag replay on random graphs") {
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 2) {
      val n = 15 + trial * 4
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.13
      } yield (i.toLong, j.toLong)).toSeq
      val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // driver BFS + sigma
      var dist = Map(0L -> 0L); var sigma = Map(0L -> 1L)
      var frontier = Set(0L); var k = 0L
      while (frontier.nonEmpty) {
        k += 1
        val cand = frontier.toSeq.flatMap(u =>
          adj.getOrElse(u, Set.empty).map(v => v -> sigma(u)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          .filter { case (v, _) => !dist.contains(v) }
        cand.foreach { case (v, s) => dist += v -> k; sigma += v -> s }
        frontier = cand.keySet
      }
      // driver D by descending depth: D(u) = sum over succ of (1 + D(v))
      val succ = dist.keys.map(u => u ->
        adj.getOrElse(u, Set.empty).filter(v =>
          dist.get(v).contains(dist(u) + 1))).toMap
      var dd = Map.empty[Long, Long]
      dist.toSeq.sortBy(-_._2).foreach { case (u, _) =>
        dd += u -> succ(u).toSeq.map(v => 1L + dd(v)).sum
      }
      val want = dist.map { case (v, d) => v -> ((d, sigma(v), sigma(v) * dd(v))) }
      val a = matFromEdges(edges, n.toLong)
      val got = graft.algo.SpCount.stress(a, 0L).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("SSSP takes the longer-but-lighter path (value improves after first assignment)") {
    // 0—1 (10), 1—2 (10), 0—2 (25): round 1 assigns dist(2)=25 via the
    // direct edge; round 2 improves it to 20 through vertex 1 — the
    // case BFS-style nvals convergence would get wrong
    val triples: Seq[(Long, Long, Any)] = Seq(
      (0L, 1L, 10L), (1L, 0L, 10L), (1L, 2L, 10L),
      (2L, 1L, 10L), (0L, 2L, 25L), (2L, 0L, 25L))
    val a = GrbMatrix.fromValues(spark, triples, GrbType.INT64, 3L, 3L)
    val d = labelsOf(graft.algo.Bfs.sssp(a, 0L))
    assert(d == Map(0L -> 0L, 1L -> 10L, 2L -> 20L))
  }

  test("integer PageRank matches a driver-side replay of the exact recurrence") {
    // path graph 0—1—2: the endpoint/center asymmetry exercises both
    // the degree normalization and the damping floor arithmetic
    val a = matFromEdges(Seq((0L, 1L), (1L, 2L)), 3L)
    val got = labelsOf(graft.algo.PageRank.ranks(a, rounds = 10))
    // replay the recurrence on plain Maps with identical integer ops
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val scale = graft.algo.PageRank.Scale
    val base = (scale - scale * 85L / 100L) / deg.size
    var r = deg.map { case (n, _) => n -> scale / deg.size }
    for (_ <- 1 to 10) {
      val contrib = r.map { case (n, v) => n -> v / deg(n) }
      r = edges.groupBy(_._2).map { case (n, es) =>
        n -> (base + es.map(e => contrib(e._1)).sum * 85L / 100L)
      }
    }
    assert(got == r)
    assert(got(1L) > got(0L) && got(0L) == got(2L)) // center outranks endpoints
  }

  test("golden path: MatrixMarket symmetric read -> FastSV (notebook coo_matrix_A.mtx shape)") {
    // recreate the notebook's MM file per FIXTURES.md: coordinate
    // integer symmetric, 12x12, 11 entries, 1-based, lower-triangle
    val body = notebookEdges
      .map { case (a, b) => (math.max(a, b) + 1, math.min(a, b) + 1) }
      .map { case (r, c) => s"$r $c 1" }.mkString("\n")
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-notebook-A.mtx")
    java.nio.file.Files.writeString(p,
      s"%%MatrixMarket matrix coordinate integer symmetric\n12 12 11\n$body\n")
    val a = MatrixMarket.read(spark, p.toString, GrbType.INT64)
    assert(a.nvals == 22L) // 11 entries symmetrized (no diagonal)
    val l = labelsOf(FastSV.connectedComponents(a))
    assert((0L to 5L).forall(l(_) == 0L))
    assert((6L to 8L).forall(l(_) == 6L))
    assert((9L to 11L).forall(l(_) == 9L))
  }

  test("GraphX Pregel bridge agrees with FastSV") {
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L))
    val a = matFromEdges(edges, 6L)
    val pregel = labelsOf(graft.algo.PregelCC.connectedComponents(a))
    val fastsv = labelsOf(FastSV.connectedComponents(a))
    // Pregel labels only vertices that appear in edges
    assert(pregel == fastsv.view.filterKeys(k => k != 5L).toMap)
  }

  test("Pregel bridge labels one-direction edges by component minimum") {
    // ONE-direction edge list (no symmetrization at the call site):
    // the bridge's contract accepts either direction (Pregel's sendMsg
    // looks both ways). The shared test session pins localNnz=0, so
    // this exercises the distributed Pregel rounds, not the
    // driver-local path.
    val oneWay = Seq((1L, 0L), (2L, 1L), (4L, 3L))
    val triples: Seq[(Long, Long, Any)] = oneWay.map { case (a, b) => (a, b, 1L: Any) }
    val a = GrbMatrix.fromValues(spark, triples, GrbType.INT64, 6L, 6L)
    assert(labelsOf(graft.algo.PregelCC.connectedComponents(a)) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L))
  }

  test("driver-local CC fast path matches the distributed loops on random graphs") {
    // the shared test session pins spark.graft.cc.localNnz=0 so every
    // other spec exercises the distributed machinery; here the local
    // path is enabled per-run and cross-checked against the loop's
    // labeling on the same graph — both engines, both contracts
    val key = graft.algo.LocalCC.ConfKey
    val rnd = new scala.util.Random(71)
    try {
      for (trial <- 1 to 3) {
        val n = 20 + trial * 7
        val edges = (for {
          i <- 0 until n; j <- (i + 1) until n
          if rnd.nextDouble() < 0.08
        } yield (i.toLong, j.toLong)).toSeq
        val a = matFromEdges(edges, n.toLong)
        spark.conf.set(key, "0")
        val dist = labelsOf(FastSV.connectedComponents(a))
        spark.conf.set(key, graft.algo.LocalCC.DefaultNnz.toString)
        val localF = labelsOf(FastSV.connectedComponents(a))
        val localP = labelsOf(graft.algo.PregelCC.connectedComponents(a))
        assert(localF == dist, s"trial $trial: FastSV local vs distributed")
        val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
        assert(localP == dist.view.filterKeys(inEdges).toMap,
          s"trial $trial: Pregel local path labels edge vertices only")
      }
    } finally spark.conf.set(key, "0")
  }

  test("driver-local CC respects the sparse nodes init and isolated vertices") {
    val key = graft.algo.LocalCC.ConfKey
    try {
      spark.conf.set(key, graft.algo.LocalCC.DefaultNnz.toString)
      // sparse id space: vertices {2, 9, 40, 77}, edge 9-40 only
      val a = matFromEdges(Seq((9L, 40L)), 100L)
      import spark.implicits._
      val nodes = Seq(2L, 9L, 40L, 77L).toDF("i")
      val l = labelsOf(FastSV.connectedComponents(a, nodes = Some(nodes)))
      assert(l == Map(2L -> 2L, 9L -> 9L, 40L -> 9L, 77L -> 77L))
    } finally spark.conf.set(key, "0")
  }

  test("LocalCC union-find: min labels, self-loops, chains built worst-first") {
    // chain unions arriving largest-root-first exercise path
    // compression; a self-loop must still register its endpoint
    val pairs = Array((8L, 9L), (6L, 7L), (7L, 8L), (5L, 6L), (3L, 3L))
    val l = graft.algo.LocalCC.labels(pairs)
    assert((5L to 9L).forall(l(_) == 5L))
    assert(l(3L) == 3L)
    assert(l.size == 6)
  }

  test("k-core peel cascades: pendant chain unravels, triangle survives") {
    // triangle {0,1,2} + chain 2-3-4: the 2-core is exactly the
    // triangle, and reaching it needs TWO peel rounds (4 falls first,
    // exposing 3) — exercises the iteration, not just one filter
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 5L, 5L)
    val core2 = graft.algo.KCore.kcore(a, 2L)
    assert(core2.toValues.toMap == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // no 3-core exists: empty result, loop terminates on n=0
    assert(graft.algo.KCore.kcore(a, 3L).toValues.isEmpty)
  }

  test("k-core agrees with a driver-side reference peel on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 12) {
      val n = 6 + rnd.nextInt(5)
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextInt(100) < 35
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val k = 2 + rnd.nextInt(2)
        // reference: peel until stable over an adjacency-set model
        var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        var changed = true
        while (changed) {
          val drop = adj.collect { case (v, ns) if ns.size < k => v }.toSet
          changed = drop.nonEmpty
          adj = (adj -- drop).view.mapValues(_ -- drop).toMap.filter(_._2.nonEmpty)
        }
        val expect = adj.map { case (v, ns) => v -> ns.size.toLong }
        val sym = edges ++ edges.map { case (a, b) => (b, a) }
        val a = GrbMatrix.fromValues(spark,
          sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, n, n)
        // rotate all three shrink modes: 0 forces the adjacency
        // re-materialization on every 30%-dead event, -1 is the
        // measured-rule default (never fires on toy graphs — rounds
        // are pure overhead), positive is the legacy count rule
        val thresh = (trial % 3) match {
          case 0 => 0L
          case 1 => -1L
          case _ => 10000000L
        }
        val got = graft.algo.KCore.kcore(a, k, shrinkThreshold = thresh)
          .toValues.toMap
        assert(got == expect, s"trial $trial n=$n k=$k edges=$edges")
      }
    }
  }

  test("MIS is independent, maximal, and matches a driver-side priority replay on random graphs") {
    def pkey(n: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(n.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString + "-" + n
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val n = 5 + rnd.nextInt(6)
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextInt(100) < 30
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // driver replay of the fixed-priority Luby rounds
        var active = nbrs.keySet
        var inMis = Set.empty[Long]
        while (active.nonEmpty) {
          val sel = active.filter(v =>
            nbrs(v).filter(active).forall(u => pkey(v) < pkey(u)))
          inMis ++= sel
          active = active -- sel -- sel.flatMap(nbrs)
        }
        val a = matFromEdges(edges, n)
        val got = labelsOf(graft.algo.Mis.mis(a)).keySet
        assert(got == inMis, s"trial $trial edges=$edges")
        // independence: no edge inside the set
        edges.foreach { case (x, y) =>
          assert(!(got(x) && got(y)), s"adjacent pair ($x,$y) both selected") }
        // maximality: every touched non-member has a member neighbour
        nbrs.keys.foreach { v =>
          if (!got(v)) assert(nbrs(v).exists(got), s"vertex $v could join") }
      }
    }
  }

  test("coloring is proper and matches a driver-side Jones-Plassmann replay on random graphs") {
    def pkeyR(r: Int, n: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"$r-$n".getBytes("UTF-8")).map(b => f"$b%02x").mkString + "-" + n
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(6)
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextInt(100) < 35
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // driver replay of the per-round-rehash JP recurrence
        var active = nbrs.keySet
        var colors = Map.empty[Long, Long]
        var r = 0
        while (active.nonEmpty) {
          r += 1
          val sel = active.filter(v =>
            nbrs(v).filter(active).forall(u => pkeyR(r, v) < pkeyR(r, u)))
          sel.foreach { v =>
            val used = nbrs(v).flatMap(colors.get)
            val mex = Iterator.from(0).map(_.toLong).find(!used.contains(_)).get
            colors += v -> mex
          }
          active = active -- sel
        }
        val a = matFromEdges(edges, n)
        val got = labelsOf(graft.algo.Coloring.greedyColor(a))
        assert(got == colors, s"trial $trial edges=$edges")
        edges.foreach { case (x, y) =>
          assert(got(x) != got(y), s"edge ($x,$y) monochrome") }
      }
    }
  }

  test("coloring a star uses exactly two colors (mex never over-spends)") {
    // star: center 0 adjacent to 1..4. Whatever order the rounds pick,
    // the mex forces {center} and {leaves} onto two colors total —
    // a greedy that over-spent colors would betray a broken mex.
    val edges = (1L to 4L).map(l => (0L, l))
    val a = matFromEdges(edges, 5)
    val got = labelsOf(graft.algo.Coloring.greedyColor(a))
    val leafColors = (1L to 4L).map(got).toSet
    assert(leafColors.size == 1, s"leaves must share a color: $got")
    assert(!leafColors.contains(got(0L)))
    assert((leafColors + got(0L)) == Set(0L, 1L))
  }

  test("MIS drops self-loops and picks isolated-in-adjacency vertices") {
    // triangle 0-1-2 with a self-loop on 0, plus the pendant edge 3-4
    val triples: Seq[(Long, Long, Any)] = Seq(
      (0L, 0L, 1L: Any), (0L, 1L, 1L: Any), (1L, 0L, 1L: Any),
      (1L, 2L, 1L: Any), (2L, 1L, 1L: Any), (0L, 2L, 1L: Any), (2L, 0L, 1L: Any),
      (3L, 4L, 1L: Any), (4L, 3L, 1L: Any))
    val a = GrbMatrix.fromValues(spark, triples, GrbType.INT64, 5, 5)
    val got = labelsOf(graft.algo.Mis.mis(a)).keySet
    // exactly one of the triangle, exactly one of the pendant pair
    assert(Seq(0L, 1L, 2L).count(got) == 1)
    assert(Seq(3L, 4L).count(got) == 1)
  }

  test("label propagation: two cliques joined by a bridge split into two communities") {
    // cliques {0,1,2,3} and {4,5,6,7} with one bridge edge 3-4: after
    // a few sync rounds with min-label ties, each clique agrees on its
    // min member's label; the bridge doesn't out-vote clique-internal
    // degree
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 4L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val a = matFromEdges(k4a ++ k4b ++ Seq((3L, 4L)), 8L)
    val l = labelsOf(graft.algo.LabelProp.communities(a, 7))
    assert((0L to 3L).map(l).toSet.size == 1, s"clique A split: $l")
    assert((4L to 7L).map(l).toSet.size == 1, s"clique B split: $l")
    assert(l(0L) != l(7L), s"cliques merged: $l")
  }

  test("LPA fixpoint early-exit: stable graphs stop before the horizon, labels unchanged") {
    // two cliques + bridge stabilize in a handful of rounds; under a
    // 50-round horizon the counted loop must exit well short of it,
    // and the early-exit labelling must equal the long-horizon result
    // (a stable round is idempotent — the exit is oracle-invisible)
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 4L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val a = matFromEdges(k4a ++ k4b ++ Seq((3L, 4L)), 8L)
    val adj = a.df.select(col("i"), col("j"))
    val init = new GrbVector(
      adj.select(col("i")).distinct()
        .select(col("i"), col("i").cast("long").as("v")), 8L)
    val (out, used) = graft.algo.Iterate.scope(spark, "LabelProp")(_.stable(init, 50) {
      l => new GrbVector(graft.algo.LabelProp.round(adj, l.df), 8L)
    })
    assert(used < 10, s"no early exit: ran $used/50 rounds")
    assert(labelsOf(out) == labelsOf(graft.algo.LabelProp.communities(a, 50)))
  }

  test("LPA 2-cycle (single edge) never stabilizes: runs to the horizon, still correct") {
    // K2: each vertex's only neighbour holds the other label, so the
    // labelling swaps every round — the classic sync-LPA oscillation.
    // The horizon must bound it, and parity must match the replay.
    val a = matFromEdges(Seq((0L, 1L)), 2L)
    val adj = a.df.select(col("i"), col("j"))
    val init = new GrbVector(
      adj.select(col("i")).distinct()
        .select(col("i"), col("i").cast("long").as("v")), 2L)
    val (_, used) = graft.algo.Iterate.scope(spark, "LabelProp")(_.stable(init, 6) {
      l => new GrbVector(graft.algo.LabelProp.round(adj, l.df), 2L)
    })
    assert(used == 6, s"oscillating graph exited early at $used")
    // odd horizon = swapped labels, even horizon = identity labels
    assert(labelsOf(graft.algo.LabelProp.communities(a, 7)) ==
      Map(0L -> 1L, 1L -> 0L))
    assert(labelsOf(graft.algo.LabelProp.communities(a, 6)) ==
      Map(0L -> 0L, 1L -> 1L))
  }

  test("label propagation matches a driver-side sync replay on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val n = 5 + rnd.nextInt(6)
      val edges = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextInt(100) < 40
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val rounds = 1 + rnd.nextInt(5)
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        // reference: synchronous most-frequent-neighbour-label,
        // ties to the smallest label, exactly `rounds` steps
        var lab = adj.keys.map(v => v -> v).toMap
        for (_ <- 1 to rounds) {
          lab = adj.map { case (v, ns) =>
            val votes = ns.groupBy(lab).view.mapValues(_.size)
            val mx = votes.values.max
            v -> votes.collect { case (l2, c) if c == mx => l2 }.min
          }
        }
        val sym = edges ++ edges.map { case (a, b) => (b, a) }
        val a = GrbMatrix.fromValues(spark,
          sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, n, n)
        val got = labelsOf(graft.algo.LabelProp.communities(a, rounds))
        assert(got == lab, s"trial $trial n=$n rounds=$rounds edges=$edges")
      }
    }
  }

  test("LPA equi-join mode (the above-guard 100TB path) matches broadcast mode") {
    // broadcast mode (the driver-held label vector) is the small-n
    // default; a 1-byte broadcast budget forces the sharded equi-join
    // plan the above-BroadcastGuard path takes — labels must be
    // identical, at every horizon
    def sym(edges: Seq[(Long, Long)]) = edges ++ edges.map { case (a, b) => (b, a) }
    val inputs = Seq(
      // two triangles + a bridge
      "bridged triangles" -> sym(Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L),
        (4L, 5L), (3L, 5L), (2L, 3L))),
      // 6 and 7 never appear as i: they hold no label, so their votes
      // drop; 2's only neighbours are 6 and 7, so 2 drops out of the
      // vector after round 1
      "unlabelled neighbours" -> (sym(Seq((0L, 1L), (1L, 3L), (3L, 4L))) ++
        Seq((0L, 6L), (0L, 7L), (1L, 6L), (2L, 6L), (2L, 7L), (4L, 7L))),
      // the hub's round-1 vote is a three-way tie (1, 2, 3): smallest wins
      "three-way tie" -> sym(Seq((0L, 1L), (0L, 2L), (0L, 3L))),
      // K2: the labels swap every round
      "2-cycle" -> sym(Seq((0L, 1L))))
    for ((name, edges) <- inputs; rounds <- Seq(1, 2, 7)) {
      val a = GrbMatrix.fromValues(spark,
        edges.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 8L, 8L)
      val want = labelsOf(graft.algo.LabelProp.communities(a, rounds))
      assert(sharded(labelsOf(graft.algo.LabelProp.communities(a, rounds))) == want,
        s"$name, $rounds rounds")
    }
  }

  test("LPA leaves no broadcast behind") {
    // the driver-vector loop ships its labels every round; the loop
    // destroys each superseded broadcast and the last one on exit
    val a = matFromEdges(Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L)), 5L)
    val before = broadcasts
    labelsOf(graft.algo.LabelProp.communities(a, 7))
    val left = broadcastsLeft(before)
    assert(left.isEmpty, s"broadcasts left behind: $left")
  }

  test("MIS sharded mode (the above-guard 100TB path) matches broadcast mode") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L), (5L, 6L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 7L, 7L)
    val want = labelsOf(graft.algo.Mis.mis(a))
    assert(sharded(labelsOf(graft.algo.Mis.mis(a))) == want)
  }

  test("k-core sharded mode (the above-guard 100TB path) matches broadcast mode") {
    // 3-core (clique of 4) + a pendant path that peels away
    val clique = for (x <- 0L to 3L; y <- 0L to 3L if x < y) yield (x, y)
    val edges = clique ++ Seq((3L, 4L), (4L, 5L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 6L, 6L)
    val want = labelsOf(graft.algo.KCore.kcore(a, 3L))
    assert(want.keySet == Set(0L, 1L, 2L, 3L))
    assert(sharded(labelsOf(graft.algo.KCore.kcore(a, 3L))) == want)
  }

  test("coloring sharded mode (the above-guard 100TB path) matches broadcast mode") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (3L, 5L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 6L, 6L)
    val want = labelsOf(graft.algo.Coloring.greedyColor(a))
    assert(sharded(labelsOf(graft.algo.Coloring.greedyColor(a))) == want)
  }

  test("HITS, PageRank, PPR and walks sharded mode (the above-guard 100TB path) matches broadcast mode") {
    // two triangles + a bridge + a pendant: uneven degrees, so ranks,
    // scores and walk draws all depend on the products being exact
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L), (5L, 6L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 7L, 7L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def all(): Seq[Set[Seq[Any]]] = Seq(
      rows(graft.algo.Hits.scores(a, rounds = 4)),
      rows(graft.algo.PageRank.ranks(a, rounds = 4).df),
      rows(graft.algo.PageRank.personalized(a, seed = 0L, rounds = 4).df),
      rows(graft.algo.RandomWalk.walks(a, steps = 3)))
    val want = all()
    assert(want.forall(_.nonEmpty))
    assert(sharded(all()) == want)
  }

  test("path graph needs shortcutting (worst case for hooking)") {
    val n = 32L
    val a = matFromEdges((0L until n - 1).map(i => (i, i + 1)), n)
    val l = labelsOf(FastSV.connectedComponents(a))
    assert((0L until n).forall(l(_) == 0L))
  }

  test("personalized PageRank matches a driver-side replay; support grows like the hop ball") {
    // path graph 0—1—2—3, seed 0: after round 1 mass reaches only
    // vertex 1 (plus the seed's teleport) — the sparse-frontier
    // property — and after 10 rounds every vertex holds the exact
    // integer recurrence value
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val a = matFromEdges(edges, 4L)
    val one = labelsOf(graft.algo.PageRank.personalized(a, 0L, rounds = 1))
    assert(one.keySet == Set(0L, 1L)) // round 1 = the 1-hop ball
    val got = labelsOf(graft.algo.PageRank.personalized(a, 0L, rounds = 10))
    // replay the recurrence on plain Maps with identical integer ops
    val sym = edges.flatMap { case (x, y) => Seq((x, y), (y, x)) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val scale = graft.algo.PageRank.Scale
    val base = scale - scale * 85L / 100L
    var r = Map(0L -> scale)
    for (_ <- 1 to 10) {
      val contrib = r.collect { case (v, m) if deg.contains(v) => v -> m / deg(v) }
      val moved = sym.filter(e => contrib.contains(e._1))
        .groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => contrib(e._1)).sum * 85L / 100L }
      r = (moved.keySet + 0L).map(v =>
        v -> (moved.getOrElse(v, 0L) + (if (v == 0L) base else 0L))).toMap
    }
    assert(got == r)
    assert(got(0L) > got(1L) && got(1L) > got(3L)) // mass decays with distance from the seed
  }

  test("harmonic fold over multi-source BFS distances is integer-exact") {
    // notebook graph, sources 0 and 6 (different components): harmonic
    // centrality = sum over reached vertices of floor(1e6 / d)
    val a = matFromEdges(notebookEdges, 12L)
    val got = graft.algo.Bfs.multiSourceLevels(a, Seq(0L, 6L))
      .filter(col("d") > 0)
      .groupBy(col("s")).agg(sum(expr("1000000 DIV d")).as("harmonic"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from 0: d(1)=d(2)=d(3)=1, d(4)=d(5)=2 -> 3*1e6 + 2*5e5
    // from 6: d(7)=d(8)=1 -> 2*1e6
    assert(got == Map(0L -> 4000000L, 6L -> 2000000L))
  }

  test("betweenness dependency matches a driver-side replay on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(8)
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextInt(3) == 0
      } yield (i.toLong, j.toLong)).toSeq
      if (edges.nonEmpty) {
        val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val src = edges.map(_._1).min
        // forward: BFS levels + sigma (exact path counts)
        var d = Map(src -> 0L); var sigma = Map(src -> 1L)
        var frontier = Seq(src); var lev = 0L
        while (frontier.nonEmpty) {
          lev += 1
          val grouped = frontier
            .flatMap(u => adj.getOrElse(u, Seq()).map(v => (v, sigma(u))))
            .filterNot(p => d.contains(p._1))
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          d ++= grouped.keys.map(_ -> lev)
          sigma ++= grouped
          frontier = grouped.keys.toSeq
        }
        // backward: per-edge floor-ppm sigma-ratio accumulation
        val dag = for {
          (u, vs) <- adj.toSeq; v <- vs
          if d.contains(u) && d.contains(v) && d(v) == d(u) + 1
        } yield (u, v)
        var delta = d.keys.map(_ -> 0L).toMap
        for (_ <- 1L to (if (d.nonEmpty) d.values.max else 0L)) {
          delta = d.keys.map { u =>
            u -> dag.filter(_._1 == u)
              .map { case (_, v) => sigma(u) * (1000000L + delta(v)) / sigma(v) }
              .sum
          }.toMap
        }
        val a = matFromEdges(edges, n.toLong)
        val got = graft.algo.SpCount.betweenness(a, src).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        val want = d.keys.map(u => u -> ((d(u), sigma(u), delta(u)))).toMap
        assert(got == want, s"trial $trial edges=$edges")
      }
    }
  }

  test("deterministic walks match an md5-replay; every vertex walks full length") {
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (4L, 5L))
    val a = matFromEdges(edges, 6L)
    val steps = 4
    val got = graft.algo.RandomWalk.walks(a, steps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver replay with the identical hash and neighbour order: the
    // hub-safe (md5-subgroup, nbr) rank of RandomWalk.rankedAdjacency
    val salts = graft.algo.RandomWalk.rankSalts
    val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(n => (h32(n.toString) % salts, n)))
      .toMap
    val want = adj.keys.flatMap { s =>
      var cur = s
      val walk = scala.collection.mutable.ListBuffer((s, 0L, s))
      for (t <- 1 to steps) {
        val nbrs = adj(cur)
        cur = nbrs((h32(s"${s}_${cur}_$t") % nbrs.size).toInt)
        walk += ((s, t.toLong, cur))
      }
      walk
    }.toSet
    assert(got == want)
    assert(got.count(_._2 == steps) == adj.size) // every walk full length
    // skip-gram pairs: the ±2 window over the same replayed walks
    val sg = graft.algo.RandomWalk.skipGrams(
      graft.algo.RandomWalk.walks(a, steps)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val walksByStart = want.groupBy(_._1).view
      .mapValues(_.toSeq.sortBy(_._2).map(_._3)).toMap
    val wantSg = walksByStart.values.flatMap { w =>
      for {
        i <- w.indices; j <- w.indices
        if i != j && math.abs(i - j) <= 2
      } yield (w(i), w(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sg == wantSg)
  }

  test("skip-gram banded path equals the plain self-join on long walks") {
    // steps = 20 puts skipGrams on the banded path (L+1 = 21 > 3·(2w+1) = 15);
    // the plain formulation is the semantic definition — results must be
    // identical pair-for-pair and count-for-count
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    val a = matFromEdges(edges, 5L)
    val w = graft.algo.RandomWalk.walks(a, steps = 20).localCheckpoint(true)
    val got = graft.algo.RandomWalk.skipGrams(w, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val plain = w.select(col("start"), col("step").as("s1"), col("vertex").as("center"))
      .join(w.select(col("start"), col("step").as("s2"), col("vertex").as("context")),
        Seq("start"))
      .filter(col("s1") =!= col("s2") && abs(col("s1") - col("s2")) <= 2)
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == plain)
  }

  test("hub-safe neighbour rank is a bijection to [0, deg) — hub degree past rankSalts") {
    // a star hub with degree > rankSalts exercises every subgroup plus
    // the offset prefix-sum join; the rank must still be a bijection
    val hubDeg = graft.algo.RandomWalk.rankSalts * 3 + 17
    val edges = spark.range(1, hubDeg + 1)
      .select(lit(0L).as("v"), col("id").as("nbr"))
      .unionByName(spark.range(1, 6).select(lit(hubDeg + 1L).as("v"),
        (col("id") + hubDeg + 1).as("nbr")))
    val ranked = graft.algo.RandomWalk.rankedAdjacency(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byV = ranked.groupBy(_._1)
    assert(byV(0L).map(_._3).sorted.toSeq == (0L until hubDeg.toLong))
    assert(byV(hubDeg + 1L).map(_._3).sorted.toSeq == (0L until 5L))
    // and the order replays externally: (md5-subgroup, nbr) ascending
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val want = byV(0L).map(_._2)
      .sortBy(n => (h32(n.toString) % graft.algo.RandomWalk.rankSalts, n))
      .zipWithIndex.map { case (n, i) => (n, i.toLong) }.toMap
    assert(byV(0L).forall { case (_, n, ix) => want(n) == ix })
  }

  test("Borůvka MSF equals a driver-side Kruskal under the same (w, a, b) total order") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(10)
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextInt(3) == 0
      } yield (i.toLong, j.toLong, 1L + rnd.nextInt(9))).toSeq
      if (edges.nonEmpty) {
        // Kruskal with union-find over the identical total order
        val parent = scala.collection.mutable.Map((0L until n.toLong).map(v => v -> v): _*)
        def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        val want = edges.sortBy { case (a, b, w) => (w, a, b) }
          .filter { case (a, b, _) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { parent(ra) = rb; true } else false
          }.toSet
        val df = spark.createDataFrame(edges).toDF("a", "b", "w")
        val got = graft.algo.Msf.forest(df, n.toLong).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"trial $trial edges=$edges")
      }
    }
  }

  test("HyperANF ball estimates equal the composed HLL over exact balls") {
    // path graph 0—1—2—3: ball(v, t) is exactly the vertices within t
    // hops, so the ANF estimate must equal hllDistinctComposed over
    // the exact ball membership — pins the register evolution
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val a = matFromEdges(edges, 4L)
    val got = graft.algo.HyperAnf.balls(a, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(v))((s, _) => s ++ s.flatMap(adj.getOrElse(_, Set())))
    val members = for {
      v <- adj.keys.toSeq; t <- 1 to 2; m <- ball(v, t)
    } yield (s"${v}_$t", m)
    val spark2 = spark
    import spark2.implicits._
    val want = graft.pipeline.Sketch.hllDistinctComposed(
      members.toDF("key", "member"), "key", "member").collect()
      .map { r =>
        val Array(v, t) = r.getString(0).split("_")
        (v.toLong, t.toLong) -> r.getLong(1)
      }.toMap
    assert(got == want)
  }

  test("landmark betweenness equals the sum of single-source dependencies") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(8)
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextInt(3) == 0
      } yield (i.toLong, j.toLong)).toSeq
      if (edges.nonEmpty) {
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val srcs = verts.take(3)
        val a = matFromEdges(edges, n.toLong)
        val multi = graft.algo.SpCount.landmarkBetweenness(a, srcs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // Brandes-Pich endpoint exclusion: landmark s's own δ_s(s) row
        // does not count toward s's score (engine contract)
        val singles = srcs.map(s =>
          s -> graft.algo.SpCount.betweenness(a, s).collect()
            .map(r => r.getLong(0) -> r.getLong(3)).toMap)
        val want = singles.flatMap { case (s, m) => m.keys.filter(_ != s) }
          .distinct
          .map(v => v -> singles.collect {
            case (s, m) if s != v => m.getOrElse(v, 0L) }.sum).toMap
        assert(multi == want, s"trial $trial srcs=$srcs edges=$edges")
      }
    }
  }

  test("HITS alternating products match a driver-side replay; max normalizes to exactly 1e6") {
    // directed order→part shape: 0..3 are hubs, 10..12 authorities
    val edges = Seq((0L, 10L), (0L, 11L), (1L, 10L), (2L, 11L), (2L, 12L), (3L, 12L))
    val a = GrbMatrix.fromValues(spark,
      edges.map { case (x, y) => (x, y, 1L: Any) }, GrbType.INT64, 20L, 20L)
    val got = graft.algo.Hits.scores(a).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var h: Map[Long, Long] = edges.map(_._1).distinct.map(_ -> 1L).toMap
    var au: Map[Long, Long] = Map()
    for (_ <- 1 to 10) {
      val ar = edges.groupBy(_._2).view.mapValues(es => es.map(e => h(e._1)).sum).toMap
      au = ar.view.mapValues(v => v * 1000000L / ar.values.max).toMap
      val hr = edges.groupBy(_._1).view.mapValues(es => es.map(e => au(e._2)).sum).toMap
      h = hr.view.mapValues(v => v * 1000000L / hr.values.max).toMap
    }
    val want = (h.keySet ++ au.keySet)
      .map(i => i -> ((h.getOrElse(i, 0L), au.getOrElse(i, 0L)))).toMap
    assert(got == want)
    assert(got.values.map(_._1).max == 1000000L)
    assert(got.values.map(_._2).max == 1000000L)
  }

  test("link prediction: packed mxm matches brute-force cn/RA/Jaccard on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(8)
      val edges = (for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextInt(3) == 0
      } yield (i.toLong, j.toLong)).toSeq
      if (edges.nonEmpty) {
        val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val want = (for {
          i <- adj.keys; j <- adj.keys if i < j
          cn = (adj(i) & adj(j)).size.toLong if cn >= 2
        } yield {
          val ra = (adj(i) & adj(j)).toSeq.map(z => 1000000L / adj(z).size).sum
          val jac = 1000000L * cn / (adj(i).size + adj(j).size - cn)
          (i, j) -> ((cn, ra, jac))
        }).toMap
        val a = matFromEdges(edges, n.toLong)
        val got = graft.algo.LinkPred.scores(a).collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        assert(got == want, s"trial $trial edges=$edges")
      }
    }
  }

  test("loop width rule: ~150k rows/task, floor 8, never exceeding the state bound, never widening a narrow session") {
    import graft.algo.Iterate.loopWidth
    // this suite runs local[4] → defaultParallelism 4; the old-rule
    // cap hi = max(parallelism, rows/500k)
    // tiny loops take the floor 8 — but never above the old rule's
    // value (hi = 4 here), so a narrow session is not widened
    assert(loopWidth(spark, 100000L) == 4)
    // mid-size: target rows/150k grows but stays capped at hi
    assert(loopWidth(spark, 3000000L) == math.min(
      math.max(4L, 3000000L / 500000L), math.max(3000000L / 150000L, 8L)).toInt)
    // big loops: hi = rows/500k dominates — the per-task-state bound
    // (~500k rows) is exactly the r12 rule
    assert(loopWidth(spark, 500000000L) == 1000)
    // the width never EXCEEDS the old rule for any size
    for (rows <- Seq(1L, 100000L, 1200000L, 5000000L, 50000000L, 1000000000L)) {
      val hi = math.max(4L, rows / 500000L)
      assert(loopWidth(spark, rows) <= hi, s"rows=$rows")
      assert(loopWidth(spark, rows) >= 1, s"rows=$rows")
    }
  }

  test("loop width floor is clamped at the session's shuffle width") {
    import graft.algo.Iterate.loopWidth
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2")
      // a tiny loop in a width-2 session keeps width 2 — the floor (8)
      // never widens a deliberately narrow session
      assert(loopWidth(spark, 100000L) == 2)
      // but rows-scaled widening still applies (per-task-state bound):
      // 3M rows → hi = max(4, 6) = 6 > 2
      assert(loopWidth(spark, 3000000L) == 6)
    } finally spark.conf.set(key, prev)
  }

  test("connectedComponents preserves a caller-owned cache on a.df") {
    val a = matFromEdges(Seq((0L, 1L), (2L, 3L)), 4L)
    a.df.cache()
    a.df.count()
    try {
      val l = labelsOf(FastSV.connectedComponents(a))
      assert(l(1L) == 0L && l(3L) == 2L)
      // the caller's cache entry must survive the call — cache()+
      // unpersist() inside FastSV would evict it by plan equality
      assert(a.df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "FastSV evicted the caller's cache of a.df")
    } finally a.df.unpersist()
  }

  test("a loop that throws leaves the session's cache as it found it") {
    // one edge fails when the loop first reads it — the sizing count
    // over the edge cache the loop has just taken: the scope must drop
    // that cache on the failure path, and destroy what the loop
    // broadcast
    // (a range, not a local Seq: the optimizer folds projections over
    // local rows, which would throw before any cache is taken)
    val bad = raise_error(lit("planted bad row"))
    val ids = spark.range(0, 8, 1, 2)
    val a = new GrbMatrix(ids.select(col("id").as("i"),
        when(col("id") === 5L, bad).otherwise((col("id") + 1) % 8).as("j"),
        lit(1L).as("v")), 8L, 8L)
    val edges = ids.select(col("id").as("a"), (col("id") + 8).as("b"),
      when(col("id") === 5L, bad).otherwise(col("id")).as("w"))
    Seq[(String, () => Any)](
      "LabelProp" -> (() => graft.algo.LabelProp.communities(a)),
      "KCore" -> (() => graft.algo.KCore.kcore(a, 2L)),
      "PageRank" -> (() => graft.algo.PageRank.ranks(a)),
      "Msf" -> (() => graft.algo.Msf.forest(edges, 16L)),
      "RandomWalk" -> (() => graft.algo.RandomWalk.walks(a)),
      // a round that fails after the loop shipped its state
      "a shipping loop" -> (() => graft.algo.Iterate.scope(spark, "Ship") { loop =>
        loop.ship("labels", Array(1L, 2L))
        a.df.collect()
      })).foreach {
      case (name, op) =>
        val before = cached
        val shipped = broadcasts
        val e = intercept[Exception](op())
        assert(e.getMessage.contains("planted bad row"), s"$name: ${e.getMessage}")
        assert(cached == before, s"$name left caches behind")
        val left = broadcastsLeft(shipped)
        assert(left.isEmpty, s"$name left broadcasts behind: $left")
    }
  }

  test("walks on asymmetric input: dead-end arrival is emitted, then the walk dies") {
    // directed 0→1 with no out-edges at 1: the walker must land on 1
    // (arrival row at step 1) and then stop — the dead-end neighbor is
    // not silently dropped by the degree attach
    val a = GrbMatrix.fromValues(spark,
      Seq((0L, 1L, 1L: Any)), GrbType.INT64, 2L, 2L)
    val got = graft.algo.RandomWalk.walks(a, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 0L, 0L), (0L, 1L, 1L)))
  }
}

/** Round-14 plan-surface pin for the distributed FastSV loop.
  *
  * The §16g/§17 studies measured the DataFrame loop at ~13 AQE
  * stage-jobs per round (one per exchange/broadcast materialization +
  * the checkpoint + the convergence scan) — the fixed cost that
  * dominates the loop at bench scale and the number the round-14
  * wholeStage-off work holds steady while cutting the JIT tax. This
  * spec pins the count so a refactor that quietly adds per-round
  * actions (an extra eager checkpoint, a stats count, a second
  * convergence probe) fails loudly instead of shipping a 20% loop
  * regression nobody measured.
  */
class FastSVJobCountSpec extends SparkSpec {
  test("distributed FastSV runs <= 15 jobs per round (plan-surface pin)") {
    import graft.core._
    val n = 32
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val triples: Seq[(Long, Long, Any)] = sym.map { case (a, b) => (a, b, 1L: Any) }
    val a = GrbMatrix.fromValues(spark, triples, GrbType.INT64, n.toLong, n.toLong)
    // every loop job carries its round in the Iterate.RoundKey job
    // property (FastSV:<round>); jobs outside the loop carry none
    @volatile var jobs = 0
    @volatile var rounds = 0
    val round = "FastSV:(\\d+)".r
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1
        Option(j.properties).flatMap(p => Option(p.getProperty(graft.algo.Iterate.RoundKey)))
          .collect { case round(r) => r.toInt }.foreach(r => rounds = math.max(rounds, r))
      }
    }
    spark.sparkContext.addSparkListener(l)
    val labels = try {
      val v = graft.algo.FastSV.connectedComponents(a)
      val out = v.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // listener events are async; drain the bus so every job start —
      // all fired before the final collect returned — has been counted
      org.apache.spark.sql.graft.ListenerQuiesce.waitUntilEmpty(spark.sparkContext)
      out
    } finally spark.sparkContext.removeSparkListener(l)
    assert(labels == (0 until n).map(i => i.toLong -> 0L).toMap,
      "path graph must collapse to a single component labeled 0")
    assert(rounds >= 3, s"path-32 must take several rounds (got $rounds)")
    // measured 86 jobs / 6 rounds = 14.3 (includes ~4 one-time setup
    // jobs: sizing count, adjacency cache count, result collect);
    // 15/round is the regression ceiling, not a target
    assert(jobs.toDouble / rounds <= 15.0,
      s"FastSV plan surface grew: $jobs jobs over $rounds rounds " +
        s"(${jobs.toDouble / rounds}%.1f per round; pinned at <= 15)")
  }
}

/** Per-round job pin for label propagation. Below the broadcast guard
  * the label vector lives on the driver and a round is ONE Spark job
  * over the cached adjacency (broadcast, map, collect); a refactor
  * that brings back a per-round plan, broadcast job or checkpoint
  * fails here. The sharded equi-join rounds keep their count.
  */
class LabelPropJobCountSpec extends SparkSpec {
  import graft.core._
  import scala.jdk.CollectionConverters._

  // two 4-cliques joined by a bridge, plus K2 (8-9): the K2 labels
  // swap every round, so the loop always runs to the horizon
  private val graph = {
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 4L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val edges = k4a ++ k4b ++ Seq((3L, 4L), (8L, 9L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    GrbMatrix.fromValues(spark, sym.map { case (i, j) => (i, j, 1L: Any) },
      GrbType.INT64, 10L, 10L)
  }

  /** jobs per round r >= 1, read off the LabelProp:<r> job property */
  private def jobsPerRound(rounds: Int): Map[Int, Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val round = "LabelProp:(\\d+)".r
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(graft.algo.Iterate.RoundKey)))
          .collect { case round(r) if r.toInt > 0 => r.toInt }.foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      graft.algo.LabelProp.communities(graph, rounds).df.collect()
      org.apache.spark.sql.graft.ListenerQuiesce.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq.groupBy(identity).map { case (r, jobs) => r -> jobs.size }
  }

  test("broadcast-mode LPA runs one Spark job per round") {
    assert(jobsPerRound(5) == (1 to 5).map(_ -> 1).toMap)
  }

  test("sharded-mode LPA keeps its per-round job count") {
    // the equi-join rounds' AQE stage jobs plus the checkpoint job:
    // 6 a round, 5 in round 2 — the count before LPA's broadcast mode
    // moved to the driver, which must not touch the sharded loop
    assert(sharded(jobsPerRound(5)) == Map(1 -> 6, 2 -> 5, 3 -> 6, 4 -> 6, 5 -> 6))
  }
}
