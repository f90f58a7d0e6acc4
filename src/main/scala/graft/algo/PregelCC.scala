package graft.algo

import Iterate.FreshOps
import graft.core.{GrbMatrix, GrbVector}
import org.apache.spark.graphx.{Edge, Graph, Pregel, EdgeDirection, EdgeTriplet, VertexId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** GraphX/Pregel bridge: connected components over a GraphBLAS
  * adjacency matrix (the COO frame IS an edge list), with zero-copy
  * interop between the engine's COO collections and GraphX's RDD world.
  *
  * This is the whole-graph CC engine above [[LocalCC.threshold]]: it
  * serves q_cc_events, q_cc_incremental, the dedup cluster rows and
  * Borůvka's contraction ([[Msf]]). Its specialized iterative runtime
  * (partition-stable RDDs, no per-round query planning) won the
  * measured bake-offs against FastSV's DataFrame loop (PERF_NOTES §3,
  * §12e); FastSV stays the engine of its own call sites.
  */
object PregelCC {

  /** the adjacency as a cached-friendly (src, dst) pair RDD */
  private def pairRdd(a: GrbMatrix): org.apache.spark.rdd.RDD[(Long, Long)] =
    a.df.select(col("i").cast(LongType), col("j").cast(LongType))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))

  /** pair RDD (+ its already-computed count) → loop-width-partitioned
    * GraphX graph (vertex attr = own id), materialized.
    *
    * Pregel's per-round shuffles follow the edge RDD's partition
    * count, which here would inherit the SQL plan's width (the
    * session's aggregate-sized setting — 128 in Bench) for every
    * round of a loop whose per-round work is tiny. Re-partition the
    * edge RDD once by the loop-width rule (Iterate.loopWidth: ~150k
    * edges per task, floor 8, capped at the per-task-state bound)
    * so a 20-round Pregel run pays 20 × loop-width block fan-out,
    * not 20 × session width.
    */
  private def fromPairs(spark: org.apache.spark.sql.SparkSession,
      raw: org.apache.spark.rdd.RDD[(Long, Long)], nnz: Long): Graph[Long, Long] = {
    val width = Iterate.loopWidth(spark, nnz)
    val edgeRdd = raw.map { case (s, d) => Edge(s, d, 1L) }
    val edges =
      if (edgeRdd.getNumPartitions <= width) edgeRdd
      else edgeRdd.repartition(width)
    val g = Graph.fromEdges(edges, defaultValue = 0L)
      .mapVertices((id, _) => id)
    g.edges.count() // materialize before freeing the sizing cache
    g
  }

  /** connected components by min-label propagation with Pregel —
    * same labeling contract as FastSV.connectedComponents (label =
    * min vertex id of the component), restricted to vertices that
    * appear in edges.
    *
    * Below LocalCC.threshold nnz the labeling is solved driver-locally
    * instead (LocalCC scaladoc): the RDD Pregel machinery is the
    * GC-heaviest loop engine in the repo and drew the worst
    * degraded-window tax of any bench row (16× on a tens-of-edges
    * cluster-pair graph, round-12 judging) — for a graph whose edge
    * list fits in a couple of MB, zero distributed rounds is the only
    * plan that cannot be multiplied.
    */
  def connectedComponents(a: GrbMatrix): GrbVector = {
    // an adjacency is square by definition; a non-square frame here
    // is a caller bug, rejected on the local path too
    require(a.nrows == a.ncols,
      s"adjacency must be square (got ${a.nrows}x${a.ncols})")
    // GraphX persists RDDs we can't all reach by name (the
    // pre-mapVertices construction graph, Pregel's final message
    // VertexRDD), so a long-lived session (a notebook, a service)
    // would pin blocks on every call. Snapshot the persistent-RDD set,
    // run, materialize the result, then release everything the call
    // created except the result's own checkpoint blocks. (Single
    // caller discipline: concurrent jobs persisting RDDs during this
    // call would be swept too — the engine drives Spark from one
    // driver thread, as all graft algorithms do.)
    val sc = a.spark.sparkContext
    val raw = pairRdd(a).cache()
    val nnz = raw.count()
    if (nnz <= LocalCC.threshold(a.spark) && nnz > 0) {
      val pairs = raw.collect()
      raw.unpersist(false)
      val spark = a.spark
      import spark.implicits._
      return new GrbVector(LocalCC.labels(pairs).toSeq.toDF("i", "v"), a.nrows)
    }
    // raw was persisted before the snapshot-sweep window opens, so the
    // sweep below never touches it; freed explicitly after the graph
    // materializes
    val before = sc.getPersistentRDDs.keySet
    val g = fromPairs(a.spark, raw, nnz)
    raw.unpersist(false)
    val cc = Pregel(g, initialMsg = Long.MaxValue,
      activeDirection = EdgeDirection.Either)(
      vprog = (_: VertexId, attr: Long, msg: Long) => math.min(attr, msg),
      sendMsg = (t: EdgeTriplet[Long, Long]) =>
        if (t.srcAttr < t.dstAttr) Iterator((t.dstId, t.srcAttr))
        else if (t.dstAttr < t.srcAttr) Iterator((t.srcId, t.dstAttr))
        else Iterator.empty,
      mergeMsg = (a: Long, b: Long) => math.min(a, b))
    val spark = a.spark
    import spark.implicits._
    // materialize (eager localCheckpoint) BEFORE the sweep: the
    // result must not recompute from freed blocks
    val df = cc.vertices.map { case (id, label) => (id, label) }
      .toDF("i", "v").freshCheckpoint(true)
    val keep = Iterate.blocks(df).map(_.id).toSet
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id) && !keep.contains(id)) rdd.unpersist(false)
    }
    new GrbVector(df, a.nrows)
  }

  /** Incremental CC maintenance — the ingest-cycle pattern at scale:
    * given an existing labeling (label = min member id, the
    * [[connectedComponents]]/FastSV contract) and a batch of NEW
    * edges, produce the union graph's labeling WITHOUT touching the
    * base edge set. Each new edge contracts to a LABEL-space edge
    * (L(u), L(v)); CC over that batch-sized graph merges whole
    * components at once, and one equi-join relabels the old frame.
    * Min-label composition is exact because labels ARE vertex ids:
    * the min label of a merged cluster of labels is the min member id
    * of the merged component. Endpoints unseen by the base labeling
    * enter self-labeled (exactly how a fresh vertex starts in CC).
    *
    * Cost per cycle: O(batch) joins + CC on a graph whose size is
    * bounded by the BATCH (≤ 2·|newEdges| label-vertices), never the
    * corpus — at 100 TB the base labeling is a persisted frame
    * (bucket it on `v` for the relabel join) and a 0.1% edge ingest
    * pays 0.1%-sized work instead of a full recompute.
    */
  def incremental(labels: GrbVector, newEdges: org.apache.spark.sql.DataFrame): GrbVector = {
    val verts = newEdges.select(col("i").as("n"))
      .unionByName(newEdges.select(col("j").as("n"))).distinct()
    val lab = verts.join(labels.df.select(col("i").as("n"), col("v")), Seq("n"), "left")
      .select(col("n"), coalesce(col("v"), col("n")).as("l"))
      .freshCheckpoint(true) // feeds the contraction twice + the new-vertex union
    val e2 = newEdges
      .join(lab.select(col("n").as("i"), col("l").as("li")), Seq("i"))
      .join(lab.select(col("n").as("j"), col("l").as("lj")), Seq("j"))
      .select(col("li").as("i"), col("lj").as("j"))
      .filter(col("i") =!= col("j"))
    val sym = e2.unionByName(e2.select(col("j").as("i"), col("i").as("j")))
      .withColumn("v", lit(1L))
    val cc2 = connectedComponents(new GrbMatrix(sym, labels.size, labels.size)).df
    val newVerts = lab.select(col("n").as("i"), col("l").as("v"))
      .join(labels.df.select(col("i")), Seq("i"), "left_anti")
    val all = labels.df.unionByName(newVerts)
    val out = all.join(cc2.select(col("i").as("v"), col("v").as("v2")), Seq("v"), "left")
      .select(col("i"), coalesce(col("v2"), col("v")).as("v"))
    new GrbVector(out, labels.size)
  }
}
