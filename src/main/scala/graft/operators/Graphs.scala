package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics beyond connected components
  * ([[Dedup.connectedComponents]]): fixed-iteration PageRank in exact
  * integer arithmetic. The seven iterative operators run the same
  * recurrence in a driver loop when their edge list is tiny; the gate
  * is [[DriverPath]], the caps are the constants below.
  */
object Graphs {

  /** Edge cap of the tiny-graph driver paths: 2^20 edges collect at
    * most ~16 MB of longs. */
  private val DriverMaxEdges = 1L << 20
  /** [[triangleCount]]'s cap is lower: its driver wedge work is
    * O(m^1.5), not O(m) — ~1.3e8 probe ops at the cap, still well under
    * a second of HashSet lookups, but not worth pushing further. */
  private val TriangleDriverMaxEdges = 1L << 18

  /** Sorted distinct node array + id→index map for a collected edge
    * list (driver fast paths). */
  private def indexNodes(es: Array[(Long, Long)],
                         extra: Iterable[Long] = Nil): (Array[Long], scala.collection.mutable.LongMap[Int]) = {
    val nodes = (es.map(_._1) ++ es.map(_._2) ++ extra).distinct.sorted
    val idx = new scala.collection.mutable.LongMap[Int](nodes.length * 2)
    var i = 0
    while (i < nodes.length) { idx(nodes(i)) = i; i += 1 }
    (nodes, idx)
  }

  /** [[pageRankMicro]]'s recurrence on a collected edge list, with the
    * restart mass on `seeds` ([[personalizedPageRank]]) or, for None,
    * on every node. */
  private def driverRank(spark: SparkSession, es: Array[(Long, Long)],
                         seeds: Option[Set[Long]], iterations: Int,
                         massMicro: Long): DataFrame = {
    val (nodes, idx) = indexNodes(es, seeds.getOrElse(Nil))
    val nN = nodes.length
    val isSeed = Array.tabulate(nN)(i => seeds.forall(_(nodes(i))))
    val r0 = massMicro / seeds.fold(nN)(_.size)
    val base = (15L * r0) / 100L
    val outd = new Array[Long](nN)
    es.foreach { case (s, _) => outd(idx(s)) += 1L }
    var r = Array.tabulate(nN)(i => if (isSeed(i)) r0 else 0L)
    for (_ <- 1 to iterations) {
      val in = new Array[Long](nN)
      es.foreach { case (s, d) => in(idx(d)) += r(idx(s)) / outd(idx(s)) }
      r = Array.tabulate(nN)(i => (if (isSeed(i)) base else 0L) + (85L * in(i)) / 100L)
    }
    DriverPath.frame(spark, nodes.toSeq.zip(r), "node", "rank_micro")
  }

  /** PageRank with damping 0.85 over a directed edge list, every
    * quantity an INTEGER: ranks are micro-mass units out of
    * `massMicro` total, per-edge contributions and the damping step
    * use integer division, so the result is bit-identical on any
    * engine, any partitioning, any run — the property that makes an
    * iterative metric gate-able at all (float PageRank differs in ULPs
    * per reduction order). The usual trades, documented: integer
    * division leaks sub-unit mass (ranks are a deterministic lower
    * bound at micro resolution) and dangling-node mass evaporates
    * instead of redistributing. `iterations` is FIXED, not
    * convergence-tested — the gate-able contract; rank order is stable
    * well before mass is.
    *
    *   r0     = massMicro ÷ N            (every node)
    *   r_i+1  = ⌊0.15·r0⌋ + ⌊0.85·Σ_in ⌊r_i/outdeg⌋⌋
    *
    * Scale shape: the edge list, out-degree table and node set are
    * computed ONCE and persisted under the [[CacheRegistry]] lifecycle
    * (each iteration re-reads all three). Per iteration: one join of
    * ranks to edges on src (both sides hash-partition on the join key —
    * the Pregel shuffle), one map-side-combinable sum per dst, one
    * left join back to the node set. Multi-edges contribute multiply
    * (weighted-graph semantics); pre-`distinct` the edges for a simple
    * graph. The rank vector is N rows — node-table-sized, not
    * edge-table-sized; at 100 TB the per-iteration cost is the edge
    * shuffle, exactly GraphX/Pregel's bound, with AQE free to broadcast
    * the rank side when N is small.
    *
    * Returns (node, rank_micro: long).
    */
  def pageRankMicro(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst", iterations: Int = 4,
                    massMicro: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    require(massMicro > 0, s"massMicro must be positive, got $massMicro")
    // pre-partition the loop-invariant sides by their join keys BEFORE
    // persisting: the cached scans then carry that HashPartitioning, so
    // every iteration's join reuses it instead of re-shuffling the
    // static edge/node tables 4× (only the rank side, which actually
    // changed, moves per iteration)
    val e = CacheRegistry.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .repartition(col("src")))
    // tiny-graph fast path ([[DriverPath]]): the same
    // integer recurrence, zero iterative shuffle rounds
    DriverPath.pairs(e, DriverMaxEdges) match {
      case Some(es) => return driverRank(edges.sparkSession, es, None, iterations, massMicro)
      case None => ()
    }
    val outdeg = CacheRegistry.persist(
      e.groupBy("src").agg(count(lit(1)).as("__out")))
    val nodes = CacheRegistry.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct().repartition(col("node")))
    // one-row stats referenced by r0 and every iteration — persist so
    // the count-aggregate subplan runs once, not once per reference
    val st = CacheRegistry.persist(
      nodes.agg(count(lit(1)).as("__n"))
        .select(expr(s"$massMicro div __n").as("__r0"))
        .select(col("__r0"), expr("(15 * __r0) div 100").as("__base")))
    var r = nodes.crossJoin(broadcast(st)).select(col("node"), col("__r0").as("r"))
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div __out")).as("__in"))
      r = nodes.crossJoin(broadcast(st))
        .join(inflow, Seq("node"), "left_outer")
        .select(col("node"),
          (col("__base") + expr("(85 * coalesce(__in, 0L)) div 100")).as("r"))
      graft.TriggerPlanProbe.recordIter("page_rank_micro", r)
    }
    r.select(col("node"), col("r").cast("long").as("rank_micro"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the OTHER classic
    * link-analysis pair: a good HUB points at good authorities, a
    * good AUTHORITY is pointed at by good hubs. On a bipartite graph
    * (customer→supplier, user→item, doc→term) the two scores are the
    * two sides' importance rankings — which PageRank alone conflates.
    * Same integer discipline as [[pageRankMicro]] (bit-identical on
    * any engine/partitioning, fixed iterations), with MAX
    * normalization instead of the usual L2 — integer-exact, never
    * divides by a floor-eroded total, and keeps the top score pinned
    * at exactly `massMicro`:
    *
    *   h_0(u)   = massMicro                     (every node)
    *   rawA(v)  = Σ_{u→v} h_i(u);  a_i+1 = ⌊massMicro·rawA / max rawA⌋
    *   rawH(u)  = Σ_{u→v} a_i+1(v); h_i+1 = ⌊massMicro·rawH / max rawH⌋
    *
    * Overflow contract: massMicro²·maxdeg < 2⁶³ — at the default
    * micro scale that admits max in/out-degree ≈ 9·10⁶; hub-ier
    * graphs drop to milli (the scores are relative, the scale is
    * presentation). Nodes with no in-edges get authority 0, no
    * out-edges hub 0.
    *
    * Scale shape: edge list and node set persisted once under
    * [[CacheRegistry]]; per iteration TWO Pregel-style edge joins
    * (h on src grouped by dst, then a on dst grouped by src) and two
    * 1-row max aggregates entering as broadcasts. Unlike
    * [[pageRankMicro]] (linear lineage — no mid-chain aggregate),
    * the scalar max FORKS the plan: the normalize step references
    * the raw frame on both the main side and under the max, so the
    * logical tree doubles twice per iteration — 4^k growth that
    * first re-executes the chain exponentially and then OOMs the
    * driver merely STRINGIFYING the plan (measured at 4 iterations).
    * The fix is the standard iterative-graph pattern (GraphX's
    * checkpoint interval): score vectors are eagerly
    * `localCheckpoint`ed — node-table-sized, executor-stored — which
    * truncates lineage to an RDD scan; production restart-safety
    * would use a reliable checkpoint dir instead.
    *
    * Every HALF-STEP (raw score vector; an iteration has two) is
    * checkpointed. Skipping one trades its materialize-and-store job
    * for recompute, and MEASURED r11 (PERF.md) that never wins: a
    * skipped half-step's vector executes TWICE (once under the
    * max-aggregate broadcast, again inside the next checkpoint's
    * materialization), i.e. 3 edge joins per iteration instead of 2,
    * which outweighs the saved node-vector write at every scale
    * tried — q232 medians 8.4 s (every half-step) vs 9.2 s (every
    * second) at sf0.1, 30× soak medians 27.6 s vs 29.0 s at 476k
    * nodes, and the 19-node q247 a wash within noise.
    *
    * Returns (node, authority_micro, hub_micro).
    */
  def hitsMicro(edges: DataFrame, srcCol: String = "src",
                dstCol: String = "dst", iterations: Int = 4,
                massMicro: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    require(massMicro > 0, s"massMicro must be positive, got $massMicro")
    val e = CacheRegistry.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .repartition(col("src")))
    // tiny-graph fast path ([[DriverPath]]): the same
    // integer half-steps, zero checkpoint jobs. ma/mh are always > 0:
    // every edge target has an in-edge so rawA ≥ min h > 0 in iter 1,
    // and the max-normalized node keeps a = massMicro whose source's
    // rawH ≥ massMicro — the same argument that makes the distributed
    // div-by-__m safe.
    DriverPath.pairs(e, DriverMaxEdges) match {
      case Some(es) =>
        val (nodes, idx) = indexNodes(es)
        val nN = nodes.length
        var h = Array.fill(nN)(massMicro)
        var a = new Array[Long](nN)
        for (_ <- 1 to iterations) {
          val rawA = new Array[Long](nN)
          es.foreach { case (u, v) => rawA(idx(v)) += h(idx(u)) }
          val ma = rawA.max
          a = rawA.map(x => (massMicro * x) / ma)
          val rawH = new Array[Long](nN)
          es.foreach { case (u, v) => rawH(idx(u)) += a(idx(v)) }
          val mh = rawH.max
          h = rawH.map(x => (massMicro * x) / mh)
        }
        val spark = edges.sparkSession
        import spark.implicits._
        return nodes.indices.map(i => (nodes(i), a(i), h(i)))
          .toDF("node", "authority_micro", "hub_micro")
      case None => ()
    }
    val nodes = CacheRegistry.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct().repartition(col("node")))
    val sc = edges.sparkSession.sparkContext
    // checkpoint-block lifecycle (the connectedComponents pattern):
    // an eager localCheckpoint's blocks ARE its data. A lazy span
    // never reaches past the previous checkpoint, and the returned
    // a⋈h frame reads at most the last TWO checkpoints (h is the
    // last; a's lazy chain ends at the one before), so a checkpoint
    // is freed once two newer ones exist; the final two are handed to
    // [[CacheRegistry]] for the caller to release after consuming.
    // Ids are read off each frame's own plan (PlanShim), never by
    // diffing global getPersistentRDDs — a set-diff races against
    // concurrent queries persisting RDDs on the shared context.
    val live = scala.collection.mutable.Queue.empty[Int]
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      live += PlanShim.checkpointedRddId(c)
      while (live.size > 2)
        sc.getPersistentRDDs.get(live.dequeue()).foreach(_.unpersist(false))
      c
    }
    var h = nodes.select(col("node"), lit(massMicro).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a")) // replaced in iter 1
    for (_ <- 1 to iterations) {
      val rawA0 = nodes
        .join(e.join(h.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum("h").as("__s")),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("__s"), lit(0L)).as("__r"))
      graft.TriggerPlanProbe.recordIter("hits_micro_auth", rawA0)
      val rawA = checkpoint(rawA0)
      val ma = rawA.agg(max("__r").as("__m"))
      a = rawA.crossJoin(broadcast(ma))
        .select(col("node"), expr(s"($massMicro * __r) div __m").as("a"))
      val rawH0 = nodes
        .join(e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum("a").as("__s")),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("__s"), lit(0L)).as("__r"))
      graft.TriggerPlanProbe.recordIter("hits_micro_hub", rawH0)
      // the last hub vector's checkpoint backs the returned frame and
      // bounds the final a⋈h plan
      val rawH = checkpoint(rawH0)
      val mh = rawH.agg(max("__r").as("__m"))
      h = rawH.crossJoin(broadcast(mh))
        .select(col("node"), expr(s"($massMicro * __r) div __m").as("h"))
    }
    CacheRegistry.registerRddIds(sc, live.toSeq)
    a.join(h, Seq("node"))
      .select(col("node"), col("a").cast("long").as("authority_micro"),
        col("h").cast("long").as("hub_micro"))
  }

  /** PERSONALIZED PageRank: the restart mass returns to the SEED set
    * instead of spreading uniformly — topic-sensitive importance
    * ("expand this seed set along the graph"), the standard
    * seed-expansion scorer for building targeted corpora from a few
    * known-good nodes. Same integer micro-mass discipline as
    * [[pageRankMicro]] (bit-identical on any engine/partitioning,
    * fixed iterations):
    *
    *   r0     = massMicro ÷ |seeds|  on seeds, 0 elsewhere
    *   r_i+1  = [node ∈ seeds]·⌊0.15·massMicro/|seeds|⌋
    *            + ⌊0.85·Σ_in ⌊r_i/outdeg⌋⌋
    *
    * Shuffle shape identical to pageRankMicro — the seed set enters as
    * one broadcast-joined flag column on the persisted node table.
    * Returns (node, rank_micro); non-seed nodes unreachable from the
    * seeds rank 0.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "node", iterations: Int = 4,
                           massMicro: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    require(massMicro > 0, s"massMicro must be positive, got $massMicro")
    val e = CacheRegistry.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .repartition(col("src")))
    val outdeg = CacheRegistry.persist(
      e.groupBy("src").agg(count(lit(1)).as("__out")))
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
    // tiny-graph fast path ([[DriverPath]]): the seed set is
    // node-bounded, so it rides the same cap
    DriverPath.pairs(e, DriverMaxEdges)
      .flatMap(es => DriverPath.ids(sd, DriverMaxEdges).map((es, _))) match {
      case Some((es, seedArr)) =>
        return driverRank(edges.sparkSession, es, Some(seedArr.toSet), iterations, massMicro)
      case None => ()
    }
    // fail fast on an empty (or all-null-after-cast) seed set: sum(__seed)
    // = 0 would turn `massMicro div __ns` NULL and silently propagate
    // NULL ranks everywhere (one cheap limit-1 probe, not a full count;
    // the driver path above declines an empty seed set)
    require(!sd.isEmpty,
      "personalizedPageRank: seeds must contain at least one non-null node id")
    val nodes = CacheRegistry.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .union(sd.select("node"))
        .distinct().repartition(col("node"))
        .join(broadcast(sd.withColumn("__seed", lit(1L))), Seq("node"), "left_outer")
        .na.fill(0L, Seq("__seed")))
    val st = CacheRegistry.persist(
      nodes.agg(sum("__seed").as("__ns"))
        .select(expr(s"$massMicro div __ns").as("__r0"))
        .select(col("__r0"), expr("(15 * __r0) div 100").as("__base")))
    var r = nodes.crossJoin(broadcast(st))
      .select(col("node"), (col("__seed") * col("__r0")).as("r"))
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div __out")).as("__in"))
      r = nodes.crossJoin(broadcast(st))
        .join(inflow, Seq("node"), "left_outer")
        .select(col("node"),
          (col("__seed") * col("__base") +
            expr("(85 * coalesce(__in, 0L)) div 100")).as("r"))
      graft.TriggerPlanProbe.recordIter("personalized_page_rank", r)
    }
    r.select(col("node"), col("r").cast("long").as("rank_micro"))
  }

  /** Co-occurrence (association) graph construction from (basket,
    * item) rows — the market-basket / co-citation / shared-order
    * primitive that feeds [[triangleCount]], [[pageRankMicro]] and
    * [[Dedup.connectedComponents]]. Emits one undirected edge
    * (a, b, n_shared) per item pair appearing together in at least
    * `minShared` DISTINCT baskets (duplicate (basket, item) rows count
    * once — "shared baskets", not "shared rows").
    *
    * The scale hazard of any co-occurrence build is the per-basket
    * pair fan-out: a basket of k items emits C(k,2) pairs, so ONE
    * viral basket (a 100k-item order, a bot's session) emits billions
    * of rows into the self-join. `maxBasketSize` drops over-cap
    * baskets WHOLE before pairing — the same hot-bucket blacklist
    * discipline as the LSH band join (`Dedup.bandJoinVerify`); a
    * basket that large is uninformative for association anyway
    * (its pairs are noise, exactly like an every-doc LSH bucket).
    * Bounded fan-out: ≤ C(maxBasketSize, 2) pairs per basket, on any
    * skew.
    *
    * Shuffle shape: one distinct on (basket, item) — the projection
    * persists under the [[CacheRegistry]] lifecycle because the size
    * aggregate and the pairing both consume it (no re-scan of the
    * input) — then a size aggregate of that cached projection (its
    * own small shuffle on basket; AQE broadcasts the kept-basket set
    * back when it measures small), the pair self-join on basket, and
    * the map-side-combinable pair-count aggregate that the
    * `minShared` filter prunes before it leaves the reducers.
    */
  /** Bounded MULTI-SOURCE BFS: minimum hop distance from any seed
    * node, capped at `maxHops` rounds — reachability tiers over the
    * directed edge list (influence radii, contamination spread from
    * flagged docs through a link graph, dependency closure depth).
    * Symmetrize edges upstream for undirected semantics. Returns
    * (node, dist) for every node within `maxHops` of a seed; the
    * distance is exactly the BFS level the node was first reached at,
    * so the result is deterministic regardless of partitioning.
    *
    * Shape: classic frontier expansion — per round, ONE join of the
    * frontier to the edge list (the Pregel shuffle; the frontier is
    * usually far smaller than the graph and AQE broadcasts it), a
    * distinct, and an anti-join against the settled set. Each round's
    * frontier is localCheckpoint'ed (lazy — the convergence count is
    * the materializing action, one job per round, the
    * [[Dedup.connectedComponents]] discipline) and every checkpoint
    * backs the returned union: all are registered with
    * [[CacheRegistry]]; the caller releases after consuming. Rounds
    * are bounded by `maxHops`, not diameter — this is the bounded
    * variant by contract (unbounded reachability is
    * [[Dedup.connectedComponents]]' job).
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   seedCol: String = "node", maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1 && maxHops <= 1000, s"maxHops out of range: $maxHops")
    val sc = edges.sparkSession.sparkContext
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // tiny-graph fast path ([[DriverPath]]): same frontier
    // expansion, zero per-round join/checkpoint jobs. Node values pass
    // through untouched (no arithmetic), cast back to the seed column's
    // type so the returned schema matches the distributed path.
    val sdist = seeds.select(col(seedCol).as("node")).distinct()
    val seedType = sdist.schema("node").dataType
    // fast path only when seed and edge id types AGREE: with (say) int
    // seeds over long edges the distributed union widens node to long,
    // while a cast-to-seed-type here would both truncate >2^31 ids and
    // diverge from the distributed schema
    val typesAgree = e.schema.fields.forall(_.dataType == seedType)
    (if (typesAgree) DriverPath.pairs(e, DriverMaxEdges) else None)
      .flatMap(es => DriverPath.ids(sdist, DriverMaxEdges).map((es, _))) match {
      case Some((es, seedIds)) =>
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
        es.foreach { case (s, d) =>
          adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
        }
        val dist = new scala.collection.mutable.LongMap[Long]()
        var frontier = seedIds
        frontier.foreach(n => dist(n) = 0L)
        var hop = 1L
        while (frontier.nonEmpty && hop <= maxHops) {
          val next = frontier.iterator.flatMap(n => adj.getOrElse(n, Nil))
            .filterNot(dist.contains).toArray.distinct
          next.foreach(n => dist(n) = hop)
          frontier = next
          hop += 1
        }
        e.unpersist()
        return DriverPath.frame(edges.sparkSession, dist.toSeq, "node", "dist")
          .select(col("node").cast(seedType).as("node"), col("dist"))
      case None => ()
    }
    e.count() // materialize for the checkpoints below (the gate may decline uncounted)
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    // checkpoint ids read off each frame's own plan — see hitsMicro
    val ckptIds = scala.collection.mutable.ArrayBuffer(
      PlanShim.checkpointedRddId(dist))
    var frontier = dist
    var hop = 1L
    var growing = true
    while (growing && hop <= maxHops) {
      val reached0 = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(hop))
      graft.TriggerPlanProbe.recordIter("bfs_distances", reached0)
      val reached = reached0
        .localCheckpoint(false) // lazy: the count below materializes it
      ckptIds += PlanShim.checkpointedRddId(reached)
      growing = reached.count() > 0
      if (growing) {
        dist = dist.unionByName(reached)
        frontier = reached
        hop += 1
      }
    }
    e.unpersist()
    // every round's checkpoint backs a branch of the returned union —
    // all must outlive this call; the caller releases after consuming
    CacheRegistry.registerRddIds(sc, ckptIds)
    dist
  }

  def cooccurrenceEdges(df: DataFrame, keyCol: String, itemCol: String,
                        minShared: Long = 2,
                        maxBasketSize: Long = 10000): DataFrame = {
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val items = CacheRegistry.persist(
      df.select(col(keyCol).as("k"), col(itemCol).as("i")).distinct())
    val kept = items.join(
      items.groupBy("k").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBasketSize).select("k"), Seq("k"))
    // self-join: both sides are the SAME frame, so there is no smaller
    // side to broadcast at any scale — shuffled-hash builds the
    // per-basket tables in parallel instead of one driver-built
    // broadcast relation (the q165 measurement; basket cap bounds the
    // per-partition build state)
    kept.as("x").hint("shuffle_hash").join(kept.as("y").hint("shuffle_hash"),
        col("x.k") === col("y.k") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("a"), col("y.i").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact triangle count of an undirected simple graph (edge list
    * with a ≠ b, one row per edge in either order) — the clustering /
    * community-density primitive. Wedge-join algorithm with DEGREE
    * ORIENTATION: each edge is directed from its (degree, id)-smaller
    * endpoint to the larger, which caps every node's out-degree at
    * O(√m) on any graph — the per-node wedge count, and therefore the
    * join's intermediate size, is bounded by m^1.5 instead of
    * Σ deg² (quadratic in the hubs' degrees on a skewed graph: the
    * difference between feasible and not at 100 TB). A triangle
    * a–b–c with a<b<c in orientation order is found exactly once: as
    * the wedge (b, c) at a, closed by the oriented edge b→c — one
    * equi-join, no OR conditions, no double counting.
    *
    * Shuffle shape: degree count (one agg), two broadcast-or-shuffle
    * joins to attach degrees, the wedge self-join on src, the closing
    * left-semi equi-join on (b, c). The oriented edge list is consumed
    * three times and persists under the [[CacheRegistry]] lifecycle.
    * Returns one row (n_edges, n_triangles).
    */
  def triangleCount(edges: DataFrame, aCol: String = "a",
                    bCol: String = "b"): DataFrame = {
    val e = CacheRegistry.persist(
      edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
    // tiny-graph fast path ([[DriverPath]]): the same
    // degree-oriented wedge closure, under the lower
    // [[TriangleDriverMaxEdges]] cap
    DriverPath.pairs(e, TriangleDriverMaxEdges) match {
      case Some(es) =>
        val deg = new scala.collection.mutable.LongMap[Long]()
        es.foreach { case (x, y) =>
          deg(x) = deg.getOrElse(x, 0L) + 1L
          deg(y) = deg.getOrElse(y, 0L) + 1L
        }
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
        val oset = new scala.collection.mutable.HashSet[(Long, Long)]()
        es.foreach { case (x, y) =>
          val flip = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
          val (src, dst, dd) = if (flip) (x, y, deg(y)) else (y, x, deg(x))
          adj.getOrElseUpdate(src, scala.collection.mutable.ArrayBuffer.empty) += ((dd, dst))
          oset += ((src, dst))
        }
        var tri = 0L
        adj.foreach { case (_, lst) =>
          val sorted = lst.sortInPlace()(Ordering.Tuple2[Long, Long]).toArray
          var i = 0
          while (i < sorted.length) {
            var j = i + 1
            while (j < sorted.length) {
              // the strict (dd, dst) order of the wedge join
              if ((sorted(i)._1 < sorted(j)._1 ||
                  (sorted(i)._1 == sorted(j)._1 && sorted(i)._2 < sorted(j)._2)) &&
                  oset.contains((sorted(i)._2, sorted(j)._2))) tri += 1L
              j += 1
            }
            i += 1
          }
        }
        return DriverPath.frame(edges.sparkSession, Seq((es.length.toLong, tri)),
          "n_edges", "n_triangles")
      case None => ()
    }
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val flip = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = CacheRegistry.persist(
      e.join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
        .select(when(flip, col("a")).otherwise(col("b")).as("src"),
          when(flip, col("b")).otherwise(col("a")).as("dst"),
          when(flip, col("db")).otherwise(col("da")).as("dd")))
    val wedges = o.as("o1").join(o.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.dd") < col("o2.dd") ||
            (col("o1.dd") === col("o2.dd") && col("o1.dst") < col("o2.dst"))))
      .select(col("o1.dst").as("wb"), col("o2.dst").as("wc"))
    val closed = wedges.join(
      o.select(col("src").as("wb"), col("dst").as("wc")), Seq("wb", "wc"),
      "left_semi")
    val out = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
    // not iterative, but the same gate boundary applies: at gate scale
    // the driver path returns a LocalTableScan, so the wedge-join plan
    // is only CI-visible through this probe (forced in PlanFingerprint)
    graft.TriggerPlanProbe.recordIter("triangle_count", out)
    out
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round, every node adopts the most
    * frequent label among its neighbors — ties break to the SMALLEST
    * label, nodes with no neighbors keep theirs — for a FIXED number
    * of rounds. Fixed rounds + total-order tie-break make an
    * inherently heuristic algorithm fully deterministic (same answer
    * on any engine/partitioning), which is what lets communities be
    * hash-gated at all; classic async LPA converges faster but is
    * run-order-dependent — useless for reproducible pipelines.
    *
    * Where [[graft.operators.Dedup.connectedComponents]] answers
    * "reachable at all?" (one giant component on any connected graph),
    * LPA finds DENSE regions — near-dup neighborhoods, co-purchase
    * cliques — inside a connected graph.
    *
    * Scale shape per round: one edge⋈labels join (labels keyed by
    * node), one (node, label) count, one min_by argmax — all
    * shuffle-on-node-id; rounds are few (communities stabilize in
    * 3-5), so the lineage stays shallow — no checkpoint needed at the
    * default depth (adopt the CC localCheckpoint discipline if you
    * raise `rounds` past ~10). Pass edges ONE row per undirected edge;
    * both directions are derived inside. Returns (node, community).
    */
  def labelPropagation(edges: DataFrame, aCol: String = "a", bCol: String = "b",
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val e = CacheRegistry.persist(
      edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct())
    // tiny-graph fast path ([[DriverPath]]): the same
    // deterministic (max count, min label) adoption, zero round joins.
    // Every node has in-edges here (e is bidirectional), so adopting
    // from the per-(node, label) census covers every node each round —
    // exactly the distributed groupBy/min_by semantics.
    DriverPath.pairs(e, DriverMaxEdges) match {
      case Some(es) =>
        val (nodes, idx) = indexNodes(es)
        val nN = nodes.length
        var lbl = Array.tabulate(nN)(i => nodes(i))
        for (_ <- 1 to rounds) {
          val counts = new java.util.HashMap[(Int, Long), Long]()
          es.foreach { case (s, d) =>
            counts.merge((idx(d), lbl(idx(s))), 1L, java.lang.Long.sum(_, _))
          }
          val next = new Array[Long](nN)
          java.util.Arrays.fill(next, Long.MaxValue)
          val bestN = new Array[Long](nN)
          counts.forEach { (k, n) =>
            val (i, community) = k
            // min_by(community, struct(-n, community)): larger count
            // wins, ties break to the SMALLEST label
            if (n > bestN(i) || (n == bestN(i) && community < next(i))) {
              bestN(i) = n; next(i) = community
            }
          }
          lbl = next
        }
        return DriverPath.frame(edges.sparkSession, nodes.toSeq.zip(lbl), "node", "community")
      case None => ()
    }
    val nodes = e.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("community", col("node"))
    for (_ <- 1 to rounds) {
      val counts = e.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("community"))
        .agg(count(lit(1)).as("__n"))
      val winners = counts.groupBy("node")
        .agg(min_by(col("community"), struct((-col("__n")).as("__neg"),
          col("community"))).as("community"))
      graft.TriggerPlanProbe.recordIter("label_propagation", winners)
      labels = winners
    }
    // e backs every round of the returned lazy plan — the caller (or
    // the CacheRegistry lifecycle) releases it after consuming
    labels
  }

  /** k-CORE decomposition by synchronous peeling: `rounds` iterations
    * of "drop every node with degree < k, with all its edges" — the
    * graph-robustness primitive (a node in the k-core has k neighbors
    * that THEMSELVES survive the same test: spam rings and genuine
    * dense communities pass, chains and stars of any size don't —
    * degree alone can't make that distinction). Fixed `rounds` keeps
    * the result a deterministic value contract on every engine
    * (equal to the true k-core once peeling converges — one round
    * with no drops; size `rounds` generously, convergence is
    * typically fast and extra rounds are no-ops on a fixpoint).
    *
    * Scale shape per round: one degree aggregate + two node-keyed
    * left-semi joins; each round's edge set is `localCheckpoint`ed
    * (lazily — materialized once by the final action, each level
    * cached before the next consumes it twice: without the
    * checkpoint the dual consumption doubles work per level,
    * 2^rounds overall). Checkpoint blocks live under the
    * [[CacheRegistry]] lifecycle. Pass one row per undirected edge.
    * Returns the surviving (node, degree).
    */
  def kCore(edges: DataFrame, aCol: String = "a", bCol: String = "b",
            k: Int = 3, rounds: Int = 5): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val sc = edges.sparkSession.sparkContext
    // the bidirectional distinct edge set is consumed twice per round;
    // persist it once (CacheRegistry lifecycle) — the gate's count is
    // also its materialization, replacing the former lazy checkpoint
    val e0 = CacheRegistry.persist(edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct())
    // tiny-graph fast path ([[DriverPath]]): same
    // synchronous peel, zero per-round jobs
    DriverPath.pairs(e0, DriverMaxEdges) match {
      case Some(es0) =>
        var cur = es0
        for (_ <- 1 to rounds) {
          val deg = new scala.collection.mutable.LongMap[Long]()
          cur.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
          cur = cur.filter { case (s, d) =>
            deg.getOrElse(s, 0L) >= k && deg.getOrElse(d, 0L) >= k }
        }
        val deg = new scala.collection.mutable.LongMap[Long]()
        cur.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
        return DriverPath.frame(edges.sparkSession, deg.toSeq, "node", "degree")
      case None => ()
    }
    // checkpoint ids read off each frame's own plan — see hitsMicro
    val ckptIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var e: DataFrame = e0
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("src")
      val next = e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      graft.TriggerPlanProbe.recordIter("k_core", next)
      e = next.localCheckpoint(false)
      ckptIds += PlanShim.checkpointedRddId(e)
    }
    CacheRegistry.registerRddIds(sc, ckptIds)
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("degree"))
  }

  /** Association-rule mining over (basket, item) pairs — the
    * market-basket signal (co-purchase recommendations, tag
    * co-occurrence, query co-click): for each ordered item pair
    * a → b with enough shared baskets,
    *
    *   support_ppm    = 10⁶·n_ab DIV N          (pair prevalence)
    *   confidence_ppm = 10⁶·n_ab DIV n_a        (P(b | a))
    *   lift_ppm       = 10⁶·n_ab·N DIV n_a·n_b  (× over independence)
    *
    * — all exact integers. Rules are emitted in BOTH directions
    * (confidence is asymmetric). `maxBasketSize` caps the quadratic
    * per-basket pair fan-out (a degenerate basket holding the whole
    * catalog would otherwise dominate the join — the hub-cap
    * discipline); `minShared` prunes the noise tail before the
    * marginal joins. Top-k under the strict
    * (lift desc, support desc, a, b) order via TakeOrdered.
    *
    * lift·n products must fit a long: sound while n_ab·N < 2^63 —
    * at larger N, mine per shard and merge, or widen to decimal.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minShared: Long = 2, maxBasketSize: Long = 10000,
                       topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val links = CacheRegistry.persist(
      df.select(col(basketCol).as("k"), col(itemCol).as("i")).distinct())
    // marginals, N and pairs ALL derive from the capped basket set, so
    // dropping a degenerate basket is one uniform data filter, not a
    // denominators-disagree special case
    val kept = CacheRegistry.persist(
      links.join(
        links.groupBy("k").agg(count(lit(1)).as("__bs"))
          .filter(col("__bs") <= maxBasketSize).select("k"), Seq("k")))
    val nBaskets = kept.select("k").distinct().agg(count(lit(1)).as("__nb"))
    val itemN = kept.groupBy("i").agg(count(lit(1)).as("__ni"))
    // shuffled-hash for the same reason as cooccurrenceEdges: a
    // self-join has no broadcastable smaller side
    val pairs = kept.as("x").hint("shuffle_hash")
      .join(kept.as("y").hint("shuffle_hash"),
        col("x.k") === col("y.k") && col("x.i") =!= col("y.i"))
      .groupBy(col("x.i").as("a"), col("y.i").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minShared)
    pairs
      .join(itemN.select(col("i").as("a"), col("__ni").as("n_a")), Seq("a"))
      .join(itemN.select(col("i").as("b"), col("__ni").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(1000000 * n_ab) div __nb").as("support_ppm"),
        expr("(1000000 * n_ab) div n_a").as("confidence_ppm"),
        expr("(1000000 * n_ab * __nb) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("support_ppm").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Link prediction over a bipartite graph (entity, unit): score an
    * UNLINKED entity pair by the units they share, weighting each
    * shared unit by the inverse of its popularity — the
    * resource-allocation index Σ_{u ∈ common} 1/deg(u), here exact in
    * micro units (10⁶ DIV deg: integer, engine-portable; the
    * real-valued RA/Adamic-Adar family differs only in the discount
    * curve). High-degree units (stopword-like hubs every entity
    * touches) carry near-zero signal but QUADRATIC join cost, so
    * `maxUnitDegree` drops them before the self-join — the same
    * hot-bucket census-and-blacklist discipline as the LSH operators,
    * and the reason this holds at 100 TB: intermediate size is
    * Σ_u min(deg u, cap)², not Σ_u deg(u)².
    *
    * Shuffle shape: one distinct, one degree agg (broadcast back),
    * the unit-keyed self-join, one (a, b) pair agg. Returns
    * (a, b, n_common, ra_micro) with a < b, n_common ≥ `minCommon`.
    */
  def resourceAllocationLinks(df: DataFrame, entityCol: String, unitCol: String,
                              minCommon: Long = 2,
                              maxUnitDegree: Long = 1000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be positive, got $minCommon")
    require(maxUnitDegree >= 2, s"maxUnitDegree must be >= 2, got $maxUnitDegree")
    // the distinct projection feeds the degree census and BOTH wedge
    // sides — persist it once ([[CacheRegistry]] lifecycle) instead of
    // recomputing the upstream distinct up to three times
    val links = CacheRegistry.persist(
      df.select(col(entityCol).as("ent"), col(unitCol).as("u")).distinct())
    val deg = links.groupBy("u").agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxUnitDegree)
    val kept = links.join(deg, Seq("u"))
    // the wedge self-join's build side is the WHOLE kept frame — as a
    // broadcast join the hash relation is built single-threaded on the
    // driver (measured r16: ~6 s of the gate's 7 s at sf0.1) and
    // shipped to every task; shuffled-hash builds per-partition tables
    // in parallel and the u-keyed exchange is links-sized, not
    // wedge-sized. The degree cap bounds per-key build state; a
    // shuffle partition holds every u hashed to it, so per-partition
    // build state is ~|kept|/numPartitions.
    kept.as("x").hint("shuffle_hash").join(kept.as("y").hint("shuffle_hash"),
        col("x.u") === col("y.u") && col("x.ent") < col("y.ent"))
      .select(col("x.ent").as("a"), col("y.ent").as("b"),
        col("x.__deg").as("__deg"))
      .withColumn("__c", expr("1000000L div __deg"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("__c")).cast("long").as("ra_micro"))
      .filter(col("n_common") >= minCommon)
  }
}
