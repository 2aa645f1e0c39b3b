package graft.operators

import graft.{SparkSpec, TriggerPlanProbe}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every operator behind the [[DriverPath]] gate must give the same
  * schema and rows on its driver path as on its distributed path —
  * the contract that makes the gate legal. Each case runs the
  * operator as-is, then under [[DriverPath.forceDistributed]], and
  * compares the sorted row sets.
  *
  * It also checks WHICH path each run took, so a fast path that
  * silently stopped firing cannot pass by comparing distributed with
  * distributed. The plan probes tell the paths apart: a loop operator
  * records its `#iter` key only on the distributed path, dsirWeights
  * records its census keys only on the driver path.
  */
class DriverPathSpec extends AnyFunSuite with SparkSpec {

  private case class Case(name: String, build: () => DataFrame,
                          tookDriver: Set[String] => Boolean,
                          driver: Boolean = true)

  private def loop(key: String): Set[String] => Boolean = !_.contains(s"$key#iter")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0000"))

  /** Build and collect one run; returns its schema, rows and the probe
    * keys recorded while it was built. */
  private def run(build: => DataFrame) = {
    TriggerPlanProbe.drain(): Unit
    val df = build
    val keys = TriggerPlanProbe.drain().keySet
    val out = (df.schema.fields.map(f => (f.name, f.dataType)).toSeq, rows(df), keys)
    CacheRegistry.releaseAll()
    out
  }

  // a graph with multi-edge weight, a hub, a dangling node, a chain,
  // and an isolated 2-cycle — enough to exercise out-degree division,
  // max normalization, tie-breaks, peeling, and frontier rounds
  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 6L), (1L, 5L), (5L, 1L))
      .toDF("src", "dst")
  }

  private def cases: Seq[Case] = {
    import spark.implicits._
    // symmetrize like callers do for undirected semantics
    def bi = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    // simple undirected graph, one row per edge: two triangles sharing
    // an edge plus a pendant
    def tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("a", "b")
    // deterministic pseudo-random pair graph: 300 edges over ~200
    // vertices, long chains + dense clumps + self-contained pairs
    def ccPairs = {
      val rnd = new scala.util.Random(42)
      (Seq.tabulate(100)(i => (i.toLong, (i + 1).toLong)) ++ // one long chain
        Seq.tabulate(100)(_ => { val a = 200 + rnd.nextInt(50); (a.toLong, (200 + rnd.nextInt(50)).toLong) }) ++
        Seq.tabulate(100)(i => (1000L + 2 * i, 1001L + 2 * i)))            // isolated pairs
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
    }
    def docs = graft.Tables.documents(spark, graft.PlanFingerprint.DataDir)
    Seq(
      Case("pageRankMicro", () => Graphs.pageRankMicro(edges, iterations = 3),
        loop("page_rank_micro")),
      Case("personalizedPageRank", () => Graphs.personalizedPageRank(edges,
        Seq(1L, 6L, 99L).toDF("node"), iterations = 3), // 99 = seed outside graph
        loop("personalized_page_rank")),
      Case("hitsMicro", () => Graphs.hitsMicro(edges, iterations = 3),
        loop("hits_micro_hub")),
      Case("bfsDistances", () => Graphs.bfsDistances(bi, Seq(1L).toDF("node"), maxHops = 3),
        loop("bfs_distances")),
      Case("labelPropagation", () => Graphs.labelPropagation(edges.toDF("a", "b"), rounds = 3),
        loop("label_propagation")),
      Case("kCore", () => Graphs.kCore(edges.toDF("a", "b"), k = 2, rounds = 3),
        loop("k_core")),
      Case("triangleCount", () => Graphs.triangleCount(tri), loop("triangle_count")),
      Case("connectedComponents", () => Dedup.connectedComponents(ccPairs),
        loop("connected_components")),
      // a null id fails the gate's guard and falls back, not an NPE
      Case("connectedComponents, null id", () => Dedup.connectedComponents(
        Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (3L, 4L))
          .toDF("id_a", "id_b")),
        loop("connected_components"), driver = false),
      Case("dsirWeights", () => Sampling.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", col("text"), dims = 64),
        _.contains("dsir_census_raw#iter")))
  }

  cases.foreach { c =>
    val path = if (c.driver) "driver path" else "fallback"
    test(s"${c.name}: $path equals the distributed path") {
      TriggerPlanProbe.enabled = true
      try {
        val (schema, got, keys) = run(c.build())
        assert(c.tookDriver(keys) === c.driver, s"took the wrong path; probes: $keys")
        val (refSchema, ref, refKeys) = run(DriverPath.forceDistributed(c.build()))
        assert(!c.tookDriver(refKeys), s"forced run took the driver path; probes: $refKeys")
        assert(schema === refSchema)
        assert(got.nonEmpty && got === ref)
      } finally TriggerPlanProbe.enabled = false
    }
  }
}
