package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The r15 tiny-graph driver fast paths must be BIT-IDENTICAL to the
  * distributed paths — that is the whole contract that makes the gate
  * legal (the integer recurrences are engine-portable by design).
  * Each case runs the same operator twice on the same input: once
  * with the default cap (driver path fires — the input is tiny) and
  * once with `driverMaxEdges = 0` (distributed path forced), and
  * compares the full sorted row sets.
  */
class GraphsDriverPathSpec extends AnyFunSuite with SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
      .sortBy(_.mkString("\u0000"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      b.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(rows(a) === rows(b))
    CacheRegistry.releaseAll()
  }

  // a graph with multi-edge weight, a hub, a dangling node, a chain,
  // and an isolated 2-cycle — enough to exercise out-degree division,
  // max normalization, tie-breaks, peeling, and frontier rounds
  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 6L), (1L, 5L), (5L, 1L))
      .toDF("src", "dst")
  }

  test("pageRankMicro driver path equals distributed") {
    assertSame(
      Graphs.pageRankMicro(edges, iterations = 3),
      Graphs.pageRankMicro(edges, iterations = 3, driverMaxEdges = 0))
  }

  test("personalizedPageRank driver path equals distributed") {
    val s = spark
    import s.implicits._
    val seeds = Seq(1L, 6L, 99L).toDF("node") // 99 = seed outside graph
    assertSame(
      Graphs.personalizedPageRank(edges, seeds, iterations = 3),
      Graphs.personalizedPageRank(edges, seeds, iterations = 3,
        driverMaxEdges = 0))
  }

  test("hitsMicro driver path equals distributed") {
    assertSame(
      Graphs.hitsMicro(edges, iterations = 3),
      Graphs.hitsMicro(edges, iterations = 3, driverMaxEdges = 0))
  }

  test("bfsDistances driver path equals distributed") {
    val s = spark
    import s.implicits._
    val seeds = Seq(1L).toDF("node")
    // symmetrize like callers do for undirected semantics
    val bi = edges.unionByName(
      edges.select(org.apache.spark.sql.functions.col("dst").as("src"),
        org.apache.spark.sql.functions.col("src").as("dst")))
    assertSame(
      Graphs.bfsDistances(bi, seeds, maxHops = 3),
      Graphs.bfsDistances(bi, seeds, maxHops = 3, driverMaxEdges = 0))
  }

  test("labelPropagation driver path equals distributed") {
    assertSame(
      Graphs.labelPropagation(edges.toDF("a", "b"), rounds = 3),
      Graphs.labelPropagation(edges.toDF("a", "b"), rounds = 3,
        driverMaxEdges = 0))
  }

  test("kCore driver path equals distributed") {
    assertSame(
      Graphs.kCore(edges.toDF("a", "b"), k = 2, rounds = 3),
      Graphs.kCore(edges.toDF("a", "b"), k = 2, rounds = 3,
        driverMaxEdges = 0))
  }

  test("triangleCount driver path equals distributed") {
    val s = spark
    import s.implicits._
    // simple undirected graph, one row per edge: two triangles sharing
    // an edge plus a pendant
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("a", "b")
    assertSame(
      Graphs.triangleCount(tri),
      Graphs.triangleCount(tri, driverMaxEdges = 0))
  }
}
