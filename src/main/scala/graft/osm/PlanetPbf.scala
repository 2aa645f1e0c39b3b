package graft.osm

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.osm.pbf.PbfWriter

/** PBF planet sink (K2): feeds the sorted assembled DataFrames through
  * the sequential [[PbfWriter]].
  *
  * The PBF block/group layout is inherently sequential state (string
  * table per block, running deltas, byte-size flush heuristics), so —
  * like the reference's single writer thread — [[write]] encodes one
  * stream, after Spark does the join, attribution and sort distributed
  * and `toLocalIterator` streams the ranges in order. [[writeParallel]]
  * encodes each partition's blocks on the executors (blocks are
  * independent after the header): faster, but its block layout is not
  * the reference's.
  */
object PlanetPbf {

  private def tsSec(t: java.sql.Timestamp): Long = Math.floorDiv(t.getTime, 1000L)

  private def feedNode(w: PbfWriter, r: Row): Unit =
    w.node(r.getAs[Long]("id"), r.getAs[Boolean]("visible"),
      r.getAs[Int]("latitude"), r.getAs[Int]("longitude"),
      r.getAs[Long]("version"), tsSec(r.getAs[java.sql.Timestamp]("timestamp")),
      r.getAs[Long]("changeset_id"), r.getAs[java.lang.Long]("attr_uid"),
      r.getAs[String]("user_name"), tagsOf(r))

  private def feedWay(w: PbfWriter, r: Row): Unit =
    w.way(r.getAs[Long]("id"), r.getAs[Boolean]("visible"),
      r.getAs[Long]("version"), tsSec(r.getAs[java.sql.Timestamp]("timestamp")),
      r.getAs[Long]("changeset_id"), r.getAs[java.lang.Long]("attr_uid"),
      r.getAs[String]("user_name"),
      r.getAs[scala.collection.Seq[Long]]("nds").iterator, tagsOf(r))

  private def feedRelation(w: PbfWriter, r: Row): Unit =
    w.relation(r.getAs[Long]("id"), r.getAs[Boolean]("visible"),
      r.getAs[Long]("version"), tsSec(r.getAs[java.sql.Timestamp]("timestamp")),
      r.getAs[Long]("changeset_id"), r.getAs[java.lang.Long]("attr_uid"),
      r.getAs[String]("user_name"),
      r.getAs[scala.collection.Seq[Row]]("members").iterator.map(m =>
        (m.getAs[String]("mtype"), m.getAs[Long]("mref"), m.getAs[String]("mrole"))),
      tagsOf(r))

  /** Golden-exact sequential encoding (reference-identical block and
    * group layout).
    */
  def write(path: String, generator: String, history: Boolean, anon: Boolean,
            maxTime: Option[java.sql.Timestamp],
            nodes: DataFrame, ways: DataFrame, relations: DataFrame,
            denseNodes: Boolean = true,
            source: String = "http://www.openstreetmap.org/api/0.6"): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    val w = new PbfWriter(out, generator, history, anon, denseNodes, maxTime, source)
    try {
      nodes.orderBy(col("id"), col("version")).toLocalIterator()
        .forEachRemaining(feedNode(w, _))
      ways.orderBy(col("id"), col("version")).toLocalIterator()
        .forEachRemaining(feedWay(w, _))
      relations.orderBy(col("id"), col("version")).toLocalIterator()
        .forEachRemaining(feedRelation(w, _))
      w.finish()
    } finally out.close()
  }

  /** Scale-path parallel encoding: each sorted range partition encodes
    * its own complete sequence of OSMPBF blocks on the executors
    * (headerless PbfWriter — blocks are self-contained: per-block
    * string table, per-group delta resets), and the driver
    * concatenates header + parts bytewise. Semantically identical to
    * [[write]] (same elements, order, attribution — verified
    * structurally in the spec); block/group boundaries differ from the
    * reference's single-stream layout, so it is not golden-byte-exact.
    */
  def writeParallel(path: String, generator: String, history: Boolean, anon: Boolean,
                    maxTime: Option[java.sql.Timestamp],
                    nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                    denseNodes: Boolean = true,
                    source: String = "http://www.openstreetmap.org/api/0.6"): Unit = {
    val partsRoot = Paths.get(path + ".parts")
    PartSink.deleteRecursive(partsRoot)
    val sections = Seq(("nodes", nodes, feedNode _: (PbfWriter, Row) => Unit),
      ("ways", ways, feedWay _), ("relations", relations, feedRelation _))
    val written = sections.map { case (name, df, feed) =>
      val dir = partsRoot.resolve(name)
      val ids = PartSink.writeParts(df.orderBy(col("id"), col("version")), dir) { (it, os) =>
        val w = new PbfWriter(os, generator, history, anon, denseNodes, maxTime,
          source, writeHeader = false)
        it.foreach(feed(w, _))
        w.finish()
      }
      (dir, ids)
    }
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try {
      val headerOnly = new java.io.ByteArrayOutputStream()
      new PbfWriter(headerOnly, generator, history, anon, denseNodes, maxTime, source).finish()
      out.write(headerOnly.toByteArray)
      written.foreach { case (dir, ids) => PartSink.concat(out, dir, ids) }
    } finally out.close()
    PartSink.deleteRecursive(partsRoot)
  }

  private def tagsOf(r: Row): Iterator[(String, String)] =
    r.getAs[scala.collection.Seq[Row]]("tags").iterator
      .map(t => (t.getAs[String]("k"), t.getAs[String]("v")))
}
