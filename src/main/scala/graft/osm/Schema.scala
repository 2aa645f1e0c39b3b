package graft.osm

import org.apache.spark.sql.types._

/** Logical schemas of the 12 apidb tables consumed from the dump.
  *
  * Mirrors the reference's consumed-column model (reference
  * `src/types.cpp:5-14`, struct layout `include/types.hpp:29-240`):
  * the dump's column order is irrelevant — columns are matched by name
  * against the COPY header, unused dump columns (e.g. nodes.tile, user
  * PII) are never parsed. `dumpName == "*"` means "positional column 0"
  * (the per-table element-id column of the tag tables).
  *
  * No table has a sort key. The reference sorts each table by its key
  * prefix because its streaming merge joins read that order; here every
  * assembled frame is joined by a shuffle or a broadcast, tags are
  * ordered by `tagsArray`, and every sink sorts its own output, so a
  * load-time order would have no reader.
  */
object Schema {

  /** One consumed column: output field name, dump column name, type. */
  final case class Col(name: String, dumpName: String, dt: DataType, nullable: Boolean = false)

  /** One table: dump table name, consumed columns, and which column
    * (if any) feeds the global max-timestamp aggregate (reference
    * `include/table_extractor.hpp:15-19`).
    */
  final case class Table(name: String, cols: Seq[Col], maxTimeCol: Option[String] = None) {
    def schema: StructType = StructType(cols.map(c => StructField(c.name, c.dt, c.nullable)))
  }

  val users = Table("users", Seq(
    Col("id", "id", LongType),
    Col("display_name", "display_name", StringType),
    Col("data_public", "data_public", BooleanType)))

  val changesets = Table("changesets", Seq(
    Col("id", "id", LongType),
    Col("uid", "user_id", LongType),
    Col("created_at", "created_at", TimestampType),
    Col("min_lat", "min_lat", IntegerType, nullable = true),
    Col("max_lat", "max_lat", IntegerType, nullable = true),
    Col("min_lon", "min_lon", IntegerType, nullable = true),
    Col("max_lon", "max_lon", IntegerType, nullable = true),
    Col("closed_at", "closed_at", TimestampType),
    Col("num_changes", "num_changes", IntegerType)),
    maxTimeCol = Some("created_at"))

  val nodes = Table("nodes", Seq(
    Col("id", "node_id", LongType),
    Col("version", "version", LongType),
    Col("changeset_id", "changeset_id", LongType),
    Col("visible", "visible", BooleanType),
    Col("timestamp", "timestamp", TimestampType),
    Col("redaction_id", "redaction_id", LongType, nullable = true),
    Col("latitude", "latitude", IntegerType),
    Col("longitude", "longitude", IntegerType)),
    maxTimeCol = Some("timestamp"))

  val ways = Table("ways", Seq(
    Col("id", "way_id", LongType),
    Col("version", "version", LongType),
    Col("changeset_id", "changeset_id", LongType),
    Col("visible", "visible", BooleanType),
    Col("timestamp", "timestamp", TimestampType),
    Col("redaction_id", "redaction_id", LongType, nullable = true)),
    maxTimeCol = Some("timestamp"))

  val relations = Table("relations", Seq(
    Col("id", "relation_id", LongType),
    Col("version", "version", LongType),
    Col("changeset_id", "changeset_id", LongType),
    Col("visible", "visible", BooleanType),
    Col("timestamp", "timestamp", TimestampType),
    Col("redaction_id", "redaction_id", LongType, nullable = true)),
    maxTimeCol = Some("timestamp"))

  /** changeset tags: no version column (reference current_tag). */
  val changesetTags = Table("changeset_tags", Seq(
    Col("element_id", "*", LongType),
    Col("k", "k", StringType),
    Col("v", "v", StringType)))

  private def oldTags(table: String) = Table(table, Seq(
    Col("element_id", "*", LongType),
    Col("version", "version", LongType),
    Col("k", "k", StringType),
    Col("v", "v", StringType)))

  val nodeTags = oldTags("node_tags")
  val wayTags = oldTags("way_tags")
  val relationTags = oldTags("relation_tags")

  val wayNodes = Table("way_nodes", Seq(
    Col("way_id", "way_id", LongType),
    Col("version", "version", LongType),
    Col("sequence_id", "sequence_id", LongType),
    Col("node_id", "node_id", LongType)))

  val relationMembers = Table("relation_members", Seq(
    Col("relation_id", "relation_id", LongType),
    Col("version", "version", LongType),
    Col("sequence_id", "sequence_id", LongType),
    Col("member_type", "member_type", StringType), // Node | Way | Relation
    Col("member_id", "member_id", LongType),
    Col("member_role", "member_role", StringType)))

  val changesetComments = Table("changeset_comments", Seq(
    Col("changeset_id", "changeset_id", LongType),
    Col("created_at", "created_at", TimestampType),
    Col("author_id", "author_id", LongType),
    Col("body", "body", StringType),
    Col("visible", "visible", BooleanType)),
    maxTimeCol = Some("created_at"))

  val all: Seq[Table] = Seq(
    changesets, nodes, ways, relations,
    changesetTags, nodeTags, wayTags, relationTags,
    wayNodes, relationMembers, users, changesetComments)

  def byName(name: String): Table = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
}
