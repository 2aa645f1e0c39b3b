package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Assembly of raw tables into canonical "assembled element" DataFrames
  * — the reusable heart of the engine (reference streaming sort-merge
  * joins J1–J5 + filters F1/F2/F5/F8, `src/copy_elements.cpp:166-337`).
  *
  * Spark shape: the reference's cursor-based merge joins become
  * join + `collect_list` aggregations; the uid→name and changeset→uid
  * in-memory maps become joins (Catalyst broadcasts them when small; at
  * planet scale they stay shuffle joins — both correct).
  *
  * Tag ordering: tags sort by the UTF-8 *bytes* of the key (reference
  * sort-key encoding makes byte order == logical order,
  * `src/extract_kv.cpp`; advertised in its README). Sorting structs led
  * by `encode(k,'UTF-8')` reproduces that exactly — Spark's BinaryType
  * ordering is unsigned bytewise, while StringType ordering would differ
  * for supplementary-plane characters.
  */
object Assemble {

  /** F8/J4: uid → display_name for public users only. */
  def publicUsers(db: OsmDb): DataFrame =
    db.users.filter(col("data_public"))
      .select(col("id").as("user_uid"), col("display_name").as("user_name"))

  /** J5: changeset_id → uid. Negative-id changesets are excluded, as
    * in the reference's element pass (F2 applies to changesets too), so
    * an element referencing one stays unattributed — and trips the PBF
    * missing-changeset guard — exactly like the reference.
    */
  def changesetUid(db: OsmDb): DataFrame =
    db.changesets.filter(col("id") >= 0)
      .select(col("id").as("cs_id"), col("uid").as("cs_uid"))

  /** J1: per-(element[,version]) tag array ordered by key bytes. */
  def tagsArray(tags: DataFrame, withVersion: Boolean): DataFrame = {
    val keys = if (withVersion) Seq("element_id", "version") else Seq("element_id")
    tags.groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(
          encode(col("k"), "UTF-8").as("kb"), col("k"), col("v")))),
        x => struct(x.getField("k").as("k"), x.getField("v").as("v"))).as("tags"))
  }

  private val noTags = array().cast("array<struct<k:string,v:string>>")

  /** Attach user attribution through changeset → public user (J4+J5).
    * `user_name` null ⇔ changeset missing or its uid non-public — the
    * renderer omits user/uid in exactly that case
    * (`src/xml_writer.cpp:376-386`).
    */
  private def withAttribution(db: OsmDb, el: DataFrame): DataFrame =
    el.join(changesetUid(db), el("changeset_id") === col("cs_id"), "left_outer")
      .join(publicUsers(db), col("cs_uid") === col("user_uid"), "left_outer")
      .drop("cs_id", "user_uid")
      .withColumnRenamed("cs_uid", "attr_uid")

  /** F1+F2: drop redacted versions and negative ids — applies to every
    * output including history (`src/copy_elements.cpp:182-218`).
    */
  private def guard(el: DataFrame): Column =
    el("id") >= 0 && (if (el.columns.contains("redaction_id")) el("redaction_id").isNull else lit(true))

  /** Assembled changesets: tags + visible comments (with author name
    * when public) + submitter attribution. `comments_count` counts ALL
    * visible comments; the discussion renders only public-author ones
    * (`src/xml_writer.cpp:485-531`).
    */
  def changesets(db: OsmDb): DataFrame = {
    val cs = db.changesets.filter(col("id") >= 0)
    val tags = tagsArray(db.table("changeset_tags"), withVersion = false)
    val comments = db.table("changeset_comments")
      .filter(col("visible"))
      .join(publicUsers(db), col("author_id") === col("user_uid"), "left_outer")
      .groupBy(col("changeset_id"))
      .agg(sort_array(collect_list(struct(
        col("created_at").as("at"), col("author_id").as("author_id"),
        col("user_name").as("author_name"), col("body").as("body")))).as("comments"))
    cs.join(tags, cs("id") === tags("element_id"), "left_outer").drop("element_id")
      .join(comments, cs("id") === comments("changeset_id"), "left_outer").drop("changeset_id")
      .join(publicUsers(db), cs("uid") === col("user_uid"), "left_outer").drop("user_uid")
      .withColumn("tags", coalesce(col("tags"), noTags))
      .withColumn("comments", coalesce(col("comments"),
        array().cast("array<struct<at:timestamp,author_id:bigint,author_name:string,body:string>>")))
  }

  /** Left-join the per-(element, version) child frame
    * `child(idCol, version, name)` onto the elements `el`, dropping the
    * child's keys; an element with no child rows gets an empty array of
    * the child column's own type.
    */
  private def attach(el: DataFrame, child: DataFrame, idCol: String,
                     name: String): DataFrame = {
    val arr = child.schema(name).dataType.asInstanceOf[ArrayType]
    el.join(child, el("id") === child(idCol) && el("version") === child("version"), "left_outer")
      .drop(child(idCol)).drop(child("version"))
      .withColumn(name, coalesce(col(name), array().cast(arr.copy(containsNull = true))))
  }

  /** Assembled node history: every surviving version with tags + attribution. */
  def nodes(db: OsmDb): DataFrame = {
    val n = db.nodes
    val el = n.filter(guard(n))
    val tags = tagsArray(db.table("node_tags"), withVersion = true)
    withAttribution(db, attach(el, tags, "element_id", "tags"))
  }

  /** Assembled way history: + ordered node refs (J2, sequence order). */
  def ways(db: OsmDb): DataFrame = {
    val w = db.ways
    val el = w.filter(guard(w))
    val tags = tagsArray(db.table("way_tags"), withVersion = true)
    val nds = db.table("way_nodes")
      .groupBy(col("way_id"), col("version"))
      .agg(transform(
        array_sort(collect_list(struct(col("sequence_id"), col("node_id")))),
        x => x.getField("node_id")).as("nds"))
    withAttribution(db,
      attach(attach(el, tags, "element_id", "tags"), nds, "way_id", "nds"))
  }

  /** Assembled relation history: + ordered members (J2). */
  def relations(db: OsmDb): DataFrame = {
    val r = db.relations
    val el = r.filter(guard(r))
    val tags = tagsArray(db.table("relation_tags"), withVersion = true)
    val members = db.table("relation_members")
      .groupBy(col("relation_id"), col("version"))
      .agg(transform(
        array_sort(collect_list(struct(
          col("sequence_id"), col("member_type"), col("member_id"), col("member_role")))),
        x => struct(x.getField("member_type").as("mtype"),
          x.getField("member_id").as("mref"),
          x.getField("member_role").as("mrole"))).as("members"))
    withAttribution(db,
      attach(attach(el, tags, "element_id", "tags"), members, "relation_id", "members"))
  }

  /** F3: latest version per id, then visible only ("current" view).
    * groupBy+max_by partial-aggregates map-side — the scale-preferred
    * plan vs. a row_number window (see operators.Relational).
    */
  def current(history: DataFrame): DataFrame = {
    val payload = struct(history.columns.toIndexedSeq.map(col): _*)
    history.groupBy(col("id"))
      .agg(max_by(payload, col("version")).as("r"))
      .select(history.columns.toIndexedSeq.map(c => col(s"r.$c")): _*)
      .filter(col("visible"))
  }
}
