package graft.schemas

import org.apache.spark.sql.types._

/** Declared output schemas of the 7 discogs tables (SURVEY §1.4,
  * FIXTURES §2; reference DDL under `sql/tables/`) plus the explicit
  * XML read schemas per entity.
  *
  * Read schemas are explicit for two reasons: (1) schema inference
  * over a 10 GB gz XML dump would force a second full pass (the
  * reference does a two-pass open too, quirk Q11 — we don't); (2) the
  * dump reader (`sources.RecordParser`) walks each record driven by
  * its entity's read schema and skips every undeclared element, the
  * analogue of the reference FSM's catch-all skips (`release.rs:181`).
  * The reader follows Spark's XML reader's conventions for them.
  *
  * Parity policy (FIXTURES §2): absent scalar → '' / 0 (the reference
  * writes `String::new()` / 0 defaults, `release.rs:74-88`), arrays →
  * empty array; `master_id = 0` means "no master" and joins must
  * treat it as no-match.
  */
object Discogs {

  // ---- XML read schemas (attributePrefix "_", valueTag "_VALUE") ----

  private def s(fields: StructField*): StructType = StructType(fields)
  private def f(n: String, t: DataType): StructField = StructField(n, t, nullable = true)
  private def arr(t: DataType): ArrayType = ArrayType(t, containsNull = true)

  /** `<release id status>` subtree — only the loaded fields
    * (reference FSM states `release.rs:90-108`).
    *
    * ATTRIBUTE leaves are declared STRING even when semantically
    * numeric/boolean: attributes convert before the per-field error
    * handling (in Spark's XML reader, whose rows the dump reader
    * gives), so one `id="oops"` would reject its record with every
    * field null, and rejects() would have no id to report. A bad
    * element value rejects its record too, keeping the fields read
    * before it. The readers try_cast the string attributes and route
    * null ids to the reject policy.
    */
  val releaseXmlSchema: StructType = s(
    f("_id", StringType),
    f("_status", StringType),
    f("title", StringType),
    f("country", StringType),
    f("released", StringType),
    f("notes", StringType),
    f("data_quality", StringType),
    f("genres", s(f("genre", arr(StringType)))),
    f("styles", s(f("style", arr(StringType)))),
    f("master_id", s(f("_VALUE", IntegerType), f("_is_main_release", StringType))),
    f("labels", s(f("label", arr(s(
      f("_name", StringType), f("_catno", StringType), f("_id", StringType)))))),
    f("videos", s(f("video", arr(s(
      f("_src", StringType), f("_duration", StringType),
      f("_embed", StringType), f("title", StringType)))))))

  /** `<artist>` subtree (reference `artist.rs:55-70`); alias/member ids
    * are dropped (SURVEY §1.5), only text kept. */
  val artistXmlSchema: StructType = s(
    // STRING like the attribute ids: an integer id that does not
    // convert would reject the record without its raw id text; the
    // readers try_cast and reject nulls uniformly
    f("id", StringType),
    f("name", StringType),
    f("realname", StringType),
    f("profile", StringType),
    f("data_quality", StringType),
    f("urls", s(f("url", arr(StringType)))),
    f("namevariations", s(f("name", arr(StringType)))),
    f("aliases", s(f("name", arr(s(f("_VALUE", StringType), f("_id", StringType)))))),
    f("members", s(
      f("id", arr(LongType)),
      f("name", arr(s(f("_VALUE", StringType), f("_id", StringType)))))))

  /** `<label>` subtree (reference `label.rs:52-65`). */
  val labelXmlSchema: StructType = s(
    f("id", StringType), // see artistXmlSchema: uniform reject triage
    f("name", StringType),
    f("contactinfo", StringType),
    f("profile", StringType),
    f("data_quality", StringType),
    f("parentLabel", s(f("_VALUE", StringType), f("_id", StringType))),
    f("urls", s(f("url", arr(StringType)))),
    f("sublabels", s(f("label", arr(s(f("_VALUE", StringType), f("_id", StringType)))))))

  /** `<master id>` subtree (reference `master.rs:81-94`; we also load
    * year/genres/styles/notes which the reference silently drops —
    * quirk Q9, declared-semantics policy). */
  val masterXmlSchema: StructType = s(
    f("_id", StringType),
    f("main_release", IntegerType),
    f("title", StringType),
    f("year", IntegerType),
    f("notes", StringType),
    f("data_quality", StringType),
    f("genres", s(f("genre", arr(StringType)))),
    f("styles", s(f("style", arr(StringType)))),
    f("artists", s(f("artist", arr(s(
      f("id", IntegerType), f("name", StringType),
      f("anv", StringType), f("role", StringType)))))))

  // ---- flat output schemas (what the sinks write; FIXTURES §2) ----
  // The single declared output contract: DiscogsXmlSpec checks the
  // names and types of every loaded table against these.

  val releaseSchema: StructType = s(
    StructField("id", IntegerType, nullable = false),
    f("status", StringType), f("title", StringType), f("country", StringType),
    f("released", StringType), f("notes", StringType),
    f("genres", arr(StringType)), f("styles", arr(StringType)),
    f("master_id", IntegerType), f("data_quality", StringType))

  val releaseLabelSchema: StructType = s(
    f("release_id", IntegerType), f("label", StringType),
    f("catno", StringType), f("label_id", IntegerType))

  val releaseVideoSchema: StructType = s(
    f("release_id", IntegerType), f("duration", IntegerType),
    f("src", StringType), f("title", StringType))

  val artistSchema: StructType = s(
    StructField("id", IntegerType, nullable = false),
    f("name", StringType), f("real_name", StringType), f("profile", StringType),
    f("data_quality", StringType), f("name_variations", arr(StringType)),
    f("urls", arr(StringType)), f("aliases", arr(StringType)),
    f("members", arr(StringType)))

  val labelSchema: StructType = s(
    StructField("id", IntegerType, nullable = false),
    f("name", StringType), f("contactinfo", StringType), f("profile", StringType),
    f("parent_label", StringType), f("sublabels", arr(StringType)),
    f("urls", arr(StringType)), f("data_quality", StringType))

  val masterSchema: StructType = s(
    StructField("id", IntegerType, nullable = false),
    f("title", StringType), f("release_id", IntegerType), f("year", IntegerType),
    f("notes", StringType), f("genres", arr(StringType)),
    f("styles", arr(StringType)), f("data_quality", StringType))

  val masterArtistSchema: StructType = s(
    f("artist_id", IntegerType), f("master_id", IntegerType),
    f("name", StringType), f("anv", StringType), f("role", StringType))

  /** Every output table's schema, by table name. */
  val tableSchemas: Map[String, StructType] = Map(
    "release" -> releaseSchema, "release_label" -> releaseLabelSchema,
    "release_video" -> releaseVideoSchema, "artist" -> artistSchema,
    "label" -> labelSchema, "master" -> masterSchema,
    "master_artist" -> masterArtistSchema)
}
