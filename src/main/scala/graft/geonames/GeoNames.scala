package graft.geonames

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{PrefixMatch, TemplateFilters}

/** GeoNames domain pipeline — the reference's `transform` step
  * (geonames.js:223–254) re-expressed as a single declarative Spark plan.
  *
  * Fidelity notes (SURVEY.md §1.4):
  *   - Filter: OR of conjunctive-equality templates, with the extra-URI
  *     whitelist disjunct *inside* the per-template evaluation — so an
  *     empty template list passes nothing, whitelist included
  *     (geonames.js:180–182, 243–245).
  *   - Classification: longest-prefix match of `featureCode` against
  *     `config.types`; unmatched rows are dropped (geonames.js:129–134).
  *   - Relations: emitted only for typed rows whose 5 admin-key values
  *     (country, admin1..4) have exactly 3 truthy entries — keyed by the
  *     truthy values joined with '.', probed into the admin2 dimension;
  *     if the parent is the row itself, re-probed into admin1 on the
  *     first 2 values (geonames.js:100–123).
  *   - DOCUMENTED DEVIATION: the reference crashes on a missing admin2
  *     key (`parentObj.geonameid` on undefined, geonames.js:107); we
  *     left-join and drop relations with no resolvable parent.
  *   - Output: NDJSON envelopes {type: 'pit'|'relation', obj} with the
  *     reference's exact field order (geonames.js:137–170).
  *   - DOCUMENTED DEVIATION: the reference's LINE order equals input
  *     file order (strictly sequential writer, geonames.js:249–250); a
  *     distributed sink writes partition-parallel, so line order is not
  *     guaranteed. NDJSON consumers (the Histograph importer) treat
  *     records independently; order-sensitive consumers should sort on
  *     `obj.uri`.
  *
  * Scale design: both admin dimensions are broadcast (≈100k rows total at
  * full GeoNames scale); the main table is never shuffled and is read
  * once — the whole plan is scan → filter + classify → 2 broadcast left
  * joins → render pit and relation lines → explode → sink, i.e. one
  * map-only stage over the 8M-row (or 100 TB) fact side.
  */
object GeoNames {

  val baseUri = "http://sws.geonames.org/"
  val baseUrl = "http://download.geonames.org/export/dump/"

  /** geonames.js:24–44. All strings at the bronze layer (SURVEY §1.2);
    * typed projections happen downstream so a malformed row can never
    * fail the scan under ANSI mode.
    */
  val allCountriesSchema: StructType = StructType(Seq(
    "geonameid", "name", "asciiname", "alternatenames", "latitude",
    "longitude", "featureClass", "featureCode", "countryCode", "cc2",
    "admin1Code", "admin2Code", "admin3Code", "admin4Code", "population",
    "elevation", "dem", "timezone", "modificationDate")
    .map(StructField(_, StringType)))

  /** geonames.js:46–51. */
  val adminCodesSchema: StructType = StructType(Seq(
    "code", "name", "asciiname", "geonameid").map(StructField(_, StringType)))

  private val adminKeys =
    Seq("countryCode", "admin1Code", "admin2Code", "admin3Code", "admin4Code")
  private val dataFields =
    Seq("featureClass", "featureCode", "countryCode", "cc2",
      "admin1Code", "admin2Code", "admin3Code", "admin4Code")

  /** @param filters    OR-of-equality templates (geonames.js:243–245)
    * @param types      featureCode-prefix → output type map (geonames.js:129–132)
    * @param liesIn     relation type label (config.relations.liesIn)
    * @param extraUris  full-URI whitelist; ids are extracted by stripping
    *                   [[baseUri]] (geonames.js:232–237)
    */
  case class Config(
    filters: Seq[Map[String, String]],
    types: Map[String, String],
    liesIn: String = "hg:liesIn",
    extraUris: Seq[String] = Nil)

  // ------------------------------------------------------------- readers

  /** TSV scan with fixed positional schema; GeoNames files are unquoted,
    * so quoting is disabled (a stray '"' must not glue lines together).
    * Empty fields read as "" (not null) to mirror JS `R.zipObj` semantics:
    * present-but-empty, falsy for truthiness checks, serialized as "".
    */
  private def readTsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("quote", "\u0000") // disable quote handling entirely
      .schema(schema)
      .csv(path)
      .na.fill("", schema.fieldNames)

  /** Main table scan; drops blank trailing lines (which the reference
    * passes to its filter and drops there — same end state).
    */
  def readAllCountries(spark: SparkSession, path: String): DataFrame =
    readTsv(spark, path, allCountriesSchema)
      .where(length(col("geonameid")) > 0)

  /** Admin-code dimension with the reference's last-write-wins on
    * duplicate codes (geonames.js:75–77 overwrites the map entry): keep
    * the row with the highest file position per code.
    */
  def readAdminCodes(spark: SparkSession, path: String): DataFrame = {
    val raw = readTsv(spark, path, adminCodesSchema)
      .where(length(col("code")) > 0)
      .withColumn("_pos", monotonically_increasing_id())
    raw.groupBy(col("code"))
      .agg(max_by(col("geonameid"), col("_pos")).as("geonameid"))
  }

  // ----------------------------------------------------------- transform

  /** Truthy admin-code values in key order (JS `R.filter(R.identity,
    * R.values(R.pick(adminKeys, obj)))`, geonames.js:103). `array_remove`
    * rather than a `filter` lambda: higher-order functions have no
    * generated code, and one in the main stage would split it out of
    * whole-stage codegen.
    */
  private def truthyAdminCodes: Column =
    array_remove(array(adminKeys.map(k => coalesce(col(k), lit(""))): _*), "")

  /** The filtered, classified core: input rows + `type` column, untyped
    * rows dropped. Shared by pits and relations (relations are derived
    * only from typed rows — getRelations runs inside the `if (type)`
    * branch, geonames.js:165).
    */
  def classified(places: DataFrame, config: Config): DataFrame = {
    val ids = config.extraUris.map(_.replace(baseUri, ""))
    places
      .where(TemplateFilters.anyTemplateOrIds(
        config.filters.map(_.toMap[String, Any]), col("geonameid"), ids))
      .withColumn("type", PrefixMatch.classify(col("featureCode"), config.types))
      .where(col("type").isNotNull)
  }

  /** ECMAScript Number→String (radix 10) rendering of a double, as
    * JSON.stringify emits it: "null" for non-finite (parseFloat("") is
    * NaN and stringifies to JSON null), no ".0" on integral values,
    * "0" for negative zero, positional notation for 1e-6 ≤ |v| < 1e21,
    * exponent form elsewhere. The reference serializes parseFloat
    * results through JSON.stringify (geonames.js:141–147), and Java
    * 17's Double.toString differs exactly there ("-121.0" vs "-121",
    * E-notation below 1e-3) — caught by the true-reference run
    * (REFPARITY_r13.json), invisible to the JS proxy, whose corpus had
    * no integral coordinates. Kernel and shortest-digit selection live
    * in [[JsNum]]; this forwarder keeps the spec's call site.
    */
  private[geonames] def jsNumberString(d: Double): String = JsNum.render(d)

  private def jsNum(c: Column): Column =
    coalesce(
      org.apache.spark.sql.graft.ColumnBridge.column(
        JsNumberStringExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(c))),
      lit("null"))

  /** The pit object's fields over a classified row, in the reference's
    * order: uri, name, type, geometry, data (geonames.js:137–158).
    */
  private def pitFields: Seq[Column] = Seq(
    concat(lit(baseUri), col("geonameid")).as("uri"),
    col("name"),
    col("type"),
    struct(
      lit("Point").as("type"),
      // pre-rendered JS-style number strings; envelopes() splices
      // them back to bare JSON numbers. try_cast, not cast: the
      // reference's parseFloat("") is NaN (→ JSON null), where the
      // ANSI cast would abort the whole job on one empty field.
      // (parseFloat's prefix-parse of garbage like "3.5abc" is NOT
      // mirrored — no such values exist in GeoNames dumps, and
      // silently truncating them is worse than a null.)
      array(jsNum(expr("try_cast(longitude as double)")),
        jsNum(expr("try_cast(latitude as double)"))).as("coordinates")).as("geometry"),
    struct(dataFields.map(col): _*).as("data"))

  /** Place-In-Time records with the reference's exact nested shape and
    * field order (geonames.js:137–158).
    */
  def pits(places: DataFrame, config: Config): DataFrame =
    classified(places, config).select(col("geonameid") +: pitFields: _*)

  /** Adds the liesIn parent of each classified row as `_parent`
    * (geonames.js:100–123). Only rows with exactly 3 truthy admin codes
    * get probe keys: `_k2`, the codes joined with '.', probes admin2, and
    * `_k1`, the first two, probes admin1 — the fallback taken when the
    * admin2 parent is the row itself. Both dimensions are broadcast and
    * left-joined, so every classified row keeps its pit; `_parent` is
    * null when the row has no relation or its parent cannot be resolved
    * (see DEVIATION above).
    */
  private def withParent(rows: DataFrame, admin1: DataFrame, admin2: DataFrame): DataFrame = {
    val three = size(col("_codes")) === 3
    val keyed = rows.withColumn("_codes", truthyAdminCodes)
      .withColumn("_k2", when(three, array_join(col("_codes"), ".")))
      .withColumn("_k1", when(three, array_join(slice(col("_codes"), 1, 2), ".")))
    val a2 = broadcast(admin2.select(col("code").as("_k2"), col("geonameid").as("_p2")))
    val a1 = broadcast(admin1.select(col("code").as("_k1"), col("geonameid").as("_p1")))
    keyed.join(a2, Seq("_k2"), "left").join(a1, Seq("_k1"), "left")
      .withColumn("_parent",
        when(col("_p2") === col("geonameid"), col("_p1")).otherwise(col("_p2")))
  }

  /** The relation object's fields over a row with a `_parent`, in the
    * reference's order: from, to, type.
    */
  private def relationFields(config: Config): Seq[Column] = Seq(
    concat(lit(baseUri), col("geonameid")).as("from"),
    concat(lit(baseUri), col("_parent")).as("to"),
    lit(config.liesIn).as("type"))

  /** liesIn edges (geonames.js:100–123): exactly-3-truthy admin codes,
    * admin2 probe with admin1 fallback when the parent is the row itself.
    * Both dimension joins are broadcast; unresolvable parents are dropped
    * (see DEVIATION above). `admin1` and `admin2` must hold one row per
    * `code`, as [[readAdminCodes]] returns them; a repeated code repeats
    * the edge.
    */
  def relations(places: DataFrame, admin1: DataFrame, admin2: DataFrame,
                config: Config): DataFrame =
    withParent(classified(places, config), admin1, admin2)
      .where(col("_parent").isNotNull)
      .select(relationFields(config): _*)

  /** Tagged NDJSON envelope stream, each line `{"type":...,"obj":{...}}`
    * (geonames.js:160–170): per classified row its pit line, followed by
    * its relation line when it has a resolvable parent. One pass over
    * `places` — classify, broadcast-probe the parents, render both lines,
    * explode them and drop the missing relation line — giving one
    * DataFrame with a single `value` string column, ready for
    * `df.write.text`. `admin1` and `admin2` must hold one row per `code`,
    * as [[readAdminCodes]] returns them: the parents are left-joined into
    * every classified row, so a repeated code repeats that row's pit line
    * as well as its relation line.
    */
  def envelopes(places: DataFrame, admin1: DataFrame, admin2: DataFrame,
                config: Config): DataFrame = {
    // coordinates are pre-rendered JS-number STRINGS inside the struct
    // (see pitFields); unquote them structurally. The anchor is safe: an
    // unescaped `"coordinates":["` sequence cannot occur inside a JSON
    // string value (to_json escapes quotes as \"), and the rendered
    // numbers contain no quotes.
    val pitLine = regexp_replace(
      to_json(struct(lit("pit").as("type"), struct(pitFields: _*).as("obj"))),
      "\"coordinates\":\\[\"([^\"]*)\",\"([^\"]*)\"\\]",
      "\"coordinates\":[$1,$2]")
    val relationLine = when(col("_parent").isNotNull,
      to_json(struct(lit("relation").as("type"),
        struct(relationFields(config): _*).as("obj"))))
    // both lines are rendered in one codegen'd projection; the explode
    // after it only moves the two strings
    withParent(classified(places, config), admin1, admin2)
      .select(pitLine.as("_pit"), relationLine.as("_rel"))
      .select(explode(array(col("_pit"), col("_rel"))).as("value"))
      .where(col("value").isNotNull)
  }

  /** Bronze materialization of the main table, partitioned by country —
    * at full GeoNames scale (or 100 TB) partition pruning makes a
    * one-country analysis touch ~1/250 of the data. The partition column
    * is a sanitized COPY (`country_part`) so the original `countryCode`
    * (including empty values) round-trips unchanged.
    */
  def writeBronze(places: DataFrame, path: String, filesPerPartition: Int = 1): Unit =
    graft.sources.Layout.writePartitioned(
      places.withColumn("country_part",
        when(length(col("countryCode")) > 0, col("countryCode")).otherwise(lit("NONE"))),
      path, Seq("country_part"), filesPerPartition)

  def readBronze(spark: SparkSession, path: String): DataFrame =
    graft.sources.Layout.readPartitioned(spark, path).drop("country_part")

  /** Prune-friendly one-country slice: filter on the PARTITION column so
    * pruning happens at planning time (directory-level skip).
    */
  def readBronzeCountry(spark: SparkSession, path: String, country: String): DataFrame =
    graft.sources.Layout.readPartitioned(spark, path)
      .where(col("country_part") === country).drop("country_part")

  /** Parse an NDJSON envelope output back into typed (pits, relations)
    * frames — the inverse of [[envelopes]], for downstream consumers
    * (the Histograph importer role) and round-trip tests.
    */
  def readEnvelopes(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val pitSchema = StructType(Seq(
      StructField("uri", StringType),
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", ArrayType(DoubleType))))),
      StructField("data", StructType(dataFields.map(StructField(_, StringType))))))
    val relSchema = StructType(Seq(
      StructField("from", StringType),
      StructField("to", StringType),
      StructField("type", StringType)))
    val raw = spark.read.text(path)
      .select(get_json_object(col("value"), "$.type").as("rec_type"), col("value"))
    val pits = raw.where(col("rec_type") === "pit")
      .select(from_json(get_json_object(col("value"), "$.obj"), pitSchema).as("o"))
      .select(col("o.*"))
    val rels = raw.where(col("rec_type") === "relation")
      .select(from_json(get_json_object(col("value"), "$.obj"), relSchema).as("o"))
      .select(col("o.*"))
    (pits, rels)
  }

  /** The full `transform` step (geonames.js:223–254): read the three
    * files from `prevDir`, write NDJSON to `outPath`.
    */
  def transform(spark: SparkSession, prevDir: String, outPath: String,
                config: Config): Unit = {
    val places = readAllCountries(spark, s"$prevDir/allCountries.txt")
    val admin1 = readAdminCodes(spark, s"$prevDir/admin1CodesASCII.txt")
    val admin2 = readAdminCodes(spark, s"$prevDir/admin2Codes.txt")
    envelopes(places, admin1, admin2, config).write.mode("overwrite").text(outPath)
  }

  /** Staged pipeline for the 100 TB tier (the `dirs.previous` →
    * `dirs.current` contract, geonames.js:224/230, with a real lakehouse
    * layer in between): TSV staging → country-partitioned parquet bronze
    * (scan once, query many — pruned, columnar, splittable) → transform.
    * Equivalent output to [[transform]]; the bronze write is the extra
    * cost that every later query amortizes.
    */
  def transformStaged(spark: SparkSession, stagingDir: String, bronzePath: String,
                      outPath: String, config: Config): Unit = {
    writeBronze(readAllCountries(spark, s"$stagingDir/allCountries.txt"), bronzePath)
    val places = readBronze(spark, bronzePath)
    val admin1 = readAdminCodes(spark, s"$stagingDir/admin1CodesASCII.txt")
    val admin2 = readAdminCodes(spark, s"$stagingDir/admin2Codes.txt")
    envelopes(places, admin1, admin2, config).write.mode("overwrite").text(outPath)
  }
}
