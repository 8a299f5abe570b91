package graft.geonames

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** End-to-end pipeline test on a synthetic GeoNames extract exercising
  * every SURVEY §1.4 edge case, plus a golden NDJSON comparison.
  */
class GeoNamesSpec extends SparkSpec {
  import spark.implicits._

  // 19-col TSV rows (tab-joined below). Cast of characters:
  //  1001 PPL    in US.CA.075  — plain place, parent = admin2 075
  //  1002 ADM2   in US.CA.075  — IS admin2 075 → fallback to admin1 US.CA
  //  1003 ADM2H  in US.CA.XXX  — prefix-classified; admin2 key missing → no relation
  //  1004 XYZ    — no type match → dropped entirely
  //  1005 PPL DE — fails the US filter, not whitelisted → dropped
  //  1006 STM DE — fails the US filter but whitelisted via extraUris
  //  1007 PPL US — only 2 truthy admin codes → pit, no relation
  private val rows = Seq(
    Seq("1001", "Mission District", "Mission District", "", "37.76", "-122.42", "P", "PPL", "US", "", "CA", "075", "", "", "0", "", "10", "America/Los_Angeles", "2024-01-01"),
    Seq("1002", "San Francisco County", "San Francisco County", "", "37.78", "-122.44", "A", "ADM2", "US", "", "CA", "075", "", "", "0", "", "5", "America/Los_Angeles", "2024-01-02"),
    Seq("1003", "Old District", "Old District", "", "37.70", "-122.40", "A", "ADM2H", "US", "", "CA", "XXX", "", "", "0", "", "7", "America/Los_Angeles", "2024-01-03"),
    Seq("1004", "Mystery Spot", "Mystery Spot", "", "36.99", "-122.00", "X", "XYZ", "US", "", "CA", "", "", "", "0", "", "3", "America/Los_Angeles", "2024-01-04"),
    Seq("1005", "Berlin Spot", "Berlin Spot", "", "52.52", "13.40", "P", "PPL", "DE", "", "BE", "", "", "", "0", "", "34", "Europe/Berlin", "2024-01-05"),
    Seq("1006", "Spree", "Spree", "", "52.53", "13.41", "H", "STM", "DE", "", "BE", "", "", "", "0", "", "30", "Europe/Berlin", "2024-01-06"),
    Seq("1007", "Lone Place", "Lone Place", "", "38.00", "-121.00", "P", "PPL", "US", "", "CA", "", "", "", "0", "", "12", "America/Los_Angeles", "2024-01-07"))

  private val admin1Rows = Seq(
    Seq("US.CA", "California", "California", "5332921"),
    Seq("US.CA", "California Override", "California Override", "5332922"), // last wins
    Seq("DE.BE", "Berlin", "Berlin", "2950157"))

  private val admin2Rows = Seq(
    Seq("US.CA.075", "San Francisco County", "San Francisco County", "1002"),
    Seq("DE.BE.00", "Berlin Stadt", "Berlin Stadt", "2950159"))

  private val config = GeoNames.Config(
    filters = Seq(Map("countryCode" -> "US")),
    types = Map("PPL" -> "hg:Place", "ADM2" -> "hg:Municipality", "S" -> "hg:Spot"),
    liesIn = "hg:liesIn",
    extraUris = Seq("http://sws.geonames.org/1006"))

  private lazy val dir: String = {
    val d = Files.createTempDirectory("geonames-test").toFile.getAbsolutePath
    // trailing empty line on the main file — reference edge §1.4.7
    write(s"$d/allCountries.txt", rows.map(_.mkString("\t")).mkString("\n") + "\n\n")
    write(s"$d/admin1CodesASCII.txt", admin1Rows.map(_.mkString("\t")).mkString("\n") + "\n")
    write(s"$d/admin2Codes.txt", admin2Rows.map(_.mkString("\t")).mkString("\n") + "\n")
    d
  }

  private def write(path: String, content: String): Unit =
    Files.write(new File(path).toPath, content.getBytes(StandardCharsets.UTF_8))

  private lazy val places = GeoNames.readAllCountries(spark, s"$dir/allCountries.txt")
  private lazy val admin1 = GeoNames.readAdminCodes(spark, s"$dir/admin1CodesASCII.txt")
  private lazy val admin2 = GeoNames.readAdminCodes(spark, s"$dir/admin2Codes.txt")

  test("scan: 19-col positional schema, blank trailing lines dropped") {
    places.count() shouldBe 7
    places.columns.length shouldBe 19
  }

  test("admin-code dim: duplicate code keeps the LAST row (reference overwrite)") {
    val a1 = admin1.as[(String, String)].collect().toMap
    a1("US.CA") shouldBe "5332922"
  }

  test("classification filters + types: US rows and whitelisted 1006; 1004/1005 dropped") {
    val got = GeoNames.classified(places, config)
      .select("geonameid", "type").as[(String, String)].collect().toMap
    got.keySet shouldBe Set("1001", "1002", "1003", "1006", "1007")
    got("1003") shouldBe "hg:Municipality" // ADM2H → ADM2 longest prefix
    got("1006") shouldBe "hg:Spot"         // STM → S, rescued by whitelist
  }

  test("empty filter list ⇒ empty output even with whitelist (reference edge)") {
    GeoNames.classified(places, config.copy(filters = Nil)).count() shouldBe 0
  }

  test("relations: admin2 parent, self-parent fallback to admin1, missing key dropped") {
    val rels = GeoNames.relations(places, admin1, admin2, config)
      .as[(String, String, String)].collect()
      .map { case (f, t, ty) => (f.stripPrefix(GeoNames.baseUri), t.stripPrefix(GeoNames.baseUri), ty) }
    rels.toSet shouldBe Set(
      ("1001", "1002", "hg:liesIn"),    // plain admin2 parent
      ("1002", "5332922", "hg:liesIn")) // self-parent → admin1 (last-wins id)
    // 1003: admin2 key US.CA.XXX missing → dropped (documented deviation)
    // 1006/1007: fewer than 3 truthy admin codes → no relation
  }

  test("jsNumberString matches ECMAScript Number→String on the edge classes") {
    // pinned against node -e 'console.log(JSON.stringify(v))' for each
    // class: integral (no .0), shortest decimals, sub-milli positional
    // down to 1e-6, exponent past the JS thresholds, -0 and NaN — plus
    // the NON-short-decimal classes where Java 17's Double.toString is
    // not ECMAScript shortest form (JDK-4511638) and JsNum's own
    // shortest-digit selection must diverge from it: Double.MIN_VALUE
    // ("4.9E-324" in Java, "5e-324" in JS), MAX_VALUE, subnormals, the
    // 2^53 integer-exactness edge, and the n=21/22 positional boundary.
    // tools/jsnum_fuzz.py extends this to ~10^6 random bit patterns.
    val cases = Seq(
      121.0 -> "121", -121.0 -> "-121", 38.0 -> "38",
      37.76 -> "37.76", -122.42 -> "-122.42",
      0.0005 -> "0.0005", -0.00001 -> "-0.00001",
      0.000001 -> "0.000001", 1e-7 -> "1e-7", -1e-7 -> "-1e-7",
      1e21 -> "1e+21", 1e20 -> "100000000000000000000",
      179.99999 -> "179.99999", 52.52 -> "52.52",
      0.0 -> "0", -0.0 -> "0",
      Double.NaN -> "null",
      Double.PositiveInfinity -> "null", Double.NegativeInfinity -> "null",
      Double.MinPositiveValue -> "5e-324", // Java 17 says 4.9E-324
      -Double.MinPositiveValue -> "-5e-324",
      Double.MaxValue -> "1.7976931348623157e+308",
      1.23e-320 -> "1.23e-320",            // subnormal
      2.225073858507201e-308 -> "2.225073858507201e-308",
      9007199254740992.0 -> "9007199254740992",  // 2^53
      9007199254740994.0 -> "9007199254740994",  // 2^53 + 2
      // bits of JS `123456789012345678` (0x350f63bab4697b43 LE)
      java.lang.Double.longBitsToDouble(0x437b69b4ba630f35L) -> "123456789012345680",
      999999999999999900000.0 -> "999999999999999900000", // n=21: positional
      0.1 -> "0.1", 0.3 -> "0.3",
      1.0 / 3.0 -> "0.3333333333333333",
      6.02214076e23 -> "6.02214076e+23")
    for ((d, want) <- cases)
      withClue(s"$d: ") { GeoNames.jsNumberString(d) shouldBe want }

    // the same cases through the CODEGEN path (JsNumberStringExpr inside
    // a whole-stage-codegen'd projection — the NDJSON sink's shape), so
    // doGenCode is exercised, not just the interpreted nullSafeEval
    val finite = cases.filter(c => !c._1.isNaN) // NaN/Inf arrive as null post-try_cast
    val viaExpr = finite.map(_._1).toDF("d")
      .select(org.apache.spark.sql.graft.ColumnBridge.column(
        JsNumberStringExpr(org.apache.spark.sql.graft.ColumnBridge
          .expression(col("d")))).as("s"))
      .as[String].collect()
    viaExpr.toSeq shouldBe finite.map {
      case (d, w) => if (d.isInfinite) "null" else w
    }
  }

  test("NDJSON sink keeps js_number_string inside whole-stage codegen") {
    // the point of promoting the renderer from a Scala UDF to a native
    // Expression: the pit projection (struct build + renderer) must stay
    // one codegen span, not break at a UDF boundary. Materialize first —
    // under AQE the codegen stars only exist in the FINAL plan.
    val env = GeoNames.envelopes(places, admin1, admin2, config)
    env.collect()
    val plan = env.queryExecution.executedPlan.toString
    plan should include("js_number_string")
    assert("""\*\(\d+\) Project .*js_number_string""".r.findFirstIn(plan).isDefined,
      s"js_number_string not in a codegen'd (*) Project:\n$plan")
    plan should not include "BatchEvalPython"
    plan should not include "ScalaUDF"
  }

  /** Walks a final plan through the adaptive wrappers and query stages. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
  }

  /** `df` executed once, so that its adaptive plan is final. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def isMainScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists(_.toString.endsWith("allCountries.txt"))
    case _ => false
  }

  test("envelopes: every codegen stage stays under HotSpot's 8,000-byte method limit") {
    // HotSpot's JIT skips any method over HugeMethodLimit (8,000 bytes of
    // bytecode) unless -XX:-DontCompileHugeMethods is set, so a generated
    // processNext past it runs interpreted for the whole job. An OR of
    // one equality per country template grew the main stage ~87 bytes
    // per template; the benchmark's shape and a whole-world list crossed
    // the limit.
    val types = Map("P" -> "hg:Place", "PPLX" -> "hg:Neighbourhood",
      "PPLA" -> "hg:Municipality", "PPLA4" -> "hg:Village", "PPLC" -> "hg:Capital",
      "ADM" -> "hg:Admin", "ADM1" -> "hg:Province", "PCL" -> "hg:Country",
      "STM" -> "hg:Stream", "S" -> "hg:Building", "MT" -> "hg:Mountain",
      "PK" -> "hg:Mountain", "PRK" -> "hg:Park")
    def countries(n: Int) = (0 until n).map(i => Map("countryCode" -> f"C$i%03d"))
    val configs = Seq(
      "1 template" -> config,
      "62 + 2 templates, whitelist" -> GeoNames.Config(
        filters = countries(62) ++ Seq(
          Map("countryCode" -> "C080", "featureClass" -> "P"),
          Map("countryCode" -> "C090", "featureClass" -> "A")),
        types = types,
        extraUris = (0 until 400).map(i => s"${GeoNames.baseUri}${2000000 + 7 * i}")),
      "250 templates" -> GeoNames.Config(filters = countries(250), types = types))
    for ((name, cfg) <- configs) {
      val stages = Plans.collect(finalPlan(GeoNames.envelopes(places, admin1, admin2, cfg))) {
        case w: WholeStageCodegenExec => w
      }
      stages should not be empty
      for (stage <- stages) {
        val maxMethod = CodeGenerator.compile(stage.doCodeGen()._2)._2.maxMethodCodeSize
        withClue(s"$name, codegen stage ${stage.codegenStageId}: ") {
          maxMethod should be < 8000
        }
      }
    }
  }

  test("envelopes: one scan of the main file, and no exchange on its side") {
    // the scaladoc's "the main table is never shuffled and is read once"
    val plan = finalPlan(GeoNames.envelopes(places, admin1, admin2, config))
    Plans.collect(plan) { case p if isMainScan(p) => p } should have size 1
    def pathToMain(p: SparkPlan): Option[List[SparkPlan]] =
      if (isMainScan(p)) Some(List(p))
      else Plans.children(p).iterator.flatMap(pathToMain).nextOption().map(p :: _)
    val mainSide = pathToMain(plan).get
    withClue(s"main-table side of:\n$plan\n") {
      mainSide.collect { case e: Exchange => e } shouldBe empty
    }
  }

  test("golden NDJSON: envelope shape, field order, and values") {
    val out = GeoNames.envelopes(places, admin1, admin2, config)
      .as[String].collect().sorted
    val expected = Seq(
      """{"type":"pit","obj":{"uri":"http://sws.geonames.org/1001","name":"Mission District","type":"hg:Place","geometry":{"type":"Point","coordinates":[-122.42,37.76]},"data":{"featureClass":"P","featureCode":"PPL","countryCode":"US","cc2":"","admin1Code":"CA","admin2Code":"075","admin3Code":"","admin4Code":""}}}""",
      """{"type":"pit","obj":{"uri":"http://sws.geonames.org/1002","name":"San Francisco County","type":"hg:Municipality","geometry":{"type":"Point","coordinates":[-122.44,37.78]},"data":{"featureClass":"A","featureCode":"ADM2","countryCode":"US","cc2":"","admin1Code":"CA","admin2Code":"075","admin3Code":"","admin4Code":""}}}""",
      """{"type":"pit","obj":{"uri":"http://sws.geonames.org/1003","name":"Old District","type":"hg:Municipality","geometry":{"type":"Point","coordinates":[-122.4,37.7]},"data":{"featureClass":"A","featureCode":"ADM2H","countryCode":"US","cc2":"","admin1Code":"CA","admin2Code":"XXX","admin3Code":"","admin4Code":""}}}""",
      """{"type":"pit","obj":{"uri":"http://sws.geonames.org/1006","name":"Spree","type":"hg:Spot","geometry":{"type":"Point","coordinates":[13.41,52.53]},"data":{"featureClass":"H","featureCode":"STM","countryCode":"DE","cc2":"","admin1Code":"BE","admin2Code":"","admin3Code":"","admin4Code":""}}}""",
      """{"type":"pit","obj":{"uri":"http://sws.geonames.org/1007","name":"Lone Place","type":"hg:Place","geometry":{"type":"Point","coordinates":[-121,38]},"data":{"featureClass":"P","featureCode":"PPL","countryCode":"US","cc2":"","admin1Code":"CA","admin2Code":"","admin3Code":"","admin4Code":""}}}""",
      """{"type":"relation","obj":{"from":"http://sws.geonames.org/1001","to":"http://sws.geonames.org/1002","type":"hg:liesIn"}}""",
      """{"type":"relation","obj":{"from":"http://sws.geonames.org/1002","to":"http://sws.geonames.org/5332922","type":"hg:liesIn"}}""").sorted
    out should contain theSameElementsInOrderAs expected
  }

  test("transform writes NDJSON files end-to-end; readEnvelopes round-trips") {
    val outDir = Files.createTempDirectory("geonames-out").toFile.getAbsolutePath + "/t"
    GeoNames.transform(spark, dir, outDir, config)
    spark.read.text(outDir).count() shouldBe 7
    val (pits, rels) = GeoNames.readEnvelopes(spark, outDir)
    pits.count() shouldBe 5
    rels.count() shouldBe 2
    val sf = pits.where(col("name") === "Mission District")
      .select(col("uri"), col("geometry.coordinates"), col("data.admin2Code"))
      .as[(String, Seq[Double], String)].head()
    sf._1 shouldBe "http://sws.geonames.org/1001"
    sf._2 shouldBe Seq(-122.42, 37.76)
    sf._3 shouldBe "075"
  }

  test("bronze layout: partitioned by country, pruned one-country reads, lossless round-trip") {
    val bronze = Files.createTempDirectory("geonames-bronze").toFile.getAbsolutePath + "/b"
    GeoNames.writeBronze(places, bronze)
    // round-trip preserves all rows and the original countryCode column
    GeoNames.readBronze(spark, bronze).count() shouldBe 7
    val us = GeoNames.readBronzeCountry(spark, bronze, "US")
    us.count() shouldBe 5
    val plan = us.queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [isnotnull(country_part")
  }

  test("staged pipeline (staging → bronze → NDJSON) equals direct transform") {
    val base = Files.createTempDirectory("geonames-staged").toFile.getAbsolutePath
    GeoNames.transform(spark, dir, s"$base/direct", config)
    GeoNames.transformStaged(spark, dir, s"$base/bronze", s"$base/staged", config)
    val direct = spark.read.text(s"$base/direct").as[String].collect().sorted
    val staged = spark.read.text(s"$base/staged").as[String].collect().sorted
    staged shouldBe direct
  }

  test("ingest: local fetcher + zip extraction produce readable staging files") {
    val src = Files.createTempDirectory("geonames-src").toFile.getAbsolutePath
    // build allCountries.zip containing allCountries.txt
    val zipPath = s"$src/allCountries.zip"
    val zos = new ZipOutputStream(new FileOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("allCountries.txt"))
    zos.write(rows.map(_.mkString("\t")).mkString("\n").getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    write(s"$src/admin1CodesASCII.txt", admin1Rows.map(_.mkString("\t")).mkString("\n"))
    write(s"$src/admin2Codes.txt", admin2Rows.map(_.mkString("\t")).mkString("\n"))

    val dest = Files.createTempDirectory("geonames-dest").toFile.getAbsolutePath
    val localFetcher: GeoNamesIngest.Fetcher =
      name => new java.io.FileInputStream(s"$src/$name")
    GeoNamesIngest.ingest(dest, localFetcher)

    GeoNames.readAllCountries(spark, s"$dest/allCountries.txt").count() shouldBe 7
    GeoNames.readAdminCodes(spark, s"$dest/admin1CodesASCII.txt").count() shouldBe 2
  }
}
