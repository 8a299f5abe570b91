package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.geonames.GeoNames

/** Seeded, GeoNames-shaped dump for the `geonames_dump` workload: one
  * `allCountries.txt` plus `admin1CodesASCII.txt` / `admin2Codes.txt`,
  * laid out as `GeoNames.transform` reads them from its `prevDir`.
  *
  * The data carries the properties the transform's cost and semantics
  * depend on: a GeoNames feature-class/feature-code mix (including codes
  * no configured type matches), a non-empty, variable-length
  * `alternatenames` field with multi-byte scripts (the real rows are
  * wider than a bare id/name row, and the parse dominates), some empty
  * coordinates, duplicate admin codes (last write wins), admin2 keys that
  * cannot be resolved (the documented drop), and ADM1/ADM2 rows that are
  * their own admin parent (the self-parent fallback).
  *
  * The generator computes the expected pit, relation and dropped-relation
  * counts with its own row-at-a-time arithmetic, without Spark, so the
  * benchmark can check every transform's output against them.
  */
object GeoGen {

  final case class Expected(rowsIn: Long, pits: Long, relations: Long,
                            droppedRelations: Long, whitelisted: Long) {
    def lines: Long = pits + relations
  }

  final case class Dump(dir: String, config: GeoNames.Config, expected: Expected,
                        inputBytes: Long)

  val countries: IndexedSeq[String] = (0 until 100).map(i => f"C$i%02d")

  /** (featureClass, featureCode, weight) — roughly the class shares of the
    * real dump: hydrography, populated places, spots and terrain dominate.
    */
  private val features: IndexedSeq[(String, String, Int)] = IndexedSeq(
    ("P", "PPL", 300), ("P", "PPLA", 6), ("P", "PPLA2", 12), ("P", "PPLA3", 10),
    ("P", "PPLA4", 6), ("P", "PPLC", 1), ("P", "PPLX", 25), ("P", "PPLL", 30),
    ("P", "PPLQ", 3), ("A", "ADM1", 2), ("A", "ADM2", 10), ("A", "ADM3", 20),
    ("A", "ADM4", 10), ("A", "ADMD", 5), ("A", "PCLI", 1), ("H", "STM", 120),
    ("H", "LK", 40), ("H", "SPNG", 15), ("H", "RSV", 8), ("H", "BAY", 5),
    ("T", "MT", 60), ("T", "HLL", 70), ("T", "PK", 20), ("T", "VAL", 15),
    ("T", "PASS", 5), ("S", "SCH", 40), ("S", "CH", 30), ("S", "HTL", 25),
    ("S", "FRM", 30), ("S", "BLDG", 15), ("S", "RSTN", 5), ("L", "PRK", 15),
    ("L", "AREA", 10), ("L", "LCTY", 25), ("V", "FRST", 10), ("V", "GRSLD", 3),
    ("R", "RD", 5), ("R", "TRL", 3), ("U", "SMU", 2))
  private val featureCdf: Array[Int] = features.map(_._3).scanLeft(0)(_ + _).tail.toArray

  /** Prefixes of one to five letters; LK, SPNG, HLL, VAL, PASS, AREA, LCTY,
    * FRST, GRSLD, RD, TRL, SMU, RSV and BAY match none of them.
    */
  val types: Map[String, String] = Map(
    "P" -> "hg:Place", "PPLX" -> "hg:Neighbourhood", "PPLA" -> "hg:Municipality",
    "PPLA4" -> "hg:Village", "PPLC" -> "hg:Capital", "ADM" -> "hg:Admin",
    "ADM1" -> "hg:Province", "PCL" -> "hg:Country", "STM" -> "hg:Stream",
    "S" -> "hg:Building", "MT" -> "hg:Mountain", "PK" -> "hg:Mountain",
    "PRK" -> "hg:Park")

  /** Country templates (60 of the 100 countries), two country+class
    * templates, and an extra-URI whitelist of seeded ids.
    */
  private def filters: Seq[Map[String, String]] =
    countries.take(60).map(c => Map("countryCode" -> c)) ++ Seq(
      Map("countryCode" -> "C80", "featureClass" -> "P"),
      Map("countryCode" -> "C90", "featureClass" -> "A"))

  /** The configuration `tools/reference_proxy.js` hard-codes; the sample
    * check runs the engine with it so both sides see the same config.
    */
  val proxyConfig: GeoNames.Config = GeoNames.Config(
    filters = (0 until 25).map(i => Map("countryCode" -> f"C$i%02d")),
    types = Map("PPL" -> "hg:Place", "ADM" -> "hg:Admin", "S" -> "hg:Spot"))

  /** (syllable, its ASCII folding) */
  private val syllables = IndexedSeq("ka", "lo", "mar", "ber", "san", "ti", "ago",
    "vil", "la", "nor", "dal", "é", "rø", "ün", "ost", "gra", "do", "ñe", "que",
    "burg", "ham", "ton", "wick", "sk", "ov", "ić", "ar", "el", "mi", "ra")
    .map(s => (s, s.replace("é", "e").replace("ø", "o").replace("ü", "u")
      .replace("ñ", "n").replace("ć", "c")))
  private val scripts = IndexedSeq("Москва", "Санкт", "Київ", "東京", "北京",
    "서울", "القاهرة", "Αθήνα", "ירושלים", "दिल्ली", "Ταύρος", "Ñuñoa")
  private val zones = IndexedSeq("Europe/Paris", "America/New_York", "Asia/Tokyo",
    "Africa/Cairo", "Australia/Sydney", "America/Sao_Paulo", "Asia/Kolkata", "UTC")

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  /** A place name and its ASCII folding. */
  private def name(r: SplittableRandom): (String, String) = {
    val sb = new java.lang.StringBuilder
    val ab = new java.lang.StringBuilder
    def add(s: (String, String)): Unit = { sb.append(s._1); ab.append(s._2) }
    val n = 2 + r.nextInt(3)
    var i = 0
    while (i < n) { add(pick(r, syllables)); i += 1 }
    sb.setCharAt(0, Character.toUpperCase(sb.charAt(0)))
    ab.setCharAt(0, Character.toUpperCase(ab.charAt(0)))
    if (r.nextInt(6) == 0) {
      val sep = if (r.nextBoolean()) " de " else "-"
      sb.append(sep); ab.append(sep); add(pick(r, syllables))
    }
    if (r.nextInt(40) == 0) add(("'s", "'s"))
    (sb.toString, ab.toString)
  }

  /** `v` left-padded with zeros to `width` digits. */
  private def padded(v: Int, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** Decimal degrees with up to five fraction digits, trailing zeros
    * trimmed as GeoNames prints them (so integral values occur).
    */
  private def degrees(r: SplittableRandom, range: Int): String = {
    val v = r.nextInt(2 * range * 100000 + 1) - range * 100000
    val a = math.abs(v)
    val sb = new java.lang.StringBuilder
    if (v < 0) sb.append('-')
    sb.append(a / 100000)
    var frac = a % 100000
    if (frac != 0) {
      var digits = 5
      while (frac % 10 == 0) { frac /= 10; digits -= 1 }
      val f = frac.toString
      sb.append('.')
      var pad = digits - f.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(f)
    }
    sb.toString
  }

  /** Longest-prefix lookup, as geonames.js strips the last character. */
  private def classify(code: String, types: Map[String, String]): String = {
    var c = code
    while (c.nonEmpty) {
      val t = types.getOrElse(c, null)
      if (t != null) return t
      c = c.substring(0, c.length - 1)
    }
    null
  }

  /** Writes the three input files for `seed` into `dir` and returns the
    * transform config the workload uses with them, the expected counts
    * under that config and the input size in bytes.
    */
  def write(seed: Long, rows: Int, dir: String): Dump = {
    Files.createDirectories(Paths.get(dir))
    val r = new SplittableRandom(seed)
    val baseId = 2000000L
    // admin universe: per country 5..29 admin1 codes, per admin1 1..40
    // admin2 codes; 15% of admin2 keys and 3% of admin1 keys are absent
    // from the dimension files
    val a1Count = countries.map(_ => 5 + r.nextInt(25))
    val a2Count = countries.indices.map(ci => Array.fill(a1Count(ci))(1 + r.nextInt(40)))
    val countryCdf = countries.indices.map(i => 1000 / (i + 3) + 5).scanLeft(0)(_ + _).tail.toArray
    val whitelistIdx = Array.fill(400)(r.nextInt(rows)).distinct.sorted
    val whitelist = whitelistIdx.map(i => (baseId + i).toString).toSet
    val filterList = filters
    val templates = filterList.map(_.toSeq)

    // id of the ADM1 / ADM2 row for a key, if one was generated
    val a1Self = mutable.HashMap.empty[String, Long]
    val a2Self = mutable.HashMap.empty[String, Long]
    val candId = mutable.ArrayBuffer.empty[Long]
    val candK2 = mutable.ArrayBuffer.empty[String]
    val candK1 = mutable.ArrayBuffer.empty[String]
    var pits = 0L
    var whitelisted = 0L

    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(s"$dir/allCountries.txt"), UTF_8), 1 << 20)
    val row = new Array[String](19)
    var i = 0
    while (i < rows) {
      val id = baseId + i
      val fIdx = java.util.Arrays.binarySearch(featureCdf, r.nextInt(featureCdf.last)) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      val (fclass, fcode, _) = features(fIdx)
      val ci = java.util.Arrays.binarySearch(countryCdf, r.nextInt(countryCdf.last)) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      val country = if (r.nextInt(500) == 0) "" else countries(ci)
      val a1i = r.nextInt(a1Count(ci))
      val admin1 = if (fcode == "PCLI" || r.nextInt(25) == 0) "" else padded(a1i + 1, 2)
      val admin2 =
        if (fcode == "ADM2") padded(r.nextInt(a2Count(ci)(a1i)) + 1, 3)
        else if (admin1.isEmpty || fcode == "ADM1" || r.nextInt(100) < 55) ""
        else padded(r.nextInt(a2Count(ci)(a1i)) + 1, 3)
      val admin3 = if (fcode == "ADM3" || r.nextInt(100) < 10) (r.nextInt(90000) + 10000).toString else ""
      val admin4 = if (fcode == "ADM4" || r.nextInt(100) < 4) (r.nextInt(9000) + 1000).toString else ""
      val (nm, asciiNm) = name(r)
      val alts = {
        val n = 1 + r.nextInt(10)
        val sb = new java.lang.StringBuilder
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(',')
          sb.append(if (r.nextInt(4) == 0) pick(r, scripts) else name(r)._1)
          k += 1
        }
        sb.toString
      }
      val empty = r.nextInt(100) == 0
      row(0) = id.toString; row(1) = nm; row(2) = asciiNm; row(3) = alts
      row(4) = if (empty) "" else degrees(r, 90)
      row(5) = if (empty) "" else degrees(r, 180)
      row(6) = fclass; row(7) = fcode; row(8) = country
      row(9) = if (r.nextInt(50) == 0) pick(r, countries) else ""
      row(10) = admin1; row(11) = admin2; row(12) = admin3; row(13) = admin4
      row(14) = if (fclass == "P") (r.nextInt(200000)).toString else "0"
      row(15) = if (r.nextInt(3) == 0) (r.nextInt(3000)).toString else ""
      row(16) = (r.nextInt(3000) - 10).toString
      row(17) = pick(r, zones)
      row(18) = s"20${10 + r.nextInt(15)}-${padded(1 + r.nextInt(12), 2)}-${padded(1 + r.nextInt(28), 2)}"
      var c = 0
      while (c < 19) { if (c > 0) out.write('\t'); out.write(row(c)); c += 1 }
      out.write('\n')

      if (fcode == "ADM1" && country.nonEmpty && admin1.nonEmpty)
        a1Self.getOrElseUpdate(s"$country.$admin1", id)
      val codes = Seq(country, admin1, admin2, admin3, admin4).filter(_.nonEmpty)
      if (fcode == "ADM2" && codes.size == 3)
        a2Self.getOrElseUpdate(codes.mkString("."), id)

      val idStr = row(0)
      val templated = templates.exists(_.forall { case (k, v) =>
        (k match { case "countryCode" => country; case "featureClass" => fclass }) == v
      })
      val tpe = if (templated || whitelist.contains(idStr)) classify(fcode, types) else null
      if (tpe != null) {
        pits += 1
        if (!templated) whitelisted += 1
        if (codes.size == 3) {
          candId += id; candK2 += codes.mkString("."); candK1 += codes.take(2).mkString(".")
        }
      }
      i += 1
    }
    out.close()

    // dimension files: one line per present key in code order, then
    // override lines for ~2% of the keys (last write wins)
    def dimension(file: String, keys: Seq[String], self: scala.collection.Map[String, Long],
                  decoyBase: Long): Map[String, Long] = {
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8))
      val m = mutable.LinkedHashMap.empty[String, Long]
      def line(k: String, gid: Long): Unit = {
        w.write(s"$k\tAdmin $k\tAdmin $k\t$gid\n"); m(k) = gid
      }
      keys.foreach(k => line(k, self.getOrElse(k, decoyBase + r.nextInt(1000000))))
      keys.foreach(k => if (r.nextInt(50) == 0) line(k, decoyBase + r.nextInt(1000000)))
      w.close()
      m.toMap
    }
    val a1Keys = for ((c, ci) <- countries.zipWithIndex; a <- 0 until a1Count(ci)
                      if r.nextInt(100) >= 3) yield f"$c.${a + 1}%02d"
    val a2Keys = for ((c, ci) <- countries.zipWithIndex; a <- 0 until a1Count(ci);
                      b <- 0 until a2Count(ci)(a) if r.nextInt(100) >= 15)
      yield f"$c.${a + 1}%02d.${b + 1}%03d"
    val a1 = dimension(s"$dir/admin1CodesASCII.txt", a1Keys, a1Self, 9000000L)
    val a2 = dimension(s"$dir/admin2Codes.txt", a2Keys, a2Self, 8000000L)

    var relations = 0L
    var dropped = 0L
    var k = 0
    while (k < candId.size) {
      val p2 = a2.get(candK2(k))
      val parent = if (p2.contains(candId(k))) a1.get(candK1(k)) else p2
      if (parent.isDefined) relations += 1 else dropped += 1
      k += 1
    }
    val config = GeoNames.Config(filters = filterList, types = types,
      extraUris = whitelistIdx.toSeq.map(i => s"${GeoNames.baseUri}${baseId + i}"))
    val bytes = Seq("allCountries.txt", "admin1CodesASCII.txt", "admin2Codes.txt")
      .map(f => Files.size(Paths.get(dir, f))).sum
    Dump(dir, config, Expected(rows.toLong, pits, relations, dropped, whitelisted), bytes)
  }
}
