package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, EqualTo, In, InSet, Or}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.col

/** Reference semantics under test: geonames.js:180–182, 243–245 (R.whereEq
  * templates under R.any, with the extra-URI disjunct inside the closure).
  */
class TemplateFiltersSpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    ("R", "F", 1L), ("R", "O", 2L), ("A", "F", 3L), ("N", "O", 4L))
    .toDF("flag", "status", "id")

  test("whereEq is a conjunction over all template keys") {
    val got = rows.where(TemplateFilters.whereEq(Map("flag" -> "R", "status" -> "F")))
      .select("id").as[Long].collect().sorted
    got shouldBe Array(1L)
  }

  test("empty whereEq template passes everything (Ramda whereEq({}))") {
    rows.where(TemplateFilters.whereEq(Map.empty)).count() shouldBe 4
  }

  test("anyTemplate is a disjunction of templates") {
    val got = rows.where(TemplateFilters.anyTemplate(Seq(
        Map("flag" -> "R", "status" -> "F"), Map("flag" -> "A"))))
      .select("id").as[Long].collect().sorted
    got shouldBe Array(1L, 3L)
  }

  test("empty filter list passes NOTHING — reference edge (SURVEY §1.4.3)") {
    rows.where(TemplateFilters.anyTemplate(Seq.empty)).count() shouldBe 0
  }

  test("anyTemplate's fold is an exact rewrite of the OR of whereEq") {
    // nulls in every column; `code` is a string column and `n` a long
    // one, each matched by values of several classes
    val data = Seq[(Int, String, String, String, java.lang.Long)](
      (1, "R", "F", "01", 1L), (2, "R", "O", "1", 2L), (3, "A", "F", " 1", 3L),
      (4, "N", "O", null, 4L), (5, null, "F", "2", 5L), (6, "A", null, "3", null),
      (7, "B", "O", "1", 7L), (8, "C", "F", "01", 6L), (9, null, null, null, null),
      (10, "Z", "Z", "9", 1L)) // only `n = '01'` can match it
      .toDF("k", "flag", "status", "code", "n")
    val templates: Seq[Map[String, Any]] = Seq(
      Map("flag" -> "A"), Map("flag" -> "B"),
      Map("flag" -> "A"),                        // duplicate
      Map("flag" -> "R", "status" -> "F"),       // multi-key
      Map("status" -> "O"), Map("status" -> "Q"), // a second key column
      Map("code" -> 1), Map("code" -> "1"), Map("code" -> "01"),
      Map("n" -> 7L), Map("n" -> 3), Map("n" -> "5"), Map("n" -> "01"),
      Map("flag" -> null), Map("flag" -> "C"))
    def keys(p: org.apache.spark.sql.Column) =
      data.where(p).select("k").as[Int].collect().sorted.toSeq
    // without ANSI, `n = '01'` holds for n = 1 but `n IN ('01')` does not
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try for (mode <- Seq("true", "false"); n <- 1 to templates.size) {
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val ts = templates.take(n)
      val folded = TemplateFilters.anyTemplate(ts)
      val plain = ts.map(TemplateFilters.whereEq).reduce(_ || _)
      withClue(s"ansi=$mode, first $n templates: ") {
        keys(folded) shouldBe keys(plain)
        keys(!folded) shouldBe keys(!plain) // three-valued logic
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("anyTemplate: one column's single-key templates plan as one InSet, or one = for one value") {
    def condition(n: Int) = {
      val df = spark.range(100).select(col("id").cast("string").as("s"))
        .where(TemplateFilters.anyTemplate((0 until n).map(i => Map("s" -> i.toString))))
      df.count() shouldBe n
      val cond = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      cond should have size 1
      cond.head
    }
    val many = condition(20)
    many.collect { case i: InSet => i } should have size 1
    many.collect { case e @ (_: Or | _: EqualTo | _: CaseWhen) => e } shouldBe empty
    val one = condition(1)
    one.collect { case e: EqualTo => e } should have size 1
    one.collect { case e @ (_: In | _: InSet | _: CaseWhen) => e } shouldBe empty
  }

  test("anyTemplateOrIds: whitelist only rescues rows when filters exist") {
    // with a template: whitelist id 4 passes even though no template matches
    rows.where(TemplateFilters.anyTemplateOrIds(
        Seq(Map("flag" -> "R", "status" -> "F")), col("id"), Seq(4L)))
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 4L)
    // empty filters: nothing passes, not even whitelisted ids
    rows.where(TemplateFilters.anyTemplateOrIds(Seq.empty, col("id"), Seq(4L)))
      .count() shouldBe 0
  }
}
