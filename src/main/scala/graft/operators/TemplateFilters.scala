package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Config-driven row filters, re-expressing the reference's
  * `R.any(filterRow)` pipeline stage (geonames.js:180–182, 243–245).
  *
  * All predicates are plain Catalyst expressions so they participate in
  * predicate pushdown, partition pruning and whole-stage codegen — the
  * filter reaches the parquet scan (`PushedFilters` in explain) instead of
  * running post-scan as the reference does.
  */
object TemplateFilters {

  /** Conjunctive equality template: row passes iff row(k) == v for every
    * (k, v) in the template (Ramda `whereEq`, geonames.js:181).
    * Empty template ⇒ always true (whereEq({}) semantics).
    */
  def whereEq(template: Map[String, Any]): Column =
    template.map { case (k, v) => col(k) === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** Disjunction of templates (`R.any` over config.filters,
    * geonames.js:243–245). Empty filter list ⇒ FALSE — the reference's
    * documented edge (SURVEY.md §1.4.3): with no templates nothing passes,
    * not even whitelisted ids, because the whitelist disjunct lives inside
    * the per-template closure.
    *
    * Single-key templates with a string value are folded per key into one
    * [[oneOf]]; the other templates stay [[whereEq]] conjunctions. The
    * fold exists for the JIT: an OR of one equality per template costs
    * about 87 bytes of bytecode each in the generated `processNext`, and
    * HotSpot never compiles a method over 8,000 bytes (`HugeMethodLimit`),
    * so past ~44 country templates the GeoNames main stage ran
    * interpreted. A folded IN compiles to a hash-set lookup whose code
    * size does not grow with the number of templates.
    */
  def anyTemplate(filters: Seq[Map[String, Any]]): Column = {
    val (single, multi) = filters.partition(t => t.size == 1 && t.head._2.isInstanceOf[String])
    val pairs = single.map(t => (t.head._1, t.head._2.asInstanceOf[String]))
    val folded = pairs.map(_._1).distinct.map(k =>
      oneOf(k, pairs.collect { case (`k`, v) => v }.distinct))
    (folded ++ multi.map(whereEq)).reduceOption(_ || _).getOrElse(lit(false))
  }

  /** `col(k)` equals one of `values` — the same truth value, NULL
    * included, as the OR of `col(k) === v`. On a string column this is
    * one IN, which Catalyst turns into a hash-set `InSet` past 10 values
    * (and into a plain `=` for one value); the `typeof` test is
    * constant-folded away at planning. On a column
    * of any other type Spark coerces `=` and `IN` differently against a
    * string (`=` casts the column, `IN` casts to string), so the plain OR
    * is kept there. The cast, a no-op where the IN is taken, lets the
    * untaken branch still analyze on any column type.
    */
  private def oneOf(k: String, values: Seq[String]): Column =
    when(typeof(col(k)) === "string", col(k).cast("string").isin(values: _*))
      .otherwise(values.map(v => col(k) === lit(v)).reduce(_ || _))

  /** Full reference filter: (any template matches) OR (id ∈ whitelist) —
    * but only when at least one template exists (see [[anyTemplate]]).
    * Small whitelists become an `IN` literal (pushed down); large ones
    * should use a broadcast left-semi join instead (see SparkEntry
    * q_semi_join).
    */
  def anyTemplateOrIds(filters: Seq[Map[String, Any]], idCol: Column,
                       ids: Seq[Any]): Column =
    if (filters.isEmpty) lit(false)
    else anyTemplate(filters) || (if (ids.isEmpty) lit(false) else idCol.isin(ids: _*))
}
