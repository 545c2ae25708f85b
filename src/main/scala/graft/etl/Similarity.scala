package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The product-similarity scorer (reference `etl/orders_etl.py:94-147`).
  *
  * Scoring semantics — including the reference's cross-wired weight
  * constants, which its golden tests lock in as *the* spec
  * (reference `tests/test_orders_etl.py:185-194`):
  *   - +0.5 when `goods_group` matches (GROUP_WEIGHT),
  *   - +0.2 when `manufacturer` matches (the code adds PRICE_WEIGHT here),
  *   - +(1 − |pₜ − p꜀| / max(pₜ, p꜀)) × 0.3 price term (scaled by
  *     MANUFACTURER_WEIGHT),
  *   - round half-even to 5 decimals (Python `round` → Spark `bround`).
  *
  * Execution shape: the target is one row — broadcast it and evaluate the
  * score as a pure column expression over the filtered candidates. The
  * scoring itself adds no shuffle, but `products` enters the plan twice,
  * so whatever it costs runs twice: over `Pipeline.processedProducts` that
  * is two CSV scans, each with its keep-first dedup shuffle.
  * `OrdersEtl.findSimilarProducts` avoids this with a pinned products
  * frame and [[scoreRows]].
  */
object Similarity {

  /** Score as a column expression given candidate and target attribute
    * columns. Null semantics match pandas: NaN == anything is false (the
    * `when` falls through to 0), null price propagates null.
    */
  def scoreExpr(price: Column, group: Column, mfr: Column,
                tPrice: Column, tGroup: Column, tMfr: Column): Column =
    bround(
      when(group === tGroup, 0.5).otherwise(0.0)
        + when(mfr === tMfr, 0.2).otherwise(0.0)
        + (lit(1.0) - abs(tPrice - price) / greatest(tPrice, price)) * 0.3,
      5)

  /** [[scoreExpr]] over candidate rows already on the driver, against one
    * target row; both have `schema`, the products' (product_id, price,
    * goods_group, manufacturer). The rows enter as a local relation and the
    * target's attributes as typed literals, so Catalyst folds the
    * projection on the driver (`ConvertToLocalRelation`): no job runs, and
    * the scores are bit-identical to [[findSimilar]]'s. A null score (a
    * null price on either side) comes back as NaN, the reference's value.
    */
  def scoreRows(spark: SparkSession, schema: StructType, candidates: Seq[Row],
                target: Row): Map[Long, Double] = {
    def t(c: String): Column =
      lit(target.get(schema.fieldIndex(c))).cast(schema(c).dataType)
    spark.createDataFrame(candidates.asJava, schema)
      .select(col("product_id"),
        scoreExpr(col("price"), col("goods_group"), col("manufacturer"),
          t("price"), t("goods_group"), t("manufacturer")))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap
  }

  /** Tier-3 formulation lives in [[graft.functions.SimilarityScore]]: a
    * native 6-ary codegen expression, bit-identical to [[scoreExpr]]
    * (spec-enforced), SQL-registered as `similarity_score_native`.
    */

  /** Tier-2 formulation (SURVEY §2.8): the same scorer as a Scala UDF,
    * mirroring the reference's row-at-a-time shape 1:1. Black-box to the
    * optimizer — the column-expression tier is preferred in plans; this
    * exists for the SQL surface and as the semantic cross-check.
    */
  val scoreFn: (Double, String, String, Double, String, String) => Double =
    (price, group, mfr, tPrice, tGroup, tMfr) => {
      var score = 0.0
      // null attributes never match (pandas NaN == NaN is False; the
      // column-expression tier's null-safe `when` agrees) — bare Scala ==
      // would count null==null as a match
      if (tGroup != null && tGroup == group) score += 0.5
      if (tMfr != null && tMfr == mfr) score += 0.2
      score += (1.0 - math.abs(tPrice - price) / math.max(tPrice, price)) * 0.3
      BigDecimal(score)
        .setScale(5, BigDecimal.RoundingMode.HALF_EVEN).doubleValue
    }

  /** Register the UDF tier as `similarity_score` for `spark.sql`. */
  def registerUdf(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.udf.register("similarity_score",
      org.apache.spark.sql.functions.udf(scoreFn))

  /** `find_similar_products`: score `candidateIds` against `targetId` over a
    * products table with columns (product_id, price, goods_group,
    * manufacturer). Returns (product_id, score).
    */
  def findSimilar(products: DataFrame, targetId: Long,
                  candidateIds: Seq[Long]): DataFrame = {
    val target = products
      .filter(col("product_id") === targetId)
      .select(col("price").as("t_price"), col("goods_group").as("t_group"),
        col("manufacturer").as("t_mfr"))
    val candidates = products
      .filter(col("product_id").isin(candidateIds: _*))
      .select("product_id", "price", "goods_group", "manufacturer")
    candidates
      .crossJoin(broadcast(target))
      .select(col("product_id"),
        scoreExpr(col("price"), col("goods_group"), col("manufacturer"),
          col("t_price"), col("t_group"), col("t_mfr")).as("score"))
  }
}
