package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Drop-in equivalent of the reference's `OrdersEtl` class
  * (reference `etl/orders_etl.py:10-198`): same constructor shape, same
  * three entry points (`process`, `write`, `findSimilarProducts`), Spark
  * semantics underneath.
  *
  * Differences by design:
  *   - `process()` builds one lazy DAG instead of materializing each stage;
  *   - the sink targets the warehouse abstraction of [[Sink]] (Parquet
  *     overwrite ≡ BigQuery `if_exists="replace"`; swap in the
  *     spark-bigquery-connector on a connected cluster);
  *   - `findSimilarProducts` reads the products once per instance, like the
  *     reference's in-memory `products_df`: the first lookup pins them, and
  *     every lookup is then one job that collects only the target and
  *     candidate rows, scored on the driver.
  */
class OrdersEtl(spark: SparkSession, ordersCsv: String, productsCsv: String,
                warehouseRoot: String, tableName: String) {

  /** Typed, deduped, cleaned, denormalized output (reference `process()`,
    * stages 1–8). Lazy — nothing runs until an action.
    */
  lazy val processedOrders: DataFrame = Pipeline.processedOrders(spark, ordersCsv)
  lazy val processedProducts: DataFrame = Pipeline.processedProducts(spark, productsCsv)
  lazy val output: DataFrame = Pipeline.joinFrames(processedOrders, processedProducts)

  /** [[processedProducts]] as the lookups see it: the scoring columns,
    * pinned by the first lookup. A `localCheckpoint`, not `cache()`: the
    * CacheManager matches by plan, so a cached frame would also serve the
    * next instance's lookups and `write()`. The load never reads this
    * frame; it keeps the unpinned plan, whose statistics drive the
    * broadcast join. The pinned blocks are executor-local: after losing an
    * executor that held one, lookups on this instance fail, and a new
    * instance reads the products again.
    */
  private lazy val lookupProducts: DataFrame =
    processedProducts.select(Schemas.productsReadCols.map(col): _*)
      .localCheckpoint()

  /** Reference `process()` — returns the denormalized table. */
  def process(): DataFrame = output

  /** Reference `write_to_bq(if_exists="replace")`. */
  def write(): Unit = Sink.overwriteTable(output, warehouseRoot, tableName)

  /** Reference `find_similar_products`: `Map(candidate_id -> score)`.
    * Throws if the target id is absent, matching the reference's
    * `IndexError` contract (reference `etl/orders_etl.py:105`). Candidate
    * ids absent from the products are omitted. One job after the first
    * call; driver memory is bounded by the request, not by the table.
    */
  def findSimilarProducts(targetId: Long,
                          candidateIds: Seq[Long]): Map[Long, Double] = {
    val id = col("product_id")
    val rows = lookupProducts
      .filter(id === targetId || id.isin(candidateIds: _*))
      .collect()
    val target = rows.find(_.getLong(0) == targetId)
    require(target.isDefined, s"target product $targetId not found")
    val wanted = candidateIds.toSet
    Similarity.scoreRows(spark, lookupProducts.schema,
      rows.filter(r => wanted(r.getLong(0))).toSeq, target.get)
  }
}
