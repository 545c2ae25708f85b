package graft.etl

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Tiny orders/products CSVs written to a temp dir, so the lookup contract
  * is checked without the reference's sample data. The products hold
  * [[SimilaritySpec]]'s eight golden rows plus rows that exercise
  * duplicates, null attributes and ids the orders point at.
  */
object LookupFixture {

  val goldenTarget = 516423L
  val goldens: Map[Long, Double] = Map(
    536469L -> 0.08772, 296597L -> 0.9726, 385613L -> 0.4726,
    516423L -> 1.0, 516425L -> 0.91973, 427227L -> 0.6997,
    439541L -> 0.58111, 528462L -> 0.8)

  /** File order matters: keep-first dedup keeps the first row of an id. */
  val productLines: Seq[String] = Seq(
    "product_id,price,goods_group,manufacturer",
    "536469,749.0,Для активного відпочинку,Bugs",
    "296597,199.0,Дитячі машинки,CARS",
    "385613,199.0,Ігрові фігурки,CARS",
    "516423,219.0,Дитячі машинки,CARS",
    "516425,299.0,Дитячі машинки,CARS",
    "427227,329.0,Дитячі машинки,LENA",
    "439541,810.0,Дитячі машинки,LENA",
    "528462,219.0,Дитячі машинки,LENA",
    // a second 516423 and a twice-listed 700001: the first row wins
    "516423,999.0,Інше,OTHER",
    "700001,219.0,Дитячі машинки,CARS",
    "700001,5.0,Інше,OTHER",
    // null goods_group and manufacturer; null price; both
    "800001,219.0,,",
    "800002,,Дитячі машинки,CARS",
    "800003,,,",
    "800004,219.0,,")

  val productIds: Seq[Long] = productLines.tail.map(_.takeWhile(_ != ',').toLong).distinct

  private val orderLines: Seq[String] = Seq(
    ",order_source_id,order_created_datetime,customer_id,status,sum,quantity," +
      "name,surname,patronymic,product_id",
    "0,1,2023-01-02T10:00:00,11,Paid,\"219,5\",1,Іван,Петренко,Іванович,516423",
    "1,2,2023-01-03T11:00:00,12,Paid,199.0,2,Olga,Shevchenko,Petrivna,296597c",
    "2,3,2023-01-04T12:00:00,13,Waiting,749,1,Анна,Коваль,-,536469",
    "3,4,2023-01-05T13:00:00,14,Paid,10,1,Petro,Bondar,Ivanovych,999999")

  /** A fresh `OrdersEtl` over CSVs written to `dir`; it loads into the
    * table `shop.orders` of the warehouse `dir/warehouse`.
    */
  def etl(spark: SparkSession,
          dir: Path = Files.createTempDirectory("graft-lookup")): OrdersEtl = {
    def write(name: String, lines: Seq[String]): String = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p.toString
    }
    new OrdersEtl(spark, write("orders.csv", orderLines),
      write("products.csv", productLines), dir.resolve("warehouse").toString,
      "shop.orders")
  }
}

/** `OrdersEtl.findSimilarProducts` against its definition:
  * [[Similarity.findSimilar]] over `processedProducts`, with the target
  * taken from the first row of its id and a null score read as NaN.
  */
class OrdersEtlLookupSpec extends AnyFunSuite {
  import LookupFixture._

  private val spark = TestSpark.spark
  private val etl = LookupFixture.etl(spark)

  /** Scores compared bit for bit, so NaN equals NaN. */
  private def bits(m: Map[Long, Double]): Map[Long, Long] =
    m.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }

  private def viaFrame(target: Long, candidates: Seq[Long]): Map[Long, Double] =
    Similarity.findSimilar(etl.processedProducts, target, candidates)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap

  test("golden scores for target 516423") {
    assert(etl.findSimilarProducts(goldenTarget, goldens.keys.toSeq) == goldens)
  }

  test("an absent target throws IllegalArgumentException") {
    val e = intercept[IllegalArgumentException] {
      etl.findSimilarProducts(-1L, Seq(goldenTarget))
    }
    assert(e.getMessage == "requirement failed: target product -1 not found")
  }

  test("a duplicated target id scores against its first occurrence in file order") {
    val candidates = goldens.keys.toSeq.filter(_ != goldenTarget)
    val got = etl.findSimilarProducts(700001L, candidates)
    assert(got == goldens.filter { case (k, _) => k != goldenTarget })
    // and a duplicated candidate id appears once, as its first row
    assert(etl.findSimilarProducts(goldenTarget, Seq(700001L)) == Map(700001L -> 1.0))
  }

  test("null goods_group, manufacturer and price behave like Similarity.findSimilar") {
    val nulls = Seq(800001L, 800002L, 800003L, 800004L)
    for (target <- nulls :+ goldenTarget) {
      val candidates = nulls :+ goldenTarget
      assert(bits(etl.findSimilarProducts(target, candidates)) ==
        bits(viaFrame(target, candidates)), s"target $target")
    }
    // null never matches null: only the price term scores
    assert(etl.findSimilarProducts(800001L, Seq(800004L)) == Map(800004L -> 0.3))
    // a null price on either side nulls the score
    assert(etl.findSimilarProducts(800002L, Seq(goldenTarget))(goldenTarget).isNaN)
    assert(etl.findSimilarProducts(goldenTarget, Seq(800002L))(800002L).isNaN)
  }

  test("candidate ids missing from the products are omitted") {
    assert(etl.findSimilarProducts(goldenTarget, Seq(296597L, 123456789L, 999999L)) ==
      Map(296597L -> 0.9726))
  }

  test("an empty candidate list returns an empty map but still validates the target") {
    assert(etl.findSimilarProducts(goldenTarget, Seq.empty).isEmpty)
    intercept[IllegalArgumentException] {
      etl.findSimilarProducts(-1L, Seq.empty)
    }
  }

  test("every product as the target: identical to Similarity.findSimilar") {
    val candidates = productIds :+ 123456789L
    for (target <- productIds) {
      assert(bits(etl.findSimilarProducts(target, candidates)) ==
        bits(viaFrame(target, candidates)), s"target $target")
    }
  }
}
