package perfbench

import java.io.File

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.etl.{Dedup, Normalize, OrdersEtl, Pipeline, Readers, Sink}
import graft.streaming.{EventStreams, TwsStatefulOps}
import graft.streaming.StatefulOps.{SessionEvent, UserEvent}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

/** One operation of a pass: its latency, and whether it completed. */
final case class Op(name: String, seconds: Double, ok: Boolean,
                    error: String = "")

/** One pass over a workload's fixed operation list. `seconds` is the
  * workload's `pass_s` reading, `wall` the whole pass; `load` is work of the
  * pass that counts as attempted but is no operation of its own (the ETL
  * load); `facts` are results the output check reads that are not written
  * to disk.
  */
final case class Pass(seconds: Double, wall: Double, ops: Seq[Op],
                      load: Option[Op] = None,
                      facts: Map[String, Any] = Map.empty)

trait Workload {
  /** Run the fixed operation list once. With `out` set, the pass writes the
    * outputs the check reads under it instead of discarding them.
    */
  def pass(tr: Spans, out: Option[File]): Pass

  /** Facts about the workload the output check needs. */
  def facts: Map[String, Any] = Map.empty

  /** Per-layer readings that need extra runs of their own, taken after the
    * measured passes of a traced run.
    */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one operation, timing it and turning a failure into a failed op. */
  def op(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(name, (System.nanoTime() - t0) / 1e9, ok = true) }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString)
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Query keys of `SparkEntry.queries` over the generated parquet tables,
  * each constructed and then written to the noop sink (to parquet when the
  * pass writes outputs). One key is one operation, construction included.
  */
class KeysWorkload(spark: SparkSession, dir: String, keys: Seq[String])
    extends Workload {
  import Workload._

  def pass(tr: Spans, out: Option[File]): Pass = {
    val (ops, wall) = time(keys.map { k =>
      op(k) {
        val df = tr.span("construct", k)(SparkEntry.queries(k)(spark, dir))
        tr.span("execute", k)(out.fold(noop(df))(o =>
          df.write.mode("overwrite").parquet(new File(o, k).getPath)))
      }
    })
    Pass(wall, wall, ops)
  }

  override def facts: Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("oracle" -> keys.flatMap(k => oracle.get(k).map(k -> _)).toMap)
  }
}

/** The paper's job: `OrdersEtl.write()` loads the dirty orders and products
  * CSVs into the parquet warehouse, then `findSimilarProducts` answers a
  * fixed list of lookups. `pass_s` is the load; one lookup is one operation.
  */
class EtlWorkload(spark: SparkSession, dir: String, work: File,
                  lookups: Seq[(Long, Seq[Long])]) extends Workload {
  import Workload._

  private val ordersCsv = s"$dir/orders.csv"
  private val productsCsv = s"$dir/products.csv"
  private val warehouse = new File(work, "warehouse").getPath
  private def etl() = new OrdersEtl(spark, ordersCsv, productsCsv, warehouse,
    "shop.orders")

  /** Every pass writes the warehouse table; the check reads the last one,
    * and the lookup scores of the last pass.
    */
  def pass(tr: Spans, out: Option[File]): Pass = {
    val t0 = System.nanoTime()
    val e = etl()
    val load = op("load")(tr.span("load", "write")(e.write()))
    val scores = Array.fill(lookups.size)(Map.empty[String, Double])
    val ops = lookups.zipWithIndex.map { case ((target, cands), i) =>
      op(s"lookup$i")(tr.span("lookup", s"lookup$i") {
        scores(i) = e.findSimilarProducts(target, cands)
          .map { case (k, v) => k.toString -> v }
      })
    }
    Pass(load.seconds, (System.nanoTime() - t0) / 1e9, ops, Some(load),
      Map("scores" -> scores.toSeq))
  }

  override def facts: Map[String, Any] =
    Map("warehouse" -> s"$warehouse/shop/orders")

  /** Self time of each ETL stage: prefixes of the pipeline, each run into
    * the noop sink, the last one into the warehouse; a stage's self time is
    * its prefix's time less the previous prefix's. The ladder runs five
    * times round; the first round warms the prefixes' plans, which the
    * passes never ran, and each prefix reports its median over the other
    * four. A stage whose self time is below the run-to-run noise can read
    * slightly negative.
    */
  override def layerExtras(): Map[String, Double] = {
    val keys = Seq("order_source_id", "product_id")
    val ladder: Seq[(String, () => Unit)] = Seq(
      "etl.scan_s" -> (() => noop(Readers.ordersCsv(spark, ordersCsv))),
      "etl.normalize_s" -> (() =>
        noop(Normalize.castOrders(Readers.ordersCsv(spark, ordersCsv)))),
      "etl.dedup_s" -> (() => noop(Dedup.keepFirstFileOrder(
        Normalize.castOrders(Readers.ordersCsv(spark, ordersCsv)), keys))),
      "etl.clean_names_s" -> (() =>
        noop(Pipeline.processedOrders(spark, ordersCsv))),
      "etl.join_s" -> (() =>
        noop(Pipeline.process(spark, ordersCsv, productsCsv))),
      "etl.sink_s" -> (() => Sink.overwriteTable(
        Pipeline.process(spark, ordersCsv, productsCsv),
        new File(work, "ladder").getPath, "shop.orders")))
    val rounds = (0 to 4).map(_ => ladder.map { case (_, run) => time(run())._2 })
    System.err.println("[perfbench] ladder rounds (s): " +
      rounds.map(_.map(t => f"$t%.3f").mkString(",")).mkString(" | "))
    val prefix = ladder.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> Tracer.median(rounds.tail.map(_(i)))
    }
    prefix.zipWithIndex.map { case ((name, t), i) =>
      name -> (if (i == 0) t else t - prefix(i - 1)._2)
    }.toMap
  }
}

/** A feed of events pushed through a `MemoryStream` in fixed micro-batches
  * into four stateful streaming operators, each run from an empty state on
  * the RocksDB state store. One micro-batch of one operator is one
  * operation.
  */
class StreamWorkload(spark: SparkSession, dir: String, work: File,
                     batches: Int) extends Workload {
  import Workload._
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private val feed = Readers.events(spark, dir)
    .select(col("ts"), col("user_id"), col("event_type"), col("value"),
      col("event_id"))
    .orderBy("ts", "event_id")
    .as[StreamWorkload.Ev].collect().toSeq
  private val userEvents = feed.map(e =>
    UserEvent(e.user_id, e.event_type, e.value, micros(e.ts), e.event_id))
  private val sessionEvents = feed.map(e =>
    SessionEvent(e.user_id, e.ts, micros(e.ts), e.value, e.event_id))
  private val gapMicros = 30L * 60 * 1000000
  private var passNo = 0

  private type BatchSink = Option[(Dataset[Row], Long) => Unit]

  private def run[T: Encoder](tr: Spans, name: String, data: Seq[T],
                              mode: String, sink: BatchSink)
                             (build: Dataset[T] => DataFrame): Seq[Op] = {
    val mem = MemoryStream[T]
    val chunks = data.grouped(math.max(1, (data.size + batches - 1) / batches)).toSeq
    val q = try {
      val w = build(mem.toDS()).writeStream.outputMode(mode)
        .option("checkpointLocation",
          new File(work, s"checkpoints/$passNo/$name").getPath)
      sink.fold(w.format("noop"))(f => w.foreachBatch(f)).start()
    } catch {
      case NonFatal(e) =>
        // a query that cannot start fails each of its micro-batches
        return chunks.indices.map(i => Op(s"$name#$i", 0.0, ok = false, e.toString))
    }
    try chunks.zipWithIndex.map { case (c, i) =>
      op(s"$name#$i")(tr.span("batch", s"$name#$i") {
        mem.addData(c: _*)
        q.processAllAvailable()
      })
    }
    finally q.stop()
  }

  private def runAll(tr: Spans, sinkFor: String => BatchSink): Seq[Op] = {
    passNo += 1
    run(tr, "tumbling_counts", feed, "update", sinkFor("tumbling_counts"))(ds =>
      EventStreams.tumblingCounts(ds.toDF())) ++
    run(tr, "dedup_events", feed, "append", sinkFor("dedup_events"))(ds =>
      EventStreams.dedupEvents(ds.toDF())) ++
    run(tr, "sessionize_tws", sessionEvents, "append", sinkFor("sessionize_tws"))(ds =>
      TwsStatefulOps.sessionizeStreamTws(ds, gapMicros, "1 hour").toDF()) ++
    run(tr, "user_profiles_tws", userEvents, "update", sinkFor("user_profiles_tws"))(ds =>
      TwsStatefulOps.userProfilesTws(ds).toDF())
  }

  /** When the pass writes outputs, each sink writes every micro-batch's
    * output, tagged with its batch id, for the check against a batch
    * recomputation.
    */
  def pass(tr: Spans, out: Option[File]): Pass = {
    val (ops, wall) = time(runAll(tr, name => out.map(o =>
      (df: Dataset[Row], id: Long) =>
        df.withColumn("batch_id", lit(id)).write.mode("append")
          .parquet(new File(o, s"stream/$name").getPath))))
    Workload.deleteTree(new File(work, "checkpoints"))
    Pass(wall, wall, ops)
  }
}

object StreamWorkload {
  final case class Ev(ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double, event_id: Long)
}
