package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import graft.SparkSessions

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main once per run, and checks the outputs it leaves behind.
  *
  * A run is: one engine session, passes over the workload's operation list
  * until a pass is no longer at least 5% faster than every pass before it
  * (the warm-up, capped at `--max-warm` passes), then measured passes until
  * `--seconds` have elapsed. The first warm-up pass writes the outputs the
  * check reads (the ETL workload's check reads the last measured pass). One
  * client drives the engine and waits for each result before it sends the
  * next operation (a closed loop).
  *
  * With `--trace 1` every other measured pass is traced: spans around each
  * call into the engine and Spark's listener readings, reduced to the
  * per-layer metrics. The untraced passes between them give the tracing
  * overhead.
  *
  * Usage: perfbench.Main --workload keys|etl|stream --data DIR --work DIR
  *   --seconds S --trace 0|1 --t0-ms EPOCH_MS --cpus N --max-warm N
  *   --out FILE, plus --keys K1,K2 | --lookups T,C1,C2;... | --batches N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0Ms = opt("t0-ms").toLong
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = new File(opt("work"))
    val data = opt("data")
    val spark = SparkSessions.local(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = opt("workload") match {
      case "keys" =>
        new KeysWorkload(spark, data, opt("keys").split(",").toSeq)
      case "etl" =>
        val lookups = opt("lookups").split(";").toSeq.map { l =>
          val ids = l.split(",").map(_.toLong)
          (ids.head, ids.tail.toSeq)
        }
        new EtlWorkload(spark, data, work, lookups)
      case "stream" =>
        new StreamWorkload(spark, data, work, opt("batches").toInt)
    }

    val out = new File(work, "out")
    val maxWarm = opt("max-warm").toInt
    val warm = ArrayBuffer[Double]()
    while (warm.size < 2 || (warm.size < maxWarm &&
        warm.last < 0.95 * warm.init.min))
      warm += wl.pass(NoSpans, if (warm.isEmpty) Some(out) else None).wall
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val tracer = new Tracer(spark, cpus)
    val deadline = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
    val passes = ArrayBuffer[(Pass, Boolean)]()
    while (passes.size < (if (traced) 2 else 1) || System.nanoTime() < deadline) {
      val on = traced && passes.size % 2 == 0
      val startMs = System.currentTimeMillis()
      if (on) tracer.begin()
      val p = wl.pass(if (on) tracer else NoSpans, None)
      if (on) tracer.end(startMs, p.wall)
      passes += ((p, on))
    }

    val layers = if (traced) tracer.metrics ++ wl.layerExtras() else Map.empty
    if (traced) write(new File(work, "spans.json"), Json(tracer.spans.map(s =>
      Map("id" -> s.id, "name" -> s.name, "op" -> s.label, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    write(new File(opt("out")), Json(Map(
      "setup_s" -> setupS,
      "warmup_s" -> warm,
      "passes" -> passes.map { case (p, on) =>
        Map("seconds" -> p.seconds, "wall" -> p.wall, "traced" -> on,
          "ops" -> p.ops.map(opJson), "load" -> p.load.map(opJson))
      },
      "layers" -> layers,
      "facts" -> (wl.facts ++ passes.last._1.facts))))
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error)

  private def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
