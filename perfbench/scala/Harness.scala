package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It calls only public entry points of the
  * program and writes raw timings (and, when traced, the per-layer
  * trace) to one JSON file; `run.py` turns them into metrics and checks
  * the outputs.
  *
  *   perfbench.Harness queries key=value...   time SparkEntry.queries
  *   perfbench.Harness serve   key=value...   train + serve + load
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    args.head match {
      case "queries" => runQueries(kv)
      case "serve"   => ServeMix.run(kv)
    }
  }

  def session(kv: Map[String, String]): SparkSession = {
    val cpus = kv("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("tmp"))
      .config("spark.sql.warehouse.dir", s"${kv("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop every cached frame a query left behind, so no query's timing
    * carries another's storage or GC pressure. */
  def sweep(spark: SparkSession): Unit =
    if (spark.sparkContext.getPersistentRDDs.nonEmpty) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

  def peakRssMb(pid: String): Double =
    scala.io.Source.fromFile(s"/proc/$pid/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))

  def runQueries(kv: Map[String, String]): Unit = {
    val spark = session(kv)
    val trace = if (kv("trace") == "1") Some(Trace.install(spark)) else None
    val dir = kv("data")
    val names = kv("queries").split(",").toSeq
    val all = graft.SparkEntry.queries
    // one operation = run the query and consume every output row: the
    // warm-up round writes the result as parquet, which the oracle check
    // reads; timed rounds use the noop sink, as graft.Bench does
    val times = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer[Double]()): _*)
    val failed = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    val lastError = mutable.LinkedHashMap[String, String]()
    def round(label: String => String, parquet: Boolean): Unit = names.foreach { n =>
      Trace.label(spark, trace, label(n))
      val a = System.nanoTime()
      try {
        val w = all(n)(spark, dir).write.mode("overwrite")
        if (parquet) w.parquet(s"${kv("out")}/$n") else w.format("noop").save()
        if (parquet) lastError.remove(n)
      } catch { case e: Throwable =>
        failed(n) += 1
        lastError(n) = e.toString.take(300)
        System.err.println(s"[perfbench] $n failed: $e")
      }
      times(n) += (System.nanoTime() - a) / 1e9
      Trace.label(spark, trace, "sweep")
      sweep(spark)
    }
    // untimed rounds, part of set-up: JIT, codegen and the queries' own
    // fixture memos warm up
    round(_ => "setup", parquet = true)
    for (_ <- 2 to kv("warmup").toInt) round(_ => "setup", parquet = false)
    times.values.foreach(_.clear())
    val setupEndMs = System.currentTimeMillis()

    // a fixed number of timed rounds, whatever the host's speed
    val rounds = kv("rounds").toInt
    val cpu0 = ServeMix.cpuTicks("self") / 100.0
    for (_ <- 1 to rounds) round(n => s"q|$n", parquet = false)

    val cpuS = ServeMix.cpuTicks("self") / 100.0

    val extra = mutable.LinkedHashMap[String, String]()
    val layerTimes = mutable.LinkedHashMap[String, Double]()
    if (trace.nonEmpty) {
      val reg = s"${kv("tmp")}/registry"
      val model = Layers.servingModel(spark, trace, kv, reg, layerTimes)
      Layers.probe(spark, trace, kv, reg, model, layerTimes, extra)
    }
    Trace.label(spark, trace, "end")
    val rss = peakRssMb("self")
    val out = Json.obj(Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "rounds" -> rounds.toString,
      "cpu_s" -> Json.num(cpuS - cpu0),
      "layer_times" -> Json.obj(layerTimes.map { case (k, v) => k -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(rss),
      "times" -> Json.obj(times.map { case (n, ts) => n -> Json.arr(ts) }),
      "failed" -> Json.obj(failed.map { case (n, c) => n -> c.toString }),
      "last_error" -> Json.obj(lastError.map { case (n, e) => n -> Json.str(e) }),
      "extra" -> Json.obj(extra),
      "oracle" -> Json.obj(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))),
      "trace" -> trace.map(_.json).getOrElse("null")))
    spark.stop()
    write(kv("result"), out)
  }
}
