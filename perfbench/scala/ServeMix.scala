package perfbench

import java.io.{BufferedInputStream, File, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._


import graft.serve.{LocalScorer, ModelRegistry}

/** serve_mix: train and register a `serving` LeafBoost, start `graft.Serve`
  * as its own JVM on that registry, and drive it open-loop from this
  * process with at most `cpus` worker threads, one keep-alive connection
  * each: /score at a fixed rate, /score/batch at a low fixed rate, and
  * /health + /stats polls. Every latency is measured from the
  * request's scheduled send time. */
object ServeMix {

  /** One keep-alive HTTP/1.1 connection; reconnects after an error. */
  final class Conn(port: Int) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _

    def close(): Unit = { if (sock != null) sock.close(); sock = null }

    /** Returns (status, body); status -1 on a transport error or timeout. */
    def call(req: Array[Byte]): (Int, String) =
      try {
        if (sock == null) {
          sock = new Socket("127.0.0.1", port)
          sock.setTcpNoDelay(true)
          sock.setSoTimeout(5000)
          in = new BufferedInputStream(sock.getInputStream, 65536)
          out = sock.getOutputStream
        }
        out.write(req); out.flush()
        val status = readLine().split(' ')(1).toInt
        var len = 0
        var line = readLine()
        while (line.nonEmpty) {
          val i = line.indexOf(':')
          if (line.take(i).trim.equalsIgnoreCase("content-length")) len = line.drop(i + 1).trim.toInt
          line = readLine()
        }
        val body = new Array[Byte](len)
        var got = 0
        while (got < len) {
          val r = in.read(body, got, len - got)
          if (r < 0) throw new java.io.EOFException
          got += r
        }
        (status, new String(body, UTF_8))
      } catch { case _: Exception => close(); (-1, "") }

    private def readLine(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException
        if (c != '\r') b += c.toChar
        c = in.read()
      }
      b.toString
    }
  }

  def post(path: String, body: String): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    (s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
  }
  def get(path: String): Array[Byte] =
    s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(UTF_8)

  /** Scheduled, sent and finished times and the status of each request. */
  final class Log(n: Int) {
    val sched = new Array[Long](n); val send = new Array[Long](n); val end = new Array[Long](n)
    val status = new Array[Int](n)
    val done = new AtomicInteger(0)
    /** False once the log is full. */
    def record(sc: Long, sd: Long, e: Long, st: Int): Boolean = {
      val k = done.getAndIncrement()
      if (k < sched.length) { sched(k) = sc; send(k) = sd; end(k) = e; status(k) = st }
      k < sched.length
    }
    /** Raw times in ms from t0; run.py derives latency and lateness. */
    def json(t0: Long): String = {
      val k = math.min(done.get, sched.length)
      def ms(a: Array[Long]) = Json.arr((0 until k).map(i => (a(i) - t0) / 1e6))
      Json.obj(Seq("sched_ms" -> ms(sched), "send_ms" -> ms(send), "end_ms" -> ms(end),
        "status" -> (0 until k).map(status(_)).mkString("[", ",", "]")))
    }
  }

  private val stripTime = "\"(total_)?processing_time_ms\":[-0-9.Ee]+".r
  val bodies = new ConcurrentHashMap[String, java.lang.Integer]()
  def keep(kind: String, idx: Int, status: Int, body: String): Unit =
    if (status == 200 && (kind == "score" || kind == "batch"))
      bodies.merge(s"$kind\u0001$idx\u0001${stripTime.replaceAllIn(body, "\"$1processing_time_ms\":0")}", 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))

  def waitUntil(t: Long): Unit = {
    var d = t - System.nanoTime()
    while (d > 0) {
      if (d > 200000L) LockSupport.parkNanos(d - 100000L) else Thread.onSpinWait()
      d = t - System.nanoTime()
    }
  }

  /** Open loop: request i is due at `due(i)` (nanoTime); each worker takes
    * the next index, waits for its due time, sends, and records. */
  def openLoop(conns: Seq[Conn], due: Int => Long, count: Int, log: Log)(
      req: Int => (Array[Byte], String, Int)): Unit = {
    val next = new AtomicInteger(0)
    val threads = conns.map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < count) {
          val at = due(i)
          waitUntil(at)
          val (bytes, kind, idx) = req(i)
          val s = System.nanoTime()
          val (st, body) = c.call(bytes)
          val e = System.nanoTime()
          keep(kind, idx, st, body)
          i = if (log.record(at, s, e, st)) next.getAndIncrement() else count
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
  }

  /** Closed loop: each connection sends its requests back to back until
    * `end`; request i on a connection is `req(i)`. */
  def closedLoop(end: Long, senders: Seq[(Conn, Int => (Array[Byte], String, Int))])(
      logOf: String => Log): Unit =
    senders.map { case (c, req) =>
      val th = new Thread(() => {
        var i = 0
        while (System.nanoTime() < end) {
          val (bytes, kind, idx) = req(i)
          val s = System.nanoTime()
          val (st, body) = c.call(bytes)
          val e = System.nanoTime()
          keep(kind, idx, st, body)
          logOf(kind).record(s, s, e, st)
          i += 1
        }
      })
      th.start(); th
    }.foreach(_.join())

  def run(kv: Map[String, String]): Unit = {
    val spark = Harness.session(kv)
    val trace = if (kv("trace") == "1") Some(Trace.install(spark)) else None
    val cpus = kv("cpus").toInt
    val work = kv("work")
    val reg = s"$work/registry"
    Trace.label(spark, trace, "setup")
    val times = mutable.LinkedHashMap[String, Double]()
    val model = Layers.servingModel(spark, trace, kv, reg, times)

    // the server, as its own JVM; traced, it records its own Spark work
    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val serverTrace = s"$work/server-trace.json"
    val traceOpts = if (trace.isEmpty) Seq.empty else Seq(
      "-Dspark.extraListeners=perfbench.ProcessTrace",
      "-Dspark.sql.queryExecutionListeners=perfbench.ProcessTrace",
      s"-Dperfbench.trace=$serverTrace")
    val cmd = Seq(kv("java")) ++ Files.readAllLines(Paths.get(kv("jvmopts"))).asScala.filter(_.nonEmpty) ++
      traceOpts ++ Seq("-Xmx1g", "-Xmn256m", s"-Djava.io.tmpdir=${kv("tmp")}", "-cp", kv("cp"),
        "graft.Serve", reg, port.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(new File(s"$work/server.log"))
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    val server = pb.start()
    val serverPid = server.pid().toString

    try {
      // the request pool and its model term from the Spark scoring twin,
      // while the server starts
      Trace.label(spark, trace, "setup")
      val (poolLines, pool) = Layers.readPool(kv("pool"))
      val names = LocalScorer.servingFeatureNames
      import spark.implicits._
      val feats = pool.zipWithIndex.map { case (t, i) =>
        val f = LocalScorer.servingFeatures(t); (i, f(0), f(1), f(2), f(3))
      }.toDF(("idx" +: names): _*)
      val twin = graft.ml.LeafBoost.score(feats, names, ModelRegistry.loadLeafBoost(spark, reg, "serving"),
        "p").select("idx", "p").collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)

      val probe = new Conn(port)
      val deadline = System.nanoTime() + 120e9.toLong
      var up = false
      while (!up && System.nanoTime() < deadline && server.isAlive) {
        up = probe.call(get("/health"))._1 == 200
        if (!up) Thread.sleep(100)
      }
      probe.close()
      require(up, s"server did not come up; see $work/server.log")

      // traffic: /score on cpus-2 connections, one batch and one poll
      // connection beside it
      val rate = kv("rate").toDouble
      val batchRate = kv("batch_rate").toDouble
      // polls: (seconds after the start of the timed region, path)
      val polls = kv("polls").split(",").map { p =>
        val i = p.indexOf(':'); ((p.take(i).toDouble * 1e9).toLong, p.drop(i + 1))
      }
      val batchSize = kv("batch_size").toInt
      val scoreConns = (1 to math.max(1, cpus - 2)).map(_ => new Conn(port))
      val scoreReqs = poolLines.map(l => post("/score", l))
      val nBatches = pool.length / batchSize
      val batchReqs = (0 until nBatches).map { b =>
        post("/score/batch", poolLines.slice(b * batchSize, (b + 1) * batchSize)
          .mkString("{\"transactions\":[", ",", "]}"))
      }
      // warm-up, part of set-up: every connection sends its kind of
      // request back to back, so the server's JIT and its Spark inventory
      // path are warm before anything is timed
      val warmS = kv("warm_s").toDouble
      val warmLogs = Seq("score", "batch", "poll").map(_ -> new Log((warmS * 100000).toInt + 1000)).toMap
      val pollConn = new Conn(port)
      val batchConn = new Conn(port)
      val warmEnd = System.nanoTime() + (warmS * 1e9).toLong
      val warmKinds: Seq[(Conn, Int => (Array[Byte], String, Int))] =
        scoreConns.zipWithIndex.map { case (c, w) =>
          (c, (i: Int) => { val k = (i * scoreConns.length + w) % pool.length; (scoreReqs(k), "score", k) })
        } ++ Seq(
          (batchConn, (i: Int) => (batchReqs(i % nBatches), "batch", i % nBatches)),
          (pollConn, (i: Int) => (get(if (i % 2 == 0) "/health" else "/stats"), "poll", 0)))
      closedLoop(warmEnd, warmKinds)(warmLogs)

      // side traffic runs from the first timed request to the end
      val t0 = System.nanoTime() + 100000000L
      val setupEndMs = System.currentTimeMillis() + 100L
      val nBatch = (batchRate * kv("seconds").toDouble).toInt
      val batchLog = new Log(nBatch)
      val pollLog = new Log(polls.length)
      val side = Seq(
        new Thread(() => openLoop(Seq(batchConn), i => t0 + (i * 1e9 / batchRate).toLong, nBatch,
          batchLog)(i => (batchReqs(i % nBatches), "batch", i % nBatches))),
        new Thread(() => openLoop(Seq(pollConn), i => t0 + polls(i)._1, polls.length,
          pollLog)(i => (get(polls(i)._2), "poll", 0))))
      side.foreach(_.start())

      val cpuStart = cpuTicks(serverPid)
      // /score, open loop at the nominal rate for the whole timed region
      val n = (rate * kv("seconds").toDouble).toInt
      val scoreLog = new Log(n)
      openLoop(scoreConns, i => t0 + (i * 1e9 / rate).toLong, n, scoreLog)(i =>
        (scoreReqs(i % pool.length), "score", i % pool.length))
      side.foreach(_.join())
      val loadEndMs = System.currentTimeMillis()
      val cpuEnd = cpuTicks(serverPid)
      val statsConn = new Conn(port)
      val (statsStatus, statsBody) = statsConn.call(get("/stats"))
      statsConn.close()
      val serverRss = Harness.peakRssMb(serverPid)

      val extra = mutable.LinkedHashMap[String, String]()
      if (trace.nonEmpty) Layers.probe(spark, trace, kv, reg, model, times, extra)
      Trace.label(spark, trace, "end")
      stopServer(server)
      val out = Json.obj(Seq(
        "setup_end_ms" -> setupEndMs.toString,
        "load_window_ms" -> s"[$setupEndMs,$loadEndMs]",
        "cpu_s" -> Json.num((cpuEnd - cpuStart) / 100.0),
        "peak_rss_mb" -> Json.num(serverRss),
        "twin" -> Json.arr(twin),
        "score" -> scoreLog.json(t0),
        "warmup" -> Json.obj(warmLogs.map { case (k, l) => k -> l.json(t0) }),
        "batch" -> batchLog.json(t0),
        "poll" -> pollLog.json(t0),
        "final_stats" -> Json.obj(Seq("status" -> statsStatus.toString, "body" -> Json.str(statsBody))),
        "bodies" -> Json.obj(bodies.asScala.toSeq.map { case (k, c) => k -> c.toString }),
        "layer_times" -> Json.obj(times.map { case (k, v) => k -> Json.num(v) }),
        "extra" -> Json.obj(extra),
        "trace" -> trace.map(_.json).getOrElse("null"),
        "server_trace" -> (if (trace.isEmpty) "null"
          else new String(Files.readAllBytes(Paths.get(serverTrace)), UTF_8))))
      Harness.write(kv("result"), out)
    } finally {
      stopServer(server)
      spark.stop()
    }
  }

  /** SIGTERM, so the server's shutdown hooks run (and its trace is
    * written); SIGKILL if it has not exited within 20 s. */
  def stopServer(p: Process): Unit = if (p.isAlive) {
    p.destroy()
    if (!p.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly(); p.waitFor()
    }
  }

  /** utime + stime of a process, in clock ticks (100 per second). */
  def cpuTicks(pid: String): Long = {
    val s = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")), UTF_8)
    val f = s.drop(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }
}
