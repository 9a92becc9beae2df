package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.serve.{HttpApi, LocalAnn, LocalScorer, ModelRegistry, Transaction}

/** Direct calls into single layers, each under its own trace label
  * `x|<name>` and timed on its own. A traced run of every workload makes
  * them, so every workload reports the same per-layer metrics. */
object Layers {

  def timed[A](spark: SparkSession, trace: Option[Trace], times: mutable.Map[String, Double],
               name: String)(f: => A): A = {
    Trace.label(spark, trace, s"x|$name")
    val a = System.nanoTime()
    val r = f
    times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - a) / 1e9
    r
  }

  /** The `serving` model of serve_mix: LeafBoost on
    * LocalScorer.servingFeatureNames over seeded SyntheticData
    * transactions (label = is_fraud), registered under `reg`. */
  def servingModel(spark: SparkSession, trace: Option[Trace], kv: Map[String, String],
                   reg: String, times: mutable.Map[String, Double]): graft.ml.LeafBoost.Model = {
    val trainDf = timed(spark, trace, times, "synthetic") {
      val df = graft.sources.SyntheticData.transactions(spark, kv("ntrain").toLong, kv("seed").toInt)
        .select(col("transaction_id"),
          col("transaction_amt").as("amount"),
          hour(timestamp_seconds(col("transaction_dt"))).cast("double").as("hour_of_day"),
          col("device_info").isNull.cast("double").as("device_missing"),
          (!col("product_cd").isin("W", "H", "C", "S", "R")).cast("double").as("unusual_product"),
          col("is_fraud").cast("double").as("label"), lit(1.0).as("weight"))
        .cache()
      df.count()
      df
    }
    val model = timed(spark, trace, times, "leafboost_fit") {
      graft.ml.LeafBoost.train(trainDf, None, "transaction_id", LocalScorer.servingFeatureNames,
        "label", "weight", graft.ml.LeafBoost.Params(numTrees = 20, numLeaves = 8, learningRate = 0.2))
    }
    timed(spark, trace, times, "register")(ModelRegistry.registerLeafBoost(spark, reg, "serving", model))
    trainDf.unpersist(true)
    model
  }

  /** The request pool, one JSON transaction per line. */
  def readPool(path: String): (IndexedSeq[String], IndexedSeq[Transaction]) = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines().toIndexedSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines -> lines.map { l =>
      val n = mapper.readTree(l)
      def opt(f: String) = if (n.path(f).isTextual) Some(n.path(f).asText) else None
      Transaction(n.path("transaction_id").asText, n.path("user_id").asText,
        n.path("transaction_amount").asDouble, n.path("merchant_id").asText,
        n.path("product_code").asText, n.path("card_type").asText,
        opt("device_info"), opt("email_domain"),
        Timestamp.from(java.time.LocalDateTime.parse(n.path("transaction_timestamp").asText)
          .toInstant(java.time.ZoneOffset.UTC)))
    }
  }

  /** serve: one registry inventory read (what every /health and /stats
    * runs) and LocalScorer calls over the pool; operators: each ANN
    * family's build or train call; serve: LocalAnn searches over the
    * families' registered artifacts. */
  def probe(spark: SparkSession, trace: Option[Trace], kv: Map[String, String], reg: String,
            model: graft.ml.LeafBoost.Model, times: mutable.Map[String, Double],
            extra: mutable.Map[String, String]): Unit = {
    timed(spark, trace, times, "inventory")(HttpApi.registryInventory(spark, reg)())
    val hook = LocalScorer.leafBoostHook(model)
    val pool = readPool(kv("pool"))._2
    extra("localscorer_us") = Json.arr((1 to 5).flatMap(_ => pool.map { t =>
      val a = System.nanoTime()
      LocalScorer.score(t, Some(hook))
      (System.nanoTime() - a) / 1e3
    }))

    import graft.operators._
    Trace.label(spark, trace, "x|ann_build")
    val emb = graft.sources.Tables.embeddings(spark, kv("data")).select("vec_id", "embedding").cache()
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val dim = rows.head._2.length
    val builds = mutable.LinkedHashMap[String, Double]()
    def build[A](family: String)(f: => A): A = {
      val a = System.nanoTime(); val r = f
      builds(family) = (System.nanoTime() - a) / 1e9
      r
    }
    val ivf = build("ivf")(Ivf.build(emb, "vec_id", "embedding", nLists = 16))
    val cb = build("pq")(Pq.train(emb, "vec_id", "embedding", m = 8, k = 16))
    build("opq")(Opq.trainRotation(emb, "embedding", dim, 8))
    val sq = build("sq8")(Sq.train(emb, "embedding", dim))
    val bq = build("bq")(Bq.train(dim))
    val g = build("hnsw")(Hnsw.build(rows, m = 16))
    times("ann_build") = builds.values.sum
    extra("ann_build_s") = Json.obj(builds.map { case (k, v) => k -> Json.num(v) })

    Trace.label(spark, trace, "x|ann_register")
    val annReg = s"$reg-ann"
    ModelRegistry.registerIvf(spark, annReg, "ivf", ivf)
    ModelRegistry.registerPq(spark, annReg, "pq", cb, Some(Pq.encode(emb, "embedding", cb)))
    ModelRegistry.registerSq(spark, annReg, "sq8", sq, Some(Sq.encode(emb, "embedding", sq)))
    ModelRegistry.registerBq(spark, annReg, "bq", bq, Some(Bq.encode(emb, "embedding", bq)))
    ModelRegistry.registerHnsw(spark, annReg, "hnsw", g)
    emb.unpersist(true)
    val queries = rows.take(50)
    extra("localann_search_us") = Json.arr(
      Seq("ivf" -> 4, "pq" -> 50, "sq8" -> 50, "bq" -> 50, "hnsw" -> 50).flatMap {
        case (name, shortlist) =>
          val idx = LocalAnn.load(spark, annReg, name)
          (1 to 3).flatMap(_ => queries.map { case (id, v) =>
            val a = System.nanoTime()
            LocalAnn.search(idx, id, v, shortlist, topK = 5)
            (System.nanoTime() - a) / 1e3
          })
      })
  }
}
