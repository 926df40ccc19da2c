package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.dedup.ExactDedup
import graft.functions.TextFunctions
import graft.ml.Sentiment
import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.ScoringStream

import Main.{release, timed}

/** The three workloads. Each one sets up (untimed, but inside `setup_s`),
  * marks `first_op_ms`, runs its timed loop, then checks its outputs
  * outside the timed region. Raw numbers go into `res`. */
final class Workloads(spark: SparkSession, tracer: Tracer,
                      a: Map[String, String],
                      res: mutable.LinkedHashMap[String, Any]) {
  private val data = a("data")
  private val runDir = a("run")
  private val seconds = a("seconds").toDouble
  private val checks = mutable.LinkedHashMap[String, Boolean]()
  res("checks") = checks

  private def now: Long = System.currentTimeMillis()

  private def check(name: String)(ok: => Boolean): Unit =
    checks(name) = try ok catch {
      case e: Exception =>
        System.err.println(s"check $name raised: $e")
        false
    }

  // ---------------------------------------------------------------- pipeline

  private final case class Iteration(steps: Map[String, Double],
                                     f1: Map[String, Double],
                                     eda: Map[String, Long],
                                     model: PipelineModel, preds: DataFrame)

  /** The reference's five scripts as one job: preprocess, EDA, model
    * comparison, train, persist, reload and score the corpus. */
  private def pipelineIteration(in: String, out: String): Iteration = {
    val steps = mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val (r, s) = timed(tracer.span(name)(body))
      steps(name) = s
      r
    }
    step("pipeline.preprocess") {
      val labeled = Relational.dropNaSubset(
        Relational.withLabel(Tables.documents(spark, in), "n_chars"),
        Seq("text", "label"))
      val reviews = ExactDedup.keepFirst(labeled, Seq("text"), "doc_id")
        .withColumn("text", TextFunctions.cleanText(col("text")))
        .withColumn("sentiment", TextFunctions.binarize(col("n_chars"), 300))
        .select("doc_id", "text", "lang", "source", "n_chars", "sentiment")
      tracer.span("sources.write")(
        Tables.writeParquet(reviews, s"$out/reviews.parquet"))
      val o = Tables.orders(spark, in)
      val c = Tables.customer(spark, in)
      val elite = c.filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("e_custkey"), lit(1).as("elite"))
      val enriched = Relational.flagFill(
        Relational.leftEnrich(
          Relational.leftEnrich(o, c, o("o_custkey") === c("c_custkey")),
          elite, col("o_custkey") === col("e_custkey")),
        "elite", lit(0))
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "c_name",
          "c_mktsegment", "elite")
      tracer.span("sources.write")(
        Tables.writeParquet(enriched, s"$out/orders_enriched.parquet"))
    }
    val reviews = Tables.load(spark, out, "reviews")
    val eda = step("pipeline.eda") {
      val hist = Relational.histogram(
        reviews.select(TextFunctions.wordCount(col("text")).as("wc")),
        col("wc"), 10).collect()
      val top = Relational.topNByCount(
        Relational.explodeDelimited(reviews, "text", "word", " ")
          .filter(length(col("word")) > 0), "word", 20).collect()
      val byElite = Tables.load(spark, out, "orders_enriched")
        .groupBy("elite", "o_orderpriority").count().collect()
      val stars = reviews.groupBy("sentiment").count().collect()
      Map("hist_sum" -> hist.map(_.getLong(1)).sum,
        "top_words" -> top.length.toLong,
        "elite_sum" -> byElite.map(_.getLong(2)).sum,
        "star_sum" -> stars.map(_.getLong(1)).sum)
    }
    val labeled = Sentiment.prepare(reviews)
    val f1 = step("ml.compare") {
      Sentiment.compareModels(labeled).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val (model, trainF1, preds) = step("ml.train")(Sentiment.trainEval(labeled, "svm"))
    step("ml.save")(Sentiment.save(model, s"$out/model"))
    val loaded = step("ml.load")(Sentiment.load(s"$out/model"))
    step("ml.score") {
      tracer.span("sources.write")(Tables.writeParquet(
        loaded.transform(labeled).select("doc_id", "prediction"),
        s"$out/scored.parquet"))
    }
    Iteration(steps.toMap, f1 + ("svm_train" -> trainF1), eda, model, preds)
  }

  def pipeline(): Unit = {
    val out = s"$runDir/out"
    // Warm-up: `warm` iterations of the same job on a small copy, so the
    // driver's planning and scheduling code is compiled before timing.
    val (_, warmS) = timed(tracer.span("setup.warmup") {
      for (i <- 0 until a("warm").toInt) {
        pipelineIteration(s"$data/warm", s"$runDir/warm_out/$i")
        release(spark)
      }
    })
    res("warmup_s") = warmS
    val iterations = mutable.ArrayBuffer[Iteration]()
    var failed = 0
    timedRounds(iterations.isEmpty && failed < 3) {
      try iterations += tracer.span("pipeline.iteration")(pipelineIteration(data, out))
      catch { case e: Exception => failed += 1; System.err.println(s"iteration failed: $e") }
      release(spark)
    }
    res("iterations") = iterations.map(_.steps)
    res("iterations_failed") = failed
    iterations.lastOption.foreach { it =>
      val reviews = spark.read.parquet(s"$out/reviews.parquet").count()
      val orders = spark.read.parquet(s"$out/orders_enriched.parquet").count()
      res("reviews_rows") = reviews
      res("f1") = it.f1
      check("eda_histogram_sums_to_rows")(it.eda("hist_sum") == reviews)
      check("eda_star_distribution_sums_to_rows")(it.eda("star_sum") == reviews)
      check("eda_elite_distribution_sums_to_orders")(it.eda("elite_sum") == orders)
      check("eda_top_words")(it.eda("top_words") == 20)
      for ((algo, floor) <- Seq("svm" -> 0.5, "lr" -> 0.5, "nb" -> 0.42,
                                "svm_train" -> 0.5))
        check(s"f1_floor_$algo")(it.f1(algo) >= floor)
      check("loaded_model_predicts_as_in_memory") {
        val loaded = Sentiment.load(s"$out/model")
        val mem = it.preds.select(col("doc_id"), col("prediction").as("p_mem"))
        val disk = loaded.transform(it.preds.select("doc_id", "text", "label"))
          .select(col("doc_id"), col("prediction").as("p_disk"))
        val n = mem.count()
        n > 0 && mem.join(disk, "doc_id").filter(col("p_mem") === col("p_disk")).count() == n
      }
      check("scored_rows")(spark.read.parquet(s"$out/scored.parquet").count() == reviews)
    }
    writeOracle(Seq("q03_dedup_exact", "q05_clean_text", "q04_left_join", "q07_elite_fill"))
  }

  /** The timed region of a closed loop: marks `first_op_ms`, then runs
    * `round` (a pipeline iteration, a mix pass) while `more` holds or
    * another round, at the median round time so far, still ends within
    * `seconds`; marks `timed_end_ms`. */
  private def timedRounds(more: => Boolean)(round: => Unit): Unit = {
    val t0 = now
    res("first_op_ms") = t0
    val took = mutable.ArrayBuffer[Double]()
    def median = took.sorted.apply(took.length / 2)
    while (more || (now - t0) / 1e3 + median <= seconds)
      took += timed(round)._2
    res("timed_end_ms") = now
  }

  // ------------------------------------------------------------ stream_score

  def streamScore(): Unit = {
    val trigMs = a("trigger_ms").toLong
    val phases = Seq("warm", "low", "high").map { p =>
      (p, a(s"files_$p").toInt, a(s"interval_${p}_ms").toDouble)
    }
    val staged = s"$data/stream"
    val watch = s"$runDir/watch"
    val sink = s"$runDir/sink"
    Files.createDirectories(Paths.get(watch))
    val (model, fitS) = timed(tracer.span("setup.model_fit") {
      Sentiment.pipeline("svm").fit(
        Sentiment.prepare(Tables.documents(spark, s"$data/train")))
    })
    release(spark)
    res("model_fit_s") = fitS
    val schema = spark.read.parquet(s"$staged/f000000.parquet").schema
    val q = ScoringStream.scoreStream(
        spark.readStream.schema(schema).parquet(watch), model, "text")
      .select("doc_id", "sentiment", "prediction")
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$runDir/checkpoint")
      .trigger(Trigger.ProcessingTime(trigMs))
      .start(sink)
    tracer.liveQueryId = q.id.toString

    // Open loop: each file is due at a fixed time, whatever the stream does.
    // The schedule starts on the trigger grid so every run sees the same
    // phase between file arrivals and triggers.
    val start = ((now + 500) / trigMs + 1) * trigMs + trigMs / 4
    val schedule = mutable.ArrayBuffer[(String, String, Long)]()
    var t = start.toDouble
    var f = 0
    for ((phase, n, interval) <- phases; _ <- 0 until n) {
      schedule += ((phase, f"f$f%06d.parquet", math.round(t)))
      t += interval
      f += 1
    }
    val lowStart = schedule.find(_._1 == "low").map(_._3).getOrElse(start)
    val moved = new Array[Long](schedule.length)
    val gen = new Thread(() => {
      for (((_, file, due), i) <- schedule.zipWithIndex) {
        val wait = due - now
        if (wait > 0) Thread.sleep(wait)
        Files.move(Paths.get(staged, file), Paths.get(watch, file),
          StandardCopyOption.ATOMIC_MOVE)
        moved(i) = now
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    res("first_op_ms") = lowStart
    gen.start()
    gen.join()
    val total = a("docs_per_file").toLong * schedule.length
    val deadline = now + 60000
    def committed = q.recentProgress.map(_.numInputRows).sum
    while (committed < total && now < deadline && q.isActive) Thread.sleep(50)
    res("timed_end_ms") = now
    q.stop()
    res("generator") = schedule.zip(moved).map { case ((p, file, due), m) =>
      Map("phase" -> p, "file" -> file, "due_ms" -> due, "moved_ms" -> m)
    }
    res("progress") = q.recentProgress.map { p =>
      Map("batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }.toSeq
    res("expected_docs") = total
    val out = spark.read.parquet(sink)
    val perDoc = out.groupBy("doc_id").count()
    res("sink_rows") = out.count()
    res("sink_docs") = perDoc.count()
    res("sink_duplicated_docs") = perDoc.filter(col("count") > 1).count()
    val batch = ScoringStream.scoreStream(
        spark.read.schema(schema).parquet(watch), model, "text")
      .select(col("doc_id"), col("sentiment").as("batch_sentiment"))
    res("sentiment_mismatches") = batch.join(out, Seq("doc_id"), "left")
      .filter(col("sentiment").isNull || col("sentiment") =!= col("batch_sentiment"))
      .count()
  }

  // ------------------------------------------------------------ operator_mix

  def operatorMix(): Unit = {
    val names = a("queries").split(",").toSeq
    writeOracle(names)
    val (_, warmS) = timed(tracer.span("setup.warmup") {
      names.foreach { n =>
        checks(s"runs_$n") = try {
          SparkEntry.queries(n)(spark, data).write.mode("overwrite")
            .parquet(s"$runDir/mix_out/$n")
          true
        } catch { case e: Exception => System.err.println(s"$n failed: $e"); false }
        release(spark)
      }
      // further untimed passes, as timed below, until `warm` passes in all
      for (_ <- 1 until a("warm").toInt; n <- names) {
        noopRun(n)
        release(spark)
      }
    })
    res("warmup_s") = warmS
    val rnd = new scala.util.Random(a("seed").toLong)
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 0
    timedRounds(pass == 0) {
      for (n <- rnd.shuffle(names)) {
        val (ok, s) = timed(tracer.span(s"mix.$n")(noopRun(n)))
        runs += Map("query" -> n, "pass" -> pass, "s" -> s, "ok" -> ok)
        release(spark)
      }
      pass += 1
    }
    res("passes") = pass
    res("runs") = runs.toSeq
  }

  /** Runs one mix query to a noop sink; false if it raised. */
  private def noopRun(n: String): Boolean =
    try {
      SparkEntry.queries(n)(spark, data).write.format("noop")
        .mode("overwrite").save()
      true
    } catch { case e: Exception => System.err.println(s"$n failed: $e"); false }

  // ------------------------------------------------------------------ prime

  /** Loads, on a tiny input, the classes the workloads load, so that the
    * build can archive them for class-data sharing. Measures nothing. */
  def prime(): Unit = {
    import spark.implicits._
    val dir = s"$runDir/prime"
    Tables.writeParquet((0 until 64).map { i =>
      (i.toLong, s"word$i, spark row ${i % 7}: the data!", "en", s"src${i % 3}", 250L + 2 * i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    Relational.topNByCount(ExactDedup.keepFirst(docs, Seq("text"), "doc_id")
      .withColumn("text", TextFunctions.cleanText(col("text"))), "lang", 3).collect()
    val model = Sentiment.pipeline("svm").fit(Sentiment.prepare(docs))
    ScoringStream.scoreStream(
        spark.readStream.schema(docs.schema).parquet(s"$dir/documents.parquet"),
        model, "text")
      .select("doc_id", "sentiment").writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.AvailableNow()).start(s"$dir/sink").awaitTermination()
  }

  private def writeOracle(names: Seq[String]): Unit = {
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$runDir/oracle_sql.json"), Json.value(sql))
  }

}
