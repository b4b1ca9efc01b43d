package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.functions.TextFunctions
import graft.operators.{Batching, Reconcile}
import graft.translate.{MockTranslator, Translator}

/** End-to-end pipeline slice (SURVEY.md §7): CSV-shaped input → batch →
  * mock translator → parse → reconcile → output, with and without injected
  * response pathologies.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def input(n: Int) =
    (0 until n).map(i => (i.toLong, s"P$i", s"engine fault code number $i detected"))
      .toDF("pos", "description_id", "english_sentence")

  test("clean translator: every row translated, none missing, 100% rate") {
    val r = Pipeline.run(input(50), new MockTranslator(injectFaults = false),
      budget = 2000, numPartitions = 2)
    val out = r.output.collect()
    assert(out.length == 50)
    assert(!out.exists(_.getAs[String]("translated_sentence") == Schemas.FailedSentinel))
    // deterministic mock translation: tokens reversed, uppercased
    val row0 = r.output.filter(col("description_id") === "P0").head()
    assert(row0.getAs[String]("translated_sentence") ==
      "DETECTED 0 NUMBER CODE FAULT ENGINE")
    assert(r.missing.count() == 0 && r.extra.count() == 0)
    val s = r.summary.head()
    assert(s.getAs[Long]("successful") == 50 && s.getAs[Double]("success_rate") == 100.0)
  }

  test("faulty translator: sentinels appear but rows are never lost") {
    val n = 300
    val r = Pipeline.run(input(n), new MockTranslator(injectFaults = true),
      budget = 300, numPartitions = 2)
    val out = r.output.collect()
    assert(out.length == n, "every input row appears exactly once in the output")
    assert(out.map(_.getAs[String]("description_id")).distinct.length == n)
    val failed = out.count(_.getAs[String]("translated_sentence") == Schemas.FailedSentinel)
    assert(failed > 0, "fault injection should produce some failures")
    assert(failed < n / 2, "repair + fallback should recover most content")
    assert(r.missing.count() == failed)
    val s = r.summary.head()
    assert(s.getAs[Long]("total") == n)
    assert(s.getAs[Long]("successful") == n - failed)
  }

  test("extra ids are reported, not merged into the output") {
    val r = Pipeline.run(input(200), new MockTranslator(injectFaults = true),
      budget = 1200, numPartitions = 1)
    val extras = r.extra.select("description_id").as[String].collect()
    assert(extras.forall(_ == "ghost-id"))
    assert(!r.output.filter(col("description_id") === "ghost-id").isEmpty == false)
  }

  test("unicode round-trip fidelity (Telugu)") {
    val telugu = Seq(
      (0L, "21", "ఫ్యూయల్ డెలివరీ ప్రెజర్ సెన్సార్ వద్ద తక్కువ ఇంధన పీడనం"),
      (1L, "965", "ఇగ్నిషన్ రన్ యాక్ట్ సర్క్యూట్ ఓపెన్"))
      .toDF("pos", "description_id", "english_sentence")
    val r = Pipeline.run(telugu, new MockTranslator(injectFaults = false))
    val got = r.output.orderBy("pos")
      .select("translated_sentence").as[String].collect()
    assert(got(0) == "పీడనం ఇంధన తక్కువ వద్ద సెన్సార్ ప్రెజర్ డెలివరీ ఫ్యూయల్")
    assert(got(1) == "ఓపెన్ సర్క్యూట్ యాక్ట్ రన్ ఇగ్నిషన్")
  }

  test("T3 folder fan-out: per-file batching, lineage, one pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-folder").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/alpha.csv"),
      "description_id,english_sentence\nA1,first alpha sentence here\nA2,second alpha sentence here\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/beta.csv"),
      "description_id,english_sentence\nB1,only beta sentence here\n")
    val out = Pipeline.runFolder(spark, dir, new MockTranslator(), budget = 2000)
      .collect()
    assert(out.length == 3)
    val byStem = out.groupBy(_.getAs[String]("source_stem"))
    assert(byStem.keySet == Set("alpha", "beta"))
    assert(byStem("alpha").length == 2 && byStem("beta").length == 1)
    val b1 = out.find(_.getAs[String]("description_id") == "B1").get
    assert(b1.getAs[String]("translated_sentence") == "HERE SENTENCE BETA ONLY")
  }

  test("per-key batcher numbers batches per key with stem-prefixed ids") {
    val df = Seq(
      ("f1", 0L, "a", 400L), ("f1", 1L, "b", 400L), ("f1", 2L, "c", 400L),
      ("f2", 3L, "d", 400L))
      .toDF("source_stem", "pos", "description_id", "tokens")
    val assigned = graft.operators.Batching
      .assignBatchesPerKey(df, "source_stem", budget = 2300)
      .select("source_stem", "description_id", "batch_index", "custom_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._2)
    // rowCost(400) = ceil(400*2.8)+1 = 1121; two fit in 2300, third opens batch 1
    assert(assigned(0) == ("f1", "a", 0L, "f1-batch-0001"))
    assert(assigned(1) == ("f1", "b", 0L, "f1-batch-0001"))
    assert(assigned(2) == ("f1", "c", 1L, "f1-batch-0002"))
    // f2 restarts numbering at batch-0001
    assert(assigned(3) == ("f2", "d", 0L, "f2-batch-0001"))
  }

  test("S12 report sinks write missing/extra/summary tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reports").toString
    val r = Pipeline.run(input(100), new MockTranslator(injectFaults = true),
      budget = 500, numPartitions = 2)
    Pipeline.writeReports(r, dir)
    val missing = spark.read.option("header", "true").csv(s"$dir/missing")
    assert(missing.count() == r.missing.count())
    val summary = spark.read.json(s"$dir/summary")
    assert(summary.count() == 1)
  }

  test("F1 tokenizer is pluggable at the pipeline seam") {
    val r1 = Pipeline.run(input(40), new MockTranslator(), budget = 1000, numPartitions = 1)
    val r2 = Pipeline.run(input(40), new MockTranslator(), budget = 1000, numPartitions = 1,
      tokenizer = graft.functions.TextFunctions.regexTokenCount)
    // a different token counter moves batch boundaries but never changes
    // the translated content
    assert(r2.output.count() == 40)
    assert(r1.output.select("translated_sentence").collect().map(_.getString(0)).toSet ==
      r2.output.select("translated_sentence").collect().map(_.getString(0)).toSet)
  }

  test("csv round trip with BOM sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val csv = s"$dir/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "description_id,english_sentence\n21, Low fuel pressure detected \n27,\n ,blank id kept\nP1,Another fault here\n")
    val in = graft.sources.CsvIO.readInput(spark, csv)
    val rows = in.orderBy("pos").collect()
    // row 27 dropped (blank sentence); values trimmed
    assert(rows.map(_.getAs[String]("description_id")).toSeq == Seq("21", "", "P1"))
    assert(rows(0).getAs[String]("english_sentence") == "Low fuel pressure detected")
    val out = s"$dir/out"
    val r = Pipeline.runCsv(spark, csv, out, new MockTranslator())
    assert(r.output.count() == 3)
    // BOM present on part files
    val part = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath).take(3)
    assert(bytes.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
  }

  /** The faulty mock plus a second response for batch-0001 that
    * re-translates P0, so last-wins resolution across responses decides
    * P0's row. The duplicate is unioned after the mock's rows, so it is
    * the later response whatever order a shuffle leaves the mock's rows in.
    */
  private class DuplicatingTranslator extends Translator {
    var responses: DataFrame = _
    def translate(requests: DataFrame): DataFrame = {
      val mock = new MockTranslator(injectFaults = true).translate(requests)
      responses = mock.unionByName(mock.filter(col("custom_id") === "batch-0001")
        .withColumn("content", lit("""{"P0": "OVERRIDDEN"}""")))
      responses
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  for (np <- Seq(1, 2))
    test(s"one persisted reconcile gives the standalone answers (numPartitions $np)") {
      val in = input(300)
      val t = new DuplicatingTranslator
      val r = Pipeline.run(in, t, budget = 300, numPartitions = np)
      // the standalone compositions over the same batches and responses
      val baseCost = math.ceil(Pipeline.DefaultSystemPrompt.length / 4.0).toLong
      val expected = Batching.assignBatches(
          in.withColumn("tokens", TextFunctions.approxTokenCount(col("english_sentence")).cast("long")),
          300, baseCost, numPartitions = np)
        .select("custom_id", "pos", "description_id", "english_sentence")
      val tr = Reconcile.translations(t.responses)
      val rec = Reconcile.reconcile(expected, tr)
      val ext = Reconcile.extra(expected, tr)
      assert(sorted(r.output) ==
        sorted(rec.select("pos", "description_id", "english_sentence", "translated_sentence")))
      assert(sorted(r.missing) == sorted(Reconcile.missing(rec)))
      assert(sorted(r.extra) == sorted(ext))
      assert(r.summary.columns.toSeq ==
        Seq("total", "successful", "failed", "shift_suspected", "success_rate", "extra"))
      assert(sorted(r.summary) == sorted(Reconcile.summary(rec, ext)))
      // the cases are exercised, not vacuous
      assert(r.output.filter(col("description_id") === "P0").head()
        .getAs[String]("translated_sentence") == "OVERRIDDEN")
      assert(!r.missing.isEmpty && !r.extra.isEmpty)
      // the missing report is exactly the output's sentinel rows
      assert(sorted(r.missing.select("pos", "description_id", "english_sentence")) ==
        sorted(r.output.filter(col("translated_sentence") === Schemas.FailedSentinel)
          .select("pos", "description_id", "english_sentence")))
    }

  /** Each job's SQL root execution id (or "-"), per job group, in start
    * order. Listener events arrive asynchronously; [[fence]] runs a job in
    * its own group and waits for it, so every earlier job has been seen.
    */
  private class JobLog extends SparkListener {
    private val jobs = new ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.add((prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).getOrElse("-")))
    }
    def in[T](group: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }
    def fence(): Unit = {
      val g = s"fence-${java.util.UUID.randomUUID()}"
      in(g)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == g)) {
        assert(System.nanoTime() < deadline, "listener never saw the fence job")
        Thread.sleep(10)
      }
    }
    def of(group: String): Seq[String] = jobs.asScala.filter(_._1 == group).map(_._2).toSeq
  }

  test("the reports read the persisted reconcile: one job each for missing and extra") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val csv = s"$dir/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      (0 until 120).map(i => s"P$i,engine fault code number $i detected")
        .mkString("description_id,english_sentence\n", "\n", "\n"))
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val r = log.in("output")(Pipeline.runCsv(spark, csv, s"$dir/out",
        new MockTranslator(injectFaults = true)))
      log.in("reports")(Pipeline.writeReports(r, s"$dir/reports"))
      log.fence()
      // writeReports runs one SQL execution per report: missing, extra, summary
      val reports = log.of("reports")
      val perReport = reports.distinct.map(id => reports.count(_ == id))
      assert(perReport.length == 3 && !reports.contains("-"), reports)
      assert(perReport.take(2) == Seq(1, 1), s"jobs per report (missing, extra, summary): $perReport")
      // 29 jobs when each report re-ran the whole chain, 17 with one reconcile
      val total = log.of("output").length + log.of("reports").length
      assert(total <= 17, s"runCsv + writeReports ran $total jobs")
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
