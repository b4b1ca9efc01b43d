package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.functions.TextFunctions
import graft.operators.{Batching, Reconcile}
import graft.sources.CsvIO
import graft.translate.Translator

/** The end-to-end translation pipeline (SURVEY.md §3.1 re-expressed
  * Spark-first): scan → clean → pos-index → token-budget batch → translator
  * boundary → parse cascade → reconcile → sinks. Stages 2 and 6 of the
  * reference are the engine; the network exchange is the pluggable
  * `Translator` seam.
  */
object Pipeline {

  val DefaultSystemPrompt: String =
    "Translate each value of the JSON object to the target language. " +
      "Reply with a JSON object mapping the same keys to translations."

  /** The four sinks of one run. They are lazy views of ONE persisted
    * reconcile (see [[graft.operators.Reconcile.run]]): the first frame
    * consumed runs the batching → translator → parse → join chain and
    * fills the cache, the other three only filter and aggregate it. A
    * caller that calls [[graft.core.Caches.release]] before consuming all
    * four pays a full recompute for each frame consumed after it.
    */
  case class Result(output: DataFrame, missing: DataFrame,
                    extra: DataFrame, summary: DataFrame)

  /** Run the full pipeline on a cleaned (pos, description_id,
    * english_sentence) DataFrame.
    *
    * @param tokenizer F1 seam (auto_translate.py:259-260 uses a BPE
    *                  tokenizer): any deterministic Column→Column token
    *                  counter; batch boundaries follow whatever counter
    *                  is plugged in. Default is the ~4-chars/token
    *                  approximation; TextFunctions.regexTokenCount is the
    *                  BPE-ish alternative and TextFunctions.bpeTokenCount
    *                  is REAL BPE over the committed merges table (needs
    *                  GraftFunctions.register on the session).
    */
  def run(input: DataFrame, translator: Translator,
          budget: Long = Schemas.TokenBudget,
          systemPrompt: String = DefaultSystemPrompt,
          numPartitions: Int = 0,
          tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
            TextFunctions.approxTokenCount): Result = {
    val withTokens = input.withColumn("tokens",
      tokenizer(col("english_sentence")).cast("long"))
    val baseCost = math.ceil(systemPrompt.length / 4.0).toLong
    val assigned = Batching.assignBatches(withTokens, budget, baseCost,
      numPartitions = numPartitions)
    val requests = Batching.buildRequests(assigned, systemPrompt)
    val responses = translator.translate(requests)
    val expected = assigned.select("custom_id", "pos", "description_id", "english_sentence")
    val (out, miss, ext, summ) = Reconcile.run(expected, responses)
    Result(out.orderBy("pos"), miss, ext, summ)
  }

  /** CSV-to-CSV convenience entry matching the reference CLI shape
    * (`auto_translate.py <csv> <lang> <out>`).
    */
  def runCsv(spark: SparkSession, inputCsv: String, outDir: String,
             translator: Translator): Result = {
    val input = CsvIO.readInput(spark, inputCsv)
    val r = run(input, translator)
    CsvIO.writeOutputCsv(
      r.output.select("description_id", "english_sentence", "translated_sentence"),
      outDir)
    r
  }

  /** T3 — folder fan-out (`batch_auto_translate.py <in_dir> <lang>
    * <out_dir>`) as ONE DataFrame pass: every CSV in the folder flows
    * through the same plan with `source_stem` as a key column, batches are
    * packed and numbered per file (stem-prefixed custom ids), and the
    * output carries per-file lineage. The reference's ThreadPool +
    * subprocess + stdout-regex IPC disappears into task parallelism and
    * ordinary columns.
    *
    * Timeout semantics: the reference kills a file's subprocess after
    * 7,200 s (batch_auto_translate.py:130). Here the unit of work is the
    * folder job; bound it with
    * `JobControl.withTimeout(spark, "folder", 7200000) { df.write... }`
    * around the consuming action (see [[graft.core.JobControl]]) — or run
    * one `runFolder` per stem, each under its own group, for the
    * reference's literal per-file isolation.
    */
  def runFolder(spark: SparkSession, inDir: String, translator: Translator,
                budget: Long = Schemas.TokenBudget,
                systemPrompt: String = DefaultSystemPrompt): DataFrame = {
    val input = CsvIO.withPos(CsvIO.readInputDir(spark, inDir))
      .withColumn("tokens", TextFunctions.approxTokenCount(col("english_sentence")))
    val baseCost = math.ceil(systemPrompt.length / 4.0).toLong
    val assigned = Batching.assignBatchesPerKey(input, "source_stem", budget, baseCost)
    val requests = Batching.buildRequests(assigned, systemPrompt)
    val responses = translator.translate(requests)
    val tr = Reconcile.translations(responses)
    val expected = assigned.select("custom_id", "pos", "description_id",
      "english_sentence", "source_stem")
    Reconcile.reconcile(expected, tr)
      .select("source_stem", "pos", "description_id", "english_sentence",
        "translated_sentence")
  }

  /** S12 — the reference's side-channel reports (missing-translations log
    * auto_translate.py:909-953, error log 1203-1208, summary 1069-1134) as
    * first-class table sinks: each report is just a DataFrame written
    * under `dir`.
    */
  def writeReports(r: Result, dir: String): Unit = {
    r.missing.write.mode("overwrite").option("header", "true").csv(s"$dir/missing")
    r.extra.write.mode("overwrite").option("header", "true").csv(s"$dir/extra")
    r.summary.write.mode("overwrite").json(s"$dir/summary")
  }
}
