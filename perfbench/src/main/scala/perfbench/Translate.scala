package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.core.Schemas
import graft.functions.TextFunctions
import graft.sources.CsvIO
import graft.translate.{MockTranslator, Translator}

/** The reference's own product flow: each op runs one pre-generated CSV
  * through `Pipeline.runCsv` with the fault-injecting mock translator, then
  * `Pipeline.writeReports`. Each op reads another file, generated from the
  * seed and the file's number just before the op (outside its timing), so
  * a run makes only the files it reads.
  */
final class Translate(tiny: Boolean) extends Workload {
  val name = "translate"
  val itemName = "sentences"
  val roundLength = 1

  /** At 5,000 rows an untraced op takes ~4.5 s on 4 vCPUs and jobs run for
    * ~60% of a traced op (1,000 rows: ~51%; 10,000: ~69%, but at ~6 s per
    * op the runs no longer fit the benchmark's time budget).
    */
  private val rowsPerFile = if (tiny) 300 else 5000
  /** Rows of the set-up's warm-up file: the same flow, the same code paths. */
  private val warmRows = if (tiny) 100 else 200

  private var spark: SparkSession = _
  private var seed = 0L
  private var inputDir: String = _
  private var dir: String = _
  private var seq = 0
  private var warm: IndexedSeq[(String, String)] = IndexedSeq.empty
  private var liveBytes = 0L
  // properties of the files made so far
  private var files = 0
  private var bytes = 0L
  private var quoted = 0L
  private var nonAscii = 0L
  private val lens = mutable.ArrayBuffer.empty[Double]
  /** The last checked op: (input rows, output rows, missing ids, extra ids). */
  var lastCheck: (IndexedSeq[(String, String)], Seq[(String, String, String)], Seq[String], Seq[String]) = _

  private val nouns = Seq("brake caliper", "rotor", "coolant reservoir", "gasket",
    "torque converter", "fuel injector", "wheel-speed sensor", "wiring harness",
    "mounting bracket", "radiator hose", "hose clamp", "EGR valve", "piston ring",
    "wheel bearing", "drive axle", "steering rack", "fuse", "relay", "battery",
    "alternator", "radiator", "thermostat", "intake manifold", "exhaust pipe",
    "catalytic converter", "muffler", "wiper blade", "headlamp", "bumper", "fender",
    "door hinge", "tailgate latch", "side mirror", "seat belt", "airbag module",
    "camshaft", "crankshaft", "timing chain", "pulley", "belt tensioner",
    "oil filter", "water pump", "Zündkerze", "pièce de rechange", "Ölstand",
    "façade panel", "ABS unit", "control arm", "tie rod end", "spark plug")
  private val verbs = Seq("Inspect", "Replace", "Tighten", "Torque", "Remove",
    "Install", "Check", "Clean", "Adjust", "Lubricate", "Drain", "Refill",
    "Calibrate", "Verify", "Disconnect", "Reconnect")
  private val adjs = Seq("front", "rear", "left", "right", "upper", "lower",
    "inner", "outer", "primary", "secondary", "worn", "cracked", "loose", "new",
    "\"OEM\"", "naïve-fit", "rust-free")
  private val tails = Seq("to 45 N·m", "at 90 °C", "every 15 000 km",
    "if the \"check engine\" lamp is lit", "before the road test", "with the engine off",
    "per the service manual, section 4", "and record the reading", "– see figure 3",
    "then reset the fault memory")

  private def sentence(r: scala.util.Random): String = {
    // skewed lengths: most sentences are short, a few run long
    val clauses = 1 + (-math.log(1 - r.nextDouble()) * 1.6).toInt.min(11)
    val parts = (0 until clauses).map { c =>
      val v = if (c == 0) verbs(r.nextInt(verbs.size)) else verbs(r.nextInt(verbs.size)).toLowerCase(Locale.ROOT)
      val a = if (r.nextInt(3) == 0) adjs(r.nextInt(adjs.size)) + " " else ""
      val t = if (r.nextInt(2) == 0) " " + tails(r.nextInt(tails.size)) else ""
      s"$v the $a${nouns(r.nextInt(nouns.size))}$t"
    }
    parts.mkString(", ") + "."
  }

  /** CSV field quoting the program's reader accepts: quotes escaped with a backslash. */
  private def field(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\\\"") + "\"" else s

  def inputPath(f: Int) = if (f < 0) s"$inputDir/warm-up.csv" else s"$inputDir/part-$f.csv"

  /** Writes file `f` (-1: the warm-up file) and returns its rows as the
    * program sees them after trim: (description_id, english_sentence).
    */
  private def makeFile(f: Int): IndexedSeq[(String, String)] = {
    val r = new scala.util.Random(seed * 1000003L + f)
    val rows = (0 until (if (f < 0) warmRows else rowsPerFile)).map { i =>
      val id = s"D$seed-$f-$i"
      val pad = if (r.nextInt(20) == 0) "  " else "" // untrimmed cells
      (id, pad + sentence(r) + pad)
    }
    val sb = new StringBuilder("description_id,english_sentence\n")
    rows.foreach { case (id, s) => sb.append(field(id)).append(',').append(field(s)).append('\n') }
    Files.write(Paths.get(inputPath(f)), sb.toString.getBytes(UTF_8))
    rows.map { case (id, s) => (id, s.trim) }
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.spark = spark
    this.seed = seed
    inputDir = dir
    Files.createDirectories(Paths.get(dir))
    warm = makeFile(-1)
  }

  def inputProps: Seq[(String, Any)] = {
    val n = math.max(1, files * rowsPerFile)
    Seq("files" -> files, "rows_per_file" -> rowsPerFile, "rows" -> files * rowsPerFile,
      "value_bytes" -> bytes, "quoted_share" -> quoted.toDouble / n,
      "non_ascii_share" -> nonAscii.toDouble / n,
      "chars_p50" -> Stats.quantile(lens.toSeq, 0.5), "chars_p99" -> Stats.quantile(lens.toSeq, 0.99),
      "fault_share" -> "1 in 2 batches: modes 0-4 of MockTranslator, keyed on md5(custom_id)")
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    seq = 0
    liveBytes = 0L
    Files.createDirectories(Paths.get(dir))
    // warm-up: a small file through the whole flow
    Util.warmUp(spark, Seq(opOn(-1, warm, s"$dir/out/warm-up")))
  }

  def outputDirs: Seq[String] = Seq(s"$dir/out")
  def liveValueBytes: Long = liveBytes
  def stateProps(spark: SparkSession): Seq[(String, Any)] = Seq("ops_written" -> seq)

  /** The mock's translation: words reversed, upper-cased. */
  def mockTransform(s: String): String =
    s.split(" ", -1).reverse.mkString(" ").toUpperCase(Locale.ROOT)

  private val missingSchema = StructType(Seq(
    StructField("custom_id", StringType), StructField("pos", LongType),
    StructField("description_id", StringType), StructField("english_sentence", StringType)))
  private val extraSchema = StructType(Seq(
    StructField("custom_id", StringType), StructField("description_id", StringType),
    StructField("translation", StringType)))

  /** Checks one op's outputs against the generated rows. */
  def checkOutputs(input: IndexedSeq[(String, String)], out: Seq[(String, String, String)],
                   missing: Seq[String], extra: Seq[String]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val want = input.toMap
    val counts = out.groupBy(_._1).map { case (k, v) => k -> v.size }
    input.foreach { case (id, _) =>
      val c = counts.getOrElse(id, 0)
      if (c != 1) bad += s"id $id appears $c times in the output"
    }
    counts.keys.filterNot(want.contains).take(3).foreach(id => bad += s"output holds unknown id $id")
    out.foreach { case (id, en, tr) =>
      want.get(id).foreach { s =>
        if (en != s) bad += s"id $id: english_sentence changed"
        else if (tr != Schemas.FailedSentinel && tr != mockTransform(s))
          bad += s"id $id: translation is not the mock's transform of its own sentence"
      }
    }
    val sentinel = out.filter(_._3 == Schemas.FailedSentinel).map(_._1).toSet
    if (missing.toSet != sentinel || missing.size != missing.toSet.size)
      bad += s"missing report (${missing.size} ids) differs from the sentinel rows (${sentinel.size})"
    extra.filter(want.contains).take(3).foreach(id => bad += s"extra report holds input id $id")
    bad.toSeq
  }

  def outDir(n: Int): String = s"$dir/out/op-$n"

  /** Lines of the output CSV an op wrote, in file order. */
  def csvLines(out: String): Seq[String] = {
    val w = Files.list(Paths.get(out))
    try w.iterator().asScala.map(_.toString).filter(_.endsWith(".csv")).toSeq.sorted
      .flatMap(p => Files.readAllLines(Paths.get(p), UTF_8).asScala)
    finally w.close()
  }

  /** Runs file `n` through `Pipeline.runCsv` into `out`, untimed and unchecked. */
  def runCsvInto(n: Int, out: String): Unit =
    Pipeline.runCsv(spark, inputPath(n), out, new MockTranslator(injectFaults = true))

  def nextOp(i: Int): Op = {
    val n = seq
    seq += 1
    val rows = makeFile(n)
    files += 1
    rows.foreach { case (id, s) =>
      bytes += Util.utf8(id) + Util.utf8(s)
      if (s.exists(c => c == ',' || c == '"')) quoted += 1
      if (s.exists(_ > 127)) nonAscii += 1
      lens += s.length
    }
    opOn(n, rows, outDir(n))
  }

  private def opOn(f: Int, rows: IndexedSeq[(String, String)], outDir: String): Op =
    new Op {
      val kind = "write"
      val items = rows.size.toLong
      val suppliedBytes = rows.map { case (id, s) => Util.utf8(id) + Util.utf8(s) }.sum
      private var input: DataFrame = _
      private var requests: DataFrame = _
      private var persisted = List.empty[DataFrame]

      def run(tr: Tracer): Unit =
        if (!tr.active) {
          val r = Pipeline.runCsv(spark, inputPath(f), s"$outDir/csv", new MockTranslator(injectFaults = true))
          Pipeline.writeReports(r, s"$outDir/reports")
        } else tracedRun(tr)

      /** `Pipeline.runCsv`'s three steps (read, `Pipeline.run`, write), with
        * the program's own `Pipeline.run`. Its lazy layers are materialized
        * one at a time inside their own spans: the translator handed to it
        * persists the requests it receives (built by `operators.Batching`)
        * and the responses it returns; the result (built by
        * `operators.Reconcile`) is persisted before it is written.
        */
      private def tracedRun(tr: Tracer): Unit = {
        def mat(df: DataFrame): DataFrame = {
          val p = df.persist(StorageLevel.MEMORY_ONLY)
          persisted ::= p
          p.write.format("noop").mode("overwrite").save()
          p
        }
        val mock = new MockTranslator(injectFaults = true)
        val tap = new Translator {
          def translate(reqs: DataFrame): DataFrame = {
            requests = tr.call("operators.Batching", "buildRequests")(mat(reqs))
            tr.call("translate", "translate")(mat(mock.translate(requests)))
          }
        }
        input = tr.call("sources", "readInput")(mat(CsvIO.readInput(spark, inputPath(f))))
        // the eager batch assignment runs here; plan building is split by module
        val lazyResult = tr.call("operators.Batching", "Pipeline.run")(Pipeline.run(input, tap))
        val r = tr.call("operators.Reconcile", "run")(Pipeline.Result(mat(lazyResult.output),
          mat(lazyResult.missing), mat(lazyResult.extra), mat(lazyResult.summary)))
        tr.call("sources", "writeOutputCsv")(CsvIO.writeOutputCsv(
          r.output.select("description_id", "english_sentence", "translated_sentence"), s"$outDir/csv"))
        tr.call("operators.Reconcile", "writeReports")(Pipeline.writeReports(r, s"$outDir/reports"))
      }

      override def afterTraced(tr: Tracer): Unit = {
        if (input != null && requests != null) {
          val baseCost = math.ceil(Pipeline.DefaultSystemPrompt.length / 4.0).toLong
          val tokens = input.agg(sum(org.apache.spark.sql.functions.ceil(
            TextFunctions.approxTokenCount(col("english_sentence")).cast("long") *
              (1.0 + Schemas.OutputFactor)) + 1)).head().getLong(0)
          val batches = requests.count()
          tr.observe("operators.Batching.fill_ratio",
            (tokens + batches * baseCost).toDouble / (batches * Schemas.TokenBudget))
        }
        persisted.foreach(_.unpersist(false))
        persisted = Nil
      }

      def check(): Seq[String] = {
        val out = spark.read.schema(Schemas.output).option("header", "true")
          .csv(s"$outDir/csv").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
        val missing = spark.read.schema(missingSchema).option("header", "true")
          .csv(s"$outDir/reports/missing").collect().map(_.getString(2)).toSeq
        val extra = spark.read.schema(extraSchema).option("header", "true")
          .csv(s"$outDir/reports/extra").collect().map(_.getString(1)).toSeq
        liveBytes += out.map { case (a, b, c) => Util.utf8(a) + Util.utf8(b) + Util.utf8(c) }.sum
        lastCheck = (rows, out, missing, extra)
        checkOutputs(rows, out, missing, extra)
      }
    }

  def finalCheck(): Seq[String] = Nil
}
