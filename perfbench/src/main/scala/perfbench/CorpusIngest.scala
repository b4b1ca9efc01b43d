package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.ManifestTable
import graft.streaming.{Ingest, NearDupSink, StatsSink}

/** Training-data ingest: each op folds one micro-batch through
  * `Ingest.ingestBatchFullCommitted` (exact dedup, quality filter, PII
  * scrub, near-dup dedup, stats). Batches carry planted exact repeats of
  * earlier batches, near-duplicates (an earlier document minus its last 8
  * characters), PII and quality failures. Per-batch cost is per-action
  * driver and scheduling overhead; the corpus and both indexes grow for
  * the whole run, so an O(corpus) step shows as rising latency.
  *
  * Round of 3 ops: the second re-delivers the previous batch under its
  * batch id (at-least-once delivery), the third also compacts both
  * indexes and vacuums the corpus.
  */
final class CorpusIngest(tiny: Boolean) extends Workload {
  val name = "corpus_ingest"
  val itemName = "documents"
  val roundLength = 3

  private val batchDocs = if (tiny) 16 else 32

  private var spark: SparkSession = _
  private var seed = 0L
  private var dir: String = _
  private var vocab: IndexedSeq[String] = IndexedSeq.empty
  private var props = Seq.empty[(String, Any)]
  private var seq = 0

  // model of the program's state, built only from what the generator planted
  private val exactSeen = mutable.HashSet.empty[String]
  private val nearSources = mutable.ArrayBuffer.empty[String]
  /** id -> (scrubbed text, lang) of every expected corpus row. */
  private val corpus = mutable.LinkedHashMap.empty[Long, (String, String)]
  private var lastBatch: Batch = _
  private var nextBatchNo = 0
  private val planted = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** The last checked op: the batch and the corpus rows in its id range. */
  var lastCheck: (Batch, Seq[(Long, String)]) = _

  final case class Doc(id: Long, text: String, lang: String, kind: String, scrubbed: String)
  final case class Batch(no: Int, docs: Seq[Doc]) {
    def id: String = s"batch-$no"
    def survivors: Seq[Doc] = docs.filter(d => d.kind == "fresh" || d.kind == "pii")
  }

  private val stop = Seq("the", "of", "and", "to", "in", "is", "for", "with", "on", "a")
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))

  def corpusDir = s"$dir/corpus"
  def exactDir = s"$dir/exact_index"
  def nearDir = s"$dir/near_index"
  def statsDir = s"$dir/stats"

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.spark = spark
    this.seed = seed
    val r = new scala.util.Random(seed)
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "ba", "do", "fe", "gu", "pi", "ta", "er", "an", "os")
    // words of 3 to 7 letters; no digits, so the phone and IP patterns only
    // ever match planted PII
    vocab = (0 until 6000).map { _ =>
      val w = (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString
      w.take(3 + r.nextInt(3))
    }.distinct.toIndexedSeq
    props = Seq("batch_docs" -> batchDocs, "vocab" -> vocab.size,
      "mix_per_batch" -> "65% fresh, 10% PII, 10% exact repeats, 10% near-duplicates (last 8 chars dropped), 5% too short",
      "redelivery_share" -> 1.0 / 3, "maintenance_every_ops" -> roundLength,
      "doc_words" -> "120-180", "word_letters" -> "3-5", "stopword_share" -> 0.25)
  }

  def inputProps: Seq[(String, Any)] = props ++ Seq("planted_counts" -> planted.toMap)

  /** A clean document: drawn until it clears the quality rules' thresholds
    * (mean word length in [2.5, 5], stopword share >= 0.04) with a margin.
    */
  @annotation.tailrec
  private def fresh(r: scala.util.Random): String = {
    val n = 120 + r.nextInt(61)
    val words = (0 until n).map { i =>
      val w = if (r.nextInt(4) == 0) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.size))
      if (i % 14 == 13) w + "." else w
    }
    val meanLen = words.map(_.length).sum.toDouble / n
    val stopShare = words.count(stop.contains).toDouble / n
    if (meanLen > 3.0 && meanLen < 4.5 && stopShare > 0.1) words.mkString(" ") else fresh(r)
  }

  private def makeBatch(no: Int): Batch = {
    val r = new scala.util.Random(seed * 1000003L + no)
    val base = no.toLong * 1000L
    val nRepeat = if (exactSeen.isEmpty) 0 else batchDocs / 10
    val nNear = if (nearSources.isEmpty) 0 else batchDocs / 10
    val nPii = batchDocs / 10
    val nShort = batchDocs / 20
    val nFresh = batchDocs - nRepeat - nNear - nPii - nShort
    val langs = Seq("en", "de", "fr")
    def lang() = langs(r.nextInt(langs.size))
    val seen = exactSeen.toIndexedSeq.sorted
    val repeatSrc = r.shuffle(seen).take(nRepeat)
    val nearSrc = r.shuffle(nearSources.toIndexedSeq).take(nNear)
    val docs = mutable.ArrayBuffer.empty[(String, String, String)] // text, kind, scrubbed
    (0 until nFresh).foreach { _ => val t = fresh(r); docs += ((t, "fresh", t)) }
    (0 until nPii).foreach { _ =>
      val words = fresh(r).split(" ")
      val user = vocab(r.nextInt(vocab.size)) + "." + vocab(r.nextInt(vocab.size))
      val phone = f"+49 ${150 + r.nextInt(30)} ${r.nextInt(1000000)}%06d"
      val at = 5 + r.nextInt(words.size - 10)
      def ins(email: String, ph: String) =
        (words.take(at) ++ Seq("contact", email, "or", ph) ++ words.drop(at)).mkString(" ")
      docs += ((ins(s"$user@mail-host.com", phone), "pii", ins("<EMAIL>", "<PHONE>")))
    }
    repeatSrc.foreach(t => docs += ((t, "repeat", t)))
    nearSrc.foreach { t => val c = t.dropRight(8).trim; docs += ((c, "near", c)) }
    (0 until nShort).foreach { _ =>
      val t = (0 until 8 + r.nextInt(5)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      docs += ((t, "short", t))
    }
    val out = r.shuffle(docs.toSeq).zipWithIndex.map { case ((t, k, s), i) =>
      Doc(base + i, t, lang(), k, s)
    }
    out.foreach(d => planted(d.kind) += 1)
    Batch(no, out)
  }

  /** Applies a first delivery to the model. */
  private def absorb(b: Batch): Unit = {
    b.docs.foreach { d =>
      if (d.kind == "fresh" || d.kind == "pii" || d.kind == "near") exactSeen += d.text
      if (d.kind == "fresh") nearSources += d.text
    }
    b.survivors.foreach(d => corpus(d.id) = (d.scrubbed, d.lang))
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    Files.createDirectories(Paths.get(dir))
    seq = 0
    nextBatchNo = 0
    exactSeen.clear(); nearSources.clear(); corpus.clear(); planted.clear()
    lastBatch = null
    Util.warmUp(spark, Seq(nextOp(0)))
  }

  def outputDirs: Seq[String] = Seq(corpusDir, exactDir, nearDir, statsDir)
  def liveValueBytes: Long = corpus.map { case (_, (t, l)) => 8L + Util.utf8(t) + Util.utf8(l) }.sum

  def stateProps(spark: SparkSession): Seq[(String, Any)] = Seq(
    "corpus_rows" -> corpus.size,
    "corpus_files" -> ManifestTable.snapshot(spark, corpusDir).files.size,
    "exact_index_files" -> ManifestTable.snapshot(spark, s"$exactDir/segments").files.size,
    "near_index_files" -> ManifestTable.snapshot(spark, s"$nearDir/segments").files.size,
    "bloom_cache_entries" -> 4096, "snapshot_cache_entries" -> 256)

  override def tracedState(spark: SparkSession): Map[String, Double] = Map(
    "ext.ManifestTable.files_live" -> ManifestTable.snapshot(spark, corpusDir).files.size.toDouble)

  /** Compares the corpus rows of one batch's id range with the model. */
  def checkBatch(b: Batch, got: Seq[(Long, String)]): Seq[String] = {
    val want = b.survivors.map(d => d.id -> d.scrubbed).toMap
    val bad = mutable.ArrayBuffer.empty[String]
    got.groupBy(_._1).foreach { case (id, xs) =>
      if (xs.size > 1) bad += s"doc $id appears ${xs.size} times"
      if (!want.contains(id)) bad += s"doc $id survived but should have been dropped (${b.docs.find(_.id == id).map(_.kind).getOrElse("?")})"
      else if (xs.head._2 != want(id))
        bad += s"doc $id text differs from the scrubbed input: '${xs.head._2.take(80)}' vs '${want(id).take(80)}'"
    }
    want.keys.filterNot(got.map(_._1).toSet).foreach { id =>
      val d = b.docs.find(_.id == id).get
      bad += s"${d.kind} doc $id is missing from the corpus: '${d.text.take(60)}'"
    }
    bad.toSeq
  }

  /** Generated text has no digits and no '@', so either one is leaked PII. */
  private val piiRe = "[@0-9]".r

  def nextOp(i: Int): Op = {
    val n = seq
    seq += 1
    val redeliver = n % roundLength == 1 && lastBatch != null
    val maintain = n % roundLength == roundLength - 1
    val b = if (redeliver) lastBatch else { val x = makeBatch(nextBatchNo); nextBatchNo += 1; x }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(b.docs.map(d => Row(d.id, d.text, d.lang)): _*), schema)
    new Op {
      val kind = "write"
      val items = b.docs.size.toLong
      val suppliedBytes = b.docs.map(d => 8L + Util.utf8(d.text) + Util.utf8(d.lang)).sum
      def run(tr: Tracer): Unit = {
        tr.call("streaming.Ingest", "ingestBatchFullCommitted")(
          Ingest.ingestBatchFullCommitted(df, corpusDir, exactDir, nearDir, b.id,
            statsDir = Some(statsDir)))
        if (maintain) {
          tr.call("streaming.Ingest", "compactIndex")(Ingest.compactIndex(spark, exactDir))
          tr.call("streaming.NearDupSink", "compactIndex")(NearDupSink.compactIndex(spark, nearDir))
          tr.call("ext.ManifestMaintenance", "vacuum")(ManifestTable.vacuum(spark, corpusDir, graceMs = 0L))
        }
      }
      def check(): Seq[String] = {
        if (!redeliver) { absorb(b); lastBatch = b }
        val lo = b.no * 1000L
        val got = ManifestTable.readWhere(spark, corpusDir, s"id >= $lo AND id < ${lo + 1000}")
          .select("id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val ids = ManifestTable.read(spark, corpusDir).select("id").collect().map(_.getLong(0)).toSet
        lastCheck = (b, got)
        checkBatch(b, got) ++
          (if (ids.size != corpus.size || ids != corpus.keySet)
            Seq(s"corpus holds ${ids.size} rows, expected ${corpus.size}; " +
              s"lost ${corpus.keySet.diff(ids).take(5)}, unexpected ${ids.diff(corpus.keySet).take(5)}")
          else Nil)
      }
    }
  }

  def finalCheck(): Seq[String] = {
    val rows = ManifestTable.read(spark, corpusDir).select("id", "text", "lang").collect()
    val bad = mutable.ArrayBuffer.empty[String]
    val got = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got.keySet != corpus.keySet)
      bad += s"final corpus ids differ from the expected survivors (${got.size} vs ${corpus.size})"
    rows.filter(r => piiRe.findFirstIn(r.getString(1)).isDefined).take(3)
      .foreach(r => bad += s"doc ${r.getLong(0)} still holds PII")
    val stats = StatsSink.readCommitted(spark, statsDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = corpus.values.groupBy(_._2).map { case (l, xs) =>
      l -> (xs.size.toLong, xs.map(x => x._1.trim.split("\\s+").length.toLong).sum,
        xs.map(_._1.length.toLong).sum)
    }
    if (stats != want) bad += s"stats totals $stats differ from counts over the corpus $want"
    bad.toSeq
  }
}
