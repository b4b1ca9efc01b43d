package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.ManifestTable

/** Reads beside writes on one keyed manifest-committed table: the
  * reference's job-tracking table widened to (id, batch_id, status, lang,
  * text, ts), bulk-loaded in set-up with blooms on `id`. A round of 24 ops
  * in a fixed order: 14 point lookups skewed toward recent keys, 3 range
  * scans on `ts`, one small append, a delete and an update each as
  * copy-on-write and as deletion vector, one SQL MERGE INTO upsert, then
  * maintenance (purge deletes, compact small files,
  * checkpoint, vacuum with zero grace). Every read is compared with an
  * in-memory model of the benchmark's own writes.
  */
final class TableMixed(tiny: Boolean) extends Workload {
  val name = "table_mixed"
  val itemName = "ops"
  val roundLength = 24

  private val loadBatches = 2
  private val loadRows = if (tiny) 500 else 10000
  private val lookupKeys = 20
  private val changeRows = 15
  private val appendRows = 100
  private val mergeRows = 40

  private var spark: SparkSession = _
  private var seed = 0L
  private var dir: String = _
  private var table: String = _
  private var inst = 0
  private var seq = 0
  private var props = Seq.empty[(String, Any)]
  private val model = mutable.TreeMap.empty[Long, Row]
  private var maxId = 0L
  /** The last checked read that returned rows: (what, model answer, rows read). */
  var lastRead: (String, Seq[Row], Seq[Row]) = _

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("batch_id", StringType),
    StructField("status", StringType), StructField("lang", StringType),
    StructField("text", StringType), StructField("ts", LongType)))
  private val langs = Seq("en", "de", "fr", "es", "it")
  private val statuses = Seq("submitted", "validating", "in_progress", "finalizing", "completed")

  private def tsOf(id: Long) = 1700000000000L + id * 10L + id % 7
  private def row(r: scala.util.Random, id: Long, batch: String): Row =
    Row(id, batch, statuses(r.nextInt(statuses.size)), langs(r.nextInt(langs.size)),
      s"job $id " + r.alphanumeric.take(20 + r.nextInt(60)).mkString, tsOf(id))

  private def rowBytes(x: Row): Long =
    16L + (1 to 4).map(i => Util.utf8(x.getString(i))).sum

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.spark = spark
    this.seed = seed
    props = Seq("bulk_rows" -> loadBatches * loadRows, "bulk_batches" -> loadBatches,
      "round" -> "14 lookups (20 keys, recency skew u^3), 3 ts ranges (~200 rows), 1 append (100 rows), CoW and DV delete and update (15 rows each), 1 MERGE (40 rows, half new), 1 maintenance",
      "read_share" -> 17.0 / 24, "write_share" -> 7.0 / 24)
  }

  def inputProps: Seq[(String, Any)] = props

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def setup(spark: SparkSession, dir: String): Unit = {
    // the catalog's warehouse is fixed per session, so each set-up
    // repetition gets its own table name under it
    this.dir = s"${spark.conf.get("spark.sql.catalog.graft.warehouse")}/bench/t$inst"
    table = s"graft.bench.t$inst"
    inst += 1
    Files.createDirectories(Paths.get(dir))
    seq = 0
    model.clear()
    val r = new scala.util.Random(seed)
    (0 until loadBatches).foreach { b =>
      val rows = (0 until loadRows).map(j => row(r, b.toLong * loadRows + j, s"load-$b"))
      ManifestTable.append(frame(rows).repartition(4), this.dir, s"load-$b", bloomCols = Seq("id"))
      rows.foreach(x => model(x.getLong(0)) = x)
    }
    maxId = loadBatches.toLong * loadRows - 1
    // warm-up: one of each read kind
    Util.warmUp(spark, Seq(lookup(-1), range(-2)))
  }

  def outputDirs: Seq[String] = Seq(dir)
  def liveValueBytes: Long = model.values.map(rowBytes).sum

  def stateProps(spark: SparkSession): Seq[(String, Any)] = Seq(
    "live_rows" -> model.size,
    "files_live" -> ManifestTable.snapshot(spark, dir).files.size,
    "head_version" -> ManifestTable.headVersion(spark, dir),
    "bloom_cache_entries" -> 4096, "snapshot_cache_entries" -> 256)

  override def tracedState(spark: SparkSession): Map[String, Double] = Map(
    "ext.ManifestTable.files_live" -> ManifestTable.snapshot(spark, dir).files.size.toDouble)

  private def rowKey(x: Row): Seq[Any] = (0 until 6).map(x.get)

  /** Compares a read's rows with the model's answer. */
  def compare(what: String, want: Seq[Row], got: Seq[Row]): Seq[String] = {
    val w = want.map(rowKey).sortBy(_.head.asInstanceOf[Long])
    val g = got.map(rowKey).sortBy(_.head.asInstanceOf[Long])
    if (w == g) Nil
    else {
      val missing = w.diff(g).take(2).map(_.take(3).mkString("/"))
      val stale = g.diff(w).take(2).map(_.take(3).mkString("/"))
      Seq(s"$what: ${g.size} rows, expected ${w.size}; missing $missing, unexpected $stale")
    }
  }

  private def rng(n: Int) = new scala.util.Random(seed * 7919L + n)

  private def liveIds(r: scala.util.Random, k: Int): Seq[Long] = {
    val ids = model.keysIterator.toIndexedSeq
    r.shuffle(ids).take(k).sorted
  }

  private def readOp(n: Int, pred: String, want: => Seq[Row], isLookup: Boolean): Op = new Op {
    val kind = "read"
    val items = 1L
    val suppliedBytes = 0L
    private var got: Seq[Row] = Nil
    def run(tr: Tracer): Unit =
      got = tr.call("ext.ManifestTable", "readWhere")(
        ManifestTable.readWhere(spark, dir, pred).collect().toSeq)
    override def afterTraced(tr: Tracer): Unit =
      if (isLookup) tr.observe("ext.ManifestTable.files_per_lookup",
        ManifestTable.pruneInfo(spark, dir, pred)._1.toDouble)
    def check(): Seq[String] = {
      val w = want
      val what = s"read '$pred'".take(60)
      if (got.nonEmpty) lastRead = (what, w, got)
      compare(what, w, got)
    }
  }

  private def lookup(n: Int): Op = {
    val r = rng(n)
    // skewed toward recent keys; some may have been deleted
    val keys = (0 until lookupKeys).map { _ =>
      maxId - (math.pow(r.nextDouble(), 3) * (maxId + 1)).toLong
    }.distinct.sorted
    readOp(n, ManifestTable.inPredicate("id", keys), keys.flatMap(model.get), isLookup = true)
  }

  private def range(n: Int): Op = {
    val r = rng(n)
    val lo = tsOf((r.nextDouble() * maxId).toLong)
    val hi = lo + 2000L
    readOp(n, s"ts >= $lo AND ts < $hi",
      model.values.filter(x => x.getLong(5) >= lo && x.getLong(5) < hi).toSeq, isLookup = false)
  }

  private def writeOp(supplied: Long, body: Tracer => Unit, apply: () => Unit): Op = new Op {
    val kind = "write"
    val items = 1L
    val suppliedBytes = supplied
    def run(tr: Tracer): Unit = { body(tr); apply() }
    def check(): Seq[String] = Nil
  }

  private def set(x: Row, i: Int, v: Any): Row = Row.fromSeq(x.toSeq.updated(i, v))

  /** One round, the same for every seed (keys and values are seeded): read
    * latency depends on the table's state (deletion vectors, file count),
    * so a seeded order would move the median between states. Lookups are
    * the majority and mostly precede the deletion-vector ops, so the median
    * op is a lookup.
    */
  private val Order = Seq("lookup", "lookup", "lookup", "range", "lookup", "lookup",
    "append", "lookup", "lookup", "range", "lookup", "delete", "lookup", "lookup",
    "update", "lookup", "range", "lookup", "merge", "lookup", "delete-dv", "update-dv",
    "lookup", "maintenance")

  def nextOp(i: Int): Op = {
    val n = seq
    seq += 1
    val slot = n % roundLength
    val r = rng(n)
    Order(slot) match {
      case "maintenance" => maintenance(n)
      case "lookup" => lookup(n)
      case "range" => range(n)
      case "append" =>
        val rows = (1 to appendRows).map(j => row(r, maxId + j, s"append-$n"))
        writeOp(rows.map(rowBytes).sum, tr => tr.call("ext.ManifestTable", "append")(
          ManifestTable.append(frame(rows), dir, s"append-$n", bloomCols = Seq("id"))),
          () => { rows.foreach(x => model(x.getLong(0)) = x); maxId += appendRows })
      case kind @ ("delete" | "delete-dv") =>
        val dv = kind == "delete-dv"
        val ids = liveIds(r, changeRows)
        val pred = ManifestTable.inPredicate("id", ids)
        writeOp(8L * ids.size, tr => tr.call("ext.ManifestRowOps", if (dv) "deleteWhereDV" else "deleteWhere")(
          if (dv) ManifestTable.deleteWhereDV(spark, dir, pred, s"delete-$n")
          else ManifestTable.deleteWhere(spark, dir, pred, s"delete-$n", bloomCols = Seq("id"))),
          () => ids.foreach(model.remove))
      case kind @ ("update" | "update-dv") =>
        val dv = kind == "update-dv"
        val ids = liveIds(r, changeRows)
        val pred = ManifestTable.inPredicate("id", ids)
        val setCols = Map("status" -> s"'updated-$n'", "ts" -> "ts + 1")
        val after = ids.map(id => set(set(model(id), 2, s"updated-$n"), 5, model(id).getLong(5) + 1))
        writeOp(after.map(rowBytes).sum, tr => tr.call("ext.ManifestRowOps", if (dv) "updateWhereDV" else "updateWhere")(
          if (dv) ManifestTable.updateWhereDV(spark, dir, pred, setCols, s"update-$n", bloomCols = Seq("id"))
          else ManifestTable.updateWhere(spark, dir, pred, setCols, s"update-$n", bloomCols = Seq("id"))),
          () => after.foreach(x => model(x.getLong(0)) = x))
      case "merge" =>
        val old = liveIds(r, mergeRows / 2)
        val rows = old.map(id => row(r, id, s"merge-$n")) ++
          (1 to mergeRows / 2).map(j => row(r, maxId + j, s"merge-$n"))
        writeOp(rows.map(rowBytes).sum, tr => tr.call("plans.GraftDml", "MERGE INTO") {
          frame(rows).createOrReplaceTempView("perfbench_merge_src")
          spark.sql(s"""MERGE INTO $table AS t USING perfbench_merge_src AS s ON t.id = s.id
                       |WHEN MATCHED THEN UPDATE SET *
                       |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        }, () => { rows.foreach(x => model(x.getLong(0)) = x); maxId += mergeRows / 2 })
    }
  }

  private def maintenance(n: Int): Op =
    writeOp(0L, tr => {
      tr.call("ext.ManifestMaintenance", "purgeDeletes")(
        ManifestTable.purgeDeletes(spark, dir, maxDeletedFraction = 0.002, bloomCols = Seq("id")))
      tr.call("ext.ManifestMaintenance", "compactSmall")(
        ManifestTable.compactSmall(spark, dir, targetFileBytes = 4L << 20, minFileBytes = 1L << 20,
          bloomCols = Seq("id")))
      tr.call("ext.ManifestTable", "checkpoint")(ManifestTable.checkpoint(spark, dir))
      tr.call("ext.ManifestMaintenance", "vacuum")(ManifestTable.vacuum(spark, dir, graceMs = 0L))
    }, () => ())

  def finalCheck(): Seq[String] =
    compare("final full read", model.values.toSeq, ManifestTable.read(spark, dir).collect().toSeq)
}
