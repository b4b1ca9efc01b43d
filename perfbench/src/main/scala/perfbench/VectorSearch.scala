package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ext.{ManifestTable, VectorStore}

/** Read-mostly similarity search: set-up builds a store of clustered
  * 64-dim vectors through several `VectorStore.appendCommitted` batches;
  * each op is one `VectorStore.searchMany` over a batch of query vectors
  * (topK 10, fixed nprobe), and every eighth op also appends fresh
  * vectors. Latency is reported beside recall@10 against a brute-force
  * top-10 the benchmark computes itself.
  */
final class VectorSearch(tiny: Boolean) extends Workload {
  val name = "vector_search"
  val itemName = "query vectors"
  val roundLength = 8

  val Dim = 64
  val TopK = 10
  val NProbe = 4
  private val clusters = 24
  private val setupBatches = 2
  private val batchVecs = if (tiny) 300 else 3000
  private val appendVecs = if (tiny) 50 else 250
  private val queries = if (tiny) 8 else 96
  /** A check fails when a search's recall@10 falls below this. */
  val MinRecall = 0.8

  private var spark: SparkSession = _
  private var seed = 0L
  private var dir: String = _
  private var seq = 0
  private var centers: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private val store = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var nextId = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var props = Seq.empty[(String, Any)]
  /** The last checked search: (queries, rows returned, store contents). */
  var lastCheck: (Seq[(Long, Array[Float])], Seq[(Long, Long, Long, Double)], collection.Map[Long, Array[Float]]) = _

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val qSchema = StructType(Seq(StructField("qid", LongType),
    StructField("q_vec", ArrayType(FloatType, containsNull = false))))

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.spark = spark
    this.seed = seed
    val r = new scala.util.Random(seed)
    centers = (0 until clusters).map(_ => Array.fill(Dim)(r.nextGaussian()))
    props = Seq("dim" -> Dim, "clusters" -> clusters, "setup_vectors" -> setupBatches * batchVecs,
      "append_every_ops" -> roundLength, "append_vectors" -> appendVecs, "queries_per_op" -> queries,
      "top_k" -> TopK, "nprobe" -> NProbe, "store_centroids" -> 16, "noise_sigma" -> 0.45)
  }

  def inputProps: Seq[(String, Any)] = props

  private def point(r: scala.util.Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(Dim)(i => (c(i) + r.nextGaussian() * 0.45).toFloat)
  }

  private def vectors(r: scala.util.Random, n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { _ => val id = nextId; nextId += 1; (id, point(r)) }

  private def append(tr: Tracer, vs: Seq[(Long, Array[Float])], batchId: String): Unit = {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      vs.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)
    tr.call("ext.VectorStore", "appendCommitted")(VectorStore.appendCommitted(df, dir, batchId))
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = s"$dir/store"
    seq = 0
    nextId = 0L
    store.clear()
    recalls.clear()
    val r = new scala.util.Random(seed + 1)
    val off = new Tracer(spark)
    (0 until setupBatches).foreach { b =>
      val vs = vectors(r, batchVecs)
      append(off, vs, s"setup-$b")
      store ++= vs
    }
    // warm-up: one search; its recall is not part of the run's
    Util.warmUp(spark, Seq(nextOp(0)))
    recalls.clear()
  }

  def outputDirs: Seq[String] = Seq(dir)
  def liveValueBytes: Long = store.size.toLong * (8L + 4L * Dim)

  def stateProps(spark: SparkSession): Seq[(String, Any)] = Seq(
    "vectors" -> store.size, "files_live" -> ManifestTable.snapshot(spark, dir).files.size,
    "recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
    "recall_floor" -> MinRecall,
    "bloom_cache_entries" -> 4096, "snapshot_cache_entries" -> 256)

  override def tracedState(spark: SparkSession): Map[String, Double] = Map(
    "ext.ManifestTable.files_live" -> ManifestTable.snapshot(spark, dir).files.size.toDouble)

  /** The store's own cosine: float inputs widened, accumulated left to right. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Ids of the TopK stored vectors with the highest cosine to `q` (ties:
    * lower id first), by a full scan kept in a sorted array of TopK.
    */
  def bruteTopK(q: Array[Float], live: collection.Map[Long, Array[Float]]): Set[Long] = {
    val cs = new Array[Double](TopK)
    val ids = new Array[Long](TopK)
    var n = 0
    live.foreach { case (id, v) =>
      val c = cosine(q, v)
      def before(j: Int) = cs(j) < c || (cs(j) == c && ids(j) > id)
      if (n < TopK || before(n - 1)) {
        var j = if (n < TopK) n else TopK - 1
        while (j > 0 && before(j - 1)) { cs(j) = cs(j - 1); ids(j) = ids(j - 1); j -= 1 }
        cs(j) = c
        ids(j) = id
        if (n < TopK) n += 1
      }
    }
    ids.take(n).toSet
  }

  /** Checks one search's rows (qid, rank, id, cos4); returns problems and recall@10. */
  def checkSearch(qs: Seq[(Long, Array[Float])], got: Seq[(Long, Long, Long, Double)],
                  live: collection.Map[Long, Array[Float]]): (Seq[String], Double) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val byQ = got.groupBy(_._1)
    var hits = 0
    qs.foreach { case (qid, q) =>
      val rows = byQ.getOrElse(qid, Nil).sortBy(_._2)
      if (rows.size != TopK) bad += s"query $qid returned ${rows.size} neighbours"
      if (rows.map(_._2) != (1L to rows.size.toLong)) bad += s"query $qid ranks are not 1..${rows.size}"
      rows.foreach { case (_, rank, id, cos) =>
        live.get(id) match {
          case None => bad += s"query $qid rank $rank: id $id is not in the store"
          case Some(v) =>
            if (math.abs(cosine(q, v) - cos) > 0.5e-4 + 1e-9)
              bad += s"query $qid rank $rank: cos $cos but the vectors give ${cosine(q, v)}"
        }
      }
      if (rows.map(_._4).sliding(2).exists(p => p.size == 2 && p(0) < p(1)))
        bad += s"query $qid: neighbours are not in descending cosine order"
      val truth = bruteTopK(q, live)
      hits += rows.count(x => truth.contains(x._3))
    }
    val recall = hits.toDouble / (qs.size * TopK)
    if (recall < MinRecall) bad += f"recall@10 $recall%.3f is below $MinRecall"
    (bad.toSeq, recall)
  }

  def nextOp(i: Int): Op = {
    val n = seq
    seq += 1
    val r = new scala.util.Random(seed * 104729L + n)
    val qs = (0 until queries).map(j => (1000000000L + n.toLong * 1000 + j, point(r)))
    val fresh = if (n % roundLength == roundLength - 1) vectors(r, appendVecs) else Nil
    val qdf = spark.createDataFrame(java.util.Arrays.asList(
      qs.map { case (id, v) => Row(id, v.toSeq) }: _*), qSchema)
    new Op {
      val kind = "read"
      val items = qs.size.toLong
      val suppliedBytes = fresh.size.toLong * (8L + 4L * Dim)
      private var got: Seq[(Long, Long, Long, Double)] = Nil
      private val live = store.clone()
      def run(tr: Tracer): Unit = {
        got = tr.call("ext.VectorStore", "searchMany")(
          VectorStore.searchMany(spark, dir, qdf, topK = TopK, nprobe = NProbe, excludeSelf = false)
            .collect().toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))))
        if (fresh.nonEmpty) append(tr, fresh, s"append-$n")
      }
      override def afterTraced(tr: Tracer): Unit = {
        // files a search reads: the store's files kept for the probed cells
        val cents = VectorStore.readCentroids(spark, dir).get.collect()
          .map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
        val cells = qs.flatMap { case (_, q) =>
          cents.map { case (cid, c) =>
            (c.indices.map(k => (q(k) - c(k)) * (q(k) - c(k))).sum, cid)
          }.sortBy(_._1).take(NProbe).map(_._2)
        }.distinct
        tr.observe("ext.ManifestTable.files_per_lookup",
          ManifestTable.pruneInfo(spark, dir, ManifestTable.inPredicate("centroid_id", cells))._1.toDouble)
      }
      def check(): Seq[String] = {
        val (bad, recall) = checkSearch(qs, got, live)
        lastCheck = (qs, got, live)
        recalls += recall
        store ++= fresh
        bad
      }
    }
  }

  def finalCheck(): Seq[String] = {
    val n = ManifestTable.read(spark, dir).count()
    if (n != store.size) Seq(s"store holds $n vectors, expected ${store.size}") else Nil
  }
}
