package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One unit of client work: `run` calls the program (timed), `check`
  * compares what it produced with the generator's expectation (untimed).
  */
trait Op {
  /** "read" or "write"; maintenance counts as a write. */
  def kind: String
  /** Sentences, documents, ops or query vectors this op completes. */
  def items: Long
  /** Value bytes of the rows this op hands the program to store. */
  def suppliedBytes: Long
  def run(tr: Tracer): Unit
  /** Problems found in the op's output; empty when correct. */
  def check(): Seq[String]
  /** Traced runs only: counters read after the op, outside its timing. */
  def afterTraced(tr: Tracer): Unit = ()
}

/** A benchmark workload. `generate` makes every input from the seed;
  * `setup` builds one fresh program instance under `dir` (the program's
  * set-up calls, then `Util.warmUp` ops) and may run several times per
  * process; ops then run against the last instance.
  */
trait Workload {
  def name: String
  def itemName: String
  /** Ops per round. Amplification is measured over whole rounds, so a
    * periodic step (maintenance, re-delivery, append) weighs the same in
    * every run.
    */
  def roundLength: Int
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  /** Properties of the generated input, for re-checking a claim on another seed. */
  def inputProps: Seq[(String, Any)]
  def setup(spark: SparkSession, dir: String): Unit
  def nextOp(i: Int): Op
  /** Whole-state checks after the timed window. */
  def finalCheck(): Seq[String]
  /** Directories the program writes; amplification is measured over them. */
  def outputDirs: Seq[String]
  /** Value bytes of the rows live at the end. */
  def liveValueBytes: Long
  /** Properties of the final state (file counts and the like). */
  def stateProps(spark: SparkSession): Seq[(String, Any)]
  /** Traced runs only: metrics that are read from the final state. */
  def tracedState(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def byName(name: String, tiny: Boolean): Workload = name match {
    case "translate" => new Translate(tiny)
    case "corpus_ingest" => new CorpusIngest(tiny)
    case "table_mixed" => new TableMixed(tiny)
    case "vector_search" => new VectorSearch(tiny)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val Names: Seq[String] = Seq("translate", "corpus_ingest", "table_mixed", "vector_search")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of p90/p95/p99 that has at least 10 samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p95", 0.95), ("p90", 0.90)).collectFirst {
      case (n, q) if xs.size * (1 - q) >= 10 => (n, quantile(xs, q))
    }
}

object Util {
  def utf8(s: String): Long = if (s == null) 0L else s.getBytes(UTF_8).length.toLong

  /** (path, size, mtime) of every regular file under `dirs`. */
  def files(dirs: Seq[String]): Seq[(String, Long, Long)] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { root =>
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally w.close()
    }

  def dirBytes(dirs: Seq[String]): Long = files(dirs).map(_._2).sum

  /** Runs a set-up's warm-up ops, each checked like a timed op. */
  def warmUp(spark: SparkSession, ops: Seq[Op]): Unit = ops.foreach { op =>
    op.run(new Tracer(spark))
    graft.core.Caches.release()
    val bad = op.check()
    require(bad.isEmpty, s"warm-up op produced a wrong output: ${bad.head}")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }

  /** Counts bytes of files that appear (or change) under `dirs` between scans. */
  final class WriteMeter(dirs: => Seq[String]) {
    private val seen = mutable.HashSet.empty[(String, Long, Long)]
    def reset(): Unit = { seen.clear(); seen ++= files(dirs) }
    def scan(): Long = {
      val now = files(dirs)
      val fresh = now.filterNot(seen.contains)
      seen ++= fresh
      fresh.map(_._2).sum
    }
  }
}
