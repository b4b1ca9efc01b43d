package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.core.Schemas

/** Tiny-size self-test of the benchmark: runs every workload, requires its
  * real outputs to pass their checks, and requires each check to reject a
  * planted wrong answer (a dropped row, a shifted translation, a surviving
  * duplicate, a stale read, a wrong neighbour). For translate it also runs
  * one traced op and requires the same output as `Pipeline.runCsv` on the
  * same file and time in each of the flow's four layers. Returns the exit
  * code.
  */
object SelfTest {
  def run(workDir: String): Int = {
    val spark = Main.session(workDir)
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(what: String, problems: Seq[String], rejected: Boolean): Unit = {
      val ok = problems.nonEmpty == rejected
      results += ((what, ok))
      println(s"selftest: ${if (ok) "ok  " else "FAIL"} $what" +
        (if (problems.nonEmpty) s" (${problems.head})" else ""))
    }
    def drive(w: Workload, seed: Long, ops: Int): Unit = {
      w.generate(spark, seed, s"$workDir/${w.name}/input")
      w.setup(spark, s"$workDir/${w.name}/inst")
      val tr = new Tracer(spark)
      (0 until ops).foreach { i =>
        val op = w.nextOp(i)
        op.run(tr)
        graft.core.Caches.release()
        expect(s"${w.name}: op $i output passes its check", op.check(), rejected = false)
      }
      expect(s"${w.name}: final state passes its check", w.finalCheck(), rejected = false)
    }

    val t = new Translate(tiny = true)
    drive(t, 11, 2)
    val (rows, out, missing, extra) = t.lastCheck
    expect("translate: dropped row is rejected", t.checkOutputs(rows, out.tail, missing, extra), rejected = true)
    val ok = out.zipWithIndex.filter(_._1._3 != Schemas.FailedSentinel).map(_._2)
    val (a, b) = (ok(0), ok(1))
    val shifted = out.updated(a, out(a).copy(_3 = out(b)._3)).updated(b, out(b).copy(_3 = out(a)._3))
    expect("translate: shifted translation is rejected", t.checkOutputs(rows, shifted, missing, extra), rejected = true)
    expect("translate: extra report with an input id is rejected",
      t.checkOutputs(rows, out, missing, extra :+ rows.head._1), rejected = true)
    val traced = t.nextOp(2)
    val tr = new Tracer(spark)
    tr.start()
    tr.beginOp(2, traced = true)
    traced.run(tr)
    tr.endOp(traced.kind)
    traced.afterTraced(tr)
    tr.stop()
    graft.core.Caches.release()
    expect("translate: traced op output passes its check", traced.check(), rejected = false)
    t.runCsvInto(2, s"$workDir/translate/runcsv-2")
    expect("translate: traced op writes what Pipeline.runCsv writes",
      if (t.csvLines(s"${t.outDir(2)}/csv") == t.csvLines(s"$workDir/translate/runcsv-2")) Nil
      else Seq("output CSV differs"), rejected = false)
    val layers = tr.perLayer(Map.empty).map(x => x._1 -> x._2).toMap
    Seq("sources", "operators.Batching", "translate", "operators.Reconcile").foreach { l =>
      val s = layers(s"$l.busy_s") + layers(s"$l.wait_s")
      expect(s"translate: traced op attributes time to $l",
        if (s > 0) Nil else Seq(s"$l has no time"), rejected = false)
    }

    val c = new CorpusIngest(tiny = true)
    drive(c, 12, 4)
    val (batch, got) = c.lastCheck
    val dup = batch.docs.find(d => d.kind == "repeat" || d.kind == "near").get
    expect(s"corpus_ingest: surviving ${dup.kind} duplicate is rejected",
      c.checkBatch(batch, got :+ (dup.id -> dup.text)), rejected = true)
    expect("corpus_ingest: dropped survivor is rejected", c.checkBatch(batch, got.tail), rejected = true)

    val m = new TableMixed(tiny = true)
    drive(m, 13, m.roundLength)
    if (m.lastRead == null) expect("table_mixed: a read returned rows to tamper with",
      Seq("no read returned rows"), rejected = false)
    else {
      val (what, want, read) = m.lastRead
      val stale = Row.fromSeq(read.head.toSeq.updated(2, "stale-status"))
      expect("table_mixed: stale read is rejected", m.compare(what, want, stale +: read.tail), rejected = true)
      expect("table_mixed: read missing a row is rejected",
        m.compare(what, want :+ Row(-1L, "b", "s", "en", "t", 0L), read), rejected = true)
    }

    val v = new VectorSearch(tiny = true)
    drive(v, 14, v.roundLength)
    val (qs, res, live) = v.lastCheck
    val wrongId = live.keys.find(id => !res.exists(_._3 == id)).get
    expect("vector_search: wrong neighbour is rejected",
      v.checkSearch(qs, res.updated(0, res(0).copy(_3 = wrongId)), live)._1, rejected = true)
    expect("vector_search: wrong cosine is rejected",
      v.checkSearch(qs, res.updated(0, res(0).copy(_4 = res(0)._4 - 0.01)), live)._1, rejected = true)

    spark.stop()
    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed}/${results.size} passed")
    if (failed == 0) 0 else 1
  }
}
