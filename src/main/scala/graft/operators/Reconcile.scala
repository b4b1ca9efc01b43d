package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Schemas
import graft.functions.ParseFunctions

/** The reconciliation core (SURVEY.md §2.3 J1/J3/J4, §2.4 A3/A9, §2.5
  * W1/W2) — the heart of the reference pipeline
  * (auto_translate.py:904-1134): join parsed translations back to the
  * expected rows of each batch, sentinel the failures, and flag missing /
  * extra / shifted values.
  *
  * Scale notes: `expected` and `translations` are both keyed by
  * (custom_id, description_id) and meet in one shuffled join; the
  * reference's O(n²) nested-loop English lookup (auto_translate.py:972-974)
  * disappears into it. The composed functions below are lazy, so every
  * frame built from them re-runs the whole upstream chain (batching,
  * translator, parse cascade, last-wins aggregate, join) when it is
  * consumed. [[run]] therefore joins ONCE, full outer, persists that
  * frame and derives all four results from it by filters, the way the
  * reference writes its CSV, missing log and summary from a single pass
  * per batch (auto_translate.py:904-1134).
  */
object Reconcile {

  /** Extract last-wins (custom_id, description_id, translation) rows from
    * raw response content (A9, auto_translate.py:514-518): the parse
    * cascade yields a map; duplicate ids within one response keep the last
    * occurrence; duplicate custom_id response rows keep the last response
    * in scan order (resp_ord breaks the tie BEFORE entry_pos so entries of
    * different responses never interleave non-deterministically).
    *
    * If `responses` already carries a `resp_ord` column it is used as-is —
    * JsonlIO.readResponses stamps one directly over the file scan, which
    * is the reproducible choice (ADVICE r2: an id minted here is only
    * stable when `responses` is a deterministic scan with no upstream
    * exchange; sources should stamp their own sequence).
    */
  def translations(responses: DataFrame): DataFrame = {
    (if (responses.columns.contains("resp_ord")) responses
     else responses.withColumn("resp_ord", monotonically_increasing_id()))
      .select(col("custom_id"), col("resp_ord"),
        ParseFunctions.parseCascade(col("content")).as("tmap"))
      .filter(col("tmap").isNotNull)
      .select(col("custom_id"), col("resp_ord"), posexplode(map_entries(col("tmap"))))
      .select(col("custom_id"), col("resp_ord"), col("pos").as("entry_pos"),
        col("col.key").as("description_id"), col("col.value").as("translation"))
      .filter(trim(col("translation")) =!= "")
      .groupBy("custom_id", "description_id")
      .agg(max_by(col("translation"), struct(col("resp_ord"), col("entry_pos")))
        .as("translation"))
  }

  /** J1 — reconciliation left-outer join + sentinel
    * (auto_translate.py:971-999). `expected` columns: custom_id, pos,
    * description_id, english_sentence.
    */
  def reconcile(expected: DataFrame, translationRows: DataFrame): DataFrame =
    withSentinel(expected
      .join(translationRows, Seq("custom_id", "description_id"), "left_outer"))

  private def withSentinel(joined: DataFrame): DataFrame =
    joined.withColumn("translated_sentence",
      coalesce(col("translation"), lit(Schemas.FailedSentinel)))

  /** J4 — expected ids with no translation (auto_translate.py:977-992). */
  def missing(reconciled: DataFrame): DataFrame =
    reconciled.filter(col("translation").isNull)
      .select("custom_id", "pos", "description_id", "english_sentence")

  /** J3 — translations whose id is not in the batch's expected set
    * (auto_translate.py:1007-1009).
    */
  def extra(expected: DataFrame, translationRows: DataFrame): DataFrame =
    translationRows.join(expected, Seq("custom_id", "description_id"), "left_anti")

  /** W1/W2 — shift detection (auto_translate.py:1012-1032): within a batch
    * in input order, a failed row followed by a healthy one (or a failed
    * final row preceded by a healthy one) suggests the model shifted
    * values by one position.
    */
  def shiftFlags(reconciled: DataFrame): DataFrame = {
    val w = Window.partitionBy("custom_id").orderBy("pos")
    val bad: Column => Column = c => c === Schemas.FailedSentinel
    reconciled
      .withColumn("next_t", lead(col("translated_sentence"), 1).over(w))
      .withColumn("prev_t", lag(col("translated_sentence"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_rows", count(lit(1)).over(Window.partitionBy("custom_id")))
      .withColumn("shift_suspected",
        (bad(col("translated_sentence")) && col("next_t").isNotNull && !bad(col("next_t"))) ||
        (col("rn") === col("n_rows") && bad(col("translated_sentence")) &&
          col("prev_t").isNotNull && !bad(col("prev_t"))))
      .drop("next_t", "prev_t", "rn", "n_rows")
  }

  /** A3 — pipeline scalar aggregates (auto_translate.py:955-960, 1070-1076).
    * The extra-row count is a lazy 1-row aggregate cross-joined in (both
    * sides are single rows so the cross join is trivial) — no eager
    * `.count()` action at plan-build time (VERDICT r1 §wrong #4).
    */
  def summary(reconciled: DataFrame, extraRows: DataFrame): DataFrame = {
    val ok = sum(when(col("translated_sentence") =!= Schemas.FailedSentinel, 1L).otherwise(0L))
    val flagged = extraRows.agg(count(lit(1)).as("extra"))
    shiftFlags(reconciled).agg(
      count(lit(1)).as("total"),
      ok.as("successful"),
      (count(lit(1)) - ok).as("failed"),
      sum(when(col("shift_suspected"), 1L).otherwise(0L)).as("shift_suspected"),
      round(ok * lit(100.0) / count(lit(1)), 2).as("success_rate"))
      .crossJoin(flagged)
  }

  /** Full reconcile pass: returns (result, missing, extra, summary).
    *
    * One full-outer join of `expected` with `translations(responses)`,
    * persisted through [[graft.core.Caches]]: rows with an expected side
    * are [[reconcile]]'s left-outer result, rows without one are
    * [[extra]]'s left-anti result, so the four frames need no second join
    * and the first one consumed fills the cache the other three read.
    * Reading them all from one materialization also makes them agree by
    * construction (the minted `resp_ord` tie-break is computed once).
    */
  def run(expected: DataFrame, responses: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val both = graft.core.Caches.track(
      expected.withColumn("expected_side", lit(true))
        .join(translations(responses), Seq("custom_id", "description_id"), "full_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the sentinel is added after the cache, which then holds each
    // translation once
    val rec = withSentinel(both.filter(col("expected_side").isNotNull))
    val ext = both.filter(col("expected_side").isNull)
      .select("custom_id", "description_id", "translation")
    (rec.select("pos", "description_id", "english_sentence", "translated_sentence"),
      missing(rec), ext, summary(rec, ext))
  }
}
