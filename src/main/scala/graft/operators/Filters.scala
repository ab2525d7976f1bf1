package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence-quality filters and binning (SURVEY.md F1–F3, F9, A14).
  *
  * All are single-pass codegen'd column expressions — they push down to the
  * scan and never shuffle, so they cost one read at any scale.
  */
object Filters {

  /** F2 — length band, half-open `[refLen-delta, refLen+delta)` exactly as
    * `/root/reference/Sequence_Filter.py:86–88, 128` (lower inclusive, upper
    * exclusive).
    */
  def lengthBand(df: DataFrame, lenCol: Column, refLen: Int, delta: Int): DataFrame =
    df.filter(lenCol >= refLen - delta && lenCol < refLen + delta)

  /** Fraction of `target` characters in `s` — the ambiguity ratio of
    * `/root/reference/Seq_Tools.py:18–34` without a UDF.
    */
  def charRatio(s: Column, target: String): Column =
    (length(s) - length(regexp_replace(s, java.util.regex.Pattern.quote(target), ""))) / length(s)

  /** F3 — ambiguity filter: X-content ≤ cutoff
    * (`/root/reference/Sequence_Filter.py:130`).
    */
  def ambiguityFilter(df: DataFrame, seqCol: Column, cutoff: Double,
      ambiguous: String = "X"): DataFrame =
    df.filter(charRatio(seqCol, ambiguous) <= cutoff)

  /** Side output for the filter pipeline: one row per exclusion reason with
    * its count — replaces the reference's four hand-kept counters
    * (`/root/reference/Sequence_Filter.py:112–152`) with one aggregation.
    * Order of precedence matches the reference's if/elif chain.
    */
  def exclusionCounts(df: DataFrame, hostCol: Column, lenCol: Column,
      seqCol: Column, refLen: Int, delta: Int, cutoff: Double): DataFrame = {
    val reason = when(hostCol =!= "Human", "non_human")
      .when(lenCol < refLen - delta, "too_short")
      .when(lenCol >= refLen + delta, "too_long")
      .when(charRatio(seqCol, "X") > cutoff, "too_ambiguous")
      .otherwise("kept")
    df.groupBy(reason.as("exclusion_reason")).count()
  }

  /** A14 — histogram bin label with the reference's exact edge semantics
    * (`/root/reference/Seq_Tools.py:126–148`): every bin `[lo, hi)` EXCEPT
    * the last, which is closed `[lo, hi]`; values above the last edge get
    * `"Greater than <last>"`; values below the first edge match no bin
    * (null label — the reference silently drops them).
    */
  def histogramBin(v: Column, edges: Seq[Double], fmt: Double => String = d =>
      if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString): Column = {
    require(edges.size >= 2, "need at least two bin edges")
    val inner = edges.init.zip(edges.tail).zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((lo, hi), i)) =>
        val isLast = i == edges.size - 2
        val cond = if (isLast) v >= lo && v <= hi else v >= lo && v < hi
        when(cond, s"${fmt(lo)} to ${fmt(hi)}").otherwise(acc)
    }
    when(v > edges.last, s"Greater than ${fmt(edges.last)}").otherwise(inner)
  }

  /** A14 — histogram: bin counts in edge order (then the overflow bin). */
  def histogram(df: DataFrame, v: Column, edges: Seq[Double]): DataFrame =
    df.select(histogramBin(v, edges).as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy("bin").count()

  /** F9 — the PyMOL frequency bands (`/root/reference/Pymol_Strings.py:60–68`):
    * ≥10000, [1000,10000), [100,1000), [10,100), [2,10), ==0. NOTE the
    * reference's own gap: a count of exactly 1 matches NO band (its totality
    * check then raises) — preserved here as a null label.
    */
  def frequencyBand(v: Column): Column =
    when(v >= 10000, "10000+")
      .when(v >= 1000 && v < 10000, "1000-10000")
      .when(v >= 100 && v < 1000, "100-1000")
      .when(v >= 10 && v < 100, "10-100")
      .when(v >= 2 && v < 10, "2-10")
      .when(v === 0, "zero")
      .otherwise(lit(null).cast("string"))
}
