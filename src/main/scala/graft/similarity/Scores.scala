package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Confidence-score components — Spark rebuild of
  * `/root/reference/addresskit/scoring/confidence.py`. All pure Column
  * arithmetic (codegen'd); no UDFs.
  */
object Scores {

  /** digits_score (confidence.py:8-17): 100 if the digit-run sets of the
    * two texts intersect, else 0; 0 if either has no digits. */
  def digitsScore(l: Column, r: Column): Column = {
    val ld = regexp_extract_all(l, lit("[0-9]+"), lit(0))
    val rd = regexp_extract_all(r, lit("[0-9]+"), lit(0))
    when(size(ld) === 0 || size(rd) === 0, 0.0)
      .when(arrays_overlap(ld, rd), 100.0)
      .otherwise(0.0)
  }

  /** Per-row digit-run extraction for [[digitsScoreArrays]] — hoists the
    * two regex scans out of the pair loop: computed once per ROW before
    * the block join instead of twice per scored PAIR (the join output is
    * orders of magnitude larger than its inputs). r06: fused single
    * byte-pass expression ([[DigitRuns]]), exact for all UTF-8 input and
    * property-tested equal to the regexp_extract_all formulation. */
  def digitRuns(c: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      DigitRuns(org.apache.spark.sql.GraftShim.expression(c)))

  /** The regex formulation of [[digitRuns]] — spec oracle. */
  private[graft] def digitRunsColumn(c: Column): Column =
    regexp_extract_all(c, lit("[0-9]+"), lit(0))

  /** [[digitsScore]] over pre-extracted digit-run arrays (same result). */
  def digitsScoreArrays(ld: Column, rd: Column): Column =
    when(size(ld) === 0 || size(rd) === 0, 0.0)
      .when(arrays_overlap(ld, rd), 100.0)
      .otherwise(0.0)

  /** haversine_km (confidence.py:20-29), R=6371.0088. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val R = 6371.0088
    val phi1 = radians(lat1)
    val phi2 = radians(lat2)
    val dphi = phi2 - phi1
    val dl = radians(lon2 - lon1)
    val a = pow(sin(dphi / 2), 2) + cos(phi1) * cos(phi2) * pow(sin(dl / 2), 2)
    lit(2 * R) * asin(sqrt(a))
  }

  /** geo_score_km (confidence.py:32-37): 0 km -> 100, >= maxKm -> 0,
    * linear in between; null distance -> null (caller decides weight
    * renormalization, mirroring match.py:210-212 where geo is only
    * combined when both sides have coordinates). */
  def geoScoreKm(distKm: Column, maxKm: Double): Column = {
    val d = least(greatest(distKm, lit(0.0)), lit(maxKm))
    lit(100.0) * (lit(1.0) - d / maxKm)
  }

  /** combine_scores (confidence.py:40-60): weighted mean with
    * renormalization over the *active* weights — text always active,
    * digits active when non-null, geo active when non-null — rounded to
    * 2 decimals (HALF_UP, like python round on these magnitudes). */
  def combine(
      text: Column,
      digits: Column,
      geo: Column,
      wText: Double = 0.8,
      wDigits: Double = 0.2,
      wGeo: Double = 0.2): Column = {
    // r06: each input is mentioned at most TWICE (a null-test and a
    // product). The previous formulation mentioned geo ~6× (isNull +
    // coalesce + weight CASE, twice each across sum and total), and
    // since `geo` is itself a large haversine CASE tree, the expression
    // SOURCE grew ~4× — runtime was fine (codegen subexpression
    // elimination, measured at parity in r05) but Janino compilation of
    // the duplicated tree dominated each plan's first execution.
    // Arithmetic is bit-identical: `coalesce(x * w, 0)` ≡
    // `coalesce(x, 0) * (CASE WHEN x IS NULL THEN 0 ELSE w END)` for
    // finite w (null→0 either way, else the same double product), and
    // the active-weight total is unchanged.
    val total = lit(wText) +
      when(digits.isNull, 0.0).otherwise(wDigits) +
      when(geo.isNull, 0.0).otherwise(wGeo)
    val sum = text * wText + coalesce(digits * wDigits, lit(0.0)) +
      coalesce(geo * wGeo, lit(0.0))
    round(sum / total, 2)
  }

  // DuckDB mirrors -------------------------------------------------------

  // (all fractional literals CAST to DOUBLE: bare decimals are DECIMAL
  // in DuckDB and would silently switch the arithmetic off double math)

  def digitsScoreSqlDuck(l: String, r: String): String =
    s"""(CASE WHEN len(regexp_extract_all($l, '[0-9]+')) = 0
       |        OR len(regexp_extract_all($r, '[0-9]+')) = 0 THEN CAST(0.0 AS DOUBLE)
       |      WHEN len(list_intersect(regexp_extract_all($l, '[0-9]+'),
       |                              regexp_extract_all($r, '[0-9]+'))) > 0 THEN CAST(100.0 AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END)""".stripMargin.replaceAll("\n\\s*", " ")

  /** Mirrors [[haversineKm]]: 12742.0176 == 2 * 6371.0088 exactly in
    * binary64 (doubling is exact), matching Spark's folded lit(2*R). */
  def haversineKmSqlDuck(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"(CAST(12742.0176 AS DOUBLE) * asin(sqrt(pow(sin((radians($lat2) - radians($lat1)) / CAST(2.0 AS DOUBLE)), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - $lon1) / CAST(2.0 AS DOUBLE)), 2))))"

  def geoScoreKmSqlDuck(d: String, maxKm: Double): String =
    s"(CAST(100.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(greatest($d, CAST(0.0 AS DOUBLE)), CAST($maxKm AS DOUBLE)) / CAST($maxKm AS DOUBLE)))"

  def levRatioSqlDuck(l: String, r: String): String =
    s"""(CASE WHEN length($l) = 0 AND length($r) = 0 THEN CAST(100.0 AS DOUBLE)
       |      ELSE CAST(100.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) -
       |           CAST(levenshtein($l, $r) AS DOUBLE) /
       |           CAST(greatest(length($l), length($r)) AS DOUBLE))
       | END)""".stripMargin.replaceAll("\n\\s*", " ")

  /** DuckDB mirror of the `dl_ratio` scorer — same arithmetic shape as
    * [[levRatioSqlDuck]] over DuckDB's (byte-oriented, true/unrestricted)
    * `damerau_levenshtein`, which [[Fuzz.damerauLevenshteinBytes]]
    * matches byte-for-byte. */
  def dlRatioSqlDuck(l: String, r: String): String =
    s"""(CASE WHEN length($l) = 0 AND length($r) = 0 THEN CAST(100.0 AS DOUBLE)
       |      ELSE CAST(100.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) -
       |           CAST(damerau_levenshtein($l, $r) AS DOUBLE) /
       |           CAST(greatest(length($l), length($r)) AS DOUBLE))
       | END)""".stripMargin.replaceAll("\n\\s*", " ")
}
