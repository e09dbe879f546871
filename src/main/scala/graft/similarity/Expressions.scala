package graft.similarity

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the fuzzy scorers — the Spark-side
  * equivalents of the reference's pluggable rapidfuzz scorers
  * (`/root/reference/addresskit/match.py:109-115`). Implemented as
  * `BinaryExpression`s with `doGenCode` emitting a static call into
  * [[Fuzz]], so the block-join scoring stage stays inside whole-stage
  * codegen (no Scala-UDF serialization / Row boxing on the hot path).
  */
abstract class FuzzBinaryExpression extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  /** Fully-qualified static method to invoke, e.g. "graft.similarity.Fuzz.ratio". */
  protected def staticCall: String
  protected def score(a: String, b: String): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    score(l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$staticCall($a.toString(), $b.toString())")
}

/** rapidfuzz `fuzz.ratio` — normalized indel similarity, 0..100. */
case class IndelRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.ratio"
  override protected def score(a: String, b: String): Double = Fuzz.ratio(a, b)
  override def prettyName: String = "indel_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rapidfuzz `fuzz.partial_ratio` — best window alignment, 0..100. */
case class PartialRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.partialRatio"
  override protected def score(a: String, b: String): Double = Fuzz.partialRatio(a, b)
  override def prettyName: String = "partial_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rapidfuzz `fuzz.token_set_ratio` — the reference's default scorer. */
case class TokenSetRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.tokenSetRatio"
  override protected def score(a: String, b: String): Double = Fuzz.tokenSetRatio(a, b)
  override def prettyName: String = "token_set_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rapidfuzz `fuzz.token_sort_ratio`. */
case class TokenSortRatio(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.tokenSortRatio"
  override protected def score(a: String, b: String): Double = Fuzz.tokenSortRatio(a, b)
  override def prettyName: String = "token_sort_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `token_set_ratio` over PRE-TOKENIZED sorted-distinct token arrays
  * (see [[Fuzz.tokenSetRatioSorted]]) — the block-join hot path:
  * tokenization/sort/dedup runs once per ROW (as a Column expression
  * before the join) instead of once per scored PAIR. Same result as
  * [[TokenSetRatio]] on the joined text (property-tested). */
case class TokenSetRatioPreTok(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.ArrayType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    Fuzz.tokenSetRatioSorted(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.similarity.Fuzz.tokenSetRatioSorted($a, $b)")
  override def prettyName: String = "token_set_ratio_pretok"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaro-Winkler similarity, 0..1 (Spark has `levenshtein` built in but
  * no Jaro-Winkler; DuckDB's `jaro_winkler_similarity` is the oracle). */
case class JaroWinkler(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.jaroWinklerUTF8"
  override protected def score(a: String, b: String): Double = Fuzz.jaroWinkler(a, b)
  override def prettyName: String = "jaro_winkler"
  override def nullSafeEval(l: Any, r: Any): Any =
    Fuzz.jaroWinklerUTF8(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$staticCall($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Symmetric Monge-Elkan hybrid similarity, 0..1 (see
  * [[Fuzz.mongeElkan]]) — token-level alignment with Jaro-Winkler as
  * the inner scorer; the DuckDB oracle is a `list_avg`/`list_max`
  * comprehension over `jaro_winkler_similarity`. */
case class MongeElkan(left: Expression, right: Expression) extends FuzzBinaryExpression {
  override protected def staticCall: String = "graft.similarity.Fuzz.mongeElkan"
  override protected def score(a: String, b: String): Double = Fuzz.mongeElkan(a, b)
  override def prettyName: String = "monge_elkan"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** True (unrestricted) Damerau-Levenshtein DISTANCE (IntegerType, like
  * Spark's built-in `levenshtein`) — Spark has no Damerau variant;
  * DuckDB's `damerau_levenshtein` is the oracle. Byte-oriented (see
  * [[Fuzz.damerauLevenshteinBytes]]): exact DuckDB parity, and byte ==
  * char on the normalized ASCII text it is meant to score. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def nullSafeEval(l: Any, r: Any): Any =
    Fuzz.damerauLevenshteinUTF8(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.similarity.Fuzz.damerauLevenshteinUTF8($a, $b)")
  override def prettyName: String = "damerau_levenshtein"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Threshold-aware `lev_ratio` (see [[Fuzz.levRatioBounded]]): exact
  * for any pair scoring >= `minText`, guaranteed-below-`minText` (and
  * never above the true score's pass/fail side) otherwise. ONLY safe
  * where the consumer filters scores below `minText` — the matcher's
  * threshold path; not registered in the public scorer map. */
case class BoundedLevRatio(left: Expression, right: Expression, minText: Double)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def nullSafeEval(l: Any, r: Any): Any =
    Fuzz.levRatioBounded(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], minText)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.similarity.Fuzz.levRatioBounded($a, $b, ${minText}D)")
  override def prettyName: String = "lev_ratio_bounded"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API + SQL registration surface. Mirrors the reference's scorer
  * registry `{"token_set_ratio","ratio","partial_ratio"}` keyed by name
  * (match.py:109-115) with `token_set_ratio` as the default.
  */
object FuzzFunctions {
  def indel_ratio(a: Column, b: Column): Column = GraftShim.column(IndelRatio(GraftShim.expression(a), GraftShim.expression(b)))
  def partial_ratio(a: Column, b: Column): Column = GraftShim.column(PartialRatio(GraftShim.expression(a), GraftShim.expression(b)))
  def token_set_ratio(a: Column, b: Column): Column = GraftShim.column(TokenSetRatio(GraftShim.expression(a), GraftShim.expression(b)))
  def token_sort_ratio(a: Column, b: Column): Column = GraftShim.column(TokenSortRatio(GraftShim.expression(a), GraftShim.expression(b)))
  def jaro_winkler(a: Column, b: Column): Column = GraftShim.column(JaroWinkler(GraftShim.expression(a), GraftShim.expression(b)))
  def token_set_ratio_pretok(a: Column, b: Column): Column =
    GraftShim.column(TokenSetRatioPreTok(GraftShim.expression(a), GraftShim.expression(b)))
  def damerau_levenshtein(a: Column, b: Column): Column =
    GraftShim.column(DamerauLevenshtein(GraftShim.expression(a), GraftShim.expression(b)))
  def monge_elkan(a: Column, b: Column): Column =
    GraftShim.column(MongeElkan(GraftShim.expression(a), GraftShim.expression(b)))
  def lev_ratio_bounded(a: Column, b: Column, minText: Double): Column =
    GraftShim.column(BoundedLevRatio(GraftShim.expression(a), GraftShim.expression(b), minText))

  /** The once-per-row tokenization feeding [[token_set_ratio_pretok]]:
    * whitespace-split, drop empties, distinct, binary sort — exactly the
    * token set [[Fuzz.tokenSetRatio]] builds per pair. r06: fused
    * single-pass [[SortedTokenSet]] (the split/filter/distinct/sort HOF
    * chain was interpreted per element; property-tested identical). */
  def sortedTokenSet(c: Column): Column =
    GraftShim.column(SortedTokenSet(GraftShim.expression(c)))

  /** The HOF-chain formulation of [[sortedTokenSet]] — spec oracle. */
  private[graft] def sortedTokenSetColumns(c: Column): Column = {
    import org.apache.spark.sql.functions._
    array_sort(array_distinct(filter(split(c, "\\s+"), t => t =!= "")))
  }

  /** Named scorer registry; unknown names fall back to token_set_ratio,
    * exactly like `scorers.get(name, fuzz.token_set_ratio)` in match.py.
    * All registry entries are on the reference's 0..100 scale —
    * jaro_winkler (0..1 natively) is scaled so thresholds/weights mean
    * the same thing across scorers; `lev_ratio` is the Levenshtein-based
    * approximation of `ratio` built purely from Spark's built-in
    * `levenshtein` (useful as a no-custom-code fallback and as a
    * DuckDB-oracle-friendly scorer). */
  val scorers: Map[String, (Column, Column) => Column] = Map(
    "token_set_ratio" -> token_set_ratio _,
    "token_sort_ratio" -> token_sort_ratio _,
    "ratio" -> indel_ratio _,
    "partial_ratio" -> partial_ratio _,
    "jaro_winkler" -> ((a: Column, b: Column) => jaro_winkler(a, b) * 100.0),
    "lev_ratio" -> ((a: Column, b: Column) =>
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.length(a) === 0 &&
          org.apache.spark.sql.functions.length(b) === 0, 100.0)
        .otherwise(lit100 * (lit1 -
          org.apache.spark.sql.functions.levenshtein(a, b).cast("double") /
            org.apache.spark.sql.functions.greatest(
              org.apache.spark.sql.functions.length(a),
              org.apache.spark.sql.functions.length(b)).cast("double")))),
    // Normalized true-Damerau-Levenshtein similarity, same arithmetic
    // shape as lev_ratio so its DuckDB oracle (Scores.dlRatioSqlDuck)
    // agrees bit-for-bit. Transposition-tolerant: swapped adjacent
    // characters (typos) cost 1 instead of lev's 2.
    "dl_ratio" -> ((a: Column, b: Column) =>
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.length(a) === 0 &&
          org.apache.spark.sql.functions.length(b) === 0, 100.0)
        .otherwise(lit100 * (lit1 -
          damerau_levenshtein(a, b).cast("double") /
            org.apache.spark.sql.functions.greatest(
              org.apache.spark.sql.functions.length(a),
              org.apache.spark.sql.functions.length(b)).cast("double")))),
    // Symmetric Monge-Elkan (0..1 natively, scaled like jaro_winkler):
    // token-level best-match alignment with JW inside each token.
    "monge_elkan" -> ((a: Column, b: Column) => monge_elkan(a, b) * 100.0)
  )
  private def lit100 = org.apache.spark.sql.functions.lit(100.0)
  private def lit1 = org.apache.spark.sql.functions.lit(1.0)
  def scorer(name: String): (Column, Column) => Column =
    scorers.getOrElse(name.toLowerCase, token_set_ratio _)

  /** Register SQL names so `spark.sql("select token_set_ratio(a,b)")` works. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("indel_ratio", es => IndelRatio(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("partial_ratio", es => PartialRatio(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("token_set_ratio", es => TokenSetRatio(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("token_sort_ratio", es => TokenSortRatio(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("jaro_winkler", es => JaroWinkler(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("damerau_levenshtein", es => DamerauLevenshtein(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("monge_elkan", es => MongeElkan(es.head, es(1)), "built-in")
  }
}
