package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit string hash (ext/TextOps.hash32's codegen'd form): value-
  * equal to `conv(substring(md5(s),1,8),16,10)::long`, but computed straight
  * from the digest bytes — no hex string, no base conversion, no
  * per-element UTF8String churn in the dedup hot path. */
case class GraftHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash32"

  override def nullSafeEval(input: Any): Any =
    HashKernels.hash32(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.hash32($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftHash32 =
    copy(child = newChild)
}

/** One-pass 8-value MinHash signature over array<string> (SURVEY X2): each
  * element md5-hashed once, all permutation minima maintained together.
  * Value-equal to 8 × `array_min(transform(hashes, x -> (a*x+b) % P))`. */
case class GraftMinHash8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash8"

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhash8(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhash8($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftMinHash8 =
    copy(child = newChild)
}

/** One-pass 16-bit SimHash over array<string> (SURVEY X2c): each element
  * md5-hashed once, all 16 bit-counters maintained together. Value-equal to
  * the HOF fold twin TextOps.simhash16Hof (which runs interpreted and
  * re-dispatches a lambda per element per bit). */
case class GraftSimHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash16"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash16(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // kernel may return null (null element parity with the HOF fold), so
    // the generated code boxes and null-checks rather than using the
    // primitive-value fast path of defineCodeGen.
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.HashKernels.simhash16($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $r).longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): GraftSimHash16 =
    copy(child = newChild)
}

/** 48-bit one-pass SimHash over array<string> — [[GraftSimHash16]] widened
  * for corpora where 16 bits saturate (see HashKernels.simhash48); bits come
  * from the first 6 md5 bytes per element (hash48), matching DuckDB's
  * `substr(md5(s),1,12)` prefix. */
case class GraftSimHash48(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash48"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash48(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.HashKernels.simhash48($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $r).longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): GraftSimHash48 =
    copy(child = newChild)
}

/** One-pass distinct 3-word shingling over array<string> (the first stage of
  * the whole dedup family — x3/x4/x15/x17 all start here): value-equal to
  * the HOF `array_distinct(transform(sequence(...), concat_ws))` twin but
  * without the interpreted lambda dispatch, the materialized index array, or
  * the two intermediate arrays. */
case class GraftShingles3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingles3"

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingles3(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingles3($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftShingles3 =
    copy(child = newChild)
}

/** ALL 3-word shingles in position order with duplicates (the
  * tf-with-multiplicity generator) — non-deduping twin of GraftShingles3. */
case class GraftShingles3All(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingles3_all"

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingles3All(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingles3All($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftShingles3All =
    copy(child = newChild)
}

/** Distinct n-grams over array<string> (n fixed at construction — the
  * SQL registration peels it from a literal second argument). Parametric
  * twin of GraftShingles3; emits the per-document SET so downstream
  * explodes need no row-level distinct. */
case class GraftNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires n >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_ngrams"

  override def nullSafeEval(input: Any): Any =
    HashKernels.ngramsDistinct(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.ngramsDistinct($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GraftNgrams =
    copy(child = newChild)
}

/** All character 1..maxN-grams of a string, duplicates kept, in
  * (order asc, position asc) sequence — the chrF gram generator (x155)
  * as one codegen'd pass over precomputed codepoint offsets. A gram's
  * order is its own character length, so the flat string array carries
  * the full (n, g) key the HOF pyramid spells as structs. */
case class GraftCharGrams(child: Expression, maxN: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if maxN >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires maxN >= 1, got $maxN")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_chargrams"

  override def nullSafeEval(input: Any): Any =
    HashKernels.charGrams(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charGrams($c, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): GraftCharGrams =
    copy(child = newChild)
}

/** All unordered distinct-token pairs as "a b" strings (binary order,
  * a < b) — the co-occurrence pair generator (x51), one codegen'd pass
  * replacing an interpreted nested-transform/flatten HOF chain. */
case class GraftCooccurPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_cooccur_pairs"

  override def nullSafeEval(input: Any): Any =
    HashKernels.cooccurPairs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.cooccurPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftCooccurPairs =
    copy(child = newChild)
}

/** Sequential-fold dot product over two array<double> columns, bit-identical
  * to the HOF `aggregate(zip_with(...))` form and the oracle's list_reduce
  * (same ascending-index IEEE operation order), minus the per-element boxing
  * and lambda dispatch — the hot path of every cosine query. */
case class GraftDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dotSeq(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotSeq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftDot =
    copy(left = newLeft, right = newRight)
}

/** Exact integer squared distance over two array<long> columns — the
  * x143 graph-ANN construction evaluates this once per candidate pair;
  * the native kernel skips HOF boxing and keeps whole-stage codegen. */
case class GraftIDist2(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_idist2"
  // null on length mismatch or a null element (the HOF-fold semantics;
  // see HashKernels.idist2Checked), independent of input nullability.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.idist2Checked(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("idist2")
      s"""
         |java.lang.Long $boxed = graft.functions.HashKernels.idist2Checked($a, $b);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftIDist2 =
    copy(left = newLeft, right = newRight)
}

/** Linear-merge |a ∩ b| over two sorted duplicate-free array<long> columns —
  * set-equal to `size(array_intersect(a, b))`, built for the candidate-pair
  * verify joins of the dedup family (no per-row hash set, no boxing). */
case class SortedIntersectCard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_intersect_card"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sortedIntersectCard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.sortedIntersectCard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCard =
    copy(left = newLeft, right = newRight)
}

/** All word 1..maxN-grams with multiplicity as one codegen'd pass, each
  * gram prefix-coded with its order digit (see HashKernels.wordGramsAll)
  * — the BLEU-family word-gram generator (x152/x171), replacing the
  * interpreted named_struct HOF pyramid. */
case class GraftWordGrams(child: Expression, maxN: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if maxN >= 1 && maxN <= 9 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 1 <= maxN <= 9 (single prefix digit), got $maxN")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_wordgrams"

  override def nullSafeEval(input: Any): Any =
    HashKernels.wordGramsAll(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordGramsAll($c, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): GraftWordGrams =
    copy(child = newChild)
}

/** Packed Jaro match/transposition counts over two string columns —
  * (m << 32) | k per HashKernels.jaroMk. The x174 Jaro–Winkler scorer's
  * hot kernel: the interpreted HOF fold costs O(la·lb) boxed lambda
  * evaluations per pair (measured 3.07 s at sf0.1 — the chrF-family
  * interpreted-generator lesson again); this native form keeps the scan
  * in whole-stage codegen. */
case class GraftJaroMk(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_jaro_mk"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaroMk(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.jaroMk($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftJaroMk =
    copy(left = newLeft, right = newRight)
}
