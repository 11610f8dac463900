package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the two custom functions that sit in
  * hot paths (SURVEY.md §2.12 / §4 "custom Catalyst work"): uuid_v5 and
  * trigram similarity. Unlike the Scala UDFs in [[Udfs]], these
  * participate in whole-stage codegen — `doGenCode` emits a direct
  * static call on UTF8String operands, so no Row boxing / catalyst↔scala
  * conversion happens per row (the thing that hurts at 100 TB).
  *
  * Static eval helpers live here so generated code can reference them by
  * a stable JVM name.
  */
object NativeExpressions {

  /** Static entry points for generated code. */
  def uuid5Eval(name: UTF8String): UTF8String =
    UTF8String.fromString(Udfs.uuidV5(Udfs.NamespaceDns, name.toString))

  def trigramEval(a: UTF8String, b: UTF8String): Double =
    Udfs.trigramSimilarity(a.toString, b.toString)

  /** Fused sequential-fold dot product over two double arrays. Bit-exact
    * with `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (same left-to-right
    * double accumulation) but with no intermediate product array and no
    * per-element lambda dispatch — higher-order functions evaluate their
    * lambdas interpreted even inside codegen stages; this is one
    * generated-code call with a tight JVM loop (the ANN hot path at
    * 100 TB: O(queries x corpus x 64) multiplies). */
  def dotEval(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  case class UuidV5(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override def prettyName: String = "uuid_v5_native"
    override protected def nullSafeEval(input: Any): Any =
      uuid5Eval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.NativeExpressions.uuid5Eval($c)")
    override protected def withNewChildInternal(newChild: Expression): UuidV5 =
      copy(child = newChild)
  }

  case class TrigramSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def prettyName: String = "trigram_sim_native"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      trigramEval(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.NativeExpressions.trigramEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TrigramSimilarity =
      copy(left = newLeft, right = newRight)
  }

  private val Space = UTF8String.fromString(" ")

  /** Space-joined word n-grams in one generated-code loop — replaces the
    * `transform(sequence(0, size-n), i -> array_join(slice(w, i+1, n)))`
    * builders behind every shingle/gram operator (dd2/dd3/dd8 3-gram
    * shingles, dd15 8-gram decontamination, dd16/dd17 bigrams + 4-grams).
    * The higher-order version allocates a sequence array, a slice array,
    * and an interpreted lambda frame per gram; this builds the gram
    * strings directly. Fewer than n words → empty array (the upstream
    * size guards become redundant but stay for plan readability). */
  def ngramsEval(words: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val total = words.numElements()
    val out: Array[Any] =
      if (total < n) new Array[Any](0)
      else {
        val res = new Array[Any](total - n + 1)
        val parts = new Array[UTF8String](n)
        var i = 0
        while (i <= total - n) {
          var j = 0
          while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
          res(i) = UTF8String.concatWs(Space, parts: _*)
          i += 1
        }
        res
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class NGrams(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"n must be positive: $n")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
    override def prettyName: String = "ngrams_native"
    override protected def nullSafeEval(input: Any): Any =
      ngramsEval(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.NativeExpressions.ngramsEval($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): NGrams =
      copy(child = newChild)
  }

  // ---- 8-seed MinHash signature ------------------------------------------
  //
  // Byte-level MD5 loop replacing the explode + 8×(md5∘conv∘substring)
  // groupBy behind dd2/dd55. The SQL form pays: materializing the exploded
  // (doc, shingle) stream, hex-encoding every digest to a string, a
  // substring + base-16 string parse per (shingle × seed), and the hash
  // aggregate's probe/update per row. This computes the identical value —
  // the top 60 bits of md5("i#" ++ shingle), exactly conv(substring(hex,
  // 1,15),16,10) — straight from the digest bytes, per doc, in one
  // generated-code call. (An earlier round measured the transform+
  // array_min HOF formulation at 2.5s vs 1.8s for the explode+groupBy —
  // lambdas evaluate interpreted; this is the third form that beats both.)
  private val MinHashSeeds = 8

  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(MinHashSeeds)(i => s"$i#".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Null on empty input (SQL min over an empty group is NULL). */
  def minhashEval(arr: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(MinHashSeeds)(Long.MaxValue)
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      val sb = arr.getUTF8String(i).getBytes
      var j = 0
      while (j < MinHashSeeds) {
        md.reset()
        md.update(seedPrefixes(j))
        md.update(sb)
        val d = md.digest()
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v >>>= 4 // top 60 bits = first 15 hex chars, always non-negative
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  case class MinHashSig(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullable: Boolean = true // empty array -> null
    override def prettyName: String = "minhash_sig_native"
    override protected def nullSafeEval(input: Any): Any =
      minhashEval(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.NativeExpressions.minhashEval($c);
        ${ev.isNull} = (${ev.value} == null);
      """)
    override protected def withNewChildInternal(newChild: Expression): MinHashSig =
      copy(child = newChild)
  }

  /** Jaro-Winkler similarity, semantics pinned to DuckDB 1.0's
    * `jaro_winkler_similarity` (validated on reference vectors + full
    * fixture domains): standard Jaro (match window max(l1,l2)/2 - 1,
    * floor 0; transpositions halved), Winkler prefix boost
    * 0.1·min(prefix,4)·(1-jaro) applied ONLY when jaro > 0.7, and the
    * DuckDB quirk that TWO empty strings score 0.0 (not 1.0). Spark has
    * no built-in JW — this is the classic ER comparator
    * (`create_person_deduplication_table.py`'s fuzzy tier family), so it
    * ships as a codegen'd native with a tight JVM loop. ASCII-safe; the
    * loop runs over UTF-16 units, like DuckDB runs over bytes — both
    * agree on ASCII, which is the fixture/reference name domain. */
  def jaroWinklerEval(ua: UTF8String, ub: UTF8String): Double = {
    val s1 = ua.toString; val s2 = ub.toString
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - tr).toDouble / m) / 3.0
    if (jaro > 0.7) {
      val maxp = math.min(4, math.min(l1, l2))
      var l = 0
      while (l < maxp && s1.charAt(l) == s2.charAt(l)) l += 1
      jaro + 0.1 * l * (1.0 - jaro)
    } else jaro
  }

  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaro_winkler_native"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerEval(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.NativeExpressions.jaroWinklerEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaroWinkler =
      copy(left = newLeft, right = newRight)
  }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_native"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      dotEval(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.NativeExpressions.dotEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  // Column-level faces (Spark 4: Column↔Expression via the sql-package bridge)
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def uuid_v5_native(c: Column): Column = column(UuidV5(expression(c)))
  def trigram_sim_native(a: Column, b: Column): Column =
    column(TrigramSimilarity(expression(a), expression(b)))
  /** Sequential-fold dot product of two double arrays (matches the
    * C-loop order of DuckDB's list_dot_product): bit-exact with the
    * `aggregate(zip_with(...))` formulation (NativeExpressionsSpec pins
    * it) but one fused JVM loop instead of an intermediate product array
    * and interpreted lambdas. */
  def dot_native(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def jaro_winkler_native(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))
  def ngrams_native(words: Column, n: Int): Column =
    column(NGrams(expression(words), n))
  def minhash_sig_native(shingles: Column): Column =
    column(MinHashSig(expression(shingles)))
}
