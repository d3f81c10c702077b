package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing kernels for the dedup pipelines.
  *
  * The declarative formulation — `transform(sequence(...), i →
  * concat_ws(element_at…))` → `array_distinct` → per-shingle
  * `conv(substring(md5(...)))` → 16 × `array_min(transform(...))` —
  * evaluates every lambda through the interpreted HOF path: tens of
  * interpreted expression evals per shingle per row. These expressions do
  * the identical arithmetic in one `eval` per row with tight JVM loops.
  *
  * Bit-parity contract (DuckDB-oracle-checked): tokens =
  * `trim(text)` split on a single literal space keeping empties
  * (Spark `split(str, " ")` ≡ Java `split(" ", -1)`; UTF8String.trim ≡
  * String.trim for ASCII); shingles joined with one space, first-occurrence
  * distinct; hash = first 15 lowercase-hex chars of md5(UTF-8 bytes)
  * parsed base-16 (60 bits, always non-negative) mod M; minhash_i =
  * min over shingles of (h·a_i + b_i) mod M — identical to the
  * declarative TextOps.shingles → TextOps.hash60 chain.
  */
object TextHash {

  /** Distinct word-k-shingle 60-bit hashes of a text column (empty array
    * when the doc has < k tokens). */
  case class ShingleHash60(child: Expression, k: Int, mod: Long)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hash60 needs a string arg, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      // Spark's trim() strips SPACES only (0x20) — Java String.trim strips
      // every char <= 0x20 and would eat trailing newlines/tabs, changing
      // the token set vs the declarative chain and the DuckDB oracle
      var lo = 0
      var hi = text.length
      while (lo < hi && text.charAt(lo) == ' ') lo += 1
      while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
      val toks = text.substring(lo, hi).split(" ", -1)
      if (toks.length < k) return new GenericArrayData(Array.empty[Long])
      val md = java.security.MessageDigest.getInstance("MD5")
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= toks.length - k) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) {
        val digest = md.digest(it.next().getBytes("UTF-8"))
        // first 15 lowercase-hex chars = high 60 bits of the digest
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
        h = (h << 4) | ((digest(7) & 0xf0L) >> 4) // 7.5 bytes = 15 hex chars
        out(o) = h % mod
        o += 1
        md.reset()
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): ShingleHash60 =
      copy(child = c)
  }

  /** MinHash signature over a 60-bit shingle-hash array: one pass, all
    * hash functions per element. */
  case class MinhashSig(child: Expression, a: Seq[Long], b: Seq[Long], mod: Long)
      extends UnaryExpression with CodegenFallback {
    require(a.length == b.length, "minhash coefficient arrays differ")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"minhash_sig needs array<long>, got ${other.simpleString}")
      }

    private val aArr = a.toArray
    private val bArr = b.toArray

    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val hv = input.asInstanceOf[ArrayData]
      val n = hv.numElements()
      // empty shingle set → null signature, like array_min over an empty
      // array (callers filter size(hv) > 0, but the public API shouldn't
      // emit Long.MaxValue garbage if they don't)
      if (n == 0) return null
      val m = aArr.length
      val mins = Array.fill(m)(Long.MaxValue)
      var i = 0
      while (i < n) {
        // contract: inputs are already reduced mod M (ShingleHash60
        // output, < 2^31), so h·a < 2^63 and % stays non-negative — the
        // same domain the declarative pmod formulation is exact on
        val h = hv.getLong(i)
        var j = 0
        while (j < m) {
          val v = (h * aArr(j) + bArr(j)) % mod
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): MinhashSig =
      copy(child = c)
  }

  /** Space-joined word n-grams of a text column, ALL positions in order
    * (duplicates kept — the frequency-counting contract, unlike
    * [[ShingleHash60]]'s first-occurrence-distinct set); empty array
    * when the doc has < n tokens. Bit-parity contract with the
    * declarative `transform(sequence(...), i -> concat_ws(' ',
    * slice(split(trim(text), ' '), i, n)))` chain (and therefore the
    * DuckDB `string_split(trim(text), ' ')` oracles): space-only trim,
    * split keeping empties, single-space join. One eval per row instead
    * of a per-gram interpreted HOF — the shared hot cost of every
    * gram-counting op ([[graft.operators.TextOps.frequentNgrams]] and
    * its per-source/streaming consumers). */
  case class NgramArray(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    require(n >= 1, s"ngram_array needs n >= 1, got $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    // NULL text ⇒ EMPTY array, not null (ADVICE r12): the declarative
    // chain this kernel replaces falls through `when(size(split(null)…))`
    // to `otherwise(array())`, so bit-parity demands the same here
    override def nullable: Boolean = false

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
    }

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ngram_array needs a string arg, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      // space-only trim (the ShingleHash60 contract note applies)
      var lo = 0
      var hi = text.length
      while (lo < hi && text.charAt(lo) == ' ') lo += 1
      while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
      val toks = text.substring(lo, hi).split(" ", -1)
      if (toks.length < n) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](toks.length - n + 1)
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): NgramArray =
      copy(child = c)
  }

  /** Raw hash60 of the word k-gram at EVERY position in order
    * (duplicates kept, no modulus — unlike [[ShingleHash60]]'s
    * first-occurrence-distinct mod-M set): position p (1-based) at
    * array index p, empty below k tokens. Bit-parity contract with the
    * declarative `transform(sequence(...), i -> hash60(array_join(
    * slice(split(trim(text), ' '), i, k), ' ')))` chain and therefore
    * with the DuckDB `('0x' || substr(md5(...), 1, 15))::BIGINT`
    * oracles. One eval per row replacing the interpreted HOF chain —
    * the shared hot cost of the positional gram tiers
    * ([[graft.operators.TextOps.substringDedupSpans]], winnowing,
    * content-defined chunking). */
  case class GramHash60Array(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {

    require(k >= 1, s"gram_hash60_array needs k >= 1, got $k")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // NULL text ⇒ EMPTY array, not null (ADVICE r12) — the NgramArray
    // rationale: parity with the `otherwise(array())` declarative chain
    override def nullable: Boolean = false

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) new GenericArrayData(Array.empty[Long]) else nullSafeEval(v)
    }

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gram_hash60_array needs a string arg, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      // space-only trim (the ShingleHash60 contract note applies)
      var lo = 0
      var hi = text.length
      while (lo < hi && text.charAt(lo) == ' ') lo += 1
      while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
      val toks = text.substring(lo, hi).split(" ", -1)
      if (toks.length < k) return new GenericArrayData(Array.empty[Long])
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[Long](toks.length - k + 1)
      var i = 0
      while (i <= toks.length - k) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        val digest = md.digest(sb.toString.getBytes("UTF-8"))
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
        h = (h << 4) | ((digest(7) & 0xf0L) >> 4) // 7.5 bytes = 15 hex chars
        out(i) = h
        md.reset()
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): GramHash60Array =
      copy(child = c)
  }

  def shingle_hash60(text: Column, k: Int, mod: Long): Column =
    Bridge.column(ShingleHash60(Bridge.expression(text), k, mod))

  def gram_hash60_array(text: Column, k: Int): Column =
    Bridge.column(GramHash60Array(Bridge.expression(text), k))

  def minhash_sig(hv: Column, a: Seq[Long], b: Seq[Long], mod: Long): Column =
    Bridge.column(MinhashSig(Bridge.expression(hv), a, b, mod))

  def ngram_array(text: Column, n: Int): Column =
    Bridge.column(NgramArray(Bridge.expression(text), n))
}
