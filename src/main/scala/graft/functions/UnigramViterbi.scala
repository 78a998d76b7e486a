package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Viterbi segmentation for the unigram-LM trainer (q173) — the
  * per-row DP the 40-column SQL cascade in TextOps.unigramCascade
  * unrolls, as ONE expression (guide §4: per-task work after the job
  * shape is right).
  *
  * Semantics are BIT-IDENTICAL to the cascade by construction — every
  * quantity is an int64 (Mitchell fixed-point log2 scores), so there is
  * no FP reassociation to worry about:
  *   - b_i = max over piece lengths l in 1..min(4,i) of
  *     (b_{i-l} + score(substr(w, i-l+1, l))), exactly `greatest`;
  *   - score ties break to the LONGEST piece (the cascade's CASE arms
  *     test l descending — replicated by the descending re-scan);
  *   - missing pieces score UnigramMiss = -(1<<40), the cascade's
  *     coalesce(try_element_at(m, k), miss);
  *   - backtrack emits pieces END-of-word-first (pc1..pc8 order), at
  *     most 8, exactly the cascade's filtered [pc1..pc8] array;
  *   - a NULL word, or one outside 1..8 codepoints, yields (NULL, empty
  *     array), the cascade's no-CASE-arm-matches behavior.
  *
  * Why native: the cascade evaluates ~64 `try_element_at` map probes
  * per row (each a LINEAR scan of the ~80-entry model MapData — and the
  * greatest()/CASE-arm pairs evaluate every probe twice), through ~40
  * chained Project columns. This expression does ≤ 32 + 8 hash-map
  * probes per row against a table built ONCE per (task, model) from the
  * foldable model literal. The model rides as a LITERAL map (the
  * q93/q127 driver-held-literal discipline) instead of a
  * crossJoin(broadcast(model)) per-row column.
  *
  * CodegenFallback: per-row work is one java loop (the WordShingles /
  * WinnowFingerprints rationale); the win is the lookup structure, not
  * codegen splitting. */
final case class UnigramViterbi(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = UnigramViterbi.OutType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, LongType, _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "unigram_viterbi requires a foldable (literal) model map — " +
            "collect the model to the driver and pass typedLit(model)")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"unigram_viterbi(word string, model map<string,bigint>) got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  /** Hash table built ONCE from the foldable model child; UTF8String
    * keys are copied out of the literal MapData so the table owns its
    * memory. */
  @transient private lazy val table
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = right.eval(null).asInstanceOf[MapData]
    val t = new java.util.HashMap[UTF8String, java.lang.Long](
      m.numElements() * 2)
    val ks = m.keyArray()
    val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      t.put(ks.getUTF8String(i).clone(), vs.getLong(i))
      i += 1
    }
    t
  }

  /** Never NULL: a NULL word yields (NULL, empty array), as in the
    * cascade, where every CASE arm misses. */
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val word = left.eval(input)
    if (word == null) InternalRow(null, UnigramViterbi.EmptyPcs)
    else UnigramViterbi.segment(word.asInstanceOf[UTF8String], table)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramViterbi =
    copy(left = newLeft, right = newRight)
}

object UnigramViterbi {
  /** The cascade's miss score: CAST(-(1<<40) AS BIGINT). */
  val Miss: Long = -(1L << 40)

  /** Max word length (chars) and max piece length — the SentencePiece
    * caps the cascade unrolls to. */
  val MaxWord = 8
  val MaxPiece = 4

  val OutType: StructType = new StructType()
    .add("vbest", LongType, nullable = true)
    .add("pcs", ArrayType(StringType, containsNull = false),
      nullable = false)

  def apply(word: Column, model: Column): Column =
    ColumnBridge.column(UnigramViterbi(
      ColumnBridge.expression(word), ColumnBridge.expression(model)))

  private val EmptyPcs = new GenericArrayData(Array.empty[Any])

  /** The DP itself (shared with the spec's direct probes). */
  def segment(w: UTF8String,
      table: java.util.HashMap[UTF8String, java.lang.Long]): InternalRow = {
    val len = w.numChars()
    if (len < 1 || len > MaxWord) return InternalRow(null, EmptyPcs)
    def score(start: Int, l: Int): Long = {
      val v = table.get(w.substringSQL(start, l))
      if (v == null) Miss else v.longValue()
    }
    val b = new Array[Long](len + 1)
    val bp = new Array[Int](len + 1)
    var i = 1
    while (i <= len) {
      val lmax = if (i < MaxPiece) i else MaxPiece
      var best = Long.MinValue
      var l = 1
      while (l <= lmax) {
        val cand = b(i - l) + score(i - l + 1, l)
        if (cand > best) best = cand
        l += 1
      }
      b(i) = best
      var chosen = 0
      var ld = lmax
      while (ld >= 1 && chosen == 0) {
        if (b(i - ld) + score(i - ld + 1, ld) == best) chosen = ld
        ld -= 1
      }
      bp(i) = chosen
      i += 1
    }
    val pcs = new Array[Any](8)
    var n = 0
    var pos = len
    while (pos >= 1 && n < MaxWord) {
      val q = bp(pos)
      pcs(n) = w.substringSQL(pos - q + 1, q)
      n += 1
      pos -= q
    }
    InternalRow(b(len),
      new GenericArrayData(java.util.Arrays.copyOf(
        pcs.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]]))
  }
}
