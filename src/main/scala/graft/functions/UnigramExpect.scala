package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Lattice forward–backward over a unigram piece model — the SOFT
  * (full-EM) counterpart of [[UnigramSegmenter]]'s Viterbi: per word,
  * the expected number of times each vocabulary piece appears under
  * the posterior over ALL segmentations (SentencePiece's real E-step),
  * the marginal path weight Z (what the EM objective sums), and a
  * posterior-proportional SAMPLED segmentation (subword
  * regularization's sample_encode).
  *
  * Determinism discipline: probabilities are the exact IEEE quotient
  * count/total (no log/exp anywhere — libm differences can't leak in),
  * and every accumulation runs in a FIXED order (positions ascending,
  * piece length ascending: sum = ((p₁·α) + p₂·α′) + p₃·α″), so a SQL
  * engine replaying the same recurrences gets bit-identical α/β and
  * only the final cross-word aggregation needs the repo's rounding
  * grid. Sampling draws from a splitmix64 stream seeded by
  * (seed, word) — engine-independent, layout-independent.
  *
  * The vocab rides as a reference object (codebook pattern); each row
  * costs O(maxPieceLen · |word|) map lookups inside whole-stage
  * codegen, zero shuffle.
  */
object UnigramExpectations {

  final class ProbVocab(val map: java.util.HashMap[String, java.lang.Double],
                        val maxPieceLen: Int) extends Serializable

  def buildProbVocab(pieces: Array[String], counts: Array[Long],
                     maxPieceLen: Int): ProbVocab = {
    val total = counts.sum.toDouble
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      m.put(pieces(i), counts(i).toDouble / total)
      i += 1
    }
    new ProbVocab(m, maxPieceLen)
  }

  /** Forward pass: α(0)=1, α(i) = Σ_{l=1..maxLen} p(w[i−l,i))·α(i−l),
    * inner sum in ascending l. Returns the full α array (length n+1).
    */
  private def forward(cps: Array[Int], vocab: ProbVocab): Array[Double] = {
    val n = cps.length
    val a = new Array[Double](n + 1)
    a(0) = 1.0
    var i = 1
    while (i <= n) {
      var s = 0.0
      var l = 1
      while (l <= math.min(vocab.maxPieceLen, i)) {
        val p = vocab.map.get(new String(cps, i - l, l))
        if (p != null && a(i - l) != 0.0) s += p * a(i - l)
        l += 1
      }
      a(i) = s
      i += 1
    }
    a
  }

  /** Backward pass: β(n)=1, β(j) = Σ_{l=1..maxLen} p(w[j,j+l))·β(j+l),
    * inner sum in ascending l.
    */
  private def backward(cps: Array[Int], vocab: ProbVocab): Array[Double] = {
    val n = cps.length
    val b = new Array[Double](n + 1)
    b(n) = 1.0
    var j = n - 1
    while (j >= 0) {
      var s = 0.0
      var l = 1
      while (l <= math.min(vocab.maxPieceLen, n - j)) {
        val p = vocab.map.get(new String(cps, j, l))
        if (p != null && b(j + l) != 0.0) s += p * b(j + l)
        l += 1
      }
      b(j) = s
      j -= 1
    }
    b
  }

  /** Expected piece counts: for every occurrence (j, l) of a vocab
    * piece, E += α(j)·p·β(j+l)/Z, accumulated j ascending then l
    * ascending into a per-piece map; output sorted by piece. Null when
    * the vocabulary cannot cover the word (Z = 0).
    */
  def expectations(word: UTF8String, vocab: ProbVocab): ArrayData = {
    val cps = word.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val a = forward(cps, vocab)
    val z = a(n)
    if (z == 0.0) return null
    val b = backward(cps, vocab)
    val acc = new java.util.TreeMap[String, Double]()
    var j = 0
    while (j < n) {
      var l = 1
      while (l <= math.min(vocab.maxPieceLen, n - j)) {
        val piece = new String(cps, j, l)
        val p = vocab.map.get(piece)
        if (p != null && a(j) != 0.0 && b(j + l) != 0.0) {
          val e = a(j) * p * b(j + l) / z
          acc.merge(piece, e, _ + _)
        }
        l += 1
      }
      j += 1
    }
    val out = new Array[Any](acc.size)
    val it = acc.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey),
        e.getValue.doubleValue)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Marginal path weight Z(word) = α(n) — the quantity whose
    * freq-weighted Σ ln the soft-EM objective maximizes. 0.0 when the
    * vocab cannot cover the word.
    */
  def marginal(word: UTF8String, vocab: ProbVocab): Double = {
    val cps = word.toString.codePoints().toArray
    if (cps.length == 0) return 1.0
    forward(cps, vocab)(cps.length)
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Posterior-proportional sampled segmentation (subword
    * regularization): walk backward from n; at position i choose the
    * final piece (j, i) with probability α(j)·p / α(i), consuming one
    * splitmix64 draw per step from a stream seeded by (seed, word
    * hash). Deterministic per (word, seed); null when uncoverable.
    */
  def sampleSegment(word: UTF8String, vocab: ProbVocab,
                    seed: Long): ArrayData = {
    val s = word.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val a = forward(cps, vocab)
    if (a(n) == 0.0) return null
    var state = seed ^ word.hashCode().toLong
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = n
    while (i > 0) {
      state = splitmix64(state)
      // uniform in [0,1): top 53 bits
      val u = (state >>> 11) * (1.0 / (1L << 53))
      val target = u * a(i)
      var cum = 0.0
      var chosen = -1
      var l = 1
      while (l <= math.min(vocab.maxPieceLen, i) && chosen < 0) {
        val p = vocab.map.get(new String(cps, i - l, l))
        if (p != null && a(i - l) != 0.0) {
          cum += p * a(i - l)
          if (target < cum) chosen = l
        }
        l += 1
      }
      // float-edge fallback: take the longest contributing piece
      if (chosen < 0) {
        var ll = math.min(vocab.maxPieceLen, i)
        while (chosen < 0 && ll >= 1) {
          val p = vocab.map.get(new String(cps, i - ll, ll))
          if (p != null && a(i - ll) != 0.0) chosen = ll
          ll -= 1
        }
      }
      pieces += new String(cps, i - chosen, chosen)
      i -= chosen
    }
    new GenericArrayData(pieces.reverse.toArray[Any]
      .map(x => UTF8String.fromString(x.asInstanceOf[String])))
  }

  def unigramExpect(word: Column, pieces: Array[String],
                    counts: Array[Long], maxPieceLen: Int): Column =
    Bridge.column(UnigramExpect(Bridge.expression(word), pieces, counts,
      maxPieceLen))

  def unigramMarginal(word: Column, pieces: Array[String],
                      counts: Array[Long], maxPieceLen: Int): Column =
    Bridge.column(UnigramMarginal(Bridge.expression(word), pieces, counts,
      maxPieceLen))

  def unigramSample(word: Column, pieces: Array[String],
                    counts: Array[Long], maxPieceLen: Int,
                    seed: Long): Column =
    Bridge.column(UnigramSample(Bridge.expression(word), pieces, counts,
      maxPieceLen, seed))
}

private[functions] trait UnigramProbExpr extends UnaryExpression {
  def pieces: Array[String]
  def counts: Array[Long]
  def maxPieceLen: Int
  require(pieces.length == counts.length, "pieces/counts must align")
  require(maxPieceLen >= 1, "maxPieceLen must be >= 1")

  @transient protected lazy val vocab: UnigramExpectations.ProbVocab =
    UnigramExpectations.buildProbVocab(pieces, counts, maxPieceLen)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.sql}")
  }
}

/** word -> array<struct<piece,e>> posterior expected piece counts. */
case class UnigramExpect(child: Expression, pieces: Array[String],
                         counts: Array[Long], maxPieceLen: Int)
    extends UnigramProbExpr {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("piece", StringType, nullable = false),
    StructField("e", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnigramExpectations.expectations(input.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramProbVocab", vocab,
      classOf[UnigramExpectations.ProbVocab].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UnigramExpectations.expectations($c, $ref);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "unigram_expect"
}

/** word -> double marginal path weight Z. */
case class UnigramMarginal(child: Expression, pieces: Array[String],
                           counts: Array[Long], maxPieceLen: Int)
    extends UnigramProbExpr {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    UnigramExpectations.marginal(input.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramProbVocab", vocab,
      classOf[UnigramExpectations.ProbVocab].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramExpectations.marginal($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "unigram_marginal"
}

/** word -> array<string> posterior-sampled segmentation. */
case class UnigramSample(child: Expression, pieces: Array[String],
                         counts: Array[Long], maxPieceLen: Int, seed: Long)
    extends UnigramProbExpr {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnigramExpectations.sampleSegment(input.asInstanceOf[UTF8String], vocab,
      seed)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramProbVocab", vocab,
      classOf[UnigramExpectations.ProbVocab].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UnigramExpectations.sampleSegment($c, $ref, ${seed}L);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "unigram_sample"
}
