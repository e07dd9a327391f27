package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-family) tokenizer kernels — the second of
  * the two real-world subword-tokenizer families (BPE is q123/q126).
  * Segmentation is per-token Viterbi DP over a scored piece vocabulary:
  * best segmentation = max total piece log-probability, ties to fewer
  * pieces.
  *
  * Cross-engine determinism: piece scores are INTEGER milli-nats
  * (floor(1000·ln(cnt/total))), so the DP and all per-doc sums are exact
  * integer arithmetic — no float-summation-order nondeterminism anywhere
  * (the q109 discipline, taken one step further than rounding). Tokens
  * cap at [[TokCap]] chars for segmentation; an out-of-vocabulary single
  * character costs [[Penalty]] (the vocabulary always contains the
  * training alphabet, so the penalty only fires on unseen-at-scoring
  * characters).
  */
object UnigramNative {

  /** Longest piece the DP considers (and the vocab builder emits). */
  val MaxPiece = 4
  /** Per-token segmentation length cap (both engines truncate alike). */
  val TokCap = 16
  /** Score of an out-of-vocabulary single-character piece, milli-nats. */
  val Penalty: Long = -100000L

  /** Viterbi over one (already-capped) token: returns (n_pieces,
    * score_milli). Max score; equal score → fewer pieces. */
  def segment(tok: String, score: collection.Map[String, Long]): (Int, Long) = {
    val n = tok.length
    val best = new Array[Long](n + 1)
    val pieces = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bb = Long.MinValue
      var bp = 0
      var k = 1
      while (k <= MaxPiece && k <= j) {
        val s = score.get(tok.substring(j - k, j)) match {
          case Some(v) => v
          case None => if (k == 1) Penalty else Long.MinValue
        }
        if (s != Long.MinValue) {
          val cand = best(j - k) + s
          val cp = pieces(j - k) + 1
          if (cand > bb || (cand == bb && cp < bp)) { bb = cand; bp = cp }
        }
        k += 1
      }
      best(j) = bb
      pieces(j) = bp
      j += 1
    }
    (pieces(n), best(n))
  }

  /** `unigram_encode(text)` → struct(n_tok, n_pieces, nll_milli):
    * whitespace-tokenize, cap each token at [[TokCap]], segment, and sum
    * — entirely in-row, so the corpus never shuffles and the scored
    * vocabulary rides the plan as a bounded dimension artifact
    * (alphabet + top-K multi-char pieces). A class, not a [[Kernel]]: the
    * driver-side vocabulary `Map` has no literal form with its hash-lookup
    * cost. */
  case class UnigramEncode(child: Expression, vocab: Map[String, Long])
      extends UnaryExpression with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"unigram_encode needs string input, got ${t.sql}")
    }
    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", LongType, nullable = false),
      StructField("n_pieces", LongType, nullable = false),
      StructField("nll_milli", LongType, nullable = false)))
    override def prettyName: String = "unigram_encode"

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      var nTok = 0L
      var nPieces = 0L
      var score = 0L
      var i = 0
      val len = text.length
      while (i < len) {
        while (i < len && text.charAt(i) == ' ') i += 1
        val start = i
        while (i < len && text.charAt(i) != ' ') i += 1
        if (i > start) {
          val tok = text.substring(start, math.min(i, start + TokCap))
          val (p, s) = segment(tok, vocab)
          nTok += 1
          nPieces += p
          score += s
        }
      }
      InternalRow(nTok, nPieces, -score)
    }

    override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
      copy(child = newChild)
  }
}
