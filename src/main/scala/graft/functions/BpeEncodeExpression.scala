package graft.functions

import graft.operators.BpeVocab
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** bpe_encode(text) → array<string>: tokenize the document with the learned
  * BPE merges — the stage that APPLIES the trained tokenizer corpus-wide
  * (the counterpart of `BpeVocab.fit`, which only trains it).
  *
  * Words are the canonical lowered whitespace tokens (the exact vocabulary
  * `BpeVocab.wordCounts` was trained on, empty tokens dropped); each word is
  * encoded with `Model.encode` (lowest-rank merge first, `</w>` terminal)
  * and the per-word pieces concatenate in document order.
  *
  * Scale shape: the model rides the kernel's object parameter (an
  * [[BpeEncodeExpression.Encoder]]), which rides the task binary — itself a
  * TorrentBroadcast, so the merge-table BYTES reach each executor once (the
  * same distribution path as `langid`'s model); each task then deserializes
  * its own encoder — ms-scale even at a 32k-merge vocab, so no
  * executor-singleton cache is needed here (unlike the 2²⁰-entry LM tables
  * behind `model_scores`). Per-row work is O(tokens × word length); the
  * Zipfian word distribution makes a per-thread LRU word cache absorb almost
  * all encode loops (the top ~64k word types cover ≈97% of running text), so
  * the hot path is a hash lookup per word. Narrow map — no shuffle.
  */
object BpeEncodeExpression {

  /** The model with its per-thread LRU word cache, built once per
    * deserialized encoder. Identity equality and a short `toString` keep
    * the merge table out of plan comparison and plan text. */
  final class Encoder(val model: BpeVocab.Model) extends Serializable {
    override def toString: String = s"BpeEncoder(${model.merges.size} merges)"

    // Per-thread LRU (access-order LinkedHashMap) — thread-confined, so no
    // synchronization on the hot path; 1<<16 entries ≈ a few MB per core.
    @transient lazy val cache: ThreadLocal[java.util.LinkedHashMap[String, Array[UTF8String]]] =
      ThreadLocal.withInitial(() =>
        new java.util.LinkedHashMap[String, Array[UTF8String]](1 << 12, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Array[UTF8String]]): Boolean =
            size() > (1 << 16)
        })
  }

  // Word boundaries = Java-regex \s runs of the UTF8String-lowercased text —
  // the EXACT convention of TF.tokensLower / BpeVocab.wordCounts (the r2
  // \s-vs-isWhitespace parity trap): train and apply must split identically
  // or rare words fall out of vocabulary.
  @inline private def isJWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def encode(u: UTF8String, encoder: Encoder): ArrayData = {
    val s = u.toLowerCase.toString
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](s.length / 4 + 4)
    val c = encoder.cache.get()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isJWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isJWs(s.charAt(i))) i += 1
      if (i > start) {
        val word = s.substring(start, i)
        var pieces = c.get(word)
        if (pieces == null) {
          pieces = encoder.model.encode(word).map(UTF8String.fromString).toArray
          c.put(word, pieces)
        }
        out ++= pieces
      }
    }
    ArrayData.toArrayData(out.toArray[AnyRef])
  }

  def bpe_encode(c: Column, model: BpeVocab.Model): Column =
    StaticKernel.column(args => StaticKernel.expr("bpe_encode", this, "encode",
      ArrayType(StringType, containsNull = false), Seq(StringType), args,
      Seq(new Encoder(model))), c)
}
