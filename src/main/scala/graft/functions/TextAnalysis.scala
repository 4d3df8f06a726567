package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline extension:
  * tokenization, word shingling, stopword / quality features, and
  * language-ID marker scoring. All pure Column
  * expressions (codegen'd, no UDFs) so they compose into distributed
  * scans without breaking whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace tokenization (the reference corpus is space-separated). */
  def words(text: Column): Column = split(text, " ")

  /** Word k-shingles: ["a b c", "b c d", ...]; empty array when the
    * document has fewer than k words. Backed by the codegen
    * [[WordGrams]] expression (the HOF spelling evaluates a lambda +
    * k boxed element_at calls per gram — interpreted, on the ingest
    * hot path). */
  def wordShingles(ws: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(WordGrams(Bridge.expression(ws), k))
  }

  /** OVERLAPPING context windows (the pretraining/RAG chunker: window
    * `w` tokens, stride `s` < w, so consecutive windows share w-s
    * tokens of context): an array of {start, chunk} structs, one per
    * stride position while start < len — the trailing window
    * truncates at the document end rather than padding. Pure Column
    * expression (sequence + transform + slice — codegen'd, no
    * explode here; the caller decides whether to flatten). Token
    * inflation is w/s by construction — the packer's budget must
    * charge emitted tokens, not document tokens, which is exactly
    * what a gate over this column pins. */
  def overlapWindows(ws: Column, w: Int, s: Int): Column = {
    require(w >= 1 && s >= 1 && s <= w,
      s"need 1 <= stride <= window (got w=$w, s=$s)")
    transform(sequence(lit(0), size(ws) - 1, lit(s)),
      st => struct(st.as("start"), slice(ws, st + lit(1), lit(w)).as("chunk")))
  }

  /** Seeded string hash used by MinHash: lexicographically comparable
    * md5 hex of "seed|value". min() over these is a valid minwise hash
    * and is reproducible in any engine with md5. */
  def seededHash(seed: Int, value: Column): Column =
    md5(concat(lit(s"$seed|"), value))

  /** Number of tokens belonging to `markers` (stopword / language-marker
    * hit count), as a long. Codegen set-membership kernel
    * ([[ArrayCountInSet]]) — one hash probe per token instead of an
    * interpreted lambda with a linear `isin` scan. */
  def markerCount(ws: Column, markers: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(ArrayCountInSet(Bridge.expression(ws), markers))
  }
}
