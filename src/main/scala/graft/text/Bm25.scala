package graft.text

/** V3/T3/A7 — BM25 tokenizer + scoring parameters.
  *
  * The reference delegates sparse BM25 vectors to the store's
  * `Qdrant/bm25` model with an IDF modifier
  * (`/root/reference/data-ingestion/qdrant_manager.py:27-31`,
  * `data_extraction.py:300-303`). We own the whole computation: a
  * deterministic tokenizer here; corpus document-frequency as a Spark
  * aggregate; BM25 with the published default parameters k1=1.2, b=0.75.
  */
object Bm25 {
  val k1: Double = 1.2
  val b: Double = 0.75

  private val tokenPattern = java.util.regex.Pattern.compile("[a-z0-9]+")

  /** Lowercase alphanumeric-run tokenizer. */
  def tokenize(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Nil
    val m = tokenPattern.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  /** Robertson-style IDF with the +1 floor (Lucene/Qdrant variant):
    * `ln(1 + (N - df + 0.5) / (df + 0.5))`. */
  def idf(docFreq: Long, numDocs: Long): Double =
    math.log(1.0 + (numDocs - docFreq + 0.5) / (docFreq + 0.5))

  /** BM25 contribution of one term occurring `tf` times in a doc of
    * length `docLen`, given corpus `avgDocLen`. */
  def termScore(tf: Int, docLen: Int, avgDocLen: Double, idfVal: Double): Double =
    idfVal * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * docLen / avgDocLen))
}
