package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure `functions._` expressions (codegen'd, prunable) except the
  * langId scorer's stopword tables, which are literal arrays — no UDFs,
  * no shuffles; every operator is a narrow per-row map.
  */
object TextAnalysis {

  // Minimal per-language stopword lists (public common function words).
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it", "with", "as", "was", "on", "be"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "del", "las", "por", "con", "una", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "en", "est", "que", "pour", "dans", "qui"),
    "de" -> Seq("der", "die", "und", "das", "in", "von", "zu", "den", "mit", "ist", "des", "auf", "für", "dem", "nicht"))

  // Serializable word→language lookup shared by the compiled scorers.
  // (One token pass scores ALL languages; the old per-language `filter`
  // HOFs re-tokenized and re-scanned per language and never entered
  // codegen — 19 s at sf0.1 for a narrow map.)
  private val langsSorted: Array[String] = stopwords.keys.toArray.sorted
  private val wordSets: Map[String, Set[String]] =
    stopwords.map { case (l, ws) => l -> ws.toSet }

  private def tokenize(text: String): Array[String] =
    (if (text == null) "" else text).trim
      .toLowerCase(java.util.Locale.ROOT).split("\\s+")

  /** Stopword-hit count for one language (compiled scalar UDF). */
  def stopwordHits(textCol: Column, lang: String): Column = {
    val set = wordSets(lang)
    udf { text: String => tokenize(text).count(set.contains) }.apply(textCol)
  }

  /** Language-ID heuristic: argmax of per-language stopword-hit counts,
    * `und` when nothing matches. Deterministic tie-break by language
    * code order. Compiled UDF — one token pass scores every language. */
  def langId(textCol: Column): Column = langIdUdf(textCol)

  private lazy val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val langs = langsSorted
    val sets = langs.map(wordSets)
    udf { text: String =>
      val ts = tokenize(text)
      val counts = new Array[Int](langs.length)
      ts.foreach { t =>
        var i = 0
        while (i < langs.length) { if (sets(i).contains(t)) counts(i) += 1; i += 1 }
      }
      var best = 0
      counts.foreach { c => if (c > best) best = c }
      if (best == 0) "und"
      else langs(counts.indexWhere(_ == best)) // first (sorted) lang wins ties
    }
  }

  // --- Trained language ID (fastText-style hashed char n-grams) -------
  //
  // The CCNet/RefinedWeb pipeline's FIRST gate, as a trained model
  // rather than the stopword heuristic above: per-language profiles of
  // hashed char bigrams (each word padded '_w_', so boundary shapes
  // count), scored as additive fixed-point log-frequencies — the
  // fastText-classifier shape (Joulin et al. 2016) with the house
  // determinism rules: md5 bucket hashing, per-cell log10 scaled to
  // integer micro-units BEFORE any sum (the q165 discipline — integer
  // sums are order-independent), argmax with (score desc, lang asc)
  // tie-break, and an explicit margin so callers can gate on
  // confidence. Both train and classify are fully relational and
  // DuckDB-replayable (q213).

  /** Padded char-bigram hash buckets of `textCol` as an exploded
    * column: every non-empty word w of the lowercased text contributes
    * the length-2 substrings of `'_' + w + '_'`, bucketed by the first
    * 8 md5 hex chars mod `buckets`. */
  private def langGramBuckets(textCol: Column, buckets: Int): Column = {
    val grams = flatten(transform(
      filter(split(lower(trim(textCol)), "\\s+"), w => length(w) > 0),
      w => transform(sequence(lit(1), length(w) + 1),
        i => concat(lit("_"), w, lit("_")).substr(i, lit(2)))))
    explode(transform(grams,
      g => pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong))))
  }

  /** Train per-language profiles from labeled (lang, text) rows:
    * (lang, bucket, w6) with w6 = round(1e6·log10((c+1)/(total+B)))
    * micro-log-frequency as a long, plus one bucket = −1 row per
    * language carrying the unseen-bucket floor
    * round(1e6·log10(1/(total+B))). Profile size is langs × B —
    * broadcastable by construction; the corpus is touched once. */
  def langIdTrain(labeled: DataFrame, langCol: String = "lang",
      textCol: String = "text", buckets: Int = 256): DataFrame =
    langIdProfileFromCounts(
      langIdCounts(labeled, langCol, textCol, buckets), buckets)

  /** Per-batch training artifact: raw (lang, bucket, c) bigram-bucket
    * counts. Counts are ADDITIVE, so profiles maintain INCREMENTALLY —
    * persist each batch's counts, union any window's batches, and
    * [[langIdProfileFromCounts]] yields a profile bit-identical to
    * full-corpus training (the weight is a pure function of the exact
    * integer (c, total)); the sketch-tier maintenance story
    * (HLL/CMS/KLL/KMV) applied to the classifier, without even a
    * sketch's error term. */
  def langIdCounts(labeled: DataFrame, langCol: String = "lang",
      textCol: String = "text", buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    labeled
      .select(col(langCol).as("lang"),
        langGramBuckets(col(textCol), buckets).as("bucket"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("c"))
  }

  /** Profile from (possibly unioned per-batch) [[langIdCounts]] rows:
    * re-sum per cell, derive micro-log weights + per-language floors. */
  def langIdProfileFromCounts(counts: DataFrame, buckets: Int): DataFrame = {
    val merged = counts.groupBy("lang", "bucket").agg(sum("c").as("c"))
    val totals = merged.groupBy("lang").agg(sum("c").as("total"))
    merged.join(totals, "lang")
      .select(col("lang"), col("bucket"),
        round(log10((col("c") + 1).cast("double") /
          (col("total") + buckets).cast("double")) * 1e6, 0)
          .cast("long").as("w6"))
      .unionByName(totals.select(col("lang"), lit(-1L).as("bucket"),
        round(log10(lit(1.0) / (col("total") + buckets).cast("double")) * 1e6, 0)
          .cast("long").as("w6")))
  }

  /** Classify `docs` against a [[langIdTrain]] profile: per doc, the
    * additive micro-log score of its padded char bigrams under every
    * language (unseen buckets fall to the per-language floor), then
    * argmax with margin — (id, pred_lang, score6, margin6, n_grams).
    * margin6 = best − runner-up (0 with a single language); gate on it
    * for confidence (q180 keeps pred = expected AND margin ≥ cut).
    * Docs with no grams (empty text) are absent — the q165 boundary.
    * `buckets` MUST equal the value the profile was trained with (the
    * hash modulus is part of the model).
    * Scale shape: the profile rides a broadcast into one gram-keyed
    * left join; the per-(doc, lang) sum is map-side combinable; the
    * argmax window frames are langs-sized. */
  def langIdClassify(docs: DataFrame, profile: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = langIdScores(docs, profile, idCol, textCol, buckets)
    val w = Window.partitionBy("id").orderBy(desc("score6"), asc("lang"))
    scored.withColumn("rn", row_number().over(w))
      .withColumn("next6", lead("score6", 1).over(w))
      .filter(col("rn") === 1)
      .select(col("id").as(idCol), col("lang").as("pred_lang"),
        col("score6"),
        (col("score6") - coalesce(col("next6"), col("score6"))).as("margin6"),
        col("n_grams"))
  }

  /** The per-(doc, language) additive micro-log scores behind
    * [[langIdClassify]] — (id, lang, score6, n_grams), one row per
    * (doc with ≥ 1 gram) × language. Exposed because the two-profile
    * LIKELIHOOD-RATIO uses ([[Curation.dsirSelect]]'s importance
    * weight) need the raw scores, not the argmax. Same scale shape:
    * broadcast profile, gram-keyed left join, map-side-combinable
    * (doc, lang) sum. */
  def langIdScores(docs: DataFrame, profile: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 256): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      langGramBuckets(col(textCol), buckets).as("bucket"))
    val langs = profile.select("lang").distinct()
    val defaults = profile.filter(col("bucket") === -1L)
      .select(col("lang"), col("w6").as("def6"))
    grams
      .crossJoin(broadcast(langs))
      .join(broadcast(profile.filter(col("bucket") =!= -1L)),
        Seq("lang", "bucket"), "left")
      .join(broadcast(defaults), "lang")
      .select(col("id"), col("lang"),
        coalesce(col("w6"), col("def6")).as("w6"))
      .groupBy("id", "lang")
      .agg(sum("w6").as("score6"), count(lit(1)).as("n_grams"))
  }

  // --- Multi-term scan (Aho–Corasick) ---------------------------------

  /** Aho–Corasick automaton over a bounded term list (Aho & Corasick
    * 1975) — goto/fail/output links built once on the driver, BFS by
    * depth so each node's output link merges its fail target's outputs
    * (already final when dequeued). Serializable for broadcast. */
  private[ops] final class AcAutomaton(val terms: Seq[String])
      extends Serializable {
    require(terms.nonEmpty && terms.forall(_.nonEmpty), "empty term")
    require(terms.distinct == terms, "duplicate terms double-count")
    import scala.collection.mutable
    private val next = mutable.ArrayBuffer(mutable.Map.empty[Char, Int])
    private val fail = mutable.ArrayBuffer(0)
    private val out = mutable.ArrayBuffer[List[Int]](Nil)
    terms.zipWithIndex.foreach { case (t, ti) =>
      var s = 0
      t.foreach { c =>
        s = next(s).getOrElseUpdate(c, {
          next += mutable.Map.empty[Char, Int]
          fail += 0; out += Nil
          next.length - 1
        })
      }
      out(s) = ti :: out(s)
    }
    locally {
      val q = mutable.Queue.empty[Int]
      next(0).values.foreach { v => fail(v) = 0; q += v }
      while (q.nonEmpty) {
        val u = q.dequeue()
        out(u) = out(u) ++ out(fail(u))
        next(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !next(f).contains(c)) f = fail(f)
          fail(v) = next(f).get(c).filter(_ != v).getOrElse(0)
          q += v
        }
      }
    }
    /** Per-term occurrence counts (overlapping matches included). */
    def scan(text: String): Array[Long] = {
      val counts = new Array[Long](terms.length)
      if (text == null) return counts
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (s != 0 && !next(s).contains(c)) s = fail(s)
        s = next(s).getOrElse(c, 0)
        var o = out(s)
        while (o.nonEmpty) { counts(o.head) += 1; o = o.tail }
        i += 1
      }
      counts
    }
  }

  /** One-pass multi-pattern scan: occurrence counts (OVERLAPPING
    * matches included) of every `terms` entry in `textCol`, via a
    * broadcast Aho–Corasick automaton — the at-scale shape for big
    * blocklist / contamination-phrase / brand-safety sweeps: one
    * automaton step per character regardless of term count, where the
    * contains/LIKE formulation scans the corpus once PER TERM (a
    * 10k-term blocklist would read 100 TB 10k times). Terms are a
    * bounded dimension list by contract (driver build + broadcast —
    * the IVF-centroid cost class); matching is over raw characters,
    * callers normalize case first if wanted. Returns (id, term,
    * n_hits) for terms with ≥ 1 hit — one map-side pass, only the hit
    * triples cross an exchange. */
  def ahoCorasickScan(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(new AcAutomaton(terms))
    val scanUdf = udf { text: String =>
      val ac = bc.value
      val counts = ac.scan(text)
      counts.indices.collect {
        case i if counts(i) > 0 => (ac.terms(i), counts(i))
      }.toSeq
    }
    docs.select(col(idCol), explode(scanUdf(col(textCol))).as("h"))
      .select(col(idCol), col("h._1").as("term"), col("h._2").as("n_hits"))
  }

  /** Whitespace token count (fast path). */
  def tokenCountWhitespace(textCol: Column): Column =
    when(length(trim(textCol)) === 0, 0L)
      .otherwise(size(split(trim(textCol), "\\s+")).cast("long"))

  /** BPE-ish token count: word pieces + digits + punctuation as separate
    * tokens (a regex approximation of byte-pair tokenizers — the usual
    * "tokens ≈ 0.75 × words" accounting for budget estimation). */
  def tokenCountBpe(textCol: Column): Column =
    size(regexp_extract_all(textCol,
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  // -------------------------------------------------------------------
  // Real greedy BPE encoding — the subword accounting training budgets
  // are actually written in (whitespace counts over-estimate budget for
  // prose and under-estimate it for code/citations). Pure Scala, no
  // jars: rules come from a committed merges fixture (or bpeTrain).
  // -------------------------------------------------------------------

  /** Ordered merge rules from the committed classpath fixture
    * (`graft/bpe_merges.txt`, "left right" per line, '#' comments).
    * A production vocabulary is trained with [[bpeTrain]]; the fixture
    * exists so encoding is deterministic with zero external files. */
  lazy val defaultBpeMerges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "bpe_merges.txt missing from classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\\s+"); (p(0), p(1)) }.toList
    finally in.close()
  }

  /** Greedy BPE over one word: start from characters, repeatedly merge
    * the adjacent pair with the LOWEST rank (leftmost on ties, all
    * occurrences in one sweep) until no pair is in the table — the
    * textbook Sennrich et al. 2016 apply loop. */
  private[ops] def bpeEncodeWord(rank: Map[(String, String), Int],
      word: String): Seq[String] = {
    if (word.isEmpty) return Nil
    var syms: IndexedSeq[String] = word.map(_.toString)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val out = IndexedSeq.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 &&
              rank.getOrElse((syms(j), syms(j + 1)), Int.MaxValue) == bestRank) {
            out += syms(j) + syms(j + 1); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  private val bpePieces =
    java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")

  /** Encode a text: pre-tokenize with the same piece regex as
    * [[tokenCountBpe]] (letters runs / digits / punctuation), then BPE
    * the letter runs (lowercased); digits and punctuation stay single
    * tokens. A per-call word cache makes repeated words O(1) — corpus
    * text is Zipfian, so most of a document encodes from the cache. */
  private[ops] def bpeEncodeText(rank: Map[(String, String), Int],
      text: String): Seq[String] = {
    if (text == null) return Nil
    val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    val out = Seq.newBuilder[String]
    val m = bpePieces.matcher(text)
    while (m.find()) {
      val piece = m.group()
      if (piece.length == 1 && !Character.isLetter(piece.charAt(0))) out += piece
      else {
        val w = piece.toLowerCase(java.util.Locale.ROOT)
        out ++= cache.getOrElseUpdate(w, bpeEncodeWord(rank, w))
      }
    }
    out.result()
  }

  private def rankOf(merges: Seq[(String, String)]): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Subword token COUNT per text — the budget-accounting column. */
  def bpeTokenCountUdf(merges: Seq[(String, String)] = defaultBpeMerges) = {
    val rank = rankOf(merges)
    udf { text: String => bpeEncodeText(rank, text).length.toLong }
  }

  /** Document fingerprint: min xxhash64 over word 5-gram shingles
    * (a 1-hash MinHash — stable rolling-window content fingerprint,
    * robust to small edits at the tail). */
  def fingerprint(textCol: Column, k: Int = 5): Column = {
    val sh = Dedup.shingles(textCol, k)
    when(size(sh) > 0, array_min(transform(sh, s => xxhash64(s))))
      .otherwise(xxhash64(textCol))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken —
    * SIGMOD 2003, the MOSS algorithm): hash every word `k`-gram, slide
    * a window of `w` consecutive hashes, and in each window keep the
    * minimum hash, RIGHTMOST position on ties (the rule that makes
    * selection LOCAL — any match of length ≥ k + w − 1 between two
    * documents is guaranteed to share a selected fingerprint, which a
    * global-min fingerprint like [[fingerprint]] cannot promise).
    * Position-aware copy detection at 100 TB rests on this guarantee:
    * join corpora on the selected (hash) values, verify on (pos) runs.
    *
    * Engine-reproducible hashing (first 8 md5 hex digits as an
    * integer — the [[graft.ops.Sampling.hexKey]] idiom); the window
    * min is an ordered-frame aggregate per document, so the only
    * shuffle is per-doc gram rows keyed by the doc — never a corpus
    * gram table. Documents with fewer than `k` words have no grams and
    * emit nothing (the [[graft.ops.Dedup.prefixFilterJoin]] boundary);
    * with fewer than `w` windows, one whole-doc window applies.
    * Returns distinct (idCol, pos, fp) — `pos` is the selected gram's
    * 0-based word offset. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"bad winnowing shape k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    val grams = df
      .withColumn("__wd", split(col(textCol), " "))
      .filter(size(col("__wd")) >= k)
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, size(__wd) - $k), i -> " +
            s"concat_ws(' ', slice(__wd, i + 1, $k)))"))
          .as(Seq("pos", "gram")))
      .withColumn("h",
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long"))
    val perDoc = Window.partitionBy(col(idCol))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__n", count(lit(1)).over(perDoc))
      // min(struct(h, -pos)): min hash, and among equal hashes the
      // rightmost position — the winnowing tie rule
      .withColumn("__sel",
        min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      // full windows only (plus the single short window of a sub-w doc)
      .filter(col("pos") <= greatest(col("__n") - w, lit(0)))
      .select(col(idCol), (-col("__sel.np")).cast("long").as("pos"),
        col("__sel.h").as("fp"))
      .distinct()
  }

  /** Cross-corpus copy-SPAN detection over [[winnowingFingerprints]] —
    * what the fingerprints exist for: two documents that share a copied
    * run of length ≥ k + w − 1 are guaranteed to share selected
    * fingerprints, and a CONTIGUOUS copy puts every shared fingerprint
    * on one DIAGONAL (`pos_right − pos_left` constant — the classic
    * seed-diagonal trick from sequence alignment). Grouping shared
    * fingerprints by (left, right, diag) and gating on `minShared`
    * separates real copied spans from single-hash coincidences.
    *
    * Scale shape: each side winnows independently (per-doc windows, no
    * corpus gram table), the join shuffles only (id, pos, fp) triples
    * keyed by fp — a hot fp is boilerplate the corpus-frequency profile
    * should have removed — and the diagonal group-by is per candidate
    * pair. Returns (id_left, id_right, diag, n_shared, lo_left,
    * hi_left): the shared-fingerprint count and the left-side gram-
    * position extent of the evidence. */
  def copySpans(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4,
      minShared: Int = 3): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fa = winnowingFingerprints(left, idCol, textCol, k, w)
      .select(col(idCol).as("id_left"), col("pos").as("pos_left"), col("fp"))
    val fb = winnowingFingerprints(right, idCol, textCol, k, w)
      .select(col(idCol).as("id_right"), col("pos").as("pos_right"), col("fp"))
    fa.join(fb, "fp")
      .groupBy(col("id_left"), col("id_right"),
        (col("pos_right") - col("pos_left")).as("diag"))
      .agg(count(lit(1)).as("n_shared"),
        min("pos_left").as("lo_left"), max("pos_left").as("hi_left"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-frequency document profile — the integer core of a CCNet-
    * style unigram-LM quality signal. Two passes over the exploded
    * tokens: (1) corpus vocabulary counts, (2) per-document aggregation
    * of each token's corpus count. Returns per document:
    * `n_tok` (tokens), `sum_cnt` (sum of corpus counts — high = the doc
    * is made of common words), `n_rare` (tokens whose corpus count
    * ≤ `rareMax` — high = OCR noise / gibberish / code).
    *
    * All-integer on purpose: a mean-log-prob float would be summation-
    * order-dependent across engines; callers derive the float score with
    * [[unigramLogProbScore]] from these exact integers.
    *
    * Scale shape: both passes shuffle on the token. The vocab count is a
    * map-side-combined groupBy (stopword-class hot tokens are exactly
    * the case partial aggregation absorbs). The count join is left to
    * AQE: it broadcasts while the vocabulary fits the threshold and
    * degrades to a token-partitioned shuffled join at the multi-GB
    * vocabularies a 100 TB corpus produces — both ends of that dial are
    * the plan you'd want. */
  def tokenRarity(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      rareMax: Long = 2): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    toks.join(counts, "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum("cnt").as("sum_cnt"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
  }

  /** Unicode text normalization for corpus prep: decompose (NFD), drop
    * combining marks (accent strip), lowercase, collapse whitespace
    * runs, trim. The canonical-form step every multilingual pipeline
    * runs before hashing/dedup — without it 'Café' and 'Café'
    * (same rendered text, different bytes) defeat exact dedup.
    *
    * Compiled scalar UDF (house rule: regex chains beat interpreted
    * HOFs); narrow, no shuffle. Matches `lower(strip_accents(x))` +
    * whitespace collapse in DuckDB for canonically-decomposable
    * accents (the oracle plants exactly those). */
  val normalizeTextUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else {
        val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        nfd.replaceAll("\\p{Mn}+", "")
          .toLowerCase(java.util.Locale.ROOT)
          .replaceAll("\\s+", " ")
          .trim
      }
    }

  def normalizeText(textCol: Column): Column = normalizeTextUdf(textCol)

  /** Frequency-ranked vocabulary: the `size` most frequent tokens, dense
    * 0-based ids, deterministic order (count desc, token asc). The
    * count aggregation is fully distributed; the rank window runs over
    * AT MOST `size` rows (TakeOrdered prunes first), so the one
    * single-partition stage is bounded by the vocab budget, never the
    * corpus. */
  def buildVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
      size: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(size >= 1, "vocab size must be positive")
    val counts = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(size)
    counts.withColumn("tok_id",
      row_number().over(Window.orderBy(desc("cnt"), asc("tok"))) - 1)
      .select("tok", "tok_id")
  }

  /** Tokenize documents to id arrays against a (tok, tok_id) vocabulary
    * — the corpus → training-shard encoding step. Out-of-vocabulary
    * tokens map to `oovId`. Position order is preserved exactly
    * (sorted struct collect, not collect_list order luck — THAT depends
    * on shuffle arrival). Scale shape: one explode + one token-keyed
    * join (vocab broadcasts while it fits) + one groupBy id. */
  def tokenizeIds(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      textCol: String = "text", oovId: Long = -1L): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("idx", "tok")))
    toks.join(vocab, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(transform(
        sort_array(collect_list(struct(col("idx"),
          coalesce(col("tok_id").cast("long"), lit(oovId)).as("tid")))),
        x => x.getField("tid")).as("ids"))
  }

  /** Adjacent-token pairs per document, in position order — one compiled
    * pass over the split array (no shuffle, no HOF interpretation, no
    * positional self-join; the repo's profiling shows a compiled UDF
    * beats both for per-row array assembly). */
  private val bigramsUdf = udf { text: String =>
    if (text == null) Array.empty[(String, String)]
    else {
      val p = text.split(" ")
      if (p.length < 2) Array.empty[(String, String)]
      else Array.tabulate(p.length - 1)(i => (p(i), p(i + 1)))
    }
  }

  /** Per-document adjacent pairs, id attached — the exploded view
    * [[bigramCounts]] aggregates and [[bigramFluency]] scores against. */
  def docBigrams(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(bigramsUdf(col(textCol))).as("bg"))
      .select(col(idCol), col("bg._1").as("prev"), col("bg._2").as("next"))

  /** Bigram (prev → next) transition counts over the corpus — the count
    * table behind n-gram language-model statistics, next-token lookup
    * tables, and Markov-chain corpus fingerprints. One explode + one
    * (prev, next)-keyed count; the pair space shuffles as integers-and-
    * short-strings, never documents. */
  /** Corpus keyness (Dunning-flavored log-likelihood) — which terms
    * are OVER-used in corpus A relative to corpus B (period-over-
    * period drift, source fingerprinting, topic shift): per term,
    *
    *   contrib = 2·(O₁·L₁ + O₂·L₂),  Lᵢ = log10(Oᵢ·(N₁+N₂) / ((O₁+O₂)·Nᵢ))
    *
    * with the libm log10 micro-rounded once per (term, side) from an
    * exact-integer ratio (the q239 discipline; a zero observation
    * contributes 0 — the O·ln(O/E) limit), and the direction carried
    * as a separate sign (+1 = overused in A). Monotone-equivalent to
    * the natural-log G² (constant factor), so ranking and thresholds
    * transfer. `minTotal` prunes the noise tail.
    *
    * One token explode per side, map-side counts, term-keyed join —
    * the vocabulary dimension only. */
  def keyness(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, textCol: String,
      minTotal: Long): org.apache.spark.sql.DataFrame = {
    require(minTotal >= 1, s"minTotal must be >= 1, got $minTotal")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(lower(trim(col(textCol))), "\\s+"))
        .as("term")).filter(col("term") =!= "")
    val ca = toks(a).groupBy("term").agg(count(lit(1)).as("o1"))
    val cb = toks(b).groupBy("term").agg(count(lit(1)).as("o2"))
    val n1 = toks(a).count()
    val n2 = toks(b).count()
    def lu6(o: Column, n: Long): Column = when(o === 0, 0L).otherwise(
      (o * round(log10((o * (n1 + n2)).cast("double") /
        ((col("o1") + col("o2")) * n)) * 1000000, 0).cast("long"))
        .cast("long"))
    ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("o1"), lit(0L)).as("o1"),
        coalesce(col("o2"), lit(0L)).as("o2"))
      .filter(col("o1") + col("o2") >= minTotal)
      .withColumn("c1_u6", lu6(col("o1"), n1))
      .withColumn("c2_u6", lu6(col("o2"), n2))
      .withColumn("keyness_u6", (col("c1_u6") + col("c2_u6")) * 2)
      .withColumn("direction",
        when(col("o1") * n2 > col("o2") * n1, 1L)
          .when(col("o1") * n2 < col("o2") * n1, -1L).otherwise(0L))
  }

  /** Class-based TF-IDF top terms (Grootendorst's c-TF-IDF, the
    * BERTopic labeling step): treat each class (cluster, source,
    * language) as ONE concatenated document and rank its terms by
    *
    *   score = tf_{w,c} · log10(1 + A / f_w)
    *
    * with A = total tokens div number of classes (average class mass)
    * and f_w the corpus frequency of w — the per-class words that are
    * frequent HERE but not everywhere, i.e. the topic label. The libm
    * log10 enters once per TERM, rounded to micro units before the
    * integer tf multiply (the q165/q222 discipline — both engines
    * produce the identical i64).
    *
    * Shape: one token explode → (class, term) counts (map-side
    * combinable), corpus term table joined on the term key, and top-k
    * per class through the bounded-heap [[graft.plans.TopK.perKey]]
    * plan — never a corpus-wide window sort. Returns
    * (class, term, tf, f_w, score_u6, rank). */
  def classTfIdfTopTerms(docs: org.apache.spark.sql.DataFrame,
      classCol: String, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(classCol).cast("string").as("cls"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("cls", "term").agg(count(lit(1)).as("tf"))
    val fw = toks.groupBy("term").agg(count(lit(1)).as("f_w"))
    val totals = toks.agg(count(lit(1)).as("n_tok"),
      countDistinct(col("cls")).as("n_cls")).first()
    val a = totals.getLong(0) / totals.getLong(1)
    val scored = tf.join(fw, Seq("term"))
      .withColumn("score_u6", (col("tf") *
        round(log10(lit(1.0) + lit(a.toDouble) / col("f_w")) * 1000000, 0)
          .cast("long")).cast("long"))
    val top = graft.plans.TopK.perKey(scored, Seq("cls"),
      Seq(("score_u6", false), ("term", true)), k = k)
    // rank over the survivors only — k·classes rows, never the corpus
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cls")
      .orderBy(desc("score_u6"), col("term"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("cls", "term", "tf", "f_w", "score_u6", "rank")
  }

  def bigramCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(explode(bigramsUdf(col(textCol))).as("bg"))
      .select(col("bg._1").as("prev"), col("bg._2").as("next"))
      .groupBy("prev", "next").agg(count(lit(1)).as("cnt"))

  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney, ICASSP '95; the
    * Chen–Goodman formulation) — the principled upgrade over
    * [[stupidBackoffScores]]: absolute discounting with the CONTINUATION
    * unigram as the back-off ("Francisco" is frequent but follows only
    * "San", so its continuation probability is tiny). With discount
    * D = dNum/dDen:
    *
    *   P(w₂|w₁) = max(c₁₂ − D, 0)/c₁ + (D·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/N₁₊(··)
    *
    * computed as ONE exact rational over the common denominator
    * dDen·c₁·Ntot and micro-rounded once by truncating division —
    * engine-independent longs, no libm. Overflow bound:
    * c₁₂·dDen·Ntot·10⁶ < 2⁶³ (fine to ~10⁵ max bigram count × 10⁶
    * bigram types at dDen=4; promote to DecimalType beyond).
    *
    * Scale shape: everything lives on the (prev, next) bigram-type
    * dimension — two aggregates off the pair counts, one scalar, two
    * vocab-keyed joins; documents never shuffle (the explode streams
    * map-side into the first aggregate). Returns observed bigrams only:
    * (prev, next, cnt, c1, n1_fwd, n1_bwd, p_u6). */
  def kneserNeyBigram(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", dNum: Long = 3L,
      dDen: Long = 4L): org.apache.spark.sql.DataFrame = {
    require(dNum > 0 && dDen > dNum,
      s"discount must satisfy 0 < dNum < dDen, got $dNum/$dDen")
    val pairs = bigramCounts(docs, textCol).localCheckpoint()
    val left = pairs.groupBy("prev")
      .agg(sum("cnt").as("c1"), count(lit(1)).as("n1_fwd"))
    val cont = pairs.groupBy("next").agg(count(lit(1)).as("n1_bwd"))
    val ntot = pairs.count()
    pairs.join(left, "prev").join(cont, "next")
      .withColumn("p_u6", expr(
        s"CAST((greatest(cnt * $dDen - $dNum, 0) * $ntot + " +
        s"$dNum * n1_fwd * n1_bwd) * 1000000 " +
        s"div ($dDen * c1 * $ntot) AS BIGINT)"))
      .select("prev", "next", "cnt", "c1", "n1_fwd", "n1_bwd", "p_u6")
  }

  /** Per-document token Shannon entropy (micro log10 units) — the
    * information-density quality signal between length filters and
    * the Gopher repetition gates: template/spam text concentrates
    * mass in few types (entropy → 0), natural prose spreads it
    * (entropy → log10 of the type count). Exact-integer discipline:
    * each type's surprisal log10(n/c) is micro-rounded ONCE from an
    * exact count ratio, the entropy is the count-weighted sum over
    * types divided (truncating) by n — engine-reproducible, no float
    * accumulation order anywhere.
    *
    * Scale shape: (doc, token)-keyed counts then doc-keyed sums —
    * documents explode map-side and never shuffle whole. Returns
    * (id, n_tok, n_types, entropy_u6); empty/whitespace docs are
    * absent (no tokens, no distribution). */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val cnt = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col(idCol))
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"))
    cnt.join(tot, idCol)
      .withColumn("l_u6",
        round(log10(col("n_tok").cast("double") / col("c")) * 1000000, 0)
          .cast("long"))
      .groupBy(col(idCol), col("n_tok"), col("n_types"))
      .agg(sum(col("c") * col("l_u6")).as("s"))
      .withColumn("entropy_u6", expr("CAST(s div n_tok AS BIGINT)"))
      .drop("s")
  }

  /** Per-class unigram KL divergence from the corpus (micro log10
    * units) — the source-drift audit: KL(P_class ‖ P_corpus) flags
    * sources whose vocabulary distribution diverges from the pool
    * (wrong language, boilerplate farms, schema rot in a feed). Only
    * observed terms contribute (p=0 terms add 0, and every observed
    * class term exists in the corpus, so no smoothing is needed);
    * each log-ratio micro-rounds ONCE from an exact count ratio
    * (c_st·N)/(n_s·c_t), the class sum divides truncating by n_s —
    * the [[keyness]]/[[tokenEntropy]] discipline, engine-exact.
    *
    * Scale shape: (class, term) counts joined to the term-dimension
    * corpus counts plus one broadcast scalar — vocabulary joins only,
    * documents never shuffle. Returns (cls, n_tok, n_types, kl_u6). */
  def sourceDivergence(docs: org.apache.spark.sql.DataFrame,
      classCol: String = "source",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(classCol).cast("string").as("cls"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val st = toks.groupBy("cls", "term").agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val perCls = st.groupBy("cls")
      .agg(sum("c_st").as("n_s"), count(lit(1)).as("n_types"))
    val perTerm = st.groupBy("term").agg(sum("c_st").as("c_t"))
    val total = st.agg(sum("c_st").as("n_corpus"))
    st.join(perCls, "cls").join(perTerm, "term")
      .crossJoin(broadcast(total))
      .withColumn("l_u6", round(log10(
          (col("c_st") * col("n_corpus")).cast("double") /
          (col("n_s") * col("c_t"))) * 1000000, 0).cast("long"))
      .groupBy(col("cls"), col("n_s"), col("n_types"))
      .agg(sum(col("c_st") * col("l_u6")).as("s"))
      .withColumn("kl_u6", expr("CAST(s div n_s AS BIGINT)"))
      .select(col("cls"), col("n_s").as("n_tok"), col("n_types"),
        col("kl_u6"))
  }

  /** Skip-gram training-pair generation with word2vec frequency
    * subsampling (Mikolov et al., NIPS '13 §2.3) — the data-prep step
    * for embedding training: frequent tokens are dropped per
    * OCCURRENCE with keep probability √(t/f(w)), then (center,
    * context) pairs form over the COMPRESSED stream within `window`
    * positions, symmetric. Hash-derandomized: an occurrence keeps iff
    * its md5 key (doc:position) falls under the token's threshold
    * ⌊√(t·N / 10⁶·c_w)·2³²⌋ — the [[graft.ops.Sampling]] predicate, so
    * the sample is a pure function of the corpus re-derivable by any
    * engine. `tPpm` is t in parts-per-million (word2vec's default
    * t=10⁻⁵ ↔ tPpm=10).
    *
    * Scale shape: token counts on the vocabulary dimension, one
    * tok-keyed threshold join, per-doc re-index window (doc-bounded),
    * then the LINEAR shifted-stream equi-join of [[textRankKeywords]]
    * — never a per-doc quadratic. Returns (center, context, cnt). */
  def skipGramPairs(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      window: Int = 2, tPpm: Long = 1000L): org.apache.spark.sql.DataFrame = {
    require(window >= 1 && tPpm >= 1,
      s"need window >= 1 and tPpm >= 1, got $window/$tPpm")
    val toks = docs
      .select(col(idCol).as("doc"),
        posexplode(split(lower(trim(col(textCol))), "\\s+")))
      .toDF("doc", "idx", "tok")
      .filter(col("tok") =!= "").localCheckpoint()
    val n = toks.count()
    val thr = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .select(col("tok"), least(lit(4294967296L),
        floor(sqrt((lit(tPpm) * n).cast("double") /
          (col("c") * 1000000L)) * 4294967296.0).cast("long")).as("thr"))
    val kept = toks.join(thr, "tok")
      .filter(conv(Sampling.hexKey(
        concat_ws(":", col("doc"), col("idx"))), 16, 10).cast("long")
        < col("thr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("idx")
    val seq = kept.withColumn("pos", row_number().over(w))
      .select("doc", "pos", "tok").localCheckpoint()
    val shifted = (1 to window).map(d => seq.select(col("doc"),
        (col("pos") + d).as("pos"), col("tok").as("center")))
      .reduce(_ unionByName _)
    val pairs = shifted.join(
      seq.withColumnRenamed("tok", "context"), Seq("doc", "pos"))
    pairs.select("center", "context").unionByName(
        pairs.select(col("context").as("center"),
          col("center").as("context")))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP '04):
    * PageRank over the token co-occurrence graph — a token matters
    * when it co-occurs with tokens that matter. Tokens within
    * `window` positions of each other (same document) get an
    * undirected edge; ranks come from [[GraphOps.pageRankFixedPoint]]
    * (exact fixed-point integers, engine-reproducible), top-k by
    * (rank desc, token asc).
    *
    * Scale shape: the co-occurrence join is `window` shifted copies
    * of the token stream equi-joined on (doc, position) — LINEAR in
    * corpus size, never the per-doc quadratic "positions within
    * distance w" range join; from there everything lives on the
    * vocabulary dimension (PageRank's per-iteration shuffles carry
    * (token, rank) only). Top-k is a `TakeOrderedAndProject`, not a
    * global sort. Returns (token, rank). */
  def textRankKeywords(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      window: Int = 2, iters: Int = 5,
      k: Int = 10): org.apache.spark.sql.DataFrame = {
    require(window >= 1 && iters >= 1 && k >= 1,
      s"need window/iters/k >= 1, got $window/$iters/$k")
    val toks = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .toDF(idCol, "idx", "tok")
    val shifted = (1 to window).map(d => toks.select(col(idCol),
        (col("idx") + d).as("idx"), col("tok").as("src")))
      .reduce(_ unionByName _)
    val pairs = shifted
      .join(toks.withColumnRenamed("tok", "dst"), Seq(idCol, "idx"))
      .filter(col("src") =!= col("dst"))
    val edges = pairs.select("src", "dst").unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    GraphOps.pageRankFixedPoint(edges, iters)
      .orderBy(desc("rank"), asc("id"))
      .limit(k)
      .withColumnRenamed("id", "token")
  }

  /** Gopher's top-n-gram repetition signal in exact integers: per doc,
    * the count of its MOST frequent bigram and the total bigram count —
    * templated/spam text concentrates mass in one transition
    * (top_cnt/n_pairs high), prose spreads it. Integer pair out, float
    * ratio deferred to the caller (same contract as [[tokenRarity]] /
    * [[bigramFluency]]). Per-doc shuffles keyed on (doc, gram) — never
    * a corpus-wide gram table. */
  def topBigramStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docBigrams(docs, idCol, textCol)
      .groupBy(col(idCol), col("prev"), col("next"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max("c").as("top_cnt"), sum("c").as("n_pairs"))

  /** LM-fluency quality signal in exact integers (the KenLM-filter
    * shape with the libm left out): per doc, the sum and count of
    * corpus-frequency over its bigram transitions. Common-transition
    * text (fluent prose) scores a high mean; word-salad and boilerplate
    * with rare transitions scores low. Keeping (sum, n) integer rather
    * than emitting a float mean/log keeps the result bit-identical on
    * any engine — callers divide (or log) at the very end, exactly like
    * [[tokenRarity]]/[[unigramLogProbScore]].
    *
    * Scale shape: counts table keyed by (prev, next) — broadcast while
    * the vocab² support fits, else a shuffle of short string pairs;
    * documents never shuffle, the doc-side explode streams. */
  def bigramFluency(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val counts = bigramCounts(docs, textCol)
    docBigrams(docs, idCol, textCol)
      .join(counts, Seq("prev", "next"))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("sum_cnt"), count(lit(1)).as("n_pairs"))
  }

  /** The float view over [[tokenRarity]]'s integers: ln of the doc's
    * mean token corpus-frequency, normalized by corpus size N — a
    * monotone proxy for unigram-LM mean log-likelihood. Derived from
    * exact integers in one expression, so it is as deterministic as the
    * division sequence (not oracle-gated; spec-gated). */
  def unigramLogProbScore(sumCnt: Column, nTok: Column, corpusN: Column): Column =
    round(log(sumCnt.cast("double") / nTok.cast("double") / corpusN.cast("double")), 6)

  /** Deflate compression ratio as a quality signal (the RefinedWeb /
    * Gopher-family heuristic): highly repetitive or templated text
    * compresses far below natural prose, so `compressed/raw` separates
    * boilerplate and spam from content. Pure per-row compiled UDF —
    * narrow, no shuffle; level 6 matches zlib's default. Rounded to 6
    * decimals; deflate output is deterministic for a given level, so
    * the ratio is stable across runs and machines (spec-gated — no SQL
    * engine exposes deflate, so there is no oracle for it). Empty/null
    * text → ratio 0. */
  val compressionRatioUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null || text.isEmpty) 0.0
      else {
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6)
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](1024)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        d.end()
        BigDecimal(n.toDouble / raw.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }

  def compressionRatio(textCol: Column): Column = compressionRatioUdf(textCol)

  /** Distributed BPE merge training. The corpus is compressed ONCE into
    * a (word, count) table — the standard tokenizer-training move: all
    * subsequent merge iterations run over distinct words weighted by
    * their counts, never the corpus again. Each round counts adjacent
    * symbol pairs (explode → sum(count) keyed by pair — a narrow
    * two-string shuffle), selects merges deterministically, applies
    * them to the word table with a compiled UDF, and `localCheckpoint`s
    * so the plan stays constant-size across rounds (the
    * components/PageRank guard — without it every round doubles the
    * logical tree).
    *
    * BATCHED SELECTION (`batch` > 1) — the round-9 scale fix: one
    * aggregate + driver round-trip PER MERGE means a production 32k
    * vocabulary is 32k Spark jobs. Instead each round ranks the top
    * 8·batch pairs (count desc, pair asc — a bounded driver read, the
    * IVF-fit probe class) and greedily takes up to `batch` of them that
    * share NO symbol with a higher-ranked selected pair. Disjoint pairs
    * can't overlap in any word, so applying them in ONE left-to-right
    * membership pass equals applying them sequentially in rank order —
    * `batch = 1` reduces exactly to classic per-merge BPE (spec-gated),
    * and a 32k vocab becomes 32k/batch jobs. Batching is the standard
    * fast-trainer approximation: counts of untouched (symbol-disjoint)
    * pairs are provably unchanged by the batch, but pairs CREATED by an
    * earlier merge in the same round only become candidates next round.
    *
    * At 100 TB the word table is the vocabulary of the corpus (≪ the
    * corpus; Heaps' law), so per-round cost is bounded by distinct
    * words. Tokens are whitespace-split, symbols start as characters
    * (no end-of-word marker — document-internal merges only). Returns
    * the merge rules in selection order. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, batch: Int = 1): Seq[(String, String)] = {
    require(numMerges >= 1, "numMerges must be positive")
    require(batch >= 1, "batch must be positive")
    val charsUdf = udf { w: String => w.map(_.toString) }
    var words = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(charsUdf(col("w")).as("syms"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val want = math.min(batch, numMerges - merges.size)
      val top = words
        .select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (s, i) -> struct(s as a, syms[i + 1] as b))"))
          .as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(8 * want).collect()
      if (top.isEmpty) exhausted = true
      else {
        // greedy non-conflicting prefix over the ranked candidates: a
        // pair is skipped iff it shares a symbol with a higher-ranked
        // SELECTED pair. Rank 1 never conflicts, so every round makes
        // progress. The candidate window (8·want) is part of the
        // contract — the oracle replays selection over the same window.
        val used = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        top.iterator.foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          if (sel.size < want && !used(a) && !used(b)) {
            sel += ((a, b)); used += a; used += b
          }
        }
        merges ++= sel
        val mset = sel.toSet
        val applyMerges = udf { syms: Seq[String] =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && mset((syms(i), syms(i + 1)))) {
              out += (syms(i) + syms(i + 1)); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toSeq
        }
        words = words.select(applyMerges(col("syms")).as("syms"), col("cnt"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Apply trained BPE merges to a text column (greedy, in rule order —
    * the standard BPE encode). Returns an array-of-symbols column. */
  def bpeEncode(textCol: Column, merges: Seq[(String, String)]): Column = {
    val rules = merges.toArray
    val enc = udf { text: String =>
      if (text == null) Seq.empty[String]
      else text.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        var syms: Array[String] = w.map(_.toString).toArray
        rules.foreach { case (a, b) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toArray
        }
        syms.toSeq
      }
    }
    enc(textCol)
  }

  /** Stupid-backoff trigram LM document scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the backoff that
    * skips discount normalization because at corpus scale relative
    * frequencies suffice; the CCNet/Gopher-style perplexity-filter
    * signal). Counts train on `trainPred` rows only and every document
    * WITH AT LEAST ONE TRIGRAM (≥ 3 tokens) is scored — shorter docs
    * emit no trigram rows and are absent from the output, a deliberate
    * boundary (an LM score over zero positions is undefined; left-join
    * back to `docs` with n_tri = 0 if presence matters). Held-out docs
    * genuinely exercise all three tiers:
    *
    *   S(w0 | w2 w1) = c3(w2 w1 w0) / c2(w2 w1)           if the trigram trained
    *                 | α · c2(w1 w0) / c1(w1)             else if the bigram did
    *                 | α² · (c1(w0) + 1) / (N + V)        else (add-one floor,
    *                                                        nonzero for OOV)
    *
    * Output is integer-exact per the house oracle discipline: each
    * position's log10-prob is scaled to micro-units and cast to a long
    * BEFORE the per-doc sum, so the aggregate is order-independent —
    * no float summation-order hazard between engines. Tier counts
    * (n_t3/n_t2/n_t1) pin the backoff-decision logic itself.
    *
    * Scale shape: trigram extraction is a per-row array transform (no
    * window shuffle); the count tables are classic map-side-combine
    * aggregations, far smaller than the corpus, and the five scoring
    * joins broadcast when vocab allows (AQE decides). One corpus pass
    * plus count-table passes — the same cost class as BM25 stats. */
  def stupidBackoffScores(docs: org.apache.spark.sql.DataFrame,
      trainPred: Column, idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 0.4): org.apache.spark.sql.DataFrame = {
    val withParts = docs.select(col(idCol),
      split(col(textCol), " ").as("parts"), trainPred.as("is_train"))
    val tri = withParts.filter(size(col("parts")) >= 3)
      .select(col(idCol), col("is_train"), explode(expr(
        "transform(sequence(2, size(parts)-1), i -> " +
          "struct(parts[i-2] AS w2, parts[i-1] AS w1, parts[i] AS w0))"))
        .as("t"))
      .select(col(idCol), col("is_train"),
        col("t.w2").as("w2"), col("t.w1").as("w1"), col("t.w0").as("w0"))
    val bi = withParts.filter(size(col("parts")) >= 2)
      .select(col("is_train"), explode(expr(
        "transform(sequence(1, size(parts)-1), i -> " +
          "struct(parts[i-1] AS w1, parts[i] AS w0))")).as("t"))
      .select(col("is_train"), col("t.w1").as("w1"), col("t.w0").as("w0"))
    val uni = withParts.select(col("is_train"), explode(col("parts")).as("w0"))
    val c3 = tri.filter(col("is_train")).groupBy("w2", "w1", "w0")
      .agg(count(lit(1)).as("c3"))
    val c2 = bi.filter(col("is_train")).groupBy("w1", "w0")
      .agg(count(lit(1)).as("c2"))
    val c1 = uni.filter(col("is_train")).groupBy("w0")
      .agg(count(lit(1)).as("c1"))
    // N + V: two tiny scalars, one driver action over the unigram table
    val nvRow = c1.agg(sum("c1").cast("long"), count(lit(1))).head
    val nv = nvRow.getLong(0) + nvRow.getLong(1)
    val scored = tri
      .join(c3, Seq("w2", "w1", "w0"), "left")
      .join(c2.select(col("w1").as("p1"), col("w0").as("p0"),
        col("c2").as("c2p")),
        col("w2") === col("p1") && col("w1") === col("p0"), "left")
      .join(c2, Seq("w1", "w0"), "left")
      .join(c1.select(col("w0").as("u1"), col("c1").as("c1w1")),
        col("w1") === col("u1"), "left")
      .join(c1, Seq("w0"), "left")
    // expression shape mirrors the oracle SQL exactly (same left-assoc
    // double math) so the doubles are bit-identical before rounding
    val p = when(col("c3").isNotNull, col("c3") / col("c2p"))
      .when(col("c2").isNotNull, lit(alpha) * col("c2") / col("c1w1"))
      .otherwise(lit(alpha) * lit(alpha) * (coalesce(col("c1"), lit(0L)) + 1)
        / lit(nv))
    val tier = when(col("c3").isNotNull, 3).when(col("c2").isNotNull, 2)
      .otherwise(1)
    scored
      .select(col(idCol), round(log10(p) * 1e6, 0).cast("long").as("lp6"),
        tier.as("tier"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"), sum("lp6").as("sum_lp6"),
        sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_t3"),
        sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_t2"),
        sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_t1"))
  }

  // --- WordPiece (BERT-family) tokenizer ------------------------------
  //
  // The second real tokenizer family next to BPE: greedy longest-match
  // segmentation against a fixed piece vocabulary, '##'-prefixed off
  // the word start, whole word → [UNK] when the greedy walk strands
  // (Wu et al. 2016; BERT's WordpieceTokenizer). BERT trains its vocab
  // by likelihood; the deterministic stand-in here ranks substring
  // pieces by occurrence-weighted frequency — the SELECTION rule is
  // frequency (engine-replayable), the ENCODE is the real algorithm.

  /** Frequency-ranked WordPiece vocabulary: word-START pieces
    * (substrings at position 0, length 1..4, whole short words
    * included naturally) and '##' CONTINUATION pieces (interior
    * substrings length 1..4), each weighted by the word's corpus count
    * and cut to the top `maxStarts`/`maxConts` by (weight desc, piece
    * asc). Distributed: one word-count aggregate, one substring
    * explode with map-side combine, two bounded [[graft.plans.TopK]]
    * cuts — vocab-dimension output. */
  def buildWordPieceVocab(docs: org.apache.spark.sql.DataFrame,
      textCol: String, maxStarts: Int = 300, maxConts: Int = 400)
      : org.apache.spark.sql.DataFrame = {
    val words = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val subUdf = udf { (w: String, cnt: Long) =>
      for {
        start <- 0 until w.length
        l <- 1 to math.min(4, w.length - start)
      } yield (if (start == 0) w.substring(0, l)
               else "##" + w.substring(start, start + l), cnt)
    }
    val weighted = words
      .select(explode(subUdf(col("w"), col("cnt"))).as("p"))
      .select(col("p._1").as("piece"), col("p._2").as("cnt"))
      .groupBy("piece").agg(sum("cnt").as("weight"))
      .withColumn("cont", col("piece").startsWith("##"))
    def cut(df: org.apache.spark.sql.DataFrame, k: Int) =
      graft.plans.TopK.perKey(df, Seq("cont"),
        Seq(("weight", false), ("piece", true)), k)
    cut(weighted.filter(!col("cont")), maxStarts)
      .unionByName(cut(weighted.filter(col("cont")), maxConts))
      .select("piece", "weight")
  }

  // --- Unigram-LM (SentencePiece-style) tokenizer ---------------------
  //
  // The third tokenizer family next to BPE (q161/q212) and WordPiece
  // (q204): a piece VOCABULARY with log-probabilities, encoding by
  // Viterbi max-likelihood segmentation (Kudo 2018). Training is
  // hard (Viterbi) EM in exact fixed point: segment the corpus under
  // the current probabilities, recount pieces from the chosen
  // segmentations, renormalize, prune unused pieces (single chars are
  // always kept for coverage). Hard EM monotonically improves the
  // corpus Viterbi objective (spec-gated, UnigramSpec); every score is
  // an integer micro-log10 so both engines agree bit-for-bit, and the
  // encode replays in SQL as path enumeration + argmax (q214).

  /** Viterbi segmentation of one word under (piece → w6) scores:
    * maximize the summed micro-log score; ties break to the
    * lexicographically SMALLEST space-joined piece string (suffix-
    * independent under DP because two segmentations of the same prefix
    * are never prefix-comparable — they place spaces differently over
    * identical letters). Returns (pieces, score6), or None when some
    * position has no covering piece (a vocab with all single chars
    * never strands). */
  private[ops] def unigramViterbiWord(word: String,
      scores: collection.Map[String, Long], maxPieceLen: Int)
      : Option[(Seq[String], Long)] = {
    val n = word.length
    // dp(i) = best (score, pieces-string) for word[0, i)
    val dpScore = Array.fill(n + 1)(Long.MinValue)
    val dpPieces = new Array[String](n + 1)
    dpScore(0) = 0L; dpPieces(0) = ""
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        val j = i - l
        if (dpScore(j) != Long.MinValue) {
          val piece = word.substring(j, i)
          scores.get(piece).foreach { w6 =>
            val cand = dpScore(j) + w6
            val candPieces =
              if (j == 0) piece else dpPieces(j) + " " + piece
            if (cand > dpScore(i) ||
                (cand == dpScore(i) && candPieces < dpPieces(i))) {
              dpScore(i) = cand
              dpPieces(i) = candPieces
            }
          }
        }
        l += 1
      }
      i += 1
    }
    if (dpScore(n) == Long.MinValue) None
    else Some((dpPieces(n).split(" ").toSeq, dpScore(n)))
  }

  /** Piece scores from counts: w6 = round(1e6·log10(cnt/total)) — the
    * expression both engines compute identically (q165 discipline). */
  private def pieceScores(counts: DataFrame): DataFrame = {
    val total = counts.agg(sum("cnt")).head.getLong(0)
    counts.select(col("piece"), col("cnt"),
      round(log10(col("cnt").cast("double") / total.toDouble) * 1e6, 0)
        .cast("long").as("w6"))
  }

  /** Train a Unigram-LM piece vocabulary by hard EM. Seed = the top
    * `vocabSize` substrings (length ≤ `maxPieceLen`) of the corpus's
    * words by occurrence-weighted frequency, plus every single char;
    * each EM round Viterbi-segments the DISTINCT-word table under the
    * current scores (a compiled UDF over a broadcast vocab — the vocab
    * is bounded by contract), recounts pieces weighted by word counts,
    * prunes pieces the segmentations never used (single chars kept),
    * and renormalizes. Returns (piece, cnt, w6) — cnt is the final
    * round's segmentation count.
    *
    * Scale shape: the corpus is compressed once into (word, cnt)
    * (Heaps' law — the word table ≪ corpus); every EM round is one
    * map-side segmentation pass + one piece-keyed count aggregate; the
    * vocab rides a broadcast both ways. No driver loop is per-piece —
    * rounds are `iters`, a constant. */
  def unigramTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      vocabSize: Int = 200, iters: Int = 2, maxPieceLen: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1 && iters >= 1 && maxPieceLen >= 1,
      "bad unigram shape")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .localCheckpoint()
    val subUdf = udf { (w: String, cnt: Long) =>
      for {
        start <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - start)
      } yield (w.substring(start, start + l), cnt)
    }
    val weighted = words
      .select(explode(subUdf(col("w"), col("wcnt"))).as("p"))
      .select(col("p._1").as("piece"), col("p._2").as("c"))
      .groupBy("piece").agg(sum("c").as("cnt"))
    val chars = weighted.filter(length(col("piece")) === 1)
    val seed = graft.plans.TopK.perKey(
        weighted.withColumn("__k", lit(1)), Seq("__k"),
        Seq(("cnt", false), ("piece", true)), vocabSize)
      .drop("__k")
      .unionByName(chars).dropDuplicates("piece")
    var vocab = pieceScores(seed).localCheckpoint()
    for (_ <- 1 to iters) {
      val scores = vocab.select("piece", "w6").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = spark.sparkContext.broadcast(scores)
      val mpl = maxPieceLen
      val segUdf = udf { w: String =>
        unigramViterbiWord(w, bc.value, mpl).map(_._1).getOrElse(Seq.empty)
      }
      val recount = words
        .select(col("wcnt"), explode(segUdf(col("w"))).as("piece"))
        .groupBy("piece").agg(sum("wcnt").as("cnt"))
      val kept = recount.unionByName(
          chars.select(col("piece"), lit(0L).as("cnt"))
            .join(recount.select(col("piece")), Seq("piece"), "left_anti"))
      vocab = pieceScores(kept
          .withColumn("cnt", greatest(col("cnt"), lit(1L))))
        .localCheckpoint()
    }
    vocab
  }

  /** Viterbi-encode the distinct words of `textCol` under a trained
    * (piece, w6) vocab: (word, pieces, score6, n_pieces), space-joined
    * pieces, lexicographic-smallest tie-break — exactly the argmax the
    * q214 oracle replays by path enumeration. */
  def unigramEncodeWords(docs: org.apache.spark.sql.DataFrame,
      textCol: String, vocab: org.apache.spark.sql.DataFrame,
      maxPieceLen: Int = 4): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val scores = vocab.select("piece", "w6").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(scores)
    val mpl = maxPieceLen
    val encUdf = udf { w: String =>
      unigramViterbiWord(w, bc.value, mpl)
        .map { case (ps, s) => (ps.mkString(" "), s, ps.length.toLong) }
        .getOrElse(("[UNK]", 0L, 0L))
    }
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .withColumn("e", encUdf(col("word")))
      .select(col("word"), col("e._1").as("pieces"),
        col("e._2").as("score6"), col("e._3").as("n_pieces"))
  }

  /** Greedy WordPiece segmentation of one word: longest vocab piece at
    * the cursor ('##'-prefixed when not at the start); a position with
    * no matching piece voids the WHOLE word to [UNK] — BERT's rule. */
  private[ops] def wordPieceWord(word: String, vocab: Set[String],
      maxPieceLen: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      var len = math.min(maxPieceLen, word.length - pos)
      var found: String = null
      while (len >= 1 && found == null) {
        val raw = word.substring(pos, pos + len)
        val cand = if (pos == 0) raw else "##" + raw
        if (vocab(cand)) found = cand
        len -= 1
      }
      if (found == null) return Seq("[UNK]")
      out += found
      pos += (if (pos == 0) found.length else found.length - 2)
    }
    out.toSeq
  }

  /** Generation-diversity metrics — distinct-n (Li et al. 2016, "A
    * Diversity-Promoting Objective Function for Neural Conversation
    * Models"): per doc and per n, unique word n-grams vs total n-grams
    * with a per-mille ratio — the standard repetitiveness/diversity
    * eval a pipeline scores model outputs (or candidate training text)
    * with; low distinct-n is the degenerate-repetition signature. All
    * exact integers; one gram explode + count/count-distinct aggregate
    * per n (map-side combinable); docs with fewer than n tokens are
    * absent for that n (no grams — the q165 boundary). */
  def distinctN(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n list $ns")
    ns.map { n =>
      val gramUdf = udf { text: String =>
        val ws = tokenize(text).filter(_.nonEmpty)
        if (ws.length < n) Seq.empty[String]
        else ws.sliding(n).map(_.mkString(" ")).toSeq
      }
      docs.select(col(idCol).as("__id"), explode(gramUdf(col(textCol))).as("g"))
        .groupBy("__id")
        .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_unique"))
        .select(col("__id").as(idCol), lit(n.toLong).as("n"),
          col("n_grams"), col("n_unique"),
          expr("n_unique * 1000 div n_grams").as("distinct_pm"))
    }.reduce(_ unionByName _)
  }

  /** ROUGE-N overlap between candidate and reference text columns —
    * the summarization/eval metric a training pipeline scores its eval
    * sets with, in EXACT integers: per row,
    * `match_n = Σ_g min(count_cand(g), count_ref(g))` over word
    * n-grams (the clipped-count rule of Lin 2004), plus total gram
    * counts and per-mille precision/recall (0 when a side has no
    * grams). Relational end to end — grams explode with multiset
    * counts, one (id, gram)-keyed equi-join, map-side-combine sums;
    * nothing needs the texts after the gram pass. */
  def rougeN(pairs: org.apache.spark.sql.DataFrame, idCol: String,
      candCol: String, refCol: String, n: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val gramUdf = udf { text: String =>
      val ws = tokenize(text).filter(_.nonEmpty)
      if (ws.length < n) Seq.empty[String]
      else ws.sliding(n).map(_.mkString(" ")).toSeq
    }
    def counts(c: String, out: String) = pairs
      .select(col(idCol).as("id"), explode(gramUdf(col(c))).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as(out))
    val cand = counts(candCol, "c_cand")
    val ref = counts(refCol, "c_ref")
    val matched = cand.join(ref, Seq("id", "gram"))
      .groupBy("id")
      .agg(sum(least(col("c_cand"), col("c_ref"))).as("match_n"))
    val totals = cand.groupBy("id").agg(sum("c_cand").as("cand_n"))
      .join(ref.groupBy("id").agg(sum("c_ref").as("ref_n")), Seq("id"), "full_outer")
    pairs.select(col(idCol).as("id")).distinct()
      .join(totals, Seq("id"), "left")
      .join(matched, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cand_n"), lit(0L)).as("cand_n"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("match_n"), lit(0L)).as("match_n"))
      .withColumn("precision_pm",
        when(col("cand_n") === 0L, 0L)
          .otherwise(expr("match_n * 1000 div cand_n")))
      .withColumn("recall_pm",
        when(col("ref_n") === 0L, 0L)
          .otherwise(expr("match_n * 1000 div ref_n")))
  }

  /** Multinomial Naive Bayes text classifier (train + score in one
    * declarative pass) — the cheap supervised baseline of the
    * classifier tier next to the [[graft.ops.Cleaning]] perceptron
    * gate: language/source/domain routing where a linear
    * bag-of-words model is the standard first answer. Deterministic
    * split (test = id % testMod == 0), Laplace +1 smoothing, and the
    * exact-integer discipline: every log-probability micro-rounds
    * ONCE from an exact count ratio (class priors n_c/N, token
    * likelihoods (c+1)/(tot_c+V), out-of-vocabulary 1/(tot_c+V)),
    * then scores are pure integer weighted sums — argmax with ties
    * to the lexicographically smallest class. Engine-reproducible end
    * to end; no float accumulation anywhere.
    *
    * Scale shape: counts live on the (class, token) vocabulary
    * dimension; scoring is one token⋈likelihood left join after a
    * C-way broadcast expansion (C = #classes, a constant) and one
    * (doc, class) aggregate — documents never shuffle whole, and the
    * model "table" is exactly the partial-aggregable shape that
    * trains in one pass over 100 TB. Returns
    * (idCol, pred, actual, score_u6, correct) for the test split;
    * token-less test docs are absent (no evidence, no score). */
  def naiveBayes(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      classCol: String = "lang", testMod: Long = 5L)
      : org.apache.spark.sql.DataFrame = {
    require(testMod >= 2L, s"testMod must be >= 2, got $testMod")
    nbCorrect(docs.filter(col(idCol) % testMod =!= 0L),
      docs.filter(col(idCol) % testMod === 0L), idCol, textCol, classCol)
  }

  /** Train the [[naiveBayes]] model on `train`, score `test` — the
    * shared core the LOGO valuation re-runs per left-out group. */
  private def nbCorrect(train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, classCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = nbScores(train, test, idCol, textCol, classCol)
    val w = Window.partitionBy("id").orderBy(desc("score_u6"), col("cls"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(test.select(col(idCol).as("id"),
        col(classCol).cast("string").as("actual")), "id")
      .withColumn("correct", (col("cls") === col("actual")).cast("long"))
      .select(col("id").as(idCol), col("cls").as("pred"), col("actual"),
        col("score_u6"), col("correct"))
  }

  /** The [[naiveBayes]] per-(doc, class) score table — exposed so
    * the uncertainty-sampling queue can read margins, not just the
    * argmax. */
  private def nbScores(train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, classCol: String)
      : org.apache.spark.sql.DataFrame = {
    val trTok = train.select(col(classCol).cast("string").as("cls"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val ct = trTok.groupBy("cls", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vRow = ct.agg(countDistinct("tok").as("v"))
    val cstat = ct.groupBy("cls").agg(sum("c").as("tot"))
      .crossJoin(broadcast(vRow))
      .withColumn("oov_u6", round(log10(
          lit(1.0) / (col("tot") + col("v"))) * 1000000, 0).cast("long"))
    val lp = ct.join(cstat, "cls")
      .withColumn("lp_u6", round(log10(
          (col("c") + 1).cast("double") / (col("tot") + col("v")))
          * 1000000, 0).cast("long"))
      .select("cls", "tok", "lp_u6")
    val nRow = train.agg(count(lit(1)).as("n_train"))
    val pri = train.groupBy(col(classCol).cast("string").as("cls"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nRow))
      .withColumn("prior_u6", round(log10(
          col("n_docs").cast("double") / col("n_train")) * 1000000, 0)
        .cast("long"))
      .select("cls", "prior_u6")
    val teTok = test.select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("id", "tok").agg(count(lit(1)).as("n"))
    teTok
      .crossJoin(broadcast(cstat.select("cls", "oov_u6")))
      .join(lp, Seq("cls", "tok"), "left")
      .withColumn("contrib",
        col("n") * coalesce(col("lp_u6"), col("oov_u6")))
      .groupBy("id", "cls").agg(sum("contrib").as("s"))
      .join(pri, "cls")
      .withColumn("score_u6", col("prior_u6") + col("s"))
      .select("id", "cls", "score_u6")
  }

  /** Uncertainty sampling (Lewis & Gale SIGIR 1994, margin variant) —
    * the active-learning labeling queue: train [[naiveBayes]] on the
    * labeled split, score the UNLABELED split, and surface the k
    * documents with the smallest top-1 − top-2 score margin — exactly
    * the examples whose human label buys the most model improvement
    * per annotation dollar. Margins are pure integer differences of
    * the micro-fixed scores (ties to id), the queue is a
    * TakeOrderedAndProject — never a global sort. Requires ≥ 2
    * classes (no margin otherwise — loud reject). Returns the queue
    * (idCol, top_cls, margin_u6). */
  def uncertaintySamples(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      classCol: String = "lang", testMod: Long = 5L,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(testMod >= 2L && k >= 1, s"bad testMod/k: $testMod/$k")
    import org.apache.spark.sql.expressions.Window
    val train = docs.filter(col(idCol) % testMod =!= 0L)
    require(train.select(col(classCol)).distinct().count() >= 2L,
      "uncertainty margins need at least 2 classes")
    val scored = nbScores(train,
      docs.filter(col(idCol) % testMod === 0L), idCol, textCol, classCol)
    val w = Window.partitionBy("id").orderBy(desc("score_u6"), col("cls"))
    val top2 = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    top2.filter(col("rn") === 1)
      .select(col("id"), col("cls").as("top_cls"),
        col("score_u6").as("s1"))
      .join(top2.filter(col("rn") === 2)
        .select(col("id"), col("score_u6").as("s2")), "id")
      .withColumn("margin_u6", col("s1") - col("s2"))
      .orderBy(col("margin_u6"), col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("top_cls"), col("margin_u6"))
  }

  /** Leave-one-group-out data valuation (the group Shapley's cheap,
    * exact first term — Ghorbani & Zou's "what is my data worth"
    * question at source granularity): retrain the [[naiveBayes]]
    * classifier G+1 times — once on the full train split, once
    * without each source group — and report every group's held-out
    * accuracy DELTA. Positive delta = the group teaches the model
    * something; negative = it actively pollutes (mislabeled or
    * off-distribution ingest — cut it before the next release). The
    * test split is fixed across runs, so deltas are exactly
    * attributable. G is a bounded group-dimension driver read (the
    * F-S weight contract); each retrain is the same partial-
    * aggregable one-pass training, so the whole valuation is G+1
    * vocabulary-dimension passes — never G corpus shuffles of
    * anything wider than (class, token) counts. Returns
    * (left_out, n_test, n_correct, delta_correct) with the full model
    * as row `__full__` (delta 0 by construction). */
  def naiveBayesLogo(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      classCol: String = "lang", groupCol: String = "grp",
      testMod: Long = 5L): org.apache.spark.sql.DataFrame = {
    require(testMod >= 2L, s"testMod must be >= 2, got $testMod")
    val train = docs.filter(col(idCol) % testMod =!= 0L)
    val test = docs.filter(col(idCol) % testMod === 0L)
    val groups = train.select(col(groupCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    def acc(tr: org.apache.spark.sql.DataFrame, label: String) =
      nbCorrect(tr, test, idCol, textCol, classCol)
        .agg(count(lit(1)).as("n_test"),
          sum("correct").as("n_correct"))
        .select(lit(label).as("left_out"), col("n_test"),
          col("n_correct"))
    val full = acc(train, "__full__").localCheckpoint()
    val fullCorrect = full.select("n_correct").first().getLong(0)
    (full +: groups.map(g =>
        acc(train.filter(col(groupCol).cast("string") =!= g), g)))
      .reduce(_ unionByName _)
      .withColumn("delta_correct", lit(fullCorrect) - col("n_correct"))
  }

  /** Flesch reading-ease + Flesch–Kincaid grade (Flesch 1948; Kincaid
    * et al. 1975) — the classic readability pair, a cheap prose-quality
    * gate next to [[tokenEntropy]] and the Gopher repetition checks
    * (listicles and boilerplate score far from natural prose). Counts
    * are fully deterministic: words are the usual non-empty `\s+`
    * tokens of the lowercased text, sentences are runs of `[.!?]+`
    * (floored at 1 so fragments still score), and a word's syllables
    * are its `[aeiouy]+` vowel runs floored at 1 (the standard
    * heuristic; no dictionary). Scores land in milli-units through
    * truncating integer division — the engine-exact discipline:
    *
    *   flesch_u3 = 206835 − (1015·W) div S − (84600·Syl) div W
    *   fkgl_u3   = (390·W) div S + (11800·Syl) div W − 15590
    *
    * Scale shape: tokens explode map-side, one doc-keyed aggregate;
    * nothing but (id, counts) crosses the exchange. Docs with no words
    * are absent. Returns (id, n_words, n_sents, n_syll, flesch_u3,
    * fkgl_u3). */
  def fleschReadability(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
        greatest(size(expr(
          s"regexp_extract_all($textCol, '[.!?]+', 0)")), lit(1))
          .cast("long").as("n_sents"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("syl",
        greatest(size(expr("regexp_extract_all(tok, '[aeiouy]+', 0)")),
          lit(1)).cast("long"))
      .groupBy(col(idCol), col("n_sents"))
      .agg(count(lit(1)).as("n_words"), sum("syl").as("n_syll"))
      .withColumn("flesch_u3", expr("CAST(206835 - (1015 * n_words) " +
        "div n_sents - (84600 * n_syll) div n_words AS BIGINT)"))
      .withColumn("fkgl_u3", expr("CAST((390 * n_words) div n_sents " +
        "+ (11800 * n_syll) div n_words - 15590 AS BIGINT)"))
      .select(col(idCol), col("n_words"), col("n_sents"), col("n_syll"),
        col("flesch_u3"), col("fkgl_u3"))

  /** WordPiece encode as a compiled UDF over a broadcast-able vocab
    * (piece strings; '##' marks continuations). One map-side pass —
    * text never crosses an exchange to be tokenized. */
  def wordPieceEncodeUdf(vocab: Seq[String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val set = vocab.toSet
    val maxLen = if (set.isEmpty) 1
      else set.iterator.map(p =>
        if (p.startsWith("##")) p.length - 2 else p.length).max
    udf { text: String =>
      if (text == null) Seq.empty[String]
      else text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        .filter(_.nonEmpty).toSeq
        .flatMap(w => wordPieceWord(w, set, maxLen))
    }
  }

  /** High-entropy secret/credential scan — the scrubbing gate a
    * training corpus passes before release (leaked API keys and tokens
    * memorize verbatim; the standard screen — detect-secrets,
    * truffleHog's entropy pass — is exactly this shape): a token is a
    * CANDIDATE if it is credential-shaped (`[A-Za-z0-9+/=_-]+`, length
    * in [minLen, maxLen]), and FLAGGED if its character-level Shannon
    * entropy clears `thresholdU6` micro-nats. Prose and identifiers sit
    * ≈ 2 nats; random base62/base64 material approaches ln(min(L, 62)).
    *
    * Exact fixed point: H·10⁶ = (Σ_c cnt_c·(lnU6(L) − lnU6(cnt_c)))
    * div L, with lnU6(n) = round(ln n · 10⁶) drawn from a broadcast
    * 1..maxLen lookup built ONCE driver-side (the [[graft.streaming
    * .EventsPipeline.sprtReplay]] discipline: no transcendental ever
    * evaluates in either engine's data path, so the oracle replays the
    * identical literals). Per doc: candidate/flagged counts and the
    * top flagged token by (entropy, token) — deterministic.
    *
    * Scale shape: entropy computes once per DISTINCT token (the
    * token-dimension, not the occurrence stream), chars explode only
    * off that distinct table (≤ maxLen rows per token), and occurrences
    * join back on the token dimension. Docs with no candidate emit no
    * row (the table would otherwise be corpus-sized for a gate that
    * fires rarely). */
  def secretScan(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, maxLen: Int = 256,
      thresholdU6: Long = 2700000L): DataFrame = {
    require(minLen >= 2 && maxLen >= minLen,
      s"need 2 <= minLen <= maxLen, got $minLen/$maxLen")
    require(thresholdU6 > 0, s"thresholdU6 must be > 0, got $thresholdU6")
    val spark = df.sparkSession
    import spark.implicits._
    val lnTbl = broadcast((1 to maxLen)
      .map(n => (n.toLong, math.round(math.log(n) * 1e6)))
      .toDF("n", "ln_u6"))
    val cand = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= minLen &&
        length(col("tok")) <= maxLen &&
        col("tok").rlike("^[A-Za-z0-9+/=_-]+$"))
    val toks = cand.select("tok").distinct()
    val ent = toks
      .select(col("tok"), explode(split(col("tok"), "")).as("ch"))
      .groupBy("tok", "ch").agg(count(lit(1)).as("cnt"))
      .join(lnTbl.withColumnRenamed("ln_u6", "ln_cnt"),
        col("cnt") === col("n")).drop("n")
      .groupBy("tok")
      .agg(sum(col("cnt") * (lit(0L) - col("ln_cnt"))).as("s"),
        sum("cnt").as("len"))
      .join(lnTbl.withColumnRenamed("ln_u6", "ln_len"),
        col("len") === col("n")).drop("n")
      .select(col("tok"),
        expr("CAST((s + len * ln_len) div len AS BIGINT)")
          .as("entropy_u6"))
    cand.join(ent, "tok")
      .withColumn("flag", col("entropy_u6") >= thresholdU6)
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
        max(when(col("flag"),
          struct(col("entropy_u6"), col("tok")))).as("top"))
      .select(col(idCol), col("n_candidates"), col("n_flagged"),
        col("top.tok").as("top_token"),
        col("top.entropy_u6").as("top_entropy_u6"))
  }
}
