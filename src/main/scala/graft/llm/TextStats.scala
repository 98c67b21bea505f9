package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.Portable

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md
  * §2.4): tokenization, token counting, quality scoring, language ID,
  * document fingerprinting.
  *
  * Everything here is a codegen'd column expression over built-ins — no
  * UDFs, no shuffles except the final aggregations — so it runs at scan
  * speed on 100 TB.
  *
  * Hashing note: `portableHash` is built from `md5` so that the exact
  * same value is computable in other engines (the DuckDB oracle) — the
  * whole MinHash/SimHash pipeline is therefore differentially testable,
  * not just "rows > 0". Production could swap in `xxhash64` (cheaper)
  * without changing any semantics.
  */
object TextStats {

  /** Whitespace tokenization, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** 60-bit engine-portable word hash: first 15 hex digits of md5. */
  def portableHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  val HashMod = 2147483647L // 2^31 - 1 (prime); keeps a*h+b in BIGINT range

  /** Token count (whitespace tokens). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword count: words + extra tokens for long words
    * (every 4 chars beyond the first 4 ≈ one more subword merge).
    */
  def subwordCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + lit(1L) + (greatest(length(w) - 4, lit(0)) / 4).cast("long"))

  /** Stopword ratio: fraction of tokens in a small English stopword set. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val ws = tokens(text)
    when(size(ws) === 0, lit(0.0)).otherwise(
      size(filter(ws, w => w.isin(stopwords.map(lit(_)): _*))).cast("double") /
        size(ws).cast("double"))
  }

  /** Mean token length in characters. */
  def meanWordLen(text: Column): Column = {
    val ws = tokens(text)
    when(size(ws) === 0, lit(0.0)).otherwise(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / size(ws).cast("double"))
  }

  /** Heuristic document quality score in [0,1]: length band + stopword
    * presence + word-length sanity. Deterministic, engine-portable.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0)) * 0.4
    val stopScore = least(stopwordRatio(text) * 10.0, lit(1.0)) * 0.3
    val mwl = meanWordLen(text)
    val wordScore = when(mwl >= 3.0 && mwl <= 8.0, 0.3).otherwise(0.1)
    Portable.round(lenScore + stopScore + wordScore, 4)
  }

  /** N-gram-heuristic language ID: score text against per-language marker
    * word sets; argmax with a fixed tie order. The marker sets are tiny
    * by design (the heuristic, not a model, is the declared operator).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "und", "ist", "mit"),
    "fr" -> Seq("le", "la", "et", "est", "avec"),
    "es" -> Seq("el", "la", "y", "es", "con"),
    "zh" -> Seq("de", "shi", "he", "zai", "le"))

  def langScore(text: Column, lang: String): Column = {
    val ws = tokens(text)
    size(filter(ws, w => w.isin(langMarkers(lang).map(lit(_)): _*)))
  }

  /** Predicted language: highest marker count, ties broken by the fixed
    * order en > de > fr > es > zh; all-zero scores → "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val order = Seq("en", "de", "fr", "es", "zh")
    val scores = order.map(l => langScore(text, l))
    val best = greatest(scores: _*)
    order.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Unicode NFC normalization — the canonical-composition cleanup every
    * text pipeline runs before hashing/dedup (decomposed "é" and
    * composed "é" must not count as distinct content). JDK
    * `java.text.Normalizer` implements the same Unicode standard as
    * DuckDB's utf8proc `nfc_normalize`, so the op is oracle-checkable
    * byte-for-byte (q86). Null-safe; idempotent.
    */
  val nfcNormalizeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }

  /** NFKC variant: compatibility folding (ligatures, full-width forms,
    * superscripts) on top of canonical composition — the aggressive
    * pretraining-dedup normalizer. Spec-gated (DuckDB ships no NFKC).
    */
  val nfkcNormalizeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
    }

  // ------------------------------------------------------------------ //
  // Char-trigram language-ID model                                     //
  // ------------------------------------------------------------------ //

  /** Seed corpora for the trigram model — small texts authored for this
    * repo (one per language), embedded so the model is deterministic
    * and self-contained (no external data, no network).
    */
  private[llm] val langSeedTexts: Map[String, String] = Map(
    "en" -> ("the quick brown fox jumps over the lazy dog while the children " +
      "watch the ships from the harbour wall and everything that could be " +
      "said about the weather was said with great enthusiasm by the old " +
      "fisherman who knew the tides better than anyone in the village " +
      "this is a story about the sea and the people who live beside it"),
    "de" -> ("der schnelle braune fuchs springt über den faulen hund während " +
      "die kinder die schiffe von der hafenmauer aus beobachten und alles " +
      "was über das wetter gesagt werden konnte wurde mit großer " +
      "begeisterung von dem alten fischer erzählt der die gezeiten besser " +
      "kannte als irgendjemand im dorf dies ist eine geschichte über das " +
      "meer und die menschen die daneben wohnen"),
    "fr" -> ("le rapide renard brun saute par dessus le chien paresseux " +
      "pendant que les enfants regardent les navires depuis le mur du port " +
      "et tout ce qui pouvait être dit sur le temps fut dit avec beaucoup " +
      "d enthousiasme par le vieux pêcheur qui connaissait les marées mieux " +
      "que quiconque au village ceci est une histoire sur la mer et les " +
      "gens qui vivent à côté"),
    "es" -> ("el rápido zorro marrón salta sobre el perro perezoso mientras " +
      "los niños miran los barcos desde el muro del puerto y todo lo que " +
      "podía decirse sobre el tiempo fue dicho con gran entusiasmo por el " +
      "viejo pescador que conocía las mareas mejor que nadie en el pueblo " +
      "esta es una historia sobre el mar y la gente que vive al lado"))

  /** Fixed prediction order (ties break toward the earlier entry). */
  private[llm] val langModelOrder: Seq[String] = Seq("en", "de", "fr", "es")

  private def charTrigrams(text: String): Seq[String] = {
    val norm = " " + text.toLowerCase
      .replaceAll("[^\\p{L}]+", " ").trim + " "
    if (norm.length < 3) Seq.empty else norm.sliding(3).toSeq
  }

  /** Per-language add-one-smoothed trigram log-probabilities + the
    * unseen-gram fallback, built once at class load.
    */
  private lazy val langTrigramModel: Map[String, (Map[String, Double], Double)] = {
    val counts = langSeedTexts.view.mapValues(t =>
      charTrigrams(t).groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    val vocab = counts.values.flatMap(_.keys).toSet.size.toDouble
    counts.map { case (lang, c) =>
      val total = c.values.sum.toDouble
      val logProbs = c.map { case (g, n) =>
        g -> math.log((n + 1.0) / (total + vocab))
      }
      lang -> ((logProbs, math.log(1.0 / (total + vocab))))
    }
  }

  /** Char-trigram Naive-Bayes language ID — the MODEL upgrade over the
    * stopword-marker heuristic [[langId]] (which is kept as the
    * oracle-parity operator: this scorer's float log-sums are not
    * SQL-mirrorable, so it is gated by the planted-accuracy property
    * query q84 and by spec instead). Scoring: add-one-smoothed
    * log-likelihood of the text's char trigrams per language, argmax
    * with the fixed order en > de > fr > es; texts with no trigram
    * (empty / non-letter) → "und". Deterministic, executor-side, one
    * narrow pass — the same classification shape fastText-style n-gram
    * models run at corpus scale.
    */
  val langIdNgramUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) "und"
      else {
        val grams = charTrigrams(text)
        if (grams.isEmpty) "und"
        else {
          var bestLang = "und"
          var bestScore = Double.NegativeInfinity
          langModelOrder.foreach { lang =>
            val (lp, fallback) = langTrigramModel(lang)
            var s = 0.0
            grams.foreach(g => s += lp.getOrElse(g, fallback))
            if (s > bestScore) { bestScore = s; bestLang = lang }
          }
          bestLang
        }
      }
    }

  /** Rolling-hash document fingerprint: polynomial fold over the portable
    * word hashes, mod 1e9+7. Order-sensitive (it is a sequence
    * fingerprint, not a bag fingerprint).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), w => portableHash(w) % 1000003L),
      lit(0L),
      (acc, h) => (acc * 31L + h) % 1000000007L)

  /** Token-window document chunking — the pretraining preprocessing step
    * between cleaning and packing: each document becomes ⌈(n−overlap)/
    * stride⌉ chunks of ≤ `chunkSize` tokens, consecutive chunks sharing
    * `overlap` tokens. Pure codegen'd expressions (split once, explode a
    * chunk-index sequence, slice per chunk) — one narrow pass, no
    * shuffle; output rows are (doc_id, chunk_id, chunk_text,
    * n_chunk_tokens). The last chunk of a document may be shorter.
    */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize, "0 <= overlap < chunkSize required")
    val stride = chunkSize - overlap
    val n = size(col("_ws"))
    // chunk count − 1: 0 when the doc fits one chunk, else ⌈(n−size)/stride⌉
    val extra = when(n <= chunkSize, lit(0L))
      .otherwise(ceil((n - lit(chunkSize)).cast("double") / stride).cast("long"))
    df.select(col(idCol), tokens(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"),
        explode(sequence(lit(0L), extra)).as("chunk_id"))
      .withColumn("_chunk",
        slice(col("_ws"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
      .select(col(idCol), col("chunk_id"),
        array_join(col("_chunk"), " ").as("chunk_text"),
        size(col("_chunk")).as("n_chunk_tokens"))
  }

  /** Content-defined chunking (the LBFS/FastCDC idea at token
    * granularity): a chunk boundary falls after token `i` iff the
    * portable 60-bit hash of the last `window` tokens satisfies
    * `hash % divisor == 0` — a pure function of LOCAL content, so an
    * edit or insertion perturbs only the chunk it lands in (boundaries
    * re-synchronize at the next content match), where fixed-stride
    * chunking shifts every later chunk. The chunk-level-dedup
    * primitive: identical passages in different documents yield
    * identical `chunk_hash` values regardless of their offsets.
    * Expected chunk length ≈ `divisor` tokens.
    *
    * One per-document UDF pass over the tokens — no token explode, no
    * shuffle; chunk state never leaves the executor. Both the boundary
    * grams and the chunk hashes are the engine-portable md5-60
    * [[portableHash]], so the DuckDB oracle replays boundaries AND
    * chunk identities exactly.
    *
    * Emits `(id, chunk_idx, n_tokens, chunk_hash)`.
    */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, window: Int = 8,
                divisor: Long = 64L): org.apache.spark.sql.DataFrame = {
    require(window > 0 && divisor > 0, "window and divisor must be positive")
    val w = window
    val d = divisor
    val chunker = udf { (ws: Seq[String]) =>
      if (ws == null) Seq.empty[(Int, Int, Long)] else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      var start = 0
      var idx = 0
      var i = 0
      val n = ws.length
      while (i < n) {
        val boundary = i >= w - 1 &&
          hash60(md, ws.slice(i - w + 1, i + 1).mkString(" ")) % d == 0L
        if (boundary || i == n - 1) {
          out += ((idx, i - start + 1,
            hash60(md, ws.slice(start, i + 1).mkString(" "))))
          idx += 1
          start = i + 1
        }
        i += 1
      }
      out.toSeq
      }
    }
    df.select(col(idCol), explode(chunker(tokens(col(textCol)))).as("_c"))
      .select(col(idCol), col("_c._1").as("chunk_idx"),
        col("_c._2").as("n_tokens"), col("_c._3").as("chunk_hash"))
  }

  // ------------------------------------------------------------------ //
  // Compiled single-tokenize pass                                      //
  // ------------------------------------------------------------------ //

  /** JVM-side 60-bit md5 hash — bit-identical to [[portableHash]] (the
    * first 15 hex digits of md5 = first 60 bits of the digest).
    */
  private[llm] def hash60(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** All per-document metrics from ONE compiled pass over the token
    * array. Field-for-field bit-identical to the expression forms above
    * (same IEEE double op order, same md5 hashing, same rounding).
    */
  final case class DocStats(n_tokens: Int, n_subwords: Long, n_chars: Int,
                            stopword_ratio: Double, mean_word_len: Double,
                            quality: Double, lang_pred: String,
                            fingerprint: Long)

  private val langOrder: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  private val markerSets: IndexedSeq[Set[String]] = langOrder.map(langMarkers(_).toSet)
  private val stopSet: Set[String] = stopwords.toSet

  /** [[Portable.round]] at n=4, as the identical JVM double-op sequence. */
  private def round4(x: Double): Double =
    if (x >= 0) math.floor(x * 1e4 + 0.5) / 1e4 else -(math.floor(-x * 1e4 + 0.5) / 1e4)

  /** The single-tokenize kernel: every metric from one loop over the
    * (already split) token array. `nChars` comes in from the expression
    * side (`length(text)`) so character counting stays engine-defined.
    */
  private[llm] def computeDocStats(ws: Seq[String], nChars: Int,
                                   withFingerprint: Boolean = true): DocStats = {
    val n = ws.length
    val md =
      if (withFingerprint) java.security.MessageDigest.getInstance("MD5") else null
    var sumLen = 0L; var stopCnt = 0; var subwords = 0L; var fp = 0L
    val langCnt = new Array[Int](5)
    var i = 0
    while (i < n) {
      val w = ws(i)
      val len = w.codePointCount(0, w.length) // = Spark length(): code points
      sumLen += len
      subwords += 1L + math.max(len - 4, 0).toLong / 4L
      if (stopSet(w)) stopCnt += 1
      var j = 0
      while (j < 5) { if (markerSets(j)(w)) langCnt(j) += 1; j += 1 }
      if (withFingerprint)
        fp = (fp * 31L + hash60(md, w) % 1000003L) % 1000000007L
      i += 1
    }
    val ratio = if (n == 0) 0.0 else stopCnt.toDouble / n.toDouble
    val mwl = if (n == 0) 0.0 else sumLen.toDouble / n.toDouble
    val lenScore = math.min(nChars.toDouble / 500.0, 1.0) * 0.4
    val stopScore = math.min(ratio * 10.0, 1.0) * 0.3
    val wordScore = if (mwl >= 3.0 && mwl <= 8.0) 0.3 else 0.1
    var best = 0
    var j = 0
    while (j < 5) { if (langCnt(j) > best) best = langCnt(j); j += 1 }
    val lang = if (best == 0) "und" else langOrder(langCnt.indexOf(best))
    DocStats(n, subwords, nChars, ratio, mwl,
      round4(lenScore + stopScore + wordScore), lang, fp)
  }

  /** Compiled all-metrics pass. Semantically identical to composing
    * [[tokenCount]]/[[subwordCount]]/[[stopwordRatio]]/[[meanWordLen]]/
    * [[qualityScore]]/[[langId]]/[[fingerprint]], but the interpreted
    * higher-order expressions those build on run outside whole-stage
    * codegen with no common-subexpression elimination — each metric
    * re-walks the token array (and the fingerprint re-runs md5) per
    * reference. One fused JVM loop is ~10× cheaper per document; this is
    * the 100-TB-corpus path (same fix already proven ~100× for MinHash,
    * [[Dedup.minhashSignatureUdf]]). Call as
    * `docStatsUdf(tokens(col), length(col))` so tokenization itself
    * stays the codegen'd `split` expression.
    */
  val docStatsUdf: UserDefinedFunction = udf {
    (ws: Seq[String], nChars: Option[Int]) =>
      if (ws == null || nChars.isEmpty) None
      else Some(computeDocStats(ws, nChars.get))
  }

  /** C4-style text normalization: strip URLs and e-mail addresses,
    * collapse whitespace runs, trim. Pure codegen'd `regexp_replace`
    * chain (RE2-compatible patterns — no backrefs/lookarounds), so the
    * pass stays inside whole-stage codegen and ports across engines.
    */
  def cleanText(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^ \\t\\n\\r]+", " ")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", " ")
    trim(regexp_replace(noEmail, "\\s+", " "))
  }

  /** Gopher-style repetition / formatting statistics (Rae et al. 2021
    * §A1 heuristics re-expressed): duplicate-line fraction, bullet- and
    * ellipsis-line fractions, symbol-to-word ratio, and the fraction of
    * token 2-grams taken by the single most frequent 2-gram. All
    * fractions are [[graft.Portable.round]]ed at 4 so the keep-rule can
    * threshold them portably.
    */
  final case class RepStats(n_lines: Int, dup_line_fraction: Double,
                            bullet_line_fraction: Double,
                            ellipsis_line_fraction: Double,
                            symbol_word_ratio: Double,
                            top_2gram_fraction: Double)

  /** Compiled single pass for [[RepStats]] — same pattern as
    * [[docStatsUdf]]: tokenization stays the codegen'd `split`
    * expression, everything else is one fused JVM loop per document
    * (interpreted higher-order expressions would re-walk lines/tokens
    * per metric). Call as `repStatsUdf(col(text), tokens(col(text)))`.
    */
  val repStatsUdf: UserDefinedFunction = udf { (text: String, ws: Seq[String]) =>
    if (text == null || ws == null) None
    else Some {
      val lines = text.split("\n", -1) // -1: keep trailing empty lines
      val nl = lines.length
      val dup = (nl - lines.distinct.length).toDouble / nl
      var bullets = 0
      var ellipsis = 0
      lines.foreach { l =>
        if (l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• "))
          bullets += 1
        if (l.endsWith("...") || l.endsWith("…")) ellipsis += 1
      }
      var sym = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == '#' || c == '…') sym += 1
        i += 1
      }
      val nTok = ws.length
      val symRatio = if (nTok == 0) 0.0 else sym.toDouble / nTok
      val nGrams = nTok - 1
      val topFrac =
        if (nGrams < 1) 0.0
        else {
          val counts = new java.util.HashMap[String, Integer]()
          var mx = 0
          var j = 0
          while (j < nGrams) {
            val g = ws(j) + " " + ws(j + 1)
            val c = counts.merge(g, 1, (a, b) => a + b)
            if (c > mx) mx = c
            j += 1
          }
          mx.toDouble / nGrams
        }
      RepStats(nl, round4(dup), round4(bullets.toDouble / nl),
        round4(ellipsis.toDouble / nl), round4(symRatio), round4(topFrac))
    }
  }

  /** Gopher-rule cleaning gate over [[repStatsUdf]]'s ROUNDED fields
    * (thresholding the rounded values keeps the keep/drop decision
    * engine-portable on knife-edge fractions).
    */
  def repetitionFilter(df: DataFrame, textCol: String,
                       maxDupLineFraction: Double = 0.3,
                       maxBulletFraction: Double = 0.9,
                       maxEllipsisFraction: Double = 0.3,
                       maxSymbolRatio: Double = 0.1,
                       maxTop2GramFraction: Double = 0.2): DataFrame = {
    val st = repStatsUdf(col(textCol), tokens(col(textCol)))
    df.withColumn("_rep", st)
      .where(col("_rep.dup_line_fraction") <= maxDupLineFraction &&
        col("_rep.bullet_line_fraction") <= maxBulletFraction &&
        col("_rep.ellipsis_line_fraction") <= maxEllipsisFraction &&
        col("_rep.symbol_word_ratio") <= maxSymbolRatio &&
        col("_rep.top_2gram_fraction") <= maxTop2GramFraction)
      .drop("_rep")
  }

  /** Quality-gate filter: the canonical pre-training cleaning pass —
    * keep documents in a token-count band, above a quality floor, and
    * (optionally) in an allowed predicted-language set. The whole gate
    * is ONE boolean-returning compiled pass per document (a
    * field-per-predicate form would re-evaluate the stats per predicate
    * inside a Filter, where codegen has no common-subexpression
    * elimination), and it skips the fingerprint's per-token md5 — the
    * gate never reads it. Composes with [[graft.llm.Dedup.dedupedCorpus]].
    */
  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int = 10, maxTokens: Int = 100000,
                    minQuality: Double = 0.5,
                    langs: Seq[String] = Nil): DataFrame = {
    val langSet = langs.toSet
    val gate = udf { (ws: Seq[String], nChars: Option[Int]) =>
      if (ws == null || nChars.isEmpty) false
      else {
        val st = computeDocStats(ws, nChars.get, withFingerprint = false)
        st.n_tokens >= minTokens && st.n_tokens <= maxTokens &&
          st.quality >= minQuality &&
          (langSet.isEmpty || langSet.contains(st.lang_pred))
      }
    }
    df.where(gate(tokens(col(textCol)), length(col(textCol))))
  }

  /** Corpus-trained unigram language-model score per document: the mean
    * log10 probability of the document's tokens under the corpus's own
    * unigram distribution — the classic cheap "perplexity-ish" quality
    * signal (low scores = rare-token-heavy documents: gibberish, code
    * dumps, boilerplate explosions).
    *
    * Two distributed passes: (1) vocabulary counts — one partial-agg
    * shuffle on token; (2) token→count equi-join + per-doc mean. The
    * Zipf-skewed join keys (stopwords) are exactly what AQE skew-join
    * handles; the count side is one row per DISTINCT token, so Spark
    * broadcasts it whenever the vocabulary fits (typical even at corpus
    * scale: vocab grows ~ log of corpus).
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
    val vocab = tok.groupBy(col("_w"))
      .agg(count(lit(1)).cast("double").as("_c"))
    val total = vocab.agg(sum(col("_c")).as("_n"))
    tok.join(vocab, Seq("_w"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        Portable.round(avg(log10(col("_c") / col("_n"))), 4).as("avg_logp"))
  }

  /** Corpus-trained interpolated bigram LM score: mean log10 of
    * λ·P(w_i|w_{i-1}) + (1−λ)·P(w_i) over each document's adjacent
    * token pairs (λ = 0.75) — a sharper perplexity proxy than
    * [[unigramLmScore]] (word-salad documents score low even when their
    * unigrams are common). Documents with fewer than 2 tokens are
    * absent.
    *
    * Scale: two count shuffles (unigram + bigram vocab) and the
    * pair→count joins; both joins are Zipf-skewed on frequent pairs —
    * AQE's skew-join handling applies, same note as q6C.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
    val vocab = tok.groupBy(col("_w")).agg(count(lit(1)).cast("double").as("_cw"))
    val total = vocab.agg(sum(col("_cw")).as("_n"))
    val pairs = df.select(col(idCol), tokens(col(textCol)).as("_ws"))
      .where(size(col("_ws")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(2), size(col("_ws"))),
        i => struct(element_at(col("_ws"), i - 1).as("w1"),
          element_at(col("_ws"), i).as("w2")))).as("_p"))
      .select(col(idCol), col("_p.w1").as("_w1"), col("_p.w2").as("_w2"))
    val bigrams = pairs.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).cast("double").as("_cb"))
    pairs
      .join(bigrams, Seq("_w1", "_w2"))
      .join(vocab.select(col("_w").as("_w1"), col("_cw").as("_c1")), Seq("_w1"))
      .join(vocab.select(col("_w").as("_w2"), col("_cw").as("_c2")), Seq("_w2"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        Portable.round(avg(log10(
          lit(0.75) * (col("_cb") / col("_c1")) +
            lit(1.0 - 0.75) * (col("_c2") / col("_n")))), 4).as("avg_logp"))
  }

  /** Flesch reading-ease score from portable regex counts: sentences =
    * `[.!?]+` runs, words = whitespace tokens, syllables = `[aeiouy]+`
    * vowel groups per word (the standard heuristic). All three counts
    * and the formula are plain codegen'd expressions with exact DuckDB
    * mirrors, so the score is oracle-checkable bit-for-bit. Zero-word /
    * zero-sentence docs floor the denominators at 1 (both engines).
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    */
  def readability(text: Column): Column = {
    val words = greatest(size(tokens(text)), lit(1)).cast("double")
    val sentences = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1)).cast("double")
    val syllables = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    lit(206.835) - lit(1.015) * (words / sentences) - lit(84.6) * (syllables / words)
  }

  /** Per-document readability frame (q7D): the raw counts + the score. */
  def readabilityStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(tokens(t)).as("n_words"),
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).as("n_sentences"),
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).as("n_syllables"),
      Portable.round(readability(t), 4).as("flesch"))
  }

  /** PII redaction: replace e-mail addresses and IPv4 literals with
    * typed placeholders. A pure codegen'd `regexp_replace` chain using
    * RE2-compatible patterns (no backrefs/lookarounds) so the pass runs
    * at scan speed AND ports verbatim to other engines — the redacted
    * bytes are oracle-checkable, not just the counts. E-mails are
    * replaced first so an address's host part is never half-matched as
    * an IP.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      ipv4Pattern, "[IP]")

  /** Per-document PII census + redacted-text digest (md5 of the
    * redacted bytes proves byte-exact redaction portability).
    */
  def piiStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      regexp_count(t, lit(emailPattern)).as("n_emails"),
      regexp_count(t, lit(ipv4Pattern)).as("n_ipv4"),
      length(redactPii(t)).as("redacted_len"),
      md5(redactPii(t)).as("redacted_md5"))
  }
}
