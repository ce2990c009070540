package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GraftFunctions._

/** Text-quality / language heuristics for LLM training-data pipelines —
  * extension surface (north star in BASELINE.json; not in the reference).
  * All pure Column expressions (codegen'd, no UDFs), so they run inside the
  * scan's WholeStageCodegen stage at 100 TB.
  */
object TextAnalysis {

  /** Per-language stopword seeds for the n-gram/stopword language heuristic.
    * Deliberately tiny: language ID here is a cheap router, not a classifier. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "was", "for", "with", "he", "she", "this"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "se", "no", "por", "con", "para", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "une", "du", "que", "est", "pour", "qui", "dans"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "sich", "des", "auf", "ist", "im", "nicht"),
    "it" -> Seq("il", "di", "che", "la", "e", "un", "per", "in", "una", "sono", "con", "del", "non", "le", "si"))

  /** Cleaned token array for [[langIdFromTokens]] — materialize as a column
    * first on corpora (Catalyst does no CSE across expression trees, so the
    * tokenize+clean pipeline would otherwise be recomputed once per language
    * plus once for the length guard). */
  def langTokens(text: Column): Column =
    transform(wsTokens(lower(text)), t => regexp_replace(t, "[^\\p{L}]", ""))

  /** Language ID from MATERIALIZED cleaned tokens: argmax of stopword-hit
    * ratio over [[Stopwords]], with a CJK-codepoint override on the raw text;
    * ties break alphabetically (struct array_max). */
  def langIdFromTokens(toks: Column, text: Column): Column = {
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val scored = Stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))
      struct((hits / nToks).as("score"), lit(lang).as("lang"))
    }
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]"))
    when(cjk * 2 > length(text), lit("cjk"))
      .otherwise(
        when(array_max(array(scored: _*)).getField("score") === 0.0, lit("und"))
          .otherwise(array_max(array(scored: _*)).getField("lang")))
  }

  /** One-shot convenience for short inputs; for corpora materialize
    * [[langTokens]] first. */
  def langId(text: Column): Column = langIdFromTokens(langTokens(text), text)

  /** Heuristic document-quality score in [0,1] — Gopher/C4-style cheap
    * filters folded into one number: word count band, mean word length band,
    * alpha ratio, punctuation density, repetition (distinct-token ratio).
    * Emitted raw (no rounding): every term is deterministic double arithmetic
    * in fixed order, so the score is bit-reproducible (and bit-comparable to a
    * SQL oracle evaluating the same expression). */
  def qualityScore(text: Column): Column = {
    val toks = wsTokens(text)
    val n = size(toks).cast("double")
    val chars = greatest(length(text), lit(1)).cast("double")
    val meanLen = when(n === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / greatest(n, lit(1.0)))
    val alphaRatio = regexp_count(text, lit("[A-Za-z]")).cast("double") / chars
    val punctRatio = regexp_count(text, lit("[\\p{Punct}]")).cast("double") / chars
    val distinctRatio = when(n === 0, 0.0)
      .otherwise(size(array_distinct(toks)).cast("double") / greatest(n, lit(1.0)))
    val lenScore = when(n >= 50 && n <= 100000, 1.0)
      .when(n >= 10, 0.6).when(n >= 3, 0.3).otherwise(0.0)
    val wordLenScore = when(meanLen >= 3 && meanLen <= 10, 1.0).otherwise(0.4)
    val punctScore = when(punctRatio <= 0.2, 1.0).otherwise(0.3)
    lenScore * 0.3 + wordLenScore * 0.2 + alphaRatio * 0.2 +
      punctScore * 0.1 + distinctRatio * 0.2
  }

  /** Fraction of non-empty (after trim) lines that are exact repeats of
    * another line in the same document — the first of the MassiveText
    * repetition filters (Gopher, Rae et al. 2021 appendix A1.1; boilerplate
    * and spam pages are line-repetition-heavy). Pure codegen Column:
    * split/trim/filter/distinct run inside the scan's WholeStageCodegen. */
  def dupLineFraction(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    val n = size(lines).cast("double")
    when(n === 0.0, lit(0.0))
      .otherwise((n - size(array_distinct(lines)).cast("double")) / n)
  }

  /** Per-document repetition signals + keep/drop verdict (Gopher-style):
    * `dup_line_frac` (see [[dupLineFraction]]) and `top_bigram_frac` — the
    * fraction of tokens covered by the single most frequent word bigram.
    * Documents failing either threshold are boilerplate/spam candidates.
    *
    * The per-doc bigram MODE can't be a per-row scalar without O(n·d) array
    * scans per document, so it's computed in the distributed shape that
    * survives 100 TB: explode to `(doc, bigram)` pairs, two map-side-
    * combinable aggregations (count per bigram, max per doc), then one
    * narrow-row join back to the per-doc scalars — token arrays never cross
    * a shuffle. Docs with <2 tokens have no bigrams and keep coverage 0.
    *
    * @return (doc_id, n_lines, n_tokens, dup_line_frac, top_bigram_cnt,
    *         top_bigram_frac, keep) — n_tokens rides along so downstream
    *         stages (e.g. sequence packing) can stay narrow instead of
    *         re-tokenizing the text
    */
  def repetitionStats(
      docs: DataFrame,
      id: String,
      text: String,
      maxDupLineFrac: Double = 0.30,
      maxTopBigramFrac: Double = 0.20): DataFrame = {
    // __lines materialized FIRST: Catalyst does no CSE across an expression
    // tree, so inlining the split/trim/filter chain into n_lines +
    // dup_line_frac would recompute it 5× per row (observed in the q63
    // physical plan before this column existed; CollapseProject keeps the
    // split since the chain is non-cheap)
    val base = docs
      .select(col(id).as("doc_id"), col(text).as("__text"))
      .withColumn("__lines",
        filter(transform(split(col("__text"), "\n"), l => trim(l)), l => length(l) > 0))
      .select(
        col("doc_id"),
        wsTokens(lower(col("__text"))).as("__toks"),
        size(col("__lines")).cast("long").as("n_lines"),
        when(size(col("__lines")) === 0, lit(0.0))
          .otherwise((size(col("__lines")).cast("double") -
            size(array_distinct(col("__lines"))).cast("double")) /
            size(col("__lines")).cast("double"))
          .as("dup_line_frac"))
    // narrow per-doc scalars only — the token arrays stay map-side
    val scalars = base.select(
      col("doc_id"), col("n_lines"), col("dup_line_frac"),
      size(col("__toks")).cast("long").as("n_tokens"))
    val top = base
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - 2),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(2))))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col("doc_id")).agg(max(col("__cnt")).as("top_bigram_cnt"))
    scalars.join(top, Seq("doc_id"), "left")
      .withColumn("top_bigram_cnt", coalesce(col("top_bigram_cnt"), lit(0L)))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(2.0) * col("top_bigram_cnt").cast("double") / col("n_tokens").cast("double")))
      .withColumn("keep",
        col("dup_line_frac") <= maxDupLineFrac && col("top_bigram_frac") <= maxTopBigramFrac)
      .select("doc_id", "n_lines", "n_tokens", "dup_line_frac",
        "top_bigram_cnt", "top_bigram_frac", "keep")
  }

  /** Full per-document stats row used by q16/q17. */
  def stats(text: Column): Seq[Column] = Seq(
    length(text).as("n_chars"),
    tokenCountWs(text).as("n_tokens_ws"),
    tokenCountBpeish(text).as("n_tokens_bpeish"))

  /** Per-document top-k salient terms by TF-IDF — the classic keyword /
    * topic-salience signal (corpus triage, near-dup explanation, quality
    * audits). Distributed shape for 100 TB: explode to narrow
    * `(doc_id, token)` pairs, two map-side-combinable aggregations (term
    * frequency per doc, document frequency over the already-distinct tf
    * rows), a vocabulary-keyed shuffle join of two NARROW frames (text never
    * crosses an Exchange), and a per-doc window for the top-k. The corpus
    * size joins in as a broadcast one-row frame — no driver-side action.
    *
    * idf here is the RAW ratio (N+1)/(df+1), not its logarithm: `ln` is not
    * guaranteed correctly-rounded and differs in the last ulp across engines
    * (libm vs Java Math.log), which would break bit-level score
    * reproducibility; +, /, × are IEEE correctly-rounded everywhere, so this
    * variant is bit-identical in any engine evaluating the same expression
    * shape. The ranking it induces differs from log-idf (it weights rarity
    * more aggressively) — swap in `log` for production ranking quality; the
    * plan shape is unchanged.
    *
    * @return (doc_id, rank, token, tf, df, score), rank 1..k per doc,
    *         ties broken by token ascending
    */
  def tfIdfTopK(docs: DataFrame, id: String, text: String, k: Int = 5): DataFrame = {
    val (out, release) = tfIdfTopKStaged(docs, id, text, k)
    val result = out.localCheckpoint(eager = true)
    release()
    result
  }

  /** The staged plan behind [[tfIdfTopK]], exposed for plan-shape auditing
    * (the public method checkpoints, which collapses the physical plan).
    * The tf frame feeds BOTH the df aggregate and the scoring join — staged
    * (persist + count) or the tokenize+explode text pass runs once per
    * consumer (no CSE across DataFrame reuse; the q78/q71 contract). */
  private[graft] def tfIdfTopKStaged(
      docs: DataFrame, id: String, text: String, k: Int): (DataFrame, () => Unit) = {
    val toks = docs.select(col(id).as("doc_id"),
      explode(filter(wsTokens(lower(col(text))), t => length(t) > 0)).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")).persist()
    tf.count(): Unit // materialize: exactly one pass over the text
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    val out = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs)) // one broadcast row — a constant, not a data join
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "score")
    (out, () => { tf.unpersist(false): Unit })
  }

  /** Per-document RARE-WORD-BIGRAM rate against the corpus's own bigram
    * counts — the word-level LM-style curation signal next to
    * [[charBigramCoverage]]'s character model: a document whose word bigrams
    * are mostly unseen elsewhere in the corpus is gibberish, OCR noise, or a
    * wrong-language stray (CCNet's KenLM-perplexity filter reduced to the
    * count statistics a SQL oracle can replay — same "why not perplexity"
    * argument as charBigramCoverage: `ln` + order-dependent float summation
    * are not bit-reproducible across engines; an integer rare-count plus ONE
    * correctly-rounded division is). A trained LM table would slot in where
    * the corpus count frame sits.
    *
    * Scale shape: tokens become PORTABLE 60-bit ids
    * ([[GraftFunctions.portableHash60]]) before anything shuffles — every
    * exchange carries (long, long) bigram keys, never strings (the q127
    * rule); the bigram frame is staged once (no-CSE contract) and feeds both
    * the corpus count aggregation and the scoring join; the final verdict is
    * one combinable per-doc aggregation. Bigram occurrences count with
    * multiplicity (a doc repeating one rare bigram is still novel text).
    *
    * @param rareMax a bigram is RARE when its corpus count is ≤ this (count
    *   includes the occurrence itself, so rareMax=1 = "unique to this doc")
    * @return (doc_id, n_bigrams, n_rare, novelty) for EVERY doc — <2-token
    *   docs carry n_bigrams=0, novelty=0.0 */
  def wordBigramNovelty(docs: DataFrame, id: String, text: String,
      rareMax: Long = 1L): DataFrame = {
    val ids = docs.select(col(id).as("doc_id"))
    val bg = docs
      .select(col(id).as("doc_id"),
        transform(wsTokens(lower(col(text))), portableHash60(_)).as("tids"))
      .filter(size(col("tids")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("tids")) - 2),
        i => struct(element_at(col("tids"), i + 1).as("w1"),
          element_at(col("tids"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .persist()
    bg.count(): Unit // materialize: exactly one tokenize+explode pass
    val counts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val per = bg.join(counts, Seq("w1", "w2"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
    val out = ids.join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("novelty", when(col("n_bigrams") === 0, lit(0.0))
        .otherwise(round(col("n_rare").cast("double") / col("n_bigrams").cast("double"), 6)))
    val result = out.localCheckpoint(eager = true)
    bg.unpersist(false): Unit
    result
  }

  /** BM25 top-k retrieval over the corpus for a FIXED query-term set — the
    * search face of the text stack (tf from the corpus, df-based rarity
    * weight, length normalization; Robertson & Spärck Jones as shipped in
    * every search engine). The idf keeps [[tfIdfTopK]]'s bit-reproducibility
    * rule: RAW ratio (n_docs − df + 0.5)/(df + 0.5), not its logarithm —
    * `ln` differs in the last ulp across engines; +, −, ×, / are IEEE
    * correctly-rounded everywhere. The per-doc score sums the (≤ a handful
    * of) query-term contributions in FIXED expression order via conditional
    * aggregation — never an arbitrary-order float sum.
    *
    * Shape: the token explode filters to the query terms IN THE SCAN
    * (map-side `isin` — the exchange carries only matching (doc, term)
    * rows); doc lengths are one combinable aggregation; corpus constants
    * (n_docs, total length) join as a broadcast one-row frame; the global
    * top-k is an orderBy-limit (TakeOrdered — no full sort at scale).
    *
    * @return (rank, doc_id, dl, score) — the k highest-scoring docs,
    *   ties broken by doc_id */
  def bm25TopK(docs: DataFrame, id: String, text: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      "bm25TopK: 1..16 query terms (contributions sum in fixed expression order)")
    val base = docs.select(col(id).as("doc_id"),
      wsTokens(lower(col(text))).as("toks"))
    val dl = base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .persist()
    dl.count(): Unit // one tokenize pass: feeds constants AND the score join
    val consts = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(consts))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl").cast("double") /
              (col("sum_dl").cast("double") / col("n_docs").cast("double"))))))
    // fixed-order sum: one conditional-agg column per query term, added in
    // declaration order — bit-identical in any engine mirroring the shape
    val aggs = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib"))).as(s"__c$i")
    }
    val per = scored.groupBy("doc_id", "dl").agg(aggs.head, aggs.tail: _*)
    val score = queryTerms.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val topk = per.withColumn("score", round(score, 6))
      .select(col("doc_id"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    val out = topk.withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "dl", "score")
    val result = out.localCheckpoint(eager = true)
    dl.unpersist(false): Unit
    result
  }

  /** Per-document character-bigram coverage against the corpus's `topN` most
    * frequent bigrams — a cheap LM-style fluency proxy (CCNet filters on
    * KenLM perplexity; this is the same shape with a degenerate unigram-of-
    * bigrams "model", and the seam where a real LM table would plug in:
    * replace `top` with scored n-grams). Gibberish, wrong-charset and
    * boilerplate-symbol documents score low; fluent prose in the corpus's
    * dominant languages scores near 1.
    *
    * Why coverage and not perplexity: perplexity sums `ln p` terms —
    * transcendentals plus order-dependent float summation, neither
    * bit-reproducible across engines. An in-top-N count ratio is integer
    * algebra plus ONE correctly-rounded division.
    *
    * Shape: ONE pass over the text — explode + groupBy(doc, bigram) into a
    * narrow persisted count frame (Catalyst has no CSE across DataFrame
    * reuse, so without staging the corpus would re-explode once per
    * consumer; measured 20 s → ~3 s at sf0.1). Everything downstream is
    * algebra on that frame: corpus model = second-level aggregation, top-N
    * via ordered take, broadcast semi-join membership (the model table is
    * vocabulary-sized — broadcast by construction), per-doc totals =
    * sum of counts. Result is checkpointed and the staging released before
    * returning (the session-hygiene contract every staged operator here
    * follows).
    *
    * @return (doc_id, n_bigrams, n_in_top, coverage) — n_bigrams from the
    *         count frame, so a length≤2 doc contributes its whole text as
    *         one "bigram" (mirrored in the q78 oracle)
    */
  def charBigramCoverage(docs: DataFrame, id: String, text: String, topN: Int = 500): DataFrame = {
    val (out, release) = charBigramCoverageStaged(docs, id, text, topN)
    val result = out.localCheckpoint(eager = true)
    release()
    result
  }

  /** The staged plan behind [[charBigramCoverage]], exposed for plan-shape
    * auditing (the public method checkpoints, which collapses the physical
    * plan to an RDD scan). Returns the LAZY result and the staging release. */
  private[graft] def charBigramCoverageStaged(
      docs: DataFrame, id: String, text: String, topN: Int): (DataFrame, () => Unit) = {
    val counts = docs
      .select(col(id).as("doc_id"), explode(charNgrams(lower(col(text)), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .persist()
    counts.count(): Unit // materialize: exactly one pass over the text
    val top = counts.groupBy("bg").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("bg").asc).limit(topN).select("bg")
    val perDoc = counts.groupBy("doc_id").agg(sum(col("cnt")).as("n_bigrams"))
    val inTop = counts.join(broadcast(top), Seq("bg"), "leftsemi")
      .groupBy("doc_id").agg(sum(col("cnt")).as("n_in_top"))
    val out = perDoc
      .join(inTop, Seq("doc_id"), "left")
      .withColumn("n_in_top", coalesce(col("n_in_top"), lit(0L)))
      .withColumn("coverage",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("n_in_top").cast("double") / col("n_bigrams").cast("double")))
      .select("doc_id", "n_bigrams", "n_in_top", "coverage")
    (out, () => { counts.unpersist(false): Unit })
  }

  /** CROSS-DOCUMENT boilerplate line removal — the MassiveText/CCNet
    * paragraph-dedup rule that [[dupLineFraction]] (within-doc) and
    * `Dedup.duplicateSpans` (detection) stop short of: a LINE whose trimmed
    * content appears in MORE THAN `maxDocs` DISTINCT documents is template
    * chrome (nav bars, cookie banners, footers), and every occurrence is
    * REMOVED from every document, preserving the order of what remains.
    * Lines empty after trimming are never boilerplate (structure, not
    * content).
    *
    * Shape at 100 TB — text enters NO exchange at any point:
    *
    *  1. one narrow pipeline computes the boilerplate vocabulary: lines
    *     hash to portable 60-bit ids map-side, (doc, id)-distinct → df
    *     count → `df > maxDocs`;
    *  2. that vocabulary is SMALL BY DEFINITION (each surviving id accounts
    *     for > `maxDocs` documents, so |vocabulary| < Σ line instances /
    *     maxDocs — the BM25 stop-term argument applied to lines). It is
    *     collected under a hard cap (`maxBoilerLines`, fail-loud overflow:
    *     raise `maxDocs` or the cap) and embedded as a LITERAL sorted
    *     array;
    *  3. the rewrite is then a MAP-ONLY second pass over the docs: re-hash
    *     each line in the scan, `array_contains` against the literal
    *     vocabulary, filter + rejoin — no join, no shuffle, no driver loop.
    *
    * The whole decision is engine-portable (trim + 60-bit md5 + integer
    * df), so an oracle replays removal AND reconstruction byte-for-byte.
    *
    * @return (doc_id, n_lines, n_removed, clean_text) — n_lines counts all
    *   split lines including empty ones */
  def removeBoilerplateLines(docs: DataFrame, id: String, text: String,
      maxDocs: Long, maxBoilerLines: Int = 4096): DataFrame = {
    require(maxDocs >= 1L, s"maxDocs must be >= 1, got $maxDocs")
    val lined = docs.select(col(id).cast("long").as("doc_id"),
      split(col(text), "\n").as("__lines")).persist()
    lined.count(): Unit // ONE split pass feeds the df count AND the rewrite
    val ids = lined
      .select(col("doc_id"), explode(col("__lines")).as("line"))
      .select(col("doc_id"), trim(col("line")).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(col("doc_id"), GraftFunctions.portableHash60(col("__t")).as("line_id"))
      .distinct()
      .groupBy("line_id").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("line_id").limit(maxBoilerLines + 1)
      .collect().map(_.getLong(0))
    require(ids.length <= maxBoilerLines,
      s"boilerplate vocabulary exceeds $maxBoilerLines lines — raise maxDocs " +
        "(the df cut) or maxBoilerLines (the literal-array cap)")
    val boiler = typedlit(ids.sorted.toSeq)
    def isBoiler(l: Column): Column =
      length(trim(l)) > 0 &&
        array_contains(boiler, GraftFunctions.portableHash60(trim(l)))
    val out = lined.select(
      col("doc_id"),
      size(col("__lines")).cast("long").as("n_lines"),
      size(filter(col("__lines"), l => isBoiler(l))).cast("long").as("n_removed"),
      array_join(filter(col("__lines"), l => !isBoiler(l)), "\n").as("clean_text"))
    val result = out.localCheckpoint(eager = true)
    lined.unpersist(false): Unit
    result
  }

  /** CCNet PARAGRAPH dedup (Wenzek '20 §3.1 — the step CCNet actually
    * dedups by): every paragraph that occurs more than once in the corpus
    * keeps exactly its CANONICAL occurrence — min (doc_id, position) — and
    * every other occurrence is cut, including repeats within one document.
    * This differs from both whole-doc dedup (a doc half-copied from another
    * survives doc-level Jaccard) and [[removeBoilerplateLines]] (which cuts
    * template lines EVERYWHERE; here duplicated content survives exactly
    * once, content is not destroyed).
    *
    * Scale shape: paragraphs hash to 60-bit ids, so the occurrence frame
    * that shuffles is narrow (pid, doc_id, pos); winners = one min-struct
    * aggregate per pid (map-side combinable). The rewrite joins back only
    * the REMOVALS (non-canonical occurrences of duplicated paragraphs — a
    * dedup-rate-proportional frame, usually ≪ corpus, AQE broadcasts it
    * while it fits); the paragraph text itself re-splits map-side from the
    * staged doc frame. A corpus rewrite's output is corpus-sized, so when
    * the removal set outgrows broadcast the one doc-keyed exchange is the
    * honest floor — what gets minimized is what RIDES it (positions, never
    * paragraph strings).
    *
    * Whitespace-only paragraphs carry no content and are never removed
    * (they are formatting); the 60-bit hash-merge caveat is the
    * [[graft.dedup.Dedup.prefixFilterJaccard]] one, oracle-mirrored.
    *
    * @return (doc_id, n_paras, n_removed, clean_text) */
  def dedupParagraphs(docs: DataFrame, id: String, text: String): DataFrame = {
    val parad = docs.select(col(id).cast("long").as("doc_id"),
      split(col(text), "\n\n").as("__paras")).persist()
    parad.count(): Unit // ONE split pass feeds the winner pass AND the rewrite
    val occ = parad
      .select(col("doc_id"), posexplode(col("__paras")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"),
        when(length(trim(col("para"))) > 0,
          GraftFunctions.portableHash60(trim(col("para")))).as("pid"))
      .filter(col("pid").isNotNull)
    val dupWinners = occ
      .groupBy("pid")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("pid"), col("w"))
    val removals = occ.join(dupWinners, Seq("pid"))
      .filter(!(col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("rm_pos"))
    val out = parad.join(removals, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("rm_pos"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("__paras")).cast("long").as("n_paras"),
        size(col("__rm")).cast("long").as("n_removed"),
        array_join(filter(col("__paras"), (_, i) => !array_contains(col("__rm"), i)),
          "\n\n").as("clean_text"))
    val result = out.localCheckpoint(eager = true)
    parad.unpersist(false): Unit
    result
  }

  /** Bootstrap the persisted PARAGRAPH index for
    * [[dedupParagraphsIncremental]]: distinct trimmed-paragraph hashes of
    * the settled corpus — pure membership, the
    * [[graft.dedup.Dedup.buildSpanIndex]] shape at paragraph granularity
    * (this is what CCNet actually maintains between crawl snapshots). */
  def buildParagraphIndex(docs: DataFrame, id: String, text: String,
      indexPath: String): Unit =
    graft.core.IndexLifecycle.writeIndexBatch(
      paragraphIds(docs, id, text).select(col("pid")).distinct(),
      indexPath, "base", wholeIndex = true)

  /** Incremental CCNet paragraph dedup — the crawl-snapshot flow: a new
    * batch loses every paragraph the INDEXED corpus already contains, plus
    * non-canonical repeats within the batch (min (doc_id, pos) is the
    * batch-local canonical); the batch's raw paragraph hashes fold into
    * `batch=` partitions (seen = seen even when cut), replay-safe via the
    * partition-exclusion read.
    *
    * @return (doc_id, n_paras, n_removed, clean_text) for the batch */
  def dedupParagraphsIncremental(newDf: DataFrame, id: String, text: String,
      indexPath: String, batchId: String): DataFrame =
      graft.core.IndexLifecycle.withIndexWriter(indexPath) {
    // full-span writer lock — the Dedup.minhashLshIncremental rationale
    import graft.core.IndexLifecycle
    val spark = newDf.sparkSession
    val parad = newDf.select(col(id).cast("long").as("doc_id"),
      split(col(text), "\n\n").as("__paras")).persist()
    parad.count(): Unit
    val occ = parad
      .select(col("doc_id"), posexplode(col("__paras")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"),
        when(length(trim(col("para"))) > 0,
          GraftFunctions.portableHash60(trim(col("para")))).as("pid"))
      .filter(col("pid").isNotNull)
      .persist()
    occ.count(): Unit

    val indexed = IndexLifecycle.readIndexTable(spark, indexPath)
      .filter(col("batch") =!= lit(batchId)).select(col("pid"))
    val hitOld = occ.join(indexed, Seq("pid"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val batchWinners = occ.groupBy("pid")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select(col("pid"), col("w"))
    val hitNew = occ.join(batchWinners, Seq("pid"))
      .filter(!(col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")))
      .select(col("doc_id"), col("pos"))

    val removals = hitOld.unionByName(hitNew).distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("rm_pos"))
    val out = parad.join(removals, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("rm_pos"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("__paras")).cast("long").as("n_paras"),
        size(col("__rm")).cast("long").as("n_removed"),
        array_join(filter(col("__paras"), (_, i) => !array_contains(col("__rm"), i)),
          "\n\n").as("clean_text"))

    val p = out.localCheckpoint(eager = true)
    IndexLifecycle.writeIndexBatch(occ.select(col("pid")).distinct(), indexPath, batchId)
    occ.unpersist(false): Unit
    parad.unpersist(false): Unit
    p
  }

  /** Fold the paragraph index's batches into one deduplicated generation. */
  def compactParagraphIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    graft.core.IndexLifecycle.compactBatchedDir(spark, indexPath, transform = _.distinct())

  private def paragraphIds(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).cast("long").as("doc_id"),
        posexplode(split(col(text), "\n\n")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"),
        when(length(trim(col("para"))) > 0,
          GraftFunctions.portableHash60(trim(col("para")))).as("pid"))
      .filter(col("pid").isNotNull)
}
