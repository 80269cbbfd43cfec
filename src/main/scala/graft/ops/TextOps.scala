package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Text-analysis operators for training-data pipelines: tokenization, token
 * counting, quality scoring, language ID, and document fingerprinting.
 *
 * Everything is built from codegen'd `functions._` array/string expressions —
 * no UDFs — so a 100 TB document scan stays in one WholeStageCodegen stage
 * with column pruning intact. All arithmetic is integer-derived (counts and
 * ratios of counts), which makes results bit-identical across engines: the
 * DuckDB oracles replay the same formulas.
 */
object TextOps {

  /** Lowercased alphanumeric word tokens. */
  /** Lowercased `[a-z0-9]`-run tokens — native compiled expression (the
    * `filter(split(lower(...)))` form ran its length-filter lambda
    * interpreted per token). */
  def tokens(text: Column): Column =
    graft.plans.GraftExpressions.tokenize_alnum(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: words + standalone punctuation marks — the usual
    * cheap proxy for subword-tokenizer load estimates. RE2-safe pattern (no
    * lookaround) so the DuckDB oracle can replay it. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Characters surviving an alnum+space filter — for punctuation ratio. */
  private def alnumLen(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Count of tokens contained in `words`. */
  /** Occurrences (with multiplicity) of `words` among the text's tokens —
    * native compiled expression; see graft.plans.StopwordCount for why the
    * `size(filter(tokens, or-chain))` form was a per-token interpreted
    * lambda. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    graft.plans.GraftExpressions.stopword_count(text, words)

  /**
   * Quality metrics (length / punctuation / stopword ratios) + a combined
   * score in [0,1]. Ratios are exact rational values (int/int); the score is
   * floor-quantized to 6 dp so any engine computing the same rationals
   * produces the identical double.
   */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val nStop = stopwordCount(text, EnglishStopwords)
    val punctRatio = (nChars - alnumLen(text)).cast("double") /
      greatest(nChars, lit(1)).cast("double")
    val stopRatio = nStop.cast("double") / greatest(nTokens, lit(1)).cast("double")
    val lenScore = least(nTokens, lit(100)).cast("double") / lit(100.0)
    val score =
      floor((lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punctRatio) +
        lit(0.3) * least(stopRatio * 5, lit(1.0))) * 1e6) / 1e6
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nTokens.cast("long"),
      "n_stopwords" -> nStop.cast("long"),
      "punct_ratio" -> (floor(punctRatio * 1e6) / 1e6),
      "stop_ratio" -> (floor(stopRatio * 1e6) / 1e6),
      "quality_score" -> score)
  }

  def withQuality(df: DataFrame, textCol: String): DataFrame =
    qualityColumns(col(textCol)).foldLeft(df) { case (acc, (name, c)) =>
      acc.withColumn(name, c)
    }

  /**
   * Categorized blocklist/keyword gate — the wordlist filter every web
   * corpus pipeline runs (C4 dropped pages containing "List-of-Dirty-...
   * -Words" terms; production lists carry thousands of terms across
   * categories like adult/violence/spam). Per document: hits with
   * multiplicity per category, the dominant category, and a blocked flag
   * when hits exceed `maxHitsPerMTokens` per million tokens (an exact
   * integer cross-multiplication — no division, no floats).
   *
   * Scale shape: the token explode rides the scan stage; the blocklist is
   * a BROADCAST join build side (a million-term list is ~tens of MB — never
   * shuffle the corpus for it); both groupBys are combine-enabled with
   * doc-bounded fan-out; the final census is one equi-join on the id. A
   * per-category or-chain expression would inline the list into codegen —
   * right for tens of terms, unviable for production lists, so the join
   * form is the canonical one.
   *
   * Determinism: dominant category = most hits, ties to the
   * lexicographically smallest category (min over (-hits, category) — a
   * total order). Null texts are the caller's filter (size(null) is -1 in
   * Spark but NULL in SQL engines — an audit row for no text is noise).
   *
   * Output: (doc_id, n_tokens, n_hits, n_categories, top_category
   * ('' when clean), blocked 0/1).
   */
  def blocklistAudit(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[(String, String)],
      maxHitsPerMTokens: Long): DataFrame = {
    require(blocklist.nonEmpty, "blocklistAudit needs a non-empty blocklist")
    require(maxHitsPerMTokens >= 0,
      s"maxHitsPerMTokens must be >= 0, got $maxHitsPerMTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = blocklist.toDF("term", "category")
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
    val hits = base
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .join(broadcast(terms), "term")
      .groupBy("doc_id", "category").agg(count(lit(1)).as("hits"))
    val perDoc = hits.groupBy("doc_id").agg(
      sum("hits").as("n_hits"),
      count(lit(1)).as("n_categories"),
      min(struct((-col("hits")).as("neg"), col("category").as("cat")))
        .as("w"))
    base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_categories"), lit(0L)).as("n_categories"),
        coalesce(col("w.cat"), lit("")).as("top_category"),
        (coalesce(col("n_hits"), lit(0L)) * lit(1000000L) >
          lit(maxHitsPerMTokens) * col("n_tokens")).cast("long")
          .as("blocked"))
  }

  /** Within-document repetition (the Gopher/C4-style duplicate-n-gram gate):
    * per doc, `dup_ratio = 1 - distinct_ngrams / total_ngrams` over word
    * n-grams — boilerplate and looped generations score high, natural prose
    * near 0. Distributed shape: the compiled shingle flatMap WITH duplicates
    * kept, then one count/count-distinct shuffle on doc_id; the ratio is one
    * bigint→double division + subtraction (cross-engine exact). */
  /**
   * C4-style sentence-level cleaning (Raffel et al. 2020, arXiv:1910.10683
   * §2.2 — the "Colossal Clean Crawled Corpus" rules, at sentence
   * granularity): keep only sentences that END IN TERMINAL PUNCTUATION
   * (encoded by the extraction pattern itself — a trailing un-punctuated
   * fragment is never extracted), contain at least `minWords` word tokens,
   * and mention no blacklisted phrase (case-insensitive); a document
   * survives when at least `minSentences` sentences remain. Output:
   * (id, n_sentences, n_kept, clean_text) with `clean_text` the surviving
   * sentences trimmed and re-joined.
   *
   * Distributed shape: ONE scan-stage projection + a scan predicate — no
   * shuffle, no UDF. Sentence extraction is a single RE2-safe
   * `regexp_extract_all` (no lookaround, so the DuckDB oracle replays the
   * identical pattern), and the per-sentence lambdas run on |doc|/sentence
   * elements; the word count inside them reuses the native compiled
   * tokenizer.
   */
  /** The default sentence extractor for [[c4SentenceClean]]: maximal
    * terminal-punctuated chunks. A trailing fragment with no `.`/`!`/`?`
    * is simply never matched — C4's "lines must end in terminal
    * punctuation" rule falls out of the pattern. */
  def terminalPunctSentences(text: Column): Column =
    regexp_extract_all(text, lit("[^.!?]+[.!?]"), lit(0))

  def c4SentenceClean(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 3, minSentences: Int = 2,
      blacklist: Seq[String] = Seq("javascript", "lorem ipsum", "cookie"),
      sentencesOf: Column => Column = terminalPunctSentences)
      : DataFrame = {
    require(minWords >= 1 && minSentences >= 0,
      s"minWords=$minWords, minSentences=$minSentences out of range")
    val sents = sentencesOf(col(textCol))
    val keptArr = filter(sents, s =>
      blacklist.map(b => !lower(s).contains(b))
        .foldLeft(size(tokens(s)) >= minWords)(_ && _))
    df.select(col(idCol),
        size(sents).cast("long").as("n_sentences"),
        size(keptArr).cast("long").as("n_kept"),
        array_join(transform(keptArr, s => trim(s)), " ").as("clean_text"))
      .filter(col("n_kept") >= minSentences)
  }

  def dupNgramRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    graft.ops.Dedup.shingleTable(df, idCol, textCol, n, keepDuplicates = true)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        count_distinct(col("shingle")).as("n_distinct"))
      .withColumn("dup_ratio", lit(1.0) -
        col("n_distinct").cast("double") / col("n_ngrams").cast("double"))

  /** Language marker words — tiny per-language stopword lists for the n-gram
    * heuristic language ID. Order = tie-break precedence. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "de" -> Seq("der", "die", "und", "das", "ein", "zu", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "est", "que"),
    "zh" -> Nil) // CJK detected by script, not stopwords

  /**
   * Heuristic language ID: CJK script presence wins outright; otherwise the
   * language with the highest marker-word hit count (earlier language wins
   * ties; all-zero -> "und"). Deterministic, exactly replayable in SQL.
   */
  def langId(text: Column): Column = {
    val hasCjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0
    val counts = LangMarkers.filter(_._2.nonEmpty).map { case (lang, words) =>
      lang -> stopwordCount(text, words)
    }
    val best = counts.foldRight(lit("und")) { case ((lang, cnt), alt) =>
      // strictly greater than every EARLIER language's count, >= later ones
      val earlier = counts.takeWhile(_._1 != lang).map(_._2)
      val later = counts.dropWhile(_._1 != lang).drop(1).map(_._2)
      val wins = (earlier.map(cnt > _) ++ later.map(cnt >= _) :+ (cnt > 0))
        .reduce(_ && _)
      when(wins, lang).otherwise(alt)
    }
    when(hasCjk, "zh").otherwise(best)
  }

  // PII patterns: deliberately RE2-safe (no lookaround, no backreferences)
  // so the same pattern text runs identically under Spark's Java regex and
  // the DuckDB oracle's RE2 — and stays linear-time on adversarial inputs.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing for training text: emails, NANP-style phone numbers and
    * IPv4 literals replaced with typed placeholder tokens. Order matters:
    * emails first (their local parts may contain digit runs), then phones,
    * then IPs — each later pattern sees the previous replacements. Pure
    * codegen'd `regexp_replace` chain: one projection, no UDF, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]"),
      Ipv4Pattern, "[IP]")

  /** Per-document PII hit counts + the redacted text — the audit columns a
    * scrubbing pipeline writes next to its output. Each count is taken on
    * the text as the corresponding `redactPii` stage sees it (post the
    * earlier replacements), so counts always agree with what was redacted. */
  def piiColumns(text: Column): Seq[(String, Column)] = {
    val postEmail = regexp_replace(text, EmailPattern, "[EMAIL]")
    val postPhone = regexp_replace(postEmail, PhonePattern, "[PHONE]")
    Seq(
      "n_emails" -> regexp_count(text, lit(EmailPattern)).cast("long"),
      "n_phones" -> regexp_count(postEmail, lit(PhonePattern)).cast("long"),
      "n_ips" -> regexp_count(postPhone, lit(Ipv4Pattern)).cast("long"),
      "redacted" -> redactPii(text))
  }

  /** Non-overlapping `n`-token tiles of each document, with their ordinal:
    * (doc_id, idx, tile). The trailing partial tile is kept; an empty or
    * null document yields one empty tile so the doc survives reassembly.
    * Typed `flatMap` like `Dedup.shingleTable` (compiled `grouped(n)` beats
    * the interpreted HOF chain; same tokenizer). */
  def tileTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    import org.apache.spark.sql.Row
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      StructField("doc_id", idField.dataType, idField.nullable),
      StructField("idx", IntegerType, false),
      StructField("tile", org.apache.spark.sql.types.StringType)))
    df.select(col(idCol).as("doc_id"), col(textCol).cast("string").as("text"))
      .flatMap { r =>
        val id = r.get(0)
        val toks =
          if (r.isNullAt(1)) Array.empty[String]
          else graft.plans.TokenizeAlnum.tokensOf(r.getString(1))
        if (toks.isEmpty) Iterator.single(Row(id, 0, ""))
        else toks.grouped(n).zipWithIndex
          .map { case (g, i) => Row(id, i, g.mkString(" ")) }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /**
   * Corpus-wide repeated-span removal — the C4/RefinedWeb-style boilerplate
   * gate at span granularity: any n-token tile occurring in >= `minDf`
   * documents-positions across the corpus (headers, footers, license
   * blurbs, templated spans) is cut from every document, and documents are
   * reassembled from their remaining tiles in order. Output:
   * (doc_id, clean_text, n_tiles, n_removed).
   *
   * Scale shape: one shuffle counts tile frequencies (map-side combined);
   * the HOT tile set — boilerplate is by definition a tiny distinct set —
   * is broadcast as a left-outer marker join, so the corpus-sized tile
   * stream is never shuffled for the filter; ONE final shuffle on doc_id
   * computes totals, removed counts and reassembly together (a
   * kept-vs-total two-aggregate formulation would aggregate the corpus
   * twice and then join two corpus-sized results).
   */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    val tiles = tileTable(df, idCol, textCol, n)
    val hot = broadcast(tiles.groupBy("tile")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("tile")
      .withColumn("__hot", lit(true)))
    tiles.join(hot, Seq("tile"), "left_outer")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tiles"),
        count(col("__hot")).as("n_removed"),
        // collect_list drops nulls: only kept tiles enter the reassembly
        array_join(transform(
          array_sort(collect_list(
            when(col("__hot").isNull, struct(col("idx"), col("tile"))))),
          x => x.getField("tile")), " ").as("clean_text"))
      .select(col("doc_id"), col("clean_text"), col("n_tiles"),
        col("n_removed"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1) per document:
    * line-level duplication plus top/duplicate n-gram character fractions.
    * Output: (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    * top{topN}gram_char_frac, dup{dupN}gram_char_frac); every fraction is an
    * int/int rational floor-quantized to 6 dp (cross-engine exact).
    *
    * `linesOf` supplies the document's lines; real corpora pass
    * `split(col(text), "\n")`. The fixture documents are single-line, so the
    * catalog derives deterministic pseudo-lines (fixed-width token tiles)
    * instead. A null/empty document contributes one empty line.
    *
    * Distributed shape — ONE corpus scan, ZERO shuffles: the line metrics
    * are scan-stage array expressions (per-line lambdas run on |doc|/tile
    * elements, not per token), and the gram statistics are computed in the
    * SAME pass by a typed map with a per-document hash count — gram counts
    * with multiplicity are doc-LOCAL facts, so routing every (doc, n, gram)
    * occurrence through a corpus-wide two-level aggregate (the previous
    * shape, the suite's most expensive query) shuffled the entire gram
    * stream to compute numbers each scan task already had. State is bounded
    * by one document's distinct grams — the same per-doc bound as the
    * island-merge window in [[duplicatedSpans]] — and the doc-granular
    * outputs (4 longs) reduce in the map itself. Values are bit-identical:
    * same tokenizer, same short-text/null fallbacks as
    * [[graft.ops.Dedup.shingleTableMulti]], char counts by code point
    * (Spark `length` semantics), and the final fractions use the identical
    * cast-divide-floor expression tree. */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      linesOf: Column => Column, topN: Int = 2, dupN: Int = 3): DataFrame = {
    def q6(c: Column): Column = floor(c * 1e6) / 1e6
    val lines_ = linesOf(col(textCol))
    val dist = array_distinct(lines_)
    val lineChars = aggregate(lines_, lit(0L),
      (acc, x) => acc + coalesce(length(x).cast("long"), lit(0L)))
    val distChars = aggregate(dist, lit(0L),
      (acc, x) => acc + coalesce(length(x).cast("long"), lit(0L)))
    val pre = df.select(
      col(idCol).as("doc_id"),
      col(textCol).cast("string").as("text"),
      size(lines_).cast("long").as("n_lines"),
      q6((size(lines_) - size(dist)).cast("double") /
        size(lines_).cast("double")).as("dup_line_frac"),
      q6((lineChars - distChars).cast("double") /
        greatest(lineChars, lit(1L)).cast("double")).as("dup_line_char_frac"))
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      StructField("doc_id", idField.dataType, idField.nullable),
      StructField("n_lines", org.apache.spark.sql.types.LongType),
      StructField("doc_dup_line_frac", org.apache.spark.sql.types.DoubleType),
      StructField("doc_dup_line_char_frac",
        org.apache.spark.sql.types.DoubleType),
      StructField("top_chars", org.apache.spark.sql.types.LongType),
      StructField("top_total", org.apache.spark.sql.types.LongType),
      StructField("dup_chars", org.apache.spark.sql.types.LongType),
      StructField("dup_total", org.apache.spark.sql.types.LongType)))
    val stats = pre.map { r =>
      val toks: Array[String] =
        if (r.isNullAt(1)) Array.empty
        else graft.plans.TokenizeAlnum.tokensOf(r.getString(1))
      // (max cnt*chars, total cnt*chars, dup cnt*chars) for word n-grams
      // WITH multiplicity; short/null docs fall back to the single joined
      // gram, exactly like shingleTableMulti
      def gramStats(n: Int): (Long, Long, Long) = {
        val counts = new java.util.HashMap[String, Long]()
        if (toks.length >= n) {
          val it = toks.sliding(n)
          while (it.hasNext)
            counts.merge(it.next().mkString(" "), 1L, (a, b) => a + b)
        } else counts.put(toks.mkString(" "), 1L)
        var mx = 0L; var tot = 0L; var dup = 0L
        val e = counts.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          val g = kv.getKey; val c = kv.getValue
          val cc = c * g.codePointCount(0, g.length)
          tot += cc
          if (cc > mx) mx = cc
          if (c > 1L) dup += cc
        }
        (mx, tot, dup)
      }
      val (tMax, tTot, tDup) = gramStats(topN)
      val (_, dTot, dDup) =
        if (dupN == topN) (tMax, tTot, tDup) else gramStats(dupN)
      Row(r.get(0), r.get(2), r.get(3), r.get(4), tMax, tTot, dDup, dTot)
    }(org.apache.spark.sql.Encoders.row(outSchema))
    stats.select(col("doc_id"), col("n_lines"),
      col("doc_dup_line_frac").as("dup_line_frac"),
      col("doc_dup_line_char_frac").as("dup_line_char_frac"),
      q6(col("top_chars").cast("double") /
        greatest(col("top_total"), lit(1L)).cast("double"))
        .as(s"top${topN}gram_char_frac"),
      q6(col("dup_chars").cast("double") /
        greatest(col("dup_total"), lit(1L)).cast("double"))
        .as(s"dup${dupN}gram_char_frac"))
  }

  /**
   * ExactSubstr-style duplicated-span detection (Lee et al. 2022,
   * arXiv:2107.06499 — there via suffix arrays; here the distributed
   * formulation): a token position participates in a duplicate when its
   * n-gram occurs at >= 2 positions anywhere in the corpus (within- or
   * cross-document, like ExactSubstr); maximal RUNS of consecutive
   * duplicated positions in a document merge into spans, reported when at
   * least `minSpan` tokens long. Output: (doc_id, span_start, span_len) in
   * token units — the regions a training pipeline masks or cuts.
   *
   * Scale shape — the property that makes this tractable where pairwise
   * span attribution is not: positions are only MARKED (gram frequencies
   * via `groupBy(shingle).count` — map-side partial aggregation — then an
   * equi-join back onto the position table), so a boilerplate gram at a
   * million positions costs a million marks, never a million-squared pair
   * explosion. Deliberately NOT a `count over (partition by shingle)`
   * window: that buffers every position of one gram in a single task — a
   * header gram with 10^8 occurrences at 100 TB is one spilling straggler —
   * whereas the aggregate combines map-side and AQE's skew-join splits a
   * hot gram's join side. The island merge is one doc_id-keyed window
   * (`pos - row_number()` run grouping). Granularity is the gram size:
   * duplicated regions shorter than `n` are invisible here and belong to
   * exact/minhash dedup.
   */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minSpan: Int): DataFrame = {
    require(minSpan >= n, s"minSpan=$minSpan must be >= gram size n=$n")
    import org.apache.spark.sql.expressions.Window
    // Positions carry the 60-bit gram hash, not the gram string: the
    // frequency groupBy and the mark-join shuffle 8-byte keys instead of
    // ~10·n-char grams (equality is exact up to md5 collisions, the same
    // convention as every hashed shingle set here). Materialized because
    // both the frequency aggregate and the join probe it — without this
    // the corpus would tokenize twice.
    val pos = graft.ops.Dedup.materialized(
      graft.ops.Dedup.shingleTablePos(df, idCol, textCol, n)
        .select(col("doc_id"), col("pos"),
          graft.plans.GraftExpressions.md5_prefix60(col("shingle")).as("h")))
    val dupGrams = pos.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h")
    val dup = pos.join(dupGrams, Seq("h")).drop("h")
    val iw = Window.partitionBy("doc_id").orderBy("pos")
    dup.withColumn("grp", col("pos") - row_number().over(iw))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (count(lit(1)) + (n - 1)).as("span_len"))
      .filter(col("span_len") >= minSpan)
      .select("doc_id", "span_start", "span_len")
  }

  /**
   * Apply [[duplicatedSpans]]: cut every detected span's tokens from every
   * document and reassemble — ExactSubstr dedup actually performed (Lee et
   * al. 2022 cut duplicated substrings over 50 tokens; `minSpan` is that
   * knob). Output: (doc_id, clean_text, n_tokens, n_cut) with `clean_text`
   * the surviving tokens rejoined in order (normalized token text, like
   * [[removeRepeatedSpans]]); every input document survives, possibly
   * empty.
   *
   * Scale shape: spans explode to covered token positions (spans are
   * maximal and disjoint per doc, so no distinct needed), tokens drop via
   * one anti equi-join on (doc, position), and reassembly is the same
   * single doc-keyed sort-collect as [[removeRepeatedSpans]] — equi-joins
   * and one reassembly shuffle only; nothing pairwise, nothing interpreted
   * per token.
   */
  def cutDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minSpan: Int): DataFrame = {
    val covered = duplicatedSpans(df, idCol, textCol, n, minSpan)
      .select(col("doc_id"),
        explode(sequence(col("span_start"),
          col("span_start") + col("span_len") - 1)).as("idx"))
    val toks = df
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("idx", "tok")))
      .withColumn("idx", col("idx").cast("long"))
    val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    df.select(col(idCol).as("doc_id"),
        coalesce(size(tokens(col(textCol))), lit(0)).cast("long")
          .as("n_tokens"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }

  /** Canonical text normalization for fingerprinting: lowercase, collapse
    * every non-alnum run to one space, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Content fingerprint: md5 of the normalized text (cross-engine stable). */
  def fingerprintMd5(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Polynomial rolling-hash fingerprint — native codegen'd expression
    * (graft.plans.RollingHash). */
  def fingerprintRolling(text: Column): Column =
    graft.plans.GraftExpressions.rolling_hash(normalize(text))

  /**
   * Count-Min frequency sketch of a string column: ONE row holding the
   * depth*width counter array (see graft.plans.CmsAgg for hashing and the
   * 100 TB rationale — fixed 16 KB-ish state, map-side combinable, no
   * full-vocabulary shuffle).
   */
  def cmsSketch(df: DataFrame, valueCol: String, depth: Int,
      width: Int): DataFrame =
    df.agg(graft.plans.GraftExpressions
      .cms_agg(col(valueCol), depth, width).as("sketch"))

  /**
   * Point query against a [[cmsSketch]] array column: min over the sketch's
   * `depth` counters for `value` — an upper bound on the true occurrence
   * count. Pure `functions._` arithmetic on the md5 convention shared with
   * the aggregate, so it runs inside codegen and replays in the oracle.
   */
  def cmsEstimate(sketch: Column, value: Column, depth: Int,
      width: Int): Column = {
    val perRow = (0 until depth).map { t =>
      val h = graft.plans.GraftExpressions
        .md5_prefix60(concat(lit(t + ":"), value))
      element_at(sketch, (lit(t * width) + pmod(h, lit(width)) + 1).cast("int"))
    }
    if (perRow.size == 1) perRow.head else least(perRow: _*)
  }

  /**
   * EXACT heavy hitters of a string column in two bounded-memory passes —
   * every value whose occurrence count `n_exact` satisfies
   * `n_exact * support > N` (i.e. frequency strictly above `N / support`),
   * with its exact count.
   *
   * Pass 1 runs ONE Misra–Gries summary (see [[graft.plans.MisraGriesAgg]])
   * alongside the total count: state ≤ `k` entries per partition, map-side
   * combined, so the shuffle carries ≤ k rows per partition instead of the
   * full vocabulary. MG guarantees every value with frequency > N/(k+1) is
   * among the ≤ k candidates; `require(k + 1 >= support)` makes that a
   * superset of the answer. Pass 2 re-counts ONLY the candidates (broadcast
   * semi-join on ≤ k keys — rows that can't be answers never reach the
   * aggregate) and filters on the exact integer threshold. The candidate
   * set varies with arrival order; the final result does not — it equals
   * the plain `GROUP BY HAVING count(*)*support > N` answer bit-for-bit,
   * which is exactly what the DuckDB oracle runs.
   *
   * At 100 TB this replaces the full-vocabulary shuffle (the naive groupBy
   * moves every distinct token; a web-scale corpus has billions) with two
   * scans whose shuffled bytes are bounded by k, independent of corpus or
   * vocabulary size.
   */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int,
      support: Int): DataFrame = {
    require(support >= 2, s"support=$support must be >= 2")
    require(k + 1 >= support,
      s"k=$k too small for support=$support: MG guarantees only items with " +
        s"frequency > N/(k+1); need k+1 >= support")
    // one pass: candidates and the stream length from the same aggregate;
    // n_total rides each candidate row so the summary subtree appears in
    // the plan ONCE (a separate scalar crossJoin would re-evaluate it —
    // i.e. re-scan the corpus — per reference). The input stream itself
    // is consumed twice (MG summary + exact re-count): lazy cut so the
    // caller's tokenize/explode runs once via the checkpoint cache (r13)
    val in = df.localCheckpoint(false)
    val cand = in.agg(
        graft.plans.GraftExpressions.misra_gries(col(valueCol), k).as("mg"),
        count(col(valueCol)).as("n_total"))
      .select(explode(col("mg")).as("c"), col("n_total"))
      .select(col("c.item").as("cand_item"), col("n_total")) // ≤ k rows
    in.join(broadcast(cand), col(valueCol) === col("cand_item"))
      .groupBy(col(valueCol), col("n_total"))
      .agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") * lit(support) > col("n_total"))
      .select(col(valueCol), col("n_exact"))
  }

  /**
   * Per-group EXACT heavy hitters — [[heavyHitters]] with the Misra–Gries
   * summary and the support test scoped to each `groupCol` value (per-domain
   * hot terms, per-language hot n-grams, per-source boilerplate tokens).
   *
   * Pass 1 is one groupBy(group) aggregate whose state is ≤ k entries PER
   * GROUP per partition — map-side combined, so the shuffle carries ≤ k
   * rows per (group, partition), never a group's vocabulary. The exploded
   * candidate table (≤ k rows per group) then re-counts through an equi-join
   * on (group, item): only rows matching a candidate of THEIR OWN group
   * reach the recount aggregate. Each group's answer is exact by the same
   * N_g/(k+1) < N_g/support bound, N_g the group's stream length.
   *
   * The candidate join is a plain equi-join (not forced broadcast): with
   * many groups the candidate table is k × |groups| rows — small, but let
   * AQE decide rather than pinning a driver-side collect of an unbounded
   * group count.
   */
  def heavyHittersBy(df: DataFrame, groupCol: String, valueCol: String,
      k: Int, support: Int): DataFrame = {
    require(support >= 2, s"support=$support must be >= 2")
    require(k + 1 >= support,
      s"k=$k too small for support=$support (MG bound is N/(k+1))")
    // lazy cut: the stream feeds the per-group MG pass and the re-count
    val in = df.localCheckpoint(false)
    val cand = in.groupBy(col(groupCol))
      .agg(graft.plans.GraftExpressions.misra_gries(col(valueCol), k).as("mg"),
        count(col(valueCol)).as("n_total"))
      .select(col(groupCol).as("_cand_group"), explode(col("mg")).as("c"),
        col("n_total"))
      .select(col("_cand_group"), col("c.item").as("cand_item"),
        col("n_total"))
    in.join(cand, col(groupCol) === col("_cand_group") &&
        col(valueCol) === col("cand_item"))
      .groupBy(col(groupCol), col(valueCol), col("n_total"))
      .agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") * lit(support) > col("n_total"))
      .select(col(groupCol), col(valueCol), col("n_exact"))
  }

  /**
   * Content-defined chunking (the LBFS / FastCDC idea — Muthitacharoen et
   * al. SOSP'01 — lifted from bytes to tokens): cut a document after token
   * `i` whenever the hash of the `w`-token gram ending at `i` is ≡ 0 mod
   * `divisor`. Boundaries depend only on LOCAL content, so inserting or
   * deleting a sentence moves only the chunks it touches — every other
   * chunk keeps its hash. That is the property that makes chunk-level
   * dedup incremental: re-crawled pages share almost all chunk hashes with
   * their previous crawl, and shared boilerplate shows up as cross-doc
   * repeated chunks regardless of where it sits in the page (a fixed-stride
   * tiling like [[tileTable]] loses both under any offset shift).
   *
   * Output: one row per chunk — (idCol, chunk_idx, n_toks_chunk, chunk,
   * chunk_hash) with `chunk_hash = md5(chunk)`. Expected chunk length is
   * `divisor` tokens + the w-gram tail. Documents shorter than `w` tokens
   * form one whole-doc chunk; empty docs emit none.
   *
   * Distributed shape: cut positions, boundaries, and chunk reassembly are
   * all per-row array expressions — the whole operator is ONE scan-stage
   * projection + explode, no shuffle, no window, no state. The md5-gram
   * convention keeps every hash engine-replayable (the DuckDB oracle runs
   * the same list pipeline).
   */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int, divisor: Int): DataFrame = {
    require(w >= 1 && divisor >= 2, s"w=$w, divisor=$divisor out of range")
    // Each stage aliases its result before the next references it: an HOF
    // lambda body re-evaluates every expression it embeds PER ELEMENT, so
    // inlining the tokenizer here would re-tokenize the document once per
    // gram position (measured 14x on the catalog query). Aliased, the
    // lambdas read a bound array attribute; CollapseProject keeps the
    // stages separate because the aliases are non-cheap and multiply
    // referenced. Still one scan stage — Projects, no shuffle.
    val withToks = df.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("_toks"))
    val tk = col("_toks")
    // cut AFTER token i (1-based) iff hash(gram(i-w+1 .. i)) % divisor == 0
    val cuts = when(size(tk) >= w,
      filter(sequence(lit(w), size(tk)), i =>
        pmod(graft.plans.GraftExpressions.md5_prefix60(
          concat_ws(" ", slice(tk, i - w + 1, lit(w)))),
          lit(divisor.toLong)) === 0L)
    ).otherwise(array().cast("array<int>"))
    val withBounds = withToks.select(col(idCol), tk,
      concat(array(lit(0)), cuts, array(size(tk))).as("_bounds"))
    val bounds = col("_bounds")
    // adjacent boundary pairs (a, b], kept when non-empty
    val spans = filter(
      zip_with(bounds, slice(bounds, lit(2), size(bounds)),
        (a, b) => struct(a.as("a"), b.as("b"))),
      s => s.getField("b").isNotNull && s.getField("b") > s.getField("a"))
    withBounds.select(col(idCol), posexplode(
        transform(spans, s => struct(
          concat_ws(" ", slice(tk, s.getField("a") + 1,
            s.getField("b") - s.getField("a"))).as("chunk"),
          (s.getField("b") - s.getField("a")).cast("long").as("n")))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col.n").as("n_toks_chunk"),
        col("col.chunk").as("chunk"),
        md5(col("col.chunk").cast("binary")).as("chunk_hash"))
  }

  /**
   * Chunk-level containment of new documents against a corpus — the
   * re-crawl / boilerplate-containment gate that [[cdcChunks]]'s
   * offset-invariance exists for: a page recrawled with a new header still
   * shares almost all content-defined chunk hashes with its previous crawl,
   * so `dup_frac` ≈ 1 flags it even though whole-doc hashes (and fixed
   * tiles) all changed. Output per new doc: (idCol, n_chunks, n_dup,
   * dup_frac) with dup_frac floor-quantized to 6 dp from the exact
   * integer chunk counts.
   *
   * Distributed shape: both chunkings are scan-stage; the corpus side
   * reduces to DISTINCT chunk hashes (combinable), and the probe is one
   * equi-join on chunk_hash followed by a doc-keyed count — no windows, no
   * pairwise doc join. Incremental use persists the corpus chunk-hash
   * table once and joins each day's increment against it, exactly like
   * [[graft.ops.Dedup.minhashIndex]].
   */
  def cdcContainment(newDf: DataFrame, corpusDf: DataFrame, idCol: String,
      textCol: String, w: Int, divisor: Int): DataFrame = {
    val newCh = cdcChunks(newDf, idCol, textCol, w, divisor)
      .select(col(idCol), col("chunk_hash"))
    val corpusSet = cdcChunks(corpusDf, idCol, textCol, w, divisor)
      .select(col("chunk_hash")).distinct()
    newCh.join(corpusSet.withColumn("_hit", lit(1)), Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), count(col("_hit")).as("n_dup"))
      .withColumn("dup_frac",
        floor(col("n_dup") * lit(1e6) / col("n_chunks")) / lit(1e6))
  }

  /**
   * Hashed-feature linear-classifier inference — the model-based quality
   * filter of CCNet / the GPT-3 curation pipeline (a linear model over
   * hashed bag-of-words features, fastText-style), as a pure scan-stage
   * fold: margin = Σ over tokens of w(token), keep = margin > 0.
   *
   * `w(token)` here is the md5-derived integer `md5_prefix60(token) % 2001
   * - 1000` ∈ [-1000, 1000] — a deterministic stand-in for trained weights
   * (this sandbox trains no classifier), chosen so the DuckDB oracle can
   * replay inference bit-for-bit. A production model swaps the weight
   * lookup (same 60-bit hash keying a broadcast weight array); everything
   * that matters at 100 TB is real and unchanged: tokenize + hash + fold
   * runs inside the scan stage — no shuffle, no UDF, no model-server round
   * trip — and the margin is exact BIGINT arithmetic, so the keep decision
   * is reproducible across engines and partitionings.
   */
  def classifierColumns(text: Column): Seq[(String, Column)] = {
    val t0 = coalesce(text, lit("")) // null doc = empty doc: margin 0, reject
    val w = (t: Column) =>
      pmod(graft.plans.GraftExpressions.md5_prefix60(t), lit(2001L)) -
        lit(1000L)
    val margin = aggregate(tokens(t0), lit(0L), (acc, t) => acc + w(t))
    Seq(
      "margin" -> margin,
      "n_toks" -> tokenCount(t0).cast("long"),
      "keep" -> (margin > 0))
  }

  /** [[classifierColumns]] appended to `df` (keyed inference entry point). */
  def classifierScore(df: DataFrame, textCol: String): DataFrame =
    classifierColumns(col(textCol)).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }

  /**
   * Winnowing fingerprint selection (Schleimer, Daswani, Aiken — SIGMOD'03
   * "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
   * `k`-token shingle, slide a window of `w` consecutive hashes over each
   * document, and select the MINIMUM hash of every window (rightmost
   * occurrence on ties — the paper's tie rule). The selected (position,
   * hash) set is the document's fingerprint: any shared substring of at
   * least `w + k - 1` tokens between two documents is guaranteed to share
   * a selected fingerprint, at an expected density of 2/(w+1) — the
   * local-dedup / plagiarism-detection primitive that `fingerprintMd5`
   * (whole-doc) and `duplicatedSpans` (every-gram) bracket.
   *
   * Output: (doc_id, pos, h) — one row per selected fingerprint. Documents
   * with fewer than `w` shingles (fewer than `w + k - 1` tokens) emit no
   * rows, per the paper's definition (no full window exists).
   *
   * Distributed shape: one corpus scan (compiled shingle flatMap + native
   * md5-prefix hash), then ONE shuffle on doc_id for a DOC-BOUNDED sliding
   * window (`ROWS BETWEEN CURRENT AND w-1 FOLLOWING` — state is w rows,
   * window length is bounded by the longest document, never by the corpus).
   * The rightmost-min tie rule rides the same window via
   * `min(struct(h, -pos))` (lexicographic struct ordering = arg-min with
   * max-pos tie-break — no second pass). The trailing per-doc distinct
   * reuses the window's hash partitioning (doc_id is a subset of the
   * grouping key, so EnsureRequirements inserts no second exchange).
   */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow needs k >= 1 and w >= 1, got ($k, $w)")
    import org.apache.spark.sql.expressions.Window
    val grams = graft.ops.Dedup.shingleTablePos(df, idCol, textCol, k)
      .withColumn("h", graft.plans.GraftExpressions.md5_prefix60(col("shingle")))
      .select("doc_id", "pos", "h")
    val win = Window.partitionBy("doc_id").orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("nw", count(lit(1)).over(win))
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np"))).over(win))
      .filter(col("nw") === w) // full windows only — the paper's window set
      .select(col("doc_id"), (-col("m.np")).cast("int").as("pos"),
        col("m.h").as("h"))
      .distinct()
  }

  /**
   * Near-duplicate pairs from [[winnow]] fingerprints — winnowing's payoff
   * operator (the MOSS/plagiarism-detection join): documents sharing at
   * least `minShared` DISTINCT selected fingerprints, with the shared
   * count. Because winnowing guarantees a selected fingerprint inside any
   * shared run of `w + k - 1` tokens, a pair with a long common span cannot
   * be missed, while the 2/(w+1) density makes the join input ~3x smaller
   * than the full gram set — the cheap local-overlap screen between exact
   * dedup (whole doc) and Jaccard (bag-of-shingles).
   *
   * Scale shape: the same banded-candidate discipline as every other
   * pairing op here — fingerprints with document frequency above `maxDf`
   * are dropped BEFORE the self-join (boilerplate fingerprints otherwise
   * make a candidate class corpus-proportional, the r6 lesson), so bucket
   * sizes are bounded by construction and the join shuffles 8-byte hash
   * keys. Output: (doc1, doc2, n_shared), doc1 < doc2.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDf: Int): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"winnowPairs needs minShared >= 1 and maxDf >= 2, got ($minShared, $maxDf)")
    val fp = winnow(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("h")).distinct()
    val rare = fp.join(
      fp.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("h"),
      Seq("h"))
    rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[tileTable]] carrying one extra grouping column (e.g. the document's
    * source/domain) through the compiled flatMap — so per-group consumers
    * like [[boilerplateClean]] don't pay a corpus-sized join to recover it. */
  def tileTableKeyed(df: DataFrame, idCol: String, keyCol: String,
      textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val keyField = df.schema(df.schema.fieldIndex(keyCol))
    val outSchema = StructType(Seq(
      StructField("doc_id", idField.dataType, idField.nullable),
      StructField("grp", keyField.dataType, keyField.nullable),
      StructField("idx", IntegerType, false),
      StructField("tile", org.apache.spark.sql.types.StringType)))
    df.select(col(idCol).as("doc_id"), col(keyCol).as("grp"),
        col(textCol).cast("string").as("text"))
      .flatMap { r =>
        val id = r.get(0)
        val key = r.get(1)
        val toks =
          if (r.isNullAt(2)) Array.empty[String]
          else graft.plans.TokenizeAlnum.tokensOf(r.getString(2))
        if (toks.isEmpty) Iterator.single(Row(id, key, 0, ""))
        else toks.grouped(n).zipWithIndex
          .map { case (g, i) => Row(id, key, i, g.mkString(" ")) }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /**
   * Per-source boilerplate removal (the RefinedWeb / MassiveWeb "repeated
   * line" gate, Penedo et al. 2023 §3.2, scoped to a domain): an `n`-token
   * tile present in at least `max(minDf, ceil(minFrac * docs_in_source))`
   * DISTINCT documents OF THE SAME SOURCE (nav bars, footers, license
   * blurbs, cookie banners — templated per site, not per corpus) is cut
   * from every document of that source; documents are reassembled in tile
   * order. Differs from [[removeRepeatedSpans]] (corpus-global, absolute
   * df) exactly the way RefinedWeb differs from C4: the frequency that
   * makes text boilerplate is frequency WITHIN its site.
   *
   * Output: (doc_id, source, clean_text, n_tiles, n_removed).
   *
   * Distributed shape: one corpus scan emits keyed tiles; document
   * frequency is a two-level (grp, tile, doc) -> (grp, tile) aggregate
   * (both map-side combinable); per-source doc counts are a tiny broadcast.
   * The boilerplate set joins back on (grp, tile) as a SHUFFLE join — not a
   * broadcast — because its size scales with the number of sources (each
   * site contributes its own templates), and the reassembly groupBy(doc_id)
   * is the same bounded-by-document-length collect as removeRepeatedSpans.
   */
  def boilerplateClean(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, n: Int, minFrac: Double, minDf: Int): DataFrame = {
    val tiles = tileTableKeyed(df, idCol, srcCol, textCol, n)
    val perSrcDocs = broadcast(
      df.groupBy(col(srcCol).as("grp"))
        .agg(count(lit(1)).as("n_docs")))
    val boiler = tiles
      .groupBy("grp", "tile")
      .agg(count_distinct(col("doc_id")).as("df"))
      .join(perSrcDocs, Seq("grp"))
      .filter(col("df") >= greatest(lit(minDf),
        ceil(lit(minFrac) * col("n_docs")).cast("long")))
      .select(col("grp"), col("tile"), lit(true).as("__boiler"))
    tiles.join(boiler, Seq("grp", "tile"), "left_outer")
      .groupBy("doc_id").agg(
        first(col("grp")).as("source"),
        count(lit(1)).as("n_tiles"),
        count(col("__boiler")).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__boiler").isNull, struct(col("idx"), col("tile"))))),
          x => x.getField("tile")), " ").as("clean_text"))
      .select(col("doc_id"), col("source"), col("clean_text"),
        col("n_tiles"), col("n_removed"))
  }

  /**
   * Bigram language-model surprisal scoring — the KenLM-style perplexity
   * quality gate (CCNet, Wenzek 2020) with the LM trained on the corpus
   * itself: documents whose token transitions are improbable under the
   * corpus bigram statistics (boilerplate, gibberish, wrong-language
   * remnants) score HIGH and get filtered.
   *
   * The surprisal of each transition is measured in WHOLE BITS via exact
   * integer arithmetic: with `bits(x)` = the binary-representation length,
   *
   *   surprisal(w2 | w1) = bits(n_first(w1) + V) - bits(n_bigram + 1)
   *
   * approximates `-log2((n_bigram + 1) / (n_first + V))` — add-one-smoothed
   * conditional probability — to within one bit, while staying pure BIGINT
   * (the catalog deliberately has NO transcendentals: `ln`/`exp` are only
   * 1-ulp-accurate and differ between the JVM and libm, so a floor on a log
   * could flip across engines; `bits()` replays bit-identically anywhere).
   * One-bit resolution per transition averages out over a document's
   * hundreds of transitions — the mean is a 6-dp-quantized cross-entropy
   * estimate sharp enough to rank documents.
   *
   * Distributed shape: bigrams are hashed to 60-bit longs AT THE SCAN
   * (8-byte shuffle keys, never gram strings — the jaccard lesson); the
   * model is two combine-enabled aggregates (bigram counts and token
   * occurrence counts — the same denominator convention as the
   * `q_text_bigrams` statistics table); scoring joins the bigram stream
   * against the two model
   * tables on long keys (AQE picks broadcast when the vocab fits) and
   * reduces per-document. The bigram stream is materialized ONCE
   * (localCheckpoint) — it feeds both the model build and the scoring
   * probe, and cross-job exchange reuse does not exist.
   *
   * Output: (doc_id, n_bigrams, sum_bits, mean_bits) — documents with
   * fewer than two tokens have no transitions and no row.
   */
  def surprisalScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = graft.plans.GraftExpressions.md5_prefix60 _
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
      .localCheckpoint()
    val bi = toks.select(col("doc_id"), explode(zip_with(col("ts"),
        slice(col("ts"), lit(2), size(col("ts"))),
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), h(col("bg")).as("hb"),
        h(substring_index(col("bg"), " ", 1)).as("h1"))
      .localCheckpoint()
    val bigramCounts = bi.groupBy("hb").agg(count(lit(1)).as("n_bi"))
    val firstCounts = toks.select(explode(col("ts")).as("w"))
      .select(h(col("w")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("n_first"))
      .localCheckpoint()
    val vocab = firstCounts.count()
    bi.join(bigramCounts, "hb").join(firstCounts, "h1")
      .withColumn("bits",
        graft.plans.GraftExpressions.bit_length_long(
          col("n_first") + lit(vocab)) -
        graft.plans.GraftExpressions.bit_length_long(col("n_bi") + lit(1L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (floor(col("sum_bits").cast("double") * 1e6 /
          col("n_bigrams").cast("double")) / 1e6).as("mean_bits"))
  }

  final case class CompressionScore(doc_id: Long, raw_len: Long,
    comp_len: Long, ratio_micro: Long)

  /** Deflate compression-ratio quality signal (the Gopher/RedPajama-class
    * filter): heavily repetitive or templated documents compress far
    * below natural text, near-random noise barely compresses —
    * ratio_micro = 1e6 · deflated/raw flags both tails in one number.
    * One Deflater per PARTITION, reset per row (allocation-free inner
    * loop); level 6, default strategy — deterministic for a given zlib,
    * so the result is pinned by a committed golden hash in the spec
    * rather than a SQL oracle (the oracle engine has no deflate). */
  def compressionScore(docs: Dataset[(Long, String)])
      : Dataset[CompressionScore] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      val d = new java.util.zip.Deflater(6)
      // Deflater holds NATIVE zlib memory — release deterministically at
      // task end (covers early termination under a limit too), not at GC
      // finalization. end() is idempotent, so double-release is safe.
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => d.end()))
      val buf = new Array[Byte](1 << 16)
      rows.map { case (id, text) =>
        val bytes =
          if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
        d.reset(); d.setInput(bytes); d.finish()
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        val ratio =
          if (bytes.length == 0) 1000000L else n * 1000000L / bytes.length
        CompressionScore(id, bytes.length.toLong, n, ratio)
      }
    }
  }

  /**
   * URL canonicalization — the web-corpus dedup key every crawl pipeline
   * computes before anything touches page content (CommonCrawl/C4 dedup by
   * URL first; the same page is fetched as `HTTP://WWW.x.com:80/a/?utm=…#f`
   * and `http://x.com/a`). Normalization rules, composed entirely from
   * codegen'd built-ins (no UDF):
   *
   *   - scheme and host lowercased; path and query left case-sensitive
   *   - default port stripped (`:443` for https, `:80` for http)
   *   - leading `www.` stripped from the host
   *   - fragment dropped
   *   - trailing slash stripped from a non-root path; empty path -> `/`
   *   - query params split on `&`, tracking params (`utm_*`) and empties
   *     dropped, the rest SORTED (param order is transport noise)
   *
   * Pure per-row projection — fuses into the scan stage, no shuffle; the
   * canonical string then feeds an ordinary exact-dedup groupBy.
   */
  def canonicalUrl(raw: Column): Column = {
    val u = regexp_replace(raw, "#.*", "")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport =
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noPort = when(scheme === "https",
        regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noPort, "^www\\.", "")
    val path0 = regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    val stripped = regexp_replace(path0, "/+$", "")
    val path = when(stripped === "", "/").otherwise(stripped)
    val q = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(q, "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", "").otherwise(concat(lit("?"), kept)))
  }

  /**
   * First-occurrence n-gram novelty: per document, the fraction of its
   * distinct word n-grams whose FIRST appearance (minimum `idCol` over the
   * corpus) is this document. The streaming-order curation signal behind
   * "keep documents that add new content": a crawl snapshot ingested in id
   * order scores boilerplate and syndicated copy near 0 and fresh text
   * near 1 — the per-document complement of the corpus-level dedup
   * families (which find the duplicate PAIRS; this prices each doc's
   * marginal contribution).
   *
   * Scale shape: one shingle explode (compiled `shingleTable` path), one
   * combine-enabled `min` per gram (a gram shared by a million docs
   * reaches the shuffle once per partition), one gram-keyed shuffle join
   * whose fan-out is exactly 1 per posting row, one combine-enabled
   * per-doc count. Linear in total postings; no window, no driver state.
   */
  def noveltyProfile(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = Dedup.shingleTable(df, idCol, textCol, n)
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long"))
          .as("n_novel"))
      .withColumn("novelty_micro",
        floor(lit(1e6) * col("n_novel").cast("double") /
          col("n_grams").cast("double")).cast("long"))
  }

  /**
   * RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
   * topic tagger a curation pipeline runs to cluster/route documents
   * without a model: candidate phrases are maximal stopword-free token
   * runs ([[EnglishStopwords]] as delimiters); each word scores
   * deg/freq (deg = Σ length of the phrases it occurs in — words living
   * in long phrases score high), a phrase scores the sum of its words,
   * and the document's top-scoring phrase wins (ties: lexicographic).
   *
   * Exact integers end to end: word score = `deg·1e6 div freq` (both
   * positive), phrase score = Σ word scores. Per-document windows only
   * (the gaps-and-islands run grouping and the final argmax — state
   * bounded by a document's token count, never the corpus), one
   * corpus-wide shuffle on doc_id. Output: (doc_id, phrase, n_words,
   * score_micro), one row per document with at least one candidate.
   */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // RAKE is doc-local end to end — candidate phrases, word
    // degree/frequency scores and the best-phrase pick all partition by
    // doc_id — so the former 3-shuffle + 2-window plan (explode, ONE
    // corpus-wide row_number window, two grp joins, a second window for
    // the argmax) reduced per-document facts the scan task already had
    // (the r6 gopher lesson; r12 measurement: 2.1 s → scan-stage cost).
    // This compiled flatMap replays the expression semantics exactly:
    // UTF8String.toLowerCase (Spark's `lower`), the same regex replace,
    // `split(" ", -1)` keeping empties so token POSITIONS match
    // posexplode over the split array, run-grouping equivalent to the
    // pos − row_number trick, wscore = deg·1e6 div freq on positive
    // longs (floor div both ways), phrase tie-break = smallest phrase
    // at max score (row_number over score desc, phrase asc).
    val stop = EnglishStopwords.toSet
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idField.dataType,
        idField.nullable),
      org.apache.spark.sql.types.StructField("phrase",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_words",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score_micro",
        org.apache.spark.sql.types.LongType)))
    Similarity.spread(df.select(col(idCol).as("doc_id"),
        col(textCol).cast("string").as("text")))
      .flatMap { r =>
        if (r.isNullAt(1)) Iterator.empty
        else {
          val lowered = org.apache.spark.unsafe.types.UTF8String
            .fromString(r.getString(1)).toLowerCase.toString
          val words = lowered.replaceAll("[^a-z]+", " ").split(" ", -1)
          // kept (word, pos) pairs; phrases = maximal runs of
          // consecutive positions (== the pos - row_number grouping)
          val kept = new scala.collection.mutable.ArrayBuffer[(String, Int)]
          var i = 0
          while (i < words.length) {
            val w = words(i)
            if (w.nonEmpty && !stop(w)) kept += ((w, i))
            i += 1
          }
          if (kept.isEmpty) Iterator.empty
          else {
            val phrases =
              new scala.collection.mutable.ArrayBuffer[Array[(String, Int)]]
            var s0 = 0
            var j = 1
            while (j <= kept.length) {
              if (j == kept.length || kept(j)._2 != kept(j - 1)._2 + 1) {
                phrases += kept.slice(s0, j).toArray
                s0 = j
              }
              j += 1
            }
            val freq = scala.collection.mutable.HashMap
              .empty[String, Long].withDefaultValue(0L)
            val deg = scala.collection.mutable.HashMap
              .empty[String, Long].withDefaultValue(0L)
            phrases.foreach { p =>
              val plen = p.length.toLong
              p.foreach { case (w, _) => freq(w) += 1L; deg(w) += plen }
            }
            var bestPhrase: String = null
            var bestN = 0L
            var bestScore = Long.MinValue
            phrases.foreach { p =>
              var sc = 0L
              p.foreach { case (w, _) => sc += deg(w) * 1000000L / freq(w) }
              val ph = p.iterator.map(_._1).mkString(" ")
              if (sc > bestScore ||
                  (sc == bestScore && ph < bestPhrase)) {
                bestPhrase = ph; bestN = p.length.toLong; bestScore = sc
              }
            }
            Iterator.single(org.apache.spark.sql.Row(
              r.get(0), bestPhrase, bestN, bestScore))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
