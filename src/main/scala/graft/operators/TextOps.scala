package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders (the training-data-pipeline operator
  * family): tokenization, shingling, language-ID, quality metrics,
  * fingerprints. All pure column expressions — codegen-friendly, no UDFs —
  * and all portable: every construction here has an exact DuckDB
  * equivalent, which is what the driver's oracle pins.
  */
object TextOps {

  /** Whitespace tokenizer (empty-token free). */
  def tokens(text: Column): Column = array_remove(split(trim(text), " "), "")

  /** Text normalization — the step every real corpus pipeline runs
    * BEFORE dedup/fingerprinting (without it, `"Café"` composed and
    * `"Café"` decomposed never dedup): optional HTML/markup strip →
    * Unicode NFC ([[graft.expressions.NfcNormalize]], codegen'd) →
    * case fold → whitespace collapse to single spaces + trim. Pure
    * per-row expression chain — rides the scan at any corpus size.
    * Every stage has an exact DuckDB twin (`regexp_replace`,
    * `nfc_normalize`, `lower`, `trim`), which the oracle pins. */
  def normalize(text: Column, stripHtml: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val stripped = if (stripHtml) regexp_replace(text, "<[^>]*>", " ") else text
    val nfc = Bridge.column(graft.expressions.NfcNormalize(Bridge.expression(stripped)))
    trim(regexp_replace(lower(nfc), "\\s+", " "))
  }

  /** HTML → text extraction — the first stage of a web-corpus pipeline,
    * a real step up from [[normalize]]'s bare tag strip: (1) drop
    * script/style ELEMENTS with their contents (a tag strip alone
    * leaks JavaScript and CSS into the corpus — the classic C4/CCNet
    * contamination), (2) drop comments, (3) block boundaries (`<br>`,
    * `</p>`) become newlines so paragraphs survive for
    * [[graft.operators.Dedup.paragraphDedup]], (4) strip remaining
    * tags to spaces, (5) decode the named entities
    * (&lt; &gt; &quot; &#39; &nbsp; and — LAST, or it double-decodes —
    * &amp;), (6) collapse space runs, tidy newline spacing, trim.
    * Pure per-row expression chain riding the scan; every pattern is
    * RE2-compatible (no backreferences/lookaround), so the DuckDB
    * oracle replays the chain verbatim. */
  def htmlExtract(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment, "(?i)<br[^>]*>|</p[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => regexp_replace(c, e, v) }
    val spaces = regexp_replace(entities, "[ \\t]+", " ")
    val tidy = regexp_replace(regexp_replace(spaces, "(?: ?\\n ?)+", "\n"),
      "^\\n+|\\n+$", "")
    trim(tidy)
  }

  /** Charset front gate — sniff + decode each raw payload
    * ([[graft.codec.CharsetCodec]]: BOM > declared label > strict
    * UTF-8 validity > density triage > 0x80-0x9F heuristic, with the
    * legacy CJK/single-byte families decoded strictly and the
    * `unknown` quarantine verdict) and append `(charsetOut, textOut)`
    * to the frame; sits between the HTTP payload bytes and
    * [[htmlExtract]] in the web funnel, so legacy-encoded pages reach
    * the text operators as correct Unicode instead of mojibake.
    * Columnar: one codegen'd
    * [[graft.expressions.CharsetDecodeExpr]] struct per row — the
    * stage that touches EVERY crawled document stays inside
    * whole-stage codegen (plan-asserted) instead of the
    * row-deserializing RDD hop it shipped as. No shuffle; null blobs
    * decode as empty utf-8 (the original contract). */
  def decodeCharset(df: org.apache.spark.sql.DataFrame, blobCol: String,
                    charsetOut: String = "charset",
                    textOut: String = "text"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val d = Bridge.column(graft.expressions.CharsetDecodeExpr(
      Bridge.expression(coalesce(col(blobCol),
        typedLit(Array.emptyByteArray)))))
    df.withColumn("_dec", d)
      .withColumn(charsetOut, col("_dec.charset"))
      .withColumn(textOut, col("_dec.text"))
      .drop("_dec")
  }

  /** Mojibake repair stage ([[graft.codec.CharsetCodec.fixMojibake]]):
    * texts that are UTF-8-read-as-cp1252 ("cafÃ©", "â€”") invert back
    * to the intended Unicode; clean text — including genuinely
    * accented text — passes through untouched, and the flag column
    * records what was repaired (the corpus-hygiene statistic). Pure
    * per-row repair over `mapPartitions`, no shuffle. */
  def repairMojibake(df: org.apache.spark.sql.DataFrame, textCol: String,
                     outCol: String = "text_fixed",
                     flagCol: String = "was_mojibake"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val fixed = Bridge.column(
      graft.expressions.FixMojibakeExpr(Bridge.expression(col(textCol))))
    df.withColumn(outCol, fixed)
      .withColumn(flagCol, coalesce(col(outCol) =!= col(textCol), lit(false)))
  }

  /** BPE-ish subword count heuristic: words + punctuation clusters counted
    * separately (regexp token classes). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?<=[\\p{L}\\p{N}])(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}\\s])(?=[\\p{L}\\p{N}])|\\s+"),
      t => t =!= ""))

  /** Word n-gram shingles, 1-based slice windows. Guarded: fewer than `n`
    * tokens ⇒ empty array (Spark's `sequence` is inclusive and would count
    * DOWN for a negative span — a silent corruption, hence the guard). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        j => concat_ws(" ", slice(toks, j, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Character k-gram rolling window over the raw text (the substrate for
    * rolling-hash fingerprints). */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        j => text.substr(j, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** Rolling-hash document fingerprint: min md5 over the char k-gram
    * windows — winnowing's "select the minimum hash" step collapsed to a
    * single global window (deterministic, order-free, portable). */
  def rollingFingerprint(text: Column, k: Int): Column =
    array_min(transform(charShingles(text, k), s => md5(s)))

  /** Winnowing fingerprint set (Schleimer et al.): hash the char k-grams,
    * take the min hash of every `window`-sized sliding window of positions,
    * dedupe — the classic local document fingerprint. Evaluated per row by
    * the codegen'd [[graft.expressions.WinnowFingerprint]] (no explode, no
    * window shuffle/sort — the earlier relational form exploded |text| rows
    * per document and sorted them twice). Returns (id, fingerprints
    * array<string> sorted); documents with no k-gram are absent, matching
    * the relational form where they simply had no rows. */
  def winnowingFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                            k: Int, window: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc"),
      graft.expressions.WinnowExpressions
        .winnowFingerprint(col(textCol), k, window).as("fingerprints"))
      .filter(col("fingerprints").isNotNull)

  /** Duplicate n-gram fraction over an ALREADY-MATERIALIZED shingle
    * column: (total − distinct)/total, NULL when empty. Take this form in
    * pipelines — project `shingles(...)` once in a prior select and feed
    * the attribute here, so the interpreted HOF shingle pipeline runs
    * once per row (CollapseProject keeps non-cheap aliases referenced
    * more than once from being inlined twice). */
  def dupFractionOfShingles(sh: Column): Column =
    round((size(sh) - size(array_distinct(sh))).cast("double") /
      when(size(sh) === 0, lit(null)).otherwise(size(sh)), 4)

  /** Duplicate n-gram fraction — the Gopher/C4-style repetition signal
    * for corpus filtering: boilerplate and degenerate machine text score
    * high; clean prose scores near 0. A pure per-row expression — no
    * shuffle at any corpus size. Convenience form; it embeds the shingle
    * pipeline once per reference (4× here: three size() calls plus
    * array_distinct), so hot paths should materialize the tokens AND the
    * shingles as attributes and use [[dupFractionOfShingles]]. */
  def dupNgramFraction(toks: Column, n: Int): Column =
    dupFractionOfShingles(shingles(toks, n))

  /** The other half of the Gopher repetition rule set (Rae et al. 2021
    * Table A1) that [[dupNgramFraction]] doesn't cover — CHARACTER-mass
    * repetition signals: `top_char_frac` = chars covered by the single
    * heaviest `topN`-gram (count × gram length, the "fraction of
    * characters in the most frequent n-gram" rule, n = 2–4 in the
    * paper), and `dup_char_frac` = chars across ALL occurrences of
    * duplicated `dupN`-grams (n = 5–10 in the paper). Both are
    * per-occurrence char sums over the raw text length — overlapping
    * occurrences multi-count, so degenerate loops can exceed 1.0 (the
    * standard published formulation; [[exactRunCoverage]] is the
    * position-exact span-union alternative when a true ≤1 coverage is
    * needed). Fractions are exact-integer numerators over `n_chars`
    * with ONE unrounded IEEE division — bit-identical cross-engine.
    *
    * Scale shape: explode → partial-agg groupBy (doc, gram) → partial-
    * agg groupBy doc, twice — every key is doc-bounded (no corpus-hot
    * gram key exists here because counts are WITHIN-doc), then two
    * doc-spine left joins. Short docs (< n tokens) score 0.0; empty
    * docs NULL. */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                        topN: Int = 2, dupN: Int = 5): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("doc"), col(textCol).as("_tx"))
    def gramCounts(n: Int) = base
      .select(col("doc"), explode(shingles(tokens(col("_tx")), n)).as("g"))
      .groupBy("doc", "g").agg(count(lit(1)).as("c"))
    val top = gramCounts(topN).groupBy("doc")
      .agg(max(col("c") * length(col("g"))).as("_topchars"))
    val dup = gramCounts(dupN).groupBy("doc")
      .agg(sum(when(col("c") >= 2, col("c") * length(col("g"))).otherwise(0L)).as("_dupchars"))
    val denom = when(length(col("_tx")) === 0, lit(null))
      .otherwise(length(col("_tx"))) * 1.0
    base.join(top, Seq("doc"), "left_outer").join(dup, Seq("doc"), "left_outer")
      .select(col("doc"), length(col("_tx")).cast("long").as("n_chars"),
        (coalesce(col("_topchars"), lit(0L)) / denom).as("top_char_frac"),
        (coalesce(col("_dupchars"), lit(0L)) / denom).as("dup_char_frac"))
  }

  /** Marker-based language id (SURVEY-mandated heuristic: n-gram stats
    * degenerate on synthetic corpora, function-word markers don't). */
  def langIdEn(toks: Column, markers: Seq[String], minHits: Int): Column =
    when(size(filter(toks, w => w.isInCollection(markers))) >= minHits, "en")
      .otherwise("und")

  /** Character-trigram profiles for ten languages — the classic
    * frequency-profile approach (Cavnar & Trenkle's n-gram text
    * categorization, trimmed to the highest-frequency trigrams plus a
    * few diacritic singletons per language; standard public corpus
    * statistics). Deliberately tiny and LITERAL so the whole classifier
    * is reproducible by any SQL engine: the score of a language is the
    * total occurrence count of its profile grams in the lowercased
    * text — substring counts, no tokenization, no floats. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "sch", "ein", "ich", "den", "cht", "ung", "gen", "ß"),
    "en" -> Seq("the", "and", "ing", "ion", "tio", "ent", "her", "tha", "hat", "was"),
    "es" -> Seq("que", "los", "con", "una", "las", "por", "ado", "nte", "ión", "ñ"),
    "fr" -> Seq("les", "des", "une", "eur", "ait", "lle", "ons", "que", "est", "é"),
    "it" -> Seq("che", "non", "per", "del", "ell", "zio", "gli", "lla", "ssi", "à"),
    "nl" -> Seq("een", "het", "van", "aan", "oor", "ijk", "ver", "dat", "niet", "ij"),
    "pl" -> Seq("nie", "prz", "ych", "owa", "ego", "rze", "czy", "się", "ł", "ż"),
    "pt" -> Seq("ção", "não", "uma", "ara", "com", "ade", "par", "dos", "ões", "ã"),
    "sv" -> Seq("och", "att", "det", "för", "som", "ill", "den", "ande", "är", "å"),
    "tr" -> Seq("lar", "bir", "yor", "ler", "çin", "dır", "nda", "ını", "ğ", "ş"))

  /** Multi-language ID over [[langProfiles]]: per language, score =
    * Σ non-overlapping occurrences of its grams in `lower(text)`; winner
    * = max score with ties to the lexicographically smallest language
    * code; all-zero ⇒ "und". Returns a struct (lang_pred, score).
    *
    * Evaluated by [[graft.expressions.LangIdMultiExpr]] — one per-row
    * pass, allocation-free needle loops — because the portable
    * `(len(t) - len(replace(t, g))) / len(g)` column composition, while
    * semantically identical (it's what the GENERATED oracle twin runs),
    * copies the text ~100× per row (measured 5× slower on the sf0.1
    * corpus). Per-row work, no shuffle, no UDF; at 100 TB this rides
    * the same scan as any other projection. */
  def langIdMulti(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.LangIdMultiExpr(
      Bridge.expression(lower(text)), langProfiles))
  }

  /** The DuckDB twin of [[langIdMulti]], generated from the SAME profile
    * literals (`tx` must be the lowercased text expression; emits
    * per-language `SELECT ... AS lang, ... AS score` branches to UNION). */
  def langIdMultiOracleBranches(docExpr: String, txExpr: String): String =
    langProfiles.map { case (lang, grams) =>
      val sum = grams.map { g =>
        s"(length($txExpr) - length(replace($txExpr, '$g', ''))) // ${g.codePointCount(0, g.length)}"
      }.mkString(" + ")
      s"SELECT $docExpr, '$lang' AS lang, $sum AS score FROM t"
    }.mkString("\nUNION ALL\n")

  /** Benchmark decontamination — flag training documents that share
    * `shingleN`-gram content with an evaluation set (the overlap that
    * silently inflates benchmark scores). Returns one row per corpus
    * doc: `(doc, n_shingles, n_hits, contamination)` where
    * contamination = hits / distinct shingles (NULL for sub-n docs).
    *
    * Scale shape: the BENCHMARK side is the small one (eval suites are
    * thousands of docs), so its distinct shingle set broadcasts and the
    * corpus side streams through a map-side join — one scan of the
    * corpus, no corpus shuffle for the probe; the per-doc hit count
    * aggregates on the (tiny) hit subset only, then left-joins back. */
  def contamination(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    benchmark: org.apache.spark.sql.DataFrame, benchTextCol: String,
                    shingleN: Int = 8): org.apache.spark.sql.DataFrame = {
    val doc = col(idCol).as("doc")
    val shd = array_distinct(shingles(tokens(col(textCol)), shingleN))
    val benchShingles = benchmark
      .select(explode(array_distinct(shingles(tokens(col(benchTextCol)), shingleN))).as("g"))
      .distinct()
    val hits = df.select(doc, explode(shd).as("g"))
      .join(broadcast(benchShingles), Seq("g"))
      .groupBy("doc").agg(count(lit(1)).as("n_hits"))
    df.select(doc, size(shd).cast("long").as("n_shingles"))
      .join(hits, Seq("doc"), "left_outer")
      .select(col("doc"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          when(col("n_shingles") === 0, lit(null)).otherwise(col("n_shingles")), 4)
          .as("contamination"))
  }

  /** Bloom-pruned decontamination — [[contamination]] for the regime
    * where the benchmark gram set is too large to broadcast EXACTLY
    * (a full eval-suite union at 8-grams runs to billions of strings,
    * tens of GB; a Bloom sketch of the same set at 1% fpp is ~10 bits
    * per gram). Identical output to [[contamination]] — the sketch
    * only PRUNES: corpus grams stream past a broadcast Bloom filter
    * map-side, and the survivors (true hits + ~fpp false positives)
    * go through an exact confirm join that removes every false
    * positive. The alternative at that size is a full shuffle join of
    * the entire corpus gram stream against the benchmark set — the
    * Bloom cuts the shuffled volume from O(corpus grams) to
    * O(hits + fpp·corpus grams).
    *
    * The sketch is built distributed (`DataFrameStatFunctions
    * .bloomFilter`, one pass over the benchmark side + a sizing
    * count); the per-row probe is a bounded hash test riding the scan
    * (the documented UDF exception: a broadcast sketch probe has no
    * column-expression form). The confirm join deliberately carries no
    * broadcast hint — in the target regime the benchmark set exceeds
    * the broadcast threshold and AQE picks a shuffled join on the
    * pruned (small) survivor stream. Sibling of the file-pruning
    * [[graft.ingest.FileBloom]]; same fpp logic, corpus-scale build. */
  def contaminationBloomPruned(df: org.apache.spark.sql.DataFrame, idCol: String,
                               textCol: String,
                               benchmark: org.apache.spark.sql.DataFrame,
                               benchTextCol: String,
                               shingleN: Int = 8,
                               fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    val doc = col(idCol).as("doc")
    val shd = array_distinct(shingles(tokens(col(textCol)), shingleN))
    val benchShingles = benchmark
      .select(explode(array_distinct(shingles(tokens(col(benchTextCol)), shingleN))).as("g"))
      .distinct()
    val nBench = math.max(benchShingles.count(), 1L)
    val bloom = benchShingles.stat.bloomFilter("g", nBench, fpp)
    val bc = df.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => g != null && bc.value.mightContain(g))
    val hits = df.select(doc, explode(shd).as("g"))
      .filter(mightContain(col("g")))   // map-side prune: ~(1-fpp) of misses die here
      .join(benchShingles, Seq("g"))    // exact confirm: false positives die here
      .groupBy("doc").agg(count(lit(1)).as("n_hits"))
    df.select(doc, size(shd).cast("long").as("n_shingles"))
      .join(hits, Seq("doc"), "left_outer")
      .select(col("doc"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          when(col("n_shingles") === 0, lit(null)).otherwise(col("n_shingles")), 4)
          .as("contamination"))
  }

  /** Contamination PROVENANCE — the audit behind [[contamination]]'s
    * per-doc counts: WHICH benchmark item overlaps which corpus doc,
    * and by how many shared n-grams. A decontamination decision
    * ("drop doc X") needs this to be reviewable; the aggregate alone
    * can't distinguish one heavy benchmark match from ten light ones.
    * Only pairs with ≥ `minShared` shared grams are emitted.
    *
    * Scale shape: same as the aggregate form — the benchmark side
    * ((gram, bench_doc), distinct) broadcasts, the corpus streams
    * through one scan, and the (doc, bench_doc) partial-agg count
    * collapses map-side. The output is bounded by true overlap, not
    * corpus size. */
  def contaminationProvenance(df: org.apache.spark.sql.DataFrame, idCol: String,
                              textCol: String,
                              benchmark: org.apache.spark.sql.DataFrame,
                              benchIdCol: String, benchTextCol: String,
                              shingleN: Int = 8,
                              minShared: Long = 1L): org.apache.spark.sql.DataFrame = {
    val benchShingles = benchmark
      .select(col(benchIdCol).as("bench_doc"),
        explode(array_distinct(shingles(tokens(col(benchTextCol)), shingleN))).as("g"))
      .distinct()
    df.select(col(idCol).as("doc"),
        explode(array_distinct(shingles(tokens(col(textCol)), shingleN))).as("g"))
      .join(broadcast(benchShingles), Seq("g"))
      .groupBy("doc", "bench_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SURGICAL decontamination — cut the benchmark-overlapping SPANS and
    * keep the document: a token position is removed iff it is covered
    * by an n-gram that also occurs in the benchmark set (the span-union
    * identity of [[exactRunDedupText]], with membership-in-benchmark as
    * the removal test instead of an earlier-doc test). Dropping whole
    * documents ([[contamination]] + filter) throws away everything a
    * long document knows because one quoted benchmark sentence rode
    * along; this removes exactly the overlapping runs.
    *
    * Scale shape: strictly simpler than the cross-doc cut — NO corpus
    * gram statistics at all: the benchmark gram set broadcasts (eval
    * suites are small by nature), the corpus streams through one scan,
    * and removal positions resolve map-side; then the shared in-row
    * span-union fold. Returns (doc, n_tokens, n_kept, clean_text). */
  def contaminationCutText(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String,
                           benchmark: org.apache.spark.sql.DataFrame,
                           benchTextCol: String,
                           n: Int): org.apache.spark.sql.DataFrame = {
    val L = n
    val base = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), col("ws"), shingles(col("ws"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val benchGrams = benchmark
      .select(explode(array_distinct(shingles(tokens(col(benchTextCol)), n))).as("g"))
      .distinct()
    val removePos = base.select(col("doc"), posexplode(col("sh")).as(Seq("pos", "g")))
      .join(broadcast(benchGrams), Seq("g"))
      .select("doc", "pos")
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long") + 1)).as("rs"))
    val covered = array_distinct(flatten(transform(col("rs"),
      s => sequence(s, s + (L - 1)))))
    base.join(removePos, Seq("doc"), "left_outer")
      .select(col("doc"), col("ws"), size(col("ws")).cast("long").as("n_tokens"),
        when(col("rs").isNull, array().cast("array<long>")).otherwise(covered).as("cov"))
      .select(col("doc"), col("n_tokens"),
        transform(array_except(sequence(lit(1L), col("n_tokens")), col("cov")),
          p => element_at(col("ws"), p.cast("int"))).as("kept"))
      .select(col("doc"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Quality metrics as (n_tokens, mean_token_len, stopword_ratio); zero
    * tokens ⇒ NULL ratios (ANSI nullif semantics on both engines). */
  /** Cross-document repeated n-gram coverage — the corpus-level signal
    * behind exact-substring dedup (spans that recur across documents are
    * the memorization risk; within-doc repetition is [[dupNgramFraction]]'s
    * job, so grams are deduplicated per doc first). Returns
    * (doc, n_shingles, n_crossdup, crossdup_frac) for every doc with at
    * least one n-gram.
    *
    * Scale shape: one explode of distinct per-doc grams, ONE shuffle on
    * the gram (min/max doc id per gram — map-side partial, no
    * count-distinct), and a join back on the gram. A gram is cross-doc
    * iff min(doc) ≠ max(doc): constant state per gram, no doc-list
    * accumulation, no quadratic pairing.
    *
    * The join-back build side is pinned to the AGGREGATED stats frame,
    * size-gated: Catalyst's static estimate for a post-Generate frame is
    * derived from the pre-explode scan bytes, so left to itself the
    * planner broadcast the 50×-larger exploded side (observed BuildLeft
    * at sf0.1 — rebuilding that broadcast per run was seconds of driver
    * work and GC-pressure variance). Stats is the side with provably ≤
    * one constant-width row per distinct gram; above the gate the join
    * degrades to the shuffle AQE re-plans from runtime sizes. */
  def crossDupCoverage(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       n: Int): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("gs"))
      .select(col("doc"), xxhash64(col("gs")).as("g"))
    val stats = sh.groupBy("g").agg(min("doc").as("_mind"), max("doc").as("_maxd"))
    val statsGated =
      if (stats.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
        broadcast(stats)
      else stats
    sh.join(statsGated, Seq("g"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_mind") =!= col("_maxd"), 1).otherwise(0)).as("n_crossdup"))
      .select(col("doc"), col("n_shingles"), col("n_crossdup"),
        round(col("n_crossdup").cast("double") / col("n_shingles"), 4).as("crossdup_frac"))
  }

  /** EXACT-substring cross-document coverage — the suffix-array-shaped
    * training-data operator ([[crossDupCoverage]] measures which fixed
    * n-grams recur; THIS measures which token POSITIONS sit inside an
    * exact repeated substring of ≥ `n` tokens shared with another
    * document, the thing substring dedup would actually cut).
    *
    * The identity that makes it distributed: a position is inside a
    * cross-document exact run of length ≥ n IFF some n-gram covering it
    * also occurs in another document (substrings of a shared substring
    * are shared; a shared n-gram IS a run of n). So the covered set is
    * the span-union of cross-doc-shared n-grams, EXACTLY — no suffix
    * array, no anchors-then-extend rounds. Returns one row per doc with
    * ≥ 1 n-gram: (doc, n_tokens, covered_tokens, covered_frac, max_run)
    * where max_run is the longest maximal covered region (two abutting
    * runs that overlap merge into one region — the region a dedup pass
    * would excise in one cut).
    *
    * Scale shape: one posexplode of per-doc n-grams, a partial-aggregated
    * groupBy on the gram for the min≠max cross-doc test (constant state
    * per gram, hot grams collapse in map-side partials), a join back on
    * the gram, and a per-doc sorted fold that is O(doc length) IN-ROW —
    * document-bounded, not corpus-bounded. The per-gram stats are
    * deliberately NOT a window over the gram partition: a window
    * partition is one task, so a stop-word-hot gram occurring in a
    * constant fraction of all documents would serialize into a single
    * sort at 100× (and no mechanism can split a window partition).
    *
    * The join back is skew-bounded DETERMINISTICALLY by a df-threshold
    * hot/cold split (the per-gram count rides the same partial agg for
    * free): grams with df ≥ `hotDf` resolve through a broadcast join
    * map-side and never enter any exchange — their positions are
    * cross-doc-covered by definition — while the cold shuffle join has
    * every key < `hotDf` rows by construction. Measured (PLANS.md,
    * "Round 7: hot-gram fix implemented"; one gram in 80% of 4M docs):
    * max-task record skew 5.9× (window) / 3.5× (plain join back, which
    * AQE can NOT split — OptimizeSkewedJoin doesn't match through the
    * aggregate+filter under the join) / 1.0× (this split). The
    * broadcast side is bounded: #grams with df ≥ K ≤ total gram rows /
    * K. Cross-doc filtering happens on the stats side BEFORE the join,
    * so single-doc grams never travel. At 100 TB, shuffle the md5 of
    * the gram instead of the string (the band-hash trick) to cut
    * exchange width; kept as strings here so the DuckDB twin is
    * byte-exact. */
  def exactRunCoverage(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       n: Int, hotDf: Long = 65536L): org.apache.spark.sql.DataFrame = {
    val L = n.toLong
    val doc = col(idCol).as("doc")
    val base = df.select(doc, tokens(col(textCol)).as("ws"))
      .select(col("doc"), size(col("ws")).cast("long").as("n_tokens"),
        shingles(col("ws"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // shuffle the gram's xxhash64, never the string (guide §2.3 narrow
    // keys — the scaladoc's "md5 trick", one better: 8 bytes, no alloc).
    // Collision calculus in [[crossDocPositions]].
    val pos = base.select(col("doc"), posexplode(col("sh")).as(Seq("pos", "gs")))
      .select(col("doc"), col("pos"), xxhash64(col("gs")).as("g"))
    val stats = pos.groupBy("g")
      .agg(min("doc").as("_mind"), max("doc").as("_maxd"), count(lit(1)).as("_cnt"))
      .filter(col("_mind") =!= col("_maxd"))
    val hot = stats.filter(col("_cnt") >= hotDf).select(col("g"), lit(1).as("_hot"))
    val cold = stats.filter(col("_cnt") < hotDf).select("g")
    val posH = pos.join(broadcast(hot), Seq("g"), "left_outer")
    // positions whose n-gram recurs in ANOTHER doc (hot: decided
    // map-side by the broadcast; cold: inner join — an un-joined
    // position is uncovered by definition), folded per doc into
    // (covered union size, longest merged region) in one in-row pass over
    // the sorted position list: intervals [p, p+n-1] merge iff the gap to
    // the previous position is ≤ n.
    val coveredPos = posH.filter(col("_hot") === 1).select("doc", "pos")
      .unionByName(posH.filter(col("_hot").isNull).join(cold, Seq("g")).select("doc", "pos"))
    val folded = coveredPos
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
      .select(col("doc"), aggregate(
        slice(col("ps"), lit(2), greatest(size(col("ps")) - 1, lit(0))),
        struct(element_at(col("ps"), 1).as("prev"),
          element_at(col("ps"), 1).as("cs"),
          lit(L).as("best"), lit(L).as("covered")),
        (acc, p) => {
          val gap = p - acc.getField("prev")
          val merge = gap <= L
          struct(p.as("prev"),
            when(merge, acc.getField("cs")).otherwise(p).as("cs"),
            greatest(acc.getField("best"),
              when(merge, p + lit(L) - acc.getField("cs")).otherwise(lit(L))).as("best"),
            (acc.getField("covered") + when(merge, gap).otherwise(lit(L))).as("covered"))
        }).as("f"))
      .select(col("doc"), col("f.covered").as("covered_tokens"),
        col("f.best").as("max_run"))
    base.select(col("doc"), col("n_tokens"))
      .join(folded, Seq("doc"), "left_outer")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"), 4)
          .as("covered_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  /** N-gram novelty scoring — the corpus-frequency quality signal: per
    * doc, the fraction of its distinct n-grams that occur in NO other
    * document (`novel_frac`) and the mean number of documents its grams
    * appear in (`mean_gram_df`). High novelty ≈ original content; low ≈
    * boilerplate/template (the df side of what [[crossDupCoverage]]
    * measures as a binary). Per-gram document frequency is one
    * partial-aggregated groupBy on the gram (docs' grams are deduped
    * first, so df = distinct-doc count without a count-distinct), joined
    * back to the doc's gram list — map-side-combinable on purpose: a
    * stop-word-like hot gram reduces in partials instead of sorting into
    * one window task. Returns (doc, n_grams, n_novel, novel_frac,
    * mean_gram_df) for docs with ≥ 1 n-gram. */
  def ngramNovelty(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                   n: Int): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
        explode(array_distinct(shingles(tokens(col(textCol)), n))).as("gs"))
      .select(col("doc"), xxhash64(col("gs")).as("g"))
    val dfreq = sh.groupBy("g").agg(count(lit(1)).as("_df"))
    sh.join(dfreq, Seq("g"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_novel"),
        sum(col("_df")).as("_dfsum"))
      .select(col("doc"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novel_frac"),
        round(col("_dfsum").cast("double") / col("n_grams"), 4).as("mean_gram_df"))
  }

  /** The CUT half of exact-substring dedup ([[exactRunCoverage]] is the
    * measure half): remove from each document every token span that
    * already appears in an EARLIER document (keep-first policy — the doc
    * with the smallest id keeps its text; later copies lose the shared
    * run), and return the cleaned token stream re-joined. A position is
    * removed iff some cross-doc n-gram covering it has min(doc) < this
    * doc — the same span-union identity as the coverage operator, with
    * the min-doc comparison playing the canonical-keep role.
    *
    * Returns (doc, n_tokens, n_kept, clean_text) for every doc with ≥ 1
    * n-gram; docs shorter than `n` have no grams and no row. Same scale
    * shape as [[exactRunCoverage]] (partial-agg groupBy on the gram +
    * df-threshold hot/cold split join back — hot grams carry min(doc)
    * in the broadcast, so the keep-first test runs map-side — not a
    * single-task-per-gram window), then the kept-token reassembly is an
    * in-row filter over the doc's own token array — document-bounded.
    *
    * The removal mask is built from SHINGLE positions folded in-row
    * (sorted start list → per-token containment via the carry of the
    * max covered end), not by exploding one row per covered token. */
  def exactRunDedupText(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                        n: Int, hotDf: Long = 65536L): org.apache.spark.sql.DataFrame = {
    val L = n
    val doc = col(idCol).as("doc")
    val base = df.select(doc, tokens(col(textCol)).as("ws"))
      .select(col("doc"), col("ws"), shingles(col("ws"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val pos = base.select(col("doc"), posexplode(col("sh")).as(Seq("pos", "gs")))
      .select(col("doc"), col("pos"), xxhash64(col("gs")).as("g"))
    // min(doc) per gram via partial-agg groupBy (hot grams collapse
    // map-side; a per-gram window would serialize them into one task).
    // Single-occurrence grams can never satisfy min(doc) < doc — filter
    // them off the build side before the join. Keys are the gram's
    // xxhash64 (collision calculus: [[crossDocPositions]]).
    val stats = pos.groupBy("g")
      .agg(min("doc").as("_mind"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1)
    // df-threshold hot/cold split (see exactRunCoverage): hot grams
    // carry their min(doc) in the broadcast so the earlier-doc test
    // runs map-side; the cold join's keys are < hotDf rows each.
    val hot = stats.filter(col("_cnt") >= hotDf).select(col("g"), col("_mind").as("_hmind"))
    val cold = stats.filter(col("_cnt") < hotDf).select("g", "_mind")
    val posH = pos.join(broadcast(hot), Seq("g"), "left_outer")
    // positions (1-based shingle index) whose gram occurs in an EARLIER doc
    val removePos = posH.filter(col("_hmind") < col("doc")).select("doc", "pos")
      .unionByName(posH.filter(col("_hmind").isNull).join(cold, Seq("g"))
        .filter(col("_mind") < col("doc")).select("doc", "pos"))
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long") + 1)).as("rs"))
    // removed token positions = union of [s, s+n-1] over removed-run
    // starts, materialized ONCE per row (shingle starts never pass the
    // doc end, so no clamp); the kept list is a hash-based array_except
    // — no per-token fold (an interpreted HOF fold per token would be
    // O(tokens × starts) per doc, the 80× re-evaluation trap).
    val covered = array_distinct(flatten(transform(col("rs"),
      s => sequence(s, s + (L - 1)))))
    base.join(removePos, Seq("doc"), "left_outer")
      .select(col("doc"), col("ws"), size(col("ws")).cast("long").as("n_tokens"),
        when(col("rs").isNull, array().cast("array<long>")).otherwise(covered).as("cov"))
      .select(col("doc"), col("n_tokens"),
        transform(array_except(sequence(lit(1L), col("n_tokens")), col("cov")),
          p => element_at(col("ws"), p.cast("int"))).as("kept"))
      .select(col("doc"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Within-document repetition CUT (de-looping) — keep-first over the
    * doc's own n-gram runs: a token position is removed iff it is
    * covered by an n-gram occurrence whose gram already appeared at an
    * EARLIER position of the SAME document. The cleaner for degenerate
    * generation loops and copy-pasted boilerplate inside one document —
    * the within-doc sibling of [[exactRunDedupText]] (which cuts
    * cross-document runs and leaves self-repetition alone).
    *
    * Scale shape: strictly easier than the cross-doc form — every key
    * is (doc, gram), so ALL state is document-scoped: no corpus-level
    * gram stats, no hot-gram risk, no df threshold needed. One
    * posexplode, one partial-agg groupBy on (doc, gram), one join back
    * on the same key, and the span-union reassembly fold shared with
    * the cross-doc operator (hash-based array_except, no per-token
    * interpreted fold). */
  def selfRepDedupText(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       n: Int): org.apache.spark.sql.DataFrame = {
    val L = n
    val base = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), col("ws"), shingles(col("ws"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val pos = base.select(col("doc"), posexplode(col("sh")).as(Seq("pos", "gs")))
      .select(col("doc"), col("pos"), xxhash64(col("gs")).as("g"))
    val firsts = pos.groupBy("doc", "g")
      .agg(min("pos").as("_first"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1)
    val removePos = pos.join(firsts, Seq("doc", "g"))
      .filter(col("pos") > col("_first"))
      .select("doc", "pos")
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long") + 1)).as("rs"))
    val covered = array_distinct(flatten(transform(col("rs"),
      s => sequence(s, s + (L - 1)))))
    base.join(removePos, Seq("doc"), "left_outer")
      .select(col("doc"), col("ws"), size(col("ws")).cast("long").as("n_tokens"),
        when(col("rs").isNull, array().cast("array<long>")).otherwise(covered).as("cov"))
      .select(col("doc"), col("n_tokens"),
        transform(array_except(sequence(lit(1L), col("n_tokens")), col("cov")),
          p => element_at(col("ws"), p.cast("int"))).as("kept"))
      .select(col("doc"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** CHARACTER-granularity exact-substring cross-document coverage —
    * the tier [[exactRunCoverage]]'s token n-grams provably miss:
    * duplicates perturbed by whitespace/punctuation INSIDE tokens
    * ("fox jumps" vs "fox,jumps") share no token n-gram yet share long
    * character runs — the Lee et al. 2022 suffix-array observation,
    * here via the same span-union identity at char offsets: a char
    * position sits inside a cross-doc exact run of ≥ k chars IFF some
    * char k-gram covering it occurs in another document. Returns one
    * row per doc with ≥ k chars: (doc, n_chars, covered_chars,
    * covered_frac, max_run).
    *
    * Scale shape: identical to [[exactRunCoverage]] — partial-agg
    * groupBy on the gram (min≠max doc test, constant state), hot/cold
    * df-threshold split so stop-gram keys never skew the join-back,
    * in-row sorted span-union fold — but the explode is ONE ROW PER
    * CHAR POSITION (~5× the token form). This all-positions variant is
    * the EXACT instrument the oracle can replay; at 100 TB run
    * [[charRunCoverageAnchored]], whose winnowed minimizer anchors cut
    * the exploded volume by ~w× with a deterministic ≥ k+w−1
    * detection guarantee. */
  def charRunCoverage(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      k: Int, hotDf: Long = 65536L): org.apache.spark.sql.DataFrame = {
    val base = charBase(df, idCol, textCol, k)
    // one linear pass per row (offsets + XXH64 per gram): the column
    // form's substr-per-position rescans the string per gram —
    // O(|text|²)/doc, measured 6.5 s warm over the sf0.1 corpus vs
    // ~1 s for this shape; keys are gram hashes, see
    // [[crossDocPositions]] for the collision calculus
    val pos = base.select(col("doc"),
      posexplode(charGramHashes(col("t"), k)).as(Seq("pos", "g")))
    charCoverageFold(base, crossDocPositions(pos, hotDf), k)
  }

  /** `array<long>`: element i = `xxhash64` of the k-char gram starting
    * at 1-based char position i+1 ([[graft.expressions.CharGramHashes]]). */
  private def charGramHashes(t: org.apache.spark.sql.Column, k: Int) = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.CharGramHashes(Bridge.expression(t), k))
  }

  /** [[charRunCoverage]]'s scale path: the per-position explode is
    * replaced by winnowed MINIMIZER anchors
    * ([[graft.expressions.CharMinimizers]] — leftmost md5-min k-gram
    * per w-window, content-determined so the same substring anchors
    * identically in every document). Volume drops ~w×; the guarantee
    * (Schleimer et al. winnowing): every cross-doc run of ≥ k + w − 1
    * chars shares at least one anchor, and with w ≤ k consecutive
    * in-run anchors sit ≤ w ≤ k apart, so the span-union fold merges
    * them into one region. Coverage is a LOWER BOUND of the exact
    * operator's (≤ w−1 chars of slack at each region edge, runs in
    * [k, k+w−1) may be missed entirely) — spec-pinned against
    * [[charRunCoverage]] on the same corpus. */
  def charRunCoverageAnchored(df: org.apache.spark.sql.DataFrame, idCol: String,
                              textCol: String, k: Int, w: Int,
                              hotDf: Long = 65536L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val base = charBase(df, idCol, textCol, k)
    val mins = Bridge.column(graft.expressions.CharMinimizers(
      Bridge.expression(col("t")), k, w))
    val pos = base.select(col("doc"), explode(mins).as("m"))
      .select(col("doc"), (col("m.pos") - 1).cast("int").as("pos"),
        xxhash64(col("m.g")).as("g"))
    charCoverageFold(base, crossDocPositions(pos, hotDf), k)
  }

  /** The CUT at character granularity (keep-first: the smallest doc id
    * keeps its text; later docs lose every char span some earlier doc
    * already contains) — [[exactRunDedupText]]'s sibling for the
    * sub-token duplication it cannot see. Returns (doc, n_chars,
    * n_kept, clean_text) per doc with ≥ k chars; the kept characters
    * re-join WITHOUT separators (char offsets, not tokens). Same scale
    * shape as [[charRunCoverage]]; reassembly is the shared hash-based
    * array_except span-union, document-bounded. */
  def charRunDedupText(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       k: Int, hotDf: Long = 65536L): org.apache.spark.sql.DataFrame = {
    val base = charBase(df, idCol, textCol, k)
    val pos = base.select(col("doc"),
      posexplode(charGramHashes(col("t"), k)).as(Seq("pos", "g")))
    val stats = pos.groupBy("g")
      .agg(min("doc").as("_mind"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1)
    val hot = stats.filter(col("_cnt") >= hotDf).select(col("g"), col("_mind").as("_hmind"))
    val cold = stats.filter(col("_cnt") < hotDf).select("g", "_mind")
    val posH = pos.join(broadcast(hot), Seq("g"), "left_outer")
    val removePos = posH.filter(col("_hmind") < col("doc")).select("doc", "pos")
      .unionByName(posH.filter(col("_hmind").isNull).join(cold, Seq("g"))
        .filter(col("_mind") < col("doc")).select("doc", "pos"))
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long") + 1)).as("rs"))
    val covered = array_distinct(flatten(transform(col("rs"),
      s => sequence(s, s + (k - 1)))))
    base.join(removePos, Seq("doc"), "left_outer")
      .select(col("doc"), col("t"), col("n_chars"),
        when(col("rs").isNull, array().cast("array<long>")).otherwise(covered).as("cov"))
      .select(col("doc"), col("n_chars"),
        transform(array_except(sequence(lit(1L), col("n_chars")), col("cov")),
          p => col("t").substr(p.cast("int"), lit(1))).as("kept"))
      .select(col("doc"), col("n_chars"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws("", col("kept")).as("clean_text"))
  }

  private def charBase(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, k: Int) =
    df.select(col(idCol).as("doc"),
        coalesce(col(textCol).cast("string"), lit("")).as("t"))
      .select(col("doc"), col("t"), length(col("t")).cast("long").as("n_chars"))
      .filter(col("n_chars") >= k)

  /** Positions whose gram occurs in ANOTHER document, via the shared
    * hot/cold df-threshold split (see [[exactRunCoverage]]). `pos` is
    * 0-based here (posexplode convention); the fold is
    * translation-invariant.
    *
    * Since round 16 the gram family keys these shuffles on
    * `xxhash64(gram)` instead of the gram string (guide §2.3: shuffle
    * fewer/narrower bytes — 8-byte fixed keys vs 20+-char strings on
    * BOTH the stats groupBy and the join-back, and long compares
    * instead of string compares everywhere downstream). Equality on
    * the hash admits false gram identities at rate ≈ G²/2^65 for G
    * distinct grams: ~7·10⁻⁵ expected collisions at the sf0.1 corpus
    * (none observed — the tri-scale oracles replay the raw-gram
    * grouping and hash-match), and at a 10¹³-gram corpus ~10⁻⁷ of
    * positions would be falsely marked covered — negligible for a
    * coverage instrument; use the md5 128-bit form if a guarantee-
    * grade key is ever needed. */
  private def crossDocPositions(pos: org.apache.spark.sql.DataFrame,
                                hotDf: Long): org.apache.spark.sql.DataFrame = {
    val stats = pos.groupBy("g")
      .agg(min("doc").as("_mind"), max("doc").as("_maxd"), count(lit(1)).as("_cnt"))
      .filter(col("_mind") =!= col("_maxd"))
    val hot = stats.filter(col("_cnt") >= hotDf).select(col("g"), lit(1).as("_hot"))
    val cold = stats.filter(col("_cnt") < hotDf).select("g")
    val posH = pos.join(broadcast(hot), Seq("g"), "left_outer")
    posH.filter(col("_hot") === 1).select("doc", "pos")
      .unionByName(posH.filter(col("_hot").isNull).join(cold, Seq("g")).select("doc", "pos"))
  }

  /** Per-doc span-union fold over covered 0-based gram-start positions
    * with span length `k`: (covered char count, longest merged region),
    * left-joined back onto `base` so uncovered docs report zero. */
  private def charCoverageFold(base: org.apache.spark.sql.DataFrame,
                               coveredPos: org.apache.spark.sql.DataFrame,
                               k: Int): org.apache.spark.sql.DataFrame = {
    val L = k.toLong
    val folded = coveredPos
      .groupBy("doc")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
      .select(col("doc"), aggregate(
        slice(col("ps"), lit(2), greatest(size(col("ps")) - 1, lit(0))),
        struct(element_at(col("ps"), 1).as("prev"),
          element_at(col("ps"), 1).as("cs"),
          lit(L).as("best"), lit(L).as("covered")),
        (acc, p) => {
          val gap = p - acc.getField("prev")
          val merge = gap <= L
          struct(p.as("prev"),
            when(merge, acc.getField("cs")).otherwise(p).as("cs"),
            greatest(acc.getField("best"),
              when(merge, p + lit(L) - acc.getField("cs")).otherwise(lit(L))).as("best"),
            (acc.getField("covered") + when(merge, gap).otherwise(lit(L))).as("covered"))
        }).as("f"))
      .select(col("doc"), col("f.covered").as("covered_tokens"),
        col("f.best").as("max_run"))
    base.select(col("doc"), col("n_chars"))
      .join(folded, Seq("doc"), "left_outer")
      .select(col("doc"), col("n_chars"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_chars"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_chars"), 4)
          .as("covered_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  /** BM25-shaped relevance top-k over the corpus for a literal term set
    * — the retrieval query a data pipeline runs to pull topical slices.
    * Classic Robertson weighting with ONE deliberate deviation: the idf
    * factor is the RATIONAL core `(N - df + 0.5) / (df + 0.5)` without
    * the log. Multiplication/division/addition are correctly rounded in
    * IEEE arithmetic, so Spark and any SQL oracle produce bit-identical
    * scores; `ln` is NOT correctly rounded and differs across libm
    * implementations (the same reason the temperature sampler uses sqrt,
    * not pow — see [[Sharding.flattenedKeepPermille]]). Per term the
    * transform is monotone in the textbook idf, and the multi-term sum
    * stays a reasonable relevance score — pinned exactly, documented
    * honestly.
    *
    * Scale shape: one corpus scan computes per-term tf and doc length;
    * the corpus-level stats (N, avg length, per-term document
    * frequencies) reduce to ONE row that broadcasts back; scoring is a
    * per-row projection and the top-k dies in TakeOrderedAndProject.
    * Two scans of the corpus total — the stats pass and the scoring
    * pass — which is the floor for corpus-normalized scoring. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("ws"), w => w === t)).cast("double").as(s"_tf$i")
    }
    val base = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(Seq(col("doc"), size(col("ws")).cast("double").as("_len")) ++ tfCols: _*)
    val stats = base.agg(
      count(lit(1)).cast("double").as("_n"),
      avg(col("_len")).as("_avg") +:
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1.0).otherwise(0.0)).as(s"_df$i")): _*)
    val score = terms.indices.map { i =>
      val idf = (col("_n") - col(s"_df$i") + 0.5) / (col(s"_df$i") + 0.5)
      val tf = col(s"_tf$i")
      idf * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_len") / col("_avg")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc"), col("_len").cast("long").as("n_tokens"),
        round(score, 4).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  /** BM25 corpus-statistics INDEX — the stored artifact that turns the
    * two-scan ranker ([[bm25TopK]]: stats pass + scoring pass) into a
    * ONE-scan serve path: `meta/` holds (n_docs, total_len) as exact
    * longs, `df/` the full document-frequency vocabulary (Heaps-law
    * bounded — orders of magnitude smaller than the corpus). The serve
    * path reads the handful of queried terms' dfs driver-side and
    * scores with literal constants: one corpus scan, TakeOrdered top-k,
    * zero aggregation — the search-index deployment shape. */
  def bm25IndexBuild(dir: String, docs: org.apache.spark.sql.DataFrame,
                     textCol: String): Unit = {
    val toks = docs.select(tokens(col(textCol)).as("ws"))
    toks.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(size(col("ws"))), lit(0L)).cast("long").as("total_len"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    toks.select(explode(array_distinct(col("ws"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df")
  }

  /** Incremental index update — the reason the stats live as exact
    * longs: doc counts, token totals and per-term dfs are all SUMS, so
    * folding a new batch in is associative long addition and
    * `build(A) then update(B)` is BIT-IDENTICAL to `build(A ∪ B)`
    * (spec-pinned; a float-carrying index could never promise that).
    * Cost is O(batch) + O(touched vocabulary) — the corpus is not
    * rescanned. New frames are materialized (localCheckpoint) before
    * the overwrite so the read side never races its own rewrite. */
  def bm25IndexUpdate(spark: org.apache.spark.sql.SparkSession, dir: String,
                      newDocs: org.apache.spark.sql.DataFrame,
                      textCol: String): Unit = {
    val toks = newDocs.select(tokens(col(textCol)).as("ws"))
    val meta = spark.read.parquet(s"$dir/meta")
      .unionByName(toks.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(size(col("ws"))), lit(0L)).cast("long").as("total_len")))
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("total_len").cast("long").as("total_len"))
      .localCheckpoint()
    val dfs = spark.read.parquet(s"$dir/df")
      .unionByName(toks.select(explode(array_distinct(col("ws"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
      .localCheckpoint()
    meta.write.mode("overwrite").parquet(s"$dir/meta")
    dfs.write.mode("overwrite").parquet(s"$dir/df")
  }

  /** Serve from the stored index: ONE corpus scan. Stats arrive as
    * literal doubles (exact integers, so `avgl = total/n` is the same
    * single division on any engine); terms absent from the vocabulary
    * get df = 0 — they simply score high-idf against docs that contain
    * them, matching the fresh-stats ranker on any corpus that contains
    * the term at all. */
  def bm25TopKStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                     corpus: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, terms: Seq[String], k: Int,
                     k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val metaRow = spark.read.parquet(s"$dir/meta").collect().head
    val (nDocs, totalLen) = (metaRow.getLong(0), metaRow.getLong(1))
    val dfMap = spark.read.parquet(s"$dir/df")
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = nDocs.toDouble
    val avgl = totalLen.toDouble / nDocs.toDouble
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("ws"), w => w === t)).cast("double").as(s"_tf$i")
    }
    val base = corpus.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(Seq(col("doc"), size(col("ws")).cast("double").as("_len")) ++ tfCols: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      val idf = (n - df + 0.5) / (df + 0.5)
      val tf = col(s"_tf$i")
      lit(idf) * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_len") / lit(avgl)))
    }.reduce(_ + _)
    base.select(col("doc"), col("_len").cast("long").as("n_tokens"),
        round(score, 4).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  /** Posting-list index — the last rung of the retrieval ladder (fresh
    * ranker: 2 corpus scans → stored stats: 1 scan → postings: NO
    * corpus scan at serve time): `postings/` holds (term, doc, tf, len)
    * BUCKET-partitioned by term hash, so a query's terms map to a
    * handful of disk partitions and the serve path reads only those —
    * at 100 TB the query cost is the postings of its terms, independent
    * of corpus size. Doc length is denormalized into every posting row
    * (a join back to the corpus for `len` would defeat the point).
    * Pairs with the [[bm25IndexBuild]] stats artifact for n/avgl/df. */
  def bm25PostingsBuild(dir: String, docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        nBuckets: Int = 64): Unit = {
    docs.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), size(col("ws")).cast("long").as("len"),
        explode(col("ws")).as("term"))
      .groupBy("doc", "len", "term").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
  }

  /** Incremental postings update: NEW documents append their posting
    * rows — (doc, term) keys of unseen docs can't collide with stored
    * rows, so the update is a pure partitioned APPEND, no merge, no
    * read of the existing index (contrast [[bm25IndexUpdate]], which
    * must fold df counters). Pair with [[bm25IndexUpdate]] for the
    * stats; build(A)+update(B) serves identically to build(A∪B)
    * (spec-pinned). Re-ingesting an already-indexed doc is the caller's
    * invariant to keep (the engine-side dedup/idempotence machinery —
    * TableStore manifests, StreamingDedup — exists for exactly that). */
  def bm25PostingsUpdate(dir: String, newDocs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         nBuckets: Int = 64): Unit = {
    newDocs.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), size(col("ws")).cast("long").as("len"),
        explode(col("ws")).as("term"))
      .groupBy("doc", "len", "term").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
  }

  /** Serve BM25 top-k from postings + the stats artifact. The read is
    * partition-pruned to the queried terms' buckets; per-doc tf columns
    * come from conditional aggregation (NOT a per-row score sum — the
    * final score must be the SAME term-ordered expression tree as
    * [[bm25TopK]], or float addition order would diverge from the
    * shared oracle). Docs containing none of the terms never appear —
    * exactly the fresh ranker's score>0 set. */
  def bm25TopKPostings(spark: org.apache.spark.sql.SparkSession, dir: String,
                       terms: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       nBuckets: Int = 64): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val metaRow = spark.read.parquet(s"$dir/meta").collect().head
    val (nDocs, totalLen) = (metaRow.getLong(0), metaRow.getLong(1))
    val dfMap = spark.read.parquet(s"$dir/df")
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = nDocs.toDouble
    val avgl = totalLen.toDouble / nDocs.toDouble
    val buckets = terms.map(t => hashBucketOf(spark, t, nBuckets)).distinct
    val posts = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val aggCols = first(col("len")).as("_len") +:
      terms.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(col("term") === t, col("tf"))), lit(0L))
          .cast("double").as(s"_tf$i")
      }
    val pivoted = posts.groupBy("doc").agg(aggCols.head, aggCols.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      val idf = (n - df + 0.5) / (df + 0.5)
      val tf = col(s"_tf$i")
      lit(idf) * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_len").cast("double") / lit(avgl)))
    }.reduce(_ + _)
    pivoted.select(col("doc"), col("_len").cast("long").as("n_tokens"),
        round(score, 4).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  /** The bucket a term's postings land in — computed THROUGH the engine
    * (one-row eval of the same `pmod(hash(term), n)` expression the
    * writer used), not a reimplementation that could drift. */
  private def hashBucketOf(spark: org.apache.spark.sql.SparkSession,
                           term: String, nBuckets: Int): Int =
    spark.range(1).select(pmod(hash(lit(term)), lit(nBuckets)).as("b"))
      .collect().head.getInt(0)

  /** Hybrid retrieval: BM25 lexical candidate generation ([[bm25TopK]],
    * top `kCand`) re-ranked by embedding cosine against ONE query vector
    * — the retrieve-then-rerank shape of RAG/eval pipelines. Docs
    * without an embedding row (partial coverage is the norm while a
    * backfill runs) KEEP their lexical standing with a null `cos_sim`,
    * ranked below every reranked doc (nulls-last) — they are not
    * silently dropped. Returns top `k` of (doc, n_tokens, score,
    * cos_sim), ordered (cos_sim desc nulls last, score desc, doc).
    *
    * Scale shape: the candidate frame is ≤ `kCand` rows, so the pass
    * over the full embedding table is an INNER join with the candidates
    * broadcast (BuildRight, streamed map-side — never a corpus-wide
    * shuffle, never a broadcast of anything embedding-sized); its
    * output — ≤ `kCand` cosine rows — is then the broadcast BUILD side
    * of the final left_outer, which Spark allows (a plain
    * `cands.join(emb, "left_outer")` could NOT broadcast its tiny
    * preserved LEFT side and would shuffle the whole embedding table). */
  def hybridRetrievalTopK(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                          terms: Seq[String],
                          emb: org.apache.spark.sql.DataFrame, embIdCol: String, embCol: String,
                          query: org.apache.spark.sql.DataFrame,
                          kCand: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val cands = bm25TopK(df, idCol, textCol, terms, kCand)
    // limit(1): a multi-row query frame would silently fan out the cosine
    // frame through the crossJoin and duplicate candidates in the output —
    // one query vector is the operator's contract, enforce it in the plan.
    val q = broadcast(query.select(col(embCol).as("_qvec")).limit(1))
    val cos = emb.select(col(embIdCol).as("doc"), col(embCol).as("_v"))
      .join(broadcast(cands.select("doc")), Seq("doc"))
      .crossJoin(q)
      .select(col("doc"),
        round(graft.operators.Similarity.cosine(col("_v"), col("_qvec")), 4).as("cos_sim"))
    cands.join(broadcast(cos), Seq("doc"), "left_outer")
      .select(col("doc"), col("n_tokens"), col("score"), col("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), desc("score"), asc("doc"))
      .limit(k)
  }

  /** Retrieval-quality evaluation — MRR@k / recall@k / NDCG@k of the
    * BM25 ranker against derived relevance labels (a doc is relevant to
    * a query iff it contains EVERY query term): the eval harness behind
    * any retrieval stage (BM25 candidate generation, hybrid rerank,
    * decontamination probes) — a ranker you can't score, you can't
    * tune. One row per query: `(qid, n_relevant, n_hits, rr, recall,
    * ndcg)`.
    *
    * Scale shape: ALL queries evaluate in ONE pass — the union of query
    * terms becomes tf columns of a single base scan (the [[bm25TopK]]
    * stats shape, batched), per-query scores explode from one array,
    * and per-query top-k runs through the bounded heap
    * ([[graft.expressions.BoundedCollect]] — NO per-query window sort,
    * so a query matching half the corpus can't serialize a task).
    * Metric discounts are a rank-indexed LITERAL table (1/log2(r+1)
    * precomputed at plan build, with its prefix sums for the ideal
    * DCG) — no transcendental evaluates at query time, so Spark and a
    * SQL oracle consume bit-identical constants (the surprisal-gate
    * doctrine). Relevance ⊆ {score>0} because every term present means
    * every rational idf term contributes positively. */
  def retrievalEval(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    queries: Seq[(String, Seq[String])], k: Int,
                    k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "need non-empty queries")
    val spark = df.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val tIdx = allTerms.zipWithIndex.toMap
    val tfCols = allTerms.zipWithIndex.map { case (t, i) =>
      size(filter(col("ws"), w => w === t)).cast("double").as(s"_tf$i")
    }
    val base = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(Seq(col("doc"), size(col("ws")).cast("double").as("_len")) ++ tfCols: _*)
    val stats = base.agg(
      count(lit(1)).cast("double").as("_n"),
      avg(col("_len")).as("_avg") +:
        allTerms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1.0).otherwise(0.0)).as(s"_df$i")): _*)
    val perQ = queries.map { case (qid, terms) =>
      val score = terms.map { t =>
        val i = tIdx(t)
        val idf = (col("_n") - col(s"_df$i") + 0.5) / (col(s"_df$i") + 0.5)
        val tf = col(s"_tf$i")
        idf * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_len") / col("_avg")))
      }.reduce(_ + _)
      val rel = terms.map(t => col(s"_tf${tIdx(t)}") > 0).reduce(_ && _)
      struct(lit(qid).as("qid"), round(score, 4).as("score"), rel.as("rel"))
    }
    val scored = base.crossJoin(broadcast(stats))
      .select(col("doc"), explode(array(perQ: _*)).as("q"))
      .select(col("doc"), col("q.qid").as("qid"), col("q.score").as("score"),
        col("q.rel").as("rel"))
      .filter(col("score") > 0)
    // literal discount table: weights(r) = 1/log2(r+1), 1-based; idcg(m) =
    // prefix sum of the first m weights — computed HERE, consumed as plain
    // double literals by both engines.
    val w = (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
    val idcg = w.scanLeft(0.0)(_ + _).tail
    val topk = scored.groupBy("qid")
      .agg(graft.expressions.BoundedCollect.boundedSortedCollect(
        struct((-col("score")).as("ns"), col("doc"), col("rel")), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("qid"), (col("_pos") + 1).cast("long").as("rank"),
        col("_t.rel").as("rel"))
    val hitAgg = topk.groupBy("qid").agg(
      sum(when(col("rel"), 1L).otherwise(0L)).as("n_hits"),
      min(when(col("rel"), col("rank"))).as("_minr"),
      sum(when(col("rel"),
        element_at(array(w.map(lit): _*), col("rank").cast("int")))
        .otherwise(0.0)).as("_dcg"))
    val relTotals = scored.groupBy("qid")
      .agg(sum(when(col("rel"), 1L).otherwise(0L)).as("n_relevant"))
    val qFrame = queries.map(_._1).toDF("qid")
    qFrame.join(relTotals, Seq("qid"), "left_outer")
      .join(hitAgg, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(lit(1.0) / col("_minr"), lit(0.0)), 4).as("rr"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          when(coalesce(col("n_relevant"), lit(0L)) === 0, lit(null))
            .otherwise(col("n_relevant")), 4).as("recall"),
        // index-0 guard: element_at is 1-based and THROWS at 0, so the
        // zero-relevant case must short-circuit to NULL before indexing
        round(when(coalesce(col("n_relevant"), lit(0L)) === 0, lit(null))
          .otherwise(col("_dcg") /
            element_at(array(idcg.map(lit): _*),
              least(col("n_relevant"), lit(k.toLong)).cast("int"))), 4)
          .as("ndcg"))
  }

  /** Linear bag-of-words quality classifier — the learned-filter stage
    * (GPT-3/LLaMA-style "quality classifier" gating) reduced to its
    * deployable core: `score = Σ_w count(w)·weight(w) / n_tokens`,
    * weights in INTEGER permille so the accumulation is exact long
    * arithmetic (a double sum is order-dependent in the last ulp and
    * can flip the last digit against a SQL oracle); the single closing
    * division of exact operands is IEEE-correctly-rounded, hence
    * bit-identical on every engine — and deliberately NOT decimal-
    * rounded after: `round(x, 4)` DIVERGES across engines on halfway
    * cases (raw/40000 = 0.03525 rounded 0.0353 by Java HALF_UP,
    * 0.0352 by DuckDB — measured at sf0.001). Returns
    * `(doc, n_tokens, n_hits, raw_permille, score, keep)` — the exact
    * long numerator rides along so downstream aggregations
    * ([[domainQuality]]) can re-derive corpus-weighted means in exact
    * arithmetic instead of summing order-dependent doubles; empty docs
    * score NULL and keep=false.
    *
    * Scale shape: tokens explode then broadcast-join the vocab (a real
    * classifier vocab is ~10⁵ rows — broadcast-sized by construction),
    * per-doc sums partial-aggregate map-side, zero-hit docs return via
    * one left join against the doc spine. No corpus-keyed shuffle other
    * than the per-doc agg; no UDF. */
  def classifierScore(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      weightsPermille: Map[String, Long], threshold: Double)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = weightsPermille.toSeq.toDF("w", "_wt")
    val toks = df.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("w"))
    val hits = toks.join(broadcast(vocab), Seq("w"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_hits"), sum("_wt").as("_raw"))
    df.select(col(idCol).as("doc"), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(hits, Seq("doc"), "left_outer")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("_raw"), lit(0L)).as("raw_permille"),
        (coalesce(col("_raw"), lit(0L)).cast("double") /
          (when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")) * 1000.0))
          .as("score"))
      .withColumn("keep", coalesce(col("score") >= threshold, lit(false)))
  }

  /** Unigram-LM surprisal gate — the perplexity-proxy quality filter
    * (KenLM-style in role, not in estimator), FP-parity-safe by
    * construction: per-word surprisal is the INTEGER bit length
    * `length(bin(total div cnt)) - 1` = floor(log2(total/cnt)) — exact
    * integer arithmetic, no transcendental whose last-ulp differs
    * across engines — accumulated per doc as exact long sums with ONE
    * closing IEEE division (the classifier doctrine). Low mean bits ≈
    * boilerplate (all hot words), high ≈ gibberish/OOV-dense; `keep`
    * is the two-sided band [minBits, maxBits].
    *
    * `lm`: optional `(w, cnt)` unigram counts to score under (a
    * held-out/reference LM — the decontamination-style separation);
    * None scores the corpus under itself. Words absent from an
    * external LM score as a count-1 word — floor(log2(total)) — the
    * exact-integer stand-in for add-one smoothing (no smoothing FP).
    *
    * Returns `(doc, n_tokens, raw_bits, mean_bits, keep)` — one row
    * per input doc (empty/null docs: n_tokens 0, mean null, keep
    * false).
    *
    * Scale shape: explode → partial-agg groupBy (doc, w) — a hot word
    * collapses map-side; vocab counts partial-agg on w; the totals
    * frame is ONE row (broadcast); vocab joins back size-gated
    * (Heaps-law small at driver scale, degrades to a shuffle join when
    * distinct-word stats exceed the gate). The (doc, w) frame feeds
    * both the vocab build and the join back, so the token scan
    * evaluates twice — the lineDedup posture; persist it at 100 TB if
    * the rescan dominates. */
  def surprisalScore(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                     minBits: Double, maxBits: Double,
                     lm: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val dw = df.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("w"))
      .groupBy("doc", "w").agg(count(lit(1)).cast("long").as("occ"))
    val counts = lm.getOrElse(dw.groupBy("w").agg(sum("occ").as("cnt")))
    val tot = counts.agg(sum("cnt").as("total"))
    val vocab = counts.crossJoin(broadcast(tot))
      .select(col("w"), (length(expr("bin(total div cnt)")) - 1).cast("long").as("bits"))
    // size-gated broadcast: hint only when Catalyst's own estimate says
    // the vocab is small; beyond the gate it degrades to a shuffle join
    val vocabSide =
      if (vocab.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)) broadcast(vocab)
      else vocab
    // unseen words (external LM only): surprisal of a count-1 word,
    // floor(log2(total)) — the one-row totals frame broadcasts
    val perDoc = dw.join(vocabSide, Seq("w"), "left_outer")
      .crossJoin(broadcast(tot))
      .groupBy("doc")
      .agg(sum(coalesce(col("bits"), (length(expr("bin(total)")) - 1).cast("long"))
          * col("occ")).as("_raw"),
        sum("occ").as("_n"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left_outer")
      .select(col("doc"),
        coalesce(col("_n"), lit(0L)).as("n_tokens"),
        coalesce(col("_raw"), lit(0L)).as("raw_bits"),
        (coalesce(col("_raw"), lit(0L)).cast("double") /
          when(coalesce(col("_n"), lit(0L)) === 0, lit(null))
            .otherwise(col("_n")).cast("double")).as("mean_bits"))
      .withColumn("keep",
        coalesce(col("mean_bits") >= minBits && col("mean_bits") <= maxBits, lit(false)))
  }

  /** Bigram-conditional surprisal gate — the second-order sibling of
    * [[surprisalScore]]: per word TRANSITION, bits =
    * floor(log2(ctx(w1) div big(w1, w2))), where `big` is the corpus
    * bigram count and `ctx` the count of transitions leaving w1 (so
    * ctx ≥ big ≥ 1 in the self-LM and bits is a non-negative integer —
    * exact arithmetic end-to-end, one closing IEEE division, the
    * FP-parity doctrine). A unigram model can't see scrambled word
    * order (same bag of words, same unigram surprisal); transitions
    * can. Docs with < 2 tokens: zero transitions, NULL mean, keep
    * false.
    *
    * Scale shape: (doc, w1, w2) partial agg; corpus bigram table from a
    * second partial agg; context counts from a third (the hottest
    * context collapses map-side); size-gated broadcast of the bigram LM
    * back, shuffle join beyond the gate. */
  def bigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      minBits: Double, maxBits: Double): org.apache.spark.sql.DataFrame = {
    val ws = tokens(col(textCol))
    val bi = df.select(col(idCol).as("doc"),
        posexplode(slice(ws, lit(1), greatest(size(ws) - 1, lit(0)))).as(Seq("_i", "w1")),
        ws.as("_ws"))
      .select(col("doc"), col("w1"),
        element_at(col("_ws"), col("_i") + 2).as("w2"))
      .groupBy("doc", "w1", "w2").agg(count(lit(1)).cast("long").as("occ"))
    val big = bi.groupBy("w1", "w2").agg(sum("occ").as("big"))
    val ctx = big.groupBy("w1").agg(sum("big").as("ctx"))
    val lm = big.join(ctx, Seq("w1"))
      .select(col("w1"), col("w2"),
        (length(expr("bin(ctx div big)")) - 1).cast("long").as("bits"))
    val lmSide =
      if (lm.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)) broadcast(lm)
      else lm
    val perDoc = bi.join(lmSide, Seq("w1", "w2"))
      .groupBy("doc")
      .agg(sum(col("bits") * col("occ")).as("_raw"), sum("occ").as("_n"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left_outer")
      .select(col("doc"),
        coalesce(col("_n"), lit(0L)).as("n_transitions"),
        coalesce(col("_raw"), lit(0L)).as("raw_bits"),
        (coalesce(col("_raw"), lit(0L)).cast("double") /
          when(coalesce(col("_n"), lit(0L)) === 0, lit(null))
            .otherwise(col("_n")).cast("double")).as("mean_bits"))
      .withColumn("keep",
        coalesce(col("mean_bits") >= minBits && col("mean_bits") <= maxBits, lit(false)))
  }

  /** Blocklist MINING — the closing of the URL-filtering loop: aggregate
    * the classifier verdict per referenced domain and flag domains whose
    * corpus-weighted mean score falls below `minScore` (a domain whose
    * pages consistently score badly is a blocklist candidate; this is
    * how domain blocklists are derived rather than hand-written).
    * `mean_score = Σ raw_permille / (Σ n_tokens · 1000)` — both sums are
    * exact long arithmetic, ONE closing IEEE division (summing per-doc
    * score doubles would be order-dependent and oracle-divergent).
    * A doc counts once per distinct referenced domain. Returns
    * `(domain, n_docs, mean_score, low_quality)`.
    *
    * Scale shape: one scored frame (the classifier's explode +
    * broadcast-vocab join), one (doc, domain) explode, one join on doc,
    * one partial-agg groupBy on domain — hot domains collapse map-side
    * because every aggregate is a plain sum/count. */
  def domainQuality(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    weightsPermille: Map[String, Long], minScore: Double)
      : org.apache.spark.sql.DataFrame = {
    val scored = classifierScore(df, idCol, textCol, weightsPermille, threshold = minScore)
    val doms = df.select(col(idCol).as("doc"),
      explode(array_distinct(urlDomains(col(textCol)))).as("domain"))
    doms.join(scored, Seq("doc"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum("raw_permille").as("_raw"), sum("n_tokens").as("_toks"))
      .select(col("domain"), col("n_docs"),
        (col("_raw").cast("double") /
          (when(col("_toks") === 0, lit(null)).otherwise(col("_toks")) * 1000.0))
          .as("mean_score"))
      .withColumn("low_quality", coalesce(col("mean_score") < minScore, lit(false)))
  }

  /** Lowercased URL hosts of a document — the input to domain-level
    * filtering (blocklists, per-domain caps, provenance stats: the
    * URL-filtering stage every web-corpus pipeline runs). The pattern is
    * deliberately RE2-simple (`https?://` then host charset) so Java
    * regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte; paths,
    * ports and query strings end the host at the first excluded char.
    * Per-row projection — rides the scan, no shuffle. */
  def urlDomains(text: Column): Column =
    regexp_extract_all(lower(text), lit("https?://([a-z0-9.-]+)"), lit(1))

  /** URL canonicalization — the frontier/seen-set identity a crawl
    * dedups on (RFC 3986 §6 normalization, the engine-portable subset):
    * scheme and host lowercase (path stays case-sensitive), fragment
    * dropped, default port stripped (`:80` http / `:443` https), empty
    * path normalized to `/`, query parameters SORTED byte-wise with
    * empty and `utm_*` tracking parameters dropped, `?` dropped when no
    * parameter survives. Percent-encoding is left untouched HERE;
    * compose [[urlPctNormalize]] in FRONT
    * (`urlCanonicalize(urlPctNormalize(url))`) to fold `%41`-style
    * unreserved escapes and uppercase the reserved ones (RFC 3986
    * §6.2.2). Since round 14 this is ONE codegen'd expression
    * ([[graft.expressions.UrlCanonicalize]]) rather than a
    * 4-regexp_extract column chain — the chain's tree got substituted
    * wholesale into every pushed-down predicate that referenced it
    * (a measured 66 KB filter condition in link discovery); the native
    * impl runs the SAME cached Java regex and UTF-8-byte-order sort,
    * so the RE2 SQL-oracle twin replays it verbatim as before.
    * Per-row, rides the scan, no shuffle. Non-URLs (no `scheme://`)
    * return NULL so callers can filter. */
  def urlCanonicalize(url: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.UrlCanonicalize(
        org.apache.spark.sql.graftbridge.Bridge.expression(url)))

  /** RFC 3986 §6.2.2 percent-encoding normalization as a codegen'd
    * char-level pass ([[graft.expressions.UrlPctNormalize]]):
    * unreserved escapes (`%41` → `A`, `%7E` → `~`) decode, reserved
    * escapes keep their meaning with UPPERCASED hex (`%2f` → `%2F`),
    * malformed `%` copies literally. Compose in front of
    * [[urlCanonicalize]] for the full normalization. */
  def urlPctNormalize(url: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.UrlPctNormalize(
        org.apache.spark.sql.graftbridge.Bridge.expression(url)))

  /** Resolve a (possibly relative) reference against an absolute base
    * URL — the `Location:` header case: RFC 9110 allows relative
    * redirect targets and real servers emit them constantly, so a
    * frontier that canonicalizes the raw header drops every one. The
    * RFC 3986 §5 subset that covers redirect practice — since round
    * 14 one codegen'd expression ([[graft.expressions.UrlResolve]]),
    * replaying the former column chain's exact Java∩RE2 patterns
    * (SQL-replayable like [[urlCanonicalize]], same substitution
    * rationale):
    *   - absolute ref (`scheme:`…) → the ref;
    *   - protocol-relative `//host/…` → base scheme + ref;
    *   - absolute path `/…` → base origin + ref;
    *   - query-only `?…` → base origin + base path + ref;
    *   - fragment-only `#…` → the base resource (full path AND query)
    *     + the new fragment;
    *   - relative path → base origin + base path DIRECTORY + ref,
    *     then dot-segment removal (`/./` and `seg/../` folded, a
    *     bounded 4-deep fixed point — deeper nesting than any real
    *     Location header) applied to the PATH portion only: a
    *     path-valued query parameter (`?return=/a/../b`) rides
    *     through untouched;
    *   - empty ref → the base (minus fragment, which the downstream
    *     canonicalize drops anyway).
    * NULL when the base has no `scheme://` and the ref is not itself
    * absolute (nothing to resolve against). Fragments ride along and
    * die in [[urlCanonicalize]]. */
  def urlResolve(base: Column, ref: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.UrlResolve(
        org.apache.spark.sql.graftbridge.Bridge.expression(base),
        org.apache.spark.sql.graftbridge.Bridge.expression(ref)))

  /** Internationalized hostname → ASCII-compatible (DNS wire) form:
    * per-label RFC 3492 Punycode under `xn--`, lowercased, pre-encoded
    * labels passing through — so the raw-UTF-8 and pre-encoded
    * spellings of one IDN host converge on ONE ledger key (the
    * [[graft.expressions.HostIdnEncode]] pinned semantics; null on
    * structural failure). Codegen'd expression, rides the scan. */
  def hostIdnEncode(host: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.HostIdnEncode(
        org.apache.spark.sql.graftbridge.Bridge.expression(host)))

  /** Display-form twin of [[hostIdnEncode]]: `xn--` labels decode back
    * to Unicode; null when a label fails to decode. */
  def hostIdnDecode(host: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.HostIdnDecode(
        org.apache.spark.sql.graftbridge.Bridge.expression(host)))

  /** SURT key (Sort-friendly URI Reordering Transform) — the sort order
    * crawl-archive lookup indexes (CDX) are keyed by: the host's labels
    * REVERSED and comma-joined, so every URL under one registrable
    * domain is one contiguous key range (`com,example,d7)/p1` …) and a
    * domain lookup is a prefix scan over a sorted index instead of a
    * full-index host parse. Transform subset: scheme dropped, host
    * lowercased and label-reversed, default port stripped (`:80` http /
    * `:443` https) with other ports kept as `host:port)`, empty path
    * normalized to `/`, fragment dropped, query kept verbatim (CDX
    * canonicalizers additionally sort/strip params — that belongs to
    * [[urlCanonicalize]], applied BEFORE keying when wanted). Pure
    * per-row expression chain in the Java∩RE2 regex subset; non-URLs
    * return NULL. */
  def urlSurt(url: Column): Column = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"
    val scheme = lower(regexp_extract(url, pat, 1))
    val hostPort0 = lower(regexp_extract(url, pat, 2))
    val hostPort = when(scheme === "http", regexp_replace(hostPort0, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort0, ":443$", ""))
      .otherwise(hostPort0)
    val hpPat = "^([^:]*)(:[0-9]+)?$"
    val host = regexp_extract(hostPort, hpPat, 1)
    val port = regexp_extract(hostPort, hpPat, 2)
    val path0 = regexp_extract(url, pat, 3)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(url, pat, 4)
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(
        array_join(reverse(split(host, "\\.")), ","), port, lit(")"), path,
        when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** Values of every `<tag>…</tag>` element, in document order — the
    * flat-XML extractor sitemap/feed ingestion needs (a sitemap is a
    * list of `<loc>`/`<lastmod>` leaves; nothing nests inside them).
    * Leaf elements only: the `[^<]*` body stops at any markup, so a
    * container element yields the empty string rather than swallowed
    * children. RE2-simple per the oracle doctrine; `tag` must be a
    * plain XML name (it is embedded in the pattern verbatim). */
  def xmlTagValues(xml: Column, tag: String): Column = {
    require(tag.nonEmpty && tag.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"tag must be a plain XML name: '$tag'")
    regexp_extract_all(xml, lit(s"<$tag>([^<]*)</$tag>"), lit(1))
  }

  /** Sitemap BYTES → XML text, decoding gzip by CONTENT when present:
    * sitemaps.org allows `sitemap.xml.gz` and large sites ship it, so
    * the fetch layer hands bytes, and the parse front end sniffs the
    * gzip magic rather than trusting a URL suffix (a `.xml` URL
    * serving gzip bytes is common misconfiguration). Plain bytes read
    * as UTF-8; gzip members concatenate
    * ([[graft.expressions.GzipTextExpr]], codegen'd); malformed
    * declared-gzip yields NULL so callers can quarantine. Compose as
    * `xmlTagValues(sitemapText(bytes), tag)`. */
  def sitemapText(bytes: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.GzipTextExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(bytes)))

  /** Link targets of an HTML document: every href/src attribute value —
    * the link graph a plain-text URL scan cannot see once tags are
    * stripped (the href URL never appears in the extracted text).
    * Markup-level sibling of [[urlDomains]]; feed each absolute target
    * back through it for the domain. RE2-simple by the same doctrine. */
  def htmlLinks(html: Column): Column =
    regexp_extract_all(html, lit("(?i)(?:href|src)=\"([^\"]*)\""), lit(1))

  /** `(target, text)` pairs of every `<a href="…">…</a>` element — the
    * anchor-TEXT signal ([[htmlLinks]] recovers only the targets):
    * what the web calls a page is training/ranking signal for the
    * TARGET document, so it must be extracted before tags strip (the
    * target vanishes) and attributed to the target, not the source.
    * Two same-pattern `regexp_extract_all` passes (group 1 = href,
    * group 2 = the leaf text, `[^<]*` so nested markup yields empty
    * rather than swallowed tags) zip positionally — both Java regex
    * and RE2 return matches in document order, so the zip is
    * engine-portable. Per-row projection, rides the scan. */
  def htmlAnchors(html: Column): Column = {
    val pat = "(?is)<a [^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
    arrays_zip(
      regexp_extract_all(html, lit(pat), lit(1)).as("target"),
      regexp_extract_all(html, lit(pat), lit(2)).as("text"))
  }

  /** Block-level main-content extraction — the jusText/Boilerpipe move
    * [[htmlExtract]] cannot make: a bare tag strip keeps nav bars,
    * related-links lists, and footers, which then poison dedup and
    * quality stats. Here the page (script/style elements and comments
    * already dropped) splits into BLOCKS at block-level tag boundaries,
    * and each block carries its visible text plus its anchor-text
    * length, so the classifier can gate on the two public-literature
    * signals: block length (short fragments are chrome) and LINK
    * DENSITY (anchor chars / text chars — nav and link lists are
    * mostly anchor text; article prose is not). Returns an array of
    * `(txt, alen)` structs — one per non-empty block, document order.
    * Pure per-row expression chain (split + transform + filter, no
    * explode, no shuffle) riding the scan at any corpus size; every
    * pattern is RE2-compatible so the DuckDB oracle replays it
    * verbatim (NULL-guard: DuckDB's regexp_extract_all yields NULL on
    * zero matches where Spark yields [], hence alen is computed, not
    * recomputed downstream). */
  def contentBlocks(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    // the tag NAME is anchored — `(?:\s[^>]*)?/?>` after it — so <link>
    // does not split via `li`, nor <picture>/<param>/<path>/<progress>
    // via `p`, <track> via `tr`: an inline <picture> inside a paragraph
    // must not fragment the prose below the minChars bar. RE2-compatible
    // (no lookahead), mirrored verbatim in the oracle fixtures.
    val blockPat = "(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|article|" +
      "header|footer|nav|aside|blockquote|pre|br)(?:\\s[^>]*)?/?>"
    val blocks = split(noComment, blockPat)
    val enriched = transform(blocks, b => {
      def toText(c: Column) =
        trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))
      // `<a(?:\s[^>]*)?>` — NOT `<a[^>]*>`, which also matches <abbr>,
      // <audio …>, <address> … and then lazily swallows everything to
      // the next literal </a>, inflating the anchor length of any
      // block that uses those tags.
      val anchorJoined = array_join(
        regexp_extract_all(b, lit("(?is)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)), " ")
      val txt = toText(b)
      struct(txt.as("txt"),
        length(toText(anchorJoined)).cast("long").as("alen"))
    })
    filter(enriched, s => length(s.getField("txt")) > 0)
  }

  /** The keep predicate of the content-block classifier, shared by
    * [[mainContent]] and the fixture queries so the gate logic exists
    * once: a block is MAIN CONTENT when it is long enough to be prose
    * (`minChars`), its link density stays under `maxLinkDensity`, and —
    * when a stopword list is supplied — its STOPWORD DENSITY clears
    * `minStopFrac` (jusText's third signal: a block of numbers, symbol
    * runs, or tag soup can be long and link-free yet carry no function
    * words; real prose in any covered language cannot). The block text
    * is already whitespace-collapsed and trimmed, so a bare
    * space-split yields clean word tokens. */
  def contentKeep(block: Column, minChars: Int = 25,
                  maxLinkDensity: Double = 0.33,
                  stopwords: Seq[String] = Nil,
                  minStopFrac: Double = 0.0): Column = {
    val txt = block.getField("txt")
    val base = length(txt) >= minChars &&
      block.getField("alen").cast("double") <=
        lit(maxLinkDensity) * length(txt).cast("double")
    if (stopwords.isEmpty) base
    else {
      val ws = split(lower(txt), " ")
      val frac = size(filter(ws, w => w.isin(stopwords: _*))).cast("double") /
        size(ws).cast("double")
      base && frac >= lit(minStopFrac)
    }
  }

  /** Language-dispatched [[contentKeep]] — full jusText: the stopword
    * tier only means anything with the RIGHT language's function
    * words, so the set is chosen per row by the document's language
    * (label or langid output). `sets` is an ordered (lang → stopwords)
    * list compiled into a CASE chain; a language with no entry (CJK —
    * no space-delimited function words) falls through to length +
    * link density only, which is the published jusText posture for
    * those scripts. Stays a pure per-row predicate: the lambda
    * captures the outer `lang` column, so the dispatch rides the same
    * scan as the block split. */
  def contentKeepByLang(block: Column, lang: Column,
                        sets: Seq[(String, Seq[String])],
                        minChars: Int = 25, maxLinkDensity: Double = 0.33,
                        minStopFrac: Double = 0.0): Column = {
    val txt = block.getField("txt")
    val ws = split(lower(txt), " ")
    def frac(sw: Seq[String]) =
      size(filter(ws, w => w.isin(sw: _*))).cast("double") /
        size(ws).cast("double")
    val tier = sets.foldRight(lit(true)) { case ((lg, sw), els) =>
      when(lang === lg, frac(sw) >= lit(minStopFrac)).otherwise(els)
    }
    contentKeep(block, minChars, maxLinkDensity) && tier
  }

  /** Content-block classifier over [[contentBlocks]]: keeps the blocks
    * [[contentKeep]] accepts (length + link density, plus the optional
    * jusText stopword tier when `stopwords` is non-empty) and returns
    * them joined by newlines — the page's article text, with
    * nav/related/footer chrome gone. */
  def mainContent(html: Column, minChars: Int = 25,
                  maxLinkDensity: Double = 0.33,
                  stopwords: Seq[String] = Nil,
                  minStopFrac: Double = 0.0): Column = {
    val kept = filter(contentBlocks(html),
      contentKeep(_, minChars, maxLinkDensity, stopwords, minStopFrac))
    array_join(transform(kept, _.getField("txt")), "\n")
  }

  /** The C4 cleaning rule set (Raffel et al. 2020 §2.2) as one
    * per-document projection — the named filter family beside the
    * Gopher gates: line tier keeps only lines that (a) are non-blank,
    * (b) carry at least `minWordsPerLine` words, (c) end in a terminal
    * punctuation mark (. ! ? or closing quote), and (d) do not mention
    * "javascript" (the lost-interactivity banner); document tier then
    * drops any page whose RAW text contains "lorem ipsum" (template
    * placeholder) or a curly brace (code), and any page whose KEPT
    * lines carry fewer than `minSentences` sentence terminators.
    * Returns (id, n_lines, n_kept, n_sentences, verdict, clean_text)
    * with verdict ∈ {kept, lorem_ipsum, curly_brace,
    * too_few_sentences} in C4's gate order. Corpus-frequency
    * boilerplate-line removal and three-sentence-span dedup — the rest
    * of the C4 pass — are [[graft.operators.Dedup.lineDedupCorpus]] and
    * [[graft.operators.Dedup.paragraphDedup]]; this operator is the
    * per-row half, a pure expression chain with no shuffle, and every
    * predicate has an exact DuckDB twin. */
  def c4Filter(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               minWordsPerLine: Int = 3, minSentences: Int = 5): org.apache.spark.sql.DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    // Split on `\r?\n`, not bare `\n`: a CRLF document would otherwise
    // leave `\r` on every line end and the terminal-punctuation check
    // would drop ALL of its lines. Reassembly normalizes to LF.
    val keptArr = filter(split(raw, "\r?\n"), l => {
      val t = trim(l)
      // \z, not $: Java's $ also matches before a trailing \r or
      // U+2028/U+2029 (a bare-CR line survives \r?\n splitting), while
      // the oracle's RE2 $ is end-of-string only — \z matches RE2.
      (t =!= "") &&
        (size(split(t, "\\s+")) >= minWordsPerLine) &&
        t.rlike("[.!?\"]\\z") &&
        !lower(t).contains("javascript")
    })
    val clean = array_join(keptArr, "\n")
    df.select(col(idCol),
        col(textCol),
        size(split(raw, "\r?\n")).cast("long").as("n_lines"),
        size(keptArr).cast("long").as("n_kept"),
        clean.as("clean_text"))
      .withColumn("n_sentences",
        (size(split(col("clean_text"), "[.!?]")) - 1).cast("long"))
      .withColumn("verdict",
        when(lower(col(textCol)).contains("lorem ipsum"), "lorem_ipsum")
          .when(col(textCol).contains("{"), "curly_brace")
          .when(col("n_sentences") < minSentences, "too_few_sentences")
          .otherwise("kept"))
      .drop(textCol)
  }

  /** Document-metadata sidecar — the provenance record a corpus keeps
    * NEXT TO the extracted text (title for display/dedup heuristics,
    * canonical URL for revisit collapse, og:title for social-mirror
    * detection, the html lang attribute as the langid prior):
    * `(title, lang_attr, meta_desc, og_title, canonical)`, empty
    * strings when absent. Meta/link attributes extract in TWO steps —
    * grab the whole tag by its identifying attribute, then the value
    * attribute from the tag — so both attribute orders
    * (`name= … content=` and `content= … name=`) resolve; a one-step
    * pattern silently loses the flipped order, which real generators
    * emit. Double-quoted attributes only (the overwhelmingly dominant
    * serialization); single-quoted pages yield empty fields, never
    * wrong ones. Pure per-row projection, RE2-compatible patterns. */
  def htmlMeta(html: Column): Column = {
    def tagAttr(tagPat: String, attr: String) =
      regexp_extract(regexp_extract(html, tagPat, 0),
        "(?is)\\s" + attr + "=\"([^\"]*)\"", 1)
    struct(
      trim(regexp_replace(
        regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1),
        "\\s+", " ")).as("title"),
      regexp_extract(html, "(?is)<html[^>]*\\slang=\"([^\"]*)\"", 1).as("lang_attr"),
      tagAttr("(?is)<meta[^>]*\\sname=\"description\"[^>]*>", "content").as("meta_desc"),
      tagAttr("(?is)<meta[^>]*\\sproperty=\"og:title\"[^>]*>", "content").as("og_title"),
      tagAttr("(?is)<link[^>]*\\srel=\"canonical\"[^>]*>", "href").as("canonical"))
  }

  /** PAGE-level robots directives — the per-document half of the
    * robots contract ([[Robots]] owns the site-level robots.txt):
    * `<meta name="robots" content="noindex, nofollow">` and the
    * `X-Robots-Tag` response header, folded into ONE
    * `struct(noindex, nofollow)` verdict a crawl gates on (`noindex`
    * bars corpus admission, `nofollow` bars the page's links from the
    * frontier).
    *
    * Pinned semantics (mirrors the robots.txt precedence doctrine):
    *   - meta names are matched case-insensitively in BOTH attribute
    *     orders (the [[htmlMeta]] two-step doctrine); an
    *     agent-specific meta (`name="<agent>"`) PREEMPTS the generic
    *     `name="robots"` level entirely when present — declaring for
    *     the specific crawler is the more specific rule;
    *   - within the winning meta level, multiple tags UNION their
    *     tokens (most-restrictive wins, the standard reading);
    *   - header lines (multiple `X-Robots-Tag` instances arrive
    *     newline-joined) apply when UNPREFIXED or prefixed with
    *     `<agent>:`; an alien `otherbot:` prefix drops the line. A
    *     leading colon-PARAMETERIZED directive (`max-snippet: 20,
    *     noindex` / `unavailable_after: <date>, noindex`) is NOT an
    *     agent prefix — the token before the colon is checked against
    *     the known directive names first, so directives sharing such
    *     a line still apply (dropping them would invert the
    *     most-restrictive-wins union);
    *   - header and meta verdicts UNION (a page is noindex if EITHER
    *     channel says so);
    *   - tokens split on commas, trim, lowercase; `none` =
    *     noindex + nofollow; `index`/`follow`/`all` are no-ops
    *     (nothing un-restricts).
    *
    * The meta scan only needs the ASCII tag bytes, so callers may feed
    * an ASCII-compatible lossy decode where the full charset gate
    * would be overkill. Pure per-row Column expressions, no UDF. */
  def pageRobots(html: Column, xRobotsTag: Column, agent: String): Column = {
    require(agent.nonEmpty && agent.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"agent must be a plain token: '$agent'")
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    def metaTokens(name: String): Column = {
      val tags = regexp_extract_all(html,
        lit(s"(?is)<meta[^>]*\\sname=\"$name\"[^>]*>"), lit(0))
      val contents = transform(tags,
        t => regexp_extract(t, "(?is)\\scontent=\"([^\"]*)\"", 1))
      filter(transform(split(lower(array_join(contents, ",")), ","), trim(_)),
        _ =!= "")
    }
    val agentMeta = metaTokens(agentLc)
    val genericMeta = metaTokens("robots")
    val meta = when(size(agentMeta) > 0, agentMeta).otherwise(genericMeta)
    val linePat = "^\\s*([A-Za-z0-9_.-]+)\\s*:(.*)$"
    // REP directive names that legally take a colon parameter or could
    // lead a line: a prefix matching one of these is a DIRECTIVE, not
    // an agent name
    val knownDirectives = Seq("noindex", "nofollow", "none", "all", "index",
      "follow", "noarchive", "nosnippet", "notranslate", "noimageindex",
      "max-snippet", "max-image-preview", "max-video-preview",
      "unavailable_after")
    val hdrLines = split(coalesce(xRobotsTag, lit("")), "\n")
    val applicable = transform(hdrLines, l => {
      val pref = lower(regexp_extract(l, linePat, 1))
      val rest = regexp_extract(l, linePat, 2)
      when(pref.isin(knownDirectives: _*), l) // directive, not a prefix
        .when(pref === lit(agentLc), rest)
        .when(pref === "", l)
        .otherwise(lit(""))
    })
    val hdrToks = filter(
      transform(split(lower(array_join(applicable, ",")), ","), trim(_)),
      _ =!= "")
    val toks = concat(meta, hdrToks)
    struct(
      array_contains(toks, "noindex").||(array_contains(toks, "none"))
        .as("noindex"),
      array_contains(toks, "nofollow").||(array_contains(toks, "none"))
        .as("nofollow"))
  }

  /** HTML meta-refresh redirect — the third redirect channel beside
    * the 3xx `Location:` header and `<link rel=canonical>`: real
    * pages ship `<meta http-equiv="refresh" content="0; url=/next">`
    * and a crawler that ignores it keeps indexing the husk. Returns
    * `struct(has_refresh, delay_s, target)` under pinned semantics:
    *
    *   - the tag is matched case-insensitively in BOTH attribute
    *     orders (the [[htmlMeta]] two-step doctrine), double-quoted
    *     attributes only;
    *   - `content` = `N [; url=TARGET]`: the leading integer is the
    *     delay (null when absent/malformed — real pages write junk),
    *     `url=` is case-insensitive with optional whitespace, the
    *     target may be wrapped in single or double quotes (both
    *     tolerated, stripped);
    *   - the target resolves against the page URL through
    *     [[urlResolve]] (relative targets are the common case);
    *     a delay-only refresh (`content="300"` self-reload) has
    *     has_refresh = true and null target — it is a reload hint,
    *     not a redirect;
    *   - callers treating refresh as a redirect edge should gate on
    *     a small delay (the crawl convention: instant-refresh pages
    *     are redirects, long timers are content) — the struct carries
    *     the delay so the policy stays caller-side.
    *
    * Pure per-row Column expressions, no UDF, rides the scan. */
  def metaRefresh(html: Column, pageUrl: Column): Column = {
    val tag = regexp_extract(html,
      "(?is)<meta[^>]*\\shttp-equiv=\"refresh\"[^>]*>", 0)
    val content = regexp_extract(tag, "(?is)\\scontent=\"([^\"]*)\"", 1)
    val delay = when(content.rlike("^\\s*[0-9]"),
      regexp_extract(content, "^\\s*([0-9]+)", 1).cast("int"))
    val rawTarget = trim(regexp_extract(content,
      "(?is)^[^;]*;\\s*url\\s*=\\s*(.*)$", 1))
    val unquoted = regexp_replace(rawTarget, "^['\"]|['\"]$", "")
    struct(
      (tag =!= "").as("has_refresh"),
      delay.as("delay_s"),
      when(length(unquoted) > 0, urlResolve(pageUrl, unquoted)).as("target"))
  }

  /** Feed format of a fetched XML payload: `atom` (root `<feed`),
    * `rss` (root `<rss` or a bare `<channel`), else `none`. The cheap
    * router in front of [[feedEntries]]. */
  def feedKind(xml: Column): Column =
    when(xml.rlike("(?is)<feed[\\s>]"), "atom")
      .when(xml.rlike("(?is)<rss[\\s>]|<channel[\\s>]"), "rss")
      .otherwise("none")

  /** RSS 2.0 / Atom entry extraction — feeds are the crawl's change
    * notification channel (sitemaps declare, feeds announce): each
    * entry yields `struct(title, url, published)` with the link
    * RESOLVED against the feed URL ([[urlResolve]] — relative links
    * are common in hand-rolled RSS). Pinned semantics:
    *
    *   - RSS items are `<item>…</item>` blocks: `<link>` leaf text,
    *     `<title>` leaf, `<pubDate>` leaf;
    *   - Atom entries are `<entry>…</entry>` blocks: the FIRST
    *     `<link>` tag's `href` (real feeds list rel=alternate first;
    *     both attribute orders via the [[htmlMeta]] two-step
    *     doctrine), `<title>` leaf, `<updated>` leaf;
    *   - `published` is returned as the RAW string — timestamp
    *     parsing (RFC 822 vs ISO 8601 vs junk) is caller policy, and
    *     a codec that guesses wrong silently corrupts recency
    *     signals;
    *   - an entry with no link yields a null url (never the feed URL
    *     itself — [[urlResolve]]'s empty-ref-returns-base rule would
    *     launder linkless entries into self-links).
    *
    * Pure per-row Column expressions, no UDF; one feed document in,
    * one array out — callers explode. */
  def feedEntries(xml: Column, feedUrl: Column): Column = {
    def leaf(item: Column, tag: String): Column =
      regexp_extract(item, s"(?is)<$tag[^>]*>(.*?)</$tag>", 1)
    val items = regexp_extract_all(xml,
      lit("(?is)<item[\\s>].*?</item>"), lit(0))
    val entries = regexp_extract_all(xml,
      lit("(?is)<entry[\\s>].*?</entry>"), lit(0))
    val rssStructs = transform(items, it => struct(
      leaf(it, "title").as("title"),
      leaf(it, "link").as("link"),
      leaf(it, "pubDate").as("published")))
    val atomStructs = transform(entries, it => struct(
      leaf(it, "title").as("title"),
      regexp_extract(regexp_extract(it, "(?is)<link[^>]*>", 0),
        "(?is)\\shref=\"([^\"]*)\"", 1).as("link"),
      leaf(it, "updated").as("published")))
    val kind = feedKind(xml)
    val raw = when(kind === "atom", atomStructs)
      .when(kind === "rss", rssStructs)
      .otherwise(slice(rssStructs, 1, 0)) // typed empty array
    transform(raw, e => struct(
      e.getField("title").as("title"),
      when(length(e.getField("link")) > 0,
        urlResolve(feedUrl, e.getField("link"))).as("url"),
      e.getField("published").as("published")))
  }

  /** Suffix-aware blocklist membership: `d` is blocked when it equals a
    * blocklist entry or is a subdomain of one (`ads.tracker.net` matches
    * `tracker.net` — the semantics real blocklists assume). The list
    * compiles into an OR chain of literal comparisons — tiny lists are
    * the norm; a million-entry blocklist would broadcast-join instead. */
  def domainBlocked(domain: Column, blocklist: Seq[String]): Column =
    blocklist.map(b => domain === b || domain.endsWith("." + b))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Per-domain corpus profile: `(domain, n_urls, n_docs, blocked)`,
    * the table a curation run eyeballs before committing a blocklist.
    * Scale shape: distinct-doc counts go through (domain, doc) dedup +
    * plain count — two partial-aggregated groupBys, NO count-distinct
    * Expand — so a hot domain (half the web sits on a few hosts)
    * collapses map-side in both passes. The exploded frame is evaluated
    * once per consumer (2 text scans; persist it at 100 TB if the
    * rescan dominates — same documented posture as lineDedupCorpus). */
  def urlDomainProfile(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       blocklist: Seq[String]): org.apache.spark.sql.DataFrame = {
    val u = df.select(col(idCol).as("doc"), explode(urlDomains(col(textCol))).as("domain"))
    val nUrls = u.groupBy("domain").agg(count(lit(1)).as("n_urls"))
    val nDocs = u.select("domain", "doc").distinct()
      .groupBy("domain").agg(count(lit(1)).as("n_docs"))
    nUrls.join(nDocs, Seq("domain"))
      .withColumn("blocked", domainBlocked(col("domain"), blocklist))
  }

  /** Doc-level blocklist gate: `(doc, n_urls, blocked)` — drop-in
    * filter stage (`keep = !blocked`). One projection, no shuffle. */
  def urlBlocklistGate(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       blocklist: Seq[String]): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc"), urlDomains(col(textCol)).as("_ds"))
      .select(col("doc"), size(col("_ds")).cast("long").as("n_urls"),
        coalesce(exists(col("_ds"), d => domainBlocked(d, blocklist)), lit(false)).as("blocked"))

  /** Redact common PII shapes before training: emails, IPv4 addresses,
    * and long digit runs (account/card/id numbers) become typed
    * placeholders. Patterns are deliberately POSIX-simple so Java regex
    * (Spark) and RE2 (DuckDB, the oracle) agree byte-for-byte; order
    * matters (emails first — an address can contain digit runs; IPs
    * before bare digit runs for the same reason). One codegen'd
    * regexp_replace chain, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
      "\\b\\d{9,}\\b", "<NUM>")

  /** PII DETECTION profile — the audit in front of [[redactPii]]: per-doc
    * match counts per PII class (`n_emails`, `n_ips`, `n_longnums`) and
    * a `has_pii` flag, as one struct column. A privacy review needs the
    * class-level counts (how much PII, of what kind, where) before the
    * redaction decision; the replace chain alone destroys that signal.
    * Pattern literals are IDENTICAL to [[redactPii]]'s, and the counting
    * respects the same precedence hazard: emails are counted on the raw
    * text, IPs after emails are masked (an address's host can't donate
    * an IP-shaped substring), digit runs after both (an email local-part
    * or IP octet run can't count as an account number). Pure codegen'd
    * expression chain — rides the scan, no shuffle, no UDF. */
  def piiProfile(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val num = "\\b\\d{9,}\\b"
    val noEmail = regexp_replace(text, email, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ip, "<IP>")
    val nEmails = size(regexp_extract_all(text, lit(email), lit(0))).cast("long")
    val nIps = size(regexp_extract_all(noEmail, lit(ip), lit(0))).cast("long")
    val nNums = size(regexp_extract_all(noIp, lit(num), lit(0))).cast("long")
    struct(
      nEmails.as("n_emails"),
      nIps.as("n_ips"),
      nNums.as("n_longnums"),
      (nEmails + nIps + nNums > 0).as("has_pii"))
  }

  /** Gopher-rule document quality gate (Rae et al. 2021 §A1.1, the
    * public rule set every big corpus pipeline starts from): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio (`#` and
    * `...`), bullet-line and ellipsis-line fractions, fraction of words
    * with an alphabetic character, and a required minimum number of
    * DISTINCT stopword types present. Returns ONE struct column with the
    * raw metrics, a boolean per rule, and the conjunction `keep` — so a
    * pipeline can either filter on `keep` or report per-rule rejection
    * counts from the same pass.
    *
    * Shape: pure column expressions over the row (one whole-stage-codegen
    * projection, no shuffle, no UDF); per-doc work is O(doc length).
    * Ratio denominators are nullif-guarded — an empty doc fails the
    * word-count rule rather than tripping a NULL/NaN engine divergence
    * (booleans coalesce NULL metrics to false). */
  def gopherFilters(text: Column,
                    stopwords: Seq[String] =
                      Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                    minWords: Long = 50L, maxWords: Long = 100000L,
                    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1,
                    maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                    minAlphaFrac: Double = 0.8, minStopHits: Long = 2L): Column = {
    val ws = tokens(text)
    val n = size(ws).cast("long")
    val denom = when(n === 0L, lit(null)).otherwise(n)
    val meanLen =
      aggregate(transform(ws, w => length(w).cast("long")), lit(0L), (a, v) => a + v)
        .cast("double") / denom
    // occurrence counts via the length-difference identity (replace is
    // left-to-right non-overlapping in both engines)
    val symCnt = (length(text) - length(replace(text, lit("#"), lit("")))).cast("double") +
      (length(text) - length(replace(text, lit("..."), lit("")))).cast("double") / 3.0
    val symRatio = symCnt / denom
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac =
      size(filter(lines, l => substring(ltrim(l), 1, 1).isin("-", "*"))).cast("double") / nLines
    val ellipsisFrac =
      size(filter(lines, l => l.endsWith("..."))).cast("double") / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / denom
    val stopHits =
      size(filter(array(stopwords.map(lit): _*), s => array_contains(ws, s))).cast("long")
    val passWords = n >= minWords && n <= maxWords
    val passMeanLen = coalesce(meanLen >= minMeanLen && meanLen <= maxMeanLen, lit(false))
    val passSymbol = coalesce(symRatio <= maxSymbolRatio, lit(false))
    val passBullet = bulletFrac <= maxBulletFrac
    val passEllipsis = ellipsisFrac <= maxEllipsisFrac
    val passAlpha = coalesce(alphaFrac >= minAlphaFrac, lit(false))
    val passStop = stopHits >= minStopHits
    struct(
      n.as("n_words"), round(meanLen, 4).as("mean_word_len"),
      round(symRatio, 4).as("symbol_ratio"), round(bulletFrac, 4).as("bullet_frac"),
      round(ellipsisFrac, 4).as("ellipsis_frac"), round(alphaFrac, 4).as("alpha_frac"),
      stopHits.as("stop_hits"),
      passWords.as("pass_words"), passMeanLen.as("pass_mean_len"),
      passSymbol.as("pass_symbol"), passBullet.as("pass_bullet"),
      passEllipsis.as("pass_ellipsis"), passAlpha.as("pass_alpha"),
      passStop.as("pass_stop"),
      (passWords && passMeanLen && passSymbol && passBullet &&
        passEllipsis && passAlpha && passStop).as("keep"))
  }

  /** Vocabulary growth curve (the Heaps'-law audit): bucket the corpus
    * into `nBuckets` contiguous id ranges and count how many DISTINCT
    * words make their FIRST appearance in each — `(bucket, new_words,
    * cum_vocab)`, one row per bucket including empty ones. A flattening
    * curve means vocabulary saturation (more data, few new types — a
    * diversity ceiling); a linear one means the corpus keeps supplying
    * novelty. First occurrence is `min(doc)` per word — a partial-agg
    * groupBy where the hottest word collapses map-side — and the only
    * window runs over the nBuckets-row aggregate, so no per-word or
    * per-doc state ever serializes. Bucket arithmetic is exact integer
    * (`first_doc * nBuckets div (max_id + 1)`), reproducible in any
    * engine. */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 10): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val firsts = df.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(min("doc").as("first_doc"))
    val maxId = df.agg(max(col(idCol)).as("max_id"))
    val perBucket = firsts.crossJoin(broadcast(maxId))
      .select(expr(s"CAST(first_doc * $nBuckets div (max_id + 1) AS BIGINT)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("nw"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket").rowsBetween(Long.MinValue, 0)
    (0L until nBuckets.toLong).toDF("bucket")
      .join(perBucket, Seq("bucket"), "left_outer")
      .select(col("bucket"), coalesce(col("nw"), lit(0L)).as("new_words"))
      .withColumn("cum_vocab", sum("new_words").over(w))
  }

  /** Compression-ratio quality signal (Gopher/RefinedWeb lineage):
    * deflate_bytes / utf8_bytes per document. Highly repetitive or
    * boilerplate text compresses far below natural prose (ratio → 0);
    * random-character soup doesn't compress at all (ratio ≈ 1, deflate
    * framing can push slightly above); natural text sits in a band —
    * the two-sided keep mirrors [[surprisalScore]]. Pure per-row
    * codegen'd expression, rides the scan at any corpus size. No SQL
    * engine exposes deflate, so consumers are rows-only + spec-pinned
    * (the ratio is deterministic for fixed input at the fixed level).
    * Empty docs: ratio NULL, keep false. */
  def compressionSignal(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                        minRatio: Double, maxRatio: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val t = col(textCol)
    val defl = Bridge.column(graft.expressions.DeflateLength(Bridge.expression(t)))
    df.select(col(idCol).as("doc"),
        octet_length(t).cast("long").as("n_bytes"),
        defl.as("deflate_bytes"))
      .withColumn("ratio",
        col("deflate_bytes").cast("double") /
          when(col("n_bytes") === 0, lit(null)).otherwise(col("n_bytes")))
      .withColumn("keep",
        coalesce(col("ratio").between(minRatio, maxRatio), lit(false)))
  }

  /** TF-IDF keyword extraction — top-`k` terms per document by
    * tf·idf, the topic-labeling/faceting stage. FP-parity-safe like
    * [[surprisalScore]]: idf is the INTEGER bit length
    * `floor(log2(n_docs div df))` — ubiquitous terms (df close to
    * n_docs) get idf 0 and stop mattering, rare terms get the doc-count
    * bit scale — so score = tf · idf_bits is exact integer arithmetic
    * end-to-end, no transcendental whose last ulp differs across
    * engines. Ties rank lexicographically (deterministic cross-engine).
    *
    * Scale shape: (doc, term) partial-agg for tf; vocab partial-agg for
    * df (the hottest term collapses map-side); one-row doc count
    * broadcast; size-gated broadcast of the vocab frame back (above the
    * gate it degrades to a shuffle join on the term — and a term hot on
    * the tf side has df ≈ n_docs, hence idf 0: the skewed keys are
    * exactly the ones a pre-filter on idf_bits > 0 removes, applied
    * here BEFORE the join so stop-word mass never travels); per-doc
    * top-k through the O(k) bounded heap, no rank window. */
  def tfIdfTerms(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                 k: Int, ngram: Int = 1): org.apache.spark.sql.DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    // ngram > 1 extracts key-PHRASES: on a corpus whose unigrams are all
    // ubiquitous (template-heavy web text), every unigram idf rounds to 0
    // and extraction degenerates; word n-grams keep meaningful df.
    val terms = if (ngram == 1) tokens(col(textCol))
                else shingles(tokens(col(textCol)), ngram)
    val tf = df.select(col(idCol).as("doc"), explode(terms).as("w"))
      .groupBy("doc", "w").agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("w").agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(nDocs))
      .select(col("w"),
        expr("CAST(length(bin(n_docs div dfc)) - 1 AS BIGINT)").as("idf_bits"))
      .filter(col("idf_bits") > 0)
    val idfGated =
      if (idf.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
        broadcast(idf)
      else idf
    tf.join(idfGated, Seq("w"))
      .select(col("doc"), col("w"), (col("tf") * col("idf_bits")).as("score"))
      .groupBy("doc")
      .agg(graft.expressions.BoundedCollect.boundedSortedCollect(
        struct((-col("score")).as("ns"), col("w")), k).as("_top"))
      .select(col("doc"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("doc"), col("_t.w").as("term"),
        (-col("_t.ns")).as("score"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Token-window chunking with overlap — the RAG/embedding-pipeline
    * granularity between [[Dedup.lineDedupCorpus line]]/paragraph and
    * whole-document: split each document into windows of `chunkSize`
    * tokens advancing by `chunkSize - overlap`, so consecutive chunks
    * share `overlap` tokens of context. Chunk count per doc is
    * `max(1, ceil((n - overlap) / stride))` — the last window may be
    * short, but no window is ever a pure suffix of its predecessor
    * (the degenerate tail a naive `while start < n` walk emits).
    * Zero-token docs produce zero chunks.
    *
    * Returns (doc, chunk_idx, start_tok, n_tokens, chunk_text);
    * `start_tok` is the 0-based token offset, so a downstream embed +
    * provenance join can map a chunk hit back to its source span.
    *
    * Scale shape: one scan, one per-row `sequence` explode, zero
    * shuffles — chunking rides the scan at any corpus size, and the
    * explode factor is n/stride, bounded by the document length the
    * row already carries. All integer arithmetic is kept positive so
    * Spark's truncating `div` and DuckDB's flooring `//` agree. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val nChunks = when(col("n") <= overlap, lit(1L)) // n==0 rows are filtered out below
      .otherwise(expr(s"CAST((n - $overlap + ${stride - 1}) div $stride AS BIGINT)"))
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), col("ws"), size(col("ws")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc"), col("ws"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_idx"))
      .select(col("doc"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        slice(col("ws"), (col("chunk_idx") * stride + 1L).cast("int"), lit(chunkSize)).as("toks"))
      .select(col("doc"), col("chunk_idx"), col("start_tok"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(col("toks"), " ").as("chunk_text"))
  }

  /** Content-defined chunking (the rsync/FastCDC shape at token
    * granularity): a chunk boundary falls AFTER token `e` whenever the
    * `w`-token window ending at `e` hashes to `0 mod divisor` — so
    * boundaries are a function of local CONTENT, not absolute position,
    * and an insertion near the head shifts every downstream token
    * without moving any downstream boundary. Fixed-window chunking
    * ([[chunkTokens]]) loses all alignment after one inserted token;
    * CDC re-synchronizes at the first content boundary, which is what
    * makes chunk-hash dedup robust against prepended boilerplate /
    * shifted quotes. Expected chunk length ≈ `divisor` tokens (+ the
    * window warm-up); a boundary at the last token is suppressed so no
    * empty tail chunk exists; docs shorter than `w` are one chunk.
    *
    * Hash gate = the [[Sharding.hashBucket1000]] md5-fold convention
    * (engine-portable, no RNG). Returns (doc, chunk_idx, start_tok
    * 1-based, n_toks, chunk_hash = md5 of the space-joined chunk).
    *
    * Scale shape: one scan, all chunk geometry in-row (transform +
    * filter + zip_with over the token array — no window function, no
    * shuffle), one per-row explode bounded by the doc's own chunk
    * count. Work per row is O(n·w) for the window hashes plus
    * O(chunks·len) for reassembly — doc-bounded, no corpus term. */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                w: Int, divisor: Int, minLen: Int = 1): org.apache.spark.sql.DataFrame = {
    require(w > 0 && divisor > 0 && minLen >= 1)
    val gate = (g: Column) =>
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % divisor === 0
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc"), col("ws"),
        // boundary token-ends: window j (0-based) covers tokens
        // j+1..j+w (1-based), end e = j+w; keep e only if e < n
        filter(
          transform(shingles(col("ws"), w), (g: Column, j: Column) =>
            when(gate(g), j + lit(w)).otherwise(lit(-1))),
          e => e =!= -1 && e < size(col("ws"))).as("be"))
      // FastCDC-style min-chunk constraint as an in-row sequential fold:
      // keep a candidate end only if it is >= minLen past the previous
      // KEPT end (and >= minLen from the start) — greedy left-to-right,
      // which is exactly the streaming-cut semantics; with minLen = 1
      // the fold keeps every candidate (ends are strictly increasing),
      // so the default is bit-identical to the unconstrained form. The
      // tail chunk may still be short (FastCDC accepts that; merging it
      // would re-introduce position dependence).
      .select(col("doc"), col("ws"),
        aggregate(col("be"), array().cast("array<integer>"),
          (acc: Column, e: Column) =>
            when((size(acc) === 0 && e >= minLen) ||
              (size(acc) > 0 && e - element_at(acc, -1) >= minLen),
              concat(acc, array(e))).otherwise(acc)).as("be"))
      .select(col("doc"), col("ws"),
        concat(array(lit(1)), transform(col("be"), _ + 1)).as("starts"),
        concat(col("be"), array(size(col("ws")))).as("ends"))
      .select(col("doc"), col("ws"),
        posexplode(zip_with(col("starts"), col("ends"),
          (s: Column, e: Column) => struct(s.as("st"), e.as("en"))))
          .as(Seq("chunk_idx", "sp")))
      .select(col("doc"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("sp.st").cast("long").as("start_tok"),
        (col("sp.en") - col("sp.st") + 1).cast("long").as("n_toks"),
        md5(concat_ws(" ",
          slice(col("ws"), col("sp.st"), col("sp.en") - col("sp.st") + 1))).as("chunk_hash"))
  }

  /** Cross-document duplicated-chunk coverage over [[cdcChunks]] — the
    * shift-resilient twin of [[crossDupCoverage]]: a chunk is duplicated
    * iff its hash occurs in more than one document (min(doc) ≠ max(doc)
    * per hash — constant state, partial-agg, hot-hash-safe), and the
    * coverage is token-weighted. Returns (doc, n_chunks, n_dup_chunks,
    * dup_token_frac). */
  def cdcDedupCoverage(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                       w: Int, divisor: Int): org.apache.spark.sql.DataFrame = {
    // materialize the chunk frame once: both the per-hash stats and the
    // join-back read it, and without the checkpoint the whole HOF
    // chunking chain is re-evaluated on both sides of the join (the
    // graph_hits lesson — structurally right even though at sf0.1 the
    // measured wall time is within noise of the recompute form)
    val ch = cdcChunks(df, idCol, textCol, w, divisor).localCheckpoint()
    val stats = ch.groupBy("chunk_hash")
      .agg(min("doc").as("_mind"), max("doc").as("_maxd"))
    val statsGated =
      if (stats.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
        broadcast(stats)
      else stats
    ch.join(statsGated, Seq("chunk_hash"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_mind") =!= col("_maxd"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("_mind") =!= col("_maxd"), col("n_toks")).otherwise(0L)).as("_dupToks"),
        sum(col("n_toks")).as("_toks"))
      .select(col("doc"), col("n_chunks"), col("n_dup_chunks"),
        round(col("_dupToks").cast("double") / col("_toks"), 4).as("dup_token_frac"))
  }

  /** PMI collocation mining — which word PAIRS travel together beyond
    * chance (the classic phrase/collocation detector: "new york" scores
    * high because p(ab) ≫ p(a)·p(b); "of the" scores low despite its
    * raw count). Score is the INTEGER-BIT PMI of the surprisal-gate
    * doctrine: floor(log2(c_ab·N / (c_a·c_b))) via `length(bin(q))-1`
    * on exact-long numerator/denominator, with the sign split
    * (num ≥ den → +bits of num/den, else −bits of den/num) — no
    * transcendental, bit-identical across engines. `minCount` kills the
    * rare-pair PMI explosion (a hapax pair maxes PMI by definition).
    *
    * Scale shape: one scan → (bigram) partial-agg count, one (word)
    * partial-agg count, two broadcast-sized joins back to the surviving
    * (count ≥ minCount) bigrams — hot words collapse map-side, and the
    * pair frame is bounded by distinct bigrams, not corpus size. */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      minCount: Long, topK: Int): org.apache.spark.sql.DataFrame = {
    // materialize the bigram counts once: the N normalizer action and
    // the candidate frame both read them (the graph_hits lesson)
    val bi = df.select(explode(shingles(tokens(col(textCol)), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val uni = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = bi.agg(coalesce(sum("c_ab"), lit(0L))).head.getLong(0)
    val cand = bi.filter(col("c_ab") >= minCount)
      .select(col("bg"), col("c_ab"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
    cand
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab") * lit(n)).as("_num"), (col("c_a") * col("c_b")).as("_den"))
      .select(col("bg").as("bigram"), col("c_ab").as("n_pair"),
        col("c_a").as("n_left"), col("c_b").as("n_right"),
        // `div` (not /) so the quotient stays an exact long — double
        // division would round past 2^53
        when(col("_num") >= col("_den"),
          expr("CAST(length(bin(_num div _den)) - 1 AS BIGINT)"))
          .otherwise(-expr("CAST(length(bin(_den div _num)) - 1 AS BIGINT)"))
          .as("pmi_bits"),
        // fractional discrimination inside a bit bucket: the exact lift
        // ratio as ONE closing IEEE division (num, den < 2^53 at any
        // corpus where c_ab·N fits a double — document the bound)
        round(col("_num").cast("double") / col("_den"), 4).as("lift"))
      .orderBy(desc("pmi_bits"), desc("lift"), desc("n_pair"), asc("bigram"))
      .limit(topK)
  }

  /** Fixed-point floor(256·log2(num/den)) for positive long column
    * expressions — the sub-bit log the DSIR scorer needs. Integer
    * arithmetic only, unrolled (the PCA/BPE unrolled-oracle doctrine):
    * normalize the 16.16 ratio q = num·2^16 div den into one octave,
    * then 8 squaring steps each yield one fractional bit
    * (m ← m² div 2^16; overflow past 2^17 emits a 1 and halves).
    * Every step is exact long arithmetic — any engine with integer
    * div reproduces it bit-for-bit; the div-floor noise stays below
    * the 1/256 output quantum for ~2 trailing bits (spec-measured
    * ±2 quanta vs real log2). Caller guarantees num·2^16 fits a long
    * (num ≤ ~1.4e14); ratios below 2^-16 saturate at q = 1. Applied
    * via a withColumn chain so each step is one named projection —
    * Catalyst reuses, not recomputes, the previous step. */
  def withFixedPointLog2Q8(df: org.apache.spark.sql.DataFrame,
                           numExpr: String, denExpr: String,
                           outCol: String): org.apache.spark.sql.DataFrame = {
    var out = df
      .withColumn("_q0", greatest(expr(s"(($numExpr) * 65536) div ($denExpr)"), lit(1L)))
      .withColumn("_cc", (length(expr("bin(_q0)")) - 17).cast("long"))
      .withColumn("_m0",
        when(col("_cc") >= 0, expr("_q0 div shiftleft(CAST(1 AS BIGINT), CAST(_cc AS INT))"))
          .otherwise(expr("_q0 * shiftleft(CAST(1 AS BIGINT), CAST(-_cc AS INT))")))
      .withColumn("_f0", lit(0L))
    for (i <- 1 to 8) {
      out = out
        .withColumn(s"_s$i", expr(s"(_m${i - 1} * _m${i - 1}) div 65536"))
        .withColumn(s"_f$i",
          col(s"_f${i - 1}") * 2 + when(col(s"_s$i") >= 131072L, 1L).otherwise(0L))
        .withColumn(s"_m$i",
          when(col(s"_s$i") >= 131072L, expr(s"_s$i div 2")).otherwise(col(s"_s$i")))
    }
    out.withColumn(outCol, col("_cc") * 256L + col("_f8"))
      .drop((Seq("_q0", "_cc") ++ (0 to 8).flatMap(i =>
        Seq(s"_m$i", s"_f$i", s"_s$i"))): _*)
  }

  /** DSIR-shaped importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public arXiv
    * 2302.03169): score every raw document by how target-like its
    * hashed-unigram distribution is, log w(x) = Σ_tokens
    * [log p_target(b) - log p_raw(b)] over `buckets` md5 feature
    * buckets with add-one smoothing. FP-parity-safe sub-bit variant of
    * the PMI doctrine: the per-bucket log-ratio is
    * [[withFixedPointLog2Q8]] of the exact cross-products t_b·R vs
    * r_b·T — 1/256-bit resolution (corpus-vs-target lifts are a few
    * percent on real data; whole-bit quantization collapses them all
    * to 0, measured on this corpus), still pure integer arithmetic,
    * no transcendental; per-doc accumulation is an exact long sum.
    *
    * `targetCol`: boolean marking the target subset (rows where it is
    * null count as raw-only). Returns `(doc, n_tokens, imp_q8)` with
    * `imp_q8` in 1/256-bit units; empty docs score 0.
    *
    * Scale shape: explode → partial-agg groupBy (doc, bucket) — the
    * hashed feature space caps distinct keys per doc at `buckets`, so
    * a hot token collapses map-side; the bucket-stats frame is exactly
    * `buckets` rows (broadcast back); totals are ONE row. Long-range
    * guard: t_b·R·2^16 must fit a long — exact to ~1.4e14 cross-
    * product, i.e. ~1e7 tokens per side; beyond that pre-quantize
    * counts to per-million before the ratio (PMI's c_ab·N note). */
  /** (doc, is_t, bucket, occ) token-occurrence frame — the shared
    * substrate of the DSIR family. Partial-agg groupBy: a hot token
    * collapses map-side, per-doc keys capped at `buckets`. */
  private def importanceDocBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                                   textCol: String, targetCol: Option[String],
                                   buckets: Int): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2 && buckets <= 65536, s"buckets out of range: $buckets")
    val hb = (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % buckets).cast("int")
    df.select(col(idCol).as("doc"),
        targetCol.map(c => coalesce(col(c), lit(false))).getOrElse(lit(false)).as("is_t"),
        explode(tokens(col(textCol))).as("w"))
      .select(col("doc"), col("is_t"), hb.as("b"))
      .groupBy("doc", "is_t", "b").agg(count(lit(1)).cast("long").as("occ"))
  }

  /** RAW per-bucket counts `(b, tc, rc)` — the DSIR model's sufficient
    * statistics, deliberately unsmoothed so they are ADDITIVE: counts
    * over corpus halves union+sum to exactly the full-corpus counts,
    * which is what makes the arrival path exact (the incremental-BM25
    * doctrine — a new batch folds in without re-scanning the corpus;
    * smoothing is applied once at serve time by
    * [[importanceScoreFromCounts]]). */
  def importanceBucketCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                             textCol: String, targetCol: String,
                             buckets: Int = 1024): org.apache.spark.sql.DataFrame =
    importanceDocBuckets(df, idCol, textCol, Some(targetCol), buckets)
      .groupBy("b").agg(
        sum(when(col("is_t"), col("occ")).otherwise(0L)).as("tc"),
        sum("occ").as("rc"))

  /** Additive merge of [[importanceBucketCounts]] frames. */
  def importanceCountsMerge(a: org.apache.spark.sql.DataFrame,
                            b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.unionByName(b).groupBy("b").agg(sum("tc").as("tc"), sum("rc").as("rc"))

  private def importanceScoreCore(df: org.apache.spark.sql.DataFrame, idCol: String,
                                  db: org.apache.spark.sql.DataFrame,
                                  counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // add-one smoothing at serve time (counts stay raw-additive)
    val stats = counts.select(col("b"), (col("tc") + 1L).as("t"), (col("rc") + 1L).as("r"))
    // buckets rows by construction — always broadcastable; the signed
    // sub-bit score is log(t/T) - log(r/R) = log2q8(t·R, r·T)
    val tots = stats.agg(sum("t").as("tt"), sum("r").as("rt"))
    val sb = broadcast(
      withFixedPointLog2Q8(stats.crossJoin(broadcast(tots)),
        "t * rt", "r * tt", "sb")
        .select(col("b"), col("sb")))
    // left + coalesce 0: a serve-corpus token hashing to a bucket the
    // stored counts never saw scores neutral (ratio ~1), not dropped
    val perDoc = db.join(sb, Seq("b"), "left_outer")
      .groupBy("doc")
      .agg(sum(coalesce(col("sb"), lit(0L)) * col("occ")).as("_raw"), sum("occ").as("_n"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left_outer")
      .select(col("doc"),
        coalesce(col("_n"), lit(0L)).as("n_tokens"),
        coalesce(col("_raw"), lit(0L)).as("imp_q8"))
  }

  def importanceScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, targetCol: String,
                      buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    val db = importanceDocBuckets(df, idCol, textCol, Some(targetCol), buckets)
      // consumed by BOTH the bucket-stats build and the score join-back —
      // without this the tokenize+explode pass runs twice (the CDC
      // chunk-frame precedent)
      .localCheckpoint()
    val counts = db.groupBy("b").agg(
      sum(when(col("is_t"), col("occ")).otherwise(0L)).as("tc"),
      sum("occ").as("rc"))
    importanceScoreCore(df, idCol, db, counts)
  }

  /** Score a corpus under STORED bucket counts — the arrival-path serve:
    * the scored corpus never contributes to (and never re-derives) the
    * model; pair with [[importanceBucketCounts]]/[[importanceCountsMerge]]
    * for O(batch) model updates. */
  def importanceScoreFromCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                                textCol: String, counts: org.apache.spark.sql.DataFrame,
                                buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    val db = importanceDocBuckets(df, idCol, textCol, None, buckets).localCheckpoint()
    importanceScoreCore(df, idCol, db, counts)
  }

  /** Deterministic selection on an [[importanceScore]] frame: keep the
    * most target-like `keepPermille`/1000 of documents. True DSIR
    * resamples with Gumbel noise; the reproducible stand-in (the
    * repo-wide RNG-free sampling doctrine) is a SCORE-HISTOGRAM cutoff:
    * integer bit-scores take few distinct values, so the histogram is
    * driver-sized at ANY corpus scale (no global sort, no window) —
    * walk it descending to the first cumulative count ≥ the target and
    * keep every doc at or above that score. Boundary scores over-select
    * rather than tie-break arbitrarily (documented, deterministic).
    * Returns the input plus a `selected` flag. */
  def importanceSelect(scored: org.apache.spark.sql.DataFrame,
                       keepPermille: Int): org.apache.spark.sql.DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000, s"bad permille: $keepPermille")
    // the histogram collect and the returned frame both consume the
    // scored pipeline — materialize once
    val scoredCk = scored.localCheckpoint()
    val hist = scoredCk.groupBy("imp_q8").agg(count(lit(1)).as("c"))
      .orderBy(desc("imp_q8"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = hist.map(_._2).sum
    val target = (n * keepPermille + 999) / 1000 // ceil
    if (target == 0) scoredCk.withColumn("selected", lit(false))
    else {
      var cum = 0L
      var cutoff = Long.MinValue
      var i = 0
      while (i < hist.length && cum < target) {
        cum += hist(i)._2; cutoff = hist(i)._1; i += 1
      }
      scoredCk.withColumn("selected", col("imp_q8") >= cutoff)
    }
  }

  /** Fixed-size RAG chunking: token windows of `size` starting every
    * `size − overlap` tokens — the retrieval-prep shape ([[cdcChunks]]
    * is the DEDUP chunker: content-defined boundaries, no overlap; a
    * retrieval index wants uniform windows with context overlap so no
    * answer span straddles a boundary unseen). Pure in-row HOFs —
    * sequence + slice + md5 — no shuffle, rides the scan. The tail
    * chunk may be short; docs shorter than `size` yield one chunk;
    * empty docs none. Returns (doc, chunk_idx, start_tok, n_toks,
    * chunk_hash). */
  def ragChunks(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens (got $chunkTokens, overlap=$overlap)")
    val stride = chunkTokens - overlap
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) >= 1)
      .select(col("doc"), col("ws"),
        posexplode(sequence(lit(1), size(col("ws")), lit(stride))).as(Seq("chunk_idx", "st")))
      .select(col("doc"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("st").cast("long").as("start_tok"),
        least(lit(chunkTokens.toLong), size(col("ws")) - col("st") + 1).cast("long").as("n_toks"),
        md5(concat_ws(" ", slice(col("ws"), col("st"), lit(chunkTokens)))).as("chunk_hash"))
  }

  def qualityMetrics(toks: Column, stopwords: Seq[String]): (Column, Column, Column) = {
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, w => length(w).cast("long")), lit(0L), (a, v) => a + v)
    val nStop = size(filter(toks, w => w.isInCollection(stopwords)))
    val denom = when(n === 0, lit(null)).otherwise(n)
    (n,
      round(sumLen.cast("double") / denom, 4),
      round(nStop.cast("double") / denom, 4))
  }
}
