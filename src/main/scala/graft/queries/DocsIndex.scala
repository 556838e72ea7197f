package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, Analyzers}
import graft.index.{CodeFile, DocValueRow, GraftIndex, IndexBuilder, IndexConfig, IndexStore, SegmentMerger}
import graft.search.{GraftSearcher, TermQ}

/** The driver-facing fulltext corpus: the testdata `documents` table indexed
  * with the SQL-expressible `simple` analyzer (lowercase `[a-z0-9]+` runs) so
  * every token-level result is independently recomputable by the DuckDB
  * oracle via `regexp_extract_all(lower(text), '[a-z0-9]+')`.
  *
  * Every other index over the same table is a [[DocsIndex.Variant]] — the
  * analog of a Solr schema `fieldType`, declaring only its analysis chain,
  * its content column and, for committed indexes, what happens after the
  * commit. Each variant is built once per session and scale-factor dir and
  * cached for the life of the JVM (Verify/Bench run many queries against the
  * same corpus).
  */
object DocsIndex {

  /** One index over the `documents` table.
    *
    * @param name          label, also the prefix of a committed variant's dir
    * @param config        index-side analysis, index sort and term vectors
    * @param content       the indexed `content` column, an expression over a
    *                      `documents` row
    * @param queryAnalyzer the searcher's analyzer where it differs from
    *                      `config.analyzer`
    * @param commit        for a committed variant: writes the projected corpus
    *                      into a fresh index dir; the searcher then opens it
    */
  final case class Variant(
      name: String,
      config: IndexConfig,
      content: Column = col("text"),
      queryAnalyzer: Option[Analyzer] = None,
      commit: Option[Commit] = None)

  /** Writes a committed variant's corpus into its index dir under its config. */
  type Commit = (Dataset[CodeFile], String, IndexConfig) => Unit

  /** The usual commit: one `buildAndCommit`, then `after` changes the
    * committed index in place (deletes, docvalue generations, merges). */
  private def committed(after: (SparkSession, String) => Unit = (_, _) => ()): Option[Commit] =
    Some[Commit] { (files, dir, cfg) =>
      IndexStore.buildAndCommit(files, dir, cfg)
      after(files.sparkSession, dir)
    }

  /** `text` with each `(pattern, replacement)` applied in order through
    * `regexp_replace`; the oracle SQL replays the same lists 'g'-flagged. */
  private def replaced(subs: Seq[(String, String)]): Column =
    subs.foldLeft(col("text")) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Deterministic pluralization for the stemming variants ([[Stemmed]],
    * [[StemKeepOrig]]): the synthetic corpus has no plural forms ('tables'
    * exercises drop-s, 'queries' the ies->y arm, 'values' the keep-e
    * fallthrough, 'hashes' the non-vowel fallthrough). */
  private val PLURALS: Seq[(String, String)] = Seq(
    "\\btable\\b" -> "tables",
    "\\bquery\\b" -> "queries",
    "\\bvalue\\b" -> "values",
    "\\bhash\\b" -> "hashes")

  /** Accent/width injection map for the ICU-folding corpus ([[Icu]]):
    * each regex is applied identically in BOTH engines ('g'-flagged on the
    * DuckDB side); the engine then folds with the general NFKC_CF chain
    * while the oracle undoes exactly the injected characters with its own
    * builtins (translate/strip_accents/lower). Coverage: fullwidth forms
    * (NFKC width folding), precomposed accents in both cases, and a
    * DECOMPOSED combining acute (the tokenizer's WB4 Extend path). */
  val ICU_SUBS: Seq[(String, String)] = Seq(
    // FULLWIDTH T + a-macron + b l + e-acute  (Ｔāblé)
    "\\btable\\b" -> "Ｔāblé",
    // inde + capital X + COMBINING ACUTE  (indeX́, decomposed)
    "\\bindex\\b" -> "indeX́",
    // FULLWIDTH V + E-acute + CT + O-diaeresis + R  (ＶÉCTÖR)
    "\\bvector\\b" -> "ＶÉCTÖR")

  /** German inflections injected into lang='de' docs only ([[LangStem]]):
    * each exercises a different Snowball-German rule (ern-flexion + umlaut
    * fold, ung d-suffix, keit d-suffix, en-flexion). */
  val DE_SUBS: Seq[(String, String)] = Seq(
    "\\btable\\b" -> "häusern",
    "\\bmerge\\b" -> "wanderung",
    "\\bsort\\b" -> "freundlichkeit",
    "\\bquery\\b" -> "kategorien")

  /** French inflections injected into lang='fr' docs only: aux→al, plural
    * s + final-e, and the é/undouble cascade of the minimal stemmer. */
  val FR_SUBS: Seq[(String, String)] = Seq(
    "\\btable\\b" -> "chevaux",
    "\\bmerge\\b" -> "portes",
    "\\bsort\\b" -> "données")

  /** Demo lexicon for the dictionary CJK segmenter ([[CjkDict]]):
    * covers the head of each injected run; the tails are OOV and fall back
    * to bigrams. */
  val CJK_DICT: Set[String] = Set("数据流", "处理", "键值对")

  private val simple = IndexConfig(analyzer = Analyzers.simple)

  /** The plain corpus, with term vectors: the index the two-argument `get` returns. */
  val Plain: Variant = Variant("plain", simple.copy(storeTermVectors = true))

  /** Same corpus with every doc_id divisible by 7 tombstoned — the
    * deletes-honoring index behind the `ft_delete_*` oracle queries (the
    * oracle recomputes from raw text with `doc_id % 7 <> 0`). Committed, so
    * [[graft.index.IndexStore.openAt]] time travel (ft_snapshot) sees the
    * pre-delete generation. */
  val Deletes: Variant = Variant("del", simple, commit = committed(deleteSevenths))

  /** Version-constrained upserts (solr/core/src/java/org/apache/solr/
    * update/processor/DocBasedVersionConstraintsProcessorFactory.java:60-140
    * — an update applies only when its user-version EXCEEDS the stored one;
    * stale replays are silently dropped, the out-of-order-delivery guard in
    * Solr's CDCR/queue ingestion): two dv-update batches, each gated per
    * doc against the CURRENT 'version' doc-value before writing. */
  val VersionedUpdates: Variant = Variant("ver", simple, commit = committed { (spark, dir) =>
    import spark.implicits._
    val ids = docIdMap(IndexStore.open(spark, dir))
    def applyGated(batch: DataFrame): Unit = {
      val curV = IndexStore.open(spark, dir).docValues.toDF()
        .filter(col("field") === "version")
        .select(col("docId").as("_d"), col("value").as("_curv"))
      val accepted = batch.join(curV, col("docId") === col("_d"), "left")
        .filter(col("_curv").isNull || col("version") > col("_curv"))
      IndexStore.updateNumericDocValues(spark, dir,
        accepted.select(col("docId"), lit("version").as("field"),
          col("version").cast("long").as("value")).as[DocValueRow])
      IndexStore.updateNumericDocValues(spark, dir,
        accepted.select(col("docId"), lit("payload").as("field"),
          col("payload").cast("long").as("value")).as[DocValueRow])
    }
    applyGated(ids.filter(col("doc_id") % 3 === 0)
      .select(col("docId"), (col("doc_id") + 100L).as("version"), lit(1L).as("payload")))
    applyGated(
      ids.filter(col("doc_id") % 6 === 0)
        .select(col("docId"), (col("doc_id") + 50L).as("version"), lit(2L).as("payload"))
      .unionByName(ids.filter(col("doc_id") % 3 === 1)
        .select(col("docId"), (col("doc_id") + 200L).as("version"), lit(3L).as("payload"))))
  })

  /** Deletes + forceMerge (`IndexWriter.forceMerge` semantics,
    * lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1870-1930:
    * merges rewrite live docs only, so tombstoned docs are PURGED and the
    * collection statistics — docCount, avgdl, df — shift to the survivor
    * set, unlike the tombstone-only [[Deletes]] index where stats still
    * include deleted docs until merge). */
  val MergedDeletes: Variant = Variant("delm", simple, commit = committed { (spark, dir) =>
    deleteSevenths(spark, dir)
    SegmentMerger.mergeAll(spark, dir, simple)
  })

  /** Delete-by-QUERY (Solr `deleteByQuery`, solr/core/src/java/org/apache/
    * solr/update/DirectUpdateHandler2.java:440-520; the mechanism behind
    * DocExpirationUpdateProcessorFactory's periodic `expire_at:[* TO NOW]`
    * purge): the delete set is computed by running a real query against the
    * committed index, then tombstoned through the same `.liv`-analog path as
    * id-based deletes. */
  val QueryDeletes: Variant = Variant("delq", simple, commit = committed { (spark, dir) =>
    val searcher0 = new GraftSearcher(IndexStore.open(spark, dir), Analyzers.simple)
    IndexStore.deleteDocs(spark, dir, searcher0.matchesDS(searcher0.parse("slow AND hash")))
  })

  /** Same corpus indexed with the engine-default UAX#29 analyzer
    * (`Analyzers.standard`, Analyzer.scala:38-133). The testdata text is
    * pure `[a-z0-9 ]` (verified by `ft_uax_search`'s oracle agreeing), so
    * the standard tokenizer provably emits the same tokens as `simple` —
    * putting the default analyzer path under the hard oracle signal. */
  val Standard: Variant = Variant("uax", IndexConfig(analyzer = Analyzers.standard))

  /** Same corpus indexed through the EnglishMinimalStemFilter chain
    * (Harman S-stemmer; `Analyzer.minimalStemEn`) over the [[PLURALS]]
    * injections — query terms stem through the same analyzer in `parse`, so
    * 'tables' searches the 'table' posting list. Oracle side re-applies the
    * stemmer as a SQL CASE per token. */
  val Stemmed: Variant =
    Variant("stem", IndexConfig(analyzer = Analyzers.minimalStem), replaced(PLURALS))

  /** Same corpus with deterministic accented/fullwidth/decomposed token
    * injections ([[ICU_SUBS]]), indexed through the ICUFoldingFilter-analog
    * chain (`Analyzers.icu`): queries in plain ASCII reach the folded posting
    * lists only through NFKC + case fold + accent strip. */
  val Icu: Variant = Variant("icu", IndexConfig(analyzer = Analyzers.icu), replaced(ICU_SUBS))

  /** ONE index over the whole multilingual corpus with PER-LANGUAGE
    * analysis (IndexConfig.langAnalyzers): de docs carry injected German
    * inflections and analyze through the Snowball German chain, fr docs
    * carry French inflections through the minimal French chain, everything
    * else through `simple`. Query-side each language picks its analyzer on
    * the searcher — the Solr per-language-field pattern over one corpus. */
  val LangStem: Variant = Variant("langstem",
    simple.copy(langAnalyzers = Map("de" -> Analyzers.german, "fr" -> Analyzers.frenchMinimal)),
    when(col("lang") === "de", replaced(DE_SUBS))
      .when(col("lang") === "fr", replaced(FR_SUBS))
      .otherwise(col("text")))

  /** Same corpus indexed through the full EnglishAnalyzer chain (stop set +
    * Porter stemming, `Analyzers.englishPorter`). The synthetic corpus has
    * no derived forms, so both engines apply the SAME deterministic
    * inflection before analysis — each injected form exercises a different
    * Porter step ('relational' step 2 ATIONAL→ATE + final-e, 'generalizations'
    * the paper's own four-step worked example →'gener', 'oscillating' 1b
    * ING + 5b LL→L →'oscil', 'queries' 1a IES→I →'queri' where the
    * S-stemmer would give 'query', 'windowing' the *o cvc guard, 'happiness'
    * step 3 NESS). The oracle replays the identical inflection and a
    * whole-vocabulary stem map hand-derived from the 1980 paper. */
  val Porter: Variant = Variant("porter", IndexConfig(analyzer = Analyzers.englishPorter),
    replaced(Seq(
      "\\bfilter\\b" -> "relational",
      "\\bmerge\\b" -> "generalizations",
      "\\bsort\\b" -> "oscillating",
      "\\bquery\\b" -> "queries",
      "\\bwindow\\b" -> "windowing",
      "\\bslow\\b" -> "happiness")))

  /** Corpus with two deterministic Han injections ('stream' -> the 3-char
    * 数据流, 'key' -> the lone 键), indexed through the CJK bigram chain
    * (`Analyzers.cjk`): each 数据流 contributes the bigrams 数据+据流, each
    * 键 stays a unigram, and doc length counts ascii words + (run-1) per
    * Han run — the multilingual slice of the pipeline under the hard
    * oracle. */
  val Cjk: Variant = Variant("cjk", IndexConfig(analyzer = Analyzers.cjk),
    replaced(Seq("\\bstream\\b" -> "数据流", "\\bkey\\b" -> "键")))

  /** Corpus with LONGER Han injections indexed through the dictionary
    * longest-match segmenter (kuromoji-lite, `Analyzers.cjkDict` over
    * [[CJK_DICT]]): '数据流处理' segments as dict words [数据流][处理];
    * '键值对存储器' as dict [键值对] + OOV tail bigrams [存储][储器]. */
  val CjkDict: Variant = Variant("cjkdict", IndexConfig(analyzer = Analyzers.cjkDict(CJK_DICT)),
    replaced(Seq("\\bstream\\b" -> "数据流处理", "\\bkey\\b" -> "键值对存储器")))

  /** Corpus with REAL `term|payload` markup ingested through the
    * WhitespaceTokenizer + DelimitedPayloadTokenFilter chain
    * (`Analyzers.payload`): every 'merge' carries payload 3 and every
    * 'batch' is rewritten to 'merge|9' — so the 'merge' posting list holds
    * occurrences with DIFFERENT stored payloads, exercising min/max/sum/avg
    * over genuine posEnc-interleaved payload bytes (not the position-keyed
    * stand-in of ft_payload_score). */
  val Payload: Variant = Variant("payload", IndexConfig(analyzer = Analyzers.payload),
    replaced(Seq("\\bmerge\\b" -> "merge|3", "\\bbatch\\b" -> "merge|9")))

  /** Corpus indexed through the LengthFilter [4,8] chain
    * (`Analyzers.length48`): seven short corpus words drop with position
    * gaps; doc length and every BM25 stat shrink accordingly. */
  val LengthFiltered: Variant = Variant("len48", IndexConfig(analyzer = Analyzers.length48))

  /** Corpus indexed through the multi-word-INPUT synonym graph
    * (`big table => bigtable`, `Analyzers.synGraphContract`) — no text
    * change needed; the corpus already contains adjacent big/table pairs. */
  val SynGraph: Variant = Variant("syngraph", IndexConfig(analyzer = Analyzers.synGraphContract))

  /** Corpus with every 'merge' deterministically fused to 'mergejoin', then
    * indexed through the multi-word-OUTPUT synonym graph
    * (`mergejoin => merge join`, `Analyzers.synGraphExpand`) — each fused
    * site re-expands at invert time with FlattenGraph position semantics
    * (orig + 'merge' stacked, 'join' one position later, tail shifted). */
  val SynGraphExpand: Variant = Variant("syngraphx",
    IndexConfig(analyzer = Analyzers.synGraphExpand), replaced(Seq("\\bmerge\\b" -> "mergejoin")))

  /** The [[Stemmed]] pluralized corpus through the KeywordRepeat chain
    * (`Analyzers.stemKeepOrig`): every inflected token indexes BOTH its
    * surface form and its stem (stacked), so exact-form and stemmed
    * queries each hit — the dictionary carries both arms with their own
    * df/ttf. */
  val StemKeepOrig: Variant =
    Variant("stemko", IndexConfig(analyzer = Analyzers.stemKeepOrig), replaced(PLURALS))

  /** Same corpus indexed with the EnglishAnalyzer stop set — the StopFilter
    * + posIncrement-gap path (Analyzer.scala stop handling) under the hard
    * oracle signal via `ft_stop_phrase` / `ft_stop_count`. */
  val English: Variant = Variant("en", IndexConfig(analyzer = Analyzers.english))

  /** Same corpus indexed through the ShingleFilter bigram chain
    * (`Analyzers.shingle2`): every posting term is `w1_w2`, doc length =
    * token count − 1, and BM25 norms/stats are computed over the shingle
    * stream — the oracle recomputes all of it from consecutive token pairs. */
  val Shingled: Variant = Variant("sh2", IndexConfig(analyzer = Analyzers.shingle2))

  /** CommonGramsFilter chain ({a, the} as common words): unigrams plus
    * stopword-adjacent bigrams stacked at the first member's position —
    * the index behind `ft_commongrams`, where a stopword phrase runs as a
    * single gram-term lookup instead of a positional phrase. */
  val CommonGrams: Variant = Variant("cg", IndexConfig(analyzer = Analyzers.commonGrams))

  /** Same corpus rewritten into camelCase compound identifiers (adjacent
    * token pairs joined as `t1` + capitalize(`t2`); an odd trailing token
    * stays bare) and indexed through the WordDelimiterGraphFilter chain
    * (`Analyzers.wordDelim`): each compound emits the preserved original
    * plus its case-split parts, parts landing at the positions the words had
    * in the RAW text — so the DuckDB oracle recomputes everything (part
    * tf/df/positions, compound tf at odd 1-indexed pair boundaries, and the
    * discountOverlaps doc length = raw token count) from the raw text alone. */
  val WordDelim: Variant = Variant("wd", IndexConfig(analyzer = Analyzers.wordDelim),
    udf((text: String) => camelize(text)).apply(col("text")))

  /** Deterministic camelCase compounding of a lowercase-alnum text: pair up
    * consecutive `[a-z0-9]+` tokens 0-indexed as (0,1),(2,3),…, join each
    * pair as `t1` + `T2` (first letter of the second word uppercased). */
  private[queries] def camelize(text: String): String = {
    val toks = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && !isAlnum(text.charAt(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && isAlnum(text.charAt(i))) i += 1
        toks += text.substring(s, i)
      }
    }
    val sb = new java.lang.StringBuilder(text.length)
    var k = 0
    while (k < toks.length) {
      if (sb.length > 0) sb.append(' ')
      if (k + 1 < toks.length) {
        val t2 = toks(k + 1)
        sb.append(toks(k)).append(Character.toUpperCase(t2.charAt(0))).append(t2, 1, t2.length)
        k += 2
      } else { sb.append(toks(k)); k += 1 }
    }
    sb.toString
  }

  @inline private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Same corpus built with an index sort on `lang`
    * (`IndexConfig.sortFields = Seq("lang")` — the
    * `IndexWriterConfig.setIndexSort` analog): docIds rank by
    * (lang, repo, path, commit) = (lang, doc_id) since repo is constant and
    * path zero-pads doc_id. Queries sorted by (lang, doc_id) early-terminate
    * per doc range ([[GraftSearcher.searchByIndexOrder]]). */
  val Sorted: Variant = Variant("srt", simple.copy(sortFields = Seq("lang")))

  /** Corpus with an updatable numeric docvalues field `popularity`
    * (`IndexWriter.updateNumericDocValue`): base generation = token count,
    * then TWO stacked update generations — doc_id%5==0 -> 777, then
    * doc_id%10==0 -> 1000000+doc_id (the second overrides the first on the
    * overlap, proving latest-generation-wins under the oracle). */
  val DocValues: Variant = Variant("dv", simple, commit = committed { (spark, dir) =>
    import spark.implicits._
    val ids = popularityFromLength(spark, dir)
    IndexStore.updateNumericDocValues(spark, dir, ids.filter($"doc_id" % 5 === 0)
      .select($"docId", lit("popularity").as("field"), lit(777L).as("value"))
      .as[DocValueRow])
    IndexStore.updateNumericDocValues(spark, dir, ids.filter($"doc_id" % 10 === 0)
      .select($"docId", lit("popularity").as("field"),
        ($"doc_id" + 1000000L).cast("long").as("value"))
      .as[DocValueRow])
  })

  /** DocValues corpus taken through TWO Solr-style atomic update batches
    * (reference: solr/core/src/java/org/apache/solr/update/processor/
    * AtomicUpdateDocumentMerger.java:100-124 — 'set' overwrites the stored
    * value, 'inc' reads the CURRENT value and adds): gen1 sets
    * popularity=111 where doc_id%7==0, gen2 incs popularity+=7 for docs
    * matching 'spark'. The inc batch reads the post-set generation — the
    * RTG + merge + write-new-generation flow, each batch one distributed
    * latest-wins union. */
  val Atomic: Variant = Variant("dvatomic", simple, commit = committed { (spark, dir) =>
    import spark.implicits._
    val ids = popularityFromLength(spark, dir)
    IndexStore.updateNumericDocValues(spark, dir, ids.filter($"doc_id" % 7 === 0)
      .select($"docId", lit("popularity").as("field"), lit(111L).as("value"))
      .as[DocValueRow])
    val idx1 = IndexStore.open(spark, dir)
    val searcher1 = new GraftSearcher(idx1, Analyzers.simple)
    val sparkDocs = searcher1.matchesDS(TermQ("spark")).toDF("mDocId")
    IndexStore.updateNumericDocValues(spark, dir,
      idx1.docValues.toDF().filter($"field" === "popularity")
        .join(sparkDocs, $"docId" === $"mDocId")
        .select($"docId", $"field", ($"value" + 7L).as("value"))
        .as[DocValueRow])
    // a PARTIAL field: 'boost' exists only on docs matching 'vector' —
    // the FieldExistsQuery / sortMissingLast surface
    IndexStore.updateNumericDocValues(spark, dir,
      searcher1.matchesDS(TermQ("vector")).toDF("mDocId")
        .join(ids, $"docId" === $"mDocId")
        .select($"docId", lit("boost").as("field"), ($"doc_id" % 100).as("value"))
        .as[DocValueRow])
  })

  /** MappingCharFilter chain (reference: lucene/analysis/common/src/java/
    * org/apache/lucene/analysis/charfilter/MappingCharFilter.java +
    * NormalizeCharMap — longest-match character rewrite BEFORE the
    * tokenizer): rules big=>large, slow=>sluggish applied as the char-level
    * pre-pass; the oracle performs the identical regexp_replace in SQL.
    * Neither target surface exists as a raw corpus token, so the mapped
    * terms' postings are exactly the sources'. */
  val Mapped: Variant = Variant("map", simple,
    udf((text: String) => text
      .replaceAll("\\bbig\\b", "large")
      .replaceAll("\\bslow\\b", "sluggish")).apply(col("text")))

  /** Corpus committed through the NRT path: two `IncrementalIndexer`
    * micro-batches (disjoint docId strides) then a full compaction into one
    * segment — the batch-build/merge-equivalence evidence behind
    * `ft_incr_search` (its oracle is the same SQL as `ft_search_term`), and
    * the commit points behind the TopicStream delta-pull (q_topic). */
  val Incremental: Variant = Variant("incr", simple, commit = Some[Commit] { (all, dir, cfg) =>
    val spark = all.sparkSession
    import spark.implicits._
    val half = all.count() / 2
    val b0 = all.filter($"path" < f"doc$half%09d")
    val b1 = all.filter($"path" >= f"doc$half%09d")
    graft.streaming.IncrementalIndexer.commitBatch(b0, 0L, dir, cfg, 1L << 20)
    graft.streaming.IncrementalIndexer.commitBatch(b1, 1L, dir, cfg, 1L << 20)
    SegmentMerger.compact(spark, dir, cfg, maxSegments = 1, mergeFactor = 2)
  })

  /** Corpus deterministically accented (four common words gain NFD-
    * decomposable diacritics) and indexed through UAX#29 + LowerCase +
    * ASCIIFoldingFilter (`Analyzers.folding`). The oracle re-applies the
    * identical transform in SQL and folds with DuckDB `strip_accents` —
    * both engines must agree on every token, df, norm and BM25 score. */
  val Folded: Variant = Variant("fold", IndexConfig(analyzer = Analyzers.folding),
    replaced(Seq(
      "\\btable\\b" -> "tablé",
      "\\bquery\\b" -> "qüery",
      "\\bvalue\\b" -> "vàlue",
      "\\bhash\\b" -> "hâsh")))

  /** Corpus deterministically wrapped in HTML markup (document shell, every
    * 'table' occurrence bolded, a trailing `&amp;` entity) and indexed
    * through HTMLStripCharFilter + the simple chain (`Analyzers.htmlStrip`).
    * If tags or entities leaked into the token stream ('html', 'body',
    * 'class', 'b', 'amp' tokens; inflated doc lengths shifting every norm)
    * the BM25 oracle — which strips the same markup in SQL — would diverge. */
  val Html: Variant = Variant("html", IndexConfig(analyzer = Analyzers.htmlStrip),
    concat(lit("<html><body class=\"corpus\">"),
      replaced(Seq("\\btable\\b" -> "<b>table</b>")),
      lit(" &amp;</body></html>")))

  /** Combined-field index for BM25F scoring (Lucene CombinedFieldQuery,
    * reference: lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
    * CombinedFieldQuery.java:66-104): the query scores a VIRTUAL field whose
    * term freqs are Σ w_f·tf_f and whose norm is Σ w_f·len_f across fields.
    * With integer weights that virtual field is literally the concatenation
    * of each field repeated w_f times — so the combined index is a REAL
    * index built over `title title text` (title = the source label, w=2)
    * and searched through the unmodified engine; the oracle re-tokenizes the
    * same concatenation. */
  val Combined: Variant =
    Variant("cmb", simple, concat_ws(" ", col("source"), col("source"), col("text")))

  /** A second per-field index over the SOURCE label alone (one token per
    * doc) — the multi-field surface behind ft_edismax: Lucene/Solr keep one
    * inverted index per field, and eDisMax scores each field independently
    * before the per-term max. dl=1 everywhere, so avgdl=1 and the
    * SmallFloat norm is exact. */
  val SourceField: Variant = Variant("srcf", simple, col("source"))

  /** The plain corpus committed on disk — the directory surface for
    * out-of-band index tools (CheckIndex, replication, build telemetry) that
    * read the persisted segment layout rather than the in-memory Dataset
    * handles. */
  val PlainCommitted: Variant = Variant("bm", simple, commit = committed())

  /** Corpus indexed through the index-time synonym chain
    * (`Analyzers.synonymSlowFast` — SynonymGraphFilter semantics: every
    * 'slow' also indexes a stacked 'fast'). Queries still parse with the
    * synonym-free analyzer: synonym injection is an INDEX-side rewrite. */
  val Synonyms: Variant = Variant("syn", IndexConfig(analyzer = Analyzers.synonymSlowFast),
    queryAnalyzer = Some(Analyzers.simple))

  /** Tombstones every doc whose doc_id is divisible by 7. */
  private def deleteSevenths(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    IndexStore.deleteDocs(spark, dir, docIdMap(IndexStore.open(spark, dir))
      .filter(col("doc_id") % 7 === 0).select("docId").as[Long])
  }

  /** Writes the base `popularity` docvalues generation (= token count) and
    * returns the committed index's docId -> doc_id map. */
  private def popularityFromLength(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx0 = IndexStore.open(spark, dir)
    IndexStore.updateNumericDocValues(spark, dir, idx0.docs.toDF()
      .select($"docId", lit("popularity").as("field"), $"len".cast("long").as("value"))
      .as[DocValueRow])
    docIdMap(idx0)
  }

  private final case class Built(index: GraftIndex, searcher: GraftSearcher, dir: Option[String])

  // key includes the session: cached Dataset handles are bound to the
  // SparkSession that built them — a new session in the same JVM must
  // rebuild rather than receive handles tied to a stopped session
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Variant), Built]()

  private def built(spark: SparkSession, sfDir: String, v: Variant): Built =
    cache.computeIfAbsent((spark, sfDir, v), _ => {
      val corpus = files(spark, sfDir, v.content)
      val dir = v.commit.map { write =>
        val d = java.nio.file.Files.createTempDirectory(s"graft-docs-${v.name}-").toString
        write(corpus, d, v.config)
        d
      }
      val index = dir.fold(IndexBuilder.build(corpus, v.config))(IndexStore.open(spark, _))
      index.blocks.count() // materialize the persisted postings once
      Built(index, new GraftSearcher(index, v.queryAnalyzer.getOrElse(v.config.analyzer)), dir)
    })

  def get(spark: SparkSession, sfDir: String, v: Variant): (GraftIndex, GraftSearcher) = {
    val b = built(spark, sfDir, v)
    (b.index, b.searcher)
  }

  def get(spark: SparkSession, sfDir: String): (GraftIndex, GraftSearcher) = get(spark, sfDir, Plain)

  /** A committed variant's on-disk index dir (commit-point access:
    * [[graft.index.IndexStore.openAt]] time travel, replication,
    * CheckIndex). Forces the build if not cached yet. */
  def dir(spark: SparkSession, sfDir: String, v: Variant): String =
    built(spark, sfDir, v).dir.getOrElse(
      throw new IllegalArgumentException(s"variant ${v.name} is not committed to disk"))

  /** Per-task build telemetry of the [[PlainCommitted]] build — the
    * lineage + postings/sec rows the encode stage records per shuffle task
    * ([[graft.index.TaskBuildMetric]]), persisted with the segment. */
  def buildMetrics(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${dir(spark, sfDir, PlainCommitted)}/seg-00000/buildmetrics")

  /** Scan-parallelism floor (r06; guide §6): the local fixture corpus is a
    * single sub-row-group parquet file, so the scan plans as ONE task and
    * every per-doc tokenize across the query surface (regex inversion,
    * shingling, quality scoring — the expensive map work of most td_ and
    * ft_ queries) ran single-threaded (~2 s per pass at sf0.1). A small corpus
    * is round-robined across the cores once (~1 MB shuffle); a corpus that
    * already scans with >= defaultParallelism partitions — any real-scale
    * table — is returned untouched, so nothing is re-shuffled at 100 TB.
    * Row order is never load-bearing downstream (the repo's determinism
    * discipline: every output is explicitly ordered / order-independent). */
  def documents(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = spark.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < p) d.repartition(p) else d
  }

  /** Map the documents table onto the engine's input shape (input_hint):
    * one logical repo, path <- zero-padded doc_id, commit <- source,
    * content <- `content` (the raw text unless a variant rewrites it). repo
    * must be CONSTANT: the engine ranks docs by (repo, path, commit), and
    * only a constant repo makes internal docId order equal doc_id order —
    * which the scored oracles rely on for tie-breaks at top-k boundaries
    * (equal round4'd scores resolve by doc_id on both sides). The source
    * label rides in `commit` for the query-time-join field (ft_join). */
  private[queries] def files(
      spark: SparkSession, sfDir: String, content: Column = col("text")): Dataset[CodeFile] = {
    import spark.implicits._
    documents(spark, sfDir)
      .select(
        lit("corpus").as("repo"),
        format_string("doc%09d", $"doc_id").as("path"),
        $"source".as("commit"),
        $"lang",
        content.as("content"),
        lit(null).cast("string").as("sha256"))
      .as[CodeFile]
  }

  /** internal docId -> source doc_id (parsed back out of the padded path). */
  def docIdMap(index: GraftIndex): DataFrame =
    index.docs.toDF().select(
      col("docId"),
      expr("CAST(substring(path, 4) AS BIGINT)").as("doc_id"))
}
