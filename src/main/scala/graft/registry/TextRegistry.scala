package graft
package registry

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.ops.{CohortOps, Recodes}
import graft.sim.{Quantized, Similarity}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** text analysis (tokenize, quality, tf-idf, chunking, fingerprints) — one slice of the driver registry.
  *
  * Split out of Shared.scala in r12 (maintainability: the single file
  * had reached 8.7k lines). PURE CODE MOTION: entry bodies and oracle SQL
  * are byte-identical to the pre-split registry; SparkEntry composes the
  * slices back into the same `queries`/`oracleSql` maps. r13: misfiled
  * entries re-homed to their named family slice (pure motion again, same
  * duplicate-key guard).
  */
private[graft] object TextRegistry {
  import Shared._

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // PII redaction over the corpus: deterministic synthetic PII is
    // injected (the test corpus carries none), then scrubbed email→URL→
    // phone; the scrubbed text round-trips as an md5 so the oracle
    // hash-checks every byte of every replacement. Pure regex chain —
    // codegen'd, scan-speed, no shuffle
    "t_scrub_pii" -> ((s, d) => {
      val id = col("doc_id")
      val injected = concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit(" see https://ex.org/p/"), id.cast("string"), lit("?q=1")))
          .otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" call 415-555-"), lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")))
      val (ne, nu, np) = TextOps.piiCounts(col("inj"))
      Tables.documents(s, d)
        .withColumn("inj", injected)
        .select(col("doc_id"),
          ne.as("n_emails"), nu.as("n_urls"), np.as("n_phones"),
          md5(TextOps.scrubPii(col("inj")).cast("binary")).as("scrub_md5"))
    }),

    // keyword extraction: top-3 terms per document by smooth-idf TF-IDF
    // with a deterministic (score desc, term asc) tiebreak — the per-doc
    // top-k window rides the RowNumberTopKRule → TopKPerKey rewrite that
    // graft.Session installs (bounded heap, no full per-partition sort)
    "t_keywords" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nDocs = docs.count()
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term")
        .select(
          col("doc_id"), col("term"),
          round(col("tf") *
            (log(lit((nDocs + 1L).toDouble) / (col("df") + lit(1L)).cast("double")) + lit(1.0)),
            6).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
    }),

    "t_zipf" -> ((s, d) =>
      graft.text.CorpusStats.zipfSlope(t(s, d, "documents"), col("text"), topN = 200)),

    // tokenizer BAKE-OFF: coverage + occurrence-weighted fertility for
    // the three trained families (BPE / unigram / WordPiece) on the same
    // corpus — three |distinct words|-sized tables, three 1-row aggs,
    // fixed-point micro ratio (exact longs, one correctly-rounded divide)
    "t_tok_fertility" -> ((s, d) =>
      graft.text.TokenizerEval.fertility(t(s, d, "documents"), "text",
        bpeRounds = 5, maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // deploy-time WordPiece: vocab trained on `documents`, walked over
    // the UNSEEN part-name corpus — unseen-char and over-long words
    // surface as [UNK] on both engines
    "t_wordpiece_apply" -> ((s, d) =>
      graft.text.WordPiece.encodeApply(
        t(s, d, "documents"), "text", t(s, d, "part"), "p_name",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // greedy longest-match-first encode of every distinct corpus word:
    // broadcast vocab + one shuffle-free typed pass; dead/over-long
    // words map to the single [UNK] token (BERT max_input_chars rule);
    // the oracle replays the SAME walk as unrolled MATERIALIZED CTEs
    "t_wordpiece_encode" -> ((s, d) =>
      graft.text.WordPiece.encode(t(s, d, "documents"), "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // WordPiece (BERT) tokenizer — the GREEDY longest-match counterpart
    // of the unigram Viterbi: positional vocab (bare initial pieces,
    // '##'-prefixed continuations), single-char cores always survive
    "t_wordpiece_vocab" -> ((s, d) =>
      graft.text.WordPiece.vocab(t(s, d, "documents"), "text",
        maxPieceLen = 4, minFreq = 3)),

    // deploy-time unigram encode: model trained on `documents`, applied
    // to the UNSEEN part-name corpus; words with characters the training
    // corpus never produced drop out (no DP path) on both engines
    "t_unigram_apply" -> ((s, d) =>
      graft.text.UnigramLm.segmentApply(
        t(s, d, "documents"), "text", t(s, d, "part"), "p_name",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // ONE hard-EM (Viterbi-EM) round — SentencePiece's actual training
    // step: segment under the count model, re-estimate piece scores from
    // the segmentations (unused pieces fall out = EM vocabulary pruning),
    // re-segment. Two broadcast-model typed passes; BOTH DPs and the
    // re-scored model are cross-engine-checked
    "t_unigram_em" -> ((s, d) =>
      graft.text.UnigramLm.emSegment(t(s, d, "documents"), "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // max-likelihood Viterbi segmentation of every distinct corpus word
    // under the unigram model: broadcast vocab + one shuffle-free typed
    // pass; the oracle replays the SAME DP as unrolled MATERIALIZED CTEs
    "t_unigram_segment" -> ((s, d) =>
      graft.text.UnigramLm.segment(t(s, d, "documents"), "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12)),

    // unigram-LM tokenizer (SentencePiece's second algorithm) — the
    // top-down counterpart of BPE: substring vocab with fixed-point
    // micro-nat log-probs (integer argmax = engine-exact)
    "t_unigram_vocab" -> ((s, d) =>
      graft.text.UnigramLm.vocab(t(s, d, "documents"), "text",
        maxPieceLen = 4, minFreq = 3)),

    // deploy-time tokenizer: merges trained on `documents` applied to an
    // UNSEEN corpus (part names) — the real encode path, not the vocab
    // join (which only covers training words). The merge list is a
    // bounded driver readout (|rounds| rows) compiled into ONE
    // chained-replace codegen projection over the distinct-word frame
    "t_bpe_apply" -> ((s, d) => {
      val merges = graft.text.BpeTrain
        .learnMerges(t(s, d, "documents"), "text", rounds = 5)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.BpeTrain.applyMerges(t(s, d, "part"), "p_partkey", "p_name", merges)
    }),

    // train→ENCODE round trip: per-doc BPE token counts under the learned
    // merges next to raw char counts (the chars/token compression
    // readout); the encode is a vocab join — each distinct word's final
    // symbolization IS its encoding
    "t_bpe_encode" -> ((s, d) =>
      graft.text.BpeTrain.encodedTokenCounts(
        t(s, d, "documents"), "doc_id", "text", rounds = 5)),

    // BPE merge training (5 rounds), exactly oracled: corpus read ONCE
    // for word counts; each round counts adjacent symbol pairs on the
    // |distinct words| frame, picks the argmax (lexicographic tiebreak),
    // and applies the merge via a delimiter-bounded literal replace —
    // the tokenizer-training step as deterministic unrolled rounds
    "t_bpe_merges" -> ((s, d) =>
      graft.text.BpeTrain.learnMerges(t(s, d, "documents"), "text", rounds = 5)),

    // Gopher/C4-style quality cascade with first-failure drop accounting:
    // token-count bounds → mean-token-length bounds → type/token-ratio
    // repetition floor; ONE scan + a ≤4-row hash-agg
    "t_quality_cascade" -> ((s, d) =>
      graft.text.QualityCascade.cascade(
        t(s, d, "documents"), "text",
        minTokens = 50, maxTokens = 100000,
        minMeanLen = 3.0, maxMeanLen = 4.8, minTtr = 0.35)),

    // Zipf-law fit over the corpus's top-200 terms: OLS slope of
    // ln(freq) ~ ln(rank) — natural language reads ≈ −1, template/spam
    // corpora bend it; one term-frequency hash-agg + TakeOrdered(200)
    // overlapping token-window chunking (context-window prep with stride
    // overlap): tokenize → sequence over starts → explode → slice, all
    // executor-side, zero shuffles — output ≈ win/stride × input tokens
    "t_chunk_windows" -> ((s, d) =>
      graft.text.Chunking.chunkOverlap(
        t(s, d, "documents"), "doc_id", "text", win = 64, stride = 32)),

    // word-association mining: PMI over adjacent-token bigrams (count ≥ 5)
    // — two hash aggregations (unigrams, bigrams) + two small joins; the
    // corpus totals ride a broadcast scalar, and the log-ratio is a single
    // identical op chain on both engines
    "t_pmi_bigrams" -> ((s, d) => {
      val toks = t(s, d, "documents").select(TextOps.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bg = toks.filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val totals = toks.agg(
        sum(size(col("t")).cast("long")).as("n_uni"),
        sum(greatest(size(col("t")) - 1, lit(0)).cast("long")).as("n_bi"))
      bg
        .join(uni.select(col("w").as("_w1"), col("c").as("c_x")),
          element_at(split(col("bigram"), " "), 1) === col("_w1"))
        .join(uni.select(col("w").as("_w2"), col("c").as("c_y")),
          element_at(split(col("bigram"), " "), 2) === col("_w2"))
        .crossJoin(broadcast(totals))
        .select(col("bigram"), col("c_xy"),
          round(log((col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
            (col("n_bi").cast("double") * col("c_x") * col("c_y"))), 6).as("pmi"))
    }),

    // M1 extension: TF-IDF weights computed relationally (sklearn
    // smooth-idf formula: ln((N+1)/(df+1)) + 1) — one tf aggregation, one
    // df aggregation, a broadcast-size join on term. Exactly oracle-able
    // (integer counts; one ln per term, round-6). Restricted to a bounded
    // doc set for the gate; the plan is corpus-size-linear.
    "t_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nDocs = docs.count()
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "term")
        .filter(col("doc_id") < 25)
        .select(
          col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") *
            (log(lit((nDocs + 1L).toDouble) / (col("df") + lit(1L)).cast("double")) + lit(1.0)),
            6).as("tfidf"))
    }),

    "t_token_stats" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        TextOps.alphaRatio(col("text")).as("alpha_ratio"))),

    // BPE-ish subword-count estimate (alpha runs contribute ceil(len/4)
    // pieces, digit runs 1 each) — the cheap deterministic token-budget
    // proxy for an LLM-data pipeline, exactly mirrored in SQL
    "t_token_bpe" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), TextOps.tokenCountBpeIsh(col("text")).as("n_bpe"))),

    // text quality components (exact integer-ratio arithmetic)
    "t_quality" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.alphaRatio(col("text")).as("alpha_ratio"),
        TextOps.stopwordRatio(col("text")).as("stop_ratio"),
        TextOps.meanTokenLen(col("text")).as("mean_tok_len"))),

    "t_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang").as("actual_lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy("actual_lang", "pred_lang").agg(count(lit(1)).as("cnt"))),

    "t_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fingerprint"))),

    "t_rolling_hash" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), TextOps.rollingHash(col("text")).as("rhash"))),

    // Gopher/C4-style repetition quality signal: fraction of word 3-grams
    // that are repeats within the document. Tokens materialize behind one
    // projection boundary (the shingle transform references the token
    // attribute, not the regex subtree — see TextOps.shingles PERF note).
    "t_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          when(size(col("toks")) < 3, lit(0L)).otherwise(size(col("toks")) - 2).cast("bigint").as("n_shingles"),
          size(TextOps.shinglesFromTokens(col("toks"), 3)).cast("bigint").as("n_distinct"))
        .withColumn("dup_frac",
          when(col("n_shingles") === 0, lit(0.0))
            .otherwise(round(lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"), 6)))),
          // shinglesFromTokens is already distinct — one definition shared
          // with the Jaccard/MinHash dedup path

    // per-doc n-gram novelty: the fraction of a doc's distinct 3-shingles
    // never seen in any LOWER-id doc — the dataset-curation novelty
    // profile (a low-novelty doc is boilerplate/near-dup even when no
    // single pair crosses a dedup threshold). One explode → hash-agg for
    // the global first-occurrence table, one equi-join on the shingle
    "t_ngram_novelty" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          explode(TextOps.shinglesFromTokens(col("_toks"), 3)).as("shingle"))
      val firstDoc = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
      sh.join(firstDoc, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    }),

    // fixed-size token-window chunking — the "split documents into model
    // context windows" step of an LLM data pipeline. Emits one row per
    // 40-token chunk with its token span and an md5 of the chunk text so
    // the chunk CONTENT (not just the arithmetic) is hash-checked.
    "t_chunk_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), ceil(size(col("toks")) / lit(40.0)).cast("int") - 1)))
        .select(
          col("doc_id"),
          col("col").as("chunk_idx"),
          (col("col") * 40).cast("bigint").as("tok_start"),
          least(size(col("toks")).cast("bigint"), (col("col") + 1) * lit(40L)).as("tok_end"),
          md5(concat_ws(" ", slice(col("toks"), col("col") * 40 + 1,
            lit(40)))).as("chunk_md5"))),

    // token-budget sequence packing: documents laid end-to-end on ONE
    // global token axis (distributed two-pass cumsum — no single-partition
    // window) and chopped into 512-token context windows; each doc reports
    // its global start offset and the [first, last] window span it lands
    // in — the packed-pretraining shard layout.
    "t_pack_windows" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      graft.ops.SequencePacking.packWindows(
        docs, col("n_tokens"), budget = 512L, col("doc_id"))
        .df.select("doc_id", "n_tokens", "start_off", "first_win", "last_win")
    }),

    // OVERLAPPING chunks (40-token window, 20-token stride — each token in
    // ≤2 chunks): the retrieval-context variant where boundary-spanning
    // content must appear whole in at least one chunk. Starts at 0, 20, …
    // while start < n_tokens; trailing chunks may be sub-window.
    "t_chunk_overlap" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), ceil(size(col("toks")) / lit(20.0)).cast("int") - 1)))
        .select(
          col("doc_id"),
          col("col").as("chunk_idx"),
          (col("col") * 20).cast("bigint").as("tok_start"),
          least(size(col("toks")).cast("bigint"), col("col") * 20 + lit(40L)).as("tok_end"),
          md5(concat_ws(" ", slice(col("toks"), col("col") * 20 + 1,
            lit(40)))).as("chunk_md5"))),

    // E13/E16 standalone: the newline-scrub + punct/digit-strip normalize
    // step, oracled directly (regexp_replace is in the dialect intersection)
    "t_normalize" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"), TextOps.normalize(col("text")).as("norm_text"))),

    // E16's lemmatize step end-to-end through the native codegen'd
    // Lemmatize expression, hash-checked: the oracle renders the SAME
    // suffix/irregular rule engine into generated DuckDB SQL
    // (Lemmatizer.oracleSql), closing the last spec-only E row
    "t_lemmas" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        array_join(
          graft.functions.GraftFunctions.lemmatize_all(TextOps.tokens(col("text"))),
          " ").as("lemmas"))),

    // corpus-level LM quality score (perplexity filter)
    "t_bigram_lm" -> ((s, d) =>
      graft.text.BigramLm.docScores(
        t(s, d, "documents"), "doc_id", "text", minCount = 3L)),

    // interpolated Kneser-Ney at D = 3/4: every probability an exact
    // rational of corpus counts (context counts, not occurrences, drive
    // the backoff — the smoothing every pre-neural LM shipped), ONE
    // correctly-rounded divide per bigram; top-50 by count
    "t_kn_bigram" -> ((s, d) =>
      graft.text.BigramLm.kneserNey(t(s, d, "documents"), "text", topK = 50)),

    // BM25 keyword relevance over the corpus — explode filtered to the
    // query terms before aggregation; df/avgdl broadcast onto the scoring
    "t_bm25" -> ((s, d) =>
      graft.text.Bm25.scores(
        t(s, d, "documents"), "doc_id", "text",
        Seq("join", "window", "stream", "vector"))),

    // web-crawl curation: URL extraction (regexp_extract_all) → host
    // normalization (lowercase, strip www.) → per-domain link/doc counts;
    // injection is deterministic so both engines see identical text
    "t_url_hosts" -> ((s, d) => {
      val id = col("doc_id")
      val host = concat(
        when(id % 2 === 0, lit("WWW.")).otherwise(lit("")),
        lit("site"), pmod(id, lit(7)).cast("string"),
        lit(".example"), when(id % 3 === 0, lit(".org")).otherwise(lit(".com")))
      val injected = concat(col("text"),
        when(id % 4 === 0,
          concat(lit(" see https://"), host, lit("/p/"), id.cast("string")))
          .otherwise(lit("")),
        when(id % 6 === 0, concat(lit(" also http://"), host, lit("/q")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .withColumn("inj", injected)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(inj, 'https?://([A-Za-z0-9.-]+)', 1)"))
            .as("raw"))
        .select(col("doc_id"),
          regexp_replace(lower(col("raw")), "^www\\.", "").as("host"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_links"), countDistinct(col("doc_id")).as("n_docs"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // identical injection + identical RE2∩Java regexes; the md5 pins every
    // replacement byte
    "t_scrub_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0 THEN ' see https://ex.org/p/' || CAST(doc_id AS VARCHAR) || '?q=1' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |         AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |       CAST(len(regexp_extract_all(t, 'https?://[!-~]+')) AS INTEGER) AS n_urls,
        |       CAST(len(regexp_extract_all(t, '\b\d{3}[-.]?\d{3}[-.]?\d{4}\b')) AS INTEGER) AS n_phones,
        |       md5(regexp_replace(
        |             regexp_replace(
        |               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |               'https?://[!-~]+', '<URL>', 'g'),
        |             '\b\d{3}[-.]?\d{3}[-.]?\d{4}\b', '<PHONE>', 'g')) AS scrub_md5
        |FROM inj""".stripMargin,

    "t_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS term
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term), n
        |)
        |SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored
        |) WHERE rank <= 3""".stripMargin,

    "t_zipf" -> graft.text.CorpusStats.zipfOracleSql("documents", "text", topN = 200),

    "t_tok_fertility" ->
      graft.text.TokenizerEval.fertilityOracleSql("documents", "text",
        bpeRounds = 5, maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_wordpiece_apply" ->
      graft.text.WordPiece.encodeApplyOracleSql("documents", "text",
        "part", "p_name", maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_wordpiece_encode" ->
      graft.text.WordPiece.encodeOracleSql("documents", "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_wordpiece_vocab" ->
      graft.text.WordPiece.vocabOracleSql("documents", "text",
        maxPieceLen = 4, minFreq = 3),

    "t_unigram_apply" ->
      graft.text.UnigramLm.segmentApplyOracleSql("documents", "text",
        "part", "p_name", maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_unigram_em" ->
      graft.text.UnigramLm.emSegmentOracleSql("documents", "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_unigram_segment" ->
      graft.text.UnigramLm.segmentOracleSql("documents", "text",
        maxPieceLen = 4, minFreq = 3, maxWordLen = 12),

    "t_unigram_vocab" ->
      graft.text.UnigramLm.vocabOracleSql("documents", "text",
        maxPieceLen = 4, minFreq = 3),

    "t_bpe_apply" -> graft.text.BpeTrain.applyMergesOracleSql(
      "documents", "text", rounds = 5, "part", "p_partkey", "p_name"),

    "t_bpe_encode" ->
      graft.text.BpeTrain.encodeOracleSql("documents", "doc_id", "text", rounds = 5),

    "t_bpe_merges" ->
      graft.text.BpeTrain.learnMergesOracleSql("documents", "text", rounds = 5),

    "t_quality_cascade" -> graft.text.QualityCascade.cascadeOracleSql(
      "documents", "text", minTokens = 50, maxTokens = 100000,
      minMeanLen = 3.0, maxMeanLen = 4.8, minTtr = 0.35),

    "t_chunk_windows" -> graft.text.Chunking.chunkOverlapOracleSql(
      "documents", "doc_id", "text", win = 64, stride = 32),

    "t_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        |), bg AS (
        |  SELECT bigram, count(*) AS c_xy FROM (
        |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |    FROM toks WHERE len(t) >= 2
        |  ) GROUP BY 1 HAVING count(*) >= 5
        |), tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS n_uni,
        |         CAST(SUM(GREATEST(len(t) - 1, 0)) AS BIGINT) AS n_bi
        |  FROM toks
        |)
        |SELECT bg.bigram, bg.c_xy,
        |       round(ln((CAST(bg.c_xy AS DOUBLE) * n_uni * n_uni) /
        |                (CAST(n_bi AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM bg
        |JOIN uni u1 ON u1.w = split_part(bg.bigram, ' ', 1)
        |JOIN uni u2 ON u2.w = split_part(bg.bigram, ' ', 2), tot""".stripMargin,

    "t_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS term
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |       round(tf.tf * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
        |FROM tf JOIN dfreq USING (term), n
        |WHERE tf.doc_id < 25""".stripMargin,

    "t_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
        |  END AS alpha_ratio,
        |  CASE WHEN len(t) = 0 THEN 0.0 ELSE
        |    CAST(len(list_filter(t, x -> list_contains(['a','an','the','and','or','of','to','in','on','at','for','is','are','was','were','be','been','it','its','this','that','with','as','by','from','not','no','but','if','then','so'], x))) AS DOUBLE) / len(t)
        |  END AS stop_ratio,
        |  CASE WHEN len(t) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
        |  END AS mean_tok_len
        |FROM toks""".stripMargin,

    "t_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |       x -> list_contains(['a','an','the','and','or','of','to','in','on','at','for','is','are','was','were','be','been','it','its','this','that','with','as','by','from','not','no','but','if','then','so'], x))) AS INTEGER) AS n_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
        |  END AS alpha_ratio
        |FROM documents""".stripMargin,

    "t_pack_windows" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
        |  FROM tk
        |)
        |SELECT doc_id, n_tokens,
        |       CAST(end_off - n_tokens AS BIGINT) AS start_off,
        |       CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS first_win,
        |       CAST(CASE WHEN n_tokens > 0 THEN floor((end_off - 1) / 512.0)
        |            ELSE floor((end_off - n_tokens) / 512.0) END AS BIGINT) AS last_win
        |FROM c""".stripMargin,

    "t_lang_id" ->
      """WITH scored AS (
        |  SELECT lang AS actual_lang,
        |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS is_cjk,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents
        |), h AS (
        |  SELECT actual_lang, is_cjk,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','is','with'], x))) AS en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','que','los'], x))) AS es,
        |    len(list_filter(toks, x -> list_contains(['le','la','de','et','les'], x))) AS fr,
        |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS de
        |  FROM scored
        |)
        |SELECT actual_lang,
        |  CASE WHEN is_cjk THEN 'zh'
        |       WHEN en >= es AND en >= fr AND en >= de THEN 'en'
        |       WHEN es >= fr AND es >= de THEN 'es'
        |       WHEN fr >= de THEN 'fr'
        |       ELSE 'de' END AS pred_lang,
        |  count(*) AS cnt
        |FROM h GROUP BY 1, 2""".stripMargin,

    "t_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) = 0
        |       THEN md5(lower(text))
        |       ELSE md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''), ' '))
        |  END AS fingerprint
        |FROM documents""".stripMargin,

    "t_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[\r\n]', ' ', 'g'), '[^a-z ]', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "t_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks WHERE len(t) >= 3
        |  )
        |), fd AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN fd.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |FROM sh JOIN fd USING (shingle)
        |GROUP BY 1""".stripMargin,

    "t_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) < 3 THEN 0 ELSE len(t) - 2 END AS n_shingles,
        |         CASE WHEN len(t) < 3 THEN 0
        |              ELSE len(list_distinct(list_transform(range(1, len(t) - 1),
        |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) END AS n_distinct
        |  FROM toks
        |)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       CASE WHEN n_shingles = 0 THEN 0.0
        |            ELSE round(1.0 - CAST(n_distinct AS DOUBLE) / n_shingles, 6) END AS dup_frac
        |FROM sh""".stripMargin,

    "t_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), expl AS (
        |  SELECT doc_id, t,
        |         unnest(range(0, CAST(ceil(len(t) / 40.0) AS BIGINT))) AS i
        |  FROM toks WHERE len(t) > 0
        |)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |       CAST(i * 40 AS BIGINT) AS tok_start,
        |       LEAST(CAST(len(t) AS BIGINT), (i + 1) * 40) AS tok_end,
        |       md5(array_to_string(list_slice(t, i * 40 + 1, (i + 1) * 40), ' ')) AS chunk_md5
        |FROM expl""".stripMargin,

    "t_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), expl AS (
        |  SELECT doc_id, t,
        |         unnest(range(0, CAST(ceil(len(t) / 20.0) AS BIGINT))) AS i
        |  FROM toks WHERE len(t) > 0
        |)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |       CAST(i * 20 AS BIGINT) AS tok_start,
        |       LEAST(CAST(len(t) AS BIGINT), i * 20 + 40) AS tok_end,
        |       md5(array_to_string(list_slice(t, i * 20 + 1, i * 20 + 40), ' ')) AS chunk_md5
        |FROM expl""".stripMargin,

    "t_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(17 AS BIGINT),
        |    list_transform(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''),
        |      t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT))),
        |    (acc, h) -> (acc * 31 + h) % 2147483647) AS rhash
        |FROM documents""".stripMargin,

    "t_token_bpe" ->
      """SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''),
        |         t -> CAST(CEIL(length(t) / 4.0) AS BIGINT))), 0)
        |       + len(list_filter(regexp_split_to_array(text, '[^0-9]+'), x -> x <> '')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,

    "t_lemmas" ->
      graft.text.Lemmatizer.oracleSql("documents", "doc_id", "text"),

    // per-bigram log-probs are micro-scaled to integers BEFORE the per-doc
    // sum, so the mean is order-independent on both engines
    "t_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        |), v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_size FROM uni),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS r(i)
        |), bc AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
        |)
        |SELECT bg.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN bc.c2 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  round(CAST(SUM(CAST(round(ln(CAST(bc.c2 + 1 AS DOUBLE) / (uni.c1 + v.v_size)) * 1e6) AS BIGINT)) AS DOUBLE)
        |        / (COUNT(*) * 1e6), 6) AS avg_lp
        |FROM bg JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
        |        JOIN uni ON bg.w1 = uni.w
        |        CROSS JOIN v
        |GROUP BY bg.doc_id""".stripMargin,

    "t_kn_bigram" ->
      graft.text.BigramLm.kneserNeyOracleSql("documents", "text", topK = 50),

    "t_bm25" -> graft.text.Bm25.oracleSql(
      "documents", "doc_id", "text", Seq("join", "window", "stream", "vector")),

    "t_url_hosts" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 4 = 0 THEN ' see https://'
        |              || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |              || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example'
        |              || CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END
        |              || '/p/' || CAST(doc_id AS VARCHAR) ELSE '' END
        |         || CASE WHEN doc_id % 6 = 0 THEN ' also http://'
        |              || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |              || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example'
        |              || CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END
        |              || '/q' ELSE '' END
        |         AS t
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS raw
        |  FROM inj
        |)
        |SELECT regexp_replace(lower(raw), '^www\.', '') AS host,
        |       CAST(count(*) AS BIGINT) AS n_links,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM u GROUP BY 1""".stripMargin,
  )
}
