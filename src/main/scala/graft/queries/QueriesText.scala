package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef
import graft.queries.Shared._

/** Text analysis and LLM-data curation: tokenization/BPE, quality filters, LM scoring, retrieval, mixing/selection, contamination.
  *
  * One registry shard of [[Queries.all]] — same QueryDef/oracle
  * conventions (see [[Queries]]'s scaladoc); split from the single
  * 11.6k-line Queries.scala in round 16 for maintainability. */
private[queries] object QueriesText {

  def defs: Seq[QueryDef] = Seq(


    // ---------------------------------------------------------------------
    // q9: scalar string functions (C1-C7): pure per-row projection — fuses
    // into the scan under whole-stage codegen.
    QueryDef("q9_part_text",
      (s, dir) => {
        val p = t(s, dir, "part")
        p.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey"),
            upper(col("p_brand")).as("brand_u"),
            substring(col("p_name"), 1, 5).as("name5"),
            regexp_replace(col("p_type"), " ", "_").as("type_u"),
            length(col("p_name")).as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            trim(lower(col("p_name"))).as("name_norm"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
             |  substr(p_name, 1, 5) AS name5,
             |  replace(p_type, ' ', '_') AS type_u,
             |  length(p_name) AS name_len,
             |  concat_ws('|', p_brand, p_type) AS brand_type,
             |  trim(lower(p_name)) AS name_norm
             |FROM part WHERE p_partkey % 10 = 0 ORDER BY p_partkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q15: text analysis (language-ID, quality, token counts) — pure per-row
    // expressions over documents; every metric has an exact SQL twin because
    // all arithmetic is integer-derived.
    QueryDef("q15_doc_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // explode-once -> codegen'd conditional-sum aggregate -> join back:
        // the corpus-scale shape (interpreted per-row lambdas would burn
        // cores on dispatch at 100 TB) — see operators.TextProfile
        graft.operators.TextProfile.profile(d, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("lang_pred"),
            round(col("stopword_ratio"), 6).as("stopword_ratio"),
            round(col("mean_word_len"), 6).as("mean_word_len"),
            col("quality"))
          .orderBy(col("doc_id"))
      },
      Some(docStatsOracle)),


    // ---------------------------------------------------------------------
    // q41: corpus vocabulary — word frequency top-20 (explode -> count ->
    // top-k with total tie order). The canonical corpus-analysis scan.
    QueryDef("q41_word_freq",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(explode(Text.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word").asc)
          .limit(20)
      },
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin)),


    // ---------------------------------------------------------------------
    // q46: token-budget selection — order the corpus by quality (best
    // first), keep documents while the cumulative token count fits the
    // budget. Two-phase distributed prefix sum (Budget.tokenBudgetSelect):
    // value-identical to the naive global window, no single-task stage.
    QueryDef("q46_token_budget",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.operators.TextProfile.profile(d, "doc_id", "text")
        graft.operators.Budget.tokenBudgetSelect(scored,
            Seq(col("quality").desc, col("doc_id").asc), col("n_tokens"),
            budget = 20000)
          .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
              |FROM (
              |  SELECT doc_id, n_tokens,
              |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
              |  FROM (${docStatsNoOrder.replace("\n", "\n  ")}))
              |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q62: benchmark decontamination — flag training documents that share
    // >= 2 distinct word-3-gram shingles with any held-out eval document
    // (the train/test overlap scrub every LLM corpus pipeline runs).
    // Inverted-index join between the two sides (shuffle on shingle), never
    // a doc x doc cross join; same skew-cap story as q19.
    // ---------------------------------------------------------------------
    // q63: Gopher-style repetition/quality rules (QualityRules.signals) —
    // duplicate-token fraction, top-2-gram character fraction, and
    // symbol-to-word ratio, each thresholded into a keep flag. Symbol noise
    // ('## ####' + an ellipsis) is planted deterministically on every 7th
    // doc (same device as q56's planted PII) so the symbol rule actually
    // fires. Thresholds sit at this corpus's observed medians so keep
    // varies. Plan: two explode->count aggs on (doc, token) / (doc, 2gram)
    // composite keys, partial agg on both, order-free struct-max for the
    // top gram — no window, no per-doc sort.
    QueryDef("q63_quality_rules",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = d.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" ## #### and then ...")))
            .otherwise(col("text")).as("text"))
        graft.operators.QualityRules.signals(planted, "doc_id", "text",
            maxDupTokFrac = 0.5, maxTop2gramCharFrac = 0.08,
            maxSymbolWordRatio = 0.1)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' ## #### and then ...'
             |         ELSE text END AS text
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks,
             |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
             |      + CAST((len(text) - len(replace(text, '...', ''))) / 3
             |             AS BIGINT) AS n_symbols
             |  FROM d),
             |tok AS (SELECT doc_id, unnest(toks) AS tok FROM b),
             |ts AS (SELECT doc_id, count(*) AS n_tokens,
             |         count(DISTINCT tok) AS n_distinct
             |       FROM tok GROUP BY doc_id),
             |gr AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 2
             |         THEN list_transform(range(len(toks) - 1),
             |                i -> toks[i + 1] || ' ' || toks[i + 2])
             |         ELSE [array_to_string(toks, ' ')] END AS grams
             |  FROM b),
             |g AS (SELECT doc_id, unnest(grams) AS gram FROM gr),
             |gc AS (SELECT doc_id, gram, count(*) AS cnt
             |       FROM g GROUP BY doc_id, gram),
             |top AS (SELECT doc_id, gram, cnt FROM (
             |    SELECT doc_id, gram, cnt, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
             |    FROM gc) WHERE rn = 1),
             |m AS (
             |  -- LEFT joins + coalesce: a tokenless doc keeps its row with
             |  -- all-zero ratios (the operator contract); a doc with < 2
             |  -- tokens has NO 2-gram, so the fallback shingle is gated out
             |  SELECT b.doc_id, coalesce(ts.n_tokens, 0) AS n_tokens,
             |    round(CASE WHEN coalesce(ts.n_tokens, 0) > 0
             |      THEN (ts.n_tokens - ts.n_distinct) * 1.0 / ts.n_tokens
             |      ELSE 0.0 END, 6) AS dup_tok_frac,
             |    CASE WHEN coalesce(ts.n_tokens, 0) >= 2
             |      THEN coalesce(top.gram, '') ELSE '' END AS top_2gram,
             |    CASE WHEN coalesce(ts.n_tokens, 0) >= 2
             |      THEN coalesce(top.cnt, 0) ELSE 0 END AS top_2gram_cnt,
             |    round(CASE WHEN coalesce(ts.n_tokens, 0) >= 2 AND b.n_chars > 0
             |      THEN coalesce(top.cnt, 0) * len(coalesce(top.gram, '')) * 1.0
             |           / b.n_chars
             |      ELSE 0.0 END, 6) AS top2gram_char_frac,
             |    round(CASE WHEN coalesce(ts.n_tokens, 0) > 0
             |      THEN b.n_symbols * 1.0 / ts.n_tokens
             |      ELSE 0.0 END, 6) AS symbol_word_ratio
             |  FROM b LEFT JOIN ts USING (doc_id) LEFT JOIN top USING (doc_id))
             |SELECT doc_id, n_tokens, dup_tok_frac, top_2gram, top_2gram_cnt,
             |  top2gram_char_frac, symbol_word_ratio,
             |  (dup_tok_frac <= 0.5 AND top2gram_char_frac <= 0.08
             |    AND symbol_word_ratio <= 0.1) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    QueryDef("q62_decontaminate",
      (s, dir) => {
        // shingle ONCE for the whole corpus, cache, split train/eval by
        // filter — halves the tokenize+explode work vs two posting builds
        val d = t(s, dir, "documents")
        val posts = graft.pipeline.Pins.pin(
          Dedup.shinglePostings(d, "doc_id", "text", 3))
        val isEval = pmod(col("id"), lit(50)) === 0
        val trainPosts = posts.filter(!isEval)
          .select(col("id").as("train_id"), col("shingle"))
        val evalPosts = posts.filter(isEval)
          .select(col("id").as("eval_id"), col("shingle"))
        trainPosts.join(evalPosts, "shingle")
          .groupBy(col("train_id"), col("eval_id"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy(col("train_id"), col("eval_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |train AS (SELECT doc_id AS train_id, shingle FROM posts
             |          WHERE doc_id % 50 <> 0),
             |eval AS (SELECT doc_id AS eval_id, shingle FROM posts
             |         WHERE doc_id % 50 = 0)
             |SELECT train_id, eval_id, count(*) AS n_shared
             |FROM train JOIN eval USING (shingle)
             |GROUP BY train_id, eval_id
             |HAVING count(*) >= 2
             |ORDER BY train_id, eval_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q60: data-mixture construction — an INDEPENDENT token budget per
    // domain (language), the per-source quota step of training-corpus
    // mixing. Languages are FEW, so a lang-partitioned cumulative window
    // would run each domain's corpus slice in ONE task; the per-domain
    // prefix rides Budget.groupedCumulativeSum instead (two-phase
    // distributed prefix over the composite (lang, n_chars desc, doc_id)
    // sort — the plan of Sessionize's KS ladder, q180), value-identical
    // in exact long arithmetic.
    QueryDef("q60_domain_mix",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.operators.Budget.groupedCumulativeSum(
            d.select(col("doc_id"), col("lang"),
              Text.tokenCount(col("text")).cast("long").as("n_tokens"),
              col("n_chars")),
            "lang", Seq(col("n_chars").desc, col("doc_id")),
            col("n_tokens"), "cum_tokens")
          .filter(col("cum_tokens") <= 8000)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("cum_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tc AS (
             |  SELECT doc_id, lang, n_chars,
             |    CAST(len(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, lang, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM tc)
             |SELECT doc_id, lang, n_tokens,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM c WHERE cum_tokens <= 8000 ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q57: boilerplate-line removal (CCNet/RefinedWeb line dedup): lines in
    // >= 100 distinct docs are site furniture and get stripped. Planted:
    // NAV + COPYRIGHT on every doc, PROMO on half (all >= 100 -> stripped),
    // a per-doc-group 'ref section' line on ~1/7 (< 100 -> kept).
    QueryDef("q57_boilerplate",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            lit("NAV home products pricing"),
            col("text"),
            when(pmod(col("doc_id"), lit(2)) === 0,
              lit("PROMO subscribe to newsletter")),
            concat(lit("ref section "), pmod(col("doc_id"), lit(7)).cast("string")),
            lit("COPYRIGHT example corp")).as("text"))
        Boilerplate.strip(planted, "doc_id", "text", minDocs = 100)
          .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
            size(split(col("clean_text"), "\n")).cast("long").as("n_lines"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    'NAV home products pricing',
             |    text,
             |    CASE WHEN doc_id % 2 = 0 THEN 'PROMO subscribe to newsletter' END,
             |    'ref section ' || CAST(doc_id % 7 AS VARCHAR),
             |    'COPYRIGHT example corp') AS t2
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id,
             |    unnest(range(1, len(string_split(t2, chr(10))) + 1)) AS pos,
             |    unnest(string_split(t2, chr(10))) AS line
             |  FROM p),
             |freq AS (
             |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
             |  GROUP BY line HAVING count(*) >= 100),
             |kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM freq)),
             |agg AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM kept GROUP BY doc_id)
             |SELECT p.doc_id, md5(coalesce(a.clean_text, '')) AS clean_md5,
             |  CAST(len(string_split(coalesce(a.clean_text, ''), chr(10))) AS BIGINT)
             |    AS n_lines
             |FROM p LEFT JOIN agg a ON p.doc_id = a.doc_id
             |ORDER BY p.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q71: TF-IDF distinctive terms per source — ONE pass over the token
    // stream: explode -> (source, word) partial-agg shuffle, then doc-freq
    // as a PARTITIONED window over the tf frame (tf rows are distinct
    // (source, word), so count-over-word == sources containing the word —
    // no second aggregation lineage re-scanning the corpus, which is what
    // a separate groupBy(word) frame would cost without exchange reuse).
    // n_sources comes from a one-column pruned scan (dimension-sized).
    // Ranking and the graded score use round(score, 6): ln() can differ
    // across engines in the last ulp (and mathematically equal products
    // like 2*ln(4) = 4*ln(2) land on different doubles), so ranking the
    // raw double would be engine-dependent on ties.
    QueryDef("q71_tfidf_sources",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
        val tf = words.groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val withDf = tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("word"))))
        // non-null distinct sources over documents — countDistinct, so the
        // null-handling matches the twin's count(DISTINCT source) even for
        // corpora with a null or all-empty-text source
        val ns = t(s, dir, "documents")
          .agg(countDistinct(col("source")).as("n_sources"))
        val scored = withDf.crossJoin(broadcast(ns))
          .withColumn("score",
            round(col("tf") * log(col("n_sources") / col("df")), 6))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("word").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("source"), col("word"), col("tf"), col("df"),
            col("score"), col("rank"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT source, word, count(*) AS tf FROM w GROUP BY 1, 2),
             |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
             |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
             |scored AS (
             |  SELECT source, word, tf, df,
             |    round(tf * ln(n_sources / df), 6) AS score
             |  FROM tf JOIN df USING (word) CROSS JOIN ns),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY source ORDER BY score DESC, word) AS rank
             |  FROM scored)
             |SELECT source, word, tf, df, score, rank FROM r WHERE rank <= 5
             |ORDER BY source, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q74: sliding-window document chunking (context-window packing for
    // training): 32-token chunks every 24 tokens (8-token overlap), chunk
    // identity graded via md5 of the joined tokens. Pure per-row compute —
    // tokenize once, explode computed chunk indices, slice — no shuffle at
    // all until the output sort, so the operator streams at scan speed on
    // any corpus size. Integer chunk math uses floor() on small-int doubles
    // (exact below 2^53, portable across engines).
    QueryDef("q74_doc_chunks",
      (s, dir) => {
        val C = 32; val S = 24
        val d = t(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
          .withColumn("len", size(col("toks")))
          .filter(col("len") > 0)
          .withColumn("nch",
            floor((col("len") - 1) / lit(S)).cast("long") + 1)
        d.select(col("doc_id"), col("toks"), col("len"),
            explode(sequence(lit(0L), col("nch") - 1)).as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx"),
            slice(col("toks"), (col("chunk_idx") * S + 1).cast("int"), lit(C))
              .as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("n_tok"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM documents),
             |sized AS (
             |  SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
             |idx AS (
             |  SELECT doc_id, toks,
             |    unnest(range(0, CAST(floor((n - 1) / 24) AS BIGINT) + 1))
             |      AS chunk_idx
             |  FROM sized),
             |ch AS (
             |  SELECT doc_id, chunk_idx,
             |    list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)
             |      AS chunk
             |  FROM idx)
             |SELECT doc_id, chunk_idx,
             |  CAST(len(chunk) AS BIGINT) AS n_tok,
             |  md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),


    // ---------------------------------------------------------------------
    // q75: intra-document repetition — duplicate bigram/trigram fractions
    // (the Gopher repetition signals, Rae et al. 2021 §A1.1: high
    // duplicate-n-gram mass marks boilerplate/spam). Planted repetitive
    // docs (constant 3-token loop) make the keep-rule load-bearing: they
    // must classify keep=false or the hash diverges. Per-row
    // tokenize/shingle/distinct only — no shuffle before the output sort.
    // The keep threshold compares the RAW ratio (small-int division is
    // exact in doubles, identical across engines); only the emitted
    // ratios are rounded.
    QueryDef("q75_repetition",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("start marker "), repeat(lit("spam ham eggs "), 20))
              .as("text"))
        base.unionByName(planted)
          .withColumn("len", size(Text.tokens(col("text"))))
          .filter(col("len") >= 3)
          .withColumn("d2",
            lit(1) - size(array_distinct(Text.wordShingles(col("text"), 2)))
              / (col("len") - 1))
          .withColumn("d3",
            lit(1) - size(array_distinct(Text.wordShingles(col("text"), 3)))
              / (col("len") - 2))
          .select(col("doc_id"), col("len").cast("long").as("n_tok"),
            round(col("d2"), 6).as("dup2"),
            round(col("d3"), 6).as("dup3"),
            (col("d3") <= 0.15).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |planted AS (
             |  SELECT doc_id + 20000 AS doc_id,
             |    'start marker ' || repeat('spam ham eggs ', 20) AS text
             |  FROM base WHERE doc_id % 37 = 0),
             |ad AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
             |tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM ad),
             |s AS (SELECT doc_id, toks, len(toks) AS n FROM tok
             |      WHERE len(toks) >= 3),
             |g AS (
             |  SELECT doc_id, n,
             |    1 - len(list_distinct(list_transform(range(n - 1),
             |      i -> array_to_string(toks[i + 1:i + 2], ' ')))) / (n - 1)
             |      AS d2,
             |    1 - len(list_distinct(list_transform(range(n - 2),
             |      i -> array_to_string(toks[i + 1:i + 3], ' ')))) / (n - 2)
             |      AS d3
             |  FROM s)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
             |  round(d2, 6) AS dup2, round(d3, 6) AS dup3,
             |  (d3 <= 0.15) AS keep
             |FROM g ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q76: quality-weighted corpus sampling — accept each document with
    // probability proportional to its quality score (importance sampling
    // for data mixing), but DETERMINISTICALLY: the uniform draw is the
    // portable md5-derived hash of the doc id mapped to [0,1), so the
    // sample is reproducible across runs, engines, and partitionings (and
    // hash-gradable — rand() would be none of those). Per-row filter over
    // one scan; the acceptance compare uses raw doubles (identical md5 ->
    // identical u; identical quality arithmetic on both sides).
    QueryDef("q76_quality_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.operators.TextProfile.profile(d, "doc_id", "text")
        scored
          .withColumn("u",
            Text.md5Mod(col("doc_id")) / lit(Text.P31.toDouble))
          .filter(col("u") < col("quality") * 0.9)
          .select(col("doc_id"), col("n_tokens"),
            round(col("quality"), 6).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_tokens, round(quality, 6) AS quality
              |FROM ($docStatsNoOrder)
              |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              |        % 2147483647) / 2147483647.0 < quality * 0.9
              |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q81: event-type co-occurrence with PMI — association statistics over
    // per-user baskets (the market-basket/feature-co-occurrence shape).
    // distinct (user, type) -> within-user self-join (per-user type sets
    // are tiny, so the join fans out |types|^2 per user, not |events|^2) ->
    // pair counts vs marginals. Output is ordered by the pair key, not the
    // score, so the ln() engine-ulp caveat only touches the rounded score
    // column, never row membership.
    QueryDef("q81_cooccurrence_pmi",
      (s, dir) => {
        // null keys excluded EXPLICITLY: Spark's distinct would keep a null
        // user/type row that count(DISTINCT ...) in the twin ignores
        val u = t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = u.agg(countDistinct(col("user_id")).as("n_users"))
        val singles = u.groupBy(col("event_type"))
          .agg(count(lit(1)).as("c_single"))
        val pairs = u.as("a")
          .join(u.as("b"), col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("c_pair"))
        pairs
          .join(broadcast(singles)
            .select(col("event_type").as("type_a"), col("c_single").as("c_a")),
            "type_a")
          .join(broadcast(singles)
            .select(col("event_type").as("type_b"), col("c_single").as("c_b")),
            "type_b")
          .crossJoin(broadcast(nUsers))
          .select(col("type_a"), col("type_b"), col("c_pair"),
            round(log(col("c_pair") * col("n_users") /
              (col("c_a") * col("c_b"))), 6).as("pmi"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
             |n AS (SELECT count(DISTINCT user_id) AS n_users FROM u),
             |s AS (SELECT event_type, count(*) AS c_single FROM u GROUP BY 1),
             |p AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS c_pair
             |  FROM u a JOIN u b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, c_pair,
             |  round(ln(c_pair * n_users / (sa.c_single * sb.c_single)), 6)
             |    AS pmi
             |FROM p
             |JOIN s sa ON sa.event_type = type_a
             |JOIN s sb ON sb.event_type = type_b
             |CROSS JOIN n
             |ORDER BY type_a, type_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q88: BM25 keyword retrieval (Robertson k1=1.2 b=0.75, Lucene's
    // ln(1 + (N-df+0.5)/(df+0.5)) positive IDF) — the classic sparse
    // retrieval kernel the corpus-construction family was missing (TF-IDF
    // q71 ranks terms per source; this ranks DOCS per query). Plan shape:
    // ONE token-stream scan; the broadcast query-term set prunes the
    // stream BEFORE the (term, doc) partial agg, so the aggregate is
    // candidate-sized, not vocabulary-sized; df folds out of the candidate
    // frame; dl rides along from the same scan (no second corpus scan for
    // lengths); N/avgdl is a 1-row broadcast. Per-term scores round to 6
    // before the per-doc sum and the summed score rounds again — ln() and
    // 2-3-term summation order both differ across engines in the last ulp
    // (q71 stance).
    QueryDef("q88_bm25_retrieval",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val q = retrievalQueries(s)
        // dtf feeds both the df aggregate and the scoring join; the two
        // consumers hang off ONE definition, so the identical aggregate
        // exchange is deduped at runtime (ReusedExchange — cheaper than a
        // persist pin, which the r7 A/B measured ~0.3 s slower here)
        val dtf = graft.operators.Retrieval
          .docTermFreq(d, "doc_id", "text", q)
        val byDoc = graft.operators.Retrieval.bm25ScoresOf(
          dtf, graft.operators.Retrieval.corpusStats(d, "text"), q)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)
        byDoc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("score"), col("n_terms_hit"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |    (1, 'vector'), (1, 'join'),
             |    (2, 'customer'), (2, 'batch'), (2, 'window'),
             |    (3, 'slow'), (3, 'scan')),
             |toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> '') AS tk
             |  FROM documents),
             |words AS (
             |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term
             |  FROM toks),
             |dtf AS (
             |  SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
             |  FROM words WHERE term IN (SELECT term FROM q)
             |  GROUP BY 1, 2),
             |dfx AS (SELECT term, count(*) AS df FROM dtf GROUP BY 1),
             |st AS (
             |  SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
             |sc AS (
             |  SELECT q.query_id, dtf.doc_id,
             |    round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             |      * (tf * 2.2)
             |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS ts
             |  FROM dtf JOIN dfx USING (term) JOIN q USING (term)
             |  CROSS JOIN st),
             |agg AS (
             |  SELECT query_id, doc_id, round(sum(ts), 6) AS score,
             |    count(*) AS n_terms_hit
             |  FROM sc GROUP BY 1, 2),
             |r AS (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             |  FROM agg)
             |SELECT query_id, rank, doc_id, score, n_terms_hit
             |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q91: hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    // 2009, c=60) — BM25 (q88's ranker) fused with a plain TF-IDF ranker
    // over the SAME candidate set and query set (retrievalQueries; both
    // scorers share Retrieval.docTermFreq's one-scan broadcast-pruned
    // shape). Ranks are integers, so 1/(60+ra) + 1/(60+rb) is a
    // commutative-exact two-term double sum — portable across engines
    // before the round-6 canon. The fused top-5 per query is graded with
    // both source ranks visible, so a regression in EITHER ranker (or in
    // the fusion) moves the hash.
    QueryDef("q91_rank_fusion",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val q = retrievalQueries(s)
        // one token-stream scan + one stats scan feed BOTH rankers: dtf
        // and stats are single definitions shared by the *Of scorers, so
        // the identical exchanges/subqueries dedupe at runtime
        // (ReusedExchange; a persist pin benched ~0.3 s slower in r7)
        val R = graft.operators.Retrieval
        val dtf = R.docTermFreq(d, "doc_id", "text", q)
        val stats = R.corpusStats(d, "text")
        val bm = R.bm25ScoresOf(dtf, stats, q)
        val ti = R.tfidfScoresOf(dtf, stats, q)
        val fused = R.rrfFuse(bm, ti, c = 60)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)
        fused.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
            col("rank_a").cast("long").as("bm25_rank"),
            col("rank_b").cast("long").as("tfidf_rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |    (1, 'vector'), (1, 'join'),
             |    (2, 'customer'), (2, 'batch'), (2, 'window'),
             |    (3, 'slow'), (3, 'scan')),
             |toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> '') AS tk
             |  FROM documents),
             |words AS (
             |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term
             |  FROM toks),
             |dtf AS (
             |  SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
             |  FROM words WHERE term IN (SELECT term FROM q)
             |  GROUP BY 1, 2),
             |dfx AS (SELECT term, count(*) AS df FROM dtf GROUP BY 1),
             |st AS (
             |  SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
             |bm AS (
             |  SELECT query_id, doc_id, round(sum(round(
             |      ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             |      * (tf * 2.2)
             |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)), 6)
             |    AS score
             |  FROM dtf JOIN dfx USING (term) JOIN q USING (term)
             |  CROSS JOIN st GROUP BY 1, 2),
             |ti AS (
             |  SELECT query_id, doc_id, round(sum(round(
             |      tf * ln(CAST(n_docs AS DOUBLE) / df), 6)), 6) AS score
             |  FROM dtf JOIN dfx USING (term) JOIN q USING (term)
             |  CROSS JOIN st GROUP BY 1, 2),
             |ra AS (
             |  SELECT query_id, doc_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id)
             |    AS rank_a
             |  FROM bm),
             |rb AS (
             |  SELECT query_id, doc_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id)
             |    AS rank_b
             |  FROM ti),
             |fused AS (
             |  SELECT query_id, doc_id, rank_a, rank_b,
             |    round(CAST(1.0 AS DOUBLE) / (60 + rank_a)
             |        + CAST(1.0 AS DOUBLE) / (60 + rank_b), 6) AS rrf
             |  FROM ra JOIN rb USING (query_id, doc_id)),
             |r AS (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
             |  FROM fused)
             |SELECT query_id, rank, doc_id, rrf,
             |  rank_a AS bm25_rank, rank_b AS tfidf_rank
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q98: CCNet-style LM quality scoring (Wenzek et al. 2020) — a bigram
    // LM with add-alpha smoothing trained on the corpus itself, each doc
    // scored by its mean token-transition log-prob (exp(-score) = its
    // perplexity), worst tail flagged. The model-based complement to q63's
    // rule-based quality gates. Count tables are hash-aggregated and
    // hash-joined (never broadcast — web-scale bigram tables are
    // data-sized); the twin retrains the identical model in SQL.
    QueryDef("q98_lm_score",
      (s, dir) => {
        // planted gibberish (md5-hex token soup) makes the flag
        // load-bearing: unseen-transition docs score ≈ -5 (singleton
        // transitions against this corpus's small vocabulary; lower still
        // at larger V) vs ≥ -3.9 for corpus text, so threshold -4.5 sits
        // in the gap and must flag exactly the planted ids
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val junk = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat_ws(" ", (0 until 8).map(i =>
              md5((col("doc_id") + lit(i)).cast("string").cast("binary")))
              : _*).as("text"))
        graft.operators.LmScore.lmScore(d.unionByName(junk),
            "doc_id", "text", alpha = 0.5, threshold = -4.5)
          .orderBy(col("id"))
      },
      Some("""WITH pl AS (
             |  SELECT doc_id + 10000 AS id,
             |    concat_ws(' ', md5(CAST(doc_id + 0 AS VARCHAR)),
             |      md5(CAST(doc_id + 1 AS VARCHAR)),
             |      md5(CAST(doc_id + 2 AS VARCHAR)),
             |      md5(CAST(doc_id + 3 AS VARCHAR)),
             |      md5(CAST(doc_id + 4 AS VARCHAR)),
             |      md5(CAST(doc_id + 5 AS VARCHAR)),
             |      md5(CAST(doc_id + 6 AS VARCHAR)),
             |      md5(CAST(doc_id + 7 AS VARCHAR))) AS text
             |  FROM documents WHERE doc_id % 10 = 0),
             |corpus AS (
             |  SELECT doc_id AS id, text FROM documents
             |  UNION ALL SELECT id, text FROM pl),
             |d AS (
             |  SELECT id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM corpus),
             |bg AS (
             |  SELECT id, unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM d WHERE len(toks) >= 2),
             |bgc AS (SELECT u, v, count(*) AS c_uv FROM bg GROUP BY u, v),
             |uc AS (
             |  SELECT u, count(*) AS c_u
             |  FROM (SELECT unnest(toks) AS u FROM d) GROUP BY u),
             |vv AS (SELECT count(*) AS vsz FROM uc),
             |lp AS (
             |  SELECT id, ln((coalesce(c_uv, 0) + 0.5)
             |    / (coalesce(c_u, 0) + 0.5 * vsz)) AS lp
             |  FROM bg LEFT JOIN bgc USING (u, v) LEFT JOIN uc USING (u)
             |  CROSS JOIN vv),
             |sc AS (
             |  SELECT id, count(*) AS n_bigrams, round(avg(lp), 4) AS lm_score
             |  FROM lp GROUP BY id)
             |SELECT d.id, coalesce(n_bigrams, 0) AS n_bigrams, lm_score,
             |  coalesce(lm_score < -4.5, false) AS low_quality
             |FROM d LEFT JOIN sc USING (id)
             |ORDER BY d.id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q99: distributed BPE tokenizer training (Sennrich et al. 2016) — 3
    // merge rounds learned from the documents corpus, graded on the merge
    // table AND the resulting top-25 symbol vocabulary. The twin restates
    // the identical algorithm unrolled in SQL (same symbolized-string
    // representation, same greedy left-to-right replace, same
    // (weight desc, pair asc) argmax), so a wrong pair count, wrong
    // tie-break, or non-greedy merge application moves the hash.
    QueryDef("q99_bpe_train",
      (s, dir) => {
        import s.implicits._
        val r = graft.operators.BpeTrain.train(
          t(s, dir, "documents"), "text", numMerges = 3)
        val m = r.merges.map(mg => (mg.iter, "merge", mg.left, mg.right,
            mg.weight)).toDF("ord", "kind", "sym_a", "sym_b", "freq")
        val vw = Window.orderBy(col("freq").desc, col("sym").asc)
        val v = r.vocab.withColumn("rk", row_number().over(vw))
          .filter(col("rk") <= 25)
          .select((col("rk") + 100).as("ord"), lit("vocab").as("kind"),
            col("sym").as("sym_a"), lit("").as("sym_b"), col("freq"))
        m.unionByName(v).orderBy(col("ord"))
      },
      Some("""WITH w AS (
             |  SELECT word, count(*) AS cnt FROM (
             |    SELECT unnest(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS word
             |    FROM documents)
             |  GROUP BY word),
             |s0 AS (
             |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s, cnt
             |  FROM w),
             |p1 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s0)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m1 AS (SELECT u, v, wt FROM p1 ORDER BY wt DESC, u, v LIMIT 1),
             |s1 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s0 CROSS JOIN m1),
             |p2 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s1)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m2 AS (SELECT u, v, wt FROM p2 ORDER BY wt DESC, u, v LIMIT 1),
             |s2 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s1 CROSS JOIN m2),
             |p3 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s2)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m3 AS (SELECT u, v, wt FROM p3 ORDER BY wt DESC, u, v LIMIT 1),
             |s3 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s2 CROSS JOIN m3),
             |vocab AS (
             |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS freq FROM (
             |    SELECT unnest(string_split(trim(s), '  ')) AS sym, cnt
             |    FROM s3)
             |  GROUP BY sym),
             |vtop AS (
             |  SELECT sym, freq,
             |    row_number() OVER (ORDER BY freq DESC, sym) AS rk
             |  FROM vocab QUALIFY rk <= 25)
             |SELECT * FROM (
             |  SELECT 1 AS ord, 'merge' AS kind, u AS sym_a, v AS sym_b,
             |    wt AS freq FROM m1
             |  UNION ALL SELECT 2, 'merge', u, v, wt FROM m2
             |  UNION ALL SELECT 3, 'merge', u, v, wt FROM m3
             |  UNION ALL SELECT rk + 100, 'vocab', sym, '', freq FROM vtop)
             |ORDER BY ord""".stripMargin)),


    // ---------------------------------------------------------------------
    // q101: BPE encoding (the q99 tokenizer APPLIED) — per-document token
    // counts under the learned 3-merge vocabulary, via tokenization-by-
    // lookup: the merge chain runs once per DISTINCT word, documents
    // resolve tokens with a hash join on the word table. The twin re-learns
    // the identical merges (q99's unrolled rounds, word column carried) and
    // re-encodes from scratch, so a drifting merge table, a per-occurrence
    // re-merge bug, or a wrong join all move per-doc counts.
    QueryDef("q101_bpe_encode",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val r = graft.operators.BpeTrain.train(d, "text", numMerges = 3)
        graft.operators.BpeTrain.tokenCounts(d, "doc_id", "text", r.merges)
          .orderBy(col("id"))
      },
      Some(s"""$bpeWmapCtes
             |SELECT id, count(*) AS n_words,
             |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
             |FROM tok JOIN wmap USING (word)
             |GROUP BY id ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q102: sequence packing — documents concatenated in a deterministic
    // md5-shuffled order and cut into fixed 512-token training windows
    // (packed pretraining: docs span cuts, attention masking owns the
    // seam). Per-bin stats grade the whole layout: doc counts, started
    // tokens, and boundary crossers per window. The cumsum is the
    // distributed prefix sum (Budget.cumulativeSum — no global window), so
    // the layout computes with one range exchange at any corpus size.
    QueryDef("q102_pack_sequences",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        val packed = graft.operators.Budget.packSequences(d,
          Seq(md5(col("doc_id").cast("string")), col("doc_id")),
          col("n_tokens"), ctxLen = 512)
        packed.groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_started_tokens"),
            sum(when(col("crosses_boundary"), 1L).otherwise(0L))
              .as("n_crossers"))
          .orderBy(col("bin"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(len(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, n_tokens, sum(n_tokens) OVER (
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM d),
             |b AS (
             |  SELECT doc_id, n_tokens,
             |    CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
             |    (n_tokens > 0 AND floor((cum - 1) / 512.0)
             |      > floor((cum - n_tokens) / 512.0)) AS crosses
             |  FROM o)
             |SELECT bin, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_started_tokens,
             |  CAST(sum(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_crossers
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),


    // ---------------------------------------------------------------------
    // q103: PageRank (Page et al. 1999) — the crawl-corpus link-quality
    // signal, run on the undirected customer<->supplier order graph (both
    // directions unioned, so no dangling mass). Two unrolled power
    // iterations; per-iteration round-9 makes the vector engine-portable
    // (the q77 centroid stance). The twin recomputes edges, degrees, and
    // both iterations from scratch; node identity is LONG-encoded
    // (2*custkey / 2*suppkey+1) so the key spaces cannot collide and the
    // |edges|-proportional iteration shuffles move 8-byte keys, not
    // strings — the registry's honest graph heavyweight (~1.2M edges at
    // sf0.1), priced at what distributed PageRank costs per iteration.
    QueryDef("q103_pagerank",
      (s, dir) => {
        val e0 = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).cast("long").as("c"),
            (col("l_suppkey") * 2 + 1).cast("long").as("sn"))
          .distinct()
        val edges = e0.select(col("c").as("src"), col("sn").as("dst"))
          .unionByName(e0.select(col("sn").as("src"), col("c").as("dst")))
        graft.operators.Graphs.pageRank(edges, iters = 2)
          .orderBy(col("node"))
      },
      Some("""WITH e0 AS (
             |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
             |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS sn
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (
             |  SELECT c AS src, sn AS dst FROM e0
             |  UNION ALL SELECT sn, c FROM e0),
             |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
             |nn AS (SELECT count(*) AS cnt FROM n),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |pr0 AS (SELECT node, 1.0 / cnt AS pr FROM n CROSS JOIN nn),
             |c1 AS (
             |  SELECT dst AS node, sum(pr / deg) AS m
             |  FROM e JOIN pr0 ON pr0.node = e.src JOIN deg USING (src)
             |  GROUP BY dst),
             |pr1 AS (
             |  SELECT n.node,
             |    round((1.0 - 0.85) / cnt + 0.85 * coalesce(m, 0), 9) AS pr
             |  FROM n LEFT JOIN c1 USING (node) CROSS JOIN nn),
             |c2 AS (
             |  SELECT dst AS node, sum(pr / deg) AS m
             |  FROM e JOIN pr1 ON pr1.node = e.src JOIN deg USING (src)
             |  GROUP BY dst),
             |pr2 AS (
             |  SELECT n.node,
             |    round((1.0 - 0.85) / cnt + 0.85 * coalesce(m, 0), 9) AS pr
             |  FROM n LEFT JOIN c2 USING (node) CROSS JOIN nn)
             |SELECT node, pr FROM pr2 ORDER BY node""".stripMargin)),


    // ---------------------------------------------------------------------
    // q106: DSIR importance resampling (Xie et al. 2023) — hashed-bigram
    // importance weights against the corpus's own English subset as the
    // target distribution, then Gumbel-top-100 resampling (the paper's
    // without-replacement sampler) on the portable md5 uniform. The twin
    // re-fits both multinomials, the per-bucket log-ratios, the per-doc
    // weight sums, the Gumbel draws, and the top-k cut from scratch, so a
    // wrong hash bucket, smoothing term, or selection boundary moves the
    // hash. Weight sums round to 4 BEFORE the noise add (summation-order
    // canon), draws to 6; the final 2-term sum is IEEE-exact both sides.
    QueryDef("q106_dsir_select",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val w = graft.operators.Dsir.importanceWeights(
          d, "doc_id", "text", col("lang") === "en",
          buckets = 256, alpha = 0.5)
        graft.operators.Dsir.resample(w, k = 100)
          .select(col("id").as("doc_id"), col("n_feats"),
            col("logw"), col("score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang = 'en' AS is_t, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, is_t, array_to_string(
             |      list_slice(toks, i + 1, i + 2), ' ') AS f
             |  FROM (SELECT doc_id, is_t, toks,
             |          unnest(range(0, len(toks) - 1)) AS i
             |        FROM d WHERE len(toks) >= 2)
             |  UNION ALL
             |  SELECT doc_id, is_t, array_to_string(toks, ' ') AS f
             |  FROM d WHERE len(toks) < 2),
             |sh AS (
             |  SELECT doc_id, is_t,
             |    ('0x' || substr(md5(f), 1, 15))::BIGINT % 256 AS b
             |  FROM f),
             |db AS (
             |  SELECT doc_id, is_t, b, count(*) AS c
             |  FROM sh GROUP BY doc_id, is_t, b),
             |bs AS (
             |  SELECT b, sum(c) AS cr,
             |    sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct
             |  FROM db GROUP BY b),
             |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM bs),
             |lam AS (
             |  SELECT b, ln((ct + 0.5) / (tt + 0.5 * 256))
             |         - ln((cr + 0.5) / (tr + 0.5 * 256)) AS lam
             |  FROM bs CROSS JOIN tot),
             |w AS (
             |  SELECT doc_id, round(sum(c * lam), 4) AS logw,
             |    CAST(sum(c) AS BIGINT) AS n_feats
             |  FROM db JOIN lam USING (b) GROUP BY doc_id),
             |g AS (
             |  SELECT doc_id, n_feats, logw,
             |    round(-ln(-ln(
             |      ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |          ::BIGINT % 2147483647) + 1) / 2147483648.0)), 6) AS gb
             |  FROM w),
             |sel AS (
             |  SELECT doc_id, n_feats, logw, round(logw + gb, 6) AS score
             |  FROM g ORDER BY score DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_feats, logw, score FROM sel
             |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q111: n-gram novelty scoring — per-doc fraction of 3-gram shingles
    // that are corpus-UNIQUE (df = 1): the cheap self-information signal
    // data-pruning recipes rank by before paying for embeddings (a doc
    // whose shingles all appear elsewhere is template/boilerplate; the
    // planted +10000 near-dups make the low-novelty tail load-bearing).
    // One shingle explode -> one df agg -> join back on the SAME shingle
    // key -> id agg: two partial-agg shuffles on a stream that only ships
    // 8-byte xxhash64 keys (exactness birthday-bounded, the q19 postings
    // stance; the twin counts raw strings and the gate pins the graded SFs
    // collision-free).
    QueryDef("q111_ngram_novelty",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val posts = Dedup.shinglePostings(all, "doc_id", "text", 3)
        // df as a partition-only window, NOT a groupBy + self-join: the
        // postings then explode ONCE and shuffle ONCE (by shingle) — the
        // join form re-ran the tokenize+explode subtree for the probe side
        // (PlanGuardSpec counts the Generate nodes)
        val w = Window.partitionBy(col("shingle"))
        posts.withColumn("df", count(lit(1)).over(w))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
            round(col("n_unique").cast("double") / col("n_shingles"), 6)
              .as("novelty"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM all_docs),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |dfq AS (SELECT shingle, count(*) AS df FROM posts
             |        GROUP BY shingle)
             |SELECT doc_id, count(*) AS n_shingles,
             |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_unique,
             |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*), 6) AS novelty
             |FROM posts JOIN dfq USING (shingle)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q112: NB quality classifier (Brown et al. 2020 App. A — train
    // known-good vs junk, keep what scores good). Train: real docs (good)
    // vs planted md5 token soup (junk), 3/4 of the corpus; score: the
    // held-out 1/4 plus soup for those ids. The planted score-soup tokens
    // are DISJOINT from the train-soup tokens (different ids -> different
    // md5), so the junk verdicts ride entirely on the unseen-token
    // smoothing asymmetry (t_pos >> t_neg) — the load-bearing NB property
    // for hash-soup spam. Stray-label train rows (label 'dubious') are
    // planted and must be dropped by the operator's label filter: the twin
    // simply never includes them, so a filter regression moves every
    // hash. Whole model is relational: token-keyed hash agg + one
    // vocab hash join + per-doc agg; priors/totals are 1-row broadcasts.
    QueryDef("q112_nb_quality_classifier",
      (s, dir) => nbPlantScored(s, dir).orderBy(col("id")),
      Some(s"""$nbScoreCtes
             |SELECT id, n_tokens, log_odds,
             |  CASE WHEN log_odds > 0 THEN 'good' ELSE 'junk' END
             |    AS prediction
             |FROM sc ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q123: calibration audit of the q112 classifier (Guo et al. 2017
    // reliability diagram + ECE) — before a score threshold becomes a
    // data-selection knob (the FineWeb-Edu stance), the score must be
    // checked against empirical truth. Shares q112's plant + scoring CTEs
    // verbatim (factored, so the two queries cannot drift); truth = the
    // plant itself (ids >= 10000 are soup). NB log-odds grow with doc
    // length and saturate the sigmoid, so the diagram is read at T=100
    // (Guo et al.'s temperature scaling) to spread the bins. The binning
    // is a <= 10-group hash aggregate; the ECE window runs over the
    // 10-row bin frame.
    QueryDef("q123_calibration",
      (s, dir) => {
        val scored = nbPlantScored(s, dir)
          .withColumn("is_pos", col("id") < 10000)
        Classify.calibration(scored, "log_odds", "is_pos", bins = 10,
            temperature = 100.0)
          .orderBy(col("bin"))
      },
      Some(s"""$nbScoreCtes,
             |cal AS (SELECT id,
             |    round(1.0 / (1.0 + exp(-log_odds / 100.0)), 6) AS p,
             |    CASE WHEN id < 10000 THEN 1.0 ELSE 0.0 END AS y
             |  FROM sc),
             |b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
             |    count(*) AS n, round(avg(p), 6) AS mean_conf,
             |    round(avg(y), 6) AS frac_pos
             |  FROM cal GROUP BY 1),
             |g AS (SELECT bin, n, mean_conf, frac_pos,
             |    round(abs(frac_pos - mean_conf), 6) AS abs_gap
             |  FROM b)
             |SELECT bin, n, mean_conf, frac_pos, abs_gap,
             |  round(sum(n * abs_gap) OVER () / sum(n) OVER (), 6) AS ece
             |FROM g ORDER BY bin""".stripMargin)),


    // ---------------------------------------------------------------------
    // q128: T5 span-corruption construction (Raffel et al. 2020 §3.1.4) —
    // the denoising-objective (input, target) pairs materialized from raw
    // documents. Span starts are content-hash draws (hash(doc:pos) <
    // 0.05 * 2^60 for noise 0.15 / span 3), overlapping spans merge, and
    // the sentinel numbering/joins ride doc-partitioned windows — no
    // state crosses documents. 57646075230342348 = floor(0.05 * 2^60),
    // the same literal the operator computes.
    QueryDef("q128_span_corruption",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        graft.operators.SpanCorrupt.t5SpanCorruption(
            d, "doc_id", "text", noiseDensity = 0.15, spanLen = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM documents),
             |p AS (SELECT doc_id, unnest(list_transform(range(len(toks)),
             |    i -> {'pos': i, 'tok': toks[i + 1]}), recursive := true)
             |  FROM tok),
             |f AS (SELECT doc_id, pos, tok,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
             |      || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
             |      < 57646075230342348 AS start
             |  FROM p),
             |c AS (SELECT *, max(CASE WHEN start THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS covered
             |  FROM f),
             |n AS (SELECT *, covered AND coalesce(
             |    NOT lag(covered) OVER (PARTITION BY doc_id ORDER BY pos),
             |    TRUE) AS new_run
             |  FROM c),
             |r AS (SELECT *, sum(CASE WHEN new_run THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
             |  FROM n),
             |pc AS (SELECT doc_id, pos, covered, new_run,
             |    CASE WHEN NOT covered THEN tok
             |      WHEN new_run THEN '<extra_id_'
             |        || CAST(run_id - 1 AS VARCHAR) || '>'
             |      ELSE NULL END AS in_piece,
             |    CASE WHEN covered AND new_run THEN '<extra_id_'
             |        || CAST(run_id - 1 AS VARCHAR) || '>' || ' ' || tok
             |      WHEN covered THEN tok ELSE NULL END AS tgt_piece
             |  FROM r)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN new_run THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_spans,
             |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_masked,
             |  round(CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END)
             |    AS DOUBLE) / count(*), 6) AS mask_frac,
             |  coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')
             |    AS input_text,
             |  coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '')
             |    AS target_text
             |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q130: tokenizer fertility audit per language (Acs 2019; the XLM-R /
    // NLLB tokenizer-equity check): subword tokens per word under the
    // corpus-trained BPE, aggregated by language. High-fertility
    // languages pay more sequence length for the same text — the signal
    // that feeds vocabulary-size and mixing decisions. Shares q101's
    // merge-learning CTEs verbatim (factored); the per-doc frame then
    // rolls up by a broadcast lang join — nothing new shuffles wider
    // than q101 itself.
    QueryDef("q130_tokenizer_fertility",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val r = graft.operators.BpeTrain.train(d, "text", numMerges = 3)
        val tc = graft.operators.BpeTrain.tokenCounts(
          d, "doc_id", "text", r.merges)
        tc.join(d.select(col("doc_id").as("id"), col("lang")), "id")
          .groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
          .withColumn("fertility", round(
            col("n_bpe_tokens").cast("double") / col("n_words"), 6))
          .orderBy(col("lang"))
      },
      Some(s"""$bpeWmapCtes,
             |per_doc AS (
             |  SELECT id, count(*) AS n_words,
             |    CAST(sum(n_sym) AS BIGINT) AS n_bpe
             |  FROM tok JOIN wmap USING (word) GROUP BY id)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_words) AS BIGINT) AS n_words,
             |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
             |  round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
             |    AS fertility
             |FROM per_doc JOIN documents ON documents.doc_id = per_doc.id
             |GROUP BY lang ORDER BY lang""".stripMargin)),


    // ---------------------------------------------------------------------
    // q113: temperature-mixed corpus sampling rates (mT5/XLM-R alpha=0.3)
    // over the documents corpus, domains = lang, weighted by n_chars,
    // budget 1000 rows apportioned by largest remainder over integer
    // micro-shares (sum(budget_rows) == budget exactly — both engines do
    // the identical integer arithmetic, so no floor-at-a-boundary skew).
    // One |domains|-row aggregate + 1-row broadcasts; the ranking windows
    // run on the domain frame, not the corpus.
    QueryDef("q113_temperature_mix",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Mix.temperatureWeights(d, "lang", col("n_chars"),
            alpha = 0.3, budget = 1000L)
          .orderBy(col("lang"))
      },
      Some("""WITH bd AS (
             |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_weight
             |  FROM documents GROUP BY lang),
             |tot AS (SELECT sum(n_weight) AS n_total FROM bd),
             |sh AS (SELECT lang, n_weight,
             |    CAST(n_weight AS DOUBLE) / n_total AS p,
             |    pow(CAST(n_weight AS DOUBLE) / n_total, 0.3) AS p_a
             |  FROM bd CROSS JOIN tot),
             |nz AS (SELECT sum(p_a) AS z FROM sh),
             |mi AS (SELECT lang, n_weight, round(p, 6) AS nat_share,
             |    CAST(round(p_a / z * 1000000, 0) AS BIGINT) AS q6
             |  FROM sh CROSS JOIN nz),
             |fr AS (SELECT *, q6 * 1000 // 1000000 AS fl,
             |    (q6 * 1000) % 1000000 AS rem FROM mi),
             |df AS (SELECT 1000 - sum(fl) AS deficit FROM fr),
             |rk AS (SELECT *,
             |    row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk_up,
             |    row_number() OVER (ORDER BY rem ASC, lang DESC) AS rk_down
             |  FROM fr)
             |SELECT lang, n_weight, nat_share,
             |  round(CAST(q6 AS DOUBLE) / 1000000, 6) AS temp_share,
             |  CAST(fl + CASE WHEN rk_up <= deficit THEN 1 ELSE 0 END
             |          - CASE WHEN rk_down <= -deficit THEN 1 ELSE 0 END
             |    AS BIGINT) AS budget_rows
             |FROM rk CROSS JOIN df ORDER BY lang""".stripMargin)),


    // ---------------------------------------------------------------------
    // q114: Gopher repetition filters (Rae et al. 2021 Table A1) — the
    // within-document repetition family: dup-line fraction + char
    // fraction (row-wise HOFs, ZERO shuffle), top-2-gram and dup-5-gram
    // occurrence-char fractions (one explode per n, (doc,gram)- then
    // doc-keyed partial aggs; no window wider than a document). The
    // corpus has no newlines, so lines = 'fast'-token-split chunks, and
    // planted docs (+10000, doc_id%9) append ' fast alpha beta' x3 —
    // three identical chunks plus repeated 5-gram windows, making every
    // metric's nonzero tail load-bearing.
    QueryDef("q114_gopher_repetition",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"),
              lit(" fast alpha beta fast alpha beta fast alpha beta"))
              .as("text"))
        graft.operators.Repetition.gopherRepetition(
            d.unionByName(planted), "doc_id", "text", lineSep = "fast")
          .orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000,
             |    text || ' fast alpha beta fast alpha beta fast alpha beta'
             |  FROM documents WHERE doc_id % 9 = 0),
             |ln AS (
             |  SELECT doc_id,
             |    list_filter(list_transform(string_split(text, 'fast'),
             |      x -> trim(x)), x -> x <> '') AS lines
             |  FROM all_docs),
             |lm AS (
             |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
             |    CASE WHEN len(lines) > 0 THEN
             |      round(CAST(len(lines) - len(list_distinct(lines))
             |        AS DOUBLE) / len(lines), 6) ELSE 0.0 END
             |      AS dup_line_frac,
             |    CASE WHEN coalesce(list_sum(list_transform(lines,
             |        x -> length(x))), 0) > 0 THEN
             |      round(CAST(list_sum(list_transform(lines,
             |          x -> length(x)))
             |        - list_sum(list_transform(list_distinct(lines),
             |          x -> length(x))) AS DOUBLE)
             |        / list_sum(list_transform(lines, x -> length(x))), 6)
             |      ELSE 0.0 END AS dup_line_char_frac
             |  FROM ln),
             |tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM all_docs),
             |g2 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(len(toks) - 1),
             |      i -> array_to_string(toks[i + 1:i + 2], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS gram
             |  FROM tok),
             |c2 AS (SELECT doc_id, gram, count(*) AS cnt
             |  FROM g2 GROUP BY doc_id, gram),
             |s2 AS (SELECT doc_id, sum(cnt * length(gram)) AS tot
             |  FROM c2 GROUP BY doc_id),
             |t2 AS (
             |  SELECT doc_id, cnt * length(gram) AS top_chars,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY cnt DESC, gram DESC) AS rn
             |  FROM c2),
             |top2 AS (
             |  SELECT t2.doc_id,
             |    round(CAST(top_chars AS DOUBLE) / tot, 6)
             |      AS top_2gram_char_frac
             |  FROM t2 JOIN s2 ON t2.doc_id = s2.doc_id
             |  WHERE rn = 1 AND tot > 0),
             |g5 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
             |    THEN list_transform(range(len(toks) - 4),
             |      i -> array_to_string(toks[i + 1:i + 5], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS gram
             |  FROM tok),
             |c5 AS (SELECT doc_id, gram, count(*) AS cnt
             |  FROM g5 GROUP BY doc_id, gram),
             |d5 AS (
             |  SELECT doc_id,
             |    CASE WHEN sum(cnt * length(gram)) > 0 THEN
             |      round(CAST(sum(CASE WHEN cnt > 1
             |          THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
             |        / sum(cnt * length(gram)), 6) ELSE 0.0 END
             |      AS dup_5gram_char_frac
             |  FROM c5 GROUP BY doc_id)
             |SELECT lm.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
             |  coalesce(top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
             |  coalesce(dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac,
             |  (dup_line_frac > 0.30 OR dup_line_char_frac > 0.20
             |    OR coalesce(top_2gram_char_frac, 0.0) > 0.20
             |    OR coalesce(dup_5gram_char_frac, 0.0) > 0.15) AS flagged
             |FROM lm LEFT JOIN top2 USING (doc_id)
             |LEFT JOIN d5 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q115: CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    // 2020 §4.3) — the q98 self-trained bigram LM scores partitioned at
    // tercile cutoffs. The cutoffs are a 1-row broadcast computed ONCE
    // (CCNet's own deployment shape: calibrate cutoffs, apply as
    // constants); grading uses exact interpolated percentile, the 100-TB
    // path is the mergeable approx_percentile sketch (same operator,
    // exact=false). Planted md5 soup (q98's plant) pins the tail bucket.
    QueryDef("q115_perplexity_buckets",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val junk = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat_ws(" ", (0 until 8).map(i =>
              md5((col("doc_id") + lit(i)).cast("string").cast("binary")))
              : _*).as("text"))
        val scored = graft.operators.LmScore.lmScore(
          d.unionByName(junk), "doc_id", "text", alpha = 0.5)
        val cuts = graft.operators.LmScore.tercileCuts(
          scored, "lm_score", exact = true)
        graft.operators.LmScore.perplexityBuckets(scored, cuts)
          .select(col("id"), col("n_bigrams"), col("lm_score"),
            col("ppl_bucket"))
          .orderBy(col("id"))
      },
      Some("""WITH pl AS (
             |  SELECT doc_id + 10000 AS id,
             |    concat_ws(' ', md5(CAST(doc_id + 0 AS VARCHAR)),
             |      md5(CAST(doc_id + 1 AS VARCHAR)),
             |      md5(CAST(doc_id + 2 AS VARCHAR)),
             |      md5(CAST(doc_id + 3 AS VARCHAR)),
             |      md5(CAST(doc_id + 4 AS VARCHAR)),
             |      md5(CAST(doc_id + 5 AS VARCHAR)),
             |      md5(CAST(doc_id + 6 AS VARCHAR)),
             |      md5(CAST(doc_id + 7 AS VARCHAR))) AS text
             |  FROM documents WHERE doc_id % 10 = 0),
             |corpus AS (
             |  SELECT doc_id AS id, text FROM documents
             |  UNION ALL SELECT id, text FROM pl),
             |d AS (
             |  SELECT id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM corpus),
             |bg AS (
             |  SELECT id, unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM d WHERE len(toks) >= 2),
             |bgc AS (SELECT u, v, count(*) AS c_uv FROM bg GROUP BY u, v),
             |uc AS (
             |  SELECT u, count(*) AS c_u
             |  FROM (SELECT unnest(toks) AS u FROM d) GROUP BY u),
             |vv AS (SELECT count(*) AS vsz FROM uc),
             |lp AS (
             |  SELECT id, ln((coalesce(c_uv, 0) + 0.5)
             |    / (coalesce(c_u, 0) + 0.5 * vsz)) AS lp
             |  FROM bg LEFT JOIN bgc USING (u, v) LEFT JOIN uc USING (u)
             |  CROSS JOIN vv),
             |sc AS (
             |  SELECT id, count(*) AS n_bigrams, round(avg(lp), 4) AS lm_score
             |  FROM lp GROUP BY id),
             |scored AS (
             |  SELECT d.id, coalesce(n_bigrams, 0) AS n_bigrams, lm_score
             |  FROM d LEFT JOIN sc USING (id)),
             |cuts AS (SELECT
             |    round(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 6) AS c1,
             |    round(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 6) AS c2
             |  FROM scored)
             |SELECT id, n_bigrams, lm_score,
             |  CASE WHEN lm_score IS NULL THEN 'unscored'
             |       WHEN lm_score >= c2 THEN 'head'
             |       WHEN lm_score >= c1 THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM scored CROSS JOIN cuts ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q116: DoReMi loss-driven domain reweighting (Xie et al. 2023) — one
    // exponentiated-gradient step over per-lang mean LM loss
    // (loss = -q98-style lm_score, the bigram cross-entropy), smoothed
    // with uniform mass. The data-side computation of one DoReMi step:
    // corpus scan -> |domains|-row hash agg -> 1-row broadcasts; pairs
    // with q113 (sizes set rates there, losses set them here).
    QueryDef("q116_doremi_reweight",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.operators.LmScore.lmScore(
          d.select(col("doc_id"), col("text")), "doc_id", "text",
          alpha = 0.5)
        val withDom = scored.join(
          d.select(col("doc_id").as("id"), col("lang")), "id")
        graft.operators.Doremi.domainReweight(withDom, "lang",
            -col("lm_score"), eta = 5.0, smoothing = 0.2)
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id AS id, lang,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |bg AS (
             |  SELECT id, unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM d WHERE len(toks) >= 2),
             |bgc AS (SELECT u, v, count(*) AS c_uv FROM bg GROUP BY u, v),
             |uc AS (
             |  SELECT u, count(*) AS c_u
             |  FROM (SELECT unnest(toks) AS u FROM d) GROUP BY u),
             |vv AS (SELECT count(*) AS vsz FROM uc),
             |lp AS (
             |  SELECT id, ln((coalesce(c_uv, 0) + 0.5)
             |    / (coalesce(c_u, 0) + 0.5 * vsz)) AS lp
             |  FROM bg LEFT JOIN bgc USING (u, v) LEFT JOIN uc USING (u)
             |  CROSS JOIN vv),
             |sc AS (SELECT id, round(avg(lp), 4) AS lm_score
             |  FROM lp GROUP BY id),
             |wl AS (
             |  SELECT d.lang,
             |    CAST(round(-sc.lm_score * 10000) AS BIGINT) AS li
             |  FROM d LEFT JOIN sc USING (id)),
             |bd AS (
             |  SELECT lang, count(li) AS n_docs,
             |    round(sum(li) / (10000.0 * count(li)), 6) AS mean_loss
             |  FROM wl GROUP BY lang),
             |rf AS (SELECT round(sum(li) / (10000.0 * count(li)), 6)
             |  AS ref_loss FROM wl),
             |ex AS (
             |  SELECT lang, n_docs, mean_loss,
             |    round(greatest(mean_loss - ref_loss, 0.0), 6) AS excess
             |  FROM bd CROSS JOIN rf),
             |ew AS (SELECT *, exp(5.0 * excess) AS w FROM ex),
             |nz AS (SELECT sum(w) AS z, count(*) AS k FROM ew)
             |SELECT lang, n_docs, mean_loss, excess,
             |  round(0.8 * w / z + 0.2 / k, 6) AS weight
             |FROM ew CROSS JOIN nz ORDER BY lang""".stripMargin)),


    // ---------------------------------------------------------------------
    // q118: the composed curation pipeline (RefinedWeb/Dolma shape) —
    // raw corpus in, per-document verdicts out: exact-dedup survivor
    // status (one shuffle on the normalized-content key), Gopher
    // repetition flag (q114's operator), CCNet perplexity bucket (q115's
    // operator), and the final kept = not-dup AND not-repetitive AND
    // not-tail. Each constituent is independently graded with plants
    // (q18/q114/q115); what THIS query grades is the composition — three
    // verdict frames all keyed by doc, joined doc-keyed, one pass each.
    // Planted exact copies (doc_id%11, +10000) make is_dup load-bearing.
    QueryDef("q118_curation_pipeline",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val copies = d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        val all = d.unionByName(copies)
        val w = Window
          .partitionBy(Cleaning.normName(col("text")))
          .orderBy(col("doc_id").asc)
        val dd = all.select(col("doc_id"),
          (row_number().over(w) > 1).as("is_dup"))
        val rp = graft.operators.Repetition.gopherRepetition(
            all, "doc_id", "text", lineSep = "fast")
          .select(col("doc_id"), col("flagged").as("rep_flagged"))
        val scored = graft.operators.LmScore.lmScore(
          all, "doc_id", "text", alpha = 0.5)
        val bk = graft.operators.LmScore.perplexityBuckets(scored,
            graft.operators.LmScore.tercileCuts(scored, "lm_score",
              exact = true))
          .select(col("id").as("doc_id"), col("ppl_bucket"))
        dd.join(rp, "doc_id").join(bk, "doc_id")
          .select(col("doc_id"), col("is_dup"), col("rep_flagged"),
            col("ppl_bucket"),
            (!col("is_dup") && !col("rep_flagged") &&
              col("ppl_bucket") =!= "tail").as("kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents
             |  WHERE doc_id % 11 = 0),
             |dd AS (
             |  SELECT doc_id, row_number() OVER (
             |    PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
             |    ORDER BY doc_id) > 1 AS is_dup
             |  FROM all_docs),
             |ln AS (
             |  SELECT doc_id,
             |    list_filter(list_transform(string_split(text, 'fast'),
             |      x -> trim(x)), x -> x <> '') AS lines
             |  FROM all_docs),
             |lm AS (
             |  SELECT doc_id,
             |    CASE WHEN len(lines) > 0 THEN
             |      round(CAST(len(lines) - len(list_distinct(lines))
             |        AS DOUBLE) / len(lines), 6) ELSE 0.0 END
             |      AS dup_line_frac,
             |    CASE WHEN coalesce(list_sum(list_transform(lines,
             |        x -> length(x))), 0) > 0 THEN
             |      round(CAST(list_sum(list_transform(lines,
             |          x -> length(x)))
             |        - list_sum(list_transform(list_distinct(lines),
             |          x -> length(x))) AS DOUBLE)
             |        / list_sum(list_transform(lines, x -> length(x))), 6)
             |      ELSE 0.0 END AS dup_line_char_frac
             |  FROM ln),
             |tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM all_docs),
             |g2 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(len(toks) - 1),
             |      i -> array_to_string(toks[i + 1:i + 2], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS gram
             |  FROM tok),
             |c2 AS (SELECT doc_id, gram, count(*) AS cnt
             |  FROM g2 GROUP BY doc_id, gram),
             |s2 AS (SELECT doc_id, sum(cnt * length(gram)) AS tot
             |  FROM c2 GROUP BY doc_id),
             |t2 AS (
             |  SELECT doc_id, cnt * length(gram) AS top_chars,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY cnt DESC, gram DESC) AS rn
             |  FROM c2),
             |top2 AS (
             |  SELECT t2.doc_id,
             |    round(CAST(top_chars AS DOUBLE) / tot, 6) AS top2
             |  FROM t2 JOIN s2 ON t2.doc_id = s2.doc_id
             |  WHERE rn = 1 AND tot > 0),
             |g5 AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
             |    THEN list_transform(range(len(toks) - 4),
             |      i -> array_to_string(toks[i + 1:i + 5], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS gram
             |  FROM tok),
             |c5 AS (SELECT doc_id, gram, count(*) AS cnt
             |  FROM g5 GROUP BY doc_id, gram),
             |d5 AS (
             |  SELECT doc_id,
             |    CASE WHEN sum(cnt * length(gram)) > 0 THEN
             |      round(CAST(sum(CASE WHEN cnt > 1
             |          THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
             |        / sum(cnt * length(gram)), 6) ELSE 0.0 END AS dup5
             |  FROM c5 GROUP BY doc_id),
             |rp AS (
             |  SELECT lm.doc_id,
             |    (dup_line_frac > 0.30 OR dup_line_char_frac > 0.20
             |      OR coalesce(top2, 0.0) > 0.20
             |      OR coalesce(dup5, 0.0) > 0.15) AS rep_flagged
             |  FROM lm LEFT JOIN top2 USING (doc_id)
             |  LEFT JOIN d5 USING (doc_id)),
             |bg AS (
             |  SELECT doc_id AS id, unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM tok WHERE len(toks) >= 2),
             |bgc AS (SELECT u, v, count(*) AS c_uv FROM bg GROUP BY u, v),
             |uc AS (
             |  SELECT u, count(*) AS c_u
             |  FROM (SELECT unnest(toks) AS u FROM tok) GROUP BY u),
             |vv AS (SELECT count(*) AS vsz FROM uc),
             |lp AS (
             |  SELECT id, ln((coalesce(c_uv, 0) + 0.5)
             |    / (coalesce(c_u, 0) + 0.5 * vsz)) AS lp
             |  FROM bg LEFT JOIN bgc USING (u, v) LEFT JOIN uc USING (u)
             |  CROSS JOIN vv),
             |sc AS (
             |  SELECT id, round(avg(lp), 4) AS lm_score
             |  FROM lp GROUP BY id),
             |scored AS (
             |  SELECT doc_id, lm_score
             |  FROM all_docs LEFT JOIN sc ON all_docs.doc_id = sc.id),
             |cuts AS (SELECT
             |    round(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 6) AS c1,
             |    round(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 6) AS c2
             |  FROM scored),
             |bk AS (
             |  SELECT doc_id,
             |    CASE WHEN lm_score IS NULL THEN 'unscored'
             |         WHEN lm_score >= c2 THEN 'head'
             |         WHEN lm_score >= c1 THEN 'middle'
             |         ELSE 'tail' END AS ppl_bucket
             |  FROM scored CROSS JOIN cuts)
             |SELECT dd.doc_id, is_dup, rep_flagged, ppl_bucket,
             |  (NOT is_dup AND NOT rep_flagged AND ppl_bucket <> 'tail')
             |    AS kept
             |FROM dd JOIN rp USING (doc_id) JOIN bk USING (doc_id)
             |ORDER BY dd.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q119: retrieval-quality evaluation — recall@10 and reciprocal rank
    // of the q88 BM25 ranking against boolean-AND relevance (docs
    // containing every query term), the labels-free graded-retrieval
    // ground truth. Ranking, truth, AND the df aggregate all hang off ONE
    // docTermFreq definition, so the token stream is scanned once and the
    // identical exchanges dedupe at runtime (the q88/q91 reuse stance).
    QueryDef("q119_retrieval_eval",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val q = retrievalQueries(s)
        val R = graft.operators.Retrieval
        val dtf = R.docTermFreq(d, "doc_id", "text", q)
        val byDoc = R.bm25ScoresOf(dtf, R.corpusStats(d, "text"), q)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)
        val ranked = byDoc
          .withColumn("rank", row_number().over(w).cast("long"))
        R.evalRanking(ranked, R.conjunctiveTruth(dtf, q), k = 10)
          .orderBy(col("query_id"))
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |    (1, 'vector'), (1, 'join'),
             |    (2, 'customer'), (2, 'batch'), (2, 'window'),
             |    (3, 'slow'), (3, 'scan')),
             |toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> '') AS tk
             |  FROM documents),
             |words AS (
             |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term
             |  FROM toks),
             |dtf AS (
             |  SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
             |  FROM words WHERE term IN (SELECT term FROM q)
             |  GROUP BY 1, 2),
             |dfx AS (SELECT term, count(*) AS df FROM dtf GROUP BY 1),
             |st AS (
             |  SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
             |sc AS (
             |  SELECT q.query_id, dtf.doc_id,
             |    round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             |      * (tf * 2.2)
             |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS ts
             |  FROM dtf JOIN dfx USING (term) JOIN q USING (term)
             |  CROSS JOIN st),
             |agg AS (
             |  SELECT query_id, doc_id, round(sum(ts), 6) AS score,
             |    count(*) AS n_terms_hit
             |  FROM sc GROUP BY 1, 2),
             |r AS (
             |  SELECT query_id, doc_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             |  FROM agg),
             |qn AS (SELECT query_id, count(DISTINCT term) AS qn
             |  FROM q GROUP BY 1),
             |truth AS (
             |  SELECT query_id, doc_id
             |  FROM (SELECT q.query_id, dtf.doc_id,
             |          count(DISTINCT dtf.term) AS nt
             |        FROM dtf JOIN q USING (term) GROUP BY 1, 2)
             |  JOIN qn USING (query_id) WHERE nt = qn),
             |hits AS (
             |  SELECT r.query_id, count(*) AS hits_at_k,
             |    min(rank) AS first_rank
             |  FROM r JOIN truth USING (query_id, doc_id)
             |  WHERE rank <= 10 GROUP BY 1),
             |nrel AS (SELECT query_id, count(*) AS n_relevant
             |  FROM truth GROUP BY 1)
             |SELECT query_id, n_relevant,
             |  coalesce(hits_at_k, 0) AS hits_at_k,
             |  CASE WHEN n_relevant > 0 THEN
             |    round(CAST(coalesce(hits_at_k, 0) AS DOUBLE) / n_relevant, 6)
             |  ELSE 0.0 END AS recall_at_k,
             |  coalesce(round(1.0 / first_rank, 6), 0.0) AS rr_at_k
             |FROM nrel LEFT JOIN hits USING (query_id)
             |ORDER BY query_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q120: exact phrase search over the positional inverted index — the
    // positions-file algorithm (Manning et al. IR 2008 §2.4.2): postings
    // (doc, pos, term) join the phrase's (term, offset) rows, every hit
    // shifts to its implied start (pos - offset), and a start holding ALL
    // offsets is a match (overlaps counted). ONE posting shuffle however
    // many phrases; no per-phrase text re-scan. The twin restates the
    // identical index join.
    QueryDef("q120_phrase_search",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
        val phrases = Seq((1L, "fast column"), (2L, "the customer"),
          (3L, "group query"), (4L, "join join"))
          .toDF("phrase_id", "phrase")
        graft.operators.Retrieval.phraseSearch(d, "doc_id", "text", phrases)
          .orderBy(col("phrase_id"), col("doc_id"))
      },
      Some("""WITH ph(phrase_id, off, term) AS (VALUES
             |    (1, 0, 'fast'), (1, 1, 'column'),
             |    (2, 0, 'the'), (2, 1, 'customer'),
             |    (3, 0, 'group'), (3, 1, 'query'),
             |    (4, 0, 'join'), (4, 1, 'join')),
             |plen AS (SELECT phrase_id, count(*) AS plen
             |  FROM ph GROUP BY 1),
             |tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM documents),
             |posting AS (
             |  SELECT doc_id, unnest(range(len(toks))) AS pos,
             |         unnest(toks) AS term
             |  FROM tok),
             |starts AS (
             |  SELECT ph.phrase_id, posting.doc_id,
             |    pos - off AS start
             |  FROM posting JOIN ph USING (term)
             |  WHERE pos - off >= 0),
             |full_hits AS (
             |  SELECT phrase_id, doc_id, start, count(*) AS nhit
             |  FROM starts GROUP BY 1, 2, 3),
             |matches AS (
             |  SELECT f.phrase_id, doc_id
             |  FROM full_hits f JOIN plen USING (phrase_id)
             |  WHERE nhit = plen)
             |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
             |  count(*) AS n_matches
             |FROM matches GROUP BY 1, 2
             |ORDER BY phrase_id, doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q121: the sampler consuming q113's rates — draw each lang's
    // largest-remainder budget_rows by deterministic md5 order (the
    // engine-portable uniform, q106's Gumbel stance): rates -> an actual
    // sampled corpus, the full mT5 sampling loop. One |domains| broadcast
    // join + one domain-PARTITIONED window; membership is exactly graded
    // (a wrong budget, hash, or tie-break moves rows across the cut).
    QueryDef("q121_temperature_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Mix.temperatureSample(d, "lang", col("n_chars"), "doc_id",
            alpha = 0.3, budget = 300L)
          .select(col("lang"), col("doc_id"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH bd AS (
             |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_weight
             |  FROM documents GROUP BY lang),
             |tot AS (SELECT sum(n_weight) AS n_total FROM bd),
             |sh AS (SELECT lang, n_weight,
             |    CAST(n_weight AS DOUBLE) / n_total AS p,
             |    pow(CAST(n_weight AS DOUBLE) / n_total, 0.3) AS p_a
             |  FROM bd CROSS JOIN tot),
             |nz AS (SELECT sum(p_a) AS z FROM sh),
             |mi AS (SELECT lang,
             |    CAST(round(p_a / z * 1000000, 0) AS BIGINT) AS q6
             |  FROM sh CROSS JOIN nz),
             |fr AS (SELECT *, q6 * 300 // 1000000 AS fl,
             |    (q6 * 300) % 1000000 AS rem FROM mi),
             |df AS (SELECT 300 - sum(fl) AS deficit FROM fr),
             |rk AS (SELECT *,
             |    row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk_up,
             |    row_number() OVER (ORDER BY rem ASC, lang DESC) AS rk_down
             |  FROM fr),
             |bud AS (
             |  SELECT lang,
             |    fl + CASE WHEN rk_up <= deficit THEN 1 ELSE 0 END
             |       - CASE WHEN rk_down <= -deficit THEN 1 ELSE 0 END
             |      AS budget_rows
             |  FROM rk CROSS JOIN df),
             |ranked AS (
             |  SELECT d.lang, d.doc_id, row_number() OVER (
             |      PARTITION BY d.lang
             |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
             |    AS rnk
             |  FROM documents d)
             |SELECT r.lang, r.doc_id
             |FROM ranked r JOIN bud USING (lang)
             |WHERE rnk <= budget_rows
             |ORDER BY lang, doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q122: C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the
    // first filter of a web-corpus pipeline, and deliberately the
    // cheapest: every rule is row-local HOF arithmetic inside the scan
    // (zero shuffle, zero UDF, full codegen; the only exchange is the
    // grading ORDER BY). Plants make every rule load-bearing: each doc
    // gains a kept line (terminal '.'), a no-punctuation line (dropped),
    // %3 a second kept line (so minKeptLines=2 splits the corpus), %7 a
    // well-formed line containing "JavaScript" (dropped by the word rule
    // despite passing punctuation+length), %5 a curly-brace line (page
    // dropped), %11 a lorem-ipsum line (page dropped).
    QueryDef("q122_c4_line_filter",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val aug = d.select(col("doc_id"), concat(
            col("text"), lit("."),
            lit("%%no punct line here"),
            when(col("doc_id") % 3 === 0,
              lit("%%the quick brown fox jumps over the lazy dog!"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit("%%please enable JavaScript to continue viewing."))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit("%%config { nested }"))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit("%%Lorem ipsum dolor sit amet.")).otherwise(lit("")))
          .as("text"))
        graft.operators.C4Filter.c4Lines(aug, "doc_id", "text",
            lineSep = "%%", minWords = 5, minKeptLines = 2)
          .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
            col("kept_char_frac"), col("has_lorem"), col("has_brace"),
            col("keep"), md5(col("clean_text")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text || '.'
             |    || '%%no punct line here'
             |    || CASE WHEN doc_id % 3 = 0
             |         THEN '%%the quick brown fox jumps over the lazy dog!'
             |         ELSE '' END
             |    || CASE WHEN doc_id % 7 = 0
             |         THEN '%%please enable JavaScript to continue viewing.'
             |         ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0
             |         THEN '%%config { nested }' ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0
             |         THEN '%%Lorem ipsum dolor sit amet.' ELSE '' END
             |    AS text
             |  FROM documents),
             |ln AS (
             |  SELECT doc_id, text,
             |    list_filter(list_transform(string_split(text, '%%'),
             |      x -> trim(x)), x -> x <> '') AS lines
             |  FROM aug),
             |k AS (
             |  SELECT doc_id, text, lines,
             |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
             |      AND len(list_filter(string_split_regex(l, '\s+'),
             |            w -> w <> '')) >= 5
             |      AND NOT contains(lower(l), 'javascript')) AS kept
             |  FROM ln)
             |SELECT doc_id,
             |  CAST(len(lines) AS BIGINT) AS n_lines,
             |  CAST(len(kept) AS BIGINT) AS n_kept,
             |  CASE WHEN coalesce(list_sum(list_transform(lines,
             |      x -> length(x))), 0) > 0
             |    THEN round(CAST(coalesce(list_sum(list_transform(kept,
             |        x -> length(x))), 0) AS DOUBLE)
             |      / list_sum(list_transform(lines, x -> length(x))), 6)
             |    ELSE 0.0 END AS kept_char_frac,
             |  contains(lower(text), 'lorem ipsum') AS has_lorem,
             |  contains(text, '{') AS has_brace,
             |  (len(kept) >= 2 AND NOT contains(lower(text), 'lorem ipsum')
             |    AND NOT contains(text, '{')) AS keep,
             |  md5(array_to_string(kept, chr(10))) AS clean_md5
             |FROM k ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q146: Unicode NFC normalization — the native NfcNormalize expression
    // (JDK Normalizer under whole-stage codegen) graded against DuckDB's
    // independent nfc_normalize (both implement UAX #15, so canonical
    // composition must agree byte-for-byte). The corpus is ASCII, so every
    // third doc gets a planted decomposed suffix (e+U+0301, A+U+030A,
    // o+U+0308, and the U+FB01 ligature that NFC must NOT fold — that
    // fold is NFKC's, a content-altering choice this pass refuses).
    // Row-local projection, zero shuffle: the pass that must run BEFORE
    // any byte-keyed fingerprint (q6/q18 exact dedup, q19/q20 shingles,
    // BPE) or two spellings of one word hash apart.
    QueryDef("q146_nfc_normalize",
      (s, dir) => {
        val suffix = "Café ﬁne Ångström"
        val d = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(substring(col("text"), 1, 20), lit(suffix)))
            .otherwise(substring(col("text"), 1, 20)).as("raw"))
        val norm = graft.expressions.NfcNormalize.column(col("raw"))
        d.select(col("doc_id"), norm.as("norm_text"),
            (norm =!= col("raw")).as("changed"),
            length(col("raw")).as("len_raw"),
            length(norm).as("len_norm"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 20) ||
             |      'Café ﬁne Ångström'
             |    ELSE substr(text, 1, 20) END AS raw
             |  FROM documents)
             |SELECT doc_id, nfc_normalize(raw) AS norm_text,
             |  nfc_normalize(raw) <> raw AS changed,
             |  length(raw) AS len_raw,
             |  length(nfc_normalize(raw)) AS len_norm
             |FROM d ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q161: vocabulary-saturation audit — Good-Turing frequency-of-
    // frequencies (P0 = N1/N unseen-mass, smoothed r* counts) + Zipf
    // log-log slope over the top-100 words. The keep-crawling-or-
    // saturated signal: one token explode + word-keyed aggregate is
    // the only corpus-sized shuffle; fof is |distinct counts| rows;
    // the Zipf fit reads top-100 via TakeOrdered and regresses 1-row.
    QueryDef("q161_vocab_saturation",
      (s, dir) => graft.operators.Vocab.saturation(
          t(s, dir, "documents"), "text", maxR = 10, zipfTopN = 100)
        .orderBy(col("r")),
      Some("""WITH tok AS (SELECT unnest(list_filter(string_split_regex(
             |    lower(trim(text)), '\s+'), x -> x <> '')) AS word
             |  FROM documents),
             |wc AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
             |fof AS (SELECT n AS r, count(*) AS n_r FROM wc GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
             |    count(*) AS vocab,
             |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1
             |  FROM wc),
             |top AS (SELECT n, row_number() OVER (ORDER BY n DESC, word)
             |      AS rank
             |  FROM wc ORDER BY n DESC, word LIMIT 100),
             |zipf AS (SELECT round(regr_slope(ln(n), ln(rank)), 6)
             |    AS zipf_slope FROM top),
             |grid AS (SELECT unnest(range(1, 11)) AS r)
             |SELECT g.r, coalesce(f.n_r, 0) AS n_r,
             |  CASE WHEN coalesce(f.n_r, 0) > 0 AND f1.n_r IS NOT NULL
             |    THEN round((g.r + 1) * CAST(f1.n_r AS DOUBLE) / f.n_r, 6)
             |  END AS r_star,
             |  round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS p0_unseen,
             |  vocab, n_tokens, zipf_slope
             |FROM grid g LEFT JOIN fof f ON f.r = g.r
             |  LEFT JOIN fof f1 ON f1.r = g.r + 1
             |CROSS JOIN tot CROSS JOIN zipf
             |ORDER BY g.r""".stripMargin)),


    // ---------------------------------------------------------------------
    // q165: TextTiling topic segmentation (Hearst 1997, block variant)
    // — adjacent 10-token-block cosine valleys with per-doc
    // mu + 0.5*sigma depth cutoff. Planted two-topic docs (every 25th
    // doc concatenated with the text of doc+7, re-id'd +3e6) carry a
    // real topic seam the depth score must flag; organic docs measure
    // the false-boundary floor. All doc-keyed: token explode, block
    // counts, one shifted self-join for gap dots, |blocks|-row windows.
    QueryDef("q165_texttiling",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"),
          col("text"))
        val planted = base.filter(col("doc_id") % 25 === 0).as("a")
          .join(base.select(col("doc_id").as("bid"),
            col("text").as("btext")).as("b"),
            col("bid") === col("doc_id") + 7)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(col("text"), lit(" "), col("btext")).as("text"))
        graft.operators.Segment.textTiling(
            base.unionByName(planted), "doc_id", "text",
            blockTokens = 10)
          .orderBy(col("doc_id"), col("g"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |aug AS (SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT a.doc_id + 3000000, a.text || ' ' || b.text
             |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 7
             |  WHERE a.doc_id % 25 = 0),
             |tl AS (SELECT doc_id, list_filter(string_split_regex(
             |    lower(trim(text)), '\s+'), x -> x <> '') AS toks
             |  FROM aug),
             |tk AS (SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS blk,
             |    toks[CAST(i AS INT)] AS tok
             |  FROM tl, unnest(range(1, len(toks) + 1)) AS u(i)),
             |cnt AS (SELECT doc_id, blk, tok, count(*) AS n
             |  FROM tk GROUP BY 1, 2, 3),
             |nrm AS (SELECT doc_id, blk, sum(n * n) AS nrm2
             |  FROM cnt GROUP BY 1, 2),
             |dots AS (SELECT a.doc_id, a.blk AS g, sum(a.n * b.n) AS dot
             |  FROM cnt a JOIN cnt b ON b.doc_id = a.doc_id
             |    AND b.blk = a.blk + 1 AND b.tok = a.tok
             |  GROUP BY 1, 2),
             |gaps AS (SELECT na.doc_id, na.blk AS g,
             |    round(coalesce(dot, 0) / sqrt(na.nrm2 * nb.nrm2), 6)
             |      AS cos
             |  FROM nrm na JOIN nrm nb ON nb.doc_id = na.doc_id
             |    AND nb.blk = na.blk + 1
             |  LEFT JOIN dots d ON d.doc_id = na.doc_id
             |    AND d.g = na.blk),
             |dep AS (SELECT doc_id, g, cos,
             |    round(coalesce(lag(cos) OVER w - cos, 0.0)
             |      + coalesce(lead(cos) OVER w - cos, 0.0), 6) + 0.0
             |      AS depth
             |  FROM gaps WINDOW w AS (PARTITION BY doc_id ORDER BY g))
             |SELECT doc_id, g, cos, depth,
             |  depth > round(avg(depth) OVER d
             |    + 0.5 * stddev_pop(depth) OVER d, 6) AS is_boundary
             |FROM dep WINDOW d AS (PARTITION BY doc_id)
             |ORDER BY doc_id, g""".stripMargin)),


    // ---------------------------------------------------------------------
    // q178: per-document keyword extraction — top-3 smoothed-TF-IDF
    // terms per doc (the q71 corpus statistic turned into the per-doc
    // feature RAG metadata and faceted search need). One token explode
    // feeds both the tf table and the df table; ranking partitions by
    // doc (per-doc vocab-sized windows, never global) on the ROUNDED
    // score with term tie-break.
    QueryDef("q178_keywords",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val tf = d.select(col("doc_id"),
            explode(Text.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
          .withColumn("tfidf", round(col("tf")
            * (log((col("n_docs") + 1).cast("double") / (col("df") + 1))
              + 1), 6))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term").asc)
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    unnest(list_filter(string_split_regex(
             |      lower(trim(text)), '\s+'), x -> x <> '')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
             |  GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |nn AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT doc_id, term,
             |    round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
             |      + 1), 6) AS tfidf
             |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
             |r AS (SELECT doc_id, term, tfidf, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
             |  FROM sc)
             |SELECT doc_id, rnk, term, tfidf FROM r WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),


    // ---------------------------------------------------------------------
    // q179: language-ID confusion matrix — the marker-vote predictor
    // (q15's lang_pred) audited against the corpus's gold lang column:
    // per (gold, predicted) cell counts and within-gold shares. The
    // eval loop every heuristic classifier in the stack should get;
    // 'und' rows show where the marker lists lack coverage. Reuses the
    // q15 oracle restatement for the predictor, so the twin and the
    // engine share one definition of the classifier.
    QueryDef("q179_langid_confusion",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val prof = graft.operators.TextProfile.profile(d, "doc_id",
          "text").select(col("doc_id"), col("lang_pred"))
        prof.join(d.select(col("doc_id"), col("lang").as("gold")),
            Seq("doc_id"))
          .groupBy(col("gold"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .withColumn("share", round(col("n") / sum(col("n"))
            .over(Window.partitionBy(col("gold"))), 6))
          .withColumn("correct", col("gold") === col("lang_pred"))
          .orderBy(col("gold"), col("lang_pred"))
      },
      Some(s"""WITH prof AS (
              |${docStatsOracle.stripSuffix(" ORDER BY doc_id")}),
              |j AS (SELECT d.lang AS gold, p.lang_pred
              |  FROM prof p JOIN documents d ON d.doc_id = p.doc_id),
              |c AS (SELECT gold, lang_pred, count(*) AS n FROM j
              |  GROUP BY 1, 2)
              |SELECT gold, lang_pred, n,
              |  round(CAST(n AS DOUBLE) / sum(n) OVER
              |    (PARTITION BY gold), 6) AS share,
              |  gold = lang_pred AS correct
              |FROM c ORDER BY gold, lang_pred""".stripMargin)),


    // ---------------------------------------------------------------------
    // q185: arrival burstiness (Fano factor) per event type over a
    // DENSE hourly grid (empty buckets included — deriving buckets
    // from observed events silently understates variance). Planted
    // flash crowd: early-days click events tripled, so 'click' must
    // flag bursty (fano >> 1) while organic types sit near Poisson 1.
    // Fully integer-deterministic from exact long aggregates.
    QueryDef("q185_burstiness",
      (s, dir) => {
        val e = t(s, dir, "events")
        val burst = e.filter(col("event_type") === "click"
          && dayofmonth(col("ts")) <= 3)
          .select(col("event_type"), col("ts"))
        val aug = e.select(col("event_type"), col("ts"))
          .unionByName(burst).unionByName(burst)
        graft.operators.Sessionize.burstiness(aug, "event_type", "ts",
            bucketSeconds = 3600L, threshold = 1.5)
          .orderBy(col("event_type"))
      },
      Some("""WITH burst AS (SELECT event_type, ts FROM events
             |  WHERE event_type = 'click' AND day(ts) <= 3),
             |aug AS (SELECT event_type, ts FROM events
             |  UNION ALL SELECT * FROM burst
             |  UNION ALL SELECT * FROM burst),
             |mn AS (SELECT min(epoch_us(ts)) AS t0,
             |    max(epoch_us(ts)) AS t1 FROM aug),
             |c AS (SELECT event_type AS g,
             |    (epoch_us(ts) - t0) // 3600000000 AS h, count(*) AS c
             |  FROM aug CROSS JOIN mn GROUP BY 1, 2),
             |hrs AS (SELECT unnest(range(0,
             |    (t1 - t0) // 3600000000 + 1)) AS h FROM mn),
             |gs AS (SELECT DISTINCT event_type AS g FROM aug),
             |grid AS (SELECT g, h FROM gs CROSS JOIN hrs),
             |f AS (SELECT grid.g, coalesce(c.c, 0) AS c FROM grid
             |  LEFT JOIN c ON c.g = grid.g AND c.h = grid.h),
             |st AS (SELECT g, CAST(count(*) AS BIGINT) AS n_buckets,
             |    CAST(sum(c) AS BIGINT) AS n_events,
             |    CAST(sum(c * c) AS BIGINT) AS s2
             |  FROM f GROUP BY 1)
             |SELECT g AS event_type, n_buckets, n_events,
             |  round(CAST(n_events AS DOUBLE) / n_buckets, 6)
             |    AS mean_per_bucket,
             |  round((CAST(n_buckets AS DOUBLE) * s2
             |    - CAST(n_events AS DOUBLE) * n_events)
             |    / (CAST(n_buckets AS DOUBLE) * n_events), 6) AS fano,
             |  (CAST(n_buckets AS DOUBLE) * s2
             |    - CAST(n_events AS DOUBLE) * n_events)
             |    / (CAST(n_buckets AS DOUBLE) * n_events) > 1.5
             |    AS bursty
             |FROM st ORDER BY event_type""".stripMargin)),


    // ---------------------------------------------------------------------
    // q190: BPE training on the PRODUCTION-SPEED batched path — 4 merges
    // learned at mergeBatch=4 (one driver round collects the top-4 pairs
    // and applies the greedy non-interacting prefix; deferred candidates
    // re-count next round). Batching may legally REORDER merges relative
    // to sequential training (on this corpus the shared-symbol deferral
    // moves one pair to a later round at sf0.001/sf0.1), so the graded
    // surface is the order-independent one the trade actually preserves:
    // the merge TABLE sorted by (weight desc, pair) — set AND recorded
    // weights must equal textbook sequential training's, which the twin
    // restates as q99's unrolled rounds — plus the top-25 vocabulary
    // AFTER all merges apply (order-sensitive through application, so a
    // corpus where deferral stopped commuting would move this hash). A
    // batched set/weight divergence OR an application-order effect fails
    // the gate at any SF.
    QueryDef("q190_bpe_train_batched",
      (s, dir) => {
        import s.implicits._
        val r = graft.operators.BpeTrain.train(
          t(s, dir, "documents"), "text", numMerges = 4, mergeBatch = 4)
        val sortedMerges = r.merges
          .sortBy(mg => (-mg.weight, mg.left, mg.right)).zipWithIndex
          .map { case (mg, i) =>
            (i + 1L, "merge", mg.left, mg.right, mg.weight) }
        val m = sortedMerges.toDF("ord", "kind", "sym_a", "sym_b", "freq")
        val vw = Window.orderBy(col("freq").desc, col("sym").asc)
        val v = r.vocab.withColumn("rk", row_number().over(vw))
          .filter(col("rk") <= 25)
          .select((col("rk") + 100).as("ord"), lit("vocab").as("kind"),
            col("sym").as("sym_a"), lit("").as("sym_b"), col("freq"))
        m.unionByName(v).orderBy(col("ord"))
      },
      Some("""WITH w AS (
             |  SELECT word, count(*) AS cnt FROM (
             |    SELECT unnest(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS word
             |    FROM documents)
             |  GROUP BY word),
             |s0 AS (
             |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s, cnt
             |  FROM w),
             |p1 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s0)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m1 AS (SELECT u, v, wt FROM p1 ORDER BY wt DESC, u, v LIMIT 1),
             |s1 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s0 CROSS JOIN m1),
             |p2 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s1)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m2 AS (SELECT u, v, wt FROM p2 ORDER BY wt DESC, u, v LIMIT 1),
             |s2 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s1 CROSS JOIN m2),
             |p3 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s2)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m3 AS (SELECT u, v, wt FROM p3 ORDER BY wt DESC, u, v LIMIT 1),
             |s3 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s2 CROSS JOIN m3),
             |p4 AS (
             |  SELECT u, v, CAST(sum(cnt) AS BIGINT) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s3)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m4 AS (SELECT u, v, wt FROM p4 ORDER BY wt DESC, u, v LIMIT 1),
             |s4 AS (
             |  SELECT replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s3 CROSS JOIN m4),
             |mall AS (
             |  SELECT * FROM m1 UNION ALL SELECT * FROM m2
             |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4),
             |ordm AS (
             |  SELECT row_number() OVER (ORDER BY wt DESC, u, v) AS ord,
             |    'merge' AS kind, u AS sym_a, v AS sym_b, wt AS freq
             |  FROM mall),
             |vocab AS (
             |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS freq FROM (
             |    SELECT unnest(string_split(trim(s), '  ')) AS sym, cnt
             |    FROM s4)
             |  GROUP BY sym),
             |vtop AS (
             |  SELECT sym, freq,
             |    row_number() OVER (ORDER BY freq DESC, sym) AS rk
             |  FROM vocab QUALIFY rk <= 25)
             |SELECT * FROM (
             |  SELECT ord, kind, sym_a, sym_b, freq FROM ordm
             |  UNION ALL SELECT rk + 100, 'vocab', sym, '', freq FROM vtop)
             |ORDER BY ord""".stripMargin)),


    // ---------------------------------------------------------------------
    // q195: UniMax language-budget allocation (Chung et al. 2023) — the
    // waterfilling mixture rule: budget = 80% of one corpus pass, epoch cap
    // 1, so tail languages train their full corpus once and the head
    // language is downsampled to the leftover share. The capped-prefix
    // closed form runs as two |langs|-row windows after ONE domain-keyed
    // aggregate; the oracle replays the identical exact-long waterfill.
    QueryDef("q195_unimax_mix",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Mix.unimax(d, "lang",
            graft.functions.Text.tokenCount(col("text")).cast("long"),
            epochCap = 1L, budget = expr("n_total * 4 div 5"))
          .orderBy(col("lang"))
      },
      Some("""WITH tokc AS (
             |  SELECT lang, len(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS n_tok
             |  FROM documents),
             |bylang AS (
             |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t
             |  FROM tokc GROUP BY lang),
             |tot AS (
             |  SELECT CAST(sum(t) AS BIGINT) AS n_total,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM bylang),
             |ord AS (
             |  SELECT lang, t, t AS cap, n,
             |    (n_total * 4) // 5 AS b,
             |    CAST(row_number() OVER (ORDER BY t, lang) AS BIGINT) AS i,
             |    CAST(coalesce(sum(t) OVER (ORDER BY t, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS pfx
             |  FROM bylang CROSS JOIN tot),
             |flg AS (
             |  SELECT *, cap * (n - i + 1) <= b - pfx AS capped FROM ord),
             |agg AS (
             |  SELECT
             |    CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT)
             |      AS cap_sum,
             |    CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT)
             |      AS n_uncapped
             |  FROM flg),
             |fin AS (
             |  SELECT lang, t, capped,
             |    CASE WHEN capped THEN CAST(cap AS DOUBLE)
             |         ELSE CAST(b - cap_sum AS DOUBLE) / n_uncapped
             |    END AS alloc_raw
             |  FROM flg CROSS JOIN agg)
             |SELECT lang, t AS n_tokens,
             |  CAST(CASE WHEN capped THEN 1 ELSE 0 END AS BIGINT) AS capped,
             |  round(alloc_raw, 4) AS alloc_tokens,
             |  CASE WHEN t > 0 THEN round(alloc_raw / t, 6) END AS epochs
             |FROM fin ORDER BY lang""".stripMargin)),


    // ---------------------------------------------------------------------
    // q197: distributed logistic regression (2 Newton/IRLS steps, in-plan
    // Cramer solve) — the parametric quality scorer over engineered
    // features (here: token count / 100 and stopword ratio, label =
    // lang == 'en'). Both engines round the gradient/Hessian sums to 6
    // before the solve and beta to 9 after each step, and state the
    // cofactor arithmetic in the identical order, so the fitted
    // coefficients are bit-identical; graded on the per-doc scores AND the
    // coefficients (repeated per row).
    QueryDef("q197_logreg_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val prof = graft.operators.TextProfile.profile(d, "doc_id", "text")
        val feats = prof.join(d.select(col("doc_id"), col("lang")), "doc_id")
        Classify.logisticTrainScore(feats, "doc_id",
            round(col("n_tokens") / 100.0, 6),
            // profile's ratio is unrounded; the operator contract wants
            // 6-dp features (the q15 grading does the same round)
            round(col("stopword_ratio"), 6),
            (col("lang") === "en").cast("int"), iters = 2)
          .orderBy(col("id"))
      },
      Some {
        val stop = Text.StopwordsEn.map(w => s"'$w'").mkString(",")
        val sums = """
          |  SELECT round(sum(y - mu), 6) AS g0,
          |    round(sum(f1 * (y - mu)), 6) AS g1,
          |    round(sum(f2 * (y - mu)), 6) AS g2,
          |    round(sum(mu * (1 - mu)), 6) AS h00,
          |    round(sum(mu * (1 - mu) * f1), 6) AS h01,
          |    round(sum(mu * (1 - mu) * f2), 6) AS h02,
          |    round(sum(mu * (1 - mu) * f1 * f1), 6) AS h11,
          |    round(sum(mu * (1 - mu) * f1 * f2), 6) AS h12,
          |    round(sum(mu * (1 - mu) * f2 * f2), 6) AS h22,
          |    any_value(b0) AS b0, any_value(b1) AS b1,
          |    any_value(b2) AS b2""".stripMargin
        val solve = """
          |  SELECT
          |    round(b0 + (g0*(h11*h22 - h12*h12) - h01*(g1*h22 - h12*g2)
          |      + h02*(g1*h12 - h11*g2))
          |      / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
          |      + h02*(h01*h12 - h11*h02)), 9) AS b0,
          |    round(b1 + (h00*(g1*h22 - h12*g2) - g0*(h01*h22 - h12*h02)
          |      + h02*(h01*g2 - g1*h02))
          |      / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
          |      + h02*(h01*h12 - h11*h02)), 9) AS b1,
          |    round(b2 + (h00*(h11*g2 - g1*h12) - h01*(h01*g2 - g1*h02)
          |      + g0*(h01*h12 - h11*h02))
          |      / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
          |      + h02*(h01*h12 - h11*h02)), 9) AS b2""".stripMargin
        s"""WITH tok AS (
           |  SELECT doc_id, lang,
           |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
           |      t -> t <> '') AS toks
           |  FROM documents),
           |feat AS (
           |  SELECT doc_id,
           |    round(CAST(len(toks) AS DOUBLE) / 100.0, 6) AS f1,
           |    round(CASE WHEN len(toks) > 0
           |      THEN CAST(len(list_filter(toks, t -> t IN ($stop)))
           |        AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS f2,
           |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
           |  FROM tok),
           |it1 AS (
           |  SELECT f.*, b.*,
           |    1.0 / (1.0 + exp(-(b0 + b1 * f1 + b2 * f2))) AS mu
           |  FROM feat f CROSS JOIN
           |    (SELECT CAST(0.001 AS DOUBLE) AS b0, 0.0 AS b1,
           |            0.0 AS b2) b),
           |s1 AS ($sums
           |  FROM it1),
           |bt1 AS ($solve
           |  FROM s1),
           |it2 AS (
           |  SELECT f.*, b.*,
           |    1.0 / (1.0 + exp(-(b0 + b1 * f1 + b2 * f2))) AS mu
           |  FROM feat f CROSS JOIN bt1 b),
           |s2 AS ($sums
           |  FROM it2),
           |bt2 AS ($solve
           |  FROM s2)
           |SELECT doc_id AS id,
           |  round(1.0 / (1.0 + exp(-(b0 + b1 * f1 + b2 * f2))), 6) AS p,
           |  CAST(CASE WHEN (b0 + b1 * f1 + b2 * f2) > 0 THEN 1 ELSE 0 END
           |    AS BIGINT) AS prediction,
           |  b0, b1, b2
           |FROM feat CROSS JOIN bt2 ORDER BY id""".stripMargin
      }),


    // ---------------------------------------------------------------------
    // q198: ROC curve + tie-aware AUC of the heuristic quality score as an
    // English-document detector — the threshold-selection audit run before
    // a quality score becomes a data filter. Mann-Whitney average-rank
    // formula; one row per distinct rounded score with the "keep >=
    // threshold" operating point; auc repeated per row (q-ece convention).
    QueryDef("q198_roc_auc",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = graft.operators.TextProfile.profile(d, "doc_id", "text")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("quality"), (col("lang") === "en").cast("int").as("y"))
        Classify.rocAuc(scored, "quality", "y")
          .orderBy(col("threshold").desc)
      },
      Some(s"""WITH stats AS (${docStatsNoOrder.replace("\n", "\n  ")}),
              |lab AS (
              |  SELECT round(s.quality, 6) AS threshold,
              |    CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
              |      AS y
              |  FROM stats s JOIN documents d USING (doc_id)),
              |g AS (
              |  SELECT threshold, count(*) AS n, sum(y) AS np
              |  FROM lab GROUP BY threshold),
              |r AS (
              |  SELECT threshold, CAST(n AS BIGINT) AS n,
              |    CAST(np AS BIGINT) AS np,
              |    CAST(coalesce(sum(n) OVER (ORDER BY threshold
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS cless,
              |    CAST(sum(np) OVER (ORDER BY threshold DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS cum_tp,
              |    CAST(sum(n - np) OVER (ORDER BY threshold DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS cum_fp
              |  FROM g),
              |tot AS (
              |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              |    CAST(sum(n - np) AS BIGINT) AS n_neg,
              |    sum(CAST(np AS DOUBLE)
              |      * (cless + CAST(n + 1 AS DOUBLE) / 2.0)) AS rank_sum
              |  FROM r)
              |SELECT threshold, n,
              |  round(CAST(cum_tp AS DOUBLE) / n_pos, 6) AS tpr,
              |  round(CAST(cum_fp AS DOUBLE) / n_neg, 6) AS fpr,
              |  round((rank_sum
              |    - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0)
              |    / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
              |FROM r CROSS JOIN tot ORDER BY threshold DESC""".stripMargin)),


    // ---------------------------------------------------------------------
    // q199: token-label mutual information (IR-book §13.5.1 feature
    // selection) — top-25 tokens by MI between document-level presence and
    // lang == 'en'. Postings-shaped token aggregate + a 1-row totals
    // broadcast; the twin restates the identical 4-cell ln arithmetic.
    QueryDef("q199_token_mi",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Classify.tokenMutualInformation(d, "doc_id", "text",
          (col("lang") === "en").cast("int"), k = 25)
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
             |      AS y,
             |    list_distinct(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS toks
             |  FROM documents),
             |tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn,
             |         CAST(sum(y) AS BIGINT) AS c1
             |  FROM docs),
             |posts AS (SELECT y, unnest(toks) AS token FROM docs),
             |byt AS (
             |  SELECT token, CAST(count(*) AS BIGINT) AS nt,
             |         CAST(sum(y) AS BIGINT) AS a
             |  FROM posts GROUP BY token),
             |mi AS (
             |  SELECT token, nt, a,
             |    round(
             |      (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) / nn
             |        * ln(CAST(nn AS DOUBLE) * a
             |          / (CAST(nt AS DOUBLE) * c1)) ELSE 0.0 END)
             |      + (CASE WHEN nt - a > 0
             |        THEN CAST(nt - a AS DOUBLE) / nn
             |        * ln(CAST(nn AS DOUBLE) * (nt - a)
             |          / (CAST(nt AS DOUBLE) * (nn - c1))) ELSE 0.0 END)
             |      + (CASE WHEN c1 - a > 0
             |        THEN CAST(c1 - a AS DOUBLE) / nn
             |        * ln(CAST(nn AS DOUBLE) * (c1 - a)
             |          / (CAST(nn - nt AS DOUBLE) * c1)) ELSE 0.0 END)
             |      + (CASE WHEN (nn - c1) - (nt - a) > 0
             |        THEN CAST((nn - c1) - (nt - a) AS DOUBLE) / nn
             |        * ln(CAST(nn AS DOUBLE) * ((nn - c1) - (nt - a))
             |          / (CAST(nn - nt AS DOUBLE) * (nn - c1)))
             |        ELSE 0.0 END), 6) AS mi
             |  FROM byt CROSS JOIN tot)
             |SELECT token, nt AS n_docs, a AS n_pos, mi
             |FROM mi ORDER BY mi DESC, token LIMIT 25""".stripMargin)),


    // ---------------------------------------------------------------------
    // q209: length-bucketed batch packing stats (the group_by_length
    // batching every large-scale trainer uses to cut padding waste):
    // order documents by token count (desc, doc_id tiebreak), cut into
    // fixed batches of 32, report per-batch padding = n·max_len − Σlen.
    // The global order comes from RowIds.denseByOrder (range-partitioned
    // two-phase ids) — NEVER a bare Window.orderBy; everything after is
    // one batch-keyed aggregate.
    QueryDef("q209_length_batching",
      (s, dir) => {
        val lens = t(s, dir, "documents")
          .select(col("doc_id"), Text.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
        val idx = graft.pipeline.RowIds.denseByOrder(lens, "idx",
          Seq(col("n_tokens").desc, col("doc_id").asc))
        idx.withColumn("batch_id", expr("(idx - 1) div 32"))
          .groupBy(col("batch_id"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("n_tokens")).as("max_len"),
            sum(col("n_tokens")).as("sum_tokens"),
            (max(col("n_tokens")) * count(lit(1)) - sum(col("n_tokens")))
              .as("padding"))
          .orderBy(col("batch_id"))
      },
      Some("""WITH lens AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS n_tokens
             |  FROM documents),
             |idx AS (
             |  SELECT doc_id, n_tokens, row_number() OVER (
             |      ORDER BY n_tokens DESC, doc_id ASC) AS idx
             |  FROM lens)
             |SELECT (idx - 1) // 32 AS batch_id, count(*) AS n_docs,
             |  max(n_tokens) AS max_len,
             |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT)
             |    AS padding
             |FROM idx GROUP BY 1 ORDER BY batch_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q210: benchmark decontamination via the PERSISTED 13-gram index
    // (GPT-3 appendix C; operators/Contam scaladoc for the 100-TB probe
    // shape): benchmark docs (doc_id % 50 == 0) are indexed pre-bucketed
    // on the gram digest; the remaining corpus probes it with NO
    // index-side exchange. Grams are md5Long digests the twin restates
    // exactly; every probed document gets a row (hit or not).
    QueryDef("q210_contam_index",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val probe = docs.filter(col("doc_id") % 50 =!= 0)
        val path = scratchPath(dir, "graft_ngram_idx_")
        val name = "q210_idx_" + path.takeRight(12)
        graft.operators.Contam.writeNgramIndex(bench, "doc_id", "text",
          path, name, n = 13, numBuckets = 16)
        val idx = graft.operators.Contam.readNgramIndex(s, path, name)
        graft.operators.Contam.probeNgramIndex(idx, probe, "doc_id", "text")
          .withColumn("hit_frac",
            round(col("n_hits").cast("double") /
              col("n_grams").cast("double"), 6))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |grams AS (SELECT doc_id,
             |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
             |  FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 13
             |      THEN list_transform(range(len(toks) - 12),
             |             i -> array_to_string(toks[i + 1:i + 13], ' '))
             |      ELSE [array_to_string(toks, ' ')] END) AS g
             |    FROM tok)
             |  GROUP BY doc_id, gram),
             |bench AS (SELECT doc_id AS src, gram FROM grams
             |  WHERE doc_id % 50 = 0),
             |probe AS (SELECT doc_id, gram FROM grams WHERE doc_id % 50 <> 0),
             |hits AS (SELECT p.doc_id,
             |    count(DISTINCT p.gram) AS n_hits,
             |    count(DISTINCT b.src) AS n_sources
             |  FROM probe p JOIN bench b USING (gram)
             |  GROUP BY p.doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_grams FROM probe
             |  GROUP BY doc_id)
             |SELECT t.doc_id, t.n_grams,
             |  coalesce(h.n_hits, 0) AS n_hits,
             |  coalesce(h.n_sources, 0) AS n_sources,
             |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_grams, 6)
             |    AS hit_frac
             |FROM tot t LEFT JOIN hits h USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q213: decontamination as an ACTION (Contam.decontaminate) — q210
    // emits per-doc stats; this GRADES the composed filter: the corpus is
    // split on hit_frac > 0.05 against the persisted 13-gram index, the
    // KEPT half proves the anti-join carried the original text through
    // (md5 of the text column), and the DROPPED half carries the X6-style
    // provenance (hits, sources, hit_frac in integer micro-units — no
    // float-to-string seam). The twin restates the screen AND the split,
    // so a boundary slip, a lost kept row, or a wrong provenance value
    // each moves the hash.
    QueryDef("q213_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val probe = docs.filter(col("doc_id") % 50 =!= 0)
        val path = scratchPath(dir, "graft_decontam_idx_")
        val name = "q213_idx_" + path.takeRight(12)
        graft.operators.Contam.writeNgramIndex(bench, "doc_id", "text",
          path, name, n = 13, numBuckets = 16)
        val idx = graft.operators.Contam.readNgramIndex(s, path, name)
        val (kept, dropped) = graft.operators.Contam.decontaminate(
          idx, probe, "doc_id", "text", maxHitFrac = 0.05)
        val k = kept.select(col("doc_id"), lit("kept").as("verdict"),
          md5(col("text")).as("detail"))
        val d = dropped.select(col("doc_id"), lit("dropped").as("verdict"),
          concat_ws(":", col("n_hits"), col("n_sources"),
            round(col("n_hits").cast("double") / col("n_grams") * 1e6)
              .cast("long")).as("detail"))
        k.unionByName(d).orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |grams AS (SELECT doc_id,
             |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
             |  FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 13
             |      THEN list_transform(range(len(toks) - 12),
             |             i -> array_to_string(toks[i + 1:i + 13], ' '))
             |      ELSE [array_to_string(toks, ' ')] END) AS g
             |    FROM tok)
             |  GROUP BY doc_id, gram),
             |bench AS (SELECT doc_id AS src, gram FROM grams
             |  WHERE doc_id % 50 = 0),
             |probe AS (SELECT doc_id, gram FROM grams WHERE doc_id % 50 <> 0),
             |hits AS (SELECT p.doc_id,
             |    count(DISTINCT p.gram) AS n_hits,
             |    count(DISTINCT b.src) AS n_sources
             |  FROM probe p JOIN bench b USING (gram)
             |  GROUP BY p.doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_grams FROM probe
             |  GROUP BY doc_id),
             |stats AS (SELECT t.doc_id, t.n_grams,
             |    coalesce(h.n_hits, 0) AS n_hits,
             |    coalesce(h.n_sources, 0) AS n_sources
             |  FROM tot t LEFT JOIN hits h USING (doc_id)),
             |dropped AS (SELECT * FROM stats
             |  WHERE CAST(n_hits AS DOUBLE) / n_grams > 0.05)
             |SELECT d.doc_id, 'kept' AS verdict, md5(d.text) AS detail
             |FROM documents d
             |WHERE d.doc_id % 50 <> 0
             |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
             |UNION ALL
             |SELECT doc_id, 'dropped',
             |  CAST(n_hits AS VARCHAR) || ':' || CAST(n_sources AS VARCHAR)
             |    || ':' || CAST(CAST(round(CAST(n_hits AS DOUBLE) / n_grams
             |        * 1000000) AS BIGINT) AS VARCHAR)
             |FROM dropped
             |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q216: interpolated Kneser–Ney bigram LM scoring — the smoothing
    // family CCNet's KenLM actually uses, next to q98's add-alpha: held-out
    // mass backs off to the CONTINUATION distribution (distinct-context
    // counts), with a +1/(N1+(·,·)+V+1) OOV floor keeping open-vocabulary
    // scores finite. Trained on HALF the corpus (doc_id % 2 = 0) and
    // scored on all of it plus q98's planted md5 gibberish, so the graded
    // stream exercises every branch: seen bigrams (discounted ML), unseen
    // bigrams under seen contexts (interpolated continuation), and fully
    // OOV text (pure regularized Pcont — the gibberish lands there and
    // the -6.5 threshold flags exactly it). The twin retrains the
    // identical model in SQL with matching expression shapes.
    QueryDef("q216_kneser_ney",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val junk = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat_ws(" ", (0 until 8).map(i =>
              md5((col("doc_id") + lit(i)).cast("string").cast("binary")))
              : _*).as("text"))
        val train = d.filter(col("doc_id") % 2 === 0)
        graft.operators.LmScore.knScore(d.unionByName(junk),
            "doc_id", "text", discount = 0.75, threshold = -6.5,
            train = Some(train))
          .orderBy(col("id"))
      },
      Some("""WITH pl AS (
             |  SELECT doc_id + 10000 AS id,
             |    concat_ws(' ', md5(CAST(doc_id + 0 AS VARCHAR)),
             |      md5(CAST(doc_id + 1 AS VARCHAR)),
             |      md5(CAST(doc_id + 2 AS VARCHAR)),
             |      md5(CAST(doc_id + 3 AS VARCHAR)),
             |      md5(CAST(doc_id + 4 AS VARCHAR)),
             |      md5(CAST(doc_id + 5 AS VARCHAR)),
             |      md5(CAST(doc_id + 6 AS VARCHAR)),
             |      md5(CAST(doc_id + 7 AS VARCHAR))) AS text
             |  FROM documents WHERE doc_id % 10 = 0),
             |corpus AS (
             |  SELECT doc_id AS id, text FROM documents
             |  UNION ALL SELECT id, text FROM pl),
             |d AS (
             |  SELECT id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM corpus),
             |tr AS (SELECT toks FROM d WHERE id % 2 = 0 AND id < 10000),
             |tbg AS (
             |  SELECT unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM tr WHERE len(toks) >= 2),
             |bgc AS (SELECT u, v, count(*) AS c_uv FROM tbg GROUP BY u, v),
             |ctx AS (SELECT u, sum(c_uv) AS c_u, count(*) AS n1f
             |  FROM bgc GROUP BY u),
             |cont AS (SELECT v, count(*) AS n1b FROM bgc GROUP BY v),
             |tot AS (SELECT
             |    (SELECT count(*) FROM bgc) AS n_bg,
             |    (SELECT count(DISTINCT u2)
             |     FROM (SELECT unnest(toks) AS u2 FROM tr)) AS vsz),
             |sbg AS (
             |  SELECT id, unnest(toks[1:len(toks)-1]) AS u,
             |         unnest(toks[2:len(toks)]) AS v
             |  FROM d WHERE len(toks) >= 2),
             |lp AS (
             |  SELECT id,
             |    ln(CASE WHEN c_u IS NOT NULL THEN
             |         greatest(coalesce(c_uv, 0) - 0.75, 0) / c_u
             |         + 0.75 * n1f / c_u
             |           * ((coalesce(n1b, 0) + 1.0) / (n_bg + vsz + 1.0))
             |       ELSE (coalesce(n1b, 0) + 1.0) / (n_bg + vsz + 1.0)
             |       END) AS lp
             |  FROM sbg LEFT JOIN bgc USING (u, v) LEFT JOIN ctx USING (u)
             |  LEFT JOIN cont USING (v) CROSS JOIN tot),
             |sc AS (
             |  SELECT id, count(*) AS n_bigrams, round(avg(lp), 4) AS kn_score
             |  FROM lp GROUP BY id)
             |SELECT d.id, coalesce(n_bigrams, 0) AS n_bigrams, kn_score,
             |  coalesce(kn_score < -6.5, false) AS low_quality
             |FROM d LEFT JOIN sc USING (id)
             |ORDER BY d.id""".stripMargin))
  )
}
