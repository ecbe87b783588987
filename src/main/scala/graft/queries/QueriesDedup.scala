package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef
import graft.queries.Shared._

/** Deduplication: exact, MinHash/LSH, SimHash, embedding near-dup, connected components, suffix-array ExactSubstr, winnowing, all-pairs cosine, persisted LSH index lifecycle.
  *
  * One registry shard of [[Queries.all]] — same QueryDef/oracle
  * conventions (see [[Queries]]'s scaladoc); split from the single
  * 11.6k-line Queries.scala in round 16 for maintainability. */
private[queries] object QueriesDedup {

  def defs: Seq[QueryDef] = Seq(


    // ---------------------------------------------------------------------
    // q6: exact dedup with deterministic survivor (S12/A8: min id per key),
    // via the library operator (window row_number, one shuffle on the key).
    QueryDef("q6_dedup_orders",
      (s, dir) => {
        val o = t(s, dir, "orders")
        Dedup.exact(o, Seq(col("o_custkey"), col("o_orderstatus")),
            col("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM (
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |    row_number() OVER (PARTITION BY o_custkey, o_orderstatus
             |      ORDER BY o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q18: exact text dedup at corpus scale (hash-shuffle on the normalized
    // content key, deterministic min-id survivor). Exact duplicates are
    // planted (the synthetic corpus has none) so the operator does real work.
    QueryDef("q18_dedup_docs",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val dup = d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        Dedup.exactText(d.unionByName(dup), "text", "doc_id")
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
             |keyed AS (SELECT doc_id,
             |  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k
             |  FROM all_docs)
             |SELECT doc_id FROM (
             |  SELECT doc_id, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
             |  FROM keyed)
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q19: exact word-3-gram Jaccard near-dup pairs via the inverted-index
    // self-join (never a cross product). Near-dups are planted by dropping
    // the first token of every 7th doc.
    QueryDef("q19_jaccard_pairs",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        Dedup.ngramJaccardPairs(all, "doc_id", "text",
            shingleSize = 3, threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle)),


    // ---------------------------------------------------------------------
    // q20: MinHash + LSH banding near-dup candidates with exact-Jaccard
    // rescoring. Oracle = the SAME exact-closure SQL as q19: rescoring makes
    // precision exact, and at this operating point (fixed seed, r=4 b=16,
    // true pairs at j >= 0.8, per-pair recall 0.9998) the LSH pair set
    // equals the exact inverted-index set — verified 107/107 (sf0.001) and
    // 106/106 (sf0.01). A recall regression drops rows and fails the
    // compare, so the probabilistic stage is held to the exact answer.
    QueryDef("q20_minhash_lsh_pairs",
      (s, dir) => {
        // 64 hashes / 16 bands (r=4): the planted corpus's true pairs sit at
        // j >= 0.8 where per-pair recall is 1-(1-0.8^4)^16 ~= 0.9998 — the
        // same recall as 128/32 at half the signature + banding cost, and
        // HALF the false-candidate rate at low j (S-curve at j=0.3: 12% vs
        // 23%), so the exact rescoring stage shrinks too.
        val all = plantedNearDups(s, dir, 7)
        Dedup.minhashLshPairs(all, "doc_id", "text", shingleSize = 3,
            numHashes = 64, bands = 16, threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle)),


    // ---------------------------------------------------------------------
    // q25: engine-portable document fingerprints: rolling md5-based
    // polynomial hash (order-sensitive) + BPE-ish subword token count.
    QueryDef("q25_doc_fingerprint",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"),
            Text.fingerprint(col("text")).as("fp"),
            Text.bpeTokenCount(col("text")).as("n_bpe"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |h AS (SELECT doc_id, text,
             |    list_transform(toks,
             |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS hs
             |  FROM tok)
             |SELECT doc_id,
             |  CASE WHEN len(hs) = 0 THEN 0
             |       ELSE list_reduce(hs, (a, b) -> (a * 1000003 + b) % 2147483647)
             |  END AS fp,
             |  CAST(coalesce(list_sum(list_transform(
             |    regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'),
             |    p -> CAST(ceil(length(p) / 4.0) AS BIGINT))), 0) AS BIGINT)
             |    AS n_bpe
             |FROM h ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q26: portable 32-bit SimHash (md5 token hashes, per-bit vote fold) —
    // the oracle-checkable twin of the xxhash64 simhash used for near-dup
    // bucketing in q30.
    QueryDef("q26_simhash32",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // aggregation form (codegen conditional sums) with the portable md5
        // token hash — same values as Text.simhashPortable, ~5x faster;
        // left join restores zero-token docs as simhash 0
        val sims = Dedup.simhashAgg(d, "doc_id", "text", bits = 32,
          tokenHash = Text.md5Long)
        d.select(col("doc_id")).join(sims.withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("simhash"), lit(0L)).as("simhash32"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |h AS (SELECT doc_id,
             |    list_transform(toks,
             |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
             |  FROM tok)
             |SELECT doc_id,
             |  CAST(CASE WHEN len(hs) = 0 THEN 0 ELSE
             |    list_sum(list_transform(range(32), b ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
             |  END AS BIGINT) AS simhash32
             |FROM h ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q28: embedding-cosine near-dup pairs, exact (planted perturbed copies;
    // double-precision arithmetic on both sides for bit parity).
    QueryDef("q28_embed_neardup",
      (s, dir) => {
        val all = plantedVecs(s, dir)
        Dedup.embeddingNearDup(all, "vec_id", "vec", threshold = 0.98)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(embedNearDupOracle)),


    // ---------------------------------------------------------------------
    // q29: the same near-dup search through random-hyperplane LSH buckets
    // (the 100-TB path: only same-bucket pairs are scored). Probabilistic
    // recall -> no SQL oracle; the spec checks recall against q28's exact
    // ground truth.
    QueryDef("q29_embed_neardup_lsh",
      (s, dir) => {
        // shares q28's EXACT oracle: rescoring makes precision exact, and
        // at 12 planes x 16 tables recall is 100% on the planted corpus at
        // sf0.001, sf0.01 AND sf0.1 — a recall regression now fails the
        // hash compare. (Recall here is DETERMINISTIC: seeded planes +
        // fixed corpus. Probed: tables=4 missed 2/100 at sf0.01; tables=8
        // missed the worst planted pair — cosine 0.9871, per-table bucket
        // collision 0.53 — at sf0.1's 400 pairs; 16 tables put the worst
        // pair's miss odds at 5e-6.)
        val all = plantedVecs(s, dir)
        Dedup.embeddingNearDupLsh(all, "vec_id", "vec", threshold = 0.98,
            planes = 12, tables = 16)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(embedNearDupOracle)),


    // ---------------------------------------------------------------------
    // q30: SimHash near-dup pairs via the pigeonhole chunk trick (64-bit
    // xxhash simhash, hamming <= 6 found with a bucket shuffle, never a
    // cross join). xxhash64 is Spark-only -> no SQL oracle; spec-tested.
    QueryDef("q30_simhash_pairs",
      (s, dir) => {
        // portable md5 token hash (not xxhash64) so the DuckDB twin computes
        // bit-identical fingerprints; the pigeonhole candidate generation is
        // EXACT for hamming <= maxHamming, so the oracle is the full
        // closure — the bucket shuffle must find every qualifying pair.
        val all = plantedNearDups(s, dir, 7)
        Dedup.simhashPairs(all, "doc_id", "text", maxHamming = 6, bits = 64,
            tokenHash = Text.md5Long)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |tok AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM all_docs),
             |h AS (SELECT doc_id,
             |    list_transform(toks,
             |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
             |  FROM tok),
             |sims AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN len(hs) = 0 THEN 0 ELSE
             |      list_sum(list_transform(range(64), b ->
             |        CASE WHEN list_sum(list_transform(hs, x ->
             |               CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
             |    END AS BIGINT) AS s
             |  FROM h),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
             |  FROM sims a JOIN sims b ON a.doc_id < b.doc_id)
             |SELECT id_a, id_b, hamming FROM pairs
             |WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q44: duplicate-CLUSTER formation — connected components (min-label
    // propagation) over the exact near-dup pair set; the oracle states the
    // same closure as a recursive CTE.
    QueryDef("q44_dup_clusters",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text",
          shingleSize = 3, threshold = 0.7)
        Dedup.connectedComponents(
            all.select(col("doc_id").as("id")), pairs)
          .orderBy(col("id"))
      },
      Some(ccReachCtes7 +
        """
          |SELECT id, min(r) AS cluster FROM reach GROUP BY id
          |ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q47: END-TO-END corpus dedup — the canonical training-data flow:
    // near-dup pairs (inverted-index Jaccard) -> duplicate clusters
    // (connected components) -> keep the best-quality representative per
    // cluster. Composes three library operators in one plan.
    QueryDef("q47_dedup_keep_best",
      (s, dir) => {
        // consumed 3x (pair generation, CC nodes, quality profile): cache
        // the planted corpus once instead of re-reading + perturbing per use
        val all = graft.pipeline.Pins.pin(plantedNearDups(s, dir, 7))
        val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text",
          shingleSize = 3, threshold = 0.7)
        val cc = Dedup.connectedComponents(
          all.select(col("doc_id").as("id")), pairs)
        val stats = graft.operators.TextProfile.profile(all, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
        val joined = cc.join(stats, cc("id") === stats("doc_id"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("quality").desc, col("doc_id").asc)
        joined
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .filter(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("kept_doc_id"),
            col("n_members"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH RECURSIVE
              |all_docs AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
              |  FROM documents WHERE doc_id % 7 = 0),
              |stats AS (
              |  SELECT doc_id, quality FROM (
              |    ${docStatsSql("all_docs").stripSuffix(" ORDER BY doc_id")
                     .replace("\n", "\n    ")})),
              |tok2 AS (SELECT doc_id,
              |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |      t -> t <> '') AS toks
              |  FROM all_docs),
              |sh AS (SELECT doc_id,
              |    CASE WHEN len(toks) >= 3
              |         THEN list_distinct(list_transform(range(len(toks) - 2),
              |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
              |         ELSE [array_to_string(toks, ' ')] END AS shingles
              |  FROM tok2),
              |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
              |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              |  FROM posts a JOIN posts b
              |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT id_a, id_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7),
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION ALL SELECT id_b, id_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM all_docs
              |  UNION
              |  SELECT reach.id, edges.dst FROM reach
              |  JOIN edges ON edges.src = reach.r),
              |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
              |best AS (
              |  SELECT comp.cluster, stats.doc_id,
              |    row_number() OVER (PARTITION BY comp.cluster
              |      ORDER BY stats.quality DESC, stats.doc_id ASC) AS rn,
              |    count(*) OVER (PARTITION BY comp.cluster) AS n_members
              |  FROM comp JOIN stats ON stats.doc_id = comp.id)
              |SELECT cluster, doc_id AS kept_doc_id, n_members
              |FROM best WHERE rn = 1 ORDER BY cluster""".stripMargin)),


    // ---------------------------------------------------------------------
    // q50: incremental ingest dedup — keep only incoming docs whose
    // normalized content does NOT already exist in the corpus (left-anti on
    // the content key; the join shuffles key hashes, not documents).
    QueryDef("q50_incremental_new_docs",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val existing = d.filter(col("doc_id") % 3 =!= 0)
        // incoming: new ids; every 2nd one duplicates an existing doc's text
        val incoming = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 50000).as("doc_id"),
            when(col("doc_id") % 6 === 0,
              concat(col("text"), lit(" genuinely new tail")))
              .otherwise(col("text")).as("text"))
        val key = Cleaning.normName(col("text"))
        incoming.withColumn("__k", key)
          .join(existing.select(key.as("__k")).distinct(), Seq("__k"), "left_anti")
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH existing AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
             |incoming AS (
             |  SELECT doc_id + 50000 AS doc_id,
             |    CASE WHEN doc_id % 6 = 0 THEN text || ' genuinely new tail'
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 3 = 0),
             |ek AS (SELECT DISTINCT
             |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k
             |  FROM existing)
             |SELECT doc_id FROM incoming
             |WHERE lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) NOT IN
             |  (SELECT k FROM ek)
             |ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q89: exact-substring containment dedup (token-level) — the
    // suffix-array-style complement to shingle Jaccard (q19): doc A is a
    // duplicate-by-containment of doc B when A's token sequence appears
    // contiguously inside B's. Plant: q19's corpus — every 7th doc re-added
    // (+10000) minus its first token, i.e. a TRUE SUFFIX of the original,
    // so each planted doc must surface as contained. Plan shape (never a
    // doc x doc product): if A's tokens appear inside B, then A's FIRST
    // 8-token gram is one of B's 8-grams — so probe = one hashed gram per
    // doc, postings = every doc's hashed 8-grams (distinct), and the
    // equi-join yields candidates that a token-boundary-safe contains()
    // (space-padded normalized text) verifies. Texts join back by id AFTER
    // the slim hash-join, so the wide columns never ride the postings
    // shuffle. Gram df is naturally tiny here (30-word vocab, 30^8 gram
    // space) and min doc length is 10 tokens at every SF, but the
    // operator now CODES the real-corpus guards (r7): a maxGramDf
    // postings cap with rarest-gram probing, and a broadcast whole-text
    // fallback for docs under the gram floor (both spec'd in
    // OperatorsSpec with planted hot-gram / short-doc fixtures).
    QueryDef("q89_substring_dedup",
      (s, dir) => {
        // operator call (Dedup.substringContainment) — the inline r6 plan
        // plus the coded guards: rarest-gram probing under a maxGramDf
        // postings cap and the short-doc whole-text fallback, both no-ops
        // on this corpus (min doc length 10 tokens, 30-word vocab) and
        // spec'd with planted hot-gram / short-doc fixtures
        graft.operators.Dedup.substringContainment(
            plantedNearDups(s, dir, 7), "doc_id", "text", gram = 8)
          .orderBy(col("contained_id"), col("container_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |norm AS (
             |  SELECT doc_id, array_to_string(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> ''), ' ') AS ntext
             |  FROM all_docs WHERE length(trim(text)) > 0)
             |SELECT a.doc_id AS contained_id, b.doc_id AS container_id
             |FROM norm a JOIN norm b ON a.doc_id <> b.doc_id
             |WHERE position((' ' || a.ntext || ' ')
             |               IN (' ' || b.ntext || ' ')) > 0
             |ORDER BY contained_id, container_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q90: cross-document repeated spans — every 16-token run that occurs
    // in >=2 DISTINCT documents, with doc and occurrence counts (the
    // repeated-substring primitive behind suffix-array train-data dedup,
    // Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    // Better": boilerplate/license spans repeat verbatim across docs and
    // should be counted, located, and stripped). Plan: stride-1 16-gram
    // shingles per doc (codegen'd WordShingles — pure per-row compute),
    // md5 at the map side so the ONLY shuffle key is a 32-char digest,
    // never the raw span text; one partial-agg exchange; the >=2-docs
    // filter runs post-aggregate. Docs under 16 tokens are excluded on
    // BOTH sides (WordShingles' whole-text fallback would otherwise emit
    // a <16-token pseudo-span the twin's window generator never produces).
    // The q19 planted corpus guarantees hits: each +10000 suffix twin
    // shares all but one of its original's 16-gram windows.
    QueryDef("q90_repeated_spans",
      (s, dir) => {
        val L = 16
        val all = plantedNearDups(s, dir, 7)
          .filter(Text.tokenCount(col("text")) >= L)
        // Generators can't nest inside expressions: explode in its own
        // projection, then hash the exploded column.
        val spans = all
          .select(col("doc_id"),
            explode(Text.wordShingles(col("text"), L)).as("span"))
          .select(col("doc_id"), md5(col("span")).as("span_md5"))
        spans.groupBy(col("span_md5"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("span_md5"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |d AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM all_docs),
             |ok AS (
             |  SELECT doc_id, toks, len(toks) AS n FROM d
             |  WHERE len(toks) >= 16),
             |w AS (
             |  SELECT doc_id, md5(array_to_string(
             |      list_slice(toks, i + 1, i + 16), ' ')) AS span_md5
             |  FROM (SELECT doc_id, toks,
             |          unnest(range(0, n - 15)) AS i
             |        FROM ok))
             |SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
             |  count(*) AS n_occ
             |FROM w GROUP BY span_md5 HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY span_md5""".stripMargin)),


    // ---------------------------------------------------------------------
    // q96: SemDeDup (Abbas et al. 2023) — embedding-space near-dup removal
    // made tractable by clustering first: k-means (the q77/q94 shared
    // trainCentroids) partitions the corpus, the quadratic pair search runs
    // only WITHIN clusters (n²/nlist, one cent_id shuffle), and the paper's
    // keep policy preserves the member of each similar pair with the LOWER
    // centroid similarity (semantic outliers survive, cluster-core
    // redundancy drops). Graded on the planted corpus (q34/q35's +100000
    // twins at cosine ≈ 0.999; unrelated pairs max ≈ 0.52, so tau = 0.9 is
    // decisive): recall is load-bearing — a twin pair the clustering keeps
    // together MUST be flagged with the right survivor, and the twin
    // recomputes training, assignment, pairs, and domination from scratch.
    QueryDef("q96_semdedup",
      (s, dir) => Dedup.semDedup(plantedVecs(s, dir), "vec_id", "vec",
          nlist = 8, iters = 2, tau = 0.9)
        .orderBy(col("id")),
      Some("""WITH e0 AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |e AS (
             |  SELECT * FROM e0
             |  UNION ALL
             |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
             |  FROM e0 WHERE vec_id % 5 = 0),
             |seeds AS (
             |  SELECT row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             |      AS cent_id, v
             |  FROM (SELECT vec_id, v FROM e
             |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
             |assign0 AS (
             |  SELECT vec_id, e.v AS v, cent_id, row_number() OVER (
             |      PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, s.v) DESC, cent_id)
             |      AS rk
             |  FROM e CROSS JOIN seeds s),
             |comp1 AS (
             |  SELECT cent_id, pos, round(avg(val), 6) AS m
             |  FROM (SELECT cent_id, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos
             |        FROM assign0 WHERE rk = 1)
             |  GROUP BY cent_id, pos),
             |cents1 AS (
             |  SELECT cent_id, list(m ORDER BY pos) AS cv
             |  FROM comp1 GROUP BY cent_id),
             |assign1 AS (
             |  SELECT vec_id, e.v AS v, c.cent_id, row_number() OVER (
             |      PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents1 c),
             |comp2 AS (
             |  SELECT cent_id, pos, round(avg(val), 6) AS m
             |  FROM (SELECT cent_id, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos
             |        FROM assign1 WHERE rk = 1)
             |  GROUP BY cent_id, pos),
             |cents2 AS (
             |  SELECT cent_id, list(m ORDER BY pos) AS cv
             |  FROM comp2 GROUP BY cent_id),
             |asg AS (
             |  SELECT vec_id AS id, v, cent_id, c_sim FROM (
             |    SELECT e.vec_id, e.v, c.cent_id,
             |      round(list_cosine_similarity(e.v, c.cv), 6) AS c_sim,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6)
             |          DESC, c.cent_id) AS rk
             |    FROM e CROSS JOIN cents2 c)
             |  WHERE rk = 1),
             |pairs AS (
             |  SELECT a.id AS a_id, a.c_sim AS a_csim,
             |         b.id AS b_id, b.c_sim AS b_csim
             |  FROM asg a JOIN asg b
             |    ON a.cent_id = b.cent_id AND a.id <> b.id
             |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9),
             |agg AS (
             |  SELECT a_id, count(*) AS n_sim,
             |    min(CASE WHEN b_csim < a_csim
             |             OR (b_csim = a_csim AND b_id < a_id)
             |        THEN b_id END) AS dup_of
             |  FROM pairs GROUP BY a_id)
             |SELECT asg.id, cent_id, c_sim,
             |  coalesce(n_sim, 0) AS n_similar, dup_of,
             |  (dup_of IS NOT NULL) AS is_dup
             |FROM asg LEFT JOIN agg ON asg.id = agg.a_id
             |ORDER BY asg.id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q100: incremental LSH dedup — the ingest path: a NEW batch (q19's
    // perturbed docs, ids +10000) checked against the already-indexed
    // corpus plus itself, with zero corpus-corpus candidates regenerated.
    // Same fixed-seed signature family and operating point as q20
    // (r=4 b=16, planted pairs at j >= 0.8, per-pair recall ~0.9998), exact
    // rescoring, so the twin holds the probabilistic stage to the exact
    // batch-touching closure: q19's inverted-index oracle restricted to
    // pairs with a batch-side member (id_b >= 10000). A recall miss drops
    // a row; a corpus-corpus leak adds one — both move the hash.
    QueryDef("q100_incremental_lsh",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        Dedup.incrementalLshPairs(d, batch, "doc_id", "text",
            shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle.replace(
        "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7",
        "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7\n" +
          "  AND id_b >= 10000"))),


    // ---------------------------------------------------------------------
    // q110: split assignment + cross-split leakage audit — the train/val/
    // test constructor every eval-honest pipeline needs: docs split 80/10/10
    // by the portable md5 hash (content-stable, partitioning-independent),
    // then the q19 near-dup closure is graded as an audit: each split's doc
    // count plus how many near-dup pairs CROSS it into another split (the
    // planted +10000 twins hash independently, so crossings provably
    // exist). A wrong split hash, boundary, or pair set moves the hash.
    // Scale: split is pure expression work on the scan; the audit joins the
    // (tiny) pair set to the split map twice.
    QueryDef("q110_split_leakage",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val split = all.select(col("doc_id"),
          when(pmod(Text.md5Long(col("doc_id")), lit(10)) < 8, "train")
            .when(pmod(Text.md5Long(col("doc_id")), lit(10)) === 8, "val")
            .otherwise("test").as("split"))
        val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text",
            shingleSize = 3, threshold = 0.7)
          .select(col("id_a"), col("id_b"))
        val cross = pairs
          .join(split.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(split.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .filter(col("split_a") =!= col("split_b"))
        val leaks = cross.select(col("split_a").as("split"))
          .unionAll(cross.select(col("split_b").as("split")))
          .groupBy(col("split")).agg(count(lit(1)).as("n_cross_pairs"))
        split.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
          .join(leaks, Seq("split"), "left")
          .select(col("split"), col("n_docs"),
            coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"))
          .orderBy(col("split"))
      },
      Some(s"""WITH all_docs AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
              |  FROM documents WHERE doc_id % 7 = 0),
              |sp AS (
              |  SELECT doc_id,
              |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
              |        1, 15))::BIGINT % 10 < 8 THEN 'train'
              |      WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
              |        1, 15))::BIGINT % 10 = 8 THEN 'val'
              |      ELSE 'test' END AS split
              |  FROM all_docs),
              |pairs AS (SELECT id_a, id_b FROM ($jaccardOracle)),
              |x AS (
              |  SELECT pa.split AS split_a, pb.split AS split_b
              |  FROM pairs
              |  JOIN sp pa ON pa.doc_id = id_a
              |  JOIN sp pb ON pb.doc_id = id_b
              |  WHERE pa.split <> pb.split),
              |l AS (
              |  SELECT split, count(*) AS n_cross_pairs FROM (
              |    SELECT split_a AS split FROM x
              |    UNION ALL SELECT split_b FROM x)
              |  GROUP BY split)
              |SELECT sp.split, count(*) AS n_docs,
              |  coalesce(any_value(l.n_cross_pairs), 0) AS n_cross_pairs
              |FROM sp LEFT JOIN l ON l.split = sp.split
              |GROUP BY sp.split ORDER BY sp.split""".stripMargin)),


    // ---------------------------------------------------------------------
    // q127: leakage-SAFE train/val/test split — the constructive
    // counterpart of q110's leakage AUDIT: split keyed on the near-dup
    // CLUSTER representative (not the document), so every near-duplicate
    // family lands in one split and cross-split contamination is zero BY
    // CONSTRUCTION (Lee et al. 2022 §6 document the eval inflation when
    // it is not). The graded `crossings` column re-derives that guarantee
    // from the pair frame (a mis-assignment would flip every row's hash).
    // Pair gen + CC are the q44 machinery; the pair frame is pinned
    // across its two consumers (CC and the crossing check).
    QueryDef("q127_leakage_safe_split",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val pairs = graft.pipeline.Pins.pin(
          Dedup.ngramJaccardPairs(all, "doc_id", "text",
            shingleSize = 3, threshold = 0.7))
        val cc = Dedup.connectedComponents(
          all.select(col("doc_id").as("id")), pairs)
        val h = pmod(Text.md5Long(col("cluster")), lit(10))
        val withSplit = cc.withColumn("split",
          when(h < 8, "train").when(h === 8, "val").otherwise("test"))
        val sa = withSplit.select(col("id").as("id_a"),
          col("split").as("split_a"))
        val sb = withSplit.select(col("id").as("id_b"),
          col("split").as("split_b"))
        val crossings = pairs.join(sa, "id_a").join(sb, "id_b")
          .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
            .otherwise(0L)), lit(0L)).as("crossings"))
        withSplit.crossJoin(broadcast(crossings)).orderBy(col("id"))
      },
      Some("""WITH RECURSIVE
             |all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM all_docs),
             |sh AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM posts a JOIN posts b
             |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a
             |  JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION ALL SELECT id_b, id_a FROM pairs),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM all_docs
             |  UNION
             |  SELECT reach.id, edges.dst FROM reach
             |  JOIN edges ON edges.src = reach.r),
             |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
             |sp AS (SELECT id, cluster,
             |    CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)),
             |        1, 15))::BIGINT % 10 < 8 THEN 'train'
             |      WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)),
             |        1, 15))::BIGINT % 10 = 8 THEN 'val'
             |      ELSE 'test' END AS split
             |  FROM cc),
             |cr AS (SELECT CAST(coalesce(sum(CASE WHEN x.split <> y.split
             |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS crossings
             |  FROM pairs p
             |  JOIN sp x ON x.id = p.id_a JOIN sp y ON y.id = p.id_b)
             |SELECT id, cluster, split, crossings
             |FROM sp CROSS JOIN cr ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q133: cross-source contamination matrix — pairwise shingle-overlap
    // estimates between every source pair from ONE sketch per source
    // (the q125 KMV machinery applied the way a lake audit actually runs:
    // |sources| k-entry sketches, then all O(|sources|^2) pair scores
    // from the sketches alone — no pair ever rescans the corpus; with
    // HLL this matrix is impossible, intersections don't compose).
    // One token-stream scan, one source-keyed aggregate; the pair join
    // is a broadcast self-join of a |sources|-row frame.
    QueryDef("q133_source_overlap_matrix",
      (s, dir) => {
        import graft.expressions.Kmv
        val d = t(s, dir, "documents").select(col("source"), col("text"))
        val sk = d.select(col("source"),
            explode(Text.wordShingles(col("text"), 3)).as("g"))
          .select(col("source"), Text.md5Long(col("g")).as("h"))
          .groupBy(col("source"))
          .agg(Kmv.column(col("h"), 128).as("sk"))
        sk.as("x").join(broadcast(sk.as("y")),
            col("x.source") < col("y.source"))
          .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
            round(Kmv.jaccard(col("x.sk"), col("y.sk"), 128), 6)
              .as("jacc_est"),
            round(Kmv.estimate(
              Kmv.unionSketch(col("x.sk"), col("y.sk"), 128), 128), 2)
              .as("union_est"))
          .withColumn("inter_est",
            round(col("jacc_est") * col("union_est"), 2))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH tok AS (
             |  SELECT source, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '') AS toks
             |  FROM documents),
             |gr AS (
             |  SELECT source, unnest(CASE WHEN len(toks) >= 3
             |    THEN list_transform(range(len(toks) - 2),
             |      i -> array_to_string(toks[i + 1:i + 3], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS g
             |  FROM tok),
             |hh AS (SELECT DISTINCT source,
             |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
             |  FROM gr),
             |rk AS (SELECT source, h, row_number() OVER (
             |    PARTITION BY source ORDER BY h) AS r
             |  FROM hh),
             |sk AS (SELECT source, list(h ORDER BY h) AS sk
             |  FROM rk WHERE r <= 128 GROUP BY source),
             |pr AS (
             |  SELECT x.source AS src_a, y.source AS src_b,
             |    x.sk AS sa, y.sk AS sb,
             |    list_sort(list_distinct(list_concat(x.sk, y.sk)))[1:128]
             |      AS sku
             |  FROM sk x JOIN sk y ON x.source < y.source),
             |est AS (SELECT src_a, src_b,
             |    CASE WHEN len(sku) = 0 THEN 0.0
             |      ELSE CAST(len(list_intersect(sku,
             |          list_intersect(sa, sb))) AS DOUBLE) / len(sku)
             |      END AS jacc_raw,
             |    CASE WHEN len(sku) < 128 THEN CAST(len(sku) AS DOUBLE)
             |      ELSE 127.0 * 1152921504606846976.0
             |        / CAST(sku[128] AS DOUBLE) END AS u_raw
             |  FROM pr)
             |SELECT src_a, src_b, round(jacc_raw, 6) AS jacc_est,
             |  round(u_raw, 2) AS union_est,
             |  round(round(jacc_raw, 6) * round(u_raw, 2), 2) AS inter_est
             |FROM est ORDER BY src_a, src_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q140: content-defined chunk dedup (LBFS rule) — per-doc fraction of
    // characters living in chunks shared with ANOTHER document. Chunk
    // boundaries are content-local (md5 of an 8-char window), so shifted /
    // partially-edited duplicate passages still align — the dedup signal
    // fixed-grid chunking (and whole-doc hashing, q18) cannot see.
    // Chunking is one native per-row kernel (zero shuffle) run once: the
    // chunk instances collapse to one row per (doc, chunk) with its count,
    // a window over the chunk hash gives its document frequency, and one
    // doc-keyed aggregate folds the counts.
    QueryDef("q140_cdc_chunk_dedup",
      (s, dir) => {
        // chunking is row-local and hashes every 8-char window, the
        // query's CPU cost; spread the compact single-row-group local
        // scan across cores first (a lake-scale scan arrives already
        // split — this shuffle moves ~raw-text bytes so every core
        // chunks). Explicit numPartitions: AQE would coalesce a
        // small-byte shuffle back to one partition, re-serializing the
        // CPU-bound stage.
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        // one row per (doc, distinct chunk); `d` is hash-partitioned on
        // doc_id, so this aggregate adds no shuffle
        val inst = d.select(col("doc_id"),
            explode(Text.cdcChunks(col("text"), 8)).as("chunk"))
          .groupBy(col("doc_id"), md5(col("chunk")).as("h"),
            length(col("chunk")).as("clen"))
          .agg(count(lit(1)).as("n"))
        val shared = count(lit(1)).over(Window.partitionBy(col("h"))) >= 2
        val chars = col("n") * col("clen")
        inst.withColumn("shared", shared)
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_chunks"),
            sum(when(col("shared"), col("n")).otherwise(0L)).as("n_shared"),
            round(sum(when(col("shared"), chars).otherwise(0L))
              .cast("double") / sum(chars), 6)
              .as("shared_char_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id, text,
             |    CASE WHEN length(text) >= 8 THEN
             |      list_filter(range(8, length(text)::BIGINT + 1),
             |        e -> substr(md5(substr(text, (e - 7)::INT, 8)), 1, 1)
             |          = '0')
             |    ELSE [] END AS ends0 FROM documents),
             |e AS (SELECT doc_id, text,
             |    list_sort(list_distinct(list_append(ends0,
             |      length(text)::BIGINT))) AS ends FROM b),
             |ch AS (SELECT doc_id, unnest(list_filter(list_transform(
             |      range(1, len(ends)::BIGINT + 1),
             |      j -> substr(text,
             |        (CASE WHEN j = 1 THEN 0
             |          ELSE ends[j::INT - 1] END)::INT + 1,
             |        (ends[j::INT] - CASE WHEN j = 1 THEN 0
             |          ELSE ends[j::INT - 1] END)::INT)),
             |    c -> length(c) > 0)) AS chunk FROM e),
             |inst AS (SELECT doc_id, md5(chunk) AS h,
             |    length(chunk) AS clen FROM ch),
             |dfreq AS (SELECT h, count(DISTINCT doc_id) AS df
             |  FROM inst GROUP BY h)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_shared,
             |  round(sum(CASE WHEN df >= 2 THEN clen ELSE 0 END)::DOUBLE
             |    / sum(clen), 6) AS shared_char_frac
             |FROM inst JOIN dfreq USING (h)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q159: winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003,
    // MOSS) + shared-fingerprint near-dup pairs. Planted copies with a
    // shifted prefix (every 97th doc, re-id'd +1e6) exercise the
    // paper's guarantee: any shared substring >= w+k-1 = 8 chars
    // yields an identical selected fingerprint in both docs, so every
    // planted pair MUST surface despite the offset — the property
    // fixed-stride sampling lacks. Selection is ONE sliding-window
    // rightmost-argmin (min over struct(hash, -pos), w-row frame) —
    // no w-fold blowup; the pair join is df-capped (<= 64 docs per
    // fingerprint) so no hot gram goes quadratic. md5 gram hash for
    // engine parity (prod swaps xxhash64; logic is hash-agnostic).
    QueryDef("q159_winnow_pairs",
      (s, dir) => {
        val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = d0.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("COPIED WITH A SHIFTED PREFIX >> "), col("text"))
              .as("text"))
        val fps = graft.operators.Winnow.fingerprints(
          d0.unionByName(planted), "doc_id", "text", k = 5, w = 4)
        graft.operators.Winnow.sharedFingerprintPairs(
            fps, "doc_id", minShared = 8, dfCap = 64)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
             |    UNION ALL
             |    SELECT doc_id + 1000000,
             |      'COPIED WITH A SHIFTED PREFIX >> ' || text
             |    FROM documents WHERE doc_id % 97 = 0),
             |dd AS (SELECT doc_id, text AS tx FROM d
             |  WHERE length(text) >= 5),
             |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
             |    md5(substring(tx, CAST(p AS INTEGER), 5)) AS h
             |  FROM dd, unnest(range(1, length(tx) - 3)) AS u(p)),
             |r AS (SELECT doc_id, pos, h,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos)
             |      AS rn,
             |    min(struct_pack(h := h, np := -pos)) OVER
             |      (PARTITION BY doc_id ORDER BY pos
             |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
             |  FROM g),
             |fps AS (SELECT DISTINCT doc_id, sel.h AS fp_hash FROM r
             |  WHERE rn >= 4),
             |keep AS (SELECT fp_hash FROM fps GROUP BY 1
             |  HAVING count(*) <= 64),
             |fc AS (SELECT f.doc_id, f.fp_hash
             |  FROM fps f JOIN keep USING (fp_hash))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  count(*) AS n_shared
             |FROM fc a JOIN fc b
             |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 8
             |ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q160: template-collapse dedup — mask digit runs to '#', collapse
    // whitespace, hash the template. The planted slice (every 50th
    // doc re-id'd +2e6 as a synthetic receipt whose numbers derive
    // from its id) is EXACT-dedup-invisible — every raw text is
    // distinct — yet collapses to ONE template cluster here, the
    // machine-generated-filler signature that survives q18. Zero
    // joins: one row-local projection + one template-keyed aggregate.
    QueryDef("q160_template_collapse",
      (s, dir) => {
        val d0 = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val synth = d0.filter(col("doc_id") % 50 === 1)
          .select((col("doc_id") + 2000000).as("doc_id"),
            lit("gen").as("source"),
            concat(lit("Receipt #"), col("doc_id"), lit(" amount "),
              col("doc_id") % 997, lit(" cents on day "),
              col("doc_id") % 28).as("text"))
        graft.operators.Dedup.templateCollapse(
            d0.unionByName(synth), "doc_id", "text", "source",
            minDocs = 2)
          .orderBy(col("n_docs").desc, col("template_hash"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000, 'gen',
             |    'Receipt #' || doc_id || ' amount '
             |      || (doc_id % 997) || ' cents on day '
             |      || (doc_id % 28)
             |  FROM documents WHERE doc_id % 50 = 1),
             |m AS (SELECT doc_id, source,
             |    regexp_replace(regexp_replace(text, '[0-9]+', '#', 'g'),
             |      '\s+', ' ', 'g') AS tmpl
             |  FROM d),
             |c AS (SELECT md5(tmpl) AS template_hash,
             |    count(*) AS n_docs,
             |    count(DISTINCT source) AS n_sources,
             |    min(doc_id) AS exemplar_id,
             |    min(substring(tmpl, 1, 40)) AS template_head
             |  FROM m GROUP BY 1)
             |SELECT * FROM c WHERE n_docs >= 2
             |ORDER BY n_docs DESC, template_hash""".stripMargin)),


    // ---------------------------------------------------------------------
    // q164: reference-based overlap metrics — clipped-precision BLEU-2
    // (Papineni 2002) + ROUGE-1/2 recall (Lin 2004) per (candidate,
    // reference) pair. Candidates: exact copies every 10th doc (BLEU
    // must be exactly 1) and 2/3-token truncations elsewhere (p1 = 1,
    // recall ≈ 2/3, brevity penalty < 1 — the metric split that tells
    // truncation from paraphrase). len cut uses integer ceil
    // ((2n+2) div 3), never a float at an integer boundary.
    QueryDef("q164_text_overlap_eval",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("text"), Text.tokens(col("text")).as("tk"))
        val cut = greatest(
          expr("(2 * size(tk) + 2) div 3").cast("int"), lit(1))
        val cand = when(col("doc_id") % 10 === 0, col("text"))
          .otherwise(array_join(slice(col("tk"), lit(1), cut), " "))
        graft.operators.TextEval.bleuRouge(
            d.select(col("doc_id"), cand.as("cand"),
              col("text").as("ref")), "doc_id", "cand", "ref")
          .orderBy(col("id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)),
             |      '\s+'), x -> x <> '') AS rt
             |  FROM documents),
             |p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0 THEN rt
             |      ELSE rt[1:CAST(greatest((2 * len(rt) + 2) // 3, 1)
             |        AS BIGINT)] END AS ct,
             |    rt FROM d),
             |cg1 AS (SELECT doc_id, g, count(*) AS nc FROM
             |  (SELECT doc_id, unnest(ct) AS g FROM p) GROUP BY 1, 2),
             |rg1 AS (SELECT doc_id, g, count(*) AS nr FROM
             |  (SELECT doc_id, unnest(rt) AS g FROM p) GROUP BY 1, 2),
             |cl1 AS (SELECT doc_id, sum(least(nc, nr)) AS clip1
             |  FROM cg1 JOIN rg1 USING (doc_id, g) GROUP BY 1),
             |bg AS (SELECT doc_id,
             |    list_transform(range(1, len(ct)), i ->
             |      ct[CAST(i AS INT)] || ' ' || ct[CAST(i + 1 AS INT)])
             |      AS cg2,
             |    list_transform(range(1, len(rt)), i ->
             |      rt[CAST(i AS INT)] || ' ' || rt[CAST(i + 1 AS INT)])
             |      AS rg2
             |  FROM p),
             |cg2 AS (SELECT doc_id, g, count(*) AS nc FROM
             |  (SELECT doc_id, unnest(cg2) AS g FROM bg) GROUP BY 1, 2),
             |rg2 AS (SELECT doc_id, g, count(*) AS nr FROM
             |  (SELECT doc_id, unnest(rg2) AS g FROM bg) GROUP BY 1, 2),
             |cl2 AS (SELECT doc_id, sum(least(nc, nr)) AS clip2
             |  FROM cg2 JOIN rg2 USING (doc_id, g) GROUP BY 1),
             |fin AS (SELECT p.doc_id AS id,
             |    CAST(len(ct) AS BIGINT) AS len_c,
             |    CAST(len(rt) AS BIGINT) AS len_r,
             |    CASE WHEN len(ct) > 0 THEN
             |      CAST(coalesce(clip1, 0) AS DOUBLE) / len(ct)
             |      ELSE 0.0 END AS p1raw,
             |    CASE WHEN len(ct) > 1 THEN
             |      CAST(coalesce(clip2, 0) AS DOUBLE) / (len(ct) - 1)
             |      ELSE 0.0 END AS p2raw,
             |    CASE WHEN len(rt) > 0 THEN
             |      CAST(coalesce(clip1, 0) AS DOUBLE) / len(rt)
             |      ELSE 0.0 END AS r1raw,
             |    CASE WHEN len(rt) > 1 THEN
             |      CAST(coalesce(clip2, 0) AS DOUBLE) / (len(rt) - 1)
             |      ELSE 0.0 END AS r2raw,
             |    CASE WHEN len(ct) >= len(rt) OR len(ct) = 0 THEN 1.0
             |      ELSE exp(1.0 - CAST(len(rt) AS DOUBLE) / len(ct))
             |      END AS bpraw
             |  FROM p LEFT JOIN cl1 ON cl1.doc_id = p.doc_id
             |  LEFT JOIN cl2 ON cl2.doc_id = p.doc_id)
             |SELECT id, len_c, len_r,
             |  round(p1raw, 6) AS p1, round(p2raw, 6) AS p2,
             |  round(r1raw, 6) AS r1, round(r2raw, 6) AS r2,
             |  round(bpraw, 6) AS bp,
             |  round(CASE WHEN p1raw > 0 AND p2raw > 0
             |    THEN bpraw * exp((ln(p1raw) + ln(p2raw)) / 2)
             |    ELSE 0.0 END, 6) AS bleu2
             |FROM fin ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q186: cross-source exact-duplicate matrix — the dedup-PLANNING
    // statistic: for each source pair, how many distinct texts they
    // share and each side's share (a near-1.0 share = mirror; drop or
    // pair-dedup before any corpus-wide sweep). Planted: every 7th doc
    // copied into the next ring source, so (srcK, srcK+1) pairs carry
    // the plant while non-adjacent pairs show only organic repeats.
    // Digest-keyed self-join (md5 map-side, the q90/q140 stance);
    // per-digest fan-out ≤ |sources|².
    QueryDef("q186_cross_source_dups",
      (s, dir) => {
        val d0 = t(s, dir, "documents").select(col("doc_id"),
          col("source"), col("text"))
        val planted = d0.filter(col("doc_id") % 7 === 0)
          .withColumn("source", concat(lit("src"),
            ((col("doc_id") + 1) % 20).cast("string")))
        graft.operators.Dedup.crossSourceDupMatrix(
            d0.unionByName(planted), "source", "text")
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH d AS (SELECT source, text FROM documents
             |  UNION ALL
             |  SELECT 'src' || CAST((doc_id + 1) % 20 AS VARCHAR), text
             |  FROM documents WHERE doc_id % 7 = 0),
             |ds AS (SELECT DISTINCT md5(text) AS dg, source AS s
             |  FROM d),
             |ps AS (SELECT s, count(*) AS n FROM ds GROUP BY 1),
             |m AS (SELECT a.s AS source_a, b.s AS source_b,
             |    count(*) AS n_shared_texts
             |  FROM ds a JOIN ds b ON a.dg = b.dg AND a.s < b.s
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, n_shared_texts,
             |  pa.n AS n_a, pb.n AS n_b,
             |  round(CAST(n_shared_texts AS DOUBLE) / pa.n, 6)
             |    AS share_a,
             |  round(CAST(n_shared_texts AS DOUBLE) / pb.n, 6)
             |    AS share_b
             |FROM m JOIN ps pa ON pa.s = source_a
             |  JOIN ps pb ON pb.s = source_b
             |ORDER BY source_a, source_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q187: dedup threshold-sweep audit — price the near-dup threshold
    // BEFORE the corpus-wide run: per candidate Jaccard threshold, how
    // many docs carry at least one near-dup and the corpus fraction.
    // One q19-cost pair pass feeds every row (candidates are
    // threshold-independent); planted copies (j ≥ 0.8) make the 0.8/0.9
    // rows step while 0.5/0.6 pick up organic template overlap. Raw
    // IEEE doubles compare against the same literals in both engines
    // (the q19 boundary-parity stance).
    QueryDef("q187_dedup_threshold_sweep",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        graft.operators.Dedup.dedupThresholdSweep(all, "doc_id", "text",
            shingleSize = 3,
            thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
          .orderBy(col("threshold"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM all_docs),
             |sh AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM posts a JOIN posts b
             |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |jac AS (SELECT id_a, id_b,
             |    CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS j
             |  FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a
             |  JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
             |    >= 0.5),
             |pd AS (SELECT id, max(j) AS mj FROM (
             |    SELECT id_a AS id, j FROM jac
             |    UNION ALL SELECT id_b, j FROM jac) GROUP BY 1),
             |nt AS (SELECT count(*) AS n_docs FROM all_docs),
             |th AS (SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9]
             |    AS DOUBLE[])) AS threshold)
             |SELECT th.threshold,
             |  CAST(coalesce(sum(CASE WHEN pd.mj >= th.threshold
             |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged,
             |  max(nt.n_docs) AS n_docs,
             |  round(CAST(coalesce(sum(CASE WHEN pd.mj >= th.threshold
             |    THEN 1 ELSE 0 END), 0) AS DOUBLE) / max(nt.n_docs), 6)
             |    AS pct_flagged
             |FROM th CROSS JOIN nt LEFT JOIN pd ON true
             |GROUP BY th.threshold
             |ORDER BY th.threshold""".stripMargin)),


    // ---------------------------------------------------------------------
    // q188: skew-cap telemetry for the dedup path — the counters the
    // silent maxDocFreq / maxSourcesPerText caps must surface at 100 TB
    // (a boilerplate explosion shrinks recall with no signal otherwise).
    // A planted corpus-wide boilerplate (every %5 doc's text replaced by
    // one constant string) makes both caps fire deterministically: its
    // shingles' doc-freq (~n/5) blows shingle_cap=20, and the text lands
    // in every source, blowing text_cap=3. One tall (metric, value)
    // frame: the shingle lane's postings/doc-freq rollup plus the
    // cross-source lane's text/pair-suppression rollup.
    QueryDef("q188_dedup_drop_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = d.select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0,
            lit("subscribe to our newsletter for updates and exclusive "
              + "offers available today"))
            .otherwise(col("text")).as("text"))
        Dedup.shingleDropStats(planted, "doc_id", "text",
            shingleSize = 3, maxDocFreq = 20L)
          .unionByName(Dedup.crossSourceDropStats(planted, "source",
            "text", maxSourcesPerText = 3))
          .orderBy(col("metric"))
      },
      Some("""WITH pl AS (SELECT doc_id, source,
             |    CASE WHEN doc_id % 5 = 0 THEN
             |      'subscribe to our newsletter for updates and exclusive offers available today'
             |    ELSE text END AS text
             |  FROM documents),
             |tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM pl),
             |sh AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |fr AS (SELECT shingle, count(*) AS df FROM posts GROUP BY 1),
             |shs AS (SELECT
             |    count(*) AS shingles_total,
             |    CAST(sum(CASE WHEN df > 20 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS shingles_dropped,
             |    CAST(sum(df) AS BIGINT) AS postings_total,
             |    CAST(sum(CASE WHEN df > 20 THEN df ELSE 0 END) AS BIGINT)
             |      AS postings_dropped,
             |    max(df) AS doc_freq_max
             |  FROM fr),
             |nsrc AS (SELECT text, count(*) AS ns
             |  FROM (SELECT DISTINCT text, source FROM pl) GROUP BY 1),
             |css AS (SELECT
             |    count(*) AS texts_total,
             |    CAST(sum(CASE WHEN ns > 3 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS texts_dropped,
             |    CAST(sum(CASE WHEN ns > 3 THEN (ns * (ns - 1)) // 2
             |      ELSE 0 END) AS BIGINT) AS pairs_suppressed,
             |    max(ns) AS sources_per_text_max
             |  FROM nsrc)
             |SELECT metric, value FROM (
             |  SELECT 'shingle_cap' AS metric, CAST(20 AS BIGINT) AS value
             |  UNION ALL SELECT 'shingles_total', shingles_total FROM shs
             |  UNION ALL SELECT 'shingles_dropped', shingles_dropped FROM shs
             |  UNION ALL SELECT 'postings_total', postings_total FROM shs
             |  UNION ALL SELECT 'postings_dropped', postings_dropped FROM shs
             |  UNION ALL SELECT 'doc_freq_max', doc_freq_max FROM shs
             |  UNION ALL SELECT 'text_cap', CAST(3 AS BIGINT) FROM css
             |  UNION ALL SELECT 'texts_total', texts_total FROM css
             |  UNION ALL SELECT 'texts_dropped', texts_dropped FROM css
             |  UNION ALL SELECT 'pairs_suppressed', pairs_suppressed FROM css
             |  UNION ALL SELECT 'sources_per_text_max', sources_per_text_max
             |    FROM css)
             |ORDER BY metric""".stripMargin)),


    // ---------------------------------------------------------------------
    // q194: incremental LSH dedup against a PERSISTED index — the q100
    // ingest path with the corpus side actually written once
    // (Dedup.writeLshIndex: bands bucketed by (band,bucket), postings
    // bucketed by id) and probed through the catalog tables
    // (readLshIndex/probeLshIndex): the probe join's index side scans
    // pre-partitioned with NO exchange (LshIndexSpec pins the plan), only
    // the batch shuffles. Same exact-Jaccard oracle as q100 — identical
    // output through a different storage path is the equivalence evidence.
    QueryDef("q194_lsh_index",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        val path = scratchPath(dir, "graft_lsh_idx_")
        val name = "q194_idx_" + path.takeRight(12)
        Dedup.writeLshIndex(d, "doc_id", "text", path, name,
          shingleSize = 3, numHashes = 64, bands = 16)
        val idx = Dedup.readLshIndex(s, path, name)
        Dedup.probeLshIndex(idx, batch, "doc_id", "text", threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle.replace(
        "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7",
        "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7\n" +
          "  AND id_b >= 10000"))),


    // ---------------------------------------------------------------------
    // q196: SoftDeDup weighting (He et al. 2024) — keep every document,
    // down-weight duplicates: weight = 1/|near-dup cluster| over the q44
    // connected-component closure (singletons stay 1.0). The oracle extends
    // the shared recursive-CC chain with a cluster-size window.
    QueryDef("q196_soft_dedup",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text",
          shingleSize = 3, threshold = 0.7)
        Dedup.softDedupWeights(
            all.select(col("doc_id").as("id")), pairs)
          .orderBy(col("id"))
      },
      Some(ccReachCtes7 +
        """,
          |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
          |SELECT id, cluster,
          |  count(*) OVER (PARTITION BY cluster) AS cluster_size,
          |  round(CAST(1 AS DOUBLE)
          |    / count(*) OVER (PARTITION BY cluster), 6) AS weight
          |FROM cl ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q202: the STREAMING ingest loop end-to-end under the oracle gate —
    // DocStream.ingestDedupStream (probe -> absorb -> probe) over the
    // persisted q194 index family. Two real Structured Streaming drains
    // against the same checkpoint: batch1 (drop-first-word variants,
    // +10000) is probed against the indexed corpus then ABSORBED; batch2
    // (drop-LAST-word variants, +20000) streams through a RESTARTED query
    // and must pair against the corpus AND batch1's absorbed docs. The
    // combined pair-sink equals the exact-Jaccard closure over
    // corpus ∪ batch1 ∪ batch2 restricted to pairs whose later member is
    // streamed (id_b >= 10000) — a routing, absorb-replay, checkpoint, or
    // rescore defect each moves the set. Pair values are exact-rescored
    // Jaccards, same contract as q194/q100.
    QueryDef("q202_ingest_stream",
      (s, dir) => {
        import graft.streaming.DocStream
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val batch1 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        val batch2 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
        // deterministic re-runs: the stream's checkpoint, absorb markers,
        // pair sink and index all restart from scratch
        val base = freshScratchPath(s, dir, "graft_q202_")
        val (idxPath, docsDir, outDir, ckpt) = (s"$base/idx",
          s"$base/docs", s"$base/pairs", s"$base/ckpt")
        val name = "q202_idx_" + base.takeRight(12)
        Dedup.writeLshIndex(d, "doc_id", "text", idxPath, name,
          shingleSize = 3, numHashes = 64, bands = 16)
        val idx = Dedup.readLshIndex(s, idxPath, name)
        // drain 1: batch1 lands, is probed, then absorbed
        batch1.coalesce(1).write.mode("append").parquet(docsDir)
        DocStream.ingestDedupStream(s, docsDir, idx, outDir, ckpt,
          threshold = 0.7)
        // drain 2: a RESTART — the checkpoint resumes past batch1's files,
        // and batch2 probes corpus ∪ batch1 through the appended index
        batch2.coalesce(1).write.mode("append").parquet(docsDir)
        DocStream.ingestDedupStream(s, docsDir, idx, outDir, ckpt,
          threshold = 0.7)
        s.read.parquet(outDir)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle
        .replace(
          """|  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin,
          """|  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 20000, regexp_replace(text, '\s+\S+$', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin)
        .replace(
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7",
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7\n" +
            "  AND id_b >= 10000"))),


    // ---------------------------------------------------------------------
    // q204: distributed suffix array by prefix doubling (SuffixArray
    // scaladoc; Flick & Aluru SC'15 formulation). Every (doc, pos) suffix
    // gets its dense rank among all suffixes; log2(maxDocLen) sort-shuffle
    // rounds, each one equi-join + one range-partitioned dense-id pass —
    // round count scales with DOCUMENT length, not corpus size. The sampled
    // output still requires the full global ranking to be right. The twin
    // brute-forces the ranking by sorting materialized suffix strings
    // (space-joined token comparison == token-sequence comparison when no
    // token contains whitespace).
    QueryDef("q204_suffix_array",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        SuffixArray.suffixArray(docs, "doc_id", "text")
          .filter(pmod(col("doc_id") * 101 + col("pos"), lit(37)) === 0)
          .orderBy(col("doc_id"), col("pos"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |sfx AS (SELECT doc_id, i AS pos,
             |    array_to_string(toks[i + 1:], ' ') AS s, toks
             |  FROM tok, unnest(range(len(toks))) AS u(i)),
             |r AS (SELECT doc_id, pos, dense_rank() OVER (ORDER BY s) AS srank,
             |    array_to_string(toks[pos + 1:pos + 4], ' ') AS preview
             |  FROM sfx)
             |SELECT doc_id, pos, srank, preview FROM r
             |WHERE (doc_id * 101 + pos) % 37 = 0
             |ORDER BY doc_id, pos""".stripMargin)),


    // ---------------------------------------------------------------------
    // q205: longest repeated token span (the Lee et al. 2022 ExactSubstr
    // primitive) — binary search over the monotone "some L-window repeats"
    // predicate using exact-L keys from two overlapping rank levels; each
    // probe is one groupBy on derived keys. The twin finds max LCP over
    // adjacent sorted suffixes (the SA theorem) then regroups the
    // LRS-length windows.
    QueryDef("q205_longest_repeated_span",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        SuffixArray.longestRepeatedSpans(docs, "doc_id", "text")
          .orderBy(col("doc_id"), col("pos"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |sfx AS (SELECT doc_id, i AS pos, toks[i + 1:] AS stoks,
             |    array_to_string(toks[i + 1:], ' ') AS s, len(toks) - i AS rem
             |  FROM tok, unnest(range(len(toks))) AS u(i)),
             |srt AS (SELECT doc_id, pos, stoks, s,
             |    lead(stoks) OVER (ORDER BY s, doc_id, pos) AS ntoks
             |  FROM sfx),
             |lcp AS (SELECT CASE WHEN ntoks IS NULL THEN 0 ELSE
             |    coalesce(nullif(list_position(
             |        list_transform(range(least(len(stoks), len(ntoks))),
             |          x -> stoks[x + 1] = ntoks[x + 1]), false), 0) - 1,
             |      least(len(stoks), len(ntoks))) END AS l
             |  FROM srt),
             |m AS (SELECT max(l) AS lrs FROM lcp),
             |win AS (SELECT doc_id, pos,
             |    array_to_string(stoks[1:(SELECT lrs FROM m)], ' ') AS span
             |  FROM sfx WHERE rem >= (SELECT lrs FROM m)
             |    AND (SELECT lrs FROM m) > 0),
             |rep AS (SELECT span FROM win GROUP BY span HAVING count(*) >= 2)
             |SELECT w.doc_id, w.pos, w.span, (SELECT lrs FROM m) AS lrs
             |FROM win w JOIN rep USING (span)
             |ORDER BY w.doc_id, w.pos""".stripMargin)),


    // ---------------------------------------------------------------------
    // q206: EXACT all-pairs cosine similarity self-join with prefix
    // filtering (Bayardo et al. WWW'07) — the exact counterpart to the
    // MinHash/SimHash approximate family: candidate generation indexes only
    // each document's rarest-terms prefix (Cauchy–Schwarz tail bound), so
    // the common-term postings that square at corpus scale never enter the
    // join; integer-tf verification recovers the exact pair set. The twin
    // is the unpruned inverted-index brute force: Spark returning the same
    // set IS the no-false-negative claim of the pruning. Terms are word
    // 3-gram shingles (tf-weighted): this corpus' 31-word vocabulary makes
    // UNIGRAM vectors pairwise-dense (12.5M overlapping pairs at sf0.1 —
    // no index pruning can save an inherently quadratic candidate space),
    // while the shingle space is sparse, exactly the regime prefix
    // filtering is built for. Threshold 0.65 splits the corpus' bimodal
    // similarity (planted near-dups ≥ 0.8, everything else < 0.5).
    QueryDef("q206_allpairs_cosine",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        AllPairs.cosineJoin(docs, "doc_id", "text", threshold = 0.65,
            ngram = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
             |    THEN list_transform(range(len(toks) - 2),
             |           i -> array_to_string(toks[i + 1:i + 3], ' '))
             |    ELSE [array_to_string(toks, ' ')] END) AS tk
             |  FROM tok),
             |post AS (SELECT doc_id, tk, count(*) AS tf FROM sh GROUP BY 1, 2),
             |nrm AS (SELECT doc_id, sum(tf * tf) AS n2 FROM post GROUP BY 1),
             |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    sum(a.tf * b.tf) AS dot
             |  FROM post a JOIN post b ON a.tk = b.tk AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |cos AS (SELECT id_a, id_b,
             |    CAST(dot AS DOUBLE) /
             |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
             |  FROM dots
             |  JOIN nrm na ON na.doc_id = id_a
             |  JOIN nrm nb ON nb.doc_id = id_b)
             |SELECT id_a, id_b, round(c, 6) AS cosine FROM cos
             |WHERE c >= 0.65
             |ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q207: ExactSubstr dedup coverage (Lee et al. 2022) — per document,
    // the token mass inside some 16-token window occurring ≥ 2 times
    // corpus-wide. The engine side derives repeated windows from the
    // bounded-depth doubling ranks (log2 16 rounds, corpus-size-
    // independent) + one exact-L key groupBy; the twin brute-forces the
    // 16-gram window strings. Covered positions are the interval union of
    // repeated starts (explode ≤ 16 per start, distinct).
    QueryDef("q207_exact_substr",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        SuffixArray.exactSubstrCoverage(docs, "doc_id", "text", length = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |win AS (SELECT doc_id, i AS pos,
             |    array_to_string(toks[i + 1:i + 16], ' ') AS w
             |  FROM tok, unnest(range(len(toks) - 15)) AS u(i)
             |  WHERE len(toks) >= 16),
             |rep AS (SELECT w FROM win GROUP BY w HAVING count(*) >= 2),
             |starts AS (SELECT doc_id, pos FROM win JOIN rep USING (w)),
             |cov AS (SELECT DISTINCT doc_id, pos + j AS cp
             |  FROM starts, unnest(range(16)) AS v(j)),
             |cnt AS (SELECT doc_id, count(*) AS covered_tokens
             |  FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, len(t.toks) AS total_tokens,
             |  coalesce(c.covered_tokens, 0) AS covered_tokens,
             |  round(CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / len(t.toks), 6)
             |    AS covered_frac
             |FROM tok t LEFT JOIN cnt c USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q211: recall/precision eval of the APPROXIMATE near-dup path against
    // exact ground truth, both computed in-engine — the operating-point
    // curve an engineer reads before picking a SimHash radius. Candidates:
    // portable md5 SimHash-32 pairs at hamming ≤ 6 via the pigeonhole
    // bucket join (exhaustive within the radius — the oracle brute-forces
    // all pairs, so a candidate-generation miss FAILS the compare, not
    // just lowers a metric). Truth: exact 3-gram Jaccard ≥ 0.7 (the
    // q19/q44 planted corpus). Output: per radius 0..6, candidates, hits,
    // recall and precision. Cumulation runs on the ≤7-row hamming
    // histogram (crossJoin(broadcast) of bounded frames).
    QueryDef("q211_simhash_recall",
      (s, dir) => {
        val all = plantedNearDups(s, dir, 7)
        val approx = Dedup.simhashPairs(all, "doc_id", "text",
          maxHamming = 6, bits = 32, tokenHash = Text.md5Long)
        // pinned: the exact-truth pass feeds BOTH the candidate join and
        // the n_true total — unpinned, the whole inverted-index Jaccard
        // pipeline ran twice per eval (VERDICT r16 item 6: one truth job)
        val exact = graft.pipeline.Pins.pin(
          Dedup.ngramJaccardPairs(all, "doc_id", "text",
            shingleSize = 3, threshold = 0.7)
          .select(col("id_a"), col("id_b"), lit(1L).as("is_true")))
        val flagged = approx.join(exact, Seq("id_a", "id_b"), "left")
          .select(col("hamming"),
            coalesce(col("is_true"), lit(0L)).as("is_true"))
        // ≤ 7 rows by construction (hamming ∈ 0..6); the sentinel keeps
        // the cross join alive on a candidate-free corpus
        val byH = flagged.groupBy(col("hamming"))
          .agg(count(lit(1)).as("n_cand_h"), sum(col("is_true")).as("n_hit_h"))
          .unionByName(s.range(1).select(lit(-1).as("hamming"),
            lit(0L).as("n_cand_h"), lit(0L).as("n_hit_h")))
        val radii = s.range(7).select(col("id").as("radius"))
        val tot = exact.agg(count(lit(1)).as("n_true"))
        radii.crossJoin(broadcast(byH))
          .groupBy(col("radius"))
          .agg(
            sum(when(col("hamming") <= col("radius"), col("n_cand_h"))
              .otherwise(0L)).as("n_cand"),
            sum(when(col("hamming") <= col("radius"), col("n_hit_h"))
              .otherwise(0L)).as("n_hit"))
          .crossJoin(broadcast(tot))
          .select(col("radius"), col("n_cand"), col("n_hit"), col("n_true"),
            round(col("n_hit").cast("double") /
              col("n_true").cast("double"), 6).as("recall"),
            when(col("n_cand") === 0, lit(0.0))
              .otherwise(round(col("n_hit").cast("double") /
                col("n_cand").cast("double"), 6)).as("precision"))
          .orderBy(col("radius"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),
             |tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM all_docs),
             |h AS (SELECT doc_id,
             |    list_transform(toks,
             |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
             |  FROM tok),
             |sim AS (SELECT doc_id,
             |  CAST(CASE WHEN len(hs) = 0 THEN 0 ELSE
             |    list_sum(list_transform(range(32), b ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
             |  END AS BIGINT) AS s
             |  FROM h),
             |ap AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    bit_count(xor(a.s, b.s)) AS hamming
             |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.s, b.s)) <= 6),
             |sh AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |         THEN list_distinct(list_transform(range(len(toks) - 2),
             |                i -> array_to_string(toks[i + 1:i + 3], ' ')))
             |         ELSE [array_to_string(toks, ' ')] END AS shingles
             |  FROM tok),
             |posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             |sizes AS (SELECT doc_id, count(*) AS n FROM posts GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM posts a JOIN posts b
             |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |truth AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a
             |  JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7),
             |flagged AS (SELECT ap.hamming,
             |    CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
             |  FROM ap LEFT JOIN truth t USING (id_a, id_b)),
             |byh AS (SELECT hamming, count(*) AS n_cand,
             |    CAST(sum(is_true) AS BIGINT) AS n_hit
             |  FROM flagged GROUP BY hamming),
             |radii AS (SELECT unnest(range(7)) AS radius),
             |cum AS (SELECT r.radius,
             |    CAST(coalesce(sum(b.n_cand), 0) AS BIGINT) AS n_cand,
             |    CAST(coalesce(sum(b.n_hit), 0) AS BIGINT) AS n_hit
             |  FROM radii r LEFT JOIN byh b ON b.hamming <= r.radius
             |  GROUP BY r.radius),
             |tot AS (SELECT count(*) AS n_true FROM truth)
             |SELECT radius, n_cand, n_hit, n_true,
             |  round(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall,
             |  CASE WHEN n_cand = 0 THEN 0.0
             |       ELSE round(CAST(n_hit AS DOUBLE) / n_cand, 6)
             |       END AS precision
             |FROM cum CROSS JOIN tot
             |ORDER BY radius""".stripMargin)),


    // ---------------------------------------------------------------------
    // q212: ExactSubstr dedup OUTPUT (Lee et al. 2022) — q207 measures the
    // repeated-window mass; this EMITS the deduplicated corpus: every
    // 16-token window occurring ≥ 2 times keeps only its first occurrence
    // (min (doc, pos)), every other occurrence's interval is cut, cuts
    // merge per doc as a position union, and the surviving tokens are
    // re-joined in order. The twin restates the whole policy from
    // brute-forced window strings (keeper = row_number 1 over the window
    // partition), so a keeper-choice, interval-merge, or rebuild-order
    // divergence each moves the hash. Documents shorter than 16 tokens
    // pass through byte-identical; a fully-duplicated doc comes back cut.
    QueryDef("q212_exact_substr_cut",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        SuffixArray.exactSubstrCut(docs, "doc_id", "text", length = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS toks
             |  FROM documents),
             |win AS (SELECT doc_id, i AS pos,
             |    array_to_string(toks[i + 1:i + 16], ' ') AS w
             |  FROM tok, unnest(range(len(toks) - 15)) AS u(i)
             |  WHERE len(toks) >= 16),
             |ranked AS (SELECT doc_id, pos,
             |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos)
             |      AS rn,
             |    count(*) OVER (PARTITION BY w) AS n_occ
             |  FROM win),
             |cut AS (SELECT DISTINCT doc_id, pos + j AS cp
             |  FROM ranked, unnest(range(16)) AS v(j)
             |  WHERE n_occ >= 2 AND rn > 1),
             |tp AS (SELECT doc_id, i AS pos, toks[i + 1] AS tk
             |  FROM tok, unnest(range(len(toks))) AS u(i)),
             |kept AS (SELECT t.doc_id, t.pos, t.tk
             |  FROM tp t LEFT JOIN cut c
             |    ON c.doc_id = t.doc_id AND c.cp = t.pos
             |  WHERE c.doc_id IS NULL),
             |reb AS (SELECT doc_id,
             |    CAST(count(*) AS BIGINT) AS kept_tokens,
             |    string_agg(tk, ' ' ORDER BY pos) AS deduped_text
             |  FROM kept GROUP BY doc_id)
             |SELECT k.doc_id,
             |  CAST(len(k.toks) AS BIGINT) AS total_tokens,
             |  coalesce(r.kept_tokens, 0) AS kept_tokens,
             |  coalesce(r.deduped_text, '') AS deduped_text
             |FROM tok k LEFT JOIN reb r USING (doc_id)
             |ORDER BY k.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q218: ExactSubstr cut on a DUPLICATE-DOCUMENT corpus — the r15
    // stationary-ladder fix graded under the driver's oracle, not just
    // specs. The corpus is deterministic from doc_id arithmetic so the
    // twin regenerates it exactly: doc i holds 12 + (i % 37) % 13 tokens,
    // token j = md5('<i % 37>_<j>') — every doc in a `% 37` group is
    // IDENTICAL and token vocabularies are disjoint across groups, so the
    // width-1 rank partition already equals the full-suffix partition and
    // the doubling ladder stops STATIONARY at width 4, far below L/2 = 8.
    // Pre-fix, that shallow stop was read as "nothing can repeat" and the
    // cut came back empty on exactly the duplicated documents an
    // ExactSubstr pass targets; the graded contract is the full policy:
    // groups with length >= 16 keep only their smallest doc_id whole
    // (min-(doc,pos) keeper) with every other member fully cut, and the
    // short groups (length 12-15: no 16-window) pass through
    // byte-identical. The twin is q212's brute-force window chain over
    // the regenerated corpus.
    QueryDef("q218_exact_substr_dup_docs",
      (s, dir) => {
        val g = col("doc_id") % 37
        val len = (lit(12) + pmod(g, lit(13))).cast("int")
        val toks = transform(sequence(lit(0), len - 1), j =>
          md5(concat(g.cast("string"), lit("_"), j.cast("string"))
            .cast("binary")))
        val corpus = t(s, dir, "documents")
          .select(col("doc_id"), array_join(toks, " ").as("text"))
        SuffixArray.exactSubstrCut(corpus, "doc_id", "text", length = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_transform(range(12 + (doc_id % 37) % 13),
             |      j -> md5(CAST(doc_id % 37 AS VARCHAR) || '_'
             |        || CAST(j AS VARCHAR))) AS toks
             |  FROM documents),
             |win AS (SELECT doc_id, i AS pos,
             |    array_to_string(toks[i + 1:i + 16], ' ') AS w
             |  FROM tok, unnest(range(len(toks) - 15)) AS u(i)
             |  WHERE len(toks) >= 16),
             |ranked AS (SELECT doc_id, pos,
             |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos)
             |      AS rn,
             |    count(*) OVER (PARTITION BY w) AS n_occ
             |  FROM win),
             |cut AS (SELECT DISTINCT doc_id, pos + j AS cp
             |  FROM ranked, unnest(range(16)) AS v(j)
             |  WHERE n_occ >= 2 AND rn > 1),
             |tp AS (SELECT doc_id, i AS pos, toks[i + 1] AS tk
             |  FROM tok, unnest(range(len(toks))) AS u(i)),
             |kept AS (SELECT t.doc_id, t.pos, t.tk
             |  FROM tp t LEFT JOIN cut c
             |    ON c.doc_id = t.doc_id AND c.cp = t.pos
             |  WHERE c.doc_id IS NULL),
             |reb AS (SELECT doc_id,
             |    CAST(count(*) AS BIGINT) AS kept_tokens,
             |    string_agg(tk, ' ' ORDER BY pos) AS deduped_text
             |  FROM kept GROUP BY doc_id)
             |SELECT k.doc_id,
             |  CAST(len(k.toks) AS BIGINT) AS total_tokens,
             |  coalesce(r.kept_tokens, 0) AS kept_tokens,
             |  coalesce(r.deduped_text, '') AS deduped_text
             |FROM tok k LEFT JOIN reb r USING (doc_id)
             |ORDER BY k.doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q215: TORN-APPEND repair under the oracle gate — the r14 manifest
    // protocol graded end-to-end the way q202 grades the absorb markers.
    // A COMPLETED batch append (batch1's bands and postings fully
    // written) is turned into a simulated crash-before-commit by
    // restoring both pre-append manifests; the next readLshIndex must
    // repair the leftovers, so batch2's probe answers against the
    // ORIGINAL corpus only. The twin restates the exact-Jaccard closure
    // over corpus ∪ batch2 — any surviving batch1 band/posting row
    // would surface extra pairs or corrupted rescore counts and move
    // the hash.
    QueryDef("q215_torn_append_repair",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val batch1 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        val batch2 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
        val base = freshScratchPath(s, dir, "graft_q215_")
        val idxPath = s"$base/idx"
        val name = "q215_idx_" + base.takeRight(12)
        Dedup.writeLshIndex(d, "doc_id", "text", idxPath, name,
          shingleSize = 3, numHashes = 64, bands = 16)
        val idx = Dedup.readLshIndex(s, idxPath, name)
        val mBands = graft.operators.IndexGen.manifestSnapshot(s,
          idx.bandsDir)
        val mPosts = graft.operators.IndexGen.manifestSnapshot(s,
          idx.postsDir)
        // a COMPLETED append, then the crash-before-commit simulation
        Dedup.appendToLshIndex(idx, batch1, "doc_id", "text")
        graft.operators.IndexGen.restoreManifest(s, idx.bandsDir, mBands)
        graft.operators.IndexGen.restoreManifest(s, idx.postsDir, mPosts)
        // open-time repair: batch2 must pair against the corpus ONLY
        val repaired = Dedup.readLshIndex(s, idxPath, name)
        Dedup.probeLshIndex(repaired, batch2, "doc_id", "text",
            threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle
        .replace(
          """|  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin,
          """|  SELECT doc_id + 20000, regexp_replace(text, '\s+\S+$', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin)
        .replace(
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7",
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7\n" +
            "  AND id_b >= 20000"))),


    // ---------------------------------------------------------------------
    // q219: REPLAYED-ABSORB exactly-once under the oracle gate — the r16
    // batch-tag protocol graded end-to-end the way q215 grades torn-append
    // repair. The streaming absorb writes its `_absorbed_<id>` marker
    // AFTER the append, so a crash in between replays a batch whose
    // manifests already COMMITTED; without the tag the replay lands the
    // whole batch a second time, and duplicated postings double one side
    // of every jaccard rescore count — wrong pair scores, not just index
    // bloat. Here batch1 is absorbed with its tag, the marker is never
    // written (the simulated crash), and the replay re-enters absorbOnce:
    // it must recognize the committed tag and append nothing, so batch2's
    // probe sees batch1 EXACTLY once. The twin restates the exact-Jaccard
    // closure over corpus ∪ batch1 ∪ batch2 (pairs with a batch2 member):
    // any double-landed batch1 row moves jaccard denominators and the
    // hash.
    QueryDef("q219_replayed_absorb",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val batch1 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        val batch2 = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
        val base = freshScratchPath(s, dir, "graft_q219_")
        val idxPath = s"$base/idx"
        val name = "q219_idx_" + base.takeRight(12)
        Dedup.writeLshIndex(d, "doc_id", "text", idxPath, name,
          shingleSize = 3, numHashes = 64, bands = 16)
        val idx = Dedup.readLshIndex(s, idxPath, name)
        // a COMMITTED tagged absorb whose marker never landed (the crash)…
        Dedup.appendToLshIndex(idx, batch1, "doc_id", "text",
          batchTag = Some("absorb_0"))
        // …then the streaming replay re-absorbs the same micro-batch
        val reopened = Dedup.readLshIndex(s, idxPath, name)
        graft.streaming.DocStream.absorbOnce(reopened, batch1, 0L)
        Dedup.probeLshIndex(reopened, batch2, "doc_id", "text",
            threshold = 0.7)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle
        .replace(
          """|  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin,
          """|  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 20000, regexp_replace(text, '\s+\S+$', '')
             |  FROM documents WHERE doc_id % 7 = 0),""".stripMargin)
        .replace(
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7",
          "WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7\n" +
            "  AND id_b >= 20000")))
  )
}
