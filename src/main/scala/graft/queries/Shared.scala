package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef

/** Helpers and oracle CTE chains shared by the [[Queries.all]] registry
  * shards (QueriesRelational/Contacts/Dedup/Ann/Text/Stream/Multimodal):
  * planted-corpus builders, recall graders, and the reusable DuckDB SQL
  * fragments. Split out of Queries.scala in round 16. */
private[queries] object Shared {

  private[queries] def t(s: SparkSession, dir: String,
      name: String): DataFrame =
    Tables(s, dir, name)

  /** The persisted-index queries' scratch path for data dir `dir`:
    * `java.io.tmpdir` + `prefix` + the first 12 hex chars of md5(`dir`), so
    * every data dir gets its own index and re-runs find the same path. */
  private[queries] def scratchPath(dir: String, prefix: String): String =
    s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      java.security.MessageDigest.getInstance("MD5").digest(
        dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** [[scratchPath]] with whatever an earlier run left there deleted, for
    * the queries whose stream checkpoints and markers must restart. */
  private[queries] def freshScratchPath(s: SparkSession, dir: String,
      prefix: String): String = {
    val path = scratchPath(dir, prefix)
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    path
  }

  /** Oracle CTE chain shared by q44/q196 — the planted-near-dup (modulo 7)
    * corpus, its 3-gram-Jaccard >= 0.7 pair set, and the recursive
    * connected-component closure, ending at reach(id, r). */
  private[queries] lazy val ccReachCtes7: String =
    """WITH RECURSIVE
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
      |  JOIN edges ON edges.src = reach.r)""".stripMargin

  /** Oracle CTE chain shared by q101/q130 - the 3-round BPE merge
    * learning unrolled in SQL, ending at wmap(word, n_sym) and
    * tok(id, word). */
  private[queries] lazy val bpeWmapCtes: String =
    """WITH w AS (
             |  SELECT word, count(*) AS cnt FROM (
             |    SELECT unnest(list_filter(
             |      string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS word
             |    FROM documents)
             |  GROUP BY word),
             |s0 AS (
             |  SELECT word, regexp_replace(word, '(.)', ' \1 ', 'g') AS s,
             |    cnt
             |  FROM w),
             |p1 AS (
             |  SELECT u, v, sum(cnt) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s0)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m1 AS (SELECT u, v FROM p1 ORDER BY wt DESC, u, v LIMIT 1),
             |s1 AS (
             |  SELECT word, replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s0 CROSS JOIN m1),
             |p2 AS (
             |  SELECT u, v, sum(cnt) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s1)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m2 AS (SELECT u, v FROM p2 ORDER BY wt DESC, u, v LIMIT 1),
             |s2 AS (
             |  SELECT word, replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s1 CROSS JOIN m2),
             |p3 AS (
             |  SELECT u, v, sum(cnt) AS wt FROM (
             |    SELECT unnest(toks[1:len(toks)-1]) AS u,
             |           unnest(toks[2:len(toks)]) AS v, cnt
             |    FROM (SELECT string_split(trim(s), '  ') AS toks, cnt
             |          FROM s2)
             |    WHERE len(toks) >= 2)
             |  GROUP BY u, v),
             |m3 AS (SELECT u, v FROM p3 ORDER BY wt DESC, u, v LIMIT 1),
             |s3 AS (
             |  SELECT word, replace(s, ' ' || u || '  ' || v || ' ',
             |    ' ' || u || v || ' ') AS s, cnt
             |  FROM s2 CROSS JOIN m3),
             |wmap AS (
             |  SELECT word, len(string_split(trim(s), '  ')) AS n_sym
             |  FROM s3),
             |tok AS (
             |  SELECT doc_id AS id, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS word
             |  FROM documents)""".stripMargin

  /** SQL restatement of [[graft.operators.ZOrder.interleave2]]: the
    * 2*bits-term Morton shift sum (q129's twin). */
  private[queries] def mortonSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString("\n             |    + ")

  /** Shared NB plant + scoring of q112/q123 (the Spark half of
    * [[nbScoreCtes]]): train = non-held-out docs labeled good + md5 token
    * soup labeled junk + a stray 'dubious' slice that the label guard
    * must drop; score = the held-out quarter in both classes (soup ids
    * offset +10000 — which doubles as the calibration truth). */
  private[queries] def nbPlantScored(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def soup(ids: DataFrame): DataFrame = ids.select(
      (col("doc_id") + 10000).as("id"),
      concat_ws(" ", (0 until 8).map(i =>
        md5((col("doc_id") + lit(i)).cast("string").cast("binary")))
        : _*).as("text"))
    val train = d.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id").as("id"), col("text"), lit("good").as("label"))
      .unionByName(soup(d.filter(col("doc_id") % 4 =!= 0))
        .withColumn("label", lit("junk")))
      .unionByName(d.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 20000).as("id"), col("text"),
          lit("dubious").as("label")))
    val score = d.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(soup(d.filter(col("doc_id") % 4 === 0)))
    Classify.nbTrainScore(train, score, "id", "text", "label",
      "good", "junk", alpha = 1.0)
  }

  /** Oracle CTE chain shared by q112/q123 — the NB plant, training, and
    * scoring restated in SQL, ending at `sc(id, n_tokens, log_odds)`. */
  private[queries] lazy val nbScoreCtes: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |soup AS (
      |  SELECT doc_id, concat_ws(' ',
      |    md5(CAST(doc_id + 0 AS VARCHAR)),
      |    md5(CAST(doc_id + 1 AS VARCHAR)),
      |    md5(CAST(doc_id + 2 AS VARCHAR)),
      |    md5(CAST(doc_id + 3 AS VARCHAR)),
      |    md5(CAST(doc_id + 4 AS VARCHAR)),
      |    md5(CAST(doc_id + 5 AS VARCHAR)),
      |    md5(CAST(doc_id + 6 AS VARCHAR)),
      |    md5(CAST(doc_id + 7 AS VARCHAR))) AS text
      |  FROM base),
      |train AS (
      |  SELECT text, TRUE AS is_pos FROM base WHERE doc_id % 4 <> 0
      |  UNION ALL
      |  SELECT text, FALSE FROM soup WHERE doc_id % 4 <> 0),
      |score AS (
      |  SELECT doc_id AS id, text FROM base WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM soup WHERE doc_id % 4 = 0),
      |ttok AS (
      |  SELECT is_pos, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    t -> t <> '')) AS tok
      |  FROM train),
      |tt AS (SELECT tok,
      |    sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS c_pos,
      |    sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS c_neg
      |  FROM ttok GROUP BY tok),
      |tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
      |    count(*) AS vsz FROM tt),
      |pri AS (SELECT
      |    sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS d_pos,
      |    sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS d_neg
      |  FROM train),
      |stok AS (
      |  SELECT id, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    t -> t <> '')) AS tok
      |  FROM score),
      |lp AS (SELECT id,
      |    ln((coalesce(c_pos, 0) + 1.0)
      |      / (t_pos + 1.0 * vsz)) AS lp_pos,
      |    ln((coalesce(c_neg, 0) + 1.0)
      |      / (t_neg + 1.0 * vsz)) AS lp_neg
      |  FROM stok LEFT JOIN tt USING (tok) CROSS JOIN tot),
      |pd AS (SELECT id, count(*) AS n_tokens,
      |    sum(lp_pos) AS s_pos, sum(lp_neg) AS s_neg
      |  FROM lp GROUP BY id),
      |sc AS (SELECT s.id,
      |    CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
      |    round(ln(CAST(d_pos AS DOUBLE) / d_neg)
      |      + coalesce(s_pos - s_neg, 0.0), 4) AS log_odds
      |  FROM score s LEFT JOIN pd ON s.id = pd.id CROSS JOIN pri)""".stripMargin

  /** The fixed keyword-query set shared by q88 (BM25) and q91 (RRF
    * fusion) — one definition so the two rankings grade the same
    * retrieval input. All terms exist in the synthetic vocabulary at
    * every shipped SF. */
  private[queries] def retrievalQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "vector"), (1L, "join"),
      (2L, "customer"), (2L, "batch"), (2L, "window"),
      (3L, "slow"), (3L, "scan")).toDF("query_id", "term")
  }

  /** Documents with planted near-duplicates: every `modulo`-th doc is
    * re-added (id + 10000) with its first token dropped — deterministic,
    * engine-portable (the synthetic corpus itself has no near-dups). */
  private[queries] def plantedNearDups(s: SparkSession, dir: String, modulo: Int): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pert = d.filter(col("doc_id") % modulo === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    d.unionByName(pert)
  }

  /** Embeddings (as doubles) with planted near-duplicates: every 5th vector
    * re-added (id + 100000) shifted by +0.02 per component — cosine vs the
    * original ≈ 0.999, far above any unrelated pair (max 0.52). */
  private[queries] def plantedVecs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
    val pert = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("vec"), x => x + lit(0.02)).as("vec"))
    e.unionByName(pert)
  }

  /** Shared grading tail of q34/q35 (the Spark half of [[annPlantedOracle]]):
    * per planted query, the exact twin cosine plus the folded flag saying
    * the ANN index surfaced the twin in its top-k. Factored out so the
    * planted offset (+100000) and grading columns cannot drift between the
    * two queries. */
  private[queries] def gradePlantedTwins(ann: DataFrame, q: DataFrame,
      e: DataFrame): DataFrame = {
    val hits = ann
      .filter(col("neighbor_id") === col("query_id") + 100000)
      .select(col("query_id"), lit(true).as("hit"))
    val twins = q
      .join(e.filter(col("vec_id") >= 100000)
        .select((col("vec_id") - 100000).as("qid"), col("vec").as("tvec")),
        "qid")
      .select(col("qid").as("query_id"),
        (col("qid") + 100000).as("twin_id"),
        round(Vec.cosine(col("qvec"), col("tvec")), 6).as("twin_cosine"))
    twins.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("twin_id"), col("twin_cosine"),
        coalesce(col("hit"), lit(false)).as("twin_in_top10"))
      .orderBy(col("query_id"))
  }

  /** Oracle twin of q34 AND q35 — exact brute-force top-1 per planted query
    * over the planted corpus: the winner must be the +100000 twin at the
    * exact pair cosine (graded values), and TRUE asserts the ANN index found
    * it in its top-10 (the tolerance flag — FALSE on the Spark side fails
    * the hash). */
  private[queries] lazy val annPlantedOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |allv AS (
      |  SELECT * FROM e
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
      |  FROM e WHERE vec_id % 5 = 0),
      |q AS (
      |  SELECT vec_id AS query_id, v AS qv FROM allv
      |  WHERE vec_id % 5 = 0 AND vec_id < 100000),
      |scored AS (
      |  SELECT query_id, p.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(qv, p.v), 6) AS cosine
      |  FROM q, allv p WHERE p.vec_id <> query_id),
      |top1 AS (
      |  SELECT query_id, neighbor_id, cosine, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      |  FROM scored)
      |SELECT query_id, neighbor_id AS twin_id, cosine AS twin_cosine,
      |  TRUE AS twin_in_top10
      |FROM top1 WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** Oracle twin of q28 AND q29 — exact cosine near-dup closure over the
    * planted corpus (q29's LSH+rescoring equals it at 100% recall). */
  private[queries] lazy val embedNearDupOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |allv AS (
      |  SELECT * FROM e
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
      |  FROM e WHERE vec_id % 5 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.98
      |ORDER BY id_a, id_b""".stripMargin

  /** Oracle twin of q19 — word-3-gram Jaccard restated over DuckDB list
    * functions + an inverted-index join. */
  /** Shared oracle of q200 (inline IVF-PQ at the production operating
    * point) and q203 (the same pipeline through the persisted AnnIndex):
    * the full residual IVF-PQ at nlist = 64 / nprobe = 4 restated from
    * scratch — coarse assignment, residual encode, 4-list probe, ADC
    * top-10 — plus the exact round-6 brute-force truth, emitting
    * per-query recall@10 over the fixed 20-query set. */
  private[queries] lazy val ivfpqRecallOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |cc AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
      |    v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 64)),
      |asg AS (
      |  SELECT vec_id, v, cidx, cv FROM (
      |    SELECT e.vec_id, e.v, cc.cidx, cc.cv, row_number() OVER (
      |      PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, cc.cv) DESC, cc.cidx)
      |      AS rn
      |    FROM e CROSS JOIN cc) WHERE rn = 1),
      |res AS (
      |  SELECT vec_id, cidx, cv,
      |    list_transform(range(64), i -> v[i+1] - cv[i+1]) AS r
      |  FROM asg),
      |cbsrc AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r
      |  FROM (SELECT vec_id, r FROM res
      |        ORDER BY vec_id LIMIT 16 OFFSET 64)),
      |cb AS (
      |  SELECT ms.m, code, r[ms.m*8+1 : ms.m*8+8] AS cbv
      |  FROM cbsrc CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
      |keys AS (
      |  SELECT d.vec_id, cb.m, cb.code, cb.cbv,
      |    round(list_inner_product(cb.cbv, cb.cbv)
      |      - 2 * list_inner_product(d.r[cb.m*8+1 : cb.m*8+8], cb.cbv),
      |      6) AS key
      |  FROM res d CROSS JOIN cb),
      |pick AS (
      |  SELECT vec_id, m, code, cbv FROM (
      |    SELECT vec_id, m, code, cbv, row_number() OVER (
      |      PARTITION BY vec_id, m ORDER BY key, code) AS rn
      |    FROM keys)
      |  WHERE rn = 1),
      |recon AS (
      |  SELECT p.vec_id, r.cidx,
      |    list_transform(range(64), i -> r.cv[i+1] + p.rh[i+1])
      |      AS xhat
      |  FROM (SELECT vec_id, flatten(list(cbv ORDER BY m)) AS rh
      |        FROM pick GROUP BY vec_id) p
      |  JOIN res r USING (vec_id)),
      |qs AS (SELECT vec_id AS query_id, v AS qv FROM e
      |       WHERE vec_id % 25 = 0 AND vec_id < 500),
      |probes AS (
      |  SELECT query_id, cidx FROM (
      |    SELECT q.query_id, cc.cidx, row_number() OVER (
      |      PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(q.qv, cc.cv) DESC, cc.cidx)
      |      AS rn
      |    FROM qs q CROSS JOIN cc) WHERE rn <= 4),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY pq_cosine DESC, neighbor_id) AS rank
      |    FROM (
      |      SELECT p.query_id, rc.vec_id AS neighbor_id,
      |        round(list_cosine_similarity(q.qv, rc.xhat), 6)
      |          AS pq_cosine
      |      FROM probes p JOIN qs q USING (query_id)
      |      JOIN recon rc
      |        ON rc.cidx = p.cidx AND rc.vec_id <> p.query_id))
      |  WHERE rank <= 10),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM (
      |      SELECT q.query_id, e2.vec_id AS neighbor_id,
      |        round(list_cosine_similarity(q.qv, e2.v), 6) AS cosine
      |      FROM qs q JOIN e e2 ON e2.vec_id <> q.query_id))
      |  WHERE rank <= 10),
      |hits AS (
      |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS hits
      |  FROM exact x JOIN approx a
      |    ON a.query_id = x.query_id
      |    AND a.neighbor_id = x.neighbor_id
      |  GROUP BY a.query_id)
      |SELECT q.query_id, coalesce(h.hits, 0) AS hits,
      |  round(coalesce(h.hits, 0) / 10.0, 4) AS recall
      |FROM qs q LEFT JOIN hits h USING (query_id)
      |ORDER BY q.query_id""".stripMargin

  private[queries] lazy val jaccardOracle: String =
    """WITH all_docs AS (
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
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** q15's oracle without its final ORDER BY, for embedding as a subquery
    * (q46). */
  private[queries] lazy val docStatsNoOrder: String =
    docStatsOracle.stripSuffix(" ORDER BY doc_id")

  /** Oracle twin of q15 — the language-ID / quality formulas restated over
    * DuckDB list functions, parameterized by the source relation. Token
    * model: lower(trim(text)) split on \s+. */
  private[queries] lazy val docStatsOracle: String = docStatsSql("documents")

  private[queries] def docStatsSql(src: String): String = {
    def hits(words: Seq[String]): String =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val en = hits(Text.LangMarkers.find(_._1 == "en").get._2)
    val de = hits(Text.LangMarkers.find(_._1 == "de").get._2)
    val fr = hits(Text.LangMarkers.find(_._1 == "fr").get._2)
    val es = hits(Text.LangMarkers.find(_._1 == "es").get._2)
    val zh = hits(Text.LangMarkers.find(_._1 == "zh").get._2)
    val stop = Text.StopwordsEn.map(w => s"'$w'").mkString(",")
    s"""WITH tok AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      t -> t <> '') AS toks
       |  FROM $src),
       |scored AS (
       |  SELECT doc_id, text, toks, len(toks) AS n_tokens,
       |    $en AS h_en, $de AS h_de, $fr AS h_fr, $es AS h_es, $zh AS h_zh,
       |    len(list_filter(toks, t -> t IN ($stop))) AS n_stop,
       |    list_sum(list_transform(toks, t -> length(t))) AS tok_chars
       |  FROM tok)
       |SELECT doc_id, n_tokens,
       |  CASE
       |    WHEN greatest(h_en, h_de, h_fr, h_es, h_zh) = 0 THEN 'und'
       |    WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en >= h_zh THEN 'en'
       |    WHEN h_de >= h_fr AND h_de >= h_es AND h_de >= h_zh THEN 'de'
       |    WHEN h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
       |    WHEN h_es >= h_zh THEN 'es'
       |    ELSE 'zh' END AS lang_pred,
       |  round(CASE WHEN n_tokens > 0
       |    THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
       |  round(CASE WHEN n_tokens > 0
       |    THEN CAST(tok_chars AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS mean_word_len,
       |  round((
       |    least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |    + CASE WHEN n_tokens > 0
       |        AND CAST(tok_chars AS DOUBLE) / n_tokens >= 3.0
       |        AND CAST(tok_chars AS DOUBLE) / n_tokens <= 10.0
       |        THEN 1.0 ELSE 0.5 END
       |    + CASE WHEN n_tokens > 0
       |        AND CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.5 END
       |    + CASE WHEN (CASE WHEN length(text) > 0
       |        THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
       |        ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END
       |  ) / 4.0, 4) AS quality
       |FROM scored ORDER BY doc_id""".stripMargin
  }
}
