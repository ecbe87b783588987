package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef
import graft.queries.Shared._

/** Vector similarity: brute/quantized/IVF/PQ ANN, persisted ANN index lifecycle, clustering, coresets, embedding diagnostics.
  *
  * One registry shard of [[Queries.all]] — same QueryDef/oracle
  * conventions (see [[Queries]]'s scaladoc); split from the single
  * 11.6k-line Queries.scala in round 16 for maintainability. */
private[queries] object QueriesAnn {

  def defs: Seq[QueryDef] = Seq(


    // ---------------------------------------------------------------------
    // q21: exact top-10 cosine ANN, query side broadcast against one corpus
    // scan (zero corpus shuffle). Ranking on round(cosine, 6) with id
    // tiebreak so the order is identical in both engines.
    QueryDef("q21_ann_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
          .withColumn("nrm", Vec.norm(col("vec"))) // norms once per row, not per pair
        val q = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
            col("nrm").as("qnrm"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("vec")),
              col("qnrm"), col("nrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
             |scored AS (
             |  SELECT query_id, e.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(qv, e.v), 6) AS cosine
             |  FROM e, q WHERE e.vec_id <> query_id),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, neighbor_id, cosine, rank FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q34: LSH-bucketed ANN top-k, tolerance-oracled (q48/q55 pattern). The
    // raw synthetic embeddings are near-uniform noise — a random vector's
    // "top-10 neighbors" sit at cosine ~0.5 with nothing to separate them,
    // and measured LSH recall against that noise floor is ~0.1 at every SF,
    // so grading it would grade the corpus, not the operator. Instead the
    // query set is the planted-near-duplicate corpus (q28/q29's): each query
    // has a KNOWN true nearest neighbor (its +0.02-shifted twin, cosine
    // ~0.999 vs <=0.52 for any unrelated pair). The DuckDB twin brute-forces
    // the exact top-1 over the same planted corpus — so the hash grades (a)
    // that the planted twin really is the global exact top-1 with the exact
    // pair cosine, and (b) via the folded flag, that the LSH index finds it
    // in its top-10 (the ANN contract: recall of true near-neighbors, not of
    // noise). Hyperplane collision for the twin pair is (1 - θ/π)^planes ≈
    // 0.89 per table, miss ≈ 1.8e-8 across 8 tables — deterministic under
    // the fixed plane seed, re-verify if a new SF joins the gate
    // (RegistrySpec recall-vs-SF note).
    QueryDef("q34_ann_lsh",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val q = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val ann = Similarity.lshTopK(e, "vec_id", "vec", q, "qid", "qvec",
          k = 10, planes = 8, tables = 8)
        gradePlantedTwins(ann, q, e)
      },
      Some(annPlantedOracle)),


    // ---------------------------------------------------------------------
    // q35: IVF-style ANN top-k (coarse centroid lists, nprobe probing — the
    // FAISS IVF-Flat layout as a relational plan), tolerance-oracled the
    // same way as q34: the DuckDB twin brute-forces the exact top-1 over the
    // planted corpus; the folded flag asserts the IVF probe finds the
    // planted twin (query and twin quantize to the same coarse list, and the
    // query probes its nprobe nearest lists).
    QueryDef("q35_ann_ivf",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val q = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        // trainIters=2: the graded query exercises the k-means-trained
        // quantizer (the production IVF path) at the same depth q77 grades,
        // not the seed sample
        val ann = Similarity.ivfTopK(e, "vec_id", "vec", q, "qid", "qvec",
          k = 10, nlist = 16, nprobe = 4, trainIters = 2)
        gradePlantedTwins(ann, q, e)
      },
      Some(annPlantedOracle)),


    // ---------------------------------------------------------------------
    // q73: int8 embedding quantization fidelity — the memory/shuffle scale
    // path for ANN (4x smaller vectors). Per-vector max-abs scale, floor(x/
    // scale + 0.5) quantization (floor is bit-identical across engines;
    // round() half-rule is not), dequantize, cosine against the original.
    // min() is order-independent (round 6); avg is rounded to 4 to absorb
    // summation-order ulps.
    QueryDef("q73_quantized_cosine",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            Vec.asDouble(col("embedding")).as("vec"))
        val amax = array_max(transform(col("vec"), x => abs(x)))
        val scaled = e.withColumn("scale", amax / lit(127.0))
        val dq = transform(col("vec"),
          x => floor(x / col("scale") + lit(0.5)) * col("scale"))
        val withCos = scaled.withColumn("cos",
          when(col("scale") > 0.0, Vec.cosine(col("vec"), dq))
            .otherwise(lit(null).cast("double")))
        // asc_nulls_last: Spark ASC is NULLS FIRST, DuckDB's is NULLS LAST —
        // a null label (q78 filters for exactly this hazard) would reorder
        // rows between engines and break the hash grade (round 6)
        withCos.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            round(min(col("cos")), 6).as("min_fidelity"),
            round(avg(col("cos")), 4).as("avg_fidelity"))
          .orderBy(col("label").asc_nulls_last)
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |s AS (
             |  SELECT label, v,
             |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
             |      AS scale
             |  FROM e),
             |c AS (
             |  SELECT label,
             |    CASE WHEN scale > 0 THEN list_cosine_similarity(v,
             |      list_transform(v, x -> floor(x / scale + 0.5) * scale))
             |    END AS cos
             |  FROM s)
             |SELECT label, count(*) AS n_vecs,
             |  round(min(cos), 6) AS min_fidelity,
             |  round(avg(cos), 4) AS avg_fidelity
             |FROM c GROUP BY label ORDER BY label NULLS LAST""".stripMargin)),


    // ---------------------------------------------------------------------
    // q77: embedding clustering — TWO spherical Lloyd iterations from the
    // md5-ordered seed sample, then per-cluster membership stats. The
    // DuckDB twin restates the SAME deterministic algorithm independently
    // (seed order, max-cosine/smallest-id assignment, per-component mean
    // rounded to 6, then the second assign/update pass unrolled), so the
    // trainer is graded end to end at depth, not just spec-checked.
    // The graded output also carries the per-iteration OBJECTIVE (mean
    // best-cosine after iteration 1 and 2) and a monotone flag — the Lloyd
    // improvement property the spec proves is now oracle-proved too: both
    // engines must derive the same objectives from their own intermediate
    // centroid states. obj_iter1 costs one broadcast-assignment scan (the
    // same linear shape as the final stats pass); obj_iter2 is a global
    // round(avg) over the SAME kept-assignment rows as the twin's obj2 CTE
    // — grouping mirrored exactly so no cross-engine rounding seam exists
    // (r7: previously derived as sum-of-cluster-sums / total members,
    // which could round differently within ~1 ulp of a 0.00005 boundary).
    // The identical kept-rows subtree feeds stats and obj2; its exchanges
    // dedupe at runtime. min is order-independent (round 6);
    // avg/objectives absorb summation order at round 4; the 6-decimal
    // centroid rounding is what makes the intermediate state
    // engine-portable (see trainCentroids).
    QueryDef("q77_kmeans_clusters",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val hist = graft.operators.Similarity.centroidHistory(
          e, "vec_id", "vec", nlist = 8, iters = 2)
        def best(cents: DataFrame) = {
          val scored = e.join(broadcast(cents))
            .select(col("vec_id"), col("cent_id"),
              Vec.cosine(col("vec"), col("cent_vec")).as("sim"))
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("sim").desc, col("cent_id").asc)
          scored.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
        }
        val obj1 = best(hist(1))
          .agg(round(avg(col("sim")), 4).as("obj_iter1"))
        val kept2 = best(hist(2))
        val obj2 = kept2.agg(round(avg(col("sim")), 4).as("obj_iter2"))
        val stats = kept2
          .groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n_members"),
            round(min(col("sim")), 6).as("min_sim"),
            round(avg(col("sim")), 4).as("avg_sim"))
        stats
          .crossJoin(broadcast(obj1))
          .crossJoin(broadcast(obj2))
          .select(col("cent_id"), col("n_members"), col("min_sim"),
            col("avg_sim"), col("obj_iter1"), col("obj_iter2"),
            (col("obj_iter2") >= col("obj_iter1")).as("monotone"))
          .orderBy(col("cent_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
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
             |  SELECT vec_id, e.v AS v, c.cent_id,
             |    list_cosine_similarity(e.v, c.cv) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents1 c),
             |obj1 AS (
             |  SELECT round(avg(sim), 4) AS obj_iter1
             |  FROM assign1 WHERE rk = 1),
             |comp2 AS (
             |  SELECT cent_id, pos, round(avg(val), 6) AS m
             |  FROM (SELECT cent_id, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos
             |        FROM assign1 WHERE rk = 1)
             |  GROUP BY cent_id, pos),
             |cents2 AS (
             |  SELECT cent_id, list(m ORDER BY pos) AS cv
             |  FROM comp2 GROUP BY cent_id),
             |fin AS (
             |  SELECT vec_id, c.cent_id,
             |    list_cosine_similarity(e.v, c.cv) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents2 c),
             |kept AS (SELECT * FROM fin WHERE rk = 1),
             |obj2 AS (SELECT round(avg(sim), 4) AS obj_iter2 FROM kept)
             |SELECT cent_id, count(*) AS n_members,
             |  round(min(sim), 6) AS min_sim, round(avg(sim), 4) AS avg_sim,
             |  obj_iter1, obj_iter2, (obj_iter2 >= obj_iter1) AS monotone
             |FROM kept CROSS JOIN obj1 CROSS JOIN obj2
             |GROUP BY cent_id, obj_iter1, obj_iter2 ORDER BY cent_id"""
        .stripMargin)),


    // ---------------------------------------------------------------------
    // q78: per-label prototype embeddings — the class-centroid kernel
    // (few-shot prototypes, label-drift monitoring) via the native VecSum
    // aggregate: ONE dim-length partial buffer per (map task, label)
    // through a |labels|-sized exchange; a posexplode formulation would
    // shuffle corpus x dim rows. Graded on scalar projections of the mean
    // vector (first component, L2 norm) — array-typed outputs are avoided
    // in the registry because the hash canonicalizer stringifies cells.
    // Components round to 6 before the norm so summation order can't leak
    // (same stance as q77's centroids).
    QueryDef("q78_label_prototypes",
      (s, dir) => {
        // null labels excluded EXPLICITLY: Spark's groupBy would keep a
        // null-label group that the twin's inner join on label drops
        val e = t(s, dir, "embeddings")
          .filter(col("label").isNotNull)
          .select(col("label"), Vec.asDouble(col("embedding")).as("vec"))
        e.groupBy(col("label"))
          .agg(Vec.sumAgg(col("vec")).as("sum"), count(lit(1)).as("n_vecs"))
          .select(col("label"), col("n_vecs"),
            transform(col("sum"), x => round(x / col("n_vecs"), 6)).as("m"))
          .select(col("label"), col("n_vecs"),
            element_at(col("m"), 1).as("m0"),
            round(sqrt(aggregate(col("m"), lit(0.0),
              (acc, x) => acc + x * x)), 6).as("mean_norm"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (
             |  SELECT label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE label IS NOT NULL),
             |comp AS (
             |  SELECT label, pos, round(avg(val), 6) AS m
             |  FROM (SELECT label, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos FROM e)
             |  GROUP BY label, pos),
             |protos AS (
             |  SELECT label, list(m ORDER BY pos) AS mv FROM comp
             |  GROUP BY label),
             |n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label)
             |SELECT n.label, n_vecs, mv[1] AS m0,
             |  round(sqrt(list_reduce(list_transform(mv, x -> x * x),
             |    (a, b) -> a + b)), 6) AS mean_norm
             |FROM protos JOIN n ON protos.label = n.label
             |ORDER BY n.label""".stripMargin)),


    // ---------------------------------------------------------------------
    // q80: ANN over the int8-QUANTIZED corpus — the end-to-end form of
    // q73's fidelity claim: after per-vector int8 quantization (4x smaller
    // index), full-precision queries against the dequantized corpus must
    // still resolve every planted near-duplicate twin as the exact top-1.
    // Quantization uses the floor-based portable rounding (q73); ranking
    // margins are huge (twin cosine ~0.999 vs ~0.5 background), so the
    // graded twin_is_top1 flag is robust, and the graded cosine itself is
    // deterministic because both engines dequantize to identical doubles.
    QueryDef("q80_quantized_ann",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val amax = array_max(transform(col("vec"), x => abs(x)))
        val qz = e.withColumn("scale", amax / lit(127.0))
          .select(col("vec_id"),
            when(col("scale") > 0.0,
              transform(col("vec"),
                x => floor(x / col("scale") + lit(0.5)) * col("scale")))
              .otherwise(col("vec")).as("dvec"))
        val q = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        graft.operators.Similarity.bruteForceTopK(
            qz, "vec_id", "dvec", q, "qid", "qvec", k = 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 6).as("nn_cosine"),
            (col("neighbor_id") === col("query_id") + 100000)
              .as("twin_is_top1"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |allv AS (
             |  SELECT * FROM e
             |  UNION ALL
             |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
             |  FROM e WHERE vec_id % 5 = 0),
             |qz AS (
             |  SELECT vec_id,
             |    CASE WHEN s > 0 THEN list_transform(v,
             |           x -> floor(x / s + 0.5) * s)
             |         ELSE v END AS dv
             |  FROM (SELECT vec_id, v,
             |          list_aggregate(list_transform(v, x -> abs(x)), 'max')
             |            / 127.0 AS s
             |        FROM allv)),
             |q AS (
             |  SELECT vec_id AS query_id, v AS qv FROM allv
             |  WHERE vec_id % 5 = 0 AND vec_id < 100000),
             |scored AS (
             |  SELECT query_id, p.vec_id AS neighbor_id,
             |    list_cosine_similarity(qv, p.dv) AS c
             |  FROM q, qz p WHERE p.vec_id <> query_id),
             |top AS (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
             |  FROM scored)
             |SELECT query_id, neighbor_id, round(c, 6) AS nn_cosine,
             |  (neighbor_id = query_id + 100000) AS twin_is_top1
             |FROM top WHERE rn = 1 ORDER BY query_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q87: int8-quantized IVF ANN — the COMPOSITION of q73/q80's
    // quantization scheme with q35's trained-IVF layout, i.e. the actual
    // production ANN path at 100 TB (inverted lists storing 1-byte codes +
    // a per-vector scale, ~8x smaller candidate shuffle than float64
    // lists). Graded like q34/q35 on the planted-twin corpus, against the
    // QUANTIZED ground truth: the DuckDB twin brute-forces the exact top-1
    // over the dequantized int8 corpus (q80's qz), so the graded cosine
    // proves the quantized scoring arithmetic and the folded flag proves
    // the trained quantizer still routes each query to its twin's list and
    // surfaces it through int8 rescoring.
    QueryDef("q87_quantized_ivf",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val q = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val ann = Similarity.ivfTopKQuantized(e, "vec_id", "vec",
          q, "qid", "qvec", k = 10, nlist = 16, nprobe = 4, trainIters = 1)
        val hits = ann
          .filter(col("neighbor_id") === col("query_id") + 100000)
          .select(col("query_id"), lit(true).as("hit"))
        // graded cosine vs the DEQUANTIZED twin (what the index stores)
        val dqTwin = e.filter(col("vec_id") >= 100000)
          .withColumn("scale",
            array_max(transform(col("vec"), x => abs(x))) / lit(127.0))
          .select((col("vec_id") - 100000).as("qid"),
            when(col("scale") > 0.0,
              transform(col("vec"),
                x => floor(x / col("scale") + lit(0.5)) * col("scale")))
              .otherwise(col("vec")).as("tvec"))
        val twins = q.join(dqTwin, "qid")
          .select(col("qid").as("query_id"),
            (col("qid") + 100000).as("twin_id"),
            round(Vec.cosine(col("qvec"), col("tvec")), 6).as("twin_cosine"))
        twins.join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("twin_id"), col("twin_cosine"),
            coalesce(col("hit"), lit(false)).as("twin_in_top10"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |allv AS (
             |  SELECT * FROM e
             |  UNION ALL
             |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
             |  FROM e WHERE vec_id % 5 = 0),
             |qz AS (
             |  SELECT vec_id,
             |    CASE WHEN s > 0 THEN list_transform(v,
             |           x -> floor(x / s + 0.5) * s)
             |         ELSE v END AS dv
             |  FROM (SELECT vec_id, v,
             |          list_aggregate(list_transform(v, x -> abs(x)), 'max')
             |            / 127.0 AS s
             |        FROM allv)),
             |q AS (
             |  SELECT vec_id AS query_id, v AS qv FROM allv
             |  WHERE vec_id % 5 = 0 AND vec_id < 100000),
             |scored AS (
             |  SELECT query_id, p.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(qv, p.dv), 6) AS cosine
             |  FROM q, qz p WHERE p.vec_id <> query_id),
             |top1 AS (
             |  SELECT query_id, neighbor_id, cosine, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
             |  FROM scored)
             |SELECT query_id, neighbor_id AS twin_id, cosine AS twin_cosine,
             |  TRUE AS twin_in_top10
             |FROM top1 WHERE rn = 1 ORDER BY query_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q92: product-quantization encoding + reconstruction fidelity — the
    // next ANN compression tier beyond q87's int8 (FAISS IVF-PQ's storage:
    // m=8 one-byte codes per 64-dim vector vs 64 bytes for SQ8, 64x
    // smaller lists than float64). Codebooks are the SAMPLED path
    // (slices of the 16 smallest-id vectors — deterministic and
    // independently restatable, the coarseCentroids stance; k-means
    // refinement exists behind pqTrain(trainIters>0) and is spec'd).
    // Graded at full strength: the code ASSIGNMENT is exact-match (both
    // engines must pick identical argmin-L2 codes for every doc — keys
    // rounded to 6 before the argmin, ties to the smallest code), and the
    // reconstruction cosine proves decode + the disjoint-subspace norm
    // identity. Grading the whole corpus (500 rows/SF) keeps every code
    // path load-bearing.
    QueryDef("q92_pq_codes",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val model = Similarity.pqTrain(e, "vec_id", "vec", m = 8, k = 16)
        val enc = Similarity.pqEncode(e, "vec_id", "vec", model)
        enc.join(e.select(col("vec_id").as("id"), col("vec")), "id")
          .select(col("id").as("vec_id"),
            concat_ws(",", col("codes").cast("array<string>")).as("codes"),
            round(Vec.cosineFromParts(
              Similarity.pqReconDot(col("vec"), col("codes"), model),
              Vec.norm(col("vec")), col("rnorm")), 6).as("recon_cosine"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |cbsrc AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
             |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
             |cb AS (
             |  SELECT m, code, cv, list_inner_product(cv, cv) AS c2
             |  FROM (SELECT ms.m, code, v[ms.m*8+1 : ms.m*8+8] AS cv
             |        FROM cbsrc CROSS JOIN
             |          (SELECT unnest(range(0, 8)) AS m) ms)),
             |keys AS (
             |  SELECT d.vec_id, cb.m, cb.code, cb.cv,
             |    round(cb.c2
             |      - 2 * list_inner_product(d.v[cb.m*8+1 : cb.m*8+8], cb.cv),
             |      6) AS key
             |  FROM e d CROSS JOIN cb),
             |pick AS (
             |  SELECT vec_id, m, code, cv FROM (
             |    SELECT vec_id, m, code, cv, row_number() OVER (
             |      PARTITION BY vec_id, m ORDER BY key, code) AS rn
             |    FROM keys)
             |  WHERE rn = 1),
             |enc AS (
             |  SELECT vec_id,
             |    array_to_string(list(code ORDER BY m), ',') AS codes,
             |    flatten(list(cv ORDER BY m)) AS rv
             |  FROM pick GROUP BY vec_id)
             |SELECT e.vec_id, codes,
             |  round(list_cosine_similarity(e.v, rv), 6) AS recon_cosine
             |FROM e JOIN enc USING (vec_id)
             |ORDER BY vec_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q93: IVF-PQ ANN with ADC scoring, graded EXACTLY: nprobe = nlist
    // probes every list, so IVF recall is out of the picture and the twin
    // can brute-force the identical PQ space (rank on the ROUND-6 cosine
    // then neighbor id — PQ code collisions make exact ties common, which
    // is WHY pqTopK rounds before ranking; an unrounded rank would be
    // engine-divergent by an ulp). What this grades end to end: coarse
    // routing arithmetic, code assignment, the per-query ADC lookup
    // tables, and the reconstruction-norm denominator. The recall-bearing
    // nprobe < nlist configuration is spec'd against the exhaustive path
    // in OperatorsSpec (planted twins).
    QueryDef("q93_pq_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val q = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val model = Similarity.pqTrain(e, "vec_id", "vec", m = 8, k = 16)
        Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
            k = 3, model, nlist = 8, nprobe = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            col("cosine").as("pq_cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |cbsrc AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
             |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
             |cb AS (
             |  SELECT m, code, cv
             |  FROM (SELECT ms.m, code, v[ms.m*8+1 : ms.m*8+8] AS cv
             |        FROM cbsrc CROSS JOIN
             |          (SELECT unnest(range(0, 8)) AS m) ms)),
             |keys AS (
             |  SELECT d.vec_id, cb.m, cb.code, cb.cv,
             |    round(list_inner_product(cb.cv, cb.cv)
             |      - 2 * list_inner_product(d.v[cb.m*8+1 : cb.m*8+8], cb.cv),
             |      6) AS key
             |  FROM e d CROSS JOIN cb),
             |recon AS (
             |  SELECT vec_id, flatten(list(cv ORDER BY m)) AS rv
             |  FROM (SELECT vec_id, m, code, cv, row_number() OVER (
             |          PARTITION BY vec_id, m ORDER BY key, code) AS rn
             |        FROM keys)
             |  WHERE rn = 1 GROUP BY vec_id),
             |qs AS (SELECT vec_id AS query_id, v AS qv FROM e
             |       WHERE vec_id % 25 = 0),
             |scored AS (
             |  SELECT query_id, r.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(qv, r.rv), 6) AS pq_cosine
             |  FROM qs JOIN recon r ON r.vec_id <> query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, pq_cosine, row_number() OVER (
             |      PARTITION BY query_id
             |      ORDER BY pq_cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, pq_cosine
             |FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q95: RESIDUAL IVF-PQ (FAISS IVFPQ proper) — q93 quantized raw
    // vectors; here the codebooks quantize the residual x - c(x), the
    // distribution that actually sits in an inverted list. The encode
    // FOLDS the residual algebra into per-(list, code) literals (see
    // pqEncode scaladoc) so no residual array is ever materialized, and
    // scoring decomposes as dot(q, c_list) + residual ADC. Same exact
    // grading stance as q93: nprobe = nlist removes IVF recall from the
    // contract, the twin computes assignments/residuals/codes/
    // reconstructions from scratch (list arithmetic in SQL) and must land
    // the identical round-6 ranking. Coarse set = 8 smallest-id vectors
    // dense-reindexed; codebook sample = the NEXT 16 ids (the centroid
    // rows' own residuals are identically zero and would waste half the
    // codebook).
    QueryDef("q95_pq_residual",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val q = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val model = Similarity.pqTrainResidual(e, "vec_id", "vec",
          m = 8, k = 16, nlist = 8)
        Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
            k = 3, model, nlist = 8, nprobe = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            col("cosine").as("pq_cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |cc AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
             |    v AS cv
             |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
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
             |        ORDER BY vec_id LIMIT 16 OFFSET 8)),
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
             |  SELECT p.vec_id,
             |    list_transform(range(64), i -> r.cv[i+1] + p.rh[i+1])
             |      AS xhat
             |  FROM (SELECT vec_id, flatten(list(cbv ORDER BY m)) AS rh
             |        FROM pick GROUP BY vec_id) p
             |  JOIN res r USING (vec_id)),
             |qs AS (SELECT vec_id AS query_id, v AS qv FROM e
             |       WHERE vec_id % 25 = 0),
             |scored AS (
             |  SELECT query_id, rc.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(qv, rc.xhat), 6) AS pq_cosine
             |  FROM qs JOIN recon rc ON rc.vec_id <> query_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, pq_cosine, row_number() OVER (
             |      PARTITION BY query_id
             |      ORDER BY pq_cosine DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, pq_cosine
             |FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q94: k-means CONVERGENCE stop — trainLloyd with an objective-delta
    // rule (stop when the round-4 mean best-cosine improves by less than
    // epsilon), graded end to end: the twin restates three unrolled Lloyd
    // iterations (the q77 structure plus the seed-assignment objective),
    // derives the SAME deltas and the SAME stop point, and emits exactly
    // the rows Spark's early exit produced — so failing to stop (5 rows
    // vs 3) or stopping at the wrong iteration moves the hash, not just a
    // value. epsilon = 0.0155 sits strictly between round-4 delta
    // multiples and >= 0.002 away from the observed deltas at both graded
    // SFs (iter-3 delta ~0.0133 < eps < iter-2 delta ~0.05), so the rule
    // is ulp-robust. The twin mirrors trainLloyd's two-level objective
    // grouping (per-cluster sums, then sum/sum) to avoid the q77
    // avg-structure seam the round-6 advice flagged.
    QueryDef("q94_kmeans_converged",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val r = Similarity.trainLloyd(e, "vec_id", "vec", nlist = 8,
          maxIters = 5, epsilon = Some(0.0155))
        val rows = r.objectives.zipWithIndex.map { case (o, i) =>
          val delta = if (i == 0) None
            else Some(BigDecimal(o - r.objectives(i - 1))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          (i + 1, o, delta, r.converged && (i + 1) == r.itersRun)
        }
        rows.toDF("iter", "objective", "delta", "stopped_early")
          .orderBy(col("iter"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |seeds AS (
             |  SELECT row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             |      AS cent_id, v
             |  FROM (SELECT vec_id, v FROM e
             |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
             |a0 AS (
             |  SELECT vec_id, e.v AS v, cent_id,
             |    list_cosine_similarity(e.v, s.v) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, s.v) DESC, cent_id)
             |      AS rk
             |  FROM e CROSS JOIN seeds s),
             |o1v AS (
             |  SELECT round(sum(s) / sum(n), 4) AS o FROM (
             |    SELECT cent_id, sum(sim) AS s, count(*) AS n
             |    FROM a0 WHERE rk = 1 GROUP BY 1)),
             |comp1 AS (
             |  SELECT cent_id, pos, round(avg(val), 6) AS m
             |  FROM (SELECT cent_id, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos
             |        FROM a0 WHERE rk = 1)
             |  GROUP BY cent_id, pos),
             |cents1 AS (
             |  SELECT cent_id, list(m ORDER BY pos) AS cv
             |  FROM comp1 GROUP BY cent_id),
             |a1 AS (
             |  SELECT vec_id, e.v AS v, c.cent_id,
             |    list_cosine_similarity(e.v, c.cv) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents1 c),
             |o2v AS (
             |  SELECT round(sum(s) / sum(n), 4) AS o FROM (
             |    SELECT cent_id, sum(sim) AS s, count(*) AS n
             |    FROM a1 WHERE rk = 1 GROUP BY 1)),
             |comp2 AS (
             |  SELECT cent_id, pos, round(avg(val), 6) AS m
             |  FROM (SELECT cent_id, unnest(v) AS val,
             |          generate_subscripts(v, 1) AS pos
             |        FROM a1 WHERE rk = 1)
             |  GROUP BY cent_id, pos),
             |cents2 AS (
             |  SELECT cent_id, list(m ORDER BY pos) AS cv
             |  FROM comp2 GROUP BY cent_id),
             |a2 AS (
             |  SELECT vec_id, c.cent_id,
             |    list_cosine_similarity(e.v, c.cv) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents2 c),
             |o3v AS (
             |  SELECT round(sum(s) / sum(n), 4) AS o FROM (
             |    SELECT cent_id, sum(sim) AS s, count(*) AS n
             |    FROM a2 WHERE rk = 1 GROUP BY 1)),
             |objs AS (
             |  SELECT 1 AS iter, o AS objective FROM o1v
             |  UNION ALL SELECT 2, o FROM o2v
             |  UNION ALL SELECT 3, o FROM o3v),
             |d AS (
             |  SELECT iter, objective,
             |    round(objective - lag(objective) OVER (ORDER BY iter), 4)
             |      AS delta
             |  FROM objs),
             |sp AS (
             |  SELECT coalesce(min(iter), 3) AS s FROM d
             |  WHERE iter >= 2 AND delta < 0.0155)
             |SELECT iter, objective, delta,
             |  (iter = s AND delta < 0.0155) AS stopped_early
             |FROM d CROSS JOIN sp WHERE iter <= s
             |ORDER BY iter""".stripMargin)),


    // ---------------------------------------------------------------------
    // q97: binary (1-bit) quantization ANN — sign bits packed into two
    // 32-bit words (16 bytes/vector, the most aggressive compression tier
    // below int8/PQ), Hamming pre-rank via codegen'd bit_count(xor), exact
    // cosine re-rank of the 64 best candidates per query. Graded exactly
    // like q34/q35 on the planted corpus: the shared twin brute-forces the
    // exact top-1 (the +100000 twin at its exact cosine) and the folded
    // flag asserts the binary index surfaced it — a twin differs from its
    // query only in components the +0.02 shift pushed across zero (~0-4
    // sign flips vs ~32 for unrelated pairs), so recall is load-bearing.
    QueryDef("q97_ann_binary",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val q = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val ann = Similarity.binaryTopK(e, "vec_id", "vec", q, "qid", "qvec",
          k = 10, candidates = 64)
        gradePlantedTwins(ann, q, e)
      },
      Some(annPlantedOracle)),


    // ---------------------------------------------------------------------
    // q104: PCA power iteration (covariance-free) — the dominant principal
    // direction of the embedding corpus via two w = Σ x·(x·v) passes (one
    // scalar dot + the native VecSum aggregate per scan; no d×d matrix),
    // graded on every vector's 1-d projection. Sign-fixed (first
    // |component| > 1e-9 positive) and round-6 per iterate so the
    // direction is engine-portable; the twin unrolls both iterations,
    // normalization, and the sign rule from scratch in SQL.
    QueryDef("q104_pca_power",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val v = graft.operators.Similarity.powerIteration(e, "vec", 2)
        val vLit = typedLit(v)
        e.select(col("vec_id"),
            round(Vec.dot(col("vec"), vLit), 6).as("proj"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH x AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |d AS (SELECT len(v) AS dim FROM x LIMIT 1),
             |v0 AS (
             |  SELECT list_transform(range(1, dim + 1),
             |    i -> round(1.0 / sqrt(dim), 6)) AS v
             |  FROM d),
             |s1 AS (
             |  SELECT x.v AS xv, list_inner_product(x.v, v0.v) AS s
             |  FROM x CROSS JOIN v0),
             |w1c AS (
             |  SELECT pos, sum(val * s) AS w FROM (
             |    SELECT s, unnest(xv) AS val,
             |      generate_subscripts(xv, 1) AS pos FROM s1)
             |  GROUP BY pos),
             |w1 AS (SELECT list(w ORDER BY pos) AS w FROM w1c),
             |n1 AS (
             |  SELECT sqrt(list_sum(list_transform(w, y -> y * y))) AS nrm,
             |    coalesce((SELECT CASE WHEN y < 0 THEN -1.0 ELSE 1.0 END
             |      FROM (SELECT unnest(w) AS y,
             |              generate_subscripts(w, 1) AS p FROM w1)
             |      WHERE abs(y) > 1e-9 ORDER BY p LIMIT 1), 1.0) AS sgn
             |  FROM w1),
             |v1 AS (
             |  SELECT list_transform(w, y -> round(y * sgn / nrm, 6)) AS v
             |  FROM w1 CROSS JOIN n1),
             |s2 AS (
             |  SELECT x.v AS xv, list_inner_product(x.v, v1.v) AS s
             |  FROM x CROSS JOIN v1),
             |w2c AS (
             |  SELECT pos, sum(val * s) AS w FROM (
             |    SELECT s, unnest(xv) AS val,
             |      generate_subscripts(xv, 1) AS pos FROM s2)
             |  GROUP BY pos),
             |w2 AS (SELECT list(w ORDER BY pos) AS w FROM w2c),
             |n2 AS (
             |  SELECT sqrt(list_sum(list_transform(w, y -> y * y))) AS nrm,
             |    coalesce((SELECT CASE WHEN y < 0 THEN -1.0 ELSE 1.0 END
             |      FROM (SELECT unnest(w) AS y,
             |              generate_subscripts(w, 1) AS p FROM w2)
             |      WHERE abs(y) > 1e-9 ORDER BY p LIMIT 1), 1.0) AS sgn
             |  FROM w2),
             |v2 AS (
             |  SELECT list_transform(w, y -> round(y * sgn / nrm, 6)) AS v
             |  FROM w2 CROSS JOIN n2)
             |SELECT vec_id, round(list_inner_product(x.v, v2.v), 6) AS proj
             |FROM x CROSS JOIN v2 ORDER BY vec_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q107: k-center greedy coreset selection (Gonzalez 1985 max-min;
    // Sener & Savarese 2018) — 4 deterministic farthest-point rounds over
    // the embedding corpus, graded on EVERY vector's assignment (center
    // rank, center id, squared distance): a wrong argmax in any round
    // reshuffles all downstream assignments and moves the hash. The twin
    // unrolls all four selections and the final nearest-center argmin from
    // scratch in SQL (distances round to 9 before every comparison — the
    // k-means iterate canon; earlier-chosen center keeps ties).
    QueryDef("q107_kcenter_coreset",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val centers = graft.operators.Similarity.kCenterGreedy(
          e, "vec_id", "vec", k = 4)
        graft.operators.Similarity.kCenterAssign(e, "vec_id", "vec", centers)
          .select(col("id").as("vec_id"), col("center_rank"),
            col("center_id"), round(col("d2"), 6).as("d2"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH x AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |c1 AS (
             |  SELECT vec_id, v FROM x
             |  ORDER BY round(list_inner_product(v, v), 9) DESC, vec_id
             |  LIMIT 1),
             |d1 AS (
             |  SELECT x.vec_id, x.v, round(list_inner_product(x.v, x.v)
             |    - 2 * list_inner_product(x.v, (SELECT v FROM c1))
             |    + list_inner_product((SELECT v FROM c1),
             |                         (SELECT v FROM c1)), 9) AS m
             |  FROM x),
             |c2 AS (SELECT vec_id, v FROM d1 ORDER BY m DESC, vec_id LIMIT 1),
             |d2 AS (
             |  SELECT d1.vec_id, d1.v, least(d1.m,
             |    round(list_inner_product(d1.v, d1.v)
             |      - 2 * list_inner_product(d1.v, (SELECT v FROM c2))
             |      + list_inner_product((SELECT v FROM c2),
             |                           (SELECT v FROM c2)), 9)) AS m
             |  FROM d1),
             |c3 AS (SELECT vec_id, v FROM d2 ORDER BY m DESC, vec_id LIMIT 1),
             |d3 AS (
             |  SELECT d2.vec_id, d2.v, least(d2.m,
             |    round(list_inner_product(d2.v, d2.v)
             |      - 2 * list_inner_product(d2.v, (SELECT v FROM c3))
             |      + list_inner_product((SELECT v FROM c3),
             |                           (SELECT v FROM c3)), 9)) AS m
             |  FROM d2),
             |c4 AS (SELECT vec_id, v FROM d3 ORDER BY m DESC, vec_id LIMIT 1),
             |cents AS (
             |  SELECT 1 AS rk, vec_id AS cid, v FROM c1
             |  UNION ALL SELECT 2, vec_id, v FROM c2
             |  UNION ALL SELECT 3, vec_id, v FROM c3
             |  UNION ALL SELECT 4, vec_id, v FROM c4),
             |scored AS (
             |  SELECT x.vec_id, cents.rk, cents.cid,
             |    round(list_inner_product(x.v, x.v)
             |      - 2 * list_inner_product(x.v, cents.v)
             |      + list_inner_product(cents.v, cents.v), 9) AS d2v,
             |    row_number() OVER (PARTITION BY x.vec_id
             |      ORDER BY round(list_inner_product(x.v, x.v)
             |        - 2 * list_inner_product(x.v, cents.v)
             |        + list_inner_product(cents.v, cents.v), 9) ASC,
             |        cents.rk ASC) AS rn
             |  FROM x CROSS JOIN cents)
             |SELECT vec_id, rk AS center_rank, cid AS center_id,
             |  round(d2v, 6) AS d2
             |FROM scored WHERE rn = 1 ORDER BY vec_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q124: hard-negative mining for contrastive training (DPR /
    // ANCE) — per anchor (every 10th vector), the best same-label
    // neighbor (mined positive) and top-3 different-label neighbors
    // (hard negatives) from the 32 nearest candidates. Candidate gen is
    // the exact verifier (anchors broadcast, corpus streams); at index
    // scale the same downstream runs off ivfTopK/pqTopK candidates.
    QueryDef("q124_hard_negatives",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"),
          Vec.asDouble(col("embedding")).as("vec"), col("label"))
        val anchors = e.filter(col("vec_id") % 10 === 0)
        Similarity.hardNegatives(e, "vec_id", "vec", "label",
            anchors, "vec_id", "vec", "label", kNeg = 3, kCand = 32)
          .orderBy(col("anchor_id"), col("role"), col("rnk"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, label AS ql
             |  FROM e WHERE vec_id % 10 = 0),
             |scored AS (
             |  SELECT qid, ql, e.vec_id AS nid, e.label AS nl,
             |    list_cosine_similarity(qv, e.v) AS cos
             |  FROM q JOIN e ON e.vec_id <> qid),
             |cand AS (SELECT *, row_number() OVER (
             |    PARTITION BY qid ORDER BY cos DESC, nid) AS rk
             |  FROM scored),
             |roled AS (SELECT qid, nid, cos,
             |    CASE WHEN nl = ql THEN 'pos' ELSE 'neg' END AS role
             |  FROM cand WHERE rk <= 32),
             |rr AS (SELECT *, row_number() OVER (
             |    PARTITION BY qid, role ORDER BY cos DESC, nid) AS rrk
             |  FROM roled)
             |SELECT qid AS anchor_id, role, CAST(rrk AS BIGINT) AS rnk,
             |  nid AS cand_id, round(cos, 6) AS cosine
             |FROM rr
             |WHERE (role = 'pos' AND rrk = 1) OR (role = 'neg' AND rrk <= 3)
             |ORDER BY anchor_id, role, rnk""".stripMargin)),


    // ---------------------------------------------------------------------
    // q117: margin-based bitext mining (Artetxe & Schwenk 2019 — the
    // LASER/CCMatrix aligned-pair recipe): best partner per source vector
    // by RATIO margin cos/(neighborhood mean), which discounts hubs. Side
    // a = every 5th vector; side b = their +0.02 planted twins plus
    // %5==2 distractors — the twin must win every a's mining slot at a
    // margin its distractors can't reach, so both the pairing and the
    // margin arithmetic are load-bearing. Candidate gen is the exact
    // top-k (the ANN index family slots in at scale); the margin stage is
    // top-k-frame joins + per-id partial aggs only.
    QueryDef("q117_bitext_margin",
      (s, dir) => {
        val e = plantedVecs(s, dir)
        val a = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 100000)
        val b = e.filter(col("vec_id") >= 100000 ||
          col("vec_id") % 5 === 2)
        Similarity.marginMining(a, "vec_id", "vec", b, "vec_id", "vec",
            k = 4)
          .orderBy(col("a_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |a AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 5 = 0),
             |b AS (
             |  SELECT vec_id + 100000 AS id,
             |    list_transform(v, x -> x + 0.02) AS v
             |  FROM e WHERE vec_id % 5 = 0
             |  UNION ALL
             |  SELECT vec_id AS id, v FROM e WHERE vec_id % 5 = 2),
             |ab AS (
             |  SELECT a.id AS a_id, b.id AS b_id,
             |    list_cosine_similarity(a.v, b.v) AS cosine,
             |    row_number() OVER (PARTITION BY a.id
             |      ORDER BY list_cosine_similarity(a.v, b.v) DESC,
             |        b.id ASC) AS rn
             |  FROM a, b),
             |ka AS (SELECT a_id, avg(cosine) AS a_avgk
             |  FROM ab WHERE rn <= 4 GROUP BY a_id),
             |ba AS (
             |  SELECT b.id AS b_id, a.id AS a_id,
             |    list_cosine_similarity(b.v, a.v) AS cosine,
             |    row_number() OVER (PARTITION BY b.id
             |      ORDER BY list_cosine_similarity(b.v, a.v) DESC,
             |        a.id ASC) AS rn
             |  FROM b, a),
             |kb AS (SELECT b_id, avg(cosine) AS b_avgk
             |  FROM ba WHERE rn <= 4 GROUP BY b_id),
             |sc AS (
             |  SELECT ab.a_id, ab.b_id, ab.cosine,
             |    round(ab.cosine / ((a_avgk + b_avgk) / 2), 6) AS margin
             |  FROM ab JOIN ka USING (a_id) JOIN kb USING (b_id)
             |  WHERE ab.rn <= 4),
             |best AS (
             |  SELECT *, row_number() OVER (PARTITION BY a_id
             |    ORDER BY margin DESC, b_id ASC) AS brn
             |  FROM sc)
             |SELECT a_id, b_id, round(cosine, 6) AS cosine, margin
             |FROM best WHERE brn = 1 ORDER BY a_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q138: MinHash-LSH banding design audit (MMDS §3.4.3 S-curve): every
    // (b, r) factorization of k=24 scored by integrated false-positive /
    // false-negative mass against the 0.7 Jaccard threshold — the planner
    // behind q20/q29's band choices. Pure closed-form arithmetic over a
    // divisors(k) x 19 grid; the planner reads the data MODEL, not the
    // data, so it is metadata-sized at any corpus scale.
    QueryDef("q138_lsh_scurve",
      (s, dir) => {
        graft.operators.LshPlan.sCurve(s, k = 24, threshold = 0.7)
      },
      Some("""WITH cfg AS (
             |  SELECT b, 24 // b AS r FROM range(1, 25) t(b)
             |  WHERE 24 % b = 0),
             |grid AS (SELECT b, r, round(CAST(i AS DOUBLE) / 20, 6) AS s
             |  FROM cfg CROSS JOIN range(1, 20) g(i)),
             |pp AS (SELECT b, r, s,
             |    round(1 - pow(1 - pow(s, r), b), 6) AS p FROM grid),
             |ag AS (SELECT b, r,
             |    round(sum(CASE WHEN s < 0.7 THEN p ELSE 0 END) / 20, 6)
             |      AS fp_mass,
             |    round(sum(CASE WHEN s >= 0.7 THEN 1 - p ELSE 0 END) / 20, 6)
             |      AS fn_mass
             |  FROM pp GROUP BY b, r),
             |tot AS (SELECT *, round(fp_mass + fn_mass, 6) AS total_err
             |  FROM ag)
             |SELECT b, r, fp_mass, fn_mass, total_err,
             |  (row_number() OVER (ORDER BY total_err, b) = 1) AS chosen
             |FROM tot ORDER BY b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q162: MMR diversity re-ranking (Carbonell & Goldstein 1998) over
    // ANN candidates — top-12 cosine candidates per query, then 5
    // greedy picks of argmax 0.7·rel − 0.3·max-sim-to-selected. The
    // candidate and pairwise-sim frames stay distributed (bounded
    // |queries|·N²); the inherently sequential per-query greedy runs
    // EXECUTOR-LOCAL per qid via cogroup (round-9 rewrite — nothing
    // query-spanning reaches the driver). The twin unrolls all 5 steps,
    // so a wrong tie-break or a skipped redundancy penalty moves the
    // hash: the top-rel candidate's paraphrase-mates MUST drop.
    QueryDef("q162_mmr_rerank",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
          .withColumn("nrm", Vec.norm(col("vec")))
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"),
            col("nrm").as("qnrm"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("vec")),
              col("qnrm"), col("nrm")), 6).as("rel"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("cid").asc)
        val cands = scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 12).drop("rk")
        val withVec = e.select(col("vec_id"), col("vec"), col("nrm"))
        val ca = cands.select(col("qid"), col("cid").as("a"))
          .join(withVec.select(col("vec_id").as("a"),
            col("vec").as("va"), col("nrm").as("na")), Seq("a"))
        val cb = cands.select(col("qid"), col("cid").as("b"))
          .join(withVec.select(col("vec_id").as("b"),
            col("vec").as("vb"), col("nrm").as("nb")), Seq("b"))
        val pair = ca.join(cb, Seq("qid")).filter(col("a") < col("b"))
          .select(col("qid"), col("a"), col("b"),
            round(Vec.cosineFromParts(Vec.dot(col("va"), col("vb")),
              col("na"), col("nb")), 6).as("sim"))
        graft.operators.Rerank.mmr(cands, "qid", "cid", "rel",
            pair, "sim", lambda = 0.7, k = 5)
          .orderBy(col("query_id"), col("sel_rank"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e
             |  WHERE vec_id % 100 = 0),
             |sc AS (SELECT qid, e.vec_id AS cid,
             |    round(list_cosine_similarity(qv, e.v), 6) AS rel
             |  FROM e, q WHERE e.vec_id <> qid),
             |cand AS (SELECT qid, cid, rel FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid
             |      ORDER BY rel DESC, cid) AS rk FROM sc)
             |  WHERE rk <= 12),
             |pw AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
             |    round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
             |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid < b.cid
             |  JOIN e ea ON ea.vec_id = a.cid
             |  JOIN e eb ON eb.vec_id = b.cid),
             |pw2 AS (SELECT qid, ca AS x, cb AS y, sim FROM pw
             |  UNION ALL SELECT qid, cb, ca, sim FROM pw),
             |s1 AS (SELECT qid, cid, rel, score FROM (
             |    SELECT qid, cid, rel, round(0.7 * rel, 7) AS score,
             |      row_number() OVER (PARTITION BY qid
             |        ORDER BY round(0.7 * rel, 7) DESC, cid) AS rk
             |    FROM cand) WHERE rk = 1),
             |c2 AS (SELECT c.qid, c.cid, c.rel, max(w.sim) AS ms
             |  FROM cand c
             |  LEFT JOIN s1 ex ON ex.qid = c.qid AND ex.cid = c.cid
             |  JOIN pw2 w ON w.qid = c.qid AND w.x = c.cid
             |  JOIN s1 s ON s.qid = w.qid AND s.cid = w.y
             |  WHERE ex.cid IS NULL GROUP BY 1, 2, 3),
             |s2 AS (SELECT qid, cid, rel, score FROM (
             |    SELECT qid, cid, rel,
             |      round(0.7 * rel - 0.3 * ms, 7) AS score,
             |      row_number() OVER (PARTITION BY qid
             |        ORDER BY round(0.7 * rel - 0.3 * ms, 7) DESC, cid)
             |        AS rk
             |    FROM c2) WHERE rk = 1),
             |sel2 AS (SELECT qid, cid FROM s1
             |  UNION ALL SELECT qid, cid FROM s2),
             |c3 AS (SELECT c.qid, c.cid, c.rel, max(w.sim) AS ms
             |  FROM cand c
             |  LEFT JOIN sel2 ex ON ex.qid = c.qid AND ex.cid = c.cid
             |  JOIN pw2 w ON w.qid = c.qid AND w.x = c.cid
             |  JOIN sel2 s ON s.qid = w.qid AND s.cid = w.y
             |  WHERE ex.cid IS NULL GROUP BY 1, 2, 3),
             |s3 AS (SELECT qid, cid, rel, score FROM (
             |    SELECT qid, cid, rel,
             |      round(0.7 * rel - 0.3 * ms, 7) AS score,
             |      row_number() OVER (PARTITION BY qid
             |        ORDER BY round(0.7 * rel - 0.3 * ms, 7) DESC, cid)
             |        AS rk
             |    FROM c3) WHERE rk = 1),
             |sel3 AS (SELECT qid, cid FROM sel2
             |  UNION ALL SELECT qid, cid FROM s3),
             |c4 AS (SELECT c.qid, c.cid, c.rel, max(w.sim) AS ms
             |  FROM cand c
             |  LEFT JOIN sel3 ex ON ex.qid = c.qid AND ex.cid = c.cid
             |  JOIN pw2 w ON w.qid = c.qid AND w.x = c.cid
             |  JOIN sel3 s ON s.qid = w.qid AND s.cid = w.y
             |  WHERE ex.cid IS NULL GROUP BY 1, 2, 3),
             |s4 AS (SELECT qid, cid, rel, score FROM (
             |    SELECT qid, cid, rel,
             |      round(0.7 * rel - 0.3 * ms, 7) AS score,
             |      row_number() OVER (PARTITION BY qid
             |        ORDER BY round(0.7 * rel - 0.3 * ms, 7) DESC, cid)
             |        AS rk
             |    FROM c4) WHERE rk = 1),
             |sel4 AS (SELECT qid, cid FROM sel3
             |  UNION ALL SELECT qid, cid FROM s4),
             |c5 AS (SELECT c.qid, c.cid, c.rel, max(w.sim) AS ms
             |  FROM cand c
             |  LEFT JOIN sel4 ex ON ex.qid = c.qid AND ex.cid = c.cid
             |  JOIN pw2 w ON w.qid = c.qid AND w.x = c.cid
             |  JOIN sel4 s ON s.qid = w.qid AND s.cid = w.y
             |  WHERE ex.cid IS NULL GROUP BY 1, 2, 3),
             |s5 AS (SELECT qid, cid, rel, score FROM (
             |    SELECT qid, cid, rel,
             |      round(0.7 * rel - 0.3 * ms, 7) AS score,
             |      row_number() OVER (PARTITION BY qid
             |        ORDER BY round(0.7 * rel - 0.3 * ms, 7) DESC, cid)
             |        AS rk
             |    FROM c5) WHERE rk = 1)
             |SELECT qid AS query_id, 1 AS sel_rank, cid AS cand_id,
             |  rel, score AS mmr_score FROM s1
             |UNION ALL SELECT qid, 2, cid, rel, score FROM s2
             |UNION ALL SELECT qid, 3, cid, rel, score FROM s3
             |UNION ALL SELECT qid, 4, cid, rel, score FROM s4
             |UNION ALL SELECT qid, 5, cid, rel, score FROM s5
             |ORDER BY query_id, sel_rank""".stripMargin)),


    // ---------------------------------------------------------------------
    // q166: Johnson-Lindenstrauss ±1 projection (Achlioptas 2003) 64→16
    // dims with a cosine-distortion audit over adjacent-id pairs. The
    // sign matrix derives from md5 of the index pair — seedless and
    // engine-portable (the q110/q126 md5-split stance), so the twin
    // reproduces the projection bit-for-bit from SQL. Projection is a
    // pure per-row expression over a literal 16×64 matrix; the audit
    // pair join is id-shifted (linear), summary is a 1-row broadcast.
    QueryDef("q166_jl_distortion",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"),
          Vec.asDouble(col("embedding")).as("vec"))
        graft.operators.Project.jlDistortion(e, "vec_id", "vec",
            dOut = 16, dIn = 64)
          .orderBy(col("id_a"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sgn AS (SELECT k, j,
             |    CASE WHEN substring(md5(k || '_' || j), 1, 1)
             |      BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS s
             |  FROM (SELECT unnest(range(0, 16)) AS k),
             |       (SELECT unnest(range(0, 64)) AS j)),
             |el AS (SELECT vec_id, j, v[CAST(j + 1 AS INT)] AS x
             |  FROM e, (SELECT unnest(range(0, 64)) AS j)),
             |pv AS (SELECT vec_id, k, sum(x * s) AS p
             |  FROM el JOIN sgn USING (j) GROUP BY 1, 2),
             |pp AS (SELECT a.vec_id AS id_a, sum(a.p * b.p) AS dd,
             |    sum(a.p * a.p) AS n2a, sum(b.p * b.p) AS n2b
             |  FROM pv a JOIN pv b ON b.vec_id = a.vec_id + 1
             |    AND b.k = a.k
             |  GROUP BY 1),
             |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_cosine_similarity(a.v, b.v), 6) AS cos_orig
             |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
             |j AS (SELECT p.id_a, p.id_b, p.cos_orig,
             |    round(pp.dd / sqrt(pp.n2a * pp.n2b), 6) AS cos_proj
             |  FROM pairs p JOIN pp ON pp.id_a = p.id_a),
             |g AS (SELECT id_a, id_b, cos_orig, cos_proj,
             |    round(abs(cos_orig - cos_proj), 6) AS abs_gap FROM j),
             |sm AS (SELECT round(avg(abs_gap), 6) AS mean_gap,
             |    round(max(abs_gap), 6) AS max_gap FROM g)
             |SELECT id_a, id_b, cos_orig, cos_proj, abs_gap,
             |  mean_gap, max_gap
             |FROM g CROSS JOIN sm ORDER BY id_a""".stripMargin)),


    // ---------------------------------------------------------------------
    // q171: embedding-space outlier audit — distance of every vector to
    // its LABEL centroid, flagged by the per-label median/MAD rule
    // (q148's robust kernel on a derived geometric feature). Catches
    // the mis-embedded/corrupt/mislabeled vectors a value-level audit
    // can't see; the planted constant-vector corruption (every 83rd id)
    // MUST surface. One centroid aggregate (|labels|×dim, broadcast),
    // one scoring scan, two |labels|-row percentile aggregates.
    QueryDef("q171_embedding_outliers",
      (s, dir) => {
        val e0 = t(s, dir, "embeddings").select(col("vec_id"),
          col("label"), Vec.asDouble(col("embedding")).as("v"))
        val e = e0.select(col("vec_id"), col("label"),
          when(col("vec_id") % 83 === 0,
            expr("transform(v, x -> 0.25d)")).otherwise(col("v"))
            .as("v"))
        val cent = e.groupBy(col("label"))
          .agg(Vec.sumAgg(col("v")).as("sv"), count(lit(1)).as("n"))
          .select(col("label"), expr("transform(sv, x -> x / n)")
            .as("c"))
        val dist = e.join(broadcast(cent), Seq("label"))
          .select(col("label"), col("vec_id"),
            round(sqrt(Vec.l2sq(col("v"), col("c"))), 6).as("dist"))
        graft.operators.Outliers.madOutliers(
            dist, "label", "vec_id", "dist", k = 3.0)
          .orderBy(col("label"), col("vec_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (SELECT vec_id, label,
             |    CASE WHEN vec_id % 83 = 0
             |      THEN list_transform(v, x -> 0.25) ELSE v END AS v
             |  FROM e0),
             |el AS (SELECT vec_id, label, j, v[CAST(j AS INT)] AS x
             |  FROM e, (SELECT unnest(range(1, 65)) AS j)),
             |ct AS (SELECT label, j, sum(x) / count(*) AS c
             |  FROM el GROUP BY 1, 2),
             |d AS (SELECT el.vec_id, el.label,
             |    round(sqrt(sum((el.x - ct.c) * (el.x - ct.c))), 6)
             |      AS dist
             |  FROM el JOIN ct ON ct.label = el.label AND ct.j = el.j
             |  GROUP BY el.vec_id, el.label),
             |med AS (SELECT label, quantile_cont(dist, 0.5) AS m
             |  FROM d GROUP BY 1),
             |ad AS (SELECT d.label, vec_id, dist, abs(dist - m) AS adev,
             |    m FROM d JOIN med USING (label)),
             |mad AS (SELECT label, quantile_cont(adev, 0.5) AS md
             |  FROM ad GROUP BY 1)
             |SELECT a.label, vec_id, dist,
             |  round(m, 6) AS group_median, round(md, 6) AS group_mad,
             |  round(adev / nullif(1.4826 * md, 0.0), 4) AS score
             |FROM ad a JOIN mad USING (label)
             |WHERE round(adev / nullif(1.4826 * md, 0.0), 4) > 3.0
             |ORDER BY label, vec_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q200: the PRODUCTION IVF-PQ operating point, recall-graded — q95's
    // residual IVF-PQ at the parameters its scaladoc prescribes for large
    // corpora (nlist = 64, nprobe = 4 << nlist) with a CORPUS-SIZE-
    // INDEPENDENT query set (vec_id % 25 = 0 AND < 500: the same 20
    // queries at every SF). q95 pins nprobe = nlist so only quantization
    // is under contract; here IVF recall itself is the graded quantity:
    // both engines restate the full pipeline (coarse assign at 64 lists,
    // residual encode, 4-list probe, ADC top-10) AND the exact round-6
    // brute-force truth, and the output is per-query recall@10. The twin
    // recomputes everything from scratch in SQL, so a routing, encode, or
    // scoring divergence shows up as a recall mismatch. This operating
    // point is also the round-12 janino-fallback configuration:
    // PqCodegenSpec asserts the exact plan graded here compiles
    // whole-stage with zero interpreted fallbacks. Expected values: the
    // synthetic embeddings are near-isotropic (no cluster structure for
    // the coarse quantizer to exploit), so measured recall@10 sits at
    // 0.12-0.28 mean across SFs — well above the 4/64 random-routing
    // floor but far below clustered-data recall; the graded contract is
    // the recall COMPUTATION (routing + encode + ADC + truth), with the
    // quality/speed trade owned by (nlist, nprobe) per deployment.
    QueryDef("q200_ivfpq_prod_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val model = Similarity.pqTrainResidual(e, "vec_id", "vec",
          m = 8, k = 16, nlist = 64)
        val approx = Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
            k = 10, model, nlist = 64, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"))
        // exact truth: brute-force round-6 cosine top-10, q95's tie order
        val c = e.select(col("vec_id").as("neighbor_id"),
          col("vec").as("cvec"), Vec.norm(col("vec")).as("cnrm"))
        val qn = q.select(col("qid").as("query_id"), col("qvec"),
          Vec.norm(col("qvec")).as("qnrm"))
        val scored = c.join(broadcast(qn),
            col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
              col("qnrm"), col("cnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        qn.select(col("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 4).as("recall"))
          .orderBy(col("query_id"))
      },
      Some(ivfpqRecallOracle)),


    // ---------------------------------------------------------------------
    // q203: the PERSISTED IVF-PQ ANN index — q200's exact pipeline with
    // the encoded lists actually written once (Similarity.writeAnnIndex:
    // (id, cent_id, codes, rnorm) bucketed by cent_id, model in
    // meta.json) and probed through the catalog table
    // (readAnnIndex/probeAnnIndex): the probe joins the lists
    // pre-partitioned on exactly its key with NO index-side exchange
    // (AnnIndexSpec pins the plan), only the query side shuffles — the
    // q194 storage argument applied to ANN. Identical recall output
    // through the persisted path is the equivalence evidence: the oracle
    // is q200's verbatim (model training, encode, routing, ADC and the
    // brute-forced truth all restated from scratch), so a meta.json
    // round-trip loss, a bucketed-layout slip, or a probe-side scoring
    // divergence each moves the hash.
    QueryDef("q203_ann_index",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val path = scratchPath(dir, "graft_ann_idx_")
        val name = "q203_idx_" + path.takeRight(12)
        Similarity.writeAnnIndex(e, "vec_id", "vec", path, name,
          m = 8, k = 16, nlist = 64, numBuckets = 16)
        val idx = Similarity.readAnnIndex(s, path, name)
        val approx = Similarity.probeAnnIndex(idx, q, "qid", "qvec",
            k = 10, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"))
        val c = e.select(col("vec_id").as("neighbor_id"),
          col("vec").as("cvec"), Vec.norm(col("vec")).as("cnrm"))
        val qn = q.select(col("qid").as("query_id"), col("qvec"),
          Vec.norm(col("qvec")).as("qnrm"))
        val scored = c.join(broadcast(qn),
            col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
              col("qnrm"), col("cnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        qn.select(col("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 4).as("recall"))
          .orderBy(col("query_id"))
      },
      // q200's oracle verbatim: the persisted path must land the same
      // per-query recall as the inline pipeline the twin restates
      Some(ivfpqRecallOracle)),


    // ---------------------------------------------------------------------
    // q208: self-supervised-prototypes data pruning (Sorscher et al. 2022,
    // "Beyond neural scaling laws"): cluster embeddings with the q77 Lloyd
    // trainer, score each example's prototypicality as its cosine to its
    // assigned centroid, and prune the EASIEST (most prototypical) 20% of
    // each cluster — the abundant-data regime of the paper. Per-cluster
    // frames only (the rank window partitions by cent_id); prune counts in
    // exact integer arithmetic (n*20/100 — the cross-engine floor trap).
    // The twin restates the whole chain: seeds, two Lloyd passes, the
    // per-cluster prototypicality ranking and the cut.
    QueryDef("q208_prototype_prune",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val hist = graft.operators.Similarity.centroidHistory(
          e, "vec_id", "vec", nlist = 8, iters = 2)
        val scored = e.join(broadcast(hist(2)))
          .select(col("vec_id"), col("cent_id"),
            Vec.cosine(col("vec"), col("cent_vec")).as("sim"))
        val wBest = Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("cent_id").asc)
        val kept = scored.withColumn("rk", row_number().over(wBest))
          .filter(col("rk") === 1).drop("rk")
        // per-cluster prototypicality rank: most-similar first
        val wProto = Window.partitionBy(col("cent_id"))
          .orderBy(col("sim").desc, col("vec_id").asc)
        val ranked = kept.withColumn("prank", row_number().over(wProto))
        val sizes = ranked.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n_members"))
        ranked.join(sizes, Seq("cent_id"))
          // `div`, not `/`: Column./ is DOUBLE division; the prune count
          // must be exact integer floor in both engines
          .withColumn("pruned", col("prank") <= expr("n_members * 20 div 100"))
          .groupBy(col("cent_id"))
          .agg(max(col("n_members")).as("n_members"),
            sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
            sum(when(!col("pruned"), 1L).otherwise(0L)).as("n_kept"),
            round(max(when(!col("pruned"), col("sim"))), 6)
              .as("max_kept_sim"),
            round(avg(when(!col("pruned"), col("sim"))), 4)
              .as("kept_avg_sim"))
          .orderBy(col("cent_id"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
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
             |fin AS (
             |  SELECT vec_id, c.cent_id,
             |    list_cosine_similarity(e.v, c.cv) AS sim,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id)
             |      AS rk
             |  FROM e CROSS JOIN cents2 c),
             |kept AS (SELECT vec_id, cent_id, sim FROM fin WHERE rk = 1),
             |ranked AS (
             |  SELECT vec_id, cent_id, sim, row_number() OVER (
             |      PARTITION BY cent_id ORDER BY sim DESC, vec_id ASC)
             |      AS prank
             |  FROM kept),
             |sizes AS (
             |  SELECT cent_id, count(*) AS n_members FROM ranked
             |  GROUP BY cent_id),
             |flagged AS (
             |  SELECT r.*, s.n_members,
             |    (r.prank <= s.n_members * 20 // 100) AS pruned
             |  FROM ranked r JOIN sizes s USING (cent_id))
             |SELECT cent_id, max(n_members) AS n_members,
             |  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_pruned,
             |  CAST(sum(CASE WHEN NOT pruned THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  round(max(CASE WHEN NOT pruned THEN sim END), 6)
             |    AS max_kept_sim,
             |  round(avg(CASE WHEN NOT pruned THEN sim END), 4)
             |    AS kept_avg_sim
             |FROM flagged GROUP BY cent_id ORDER BY cent_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q214: the ANN STREAMING ingest loop end-to-end under the oracle gate
    // — VecStream.ingestAnnStream given the q202 treatment: two real
    // Structured Streaming drains against one checkpoint over the
    // persisted IVF-PQ index. batch1 (copies of the 20 q200 query vectors,
    // ids +100000) streams in, is probed for its top-10 neighbors against
    // the BASE index, then ABSORBED (encoded with the frozen persisted
    // model); batch2 (copies of 20 other vectors, ids +200000) streams
    // through a RESTARTED query and must rank against base ∪ batch1.
    // Graded output: per streamed query, recall@10 of the SINK rows
    // against the exact brute-force truth at that batch's visibility —
    // a routing, frozen-model encode, absorb-replay, checkpoint, or ADC
    // divergence each moves it. The twin restates the whole pipeline from
    // scratch (q200's deterministic sampled model), exploiting that a
    // copied vector encodes IDENTICALLY under the frozen model, so
    // batch1's reconstructions are the base reconstructions re-keyed.
    QueryDef("q214_ann_ingest_stream",
      (s, dir) => {
        import graft.streaming.VecStream
        val raw = t(s, dir, "embeddings")
        val e = raw.select(col("vec_id"),
          Vec.asDouble(col("embedding")).as("vec"))
        val b1raw = raw.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        val b2raw = raw.filter(col("vec_id") % 25 === 5 && col("vec_id") < 500)
          .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
        val base = freshScratchPath(s, dir, "graft_q214_")
        val (idxPath, vecsDir, outDir, ckpt) = (s"$base/idx",
          s"$base/vecs", s"$base/nn", s"$base/ckpt")
        val name = "q214_idx_" + base.takeRight(12)
        Similarity.writeAnnIndex(e, "vec_id", "vec", idxPath, name,
          m = 8, k = 16, nlist = 64, numBuckets = 16)
        val idx = Similarity.readAnnIndex(s, idxPath, name)
        // drain 1: batch1 lands, is probed against base, then absorbed
        b1raw.coalesce(1).write.mode("append").parquet(vecsDir)
        VecStream.ingestAnnStream(s, vecsDir, idx, outDir, ckpt,
          k = 10, nprobe = 4)
        // drain 2: a RESTART — batch2 probes base ∪ batch1
        b2raw.coalesce(1).write.mode("append").parquet(vecsDir)
        VecStream.ingestAnnStream(s, vecsDir, idx, outDir, ckpt,
          k = 10, nprobe = 4)
        val approx = s.read.parquet(outDir)
          .select(col("query_id"), col("neighbor_id"))
        // exact truth at each batch's visibility (phase 0 = base corpus,
        // 1 = batch1): a query of phase p ranks corpus rows of phase < p
        val b1d = b1raw.select(col("vec_id"),
          Vec.asDouble(col("embedding")).as("vec"))
        val b2d = b2raw.select(col("vec_id"),
          Vec.asDouble(col("embedding")).as("vec"))
        val corpus = e.withColumn("cphase", lit(0))
          .unionByName(b1d.withColumn("cphase", lit(1)))
          .select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
            Vec.norm(col("vec")).as("cnrm"), col("cphase"))
        val qn = b1d.withColumn("qphase", lit(1))
          .unionByName(b2d.withColumn("qphase", lit(2)))
          .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
            Vec.norm(col("vec")).as("qnrm"), col("qphase"))
        val scored = corpus.join(broadcast(qn),
            col("cphase") < col("qphase") &&
              col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
              col("qnrm"), col("cnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        qn.select(col("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 4).as("recall"))
          .orderBy(col("query_id"))
      },
      // ivfpqRecallOracle's model/encode/probe restated with PHASED
      // visibility; batch reconstructions are the base ones re-keyed
      // (identical input + frozen model => identical codes)
      Some("""WITH e AS (
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
             |rc2 AS (
             |  SELECT vec_id, cidx, xhat, 0 AS cphase FROM recon
             |  UNION ALL
             |  SELECT vec_id + 100000, cidx, xhat, 1 FROM recon
             |  WHERE vec_id % 25 = 0 AND vec_id < 500),
             |qs AS (
             |  SELECT vec_id + 100000 AS query_id, v AS qv, 1 AS qphase
             |  FROM e WHERE vec_id % 25 = 0 AND vec_id < 500
             |  UNION ALL
             |  SELECT vec_id + 200000, v, 2
             |  FROM e WHERE vec_id % 25 = 5 AND vec_id < 500),
             |probes AS (
             |  SELECT query_id, cidx, qphase FROM (
             |    SELECT q.query_id, cc.cidx, q.qphase, row_number() OVER (
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
             |      JOIN rc2 rc
             |        ON rc.cidx = p.cidx AND rc.cphase < p.qphase
             |        AND rc.vec_id <> p.query_id))
             |  WHERE rank <= 10),
             |ex2 AS (
             |  SELECT vec_id, v, 0 AS cphase FROM e
             |  UNION ALL
             |  SELECT vec_id + 100000, v, 1 FROM e
             |  WHERE vec_id % 25 = 0 AND vec_id < 500),
             |exact AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (
             |        PARTITION BY query_id
             |        ORDER BY cosine DESC, neighbor_id) AS rank
             |    FROM (
             |      SELECT q.query_id, e2.vec_id AS neighbor_id,
             |        round(list_cosine_similarity(q.qv, e2.v), 6) AS cosine
             |      FROM qs q JOIN ex2 e2
             |        ON e2.cphase < q.qphase AND e2.vec_id <> q.query_id))
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
             |ORDER BY q.query_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q217: the RAISED production operating point over the persisted
    // IVF-PQ index — the r14 verdict's recall question answered and
    // graded. q200/q203/q214 pin the recall COMPUTATION at the ADC
    // operating point (nprobe = 4, mean recall@10 ≈ 0.2–0.35 on this
    // near-isotropic corpus); this query grades the point a production
    // admission check would actually run: ADC CANDIDATE generation at
    // candK = 500 over nprobe = 48 of 64 lists with k = 64 codebooks,
    // then EXACT re-ranking against the original vectors
    // (Similarity.probeAnnIndexRerank — IVFADC+R, Jégou et al. 2011
    // §III-D). Measured on the AnnCurve sweep (PLANS.md round 15):
    // mean recall@10 = 0.925 at the 2000-vector corpus vs 0.285 for raw
    // ADC at the same nprobe — quantization error leaves the operating
    // point entirely; the residual loss is IVF routing alone. The twin
    // restates the WHOLE pipeline from scratch: coarse assign, residual
    // encode with the 64-entry codebooks, 48-list routing, ADC top-500
    // candidate cut (round-6 + id tie, the restatable order), exact
    // re-rank, and the brute-forced truth — so a candidate-cut, fetch,
    // or re-score divergence each moves the per-query recall hash.
    QueryDef("q217_ann_rerank_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val path = scratchPath(dir, "graft_rerank_idx_")
        val name = "q217_idx_" + path.takeRight(12)
        Similarity.writeAnnIndex(e, "vec_id", "vec", path, name,
          m = 8, k = 64, nlist = 64, numBuckets = 16)
        val idx = Similarity.readAnnIndex(s, path, name)
        val approx = Similarity.probeAnnIndexRerank(idx, q, "qid", "qvec",
            k = 10, vectors = e, vecIdCol = "vec_id", vecCol = "vec",
            nprobe = 48, candK = 500)
          .select(col("query_id"), col("neighbor_id"))
        val c = e.select(col("vec_id").as("neighbor_id"),
          col("vec").as("cvec"), Vec.norm(col("vec")).as("cnrm"))
        val qn = q.select(col("qid").as("query_id"), col("qvec"),
          Vec.norm(col("qvec")).as("qnrm"))
        val scored = c.join(broadcast(qn),
            col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
              col("qnrm"), col("cnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        qn.select(col("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 4).as("recall"))
          .orderBy(col("query_id"))
      },
      // ivfpqRecallOracle's pipeline with the raised parameters (64-entry
      // codebooks, 48-list probes, ADC top-500 cut) plus the exact
      // re-rank stage — the rerank reads ORIGINAL vectors, so xhat only
      // decides candidate membership, never the final order
      Some("""WITH e AS (
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
             |        ORDER BY vec_id LIMIT 64 OFFSET 64)),
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
             |    FROM qs q CROSS JOIN cc) WHERE rn <= 48),
             |cands AS (
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
             |  WHERE rank <= 500),
             |approx AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (
             |        PARTITION BY query_id
             |        ORDER BY cosine DESC, neighbor_id) AS rank
             |    FROM (
             |      SELECT cd.query_id, cd.neighbor_id,
             |        round(list_cosine_similarity(q.qv, e2.v), 6) AS cosine
             |      FROM cands cd JOIN qs q USING (query_id)
             |      JOIN e e2 ON e2.vec_id = cd.neighbor_id))
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
             |ORDER BY q.query_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // q220: the SCALED production operating point — q217 pinned the recall
    // computation at nlist = 64, a toy list count that happens to fit the
    // 2000-vector sf0.1 corpus; this query grades the SIZING RULE instead
    // (VERDICT r15 item 2): nlist = Similarity.scaledNlist(n) (√n rounded
    // up to a power of two, the standard IVF design point), nprobe =
    // min(nlist, max(3·nlist/4, 32)) — q217's fraction with an
    // EXHAUSTIVE-PROBE FLOOR: at the √n rule, 32 lists is n ≈ 1k, below
    // which IVF routing is risk without savings (the sf0.01 500-vector
    // draw measured 0.895 at 24/32 — one routed-away hit under the
    // floor — while probing all 32 lists there costs exactly a brute
    // scan, which a 500-vector corpus wants anyway; PLANS.md round 16
    // records the honest failure) — k = 256 codebooks (the 8-bit industry
    // size — SAME 1-byte/subspace storage as q217's k = 64, unlocked by
    // the r16 unsigned-code decode), and candK = max(500, n/4). The
    // candidate-cut scaling is what the r16 10x AnnCurve sweeps proved
    // necessary ON THIS CORPUS: the synthetic embeddings are isotropic
    // (no cluster structure), so ADC ranking noise grows with n and a
    // FIXED cut of 500 decays 0.925 → 0.850 (k=64) / 0.940 (k=256) by
    // 20k vectors, while the n/4 cut holds 0.990 mean / 0.90 min at the
    // same 10x point (PLANS.md round 16; clustered real-world corpora
    // hold constant-candK — the knob is exposed and the rule errs
    // toward the floor). Derived points: n = 500 → 32/32 (exhaustive:
    // recall 1.0 by construction), n = 2000 (the
    // gate's sf0.1 recall lane) → 64/48, lane 3x n = 6000 → 128/96, 10x
    // n = 20000 → 256/192. The builder HARD-FAILS (require) when mean
    // recall@10 drops below 0.9, so the gate, the sf0.01 driver sweep,
    // AND the scale lane all mechanically trip if the rule ever loses
    // the recall story at any corpus size. The twin restates the sizing
    // rule itself in SQL (power(2, ceil(log2(sqrt(count(*))))),
    // greatest(500, count(*)//4)) plus the whole IVFADC+R pipeline at
    // those derived parameters.
    QueryDef("q220_ann_rerank_scaled",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
        val n = e.count()
        val nlist = Similarity.scaledNlist(n)
        val nprobe = math.min(nlist, math.max(nlist * 3 / 4, 32))
        val candK = math.max(500L, n / 4).toInt
        val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("qid"), col("vec").as("qvec"))
        val path = scratchPath(dir, "graft_scaled_idx_")
        val name = "q220_idx_" + path.takeRight(12)
        Similarity.writeAnnIndex(e, "vec_id", "vec", path, name,
          m = 8, k = 256, nlist = nlist, numBuckets = 16)
        val idx = Similarity.readAnnIndex(s, path, name)
        val approx = Similarity.probeAnnIndexRerank(idx, q, "qid", "qvec",
            k = 10, vectors = e, vecIdCol = "vec_id", vecCol = "vec",
            nprobe = nprobe, candK = candK)
          .select(col("query_id"), col("neighbor_id"))
        val c = e.select(col("vec_id").as("neighbor_id"),
          col("vec").as("cvec"), Vec.norm(col("vec")).as("cnrm"))
        val qn = q.select(col("qid").as("query_id"), col("qvec"),
          Vec.norm(col("qvec")).as("qnrm"))
        val scored = c.join(broadcast(qn),
            col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
              col("qnrm"), col("cnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        val out = graft.pipeline.Pins.pin(qn.select(col("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)) / 10.0, 4).as("recall"))
          .orderBy(col("query_id")))
        // the operating-point floor: a sizing-rule regression (or a lost
        // rerank) fails the gate/lane run outright instead of shipping a
        // hash-matching-but-degraded recall table
        val mean = out.agg(avg(col("recall"))).head().getDouble(0)
        require(mean >= 0.9,
          f"scaled ANN operating point lost recall: mean@10 = $mean%.3f" +
            f" < 0.9 at n=$n nlist=$nlist nprobe=$nprobe")
        out
      },
      // q217's IVFADC+R twin with every parameter DERIVED from the data:
      // p.nl = the sizing rule; LIMIT/OFFSET turned into row_number
      // windows so the derived nl can parameterize them
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |prm AS (
             |  SELECT CAST(power(2, ceil(log2(sqrt(count(*))))) AS INT)
             |    AS nl,
             |    CAST(greatest(500, count(*) // 4) AS INT) AS ck,
             |    CAST(least(
             |      CAST(power(2, ceil(log2(sqrt(count(*))))) AS INT),
             |      greatest(
             |        (3 * CAST(power(2, ceil(log2(sqrt(count(*))))) AS INT))
             |          // 4,
             |        32)) AS INT) AS np
             |  FROM e),
             |cc AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
             |    v AS cv
             |  FROM e QUALIFY row_number() OVER (ORDER BY vec_id)
             |    <= (SELECT nl FROM prm)),
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
             |  FROM (
             |    SELECT vec_id, r, row_number() OVER (ORDER BY vec_id)
             |      AS rn
             |    FROM res)
             |  WHERE rn > (SELECT nl FROM prm)
             |    AND rn <= (SELECT nl FROM prm) + 256),
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
             |    FROM qs q CROSS JOIN cc)
             |  WHERE rn <= (SELECT np FROM prm)),
             |cands AS (
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
             |  WHERE rank <= (SELECT ck FROM prm)),
             |approx AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (
             |        PARTITION BY query_id
             |        ORDER BY cosine DESC, neighbor_id) AS rank
             |    FROM (
             |      SELECT cd.query_id, cd.neighbor_id,
             |        round(list_cosine_similarity(q.qv, e2.v), 6) AS cosine
             |      FROM cands cd JOIN qs q USING (query_id)
             |      JOIN e e2 ON e2.vec_id = cd.neighbor_id))
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
             |ORDER BY q.query_id""".stripMargin))
  )
}
