package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}


/**
 * 20 entries: similarity search and embedding ops (q_sim_*, q_embed_*) —
 * split verbatim from the former monolithic TrainingCatalog and
 * aggregated there; shared fixtures live in [[TrainingShared]].
 */
private[graft] object TrainingSimEntries {
  import TrainingShared._

  val entries: Map[String, (Q, Option[String])] = Map(

    // skip-gram (center, context) pair counts at ±2 — the word2vec
    // training-pair generator. Pair enumeration is Column-HOF algebra
    // in the scan stage (O(len·window) per doc, no self-join); the
    // only shuffle is the final pair count. Oracle replays via two
    // chained unnest(generate_series) position expansions.
    "q_embed_skipgram" -> (q((s, dir) =>
      TextAnalysis.skipGramPairs(docs(s, dir), "text", window = 2)
        .orderBy("center", "context")
    ), Some("""
      WITH toks AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      pos AS (SELECT t, unnest(generate_series(1, len(t))) AS i FROM toks),
      nb AS (SELECT t, i,
                    unnest(generate_series(greatest(i - 2, 1), least(i + 2, len(t)))) AS j
             FROM pos),
      pair AS (SELECT t[i] AS center, t[j] AS context FROM nb WHERE j <> i)
      SELECT center, context, count(*) AS cnt
      FROM pair GROUP BY 1, 2 ORDER BY 1, 2""")),

    // int8 storage quantization: engine-reproducible codes (both engines
    // round half away from zero) + the per-vector scale. EXPLODED to one
    // (vec_id, pos, code) row per component: the driver's pandas-based
    // comparator cannot sort/hash raw array cells (unhashable ndarray),
    // so array outputs must be scalar-encoded for the oracle.
    "q_embed_quantize" -> (q((s, dir) =>
      embs(s, dir).select(col("vec_id"),
          Similarity.int8QuantScale(col("embedding")).as("scale"),
          posexplode(Similarity.int8Quantize(col("embedding"))).as(Seq("pos", "code")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          col("code").cast("long").as("code"), col("scale"))
    ), Some("""
      WITH m AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max')
            / 127.0 AS scale
        FROM embeddings),
      c AS (
        SELECT vec_id, scale,
          CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
               ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) END AS codes
        FROM m)
      SELECT vec_id, CAST(generate_subscripts(codes, 1) AS BIGINT) AS pos,
             CAST(unnest(codes) AS BIGINT) AS code, scale
      FROM c ORDER BY vec_id, pos""")),

    // grid-accelerated DBSCAN on the 2-d embedding scatter: core =
    // ≥5 neighbors within eps=0.02 (self included), clusters =
    // components of the core-core eps-graph (min-id labels via the
    // dedup CC machinery), borders join their smallest core
    // neighbor, rest is noise. The eps-grid bounds candidates by
    // 3×3 cell occupancy — exact recall, never N². Oracle goes
    // brute-force N² + recursive-CTE closure (a DIFFERENT algorithm
    // proving the same clustering).
    "q_embed_dbscan" -> (q((s, dir) =>
      Similarity.dbscan2d(
          embs(s, dir).select(col("vec_id"),
            element_at(col("embedding"), 1).cast("double").as("x"),
            element_at(col("embedding"), 2).cast("double").as("y")),
          "vec_id", "x", "y", eps = 0.02, minPts = 5)
        .orderBy("id")
    ), Some("""
      WITH RECURSIVE p AS (
        SELECT vec_id AS id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
        FROM embeddings
        WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL),
      pr AS (
        SELECT a.id AS ida, b.id AS idb FROM p a JOIN p b
        ON a.id <> b.id
          AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.02 * 0.02),
      core AS (SELECT ida AS id FROM pr GROUP BY 1 HAVING count(*) + 1 >= 5),
      ce AS (SELECT ida AS a, idb AS b FROM pr
             WHERE ida IN (SELECT id FROM core) AND idb IN (SELECT id FROM core)),
      reach AS (
        SELECT a, b FROM ce
        UNION
        SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a),
      comp AS (SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a),
      corec AS (SELECT c.id, coalesce(comp.rep, c.id) AS cluster
                FROM core c LEFT JOIN comp USING (id)),
      border AS (
        SELECT pr.ida AS id, min(corec.cluster) AS cluster
        FROM pr JOIN corec ON pr.idb = corec.id
        WHERE pr.ida NOT IN (SELECT id FROM core) GROUP BY 1)
      SELECT p.id, coalesce(cc.cluster, bb.cluster) AS cluster,
             CASE WHEN cc.id IS NOT NULL THEN 'core'
                  WHEN bb.id IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role
      FROM p LEFT JOIN corec cc ON p.id = cc.id
             LEFT JOIN border bb ON p.id = bb.id
      ORDER BY p.id""")),

    // PCA fit statistics, EXACT: the upper-triangle scatter matrix
    // Σ codeᵢ·codeⱼ over int8-QUANTIZED embeddings (quantize first →
    // every statistic is an integer sum: engine-reproducible and
    // partitioning-invariant, which float accumulation is not). One
    // treeAggregate — the driver receives d(d+1)/2 longs at any corpus
    // size. The eigensolve + projection consume these via pcaFit /
    // pcaProject, law-tested in OpsSpec (orthonormality, variance
    // ordering, known-direction recovery) — doubles, so spec-tier.
    "q_embed_pca_scatter" -> (q((s, dir) =>
      Similarity.int8ScatterMatrix(
        embs(s, dir).select(Similarity.int8Quantize(col("embedding")).as("codes")),
        "codes", dim = 64)
        .orderBy("i", "j")
    ), Some("""
      WITH m AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v,
          list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max')
            / 127.0 AS scale
        FROM embeddings),
      c AS (
        SELECT CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
               ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) END AS codes
        FROM m),
      ij AS (
        SELECT i, j
        FROM generate_series(1, 64) g1(i), generate_series(1, 64) g2(j)
        WHERE j >= i)
      SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
             CAST(sum(codes[i] * codes[j]) AS BIGINT) AS s
      FROM c, ij GROUP BY 1, 2 ORDER BY 1, 2""")),

    // =====================================================================
    // similarity search
    // =====================================================================
    "q_sim_topk" -> (q((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20), k = 5)
        .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
    }), Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec FROM embeddings),
      s AS (SELECT q_id, n_id, list_cosine_similarity(q_vec, n_vec) AS sim
            FROM q, c WHERE q_id <> n_id),
      r AS (SELECT q_id, n_id, sim,
                   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
            FROM s)
      SELECT q_id, rank, n_id, round(sim, 6) AS sim FROM r WHERE rank <= 5
      ORDER BY q_id, rank""")),

    // margin-based bitext mining (CCMatrix extractor): labels 0/1 act
    // as the two languages; for each A-vector the best B-vector by
    // ratio margin over k=4 cross-lingual neighborhoods, kept at
    // margin ≥ 1.0. ONE broadcast cross-score feeds pair scores and
    // both directional top-k averages; ranking on the rounded margin.
    "q_sim_bitext" -> (q((s, dir) => {
      val e = embs(s, dir)
      Similarity.bitextMine(e.where(col("label") === 0), e.where(col("label") === 1),
        k = 4, threshold = 1.0).orderBy("x_id")
    }), Some("""
      WITH x AS (SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE label = 0),
      y AS (SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE label = 1),
      s AS (SELECT x_id, y_id, list_cosine_similarity(x.v, y.v) AS sim FROM x, y),
      rx AS (SELECT x_id, y_id, sim,
                    row_number() OVER (PARTITION BY x_id ORDER BY sim DESC, y_id) AS rk
             FROM s),
      ax AS (SELECT x_id, avg(sim) AS ax FROM rx WHERE rk <= 4 GROUP BY 1),
      ry AS (SELECT x_id, y_id, sim,
                    row_number() OVER (PARTITION BY y_id ORDER BY sim DESC, x_id) AS rk
             FROM s),
      ay AS (SELECT y_id, avg(sim) AS ay FROM ry WHERE rk <= 4 GROUP BY 1),
      m AS (SELECT s.x_id, s.y_id, round(sim / ((ax + ay) / 2), 6) AS margin
            FROM s JOIN ax USING (x_id) JOIN ay USING (y_id)),
      r AS (SELECT x_id, y_id, margin,
                   row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rk
            FROM m)
      SELECT x_id, y_id, margin FROM r WHERE rk = 1 AND margin >= 1.0
      ORDER BY x_id""")),

    // exact cosine RADIUS search (ε-NN range query): all corpus vectors
    // within a similarity threshold of each query — broadcast queries,
    // corpus never shuffles, threshold prunes in the scan stage
    "q_sim_radius" -> (q((s, dir) => {
      val e = embs(s, dir)
      Similarity.radiusSearch(e, e.where(col("vec_id") < 20), minSim = 0.30)
        .select(col("q_id"), col("n_id"), round(col("sim"), 6).as("sim"))
        .orderBy("q_id", "n_id")
    }), Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec FROM embeddings),
      s AS (SELECT q_id, n_id, list_cosine_similarity(q_vec, n_vec) AS sim
            FROM q, c WHERE q_id <> n_id)
      SELECT q_id, n_id, round(sim, 6) AS sim FROM s WHERE sim >= 0.30
      ORDER BY q_id, n_id""")),

    // hard-negative mining (contrastive training data prep): per anchor,
    // the top-k most-similar vectors with a DIFFERENT label — brute-force
    // tier over the broadcast anchor set, label-mismatch filtered before
    // the per-anchor window; oracle replays the same mismatch predicate
    "q_sim_hard_negatives" -> (q((s, dir) => {
      val e = embs(s, dir)
      Similarity.hardNegatives(e, e.where(col("vec_id") < 20), k = 5)
        .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
    }), Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
                        label AS q_label
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec,
                   label AS n_label FROM embeddings),
      s AS (SELECT q_id, n_id, list_cosine_similarity(q_vec, n_vec) AS sim
            FROM q, c WHERE q_id <> n_id AND q_label IS DISTINCT FROM n_label),
      r AS (SELECT q_id, n_id, sim,
                   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
            FROM s)
      SELECT q_id, rank, n_id, round(sim, 6) AS sim FROM r WHERE rank <= 5
      ORDER BY q_id, rank""")),

    // contrastive training-pair assembly: per anchor, its best same-label
    // positive and top-2 different-label hard negatives in one manifest —
    // the (anchor, positive, negatives) tuples a contrastive run consumes
    "q_sim_contrastive_pairs" -> (q((s, dir) => {
      val e = embs(s, dir)
      val anchors = e.where(col("vec_id") < 20)
      val pos = Similarity.positivePairs(e, anchors, k = 1).withColumn("role", lit("pos"))
      val neg = Similarity.hardNegatives(e, anchors, k = 2).withColumn("role", lit("neg"))
      pos.unionByName(neg)
        .select(col("q_id"), col("role"), col("rank"), col("n_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("q_id", "role", "rank")
    }), Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
                        label AS q_label
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec,
                   label AS n_label FROM embeddings),
      s AS (SELECT q_id, n_id, q_label, n_label,
                   list_cosine_similarity(q_vec, n_vec) AS sim
            FROM q, c WHERE q_id <> n_id),
      pos AS (SELECT q_id, 'pos' AS role,
                     CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank,
                     n_id, sim
              FROM s WHERE q_label IS NOT DISTINCT FROM n_label),
      neg AS (SELECT q_id, 'neg' AS role,
                     CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank,
                     n_id, sim
              FROM s WHERE q_label IS DISTINCT FROM n_label)
      SELECT q_id, role, rank, n_id, round(sim, 6) AS sim FROM pos WHERE rank <= 1
      UNION ALL
      SELECT q_id, role, rank, n_id, round(sim, 6) AS sim FROM neg WHERE rank <= 2
      ORDER BY q_id, role, rank""")),

    // contrastive mining at scale: IVF-cell candidate generation (the
    // swap the exact tier's scaladoc prescribes for corpus-sized anchor
    // sets — candidates from ONE cell-id equi-join, no product join in
    // the plan). Planted-copy oracle in BOTH roles: each anchor gets an
    // exact same-label copy at +1e6 (best positive, own cell, cos 1)
    // and an exact copy under a reserved distinct label at +2e6 (best
    // hard negative, own cell, cos 1); natural pairs top out near cos
    // 0.67 in this corpus, so found=1 / top_sim=1.0 is structural.
    "q_sim_contrastive_ivf" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val anchors = e.where(col("vec_id") < 20)
      val posPlant = anchors.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"), col("label"))
      val negPlant = anchors.select((col("vec_id") + 2000000L).as("vec_id"),
        col("embedding"), lit("__neg__").as("label"))
      val corpus = e.unionByName(posPlant).unionByName(negPlant)
      val cents = ivfCentroidsFor(s, dir, corpus)
      val pos = Similarity.positivePairsIvf(corpus, anchors, k = 1, cents, nprobe = 8)
        .select(col("q_id"), lit("pos").as("role"),
          when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0).as("found"),
          round(col("sim"), 6).as("top_sim"))
      val neg = Similarity.hardNegativesIvf(corpus, anchors, k = 1, cents, nprobe = 8)
        .select(col("q_id"), lit("neg").as("role"),
          when(col("n_id") === col("q_id") + 2000000L, 1).otherwise(0).as("found"),
          round(col("sim"), 6).as("top_sim"))
      pos.unionByName(neg).orderBy("q_id", "role")
    }), Some("""
      WITH a AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 20)
      SELECT q_id, role, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM a CROSS JOIN (SELECT unnest(['neg','pos']) AS role)
      ORDER BY q_id, role""")),

    // corpus-wide k-NN JOIN via shared IVF cells (the SemDeDup/kNN-LM
    // all-pairs primitive): nothing broadcasts — query side IS the
    // corpus, both sides shuffle once on the cell id, candidates meet
    // in a keyed equi-join bounded by cell occupancy. Planted exact
    // copies of every 25th vector must be each other's rank-1 in BOTH
    // directions at cos 1.0 (same cell by construction) — the
    // deterministic-recall oracle pattern of the ANN family.
    "q_sim_knn_join" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val anchors = e.where(col("vec_id") % 25 === 0)
      val planted = anchors.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      val cents = ivfCentroidsFor(s, dir, corpus)
      val knn = Similarity.knnJoinIvf(corpus, k = 3, cents, nprobe = 8)
        .where(col("rank") === 1)
      val fwd = knn.where(col("q_id") < 1000000L && col("q_id") % 25 === 0)
        .select(col("q_id"), lit("fwd").as("dir"),
          when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0).as("found"),
          round(col("sim"), 6).as("top_sim"))
      val bwd = knn.where(col("q_id") >= 1000000L)
        .select((col("q_id") - 1000000L).as("q_id"), lit("bwd").as("dir"),
          when(col("n_id") === col("q_id") - 1000000L, 1).otherwise(0).as("found"),
          round(col("sim"), 6).as("top_sim"))
      fwd.unionByName(bwd).orderBy("q_id", "dir")
    }), Some("""
      WITH a AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 25 = 0)
      SELECT q_id, dir, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM a CROSS JOIN (SELECT unnest(['bwd', 'fwd']) AS dir)
      ORDER BY q_id, dir""")),

    // LSH-bucketed ANN: approximate (bucket recall measured in OpsSpec
    // against the brute-force baseline) → rows-only check.
    // deterministic-recall oracles for the approximate ANN paths: the
    // corpus gains an EXACT copy of every query vector (id + 1_000_000).
    // An identical vector hashes to the same bucket in every RHP table
    // (and lands in the same IVF cell, which the query always probes), so
    // "each query's top-k contains its planted copy at sim 1.0" is
    // guaranteed by construction, not sampled — the oracle states it.
    // Recall-vs-brute-force on natural data stays covered in OpsSpec.
    "q_sim_lsh_topk" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.lshTopK(e.unionByName(planted), queries, k = 5, planes = 4, tables = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    "q_sim_ivf_topk" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      Similarity.ivfSearch(corpus, queries,
          ivfCentroidsFor(s, dir, corpus), k = 5, nprobe = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // the PERSISTED-index search path, driver-checked end to end: the
    // session's fitted centroids are saved to parquet, loaded back, and
    // the search runs against the LOADED copy — bit-exact round-trip
    // means the planted-copy oracle of q_sim_ivf_topk holds verbatim.
    // This is the production shape: fit once (batch), persist, search
    // from the artifact in every later job.
    "q_sim_ivf_saved" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      // pid-keyed stable path, REUSED across invocations (save overwrites):
      // a fresh tempdir per run would accumulate unboundedly over repeated
      // verify/bench passes — same anti-accumulation convention as
      // NestedCatalog.freshScratch
      val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_ivf_idx_${ProcessHandle.current().pid()}", "ivf").toString
      Similarity.saveIvfCentroids(s, path,
        ivfCentroidsFor(s, dir, corpus))
      Similarity.ivfSearch(corpus, queries,
          Similarity.loadIvfCentroids(s, path), k = 5, nprobe = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // MATERIALIZED inverted lists + incremental ingest: the corpus is
    // saved CELL-PARTITIONED (the on-disk shape of a real IVF index),
    // planted query copies arrive via APPEND against the fixed
    // quantizer (no re-assignment of the existing corpus), and the
    // search reads only the probed partitions (static
    // PartitionFilters, PlanSpec-pinned). Found=1 at cos 1.0 proves
    // the appended rows are live in the index.
    "q_sim_ivf_append" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_ivf_lists_${ProcessHandle.current().pid()}", "lists").toString
      val cents = ivfCentroidsFor(s, dir, e)
      Similarity.ivfSaveAssignments(path, e, cents)
      Similarity.ivfAppendAssignments(path, planted, cents)
      Similarity.ivfSearchSaved(s, path, queries, cents, k = 5, nprobe = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // PQ ADC top-k, planted-copy oracle (same design as q_sim_ivf_topk):
    // exact copies of the 20 query vectors are planted at vec_id+1e6; a
    // copy's ADC distance is pure quantization error (the floor of the
    // candidate set), so it must survive the shortlist, and the exact
    // re-rank then pins found=1, top_sim=1.0. Codebooks are fit once per
    // (session, dir) — a PQ index is built once and scanned many times.
    "q_sim_pq_topk" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      Similarity.pqTopK(corpus, queries,
          k = 5, codebooks = pqCodebooksFor(s, dir, corpus), shortlist = 32)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // IVF×PQ composed search (the billion-scale index shape): planted
    // copy lands in the query's own cell (identical vector → identical
    // nearest centroid, and the probe set always contains the query's
    // cell), its ADC distance is the quantization-error floor, and the
    // exact re-rank pins found=1 / top_sim=1.0 — so the composition's
    // correctness is driver-checked end-to-end, not just each tier's.
    "q_sim_ivfpq_topk" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      Similarity.ivfPqTopK(corpus, queries, k = 5,
          centroids = ivfCentroidsFor(s, dir, corpus),
          codebooks = pqCodebooksFor(s, dir, corpus),
          nprobe = 8, shortlist = 32)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // IVF×PQ with RESIDUAL encoding — true IVFADC (Jégou et al. 2011):
    // codes are PQ(v − cell centroid) and the ADC tables rebuild per
    // probed cell from the query's residual — the FAISS-faithful form
    // (raw-coordinate codebooks waste k centroids re-encoding cell
    // means in every subspace). Same planted-copy oracle as the
    // raw-coordinate entry: an identical vector shares the query's
    // cell with residual 0 and re-ranks to cosine 1.0 at rank 1.
    "q_sim_ivfpq_residual" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      val cents = ivfCentroidsFor(s, dir, corpus)
      Similarity.ivfPqResidualTopK(corpus, queries, k = 5,
          centroids = cents,
          codebooks = pqResidualCodebooksFor(s, dir, corpus),
          nprobe = 8, shortlist = 32)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // the PERSISTED IVF×PQ composed index (q_sim_ivf_saved's production
    // shape applied to the billion-scale index): BOTH fitted artifacts —
    // coarse centroids and PQ codebooks — are saved to parquet, loaded
    // back, and the composed search runs entirely from the LOADED copies.
    // Doubles round-trip parquet bit-exactly, so the planted-copy oracle
    // of q_sim_ivfpq_topk holds verbatim against the artifact path.
    "q_sim_ivfpq_saved" -> (q((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
      val planted = queries.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(planted)
      // pid-keyed stable path, reused across invocations (overwrite) —
      // same anti-accumulation convention as q_sim_ivf_saved. Both
      // fitted artifacts ride ONE index table (r15, VERDICT r14 #6):
      // one write + one explicit-schema read-back instead of the four
      // interleaved small driver job chains of the split artifacts.
      val idxPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_ivf_idx_${ProcessHandle.current().pid()}", "ivfpq_index").toString
      Similarity.saveIvfPqIndex(s, idxPath,
        ivfCentroidsFor(s, dir, corpus), pqCodebooksFor(s, dir, corpus))
      val (loadedCents, loadedCbs) = Similarity.loadIvfPqIndex(s, idxPath)
      Similarity.ivfPqTopK(corpus, queries, k = 5,
          centroids = loadedCents,
          codebooks = loadedCbs,
          nprobe = 8, shortlist = 32)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 1000000L, 1).otherwise(0)).as("found"),
          round(max(col("sim")), 6).as("top_sim"))
        .orderBy("q_id")
    }), Some("""
      SELECT vec_id AS q_id, 1 AS found, CAST(1.0 AS DOUBLE) AS top_sim
      FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""")),

    // per-label centroids of the embedding corpus: one partial-aggregated
    // (label, position) shuffle, no window, no collect — see
    // Similarity.centroids for the scale shape. EXPLODED to one
    // (label, pos, c_val) row per component for the same pandas-
    // comparator reason as q_embed_quantize (arrays are unhashable).
    "q_embed_centroid" -> (q((s, dir) =>
      Similarity.centroids(embs(s, dir), "label")
        .select(col("label"), col("n_vecs"),
          posexplode(col("centroid")).as(Seq("pos", "c_val")))
        .select(col("label"), col("n_vecs"),
          (col("pos") + 1).cast("long").as("pos"), col("c_val"))
    ), Some("""
      WITH ex AS (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      s AS (
        SELECT label, pos, sum(CAST(x AS DOUBLE)) AS s, count(*) AS n
        FROM ex GROUP BY 1, 2),
      nv AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs FROM s GROUP BY 1)
      SELECT s.label, nv.n_vecs, CAST(s.pos AS BIGINT) AS pos,
             round(s.s / s.n, 6) AS c_val
      FROM s JOIN nv USING (label) ORDER BY s.label, pos""")),
  )
}
