package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.util.Artifacts.Key


/**
 * 18 entries: end-to-end pipeline compositions, layout, skew (q_pipeline_*, q_layout_*, q_skew_*) —
 * split verbatim from the former monolithic TrainingCatalog and
 * aggregated there; shared fixtures live in [[TrainingShared]].
 */
private[graft] object TrainingPipelineEntries {
  import TrainingShared._

  val entries: Map[String, (Q, Option[String])] = Map(

    // cross-source n-gram OVERLAP matrix: for every unordered source
    // pair, shared distinct trigrams + per-source totals + Jaccard —
    // the pairwise redundancy audit of a mixture design. Pairs only
    // from the gram-keyed self-join of each source's distinct gram set
    "q_pipeline_overlap_matrix" -> (q((s, dir) =>
      TextAnalysis.sourceOverlapMatrix(docs(s, dir), "source", "text", n = 3)
        .orderBy("class_a", "class_b")
    ), Some("""
      WITH toks AS (
        SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      g AS (
        SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS g
        FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)),
      tot AS (SELECT source, count(*) AS tot FROM g GROUP BY 1),
      sh AS (
        SELECT a.source AS class_a, b.source AS class_b, count(*) AS shared_grams
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT class_a, class_b,
             CAST(ta.tot AS BIGINT) AS grams_a, CAST(tb.tot AS BIGINT) AS grams_b,
             CAST(shared_grams AS BIGINT) AS shared_grams,
             CAST(shared_grams AS DOUBLE) / (ta.tot + tb.tot - shared_grams)
               AS jaccard
      FROM sh JOIN tot ta ON ta.source = sh.class_a
              JOIN tot tb ON tb.source = sh.class_b
      ORDER BY class_a, class_b""")),

    // END-TO-END split-leakage audit — the pre-training check a real run
    // executes: assign deterministic splits BY DOC ID (id-keyed, so
    // duplicated TEXT can land on both sides of the cut — exactly the
    // leak this audit exists to catch; text-keyed assignment would send
    // every duplicate to one split and mask it), take the test split's
    // leading 8-grams as the benchmark set, and surface every TRAIN doc
    // containing one. Composes two independently-oracled operators
    // (splitAssign + decontaminate); 5 leaked docs surface at sf0.01.
    "q_pipeline_leakage" -> (q((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        graft.ops.Sampling.splitAssign(col("doc_id").cast("string"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      val train = d.where(col("split") === "train").select(col("doc_id"), col("text"))
      val bench = d.where(col("split") === "test")
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(lower(col("text"))), 1, 8)).as("btext"))
      TextAnalysis.decontaminate(train, "doc_id", "text", bench, "btext", 8)
        .where(col("contaminated"))
        .select(col("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }), Some("""
      WITH d AS (
        SELECT doc_id, text,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e7' THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      toks AS (
        SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM d WHERE length(trim(text)) > 0),
      grams AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
              FROM toks WHERE split = 'train' AND len(t) >= 8)),
      bench AS (
        SELECT DISTINCT array_to_string(t[1:8], ' ') AS g
        FROM toks WHERE split = 'test' AND len(t) >= 8)
      SELECT doc_id, count(DISTINCT g) AS n_hits
      FROM grams JOIN bench USING (g)
      GROUP BY doc_id ORDER BY doc_id""")),

    // Morton (Z-order) key for multi-dimensional layout: the interleave
    // arithmetic the zOrderWrite layout tool sorts by, replayed bit-for
    // bit by the oracle's shift arithmetic (the pruning property itself
    // — every z-sorted file covers a compact 2-D box — is asserted in
    // OpsSpec, where per-file min/max stats are observable)
    "q_layout_zvalue" -> (q((s, dir) =>
      SparkEntry.loader(s, dir)("events")
        .select(col("event_id"),
          graft.ops.Layout.zValue(col("event_id") % 1024, col("user_id") % 1024,
            bits = 10).as("z"))
        .orderBy("event_id")
    ), Some("""
      SELECT event_id,
             CAST(list_sum([
               (((event_id % 1024) >> i) & 1) * (1 << (2*i + 1))
               + (((user_id % 1024) >> i) & 1) * (1 << (2*i))
               for i in range(0, 10)]) AS BIGINT) AS z
      FROM events ORDER BY event_id""")),

    // SMALL-FILE COMPACTION (lakehouse OPTIMIZE): a 64-file fragmented
    // copy of documents rewrites into ⌈bytes/target⌉ sorted files; the
    // entry runtime-enforces that the file count actually shrank, so
    // the oracle's content check rides a genuinely compacted directory
    // (content must be byte-identical — only the layout changes).
    // Per-file row-group stats and ordered-rewrite laws live in OpsSpec
    "q_layout_compact" -> (q((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"${sys.props("java.io.tmpdir")}/graft_compact_${ProcessHandle.current().pid()}_$suffix"
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(64).write.mode("overwrite").parquet(s"$root/frag")
      val stats = graft.ops.Layout.compact(s, s"$root/frag", s"$root/out",
        targetFileBytes = 64L << 20, order = Seq("doc_id"))
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not shrink the layout: $stats")
      s.read.parquet(s"$root/out").orderBy("doc_id")
    }), Some("""
      SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""")),

    // HYBRID retrieval (the RAG stack end to end): BM25 lexical lists
    // and exact-cosine semantic lists (query vectors = the embedding
    // rows sharing the doc ids), fused per query with reciprocal-rank
    // 1/(60+rank) — the Cormack RRF the Fusion op documents, here in
    // its per-query retrieval form. Self-matches are absent from the
    // semantic side by the ANN kernel's q≠n contract; fusion is a
    // full-outer on (query, doc) so either signal alone still ranks.
    // Top-10 per query on the rounded fused score with id tiebreak.
    "q_pipeline_hybrid" -> (q((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark_join" -> Seq("spark", "join"),
            "hash_scan" -> Seq("hash", "table", "scan"),
            "stream_win" -> Seq("stream", "window")),
        k = 50).select(col("qid"), col("id"), col("rank").as("lex_rank"))
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val sem = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 3), k = 50)
        .select(
          when(col("q_id") === 0, "spark_join").when(col("q_id") === 1, "hash_scan")
            .otherwise("stream_win").as("qid"),
          col("n_id").as("id"), col("rank").as("sem_rank"))
      val fused = lex.join(sem, Seq("qid", "id"), "full_outer")
        .select(col("qid"), col("id"),
          round(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)), 6).as("rrf"))
      val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))
      fused.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("id"), col("rrf"))
        .orderBy("qid", "rank")
    }), Some("""
      WITH toks AS (
        SELECT doc_id AS id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0),
      tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (
        SELECT count(*) AS n, avg(coalesce(dl, 0)) AS avgdl
        FROM documents LEFT JOIN dl ON documents.doc_id = dl.id),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      qq AS (SELECT * FROM (VALUES
        ('spark_join', 'spark'), ('spark_join', 'join'),
        ('hash_scan', 'hash'), ('hash_scan', 'table'), ('hash_scan', 'scan'),
        ('stream_win', 'stream'), ('stream_win', 'window')) AS t(qid, term)),
      sc AS (
        SELECT qid, id,
               ln(1 + (n - df + 0.5) / (df + 0.5)) *
               (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
        FROM tf JOIN qq USING (term) JOIN dl USING (id)
                JOIN dfreq USING (term) CROSS JOIN stats),
      lsums AS (SELECT qid, id, round(sum(s), 6) AS score FROM sc GROUP BY 1, 2),
      lex AS (SELECT qid, id,
                     row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS lex_rank
              FROM lsums QUALIFY lex_rank <= 50),
      qv AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 3),
      cv AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sims AS (SELECT q_id, n_id, list_cosine_similarity(qv.v, cv.v) AS sim
               FROM qv, cv WHERE q_id <> n_id),
      sem AS (SELECT CASE q_id WHEN 0 THEN 'spark_join' WHEN 1 THEN 'hash_scan'
                               ELSE 'stream_win' END AS qid,
                     n_id AS id,
                     row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS sem_rank
              FROM sims QUALIFY sem_rank <= 50),
      fused AS (
        SELECT coalesce(lex.qid, sem.qid) AS qid, coalesce(lex.id, sem.id) AS id,
               round(coalesce(1.0 / (60 + lex_rank), 0.0) +
                     coalesce(1.0 / (60 + sem_rank), 0.0), 6) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.qid = sem.qid AND lex.id = sem.id)
      SELECT qid, CAST(rank AS INT) AS rank, id, rrf
      FROM (SELECT qid, id, rrf,
                   row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rank
            FROM fused)
      WHERE rank <= 10 ORDER BY qid, rank""")),

    // incremental ROLLUP maintenance (IVM for distributive aggregates):
    // three event increments chain through aggDelta+merge and the
    // result must equal the batch aggregate over the whole table —
    // maintenance cost tracks the increment, never the history. The
    // oracle IS the batch path (sums rounded: increment-order float
    // summation differs from batch in the far decimals).
    "q_pipeline_rollup" -> (q((s, dir) => {
      val ev = SparkEntry.loader(s, dir)("events")
      val parts = (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i))
      val keys = Seq("event_type")
      val state = parts.tail.foldLeft(
          graft.ops.Rollup.aggDelta(parts.head, keys, "value")) {
        (st, p) => graft.ops.Rollup.merge(st, graft.ops.Rollup.aggDelta(p, keys, "value"), keys)
      }
      state.select(col("event_type"), col("cnt"),
          round(col("sum_v"), 6).as("sum_v"), col("min_v"), col("max_v"),
          round(col("sum_v") / col("cnt"), 6).as("avg_v"))
        .orderBy("event_type")
    }), Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             round(sum(value), 6) AS sum_v, min(value) AS min_v,
             max(value) AS max_v, round(sum(value) / count(*), 6) AS avg_v
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // 3-column Morton key (zValueN — OPTIMIZE ZORDER takes arbitrarily
    // many columns); the oracle replays the 3-way bit interleave
    "q_layout_zvalue3" -> (q((s, dir) =>
      SparkEntry.loader(s, dir)("events")
        .select(col("event_id"),
          graft.ops.Layout.zValueN(Seq(
            col("event_id") % 256, col("user_id") % 256,
            (col("event_id") * 13) % 256), bits = 8).as("z"))
        .orderBy("event_id")
    ), Some("""
      SELECT event_id,
             CAST(list_sum([
               (((event_id % 256) >> i) & 1) * (1 << (3*i + 2))
               + (((user_id % 256) >> i) & 1) * (1 << (3*i + 1))
               + ((((event_id * 13) % 256) >> i) & 1) * (1 << (3*i))
               for i in range(0, 8)]) AS BIGINT) AS z
      FROM events ORDER BY event_id""")),

    // the INCREMENTAL ingestion pipeline, end to end: a delta batch
    // passes (1) exact dedup against the corpus's content-hash index
    // (catches the planted +100000 clones-of-indexed and +200000
    // within-delta clones), then (2) near-dup dedup against the LSH
    // index (catches the corpus's natural non-exact near-dups), then
    // (3) BPE token accounting for the budget ledger — the
    // continuous-ingestion production shape: per increment, history
    // contributes only its indexes, never a re-scan. The oracle replays
    // all three stages relationally.
    "q_pipeline_incremental" -> (q((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val existing = d.where(col("doc_id") < 300)
      val delta = d.where(col("doc_id") >= 300)
        .unionByName(d.where(col("doc_id") < 5)
          .withColumn("doc_id", col("doc_id") + 100000L))
        .unionByName(d.where(col("doc_id") >= 300 && col("doc_id") < 305)
          .withColumn("doc_id", col("doc_id") + 200000L))
      // ONE materialization of the exact-dedup survivors (r14): surv1
      // fans out into FIVE consumers (the delta shingle sets, their
      // band signatures — used on both sides of the candidate join —
      // both verification array attaches, and the final anti-join),
      // and lazily each consumer re-executed the whole union + anti-
      // join + keep-one chain: the entry's plan carried 84 Exchanges.
      // Pinned.hold bounds it to one result-sized pin (drained at the
      // family boundary), the same single-checkpoint hoist as
      // q_budget_mix (r13). Isolated warm 2.36 s -> measured after.
      val surv1 = graft.ops.Pinned.hold("pipeline.incr_surv1",
        Dedup.dedupDeltaAgainstIndex(delta, "doc_id", "text",
          Dedup.hashIndex(existing, "text")))
      val (bands, shingles) = lshIndexFor(s, dir)
      val dropped = Dedup.nearDupDeltaLsh(surv1.select("doc_id", "text"),
          "doc_id", "text", bands, shingles)
        .select(col("delta_id").as("doc_id")).distinct()
      surv1.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("content_hash"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }), Some("""
      WITH ex AS (
        SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        FROM documents WHERE doc_id < 300),
      delta AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 300
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 5
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id >= 300 AND doc_id < 305),
      dh AS (
        SELECT doc_id, text,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        FROM delta),
      novel AS (SELECT * FROM dh WHERE content_hash NOT IN (SELECT h FROM ex)),
      keep AS (SELECT content_hash, min(doc_id) AS doc_id FROM novel GROUP BY 1),
      surv1 AS (
        SELECT k.doc_id, k.content_hash, n.text
        FROM keep k JOIN novel n ON n.doc_id = k.doc_id AND n.content_hash = k.content_hash),
      side AS (
        SELECT doc_id, text, 'idx' AS src FROM documents WHERE doc_id < 300
        UNION ALL SELECT doc_id, text, 'delta' FROM surv1),
      toks AS (
        SELECT doc_id, src, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM side WHERE length(trim(text)) > 0),
      sh AS (
        SELECT doc_id, src, unnest(list_distinct(
          [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) AS s
        FROM toks WHERE len(t) >= 3),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      cop AS (
        SELECT a.doc_id AS delta_id, b.doc_id AS match_id, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s
        WHERE a.src = 'delta' AND (b.src = 'idx' OR b.doc_id < a.doc_id)
        GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT delta_id FROM cop
        JOIN sizes sa ON sa.doc_id = delta_id
        JOIN sizes sb ON sb.doc_id = match_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5)
      SELECT doc_id, content_hash,
             CAST(len(regexp_extract_all(text, '__BPE__')) AS BIGINT) AS n_bpe
      FROM surv1 WHERE doc_id NOT IN (SELECT delta_id FROM dropped)
      ORDER BY doc_id""".replace("__BPE__", BpeSql))),

    // skew tools, driver-checked: the salted join and the explicit
    // two-phase aggregation must be RESULT-invariant vs their plain
    // forms — salting only changes the physical distribution
    "q_skew_salted_join" -> (q((s, dir) => {
      val ev = SparkEntry.loader(s, dir)("events")
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("user_bucket", col("user_id") % 10)
      graft.ops.Skew.saltedJoin(
          ev.select(col("event_id"), col("user_id"), col("value")), dim, "user_id", salts = 8)
        .select(col("event_id"), col("user_id"), col("user_bucket"), col("value"))
    }), Some("""
      SELECT e.event_id, e.user_id, e.user_id % 10 AS user_bucket, e.value
      FROM events e ORDER BY e.event_id""")),

    // TARGETED salting: the heavy-hitters sketch detects the hot keys
    // (every event_type qualifies at minFreq=1000 in this table — the
    // uniform-hot extreme), only their rows take the salted path, and
    // the result is the plain inner join the oracle replays. The
    // mixed hot/cold split + equivalence law live in OpsSpec; here the
    // driver gate proves the composed operator end-to-end.
    "q_skew_salted_auto" -> (q((s, dir) => {
      val ev = SparkEntry.loader(s, dir)("events")
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"))
      graft.ops.Skew.saltedJoinAuto(
          ev.select(col("event_id"), col("event_type"), col("value")), dim,
          "event_type", salts = 8, hotMinFreq = 1000L)
        .select(col("event_id"), col("event_type"), col("type_n"))
    }), Some("""
      WITH d AS (SELECT event_type, count(*) AS type_n FROM events GROUP BY 1)
      SELECT e.event_id, e.event_type, d.type_n
      FROM events e JOIN d USING (event_type) ORDER BY e.event_id""")),

    "q_skew_two_phase" -> (q((s, dir) => {
      import org.apache.spark.sql.Column
      val ev = SparkEntry.loader(s, dir)("events")
      graft.ops.Skew.twoPhaseAgg(ev.select(col("event_type"), col("value")),
        "event_type", salts = 8,
        partials = Map(
          "total" -> ((sum(col("value")), (n: String) => sum(col(n)))),
          "n" -> ((count(lit(1)), (n: String) => sum(col(n))))))
        .select(col("event_type"), round(col("total"), 4).as("total"), col("n"))
    }), Some("""
      SELECT event_type, round(sum(value), 4) AS total, count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // PREFERENCE-PAIR assembly (DPO/RLHF data prep): per source group,
    // ONE (chosen, rejected) pair = the length-score argmax/argmin with
    // deterministic id tie-breaks — struct-ordered max/min aggregates
    // (partial-aggregatable, one keyed shuffle, no window/self-join);
    // oracle replays both argmaxes with dual row_number windows
    "q_pipeline_preference" -> (q((s, dir) =>
      graft.ops.Sampling.preferencePairs(
          docs(s, dir), "source", "doc_id", length(col("text")).cast("long"))
        .orderBy("source")
    ), Some("""
      WITH sc AS (
        SELECT source, doc_id, length(text) AS s
        FROM documents WHERE text IS NOT NULL),
      hi AS (
        SELECT source, doc_id AS chosen_id, s AS chosen_score,
               row_number() OVER (PARTITION BY source
                 ORDER BY s DESC, doc_id DESC) AS r
        FROM sc),
      lo AS (
        SELECT source, doc_id AS rejected_id, s AS rejected_score,
               row_number() OVER (PARTITION BY source
                 ORDER BY s ASC, doc_id ASC) AS r
        FROM sc)
      SELECT h.source, h.chosen_id, CAST(h.chosen_score AS BIGINT) AS chosen_score,
             l.rejected_id, CAST(l.rejected_score AS BIGINT) AS rejected_score
      FROM hi h JOIN lo l ON h.source = l.source AND h.r = 1 AND l.r = 1
      WHERE h.chosen_id <> l.rejected_id
      ORDER BY h.source""")),

    // DEAD-LETTER JSON ingestion: every 37th payload is truncated mid-
    // string (unparseable), the parse routes it to quarantine with its
    // RAW payload preserved while valid rows surface their fields —
    // from_json's null-struct-on-malformed contract vs DuckDB's
    // json_valid/json_extract replay. Zero shuffle; both routes are
    // filters over one scan.
    "q_pipeline_deadletter" -> (q((s, dir) => {
      val js = concat(lit("{\"k\": "), col("doc_id"),
        lit(", \"s\": \"v"), col("doc_id"), lit("\"}"))
      val payload = when(col("doc_id") % 37 === 0,
        expr("substring(__js, 1, length(__js) - 2)")).otherwise(col("__js"))
      val raw = docs(s, dir).select(col("doc_id"), js.as("__js"))
        .select(col("doc_id"), payload.as("payload"))
      val parsed = graft.etl.DeadLetter.parse(raw, "payload", "k LONG, s STRING")
      parsed.select(col("doc_id"), col("ok"), col("route"),
          when(col("ok"), col("parsed.k")).as("k"),
          when(col("ok"), col("parsed.s")).as("s"),
          when(!col("ok"), col("payload")).as("quarantined_payload"))
        .orderBy("doc_id")
    }), Some("""
      WITH j AS (
        SELECT doc_id,
          '{"k": ' || doc_id || ', "s": "v' || doc_id || '"}' AS js
        FROM documents),
      p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 37 = 0 THEN substr(js, 1, length(js) - 2)
               ELSE js END AS payload
        FROM j)
      SELECT doc_id, json_valid(payload) AS ok,
             CASE WHEN json_valid(payload) THEN 'main' ELSE 'dead_letter' END AS route,
             CASE WHEN json_valid(payload)
                  THEN CAST(json_extract(payload, '$.k') AS BIGINT) END AS k,
             CASE WHEN json_valid(payload)
                  THEN json_extract_string(payload, '$.s') END AS s,
             CASE WHEN NOT json_valid(payload) THEN payload END
               AS quarantined_payload
      FROM p ORDER BY doc_id""")),

    // per-source DATA-CARD report (datasheets practice): doc count,
    // token total, exact-duplicate membership count and fraction per
    // source — two map-side-combined keyed aggregates, all-integer
    // except the final exact division
    "q_pipeline_datacard" -> (q((s, dir) =>
      TextAnalysis.corpusReport(docs(s, dir), "source", "text")
        .orderBy("source")
    ), Some("""
      WITH m AS (
        SELECT source,
          coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0) AS n_tok,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      fpg AS (SELECT source, fp, count(*) AS cnt, sum(n_tok) AS tok
              FROM m GROUP BY 1, 2)
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_docs,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / sum(cnt) AS dup_frac
      FROM fpg GROUP BY source ORDER BY source""")),

    // corpus MIX-DRIFT between two snapshots: the doc_id<300 "previous
    // release" vs the full corpus — per source, counts in each and the
    // token-share delta (did ingestion shift the mix?); exact integers
    // + single exact divisions, full-outer on the small class domain
    "q_pipeline_drift" -> (q((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.mixDrift(d.where(col("doc_id") < 300), d, "source", "text")
        .orderBy("source")
    }), Some("""
      WITH m AS (
        SELECT doc_id, source,
          coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 0) AS n
        FROM documents),
      aa AS (SELECT source, count(*) AS n_docs_a, sum(n) AS n_tok_a
             FROM m WHERE doc_id < 300 GROUP BY 1),
      bb AS (SELECT source, count(*) AS n_docs_b, sum(n) AS n_tok_b
             FROM m GROUP BY 1),
      j AS (
        SELECT source,
               coalesce(n_docs_a, 0) AS n_docs_a, coalesce(n_tok_a, 0) AS n_tok_a,
               coalesce(n_docs_b, 0) AS n_docs_b, coalesce(n_tok_b, 0) AS n_tok_b
        FROM aa FULL OUTER JOIN bb USING (source)),
      t AS (SELECT sum(n_tok_a) AS ta, sum(n_tok_b) AS tb FROM j)
      SELECT source,
             CAST(n_docs_a AS BIGINT) AS n_docs_a, CAST(n_tok_a AS BIGINT) AS n_tok_a,
             CAST(n_docs_b AS BIGINT) AS n_docs_b, CAST(n_tok_b AS BIGINT) AS n_tok_b,
             CASE WHEN ta > 0 THEN CAST(n_tok_a AS DOUBLE) / ta END AS share_a,
             CASE WHEN tb > 0 THEN CAST(n_tok_b AS DOUBLE) / tb END AS share_b,
             (CASE WHEN tb > 0 THEN CAST(n_tok_b AS DOUBLE) / tb END)
               - (CASE WHEN ta > 0 THEN CAST(n_tok_a AS DOUBLE) / ta END) AS share_delta
      FROM j, t ORDER BY source""")),

    // END-TO-END pretraining-corpus assembly — the second canonical
    // composition (complementing q_pipeline_curate's near-dup path):
    // exact dedup keep-min, benchmark decontamination (8-gram
    // collision), quality floor, per-source token budget, then
    // head-to-tail sequence packing over the survivors. Every stage
    // reuses an independently-oracled operator; the oracle re-composes
    // their SQL formulas over one CTE chain, and every hashed output
    // column is integer (the round-4 encoding rules).
    "q_pipeline_pretrain" -> (q((s, dir) => {
      val d = docs(s, dir)
      val deduped = Dedup.dropExactDuplicates(d, "doc_id", "text")
      val bench = d.where(col("doc_id") % 50 === 0)
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(lower(col("text"))), 1, 8)).as("btext"))
      val clean = TextAnalysis.decontaminate(deduped, "doc_id", "text", bench, "btext", 8)
        .where(!col("contaminated"))
      val good = clean.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      val taken = graft.ops.Sampling.budgetTake(good, "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 2000L)
      graft.ops.Batching.packOffsets(taken, "doc_id", "text", windowTokens = 512L)
        .withColumnRenamed("id", "doc_id")
    }), Some(s"""
      WITH ded AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      bench AS (
        SELECT DISTINCT array_to_string(t[1:8], ' ') AS g
        FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 8),
      grams AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
              FROM toks WHERE len(t) >= 8)),
      contam AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (g)),
      m AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          len(regexp_extract_all(lower(text), '${lexSql("en")}')) AS n_stop,
          length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wordchars,
          length(text) AS n_chars
        FROM documents),
      qual AS (
        SELECT doc_id, n_tok,
          round(
            least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) * 0.3
            + (CASE WHEN n_tok > 0 AND CAST(n_wordchars AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END) * 0.2
            + least((CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.3
            + (1.0 - least((CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 4.0, 1.0)) * 0.2,
            6) AS quality
        FROM m),
      good AS (
        SELECT d.doc_id, d.source, qual.n_tok
        FROM documents d
        JOIN ded USING (doc_id)
        JOIN qual ON qual.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
          AND qual.quality >= 0.5),
      bud AS (
        SELECT doc_id, n_tok,
          CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
        FROM good),
      taken AS (
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS ord
        FROM bud WHERE running <= 2000),
      pack AS (
        SELECT doc_id, n_tok,
          CAST(coalesce(sum(n_tok) OVER (ORDER BY ord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        FROM taken)
      SELECT doc_id, n_tok, "offset",
        CAST("offset" // 512 AS BIGINT) AS window_start,
        CAST((CASE WHEN n_tok > 0 THEN "offset" + n_tok - 1 ELSE "offset" END) // 512 AS BIGINT) AS window_end
      FROM pack ORDER BY doc_id""")),

    // CROSS-MODAL curation — the third pipeline composition, tying the
    // text and embedding modalities in one oracle-checked query: docs
    // restricted to the embedded subset (inner join on id), gated by
    // language + the text quality floor, then SEMANTICALLY deduped on
    // the embedding side (exact cosine pairs ≥ 0.45 over the GATED set
    // only, transitively closed, min-id survivor). The 0.45 threshold
    // sits far from any natural pair's ULP boundary (q_dedup_embedding
    // pins the same comparison driver-green at the same threshold).
    "q_pipeline_crossmodal" -> (q((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      // ONE materialization of the gated (lang + 12-regex quality
      // score) docs⋈embs join (r15): it fans out into TWO consumers —
      // the exact cosine pair generation and the final anti-join/token
      // count — and lazily each re-executed the join and re-scored the
      // full corpus. Same single-pin hoist as q_pipeline_incremental
      // (r14); the hold drains at the family boundary.
      val gated = graft.ops.Pinned.hold("pipeline.crossmodal_gated",
        d.join(e, d("doc_id") === e("vec_id"))
          .where(col("lang") === "en" && TextAnalysis.qualityScore(col("text")) >= 0.5)
          .select(col("doc_id"), col("text"), col("embedding")))
      val pairs = Similarity.cosinePairs(
        gated.select(col("doc_id"), col("embedding")), threshold = 0.45,
        idCol = "doc_id")
      val dropped = Dedup.connectedComponents(pairs)
        .where(col("rep") =!= col("node")).select(col("node").as("__drop"))
      gated.join(broadcast(dropped), col("doc_id") === col("__drop"), "left_anti")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .orderBy("doc_id")
    }), Some(s"""
      WITH RECURSIVE m AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          len(regexp_extract_all(lower(text), '${lexSql("en")}')) AS n_stop,
          length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wordchars,
          length(text) AS n_chars
        FROM documents),
      qual AS (
        SELECT doc_id, n_tok,
          round(
            least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) * 0.3
            + (CASE WHEN n_tok > 0 AND CAST(n_wordchars AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END) * 0.2
            + least((CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.3
            + (1.0 - least((CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 4.0, 1.0)) * 0.2,
            6) AS quality
        FROM m),
      gated AS (
        SELECT d.doc_id, qual.n_tok, e.embedding
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
        JOIN qual ON qual.doc_id = d.doc_id
        WHERE d.lang = 'en' AND qual.quality >= 0.5),
      p AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib
        FROM gated a, gated b
        WHERE a.doc_id < b.doc_id
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.45),
      edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      dropped AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING least(a, min(b)) != a)
      SELECT g.doc_id, CAST(g.n_tok AS BIGINT) AS n_tok
      FROM gated g
      WHERE g.doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY g.doc_id""")),

    // END-TO-END curation pipeline — the composition a training-data run
    // actually executes, as ONE oracle-checked query: language filter
    // (en) + quality floor, then near-dup discovery (MinHash-LSH) over
    // ONLY the filtered corpus, transitive cluster closure, keep-one
    // survivor selection, and per-survivor token accounting. Every stage
    // reuses an independently-oracled operator; the oracle re-composes
    // their SQL formulas over a `curated` CTE with a recursive closure.
    "q_pipeline_curate" -> (q((s, dir) => {
      val t = col("text")
      // the regex-heavy curation filter feeds BOTH the LSH discovery and
      // the survivor join — persist it ONCE (the production shape, same
      // reasoning as Extract's increment persist: a bounded working set
      // read by several consumers), reused across repeat invocations on
      // the same (session, dir).
      val cur = persisted(Key("q_pipeline.curated", s, dir))(docs(s, dir)
        .where(TextAnalysis.langId(t) === "en" && TextAnalysis.qualityScore(t) >= 0.5))
      val pairs = Dedup.minhashLshPairs(cur, "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.5)
      val dropped = Dedup.connectedComponents(pairs)
        .where(col("rep") =!= col("node")).select(col("node").as("doc_id"))
      cur.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(t).as("quality"),
          TextAnalysis.bpeTokenCount(t).as("n_bpe"))
    }), Some(s"""
      WITH RECURSIVE qm AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          len(regexp_extract_all(lower(text), '${lexSql("en")}')) AS n_stop,
          len(regexp_extract_all(lower(text), '${lexSql("fr")}')) AS s_fr,
          len(regexp_extract_all(lower(text), '${lexSql("es")}')) AS s_es,
          len(regexp_extract_all(lower(text), '${lexSql("de")}')) AS s_de,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh,
          length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wordchars,
          length(text) AS n_chars
        FROM documents),
      scored AS (
        SELECT doc_id,
          round(
            least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) * 0.3
            + (CASE WHEN n_tok > 0 AND CAST(n_wordchars AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END) * 0.2
            + least((CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.3
            + (1.0 - least((CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 4.0, 1.0)) * 0.2,
            6) AS quality,
          CASE WHEN n_stop + s_fr + s_es + s_de + s_zh = 0 THEN 'und'
               WHEN s_zh > 0 THEN 'zh'
               WHEN n_stop >= s_fr AND n_stop >= s_es AND n_stop >= s_de THEN 'en'
               WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
               WHEN s_es >= s_de THEN 'es'
               ELSE 'de' END AS lang_pred
        FROM qm),
      curated AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN scored USING (doc_id)
        WHERE lang_pred = 'en' AND quality >= 0.5),
      ${jaccardPairsCtes("curated")},
      edges AS (SELECT id_a AS a, id_b AS b FROM jp
                UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      dropped AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING least(a, min(b)) <> a)
      SELECT c.doc_id, scored.quality,
             len(regexp_extract_all(c.text, '$BpeSql')) AS n_bpe
      FROM curated c
      JOIN scored USING (doc_id)
      WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY c.doc_id""")),
  )
}
