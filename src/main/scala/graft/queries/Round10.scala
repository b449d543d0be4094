package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-10 catalog (q161+): the r9 verdict's asks — exact
  * prefix-filtered containment (the de-skewed twin of q157), the
  * TPC-H Q21 multi anti/semi self-join planner shape, trained PQ
  * codebooks, and the streaming interval join's batch twin.
  */
object Round10 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  /** One inclusion-dependency candidate of q185's oracle: distinct
    * child values LEFT-joined to distinct parent values, counts +
    * exact-ppm containment.
    */
  private def oInclusion(label: String, childSql: String,
      parentSql: String): String =
    s"""SELECT '$label' AS candidate,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |  CAST(COUNT(*) - COUNT(p.pv) AS BIGINT) AS n_orphans,
       |  (CAST(COUNT(p.pv) AS BIGINT) * 1000000) // COUNT(*)
       |    AS containment_ppm
       |FROM ($childSql) ch
       |LEFT JOIN ($parentSql) p ON ch.v = p.pv""".stripMargin

  private def oDistinct(colName: String, table: String,
      as: String): String =
    s"SELECT DISTINCT CAST($colName AS VARCHAR) AS $as FROM $table " +
      s"WHERE $colName IS NOT NULL"

  /** The Poisson(1) inverse-CDF CASE of q175's oracle — thresholds
    * are the SAME driver-computed doubles the Spark plan inlines
    * (Stats.poisson1Cdf; Double.toString round-trips through
    * DuckDB's CAST AS DOUBLE).
    */
  private val poissonKCase: String =
    "CASE " + graft.operators.Stats.poisson1Cdf.zipWithIndex
      .map { case (th, i) => s"WHEN u <= CAST($th AS DOUBLE) THEN $i" }
      .mkString(" ") + " ELSE 6 END"

  val defs: Seq[QueryDef] = Seq(

    // ---- exact prefix-filtered containment: same answer as q157
    // (the oracle is deliberately the naive all-pairs SQL), candidate
    // generation bounded by Σ df_pfx(s)·df(s) — the contained side's
    // rarest-shingle prefix keeps corpus-wide boilerplate out of the
    // join (DedupSpec pins prefix ≡ naive; PLANS.md round 10 measured
    // 2.22/7.87/21.67 s at 5k/30k/100k docs vs uncapped 4.69/255.51 s
    // at 5k/30k)
    // consumes the q244 shared ranked-shingle artifact (contained-side
    // prefix, container side, and verification frames are all
    // projections/filters of it — zero corpus passes here)
    QueryDef("q161_containment_prefix",
      (s, dir) => graft.operators.Dedup.containmentPairsPrefix(
          t("documents")(s, dir), "doc_id", "text", n = 3,
          threshold = 0.8,
          rankedIn = Some(Round11.sharedRanked(s, dir)))
        .orderBy(col("contained"), col("container")),
      Some(s"""WITH ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT CASE WHEN x.n <= y.n THEN da ELSE db END
              |    AS contained,
              |  CASE WHEN x.n <= y.n THEN db ELSE da END AS container,
              |  inter, LEAST(x.n, y.n) AS n_small,
              |  GREATEST(x.n, y.n) AS n_big,
              |  inter / LEAST(x.n, y.n) AS containment
              |FROM p JOIN sz x ON da = x.doc_id
              |JOIN sz y ON db = y.doc_id
              |WHERE inter / LEAST(x.n, y.n) >= 0.8
              |ORDER BY contained, container""".stripMargin)),

    // ---- TPC-H Q21 planner shape (suppliers who kept orders
    // waiting): the canon's hardest join topology — an exists AND a
    // not-exists over the SAME fact, correlated on the fact's own
    // key. Lateness here is l_shipdate > o_orderdate + 60 days (this
    // schema carries no commit/receipt dates; the topology is the
    // point). Spark-first shape: ONE late frame built once and used
    // as both the probe and the anti side, the exists → left_semi and
    // not-exists → left_anti both keyed on l_orderkey so the
    // partitioning is reused across the two joins; supplier + nation
    // broadcast. No correlated subquery survives into the plan.
    QueryDef("q162_tpch21",
      (s, dir) => {
        val liAll = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"))
        val ordF = t("orders")(s, dir)
          .where(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val late = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(ordF, col("l_orderkey") === col("o_orderkey"))
          .where(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
          .select(col("l_orderkey"), col("l_suppkey"))
        val suppNation = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .where(col("n_name") === "NATION_9")
            .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        late.as("l1")
          // restrict the probe to the audited nation's suppliers
          // BEFORE the self-joins (broadcast — supplier is a dim)
          .join(broadcast(suppNation),
            col("l1.l_suppkey") === col("s_suppkey"))
          // EXISTS: another supplier in the same order
          .join(liAll.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
          // NOT EXISTS: no OTHER supplier was ALSO late on it
          .join(late.as("l3"),
            col("l1.l_orderkey") === col("l3.l_orderkey") &&
            col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
             |FROM lineitem l1
             |JOIN orders o ON o.o_orderkey = l1.l_orderkey
             |  AND o.o_orderstatus = 'F'
             |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |  AND n.n_name = 'NATION_9'
             |WHERE datediff('day', o.o_orderdate, l1.l_shipdate) > 60
             |AND EXISTS (SELECT 1 FROM lineitem l2
             |  WHERE l2.l_orderkey = l1.l_orderkey
             |    AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
             |  WHERE l3.l_orderkey = l1.l_orderkey
             |    AND l3.l_suppkey <> l1.l_suppkey
             |    AND datediff('day', o3.o_orderdate, l3.l_shipdate)
             |      > 60)
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // ---- PQ codebook training (per-subspace Lloyd, 1 iteration over
    // 8 subspaces × 16 codes): the r9 verdict's last seeded-only
    // training gap. Deterministic by construction — lowest-id seeds,
    // rounded-L2 assignment with lowest-cen_id tie-break, 6-decimal
    // per-dimension means — so the oracle replays the full iteration.
    // Output = the trained codebook as scalar rows (j, cen_id, p, mv).
    QueryDef("q163_pq_train",
      (s, dir) => graft.operators.Similarity.trainedPqCentroids(
          t("embeddings")(s, dir), dims = 64, m = 8, nCentroids = 16,
          iters = 1)
        .select(col("j").cast("bigint").as("j"), col("cen_id"),
          posexplode(col("cv")).as(Seq("p", "mv")))
        .select(col("j"), col("cen_id"), col("p").cast("bigint").as("p"),
          col("mv"))
        .orderBy(col("j"), col("cen_id"), col("p")),
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
             |s AS (SELECT vec_id, t.j, d[t.j*8+1 : t.j*8+8] AS sv
             |  FROM e, range(0, 8) t(j)),
             |cen AS (SELECT j, s.vec_id AS cen_id, sv AS cv FROM s
             |  WHERE s.vec_id IN (SELECT vec_id FROM e
             |    ORDER BY vec_id LIMIT 16)),
             |a0 AS (SELECT s.vec_id AS id, s.j, s.sv, cen_id,
             |    round(list_dot_product(sv, sv)
             |      - 2 * list_dot_product(sv, cv)
             |      + list_dot_product(cv, cv), 6) AS dist2
             |  FROM s JOIN cen ON s.j = cen.j),
             |a1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
             |    ORDER BY dist2, cen_id) AS r FROM a0),
             |asg AS (SELECT id, j, sv, cen_id FROM a1 WHERE r = 1),
             |m1 AS (SELECT j, cen_id, t.p,
             |    round(avg(sv[t.p + 1]), 6) AS mv
             |  FROM asg, range(0, 8) t(p) GROUP BY j, cen_id, t.p)
             |SELECT CAST(j AS BIGINT) AS j, cen_id,
             |  CAST(p AS BIGINT) AS p, mv
             |FROM m1 ORDER BY j, cen_id, p""".stripMargin)),

    // ---- ADC search over the TRAINED codebook (q84's shape with the
    // q163 Lloyd pass swapped in): training changes WHICH centroids
    // broadcast, never the plan — recall@10 0.136 → 0.184 at 3
    // iterations (PLANS.md round 10)
    QueryDef("q164_pq_adc_trained",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        graft.operators.Similarity.pqTopK(
            emb.filter(col("vec_id") < 20), emb, k = 5,
            dims = 64, m = 8, nCentroids = 16, trainIters = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
             |s AS (SELECT vec_id, t.j, d[t.j*8+1 : t.j*8+8] AS sv
             |  FROM e, range(0, 8) t(j)),
             |cen AS (SELECT j, s.vec_id AS cen_id, sv AS cv FROM s
             |  WHERE s.vec_id IN (SELECT vec_id FROM e
             |    ORDER BY vec_id LIMIT 16)),
             |a0 AS (SELECT s.vec_id AS id, s.j, s.sv, cen_id,
             |    round(list_dot_product(sv, sv)
             |      - 2 * list_dot_product(sv, cv)
             |      + list_dot_product(cv, cv), 6) AS dist2
             |  FROM s JOIN cen ON s.j = cen.j),
             |a1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
             |    ORDER BY dist2, cen_id) AS r FROM a0),
             |asg AS (SELECT id, j, sv, cen_id FROM a1 WHERE r = 1),
             |m1 AS (SELECT j, cen_id, t.p,
             |    round(avg(sv[t.p + 1]), 6) AS mv
             |  FROM asg, range(0, 8) t(p) GROUP BY j, cen_id, t.p),
             |cen1 AS (SELECT j, cen_id, list(mv ORDER BY p) AS cv
             |  FROM m1 GROUP BY j, cen_id),
             |b0 AS (SELECT s.vec_id AS id, s.j, cen_id,
             |    round(list_dot_product(sv, sv)
             |      - 2 * list_dot_product(sv, cv)
             |      + list_dot_product(cv, cv), 6) AS dist2
             |  FROM s JOIN cen1 ON s.j = cen1.j),
             |b1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
             |    ORDER BY dist2, cen_id) AS r FROM b0),
             |c AS (SELECT id, j, cen_id AS code FROM b1 WHERE r = 1),
             |qs AS (SELECT vec_id AS query_id, j, sv AS qv FROM s
             |  WHERE vec_id < 20),
             |tbl AS (SELECT query_id, qs.j, cen_id AS code,
             |    CAST(round(list_dot_product(qv, qv)
             |      - 2 * list_dot_product(qv, cv)
             |      + list_dot_product(cv, cv), 6)
             |      AS DECIMAL(20,6)) AS d2
             |  FROM qs JOIN cen1 ON qs.j = cen1.j),
             |sums AS (SELECT query_id, c.id AS neighbor_id,
             |    CAST(SUM(d2) AS DOUBLE) AS adist
             |  FROM c JOIN tbl ON c.j = tbl.j AND c.code = tbl.code
             |  WHERE query_id != c.id GROUP BY query_id, c.id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY adist, neighbor_id) AS rank FROM sums)
             |SELECT query_id, neighbor_id, adist,
             |  CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- stream-stream interval join, batch twin: the SAME
    // EventStreams.intervalJoin code path (withWatermark is a no-op on
    // batch frames) pairing each purchase with the user's clicks in
    // the preceding hour. In streaming, the watermarks bound the join
    // state to O(rate × (watermark + within)); the join condition and
    // output are identical here, which is what EventStreamsSpec's
    // parity test pins — this row puts the semantics under the
    // driver's oracle too.
    QueryDef("q165_interval_join",
      (s, dir) => {
        val ev = t("events")(s, dir)
        graft.streaming.EventStreams.intervalJoin(
            ev.where(col("event_type") === "purchase"),
            ev.where(col("event_type") === "click"),
            key = "user_id", within = "1 HOUR", watermark = "2 hours")
          .orderBy(col("l_event_id"), col("r_event_id"))
      },
      Some("""SELECT l.user_id AS l_key,
             |  CAST(l.ts AS TIMESTAMP) AS l_ts,
             |  l.event_id AS l_event_id, l.value AS l_value,
             |  r.user_id AS r_key, CAST(r.ts AS TIMESTAMP) AS r_ts,
             |  r.event_id AS r_event_id, r.value AS r_value
             |FROM events l JOIN events r
             |  ON l.user_id = r.user_id
             |  AND l.event_type = 'purchase'
             |  AND r.event_type = 'click'
             |  AND r.ts >= l.ts - INTERVAL 1 HOUR
             |  AND r.ts <= l.ts
             |ORDER BY l_event_id, r_event_id""".stripMargin)),

    // ---- Stupid Backoff trigram LM scoring (Brants 2007): train on
    // the even-id half, score the held-out half — trigram hit,
    // α-discounted suffix-bigram backoff, α²·add-one unigram floor
    // (OOV scores finite). Every count is a marginal of ONE training
    // trigram frame; the oracle replays all three branches.
    QueryDef("q166_backoff_lm",
      (s, dir) => graft.operators.Curation.stupidBackoffScores(
          t("documents")(s, dir), "text", "doc_id",
          trainCol = col("doc_id") % 2 === 0)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, doc_id % 2 = 0 AS is_train,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0) AS ws FROM documents),
             |i AS (SELECT doc_id, is_train, ws,
             |    unnest(generate_series(1, len(ws) - 2)) AS i
             |  FROM w WHERE len(ws) >= 3),
             |tg AS (SELECT doc_id, is_train, ws[i] AS w1,
             |    ws[i+1] AS w2, ws[i+2] AS w3 FROM i),
             |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg
             |  WHERE is_train GROUP BY 1, 2, 3),
             |c12 AS (SELECT w1, w2, SUM(c3) AS c12 FROM c3
             |  GROUP BY 1, 2),
             |c23 AS (SELECT w2, w3, SUM(c3) AS c23 FROM c3
             |  GROUP BY 1, 2),
             |c2m AS (SELECT w2, SUM(c3) AS c2m FROM c3 GROUP BY 1),
             |c3u AS (SELECT w3, SUM(c3) AS c3u FROM c3 GROUP BY 1),
             |nv AS (SELECT CAST(SUM(c3) AS BIGINT) AS n_tg,
             |    COUNT(DISTINCT w3) AS v3 FROM c3),
             |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM tg
             |  WHERE NOT is_train GROUP BY 1, 2, 3, 4),
             |sc AS (SELECT tf.doc_id, tf.tf,
             |    CAST(CASE
             |      WHEN c3.c3 IS NOT NULL THEN
             |        round(ln(c3.c3 / c12.c12), 6)
             |      WHEN c23.c23 IS NOT NULL THEN
             |        round(ln(0.4 * c23.c23 / c2m.c2m), 6)
             |      ELSE round(ln(0.4 * 0.4 *
             |        (COALESCE(c3u.c3u, 0) + 1) /
             |        (nv.n_tg + nv.v3)), 6)
             |      END AS DECIMAL(20,6)) AS logp
             |  FROM tf
             |  LEFT JOIN c3 USING (w1, w2, w3)
             |  LEFT JOIN c12 USING (w1, w2)
             |  LEFT JOIN c23 USING (w2, w3)
             |  LEFT JOIN c2m USING (w2)
             |  LEFT JOIN c3u USING (w3)
             |  CROSS JOIN nv),
             |d AS (SELECT doc_id, SUM(tf) AS n_trigrams,
             |    SUM(logp * tf) AS s
             |  FROM sc GROUP BY doc_id)
             |SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
             |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
             |    ((CAST(abs(s) * 1000000 AS BIGINT) * 2 + n_trigrams)
             |      // (n_trigrams * 2)) AS DOUBLE) / 1000000
             |    AS avg_logp
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ---- DSIR importance resampling (Xie 2023): select k docs whose
    // unigram profile looks like the target domain (lang='de'
    // exemplars) vs the raw corpus — per-doc mean log P_t/P_r under
    // two add-one models, then A-ES weighted sampling by exp(ratio)
    // in integer ppm. The whole chain (both models, the integer-micro
    // mean, the clamp, the salted sample keys) replays in the oracle.
    QueryDef("q167_dsir_sample",
      (s, dir) => graft.operators.Curation.dsirSample(
          t("documents")(s, dir), "text", "doc_id",
          targetCol = col("lang") === "de", k = 25)
        .orderBy(col("skey").desc, col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, lang = 'de' AS is_target,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0) AS ws FROM documents),
             |tok AS (SELECT doc_id, is_target, unnest(ws) AS word
             |  FROM w),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
             |  GROUP BY 1, 2),
             |rc AS (SELECT word, COUNT(*) AS rc FROM tok GROUP BY 1),
             |tc AS (SELECT word, COUNT(*) AS tc FROM tok
             |  WHERE is_target GROUP BY 1),
             |nv AS (SELECT CAST(SUM(rc) AS BIGINT) AS n_r,
             |    COUNT(*) AS v FROM rc),
             |nt AS (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS n_t
             |  FROM tc),
             |lw AS (SELECT rc.word,
             |    CAST(round(ln((COALESCE(tc.tc, 0) + 1)
             |        / (nt.n_t + nv.v)), 6) AS DECIMAL(20,6))
             |    - CAST(round(ln((rc.rc + 1)
             |        / (nv.n_r + nv.v)), 6) AS DECIMAL(20,6)) AS d
             |  FROM rc LEFT JOIN tc USING (word)
             |  CROSS JOIN nv CROSS JOIN nt),
             |dd AS (SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
             |    SUM(lw.d * tf.tf) AS s
             |  FROM tf JOIN lw USING (word) GROUP BY 1),
             |m AS (SELECT doc_id,
             |    CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
             |      ((CAST(abs(s) * 1000000 AS BIGINT) * 2 + n_tokens)
             |        // (n_tokens * 2)) AS DOUBLE) / 1000000 AS avg_lr
             |  FROM dd),
             |wt AS (SELECT doc_id,
             |    CAST(round(exp(LEAST(GREATEST(avg_lr, -13.0), 13.0))
             |      * 1000000, 0) AS BIGINT) AS w_ppm FROM m),
             |sk AS (SELECT doc_id, w_ppm AS weight,
             |    round(pow((CAST(concat('0x', substr(md5(
             |        concat('dsir|', doc_id)), 1, 15)) AS BIGINT) + 1)
             |        / 1152921504606846976.0,
             |      1.0 / w_ppm), 6) AS skey
             |  FROM wt WHERE w_ppm > 0)
             |SELECT doc_id, weight, skey FROM sk
             |ORDER BY skey DESC, doc_id LIMIT 25""".stripMargin)),

    // ---- per-group quantile (rank) normalization to exact ppm: the
    // distribution-free feature rescaling — every value maps to its
    // empirical within-stratum quantile
    QueryDef("q168_rank_normalize",
      (s, dir) => graft.operators.Quantiles.rankNormalize(
          t("part")(s, dir), Seq("p_brand"), "p_retailprice",
          "p_partkey")
        .orderBy(col("p_brand"), col("p_partkey")),
      Some("""WITH b AS (SELECT p_brand, p_partkey, p_retailprice,
             |    ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY p_retailprice, p_partkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY p_brand) AS n
             |  FROM part WHERE p_retailprice IS NOT NULL)
             |SELECT p_brand, p_partkey, p_retailprice,
             |  CASE WHEN n > 1 THEN ((rn - 1) * 1000000) // (n - 1)
             |    ELSE 500000 END AS q_ppm
             |FROM b ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---- finite-horizon EWMA over the gap-filled daily series:
    // recency-biased smoothing in EXACT integers (geometric weights
    // 2^(6-j) over the trailing 7 calendar days — the replayable
    // truncation of the order-dependent float recursion)
    QueryDef("q169_ewma_daily",
      (s, dir) => graft.operators.Series.ewmaDaily(
          t("events")(s, dir), "event_type", "ts")
        .select(col("k").as("event_type"), col("day"),
          col("n_events"), col("ewma_milli"))
        .orderBy(col("event_type"), col("day")),
      Some("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day
             |  FROM events),
             |c AS (SELECT event_type, day, COUNT(*) AS n FROM e
             |  GROUP BY 1, 2),
             |sp AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
             |  FROM e GROUP BY 1),
             |cal AS (SELECT event_type,
             |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
             |      AS DATE) AS day FROM sp),
             |f AS (SELECT cal.event_type, cal.day,
             |    CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
             |  FROM cal LEFT JOIN c ON cal.event_type = c.event_type
             |    AND cal.day = c.day),
             |l AS (SELECT event_type, day, n_events,
             |    LAG(n_events, 1) OVER w AS l1,
             |    LAG(n_events, 2) OVER w AS l2,
             |    LAG(n_events, 3) OVER w AS l3,
             |    LAG(n_events, 4) OVER w AS l4,
             |    LAG(n_events, 5) OVER w AS l5,
             |    LAG(n_events, 6) OVER w AS l6
             |  FROM f WINDOW w AS (PARTITION BY event_type
             |    ORDER BY day))
             |SELECT event_type, day, n_events,
             |  ((n_events * 64 + COALESCE(l1 * 32, 0)
             |    + COALESCE(l2 * 16, 0) + COALESCE(l3 * 8, 0)
             |    + COALESCE(l4 * 4, 0) + COALESCE(l5 * 2, 0)
             |    + COALESCE(l6 * 1, 0)) * 1000) //
             |  (64 + CASE WHEN l1 IS NULL THEN 0 ELSE 32 END
             |    + CASE WHEN l2 IS NULL THEN 0 ELSE 16 END
             |    + CASE WHEN l3 IS NULL THEN 0 ELSE 8 END
             |    + CASE WHEN l4 IS NULL THEN 0 ELSE 4 END
             |    + CASE WHEN l5 IS NULL THEN 0 ELSE 2 END
             |    + CASE WHEN l6 IS NULL THEN 0 ELSE 1 END)
             |    AS ewma_milli
             |FROM l ORDER BY event_type, day""".stripMargin)),

    // ---- TPC-H Q2 planner shape (min-cost supplier per part): the
    // correlated-scalar-min + tie-break + re-join topology, Spark-side
    // as ONE min_by aggregation (no window, no self-join) with the
    // supplier/nation dims broadcast; the oracle keeps the doubly
    // correlated subquery form. Unit price in exact integer
    // tenth-cents (BIGINT div of exact decimals).
    QueryDef("q170_argmin_supplier",
      (s, dir) => {
        val u = t("lineitem")(s, dir)
          .withColumn("cents10",
            (col("l_extendedprice").cast("decimal(12,2)") * 100)
              .cast("bigint") * 10)
          .withColumn("qty", col("l_quantity").cast("bigint"))
          .withColumn("unit_milli", expr("cents10 div qty"))
          .select(col("l_partkey"), col("l_suppkey"), col("unit_milli"))
        val sn = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        u.groupBy(col("l_partkey").as("p_partkey"))
          .agg(
            min_by(col("l_suppkey"),
              struct(col("unit_milli"), col("l_suppkey")))
              .as("best_supp"),
            min(col("unit_milli")).as("unit_milli"))
          .join(broadcast(sn), col("best_supp") === col("s_suppkey"))
          .select(col("p_partkey"), col("s_name"), col("n_name"),
            col("unit_milli"))
          .orderBy(col("unit_milli"), col("p_partkey"))
          .limit(100)
      },
      Some("""WITH u AS (SELECT l_partkey, l_suppkey,
             |    (CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
             |      AS BIGINT) * 10) // CAST(l_quantity AS BIGINT)
             |      AS unit_milli
             |  FROM lineitem)
             |SELECT DISTINCT u.l_partkey AS p_partkey, s.s_name,
             |  n.n_name, u.unit_milli
             |FROM u
             |JOIN supplier s ON s.s_suppkey = u.l_suppkey
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |WHERE u.unit_milli = (SELECT MIN(u2.unit_milli) FROM u u2
             |    WHERE u2.l_partkey = u.l_partkey)
             |  AND u.l_suppkey = (SELECT MIN(u3.l_suppkey) FROM u u3
             |    WHERE u3.l_partkey = u.l_partkey
             |      AND u3.unit_milli = (SELECT MIN(u4.unit_milli)
             |        FROM u u4 WHERE u4.l_partkey = u.l_partkey))
             |ORDER BY unit_milli, p_partkey LIMIT 100""".stripMargin)),

    // ---- blocked record linkage (Fellegi-Sunter shape): customer
    // registry vs a synthesized second registry (names perturbed for
    // id%3=0, balances shifted for id%5=0, id%7=0 rows missing) —
    // candidate pairs ONLY within (nation, segment) blocks, integer
    // field-agreement score, threshold keeps name-matches AND
    // exact-balance recoveries of perturbed names; the %15 doubly-
    // perturbed rows score 15 and are the documented misses
    QueryDef("q171_record_linkage",
      (s, dir) => {
        val cents = (col("c_acctbal").cast("decimal(12,2)") * 100)
          .cast("bigint")
        val cust = t("customer")(s, dir)
        val a = cust.select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment"), cents.as("cents"))
        val b = cust.where(col("c_custkey") % 7 =!= 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 3 === 0,
              concat(col("c_name"), lit("~")))
              .otherwise(col("c_name")).as("c_name"),
            col("c_nationkey"), col("c_mktsegment"),
            (when(col("c_custkey") % 5 === 0, col("c_acctbal") + 0.5)
              .otherwise(col("c_acctbal"))
              .cast("decimal(12,2)") * 100).cast("bigint").as("cents"))
        val score =
          when(col("a.c_name") === col("b.c_name"), 40L).otherwise(0L) +
          when(col("a.cents") === col("b.cents"), 35L)
            .when(abs(col("a.cents") - col("b.cents")) <= 100, 15L)
            .otherwise(0L)
        graft.operators.Linkage.scoredPairs(a, b,
            Seq("c_nationkey", "c_mktsegment"), "c_custkey",
            score, minScore = 35L)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH a AS (SELECT c_custkey, c_name, c_nationkey,
             |    c_mktsegment,
             |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
             |      AS BIGINT) AS cents
             |  FROM customer),
             |b AS (SELECT c_custkey,
             |    CASE WHEN c_custkey % 3 = 0 THEN c_name || '~'
             |      ELSE c_name END AS c_name,
             |    c_nationkey, c_mktsegment,
             |    CAST(CAST(CASE WHEN c_custkey % 5 = 0
             |        THEN c_acctbal + 0.5 ELSE c_acctbal END
             |      AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
             |  FROM customer WHERE c_custkey % 7 <> 0),
             |p AS (SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |    CAST(CASE WHEN a.c_name = b.c_name THEN 40
             |      ELSE 0 END +
             |    CASE WHEN a.cents = b.cents THEN 35
             |      WHEN abs(a.cents - b.cents) <= 100 THEN 15
             |      ELSE 0 END AS BIGINT) AS score,
             |    a.c_nationkey, a.c_mktsegment
             |  FROM a JOIN b ON a.c_nationkey = b.c_nationkey
             |    AND a.c_mktsegment = b.c_mktsegment)
             |SELECT a_id, b_id, score, c_nationkey, c_mktsegment
             |FROM p WHERE score >= 35
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- ranking-window suite: ntile / percent_rank / cume_dist /
    // first-last over an explicit full frame — the §2.5 window
    // functions the catalog hadn't exercised yet, all on ONE shared
    // window sort (one exchange)
    QueryDef("q172_window_suite",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val full = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t("orders")(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice"))
          .withColumn("nt", ntile(4).over(w).cast("bigint"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("first_ok", first(col("o_orderkey")).over(full))
          .withColumn("last_ok", last(col("o_orderkey")).over(full))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  ntile(4) OVER w AS nt,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd,
             |  first_value(o_orderkey) OVER wf AS first_ok,
             |  last_value(o_orderkey) OVER wf AS last_ok
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |    ORDER BY o_totalprice, o_orderkey),
             |  wf AS (PARTITION BY o_custkey
             |    ORDER BY o_totalprice, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- bounded min-label propagation (3 rounds) over the shared
    // near-dup pair graph: after k rounds a node's label is the
    // smallest id within distance k — the community/partial-closure
    // signal (unbounded rounds = q45's connected components); every
    // round replays as one oracle CTE
    QueryDef("q173_label_propagation",
      (s, dir) => graft.operators.Graph.labelPropagation(
          CorpusOps.sharedJaccardPairs(s, dir), "da", "db", iters = 3)
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |sym AS (SELECT da AS s, db AS d FROM pairs
              |  UNION ALL SELECT db, da FROM pairs),
              |l0 AS (SELECT node, node AS lbl FROM
              |  (SELECT DISTINCT s AS node FROM sym)),
              |l1 AS (SELECT node, MIN(lbl) AS lbl FROM (
              |    SELECT node, lbl FROM l0 UNION ALL
              |    SELECT sym.d, l0.lbl FROM sym JOIN l0
              |      ON sym.s = l0.node) GROUP BY node),
              |l2 AS (SELECT node, MIN(lbl) AS lbl FROM (
              |    SELECT node, lbl FROM l1 UNION ALL
              |    SELECT sym.d, l1.lbl FROM sym JOIN l1
              |      ON sym.s = l1.node) GROUP BY node),
              |l3 AS (SELECT node, MIN(lbl) AS lbl FROM (
              |    SELECT node, lbl FROM l2 UNION ALL
              |    SELECT sym.d, l2.lbl FROM sym JOIN l2
              |      ON sym.s = l2.node) GROUP BY node)
              |SELECT node AS doc_id, lbl AS community FROM l3
              |ORDER BY doc_id""".stripMargin)),

    // ---- all-pairs correlation matrix in ONE pass: the q151 moment
    // discipline for every pair simultaneously (complete-case rows,
    // shared n) — profiling a feature set without a pass per pair
    QueryDef("q174_corr_matrix",
      (s, dir) => graft.operators.Stats.pearsonMatrix(
          t("lineitem")(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy(col("col_a"), col("col_b")),
      Some("""WITH c AS (SELECT
             |    CAST(l_quantity AS DECIMAL(18,2)) AS a,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS b,
             |    CAST(l_discount AS DECIMAL(18,2)) AS c2
             |  FROM lineitem WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL
             |    AND l_discount IS NOT NULL),
             |m AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(a) AS DOUBLE) AS s0,
             |    CAST(SUM(b) AS DOUBLE) AS s1,
             |    CAST(SUM(c2) AS DOUBLE) AS s2,
             |    CAST(SUM(a*a) AS DOUBLE) AS q0,
             |    CAST(SUM(b*b) AS DOUBLE) AS q1,
             |    CAST(SUM(c2*c2) AS DOUBLE) AS q2,
             |    CAST(SUM(a*b) AS DOUBLE) AS x01,
             |    CAST(SUM(a*c2) AS DOUBLE) AS x02,
             |    CAST(SUM(b*c2) AS DOUBLE) AS x12
             |  FROM c)
             |SELECT col_a, col_b, n, corr FROM (
             |  SELECT 'l_quantity' AS col_a,
             |    'l_extendedprice' AS col_b, n,
             |    round((n * x01 - s0 * s1) /
             |      sqrt((n * q0 - s0 * s0) * (n * q1 - s1 * s1)), 6)
             |      AS corr FROM m
             |  UNION ALL
             |  SELECT 'l_quantity', 'l_discount', n,
             |    round((n * x02 - s0 * s2) /
             |      sqrt((n * q0 - s0 * s0) * (n * q2 - s2 * s2)), 6)
             |    FROM m
             |  UNION ALL
             |  SELECT 'l_extendedprice', 'l_discount', n,
             |    round((n * x12 - s1 * s2) /
             |      sqrt((n * q1 - s1 * s1) * (n * q2 - s2 * s2)), 6)
             |    FROM m)
             |ORDER BY col_a, col_b""".stripMargin)),

    // ---- Poisson-bootstrap CI for the mean (Chamandy 2012 — the
    // at-scale bootstrap: each row's per-resample multiplicity is
    // Poisson(1) from the salted row hash, no global resampling
    // pass); the whole resample set, the exact-milli means, and the
    // type-1 percentile ranks replay in the oracle
    QueryDef("q175_bootstrap_ci",
      (s, dir) => graft.operators.Stats.poissonBootstrapCI(
        t("orders")(s, dir), "o_totalprice", "o_orderkey", b = 40),
      Some(s"""WITH base AS (SELECT o_orderkey AS id,
              |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              |      AS BIGINT) AS cents
              |  FROM orders WHERE o_totalprice IS NOT NULL),
              |rep AS (SELECT id, cents,
              |    unnest(generate_series(0, 39)) AS rb FROM base),
              |uu AS (SELECT rb, cents,
              |    (CAST(concat('0x', substr(md5(concat('boot|', id,
              |      '|', rb)), 1, 15)) AS BIGINT) + 1)
              |      / 1152921504606846976.0 AS u
              |  FROM rep),
              |kk AS (SELECT rb, cents, $poissonKCase AS k FROM uu),
              |pr AS (SELECT rb,
              |    CAST((SUM(k * cents) * 10) // SUM(k) AS BIGINT)
              |      AS mean_milli
              |  FROM kk GROUP BY rb HAVING SUM(k) > 0),
              |rk AS (SELECT rb, mean_milli,
              |    ROW_NUMBER() OVER (ORDER BY mean_milli, rb) AS r,
              |    COUNT(*) OVER () AS nb FROM pr),
              |ci AS (SELECT MAX(nb) AS b,
              |    MAX(CASE WHEN r = (nb * 25 + 999) // 1000
              |      THEN mean_milli END) AS lo_milli,
              |    MAX(CASE WHEN r = (nb * 975 + 999) // 1000
              |      THEN mean_milli END) AS hi_milli FROM rk),
              |pt AS (SELECT COUNT(*) AS n_rows,
              |    CAST((SUM(cents) * 10) // COUNT(*) AS BIGINT)
              |      AS point_milli
              |  FROM base)
              |SELECT n_rows, b, point_milli, lo_milli, hi_milli
              |FROM pt CROSS JOIN ci""".stripMargin)),

    // ---- weekly cohort retention (the product-analytics triangle):
    // entities cohorted by first active ISO week; each (cohort,
    // offset) cell = active entities N weeks later, rate in exact ppm
    QueryDef("q176_cohort_retention",
      (s, dir) => graft.operators.Funnel.cohortRetention(
          t("events")(s, dir), "user_id", "ts")
        .orderBy(col("cohort_week"), col("offset_w")),
      Some("""WITH act AS (SELECT DISTINCT user_id AS ent,
             |    CAST(date_trunc('week', ts) AS DATE) AS wk
             |  FROM events),
             |co AS (SELECT ent, MIN(wk) AS c0 FROM act GROUP BY ent),
             |sz AS (SELECT c0, CAST(COUNT(*) AS BIGINT) AS n_cohort
             |  FROM co GROUP BY c0),
             |cell AS (SELECT co.c0 AS cohort_week,
             |    CAST(datediff('day', co.c0, act.wk) // 7 AS BIGINT)
             |      AS offset_w,
             |    CAST(COUNT(*) AS BIGINT) AS n_active
             |  FROM act JOIN co USING (ent) GROUP BY 1, 2)
             |SELECT cohort_week, offset_w, n_active, sz.n_cohort,
             |  (n_active * 1000000) // sz.n_cohort AS retention_ppm
             |FROM cell JOIN sz ON cell.cohort_week = sz.c0
             |ORDER BY cohort_week, offset_w""".stripMargin)),

    // ---- robust trend audit: Theil-Sen median slope + Mann-Kendall
    // τ over the daily event-count series — the outlier-proof
    // trendline (pairwise over the AGGREGATED series, never raw
    // events; all arithmetic exact integers)
    QueryDef("q177_theilsen_trend",
      (s, dir) => graft.operators.Stats.theilSenTrend(
        t("events")(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n")),
        "day", "n"),
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM events
             |  GROUP BY 1),
             |p AS (SELECT a.day AS d1, b.day AS d2, a.n AS v1,
             |    b.n AS v2, datediff('day', a.day, b.day) AS dd
             |  FROM d a JOIN d b ON a.day < b.day),
             |q AS (SELECT d1, d2,
             |    CAST(((v2 - v1) * 1000) // dd AS BIGINT)
             |      AS slope_milli,
             |    CASE WHEN v2 > v1 THEN 1 WHEN v2 < v1 THEN -1
             |      ELSE 0 END AS sgn FROM p),
             |r AS (SELECT slope_milli, sgn,
             |    ROW_NUMBER() OVER (ORDER BY slope_milli, d1, d2)
             |      AS r,
             |    COUNT(*) OVER () AS np FROM q),
             |ag AS (SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
             |    MAX(CASE WHEN r = (np + 1) // 2 THEN slope_milli
             |      END) AS sen_slope_milli,
             |    CAST(SUM(sgn) AS BIGINT) AS mk_s FROM r),
             |np2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points
             |  FROM d)
             |SELECT n_points, n_pairs, sen_slope_milli, mk_s,
             |  (mk_s * 1000000) // n_pairs AS tau_ppm
             |FROM np2 CROSS JOIN ag""".stripMargin)),

    // ---- level-3 Apriori: frequent brand triples per order — the
    // lattice level above q148's pairs, one ordered 3-way basket join
    QueryDef("q178_assoc_triples",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_partkey"))
          .join(broadcast(t("part")(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
        graft.operators.Assoc.frequentTriples(li, "l_orderkey",
          "p_brand", minSupport = 2L, topK = 20)
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk,
             |    p_brand AS it
             |  FROM lineitem JOIN part ON l_partkey = p_partkey)
             |SELECT x.it AS item_a, y.it AS item_b, z.it AS item_c,
             |  COUNT(*) AS supp_abc
             |FROM b x
             |JOIN b y ON x.bk = y.bk AND x.it < y.it
             |JOIN b z ON x.bk = z.bk AND y.it < z.it
             |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
             |ORDER BY supp_abc DESC, item_a, item_b, item_c
             |LIMIT 20""".stripMargin)),

    // ---- behavior predictability: Shannon entropy of each state's
    // transition distribution (6-decimal nats, exact-integer mean
    // rounding — the q74 discipline on the q140 matrix)
    QueryDef("q179_transition_entropy",
      (s, dir) => graft.operators.Funnel.transitionEntropy(
          t("events")(s, dir), "user_id", "event_type", "ts",
          "event_id")
        .orderBy(col("from_type")),
      Some("""WITH x AS (SELECT user_id, event_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |tm AS (SELECT event_type AS from_type, to_type,
             |    COUNT(*) AS n
             |  FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT)
             |    AS row_total FROM tm GROUP BY 1),
             |sc AS (SELECT tm.from_type,
             |    tot.row_total AS n_transitions,
             |    SUM(CAST(round(ln(tm.n / tot.row_total), 6)
             |      AS DECIMAL(20,6)) * tm.n) AS s
             |  FROM tm JOIN tot USING (from_type) GROUP BY 1, 2)
             |SELECT from_type, n_transitions,
             |  CAST((CAST(abs(s) * 1000000 AS BIGINT) * 2
             |      + n_transitions) // (n_transitions * 2) AS DOUBLE)
             |    / 1000000 AS entropy_nats
             |FROM sc ORDER BY from_type""".stripMargin)),

    // ---- Gini concentration of order value (inequality audit):
    // rank formulation over exact cents, DECIMAL(38,0) products
    QueryDef("q180_gini",
      (s, dir) => graft.operators.Stats.giniPpm(
        t("orders")(s, dir), "o_totalprice", "o_orderkey"),
      Some("""WITH b AS (SELECT o_orderkey AS id,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents
             |  FROM orders WHERE o_totalprice IS NOT NULL),
             |r AS (SELECT cents,
             |    ROW_NUMBER() OVER (ORDER BY cents, id) AS r FROM b),
             |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS total_cents,
             |    SUM(r * cents) AS si FROM r)
             |SELECT n, total_cents,
             |  CAST(floor(((2 * CAST(si AS DECIMAL(38,0))
             |      - (n + 1) * total_cents) * 1000000)
             |    / (CAST(n AS DECIMAL(38,0)) * total_cents))
             |    AS BIGINT) AS gini_ppm
             |FROM a""".stripMargin)),

    // ---- Herfindahl-Hirschman brand concentration of line items
    QueryDef("q181_hhi",
      (s, dir) => graft.operators.Stats.hhiPpm(
        t("lineitem")(s, dir)
          .select(col("l_partkey"))
          .join(broadcast(t("part")(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey")),
        "p_brand"),
      Some("""WITH g AS (SELECT p_brand, COUNT(*) AS cnt
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(cnt) AS BIGINT) AS total,
             |  CAST(floor((CAST(SUM(cnt * cnt) AS DECIMAL(38,0))
             |      * 1000000)
             |    / (CAST(SUM(cnt) AS DECIMAL(38,0)) * SUM(cnt)))
             |    AS BIGINT) AS hhi_ppm
             |FROM g""".stripMargin)),

    // ---- per-group z-score standardization from exact moments
    QueryDef("q182_zscores",
      (s, dir) => graft.operators.Stats.zScores(
          t("part")(s, dir), Seq("p_brand"), "p_retailprice",
          "p_partkey")
        .orderBy(col("p_brand"), col("p_partkey")),
      Some("""WITH m AS (SELECT p_brand, COUNT(*) AS gn,
             |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
             |      AS DOUBLE) AS gs,
             |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
             |      * CAST(p_retailprice AS DECIMAL(18,2)))
             |      AS DOUBLE) AS gq
             |  FROM part WHERE p_retailprice IS NOT NULL
             |  GROUP BY 1)
             |SELECT p.p_brand, p.p_partkey, p.p_retailprice,
             |  CASE WHEN m.gn * m.gq - m.gs * m.gs > 0 THEN
             |    round((p.p_retailprice - m.gs / m.gn)
             |      / sqrt((m.gn * m.gq - m.gs * m.gs)
             |        / (m.gn * m.gn)), 6) END AS z
             |FROM part p JOIN m USING (p_brand)
             |WHERE p.p_retailprice IS NOT NULL
             |ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---- LSH index-quality calibration: every banded candidate's
    // estimated similarity vs its EXACT Jaccard, bucketed by estimate
    // decile — the S-curve audit run before trusting a (k, bands)
    // config at scale. q26's configuration (k=16, 4 bands).
    QueryDef("q183_lsh_calibration",
      (s, dir) => graft.operators.Dedup.lshCalibration(
          t("documents")(s, dir), "doc_id", "text", n = 3, k = 16,
          bands = 4)
        .orderBy(col("est_decile")),
      Some {
        val mhC = graft.operators.Dedup.minhashConstants(16)
        val mins = (0 until 16)
          .map(i => s"min(xor(h, ${mhC(i)})) AS m$i").mkString(", ")
        val bandSel = (0 until 4).map { b =>
          val cols = (0 until 4).map(j => s"m${b * 4 + j}")
            .mkString(", ")
          s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bv " +
            "FROM sig"
        }.mkString(" UNION ALL ")
        val est = (0 until 16)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH ${CorpusOps.oShinglesSql},
           |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |banded AS ($bandSel),
           |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           |  FROM banded a JOIN banded b ON a.band = b.band
           |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
           |cm AS (SELECT da, db, CAST($est AS BIGINT) AS mm
           |  FROM cand JOIN sig sa ON da = sa.doc_id
           |  JOIN sig sb ON db = sb.doc_id),
           |szs AS (SELECT doc_id, COUNT(*) AS nn FROM hs
           |  GROUP BY doc_id),
           |iv AS (SELECT cm.da, cm.db, cm.mm,
           |    CAST(COUNT(y.doc_id) AS BIGINT) AS inter
           |  FROM cm JOIN hs x ON cm.da = x.doc_id
           |  LEFT JOIN hs y ON cm.db = y.doc_id AND x.h = y.h
           |  GROUP BY 1, 2, 3),
           |jp AS (SELECT iv.da, iv.db,
           |    (iv.mm * 1000000) // 16 AS est_ppm,
           |    (iv.inter * 1000000) // (sa.nn + sb.nn - iv.inter)
           |      AS true_ppm
           |  FROM iv JOIN szs sa ON iv.da = sa.doc_id
           |  JOIN szs sb ON iv.db = sb.doc_id)
           |SELECT est_ppm // 100000 AS est_decile,
           |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(est_ppm) // COUNT(*) AS BIGINT) AS avg_est_ppm,
           |  CAST(SUM(true_ppm) // COUNT(*) AS BIGINT)
           |    AS avg_true_ppm
           |FROM jp GROUP BY 1 ORDER BY est_decile""".stripMargin
      }),

    // ---- CDC compaction: collapse a synthesized I/U/D change stream
    // to final state + the net op the downstream merge applies; keys
    // hit every net_op branch (insert / update / delete / noop)
    QueryDef("q184_cdc_compact",
      (s, dir) => {
        val o = t("orders")(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        val ins = o.where(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey").as("k"), lit(1L).as("ver"),
            lit("I").as("op"), col("o_totalprice").as("price"))
        val upd = o.where(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("k"), lit(2L).as("ver"),
            lit("U").as("op"),
            (col("o_totalprice") + 10.0).as("price"))
        val del = o.where(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("k"), lit(3L).as("ver"),
            lit("D").as("op"), lit(null).cast("double").as("price"))
        graft.operators.Cdc.compact(
            ins.unionAll(upd).unionAll(del), "k", "ver", "op",
            Seq("price"))
          .orderBy(col("k"))
      },
      Some("""WITH ch AS (
             |  SELECT o_orderkey AS k, 1 AS ver, 'I' AS op,
             |    o_totalprice AS price
             |  FROM orders WHERE o_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT o_orderkey, 2, 'U', o_totalprice + 10.0
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT o_orderkey, 3, 'D', NULL
             |  FROM orders WHERE o_orderkey % 5 = 0),
             |r1 AS (SELECT *,
             |    CASE op WHEN 'I' THEN 0 WHEN 'U' THEN 1 ELSE 2 END
             |      AS opr,
             |    ROW_NUMBER() OVER (PARTITION BY k
             |      ORDER BY ver, CASE op WHEN 'I' THEN 0
             |        WHEN 'U' THEN 1 ELSE 2 END) AS rf,
             |    ROW_NUMBER() OVER (PARTITION BY k
             |      ORDER BY ver DESC, CASE op WHEN 'I' THEN 0
             |        WHEN 'U' THEN 1 ELSE 2 END DESC) AS rl,
             |    COUNT(*) OVER (PARTITION BY k) AS nc,
             |    MAX(ver) OVER (PARTITION BY k) AS lv FROM ch),
             |f AS (SELECT k, op AS first_op FROM r1 WHERE rf = 1),
             |l AS (SELECT k, op AS last_op, price AS lp, nc, lv
             |  FROM r1 WHERE rl = 1)
             |SELECT l.k, CAST(nc AS BIGINT) AS n_changes,
             |  CAST(lv AS BIGINT) AS last_version,
             |  f.first_op, l.last_op,
             |  CASE WHEN f.first_op = 'I' AND l.last_op = 'D'
             |      THEN 'noop'
             |    WHEN l.last_op = 'D' THEN 'delete'
             |    WHEN f.first_op = 'I' THEN 'insert'
             |    ELSE 'update' END AS net_op,
             |  CASE WHEN l.last_op = 'D' THEN NULL ELSE l.lp END
             |    AS price
             |FROM l JOIN f USING (k) ORDER BY k""".stripMargin)),

    // ---- foreign-key discovery: inclusion-dependency profile of six
    // candidate column pairs (four true FKs at 10^6 ppm, one
    // negative, one partial) — q160 audits declared keys, this
    // MEASURES undeclared ones
    QueryDef("q185_fk_discovery",
      (s, dir) => {
        def inc(lbl: String, cd: String, cc: String, pd: String,
            pc: String) =
          graft.operators.Cdc.inclusionStats(
            t(cd)(s, dir), cc, t(pd)(s, dir), pc, lbl)
        inc("customer.c_nationkey->nation.n_nationkey",
            "customer", "c_nationkey", "nation", "n_nationkey")
          .unionAll(inc("lineitem.l_orderkey->orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"))
          .unionAll(inc("lineitem.l_partkey->part.p_partkey",
            "lineitem", "l_partkey", "part", "p_partkey"))
          .unionAll(inc("orders.o_custkey->customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"))
          .unionAll(inc("orders.o_orderkey->customer.c_custkey",
            "orders", "o_orderkey", "customer", "c_custkey"))
          .unionAll(inc("part.p_size->nation.n_nationkey",
            "part", "p_size", "nation", "n_nationkey"))
          .orderBy(col("candidate"))
      },
      Some(Seq(
        oInclusion("customer.c_nationkey->nation.n_nationkey",
          oDistinct("c_nationkey", "customer", "v"),
          oDistinct("n_nationkey", "nation", "pv")),
        oInclusion("lineitem.l_orderkey->orders.o_orderkey",
          oDistinct("l_orderkey", "lineitem", "v"),
          oDistinct("o_orderkey", "orders", "pv")),
        oInclusion("lineitem.l_partkey->part.p_partkey",
          oDistinct("l_partkey", "lineitem", "v"),
          oDistinct("p_partkey", "part", "pv")),
        oInclusion("orders.o_custkey->customer.c_custkey",
          oDistinct("o_custkey", "orders", "v"),
          oDistinct("c_custkey", "customer", "pv")),
        oInclusion("orders.o_orderkey->customer.c_custkey",
          oDistinct("o_orderkey", "orders", "v"),
          oDistinct("c_custkey", "customer", "pv")),
        oInclusion("part.p_size->nation.n_nationkey",
          oDistinct("p_size", "part", "v"),
          oDistinct("n_nationkey", "nation", "pv")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY candidate"))),

    // ---- pure range join (NO equi key): events within overlapping
    // campaign windows — the shape Spark can only nested-loop. The
    // binned rewrite is an EQUI join on time bins (each pair
    // generated once, exact between-filter after); the oracle runs
    // the naive between join. PLANS.md round 10: 36.05 s → 7.73 s at
    // 6400 windows, identical pairs.
    QueryDef("q186_range_join_binned",
      (s, dir) => {
        val windows = t("nation")(s, dir)
          .select(col("n_nationkey").as("win_id"),
            expr("date'2024-01-01' + make_interval(0,0,0," +
              "cast(n_nationkey as int),0,0,0)").cast("date")
              .as("w_start"))
          .withColumn("w_end", date_add(col("w_start"), 3))
        graft.operators.RangeJoin.pointInInterval(
            t("events")(s, dir).select(col("event_id"), col("ts"),
              col("value")),
            "ts", windows, "w_start", "w_end", binDays = 2)
          .groupBy(col("win_id"), col("w_start"), col("w_end"))
          .agg(count(lit(1)).as("n_events"),
            dsum(col("value")).as("total_value"))
          .orderBy(col("win_id"))
      },
      Some(s"""WITH w AS (SELECT n_nationkey AS win_id,
              |    DATE '2024-01-01'
              |      + CAST(n_nationkey AS INT) * INTERVAL 1 DAY
              |      AS w_start
              |  FROM nation),
              |w2 AS (SELECT win_id, CAST(w_start AS DATE) AS w_start,
              |    CAST(w_start + INTERVAL 3 DAY AS DATE) AS w_end
              |  FROM w)
              |SELECT win_id, w_start, w_end,
              |  COUNT(*) AS n_events,
              |  ${oSum("value")} AS total_value
              |FROM events JOIN w2
              |  ON CAST(ts AS DATE) >= w_start
              |  AND CAST(ts AS DATE) <= w_end
              |GROUP BY win_id, w_start, w_end
              |ORDER BY win_id""".stripMargin)),

    // ---- hierarchical share report (the BI percent-of-parent): per
    // nation, revenue share within its region AND of the total, all
    // in exact integer arithmetic (cents → ppm); dims broadcast, the
    // share windows run over the nation-sized frame
    QueryDef("q187_share_of_parent",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rev = t("orders")(s, dir)
          .select(col("o_custkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("bigint").as("cents"))
          .join(broadcast(t("customer")(s, dir)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t("nation")(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t("region")(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("cents")).as("rev_cents"))
        rev
          .withColumn("_rt", sum(col("rev_cents"))
            .over(Window.partitionBy(col("r_name"))))
          .withColumn("_gt", sum(col("rev_cents"))
            .over(Window.partitionBy(lit(1))))
          .select(col("r_name"), col("n_name"), col("rev_cents"),
            expr("(rev_cents * 1000000) div _rt")
              .as("region_share_ppm"),
            expr("(rev_cents * 1000000) div _gt")
              .as("total_share_ppm"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""WITH rev AS (SELECT r_name, n_name,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |      * 100 AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY r_name, n_name)
             |SELECT r_name, n_name, rev_cents,
             |  (rev_cents * 1000000) // CAST(SUM(rev_cents)
             |    OVER (PARTITION BY r_name) AS BIGINT)
             |    AS region_share_ppm,
             |  (rev_cents * 1000000) // CAST(SUM(rev_cents)
             |    OVER () AS BIGINT) AS total_share_ppm
             |FROM rev ORDER BY r_name, n_name""".stripMargin)),

    // ---- Population Stability Index: order-value drift of the
    // post-1996 book vs the pre-1996 reference, bucketed by the
    // REFERENCE's exact decile edges; Laplace-smoothed shares keep
    // empty buckets finite; Σ contrib_micro / 10⁶ is the PSI
    QueryDef("q188_psi_drift",
      (s, dir) => graft.operators.Stats.psiBuckets(
          t("orders")(s, dir), "o_totalprice", "o_orderkey",
          refPred = col("o_orderdate") <
            lit("1996-01-01").cast("timestamp"))
        .orderBy(col("bucket")),
      Some("""WITH base AS (SELECT o_orderkey AS id,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents,
             |    o_orderdate < TIMESTAMP '1996-01-01' AS is_ref
             |  FROM orders WHERE o_totalprice IS NOT NULL),
             |rk AS (SELECT id, cents,
             |    ROW_NUMBER() OVER (ORDER BY cents, id) AS rn,
             |    COUNT(*) OVER () AS n
             |  FROM base WHERE is_ref),
             |ed AS (SELECT rk.cents AS edge FROM rk
             |  JOIN range(1, 10) t(k)
             |    ON rk.rn = (t.k * rk.n + 9) // 10),
             |asg AS (SELECT b.id, b.is_ref,
             |    CAST(SUM(CASE WHEN b.cents >= ed.edge THEN 1
             |      ELSE 0 END) AS BIGINT) AS bucket
             |  FROM base b CROSS JOIN ed GROUP BY b.id, b.is_ref),
             |cnt AS (SELECT bucket,
             |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_cnt,
             |    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
             |      AS cur_cnt
             |  FROM asg GROUP BY bucket),
             |dn AS (SELECT t.b AS bucket,
             |    CAST(COALESCE(ref_cnt, 0) AS BIGINT) AS ref_cnt,
             |    CAST(COALESCE(cur_cnt, 0) AS BIGINT) AS cur_cnt
             |  FROM range(0, 10) t(b)
             |  LEFT JOIN cnt ON cnt.bucket = t.b),
             |tt AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
             |    CAST(SUM(cur_cnt) AS BIGINT) AS n_cur FROM dn)
             |SELECT bucket, ref_cnt, cur_cnt,
             |  ((ref_cnt + 1) * 1000000) // (n_ref + 10) AS p_ppm,
             |  ((cur_cnt + 1) * 1000000) // (n_cur + 10) AS q_ppm,
             |  CAST((((ref_cnt + 1) * 1000000) // (n_ref + 10)
             |      - ((cur_cnt + 1) * 1000000) // (n_cur + 10))
             |    * CAST(round(ln(((ref_cnt + 1) * (n_cur + 10))
             |        / ((cur_cnt + 1) * (n_ref + 10))), 6)
             |      AS DECIMAL(20,6)) AS DOUBLE) AS contrib_micro
             |FROM dn CROSS JOIN tt ORDER BY bucket""".stripMargin)),

    // ---- gap-bounded sequential patterns (2-length SPAM core):
    // type_a → type_b within ≤3 events of the same user — q140's
    // matrix with skip-steps, via 3 LEADs (no self-join)
    QueryDef("q189_gap_patterns",
      (s, dir) => graft.operators.Funnel.gapPatterns(
        t("events")(s, dir), "user_id", "event_type", "ts",
        "event_id", maxGap = 3, topK = 15),
      Some("""WITH x AS (SELECT event_type AS type_a,
             |    LEAD(event_type, 1) OVER w AS l1,
             |    LEAD(event_type, 2) OVER w AS l2,
             |    LEAD(event_type, 3) OVER w AS l3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY ts, event_id)),
             |p AS (SELECT type_a, type_b, COUNT(*) AS n FROM (
             |    SELECT type_a, l1 AS type_b FROM x
             |    UNION ALL SELECT type_a, l2 FROM x
             |    UNION ALL SELECT type_a, l3 FROM x)
             |  WHERE type_b IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM p)
             |SELECT type_a, type_b, n,
             |  (n * 1000000) // t.t AS share_ppm
             |FROM p CROSS JOIN t
             |ORDER BY n DESC, type_a, type_b LIMIT 15""".stripMargin)),

    // ---- Lorenz-curve deciles of order value: q180's Gini as the
    // full "top x% hold y%" distribution, exact cents/ppm
    QueryDef("q190_lorenz",
      (s, dir) => graft.operators.Stats.lorenzDeciles(
          t("orders")(s, dir), "o_totalprice", "o_orderkey")
        .orderBy(col("decile")),
      Some("""WITH b AS (SELECT o_orderkey AS id,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents
             |  FROM orders WHERE o_totalprice IS NOT NULL),
             |r AS (SELECT id, cents,
             |    ROW_NUMBER() OVER (ORDER BY cents, id) AS rn,
             |    SUM(cents) OVER (ORDER BY cents, id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    COUNT(*) OVER () AS n,
             |    SUM(cents) OVER () AS total
             |  FROM b)
             |SELECT t.d AS decile, CAST(rn AS BIGINT) AS cut_rank,
             |  CAST(cum AS BIGINT) AS cum_cents,
             |  CAST((cum * 1000000) // total AS BIGINT)
             |    AS cum_share_ppm
             |FROM r JOIN range(1, 11) t(d)
             |  ON r.rn = (t.d * r.n + 9) // 10
             |ORDER BY decile""".stripMargin)),

    // ---- vocabulary drift: terms whose frequency share GREW most in
    // the second corpus half vs the first (the emerging-terms report
    // a crawl pipeline watches) — Laplace-smoothed exact-ppm shares,
    // growth in ppm delta, floor on current count to kill noise
    QueryDef("q191_emerging_terms",
      (s, dir) => {
        val words = graft.operators.TextOps.wordRows(
          t("documents")(s, dir)
            .withColumn("is_ref", col("doc_id") % 2 === 0),
          "text", keep = Seq("is_ref"))
        val rc = words.filter(col("is_ref"))
          .groupBy(col("word")).agg(count(lit(1)).as("rc"))
        val cc = words.filter(!col("is_ref"))
          .groupBy(col("word")).agg(count(lit(1)).as("cc"))
        val tot = rc.agg(sum("rc").as("n_r"))
          .crossJoin(cc.agg(sum("cc").as("n_c")))
        cc.join(rc, Seq("word"), "left")
          .crossJoin(broadcast(tot))
          .select(col("word"),
            coalesce(col("rc"), lit(0L)).as("ref_n"),
            col("cc").as("cur_n"),
            expr("((coalesce(rc, 0) + 1) * 1000000) div (n_r + 1)")
              .as("ref_ppm"),
            expr("((cc + 1) * 1000000) div (n_c + 1)").as("cur_ppm"))
          .where(col("cur_n") >= 5)
          .withColumn("growth_ppm", col("cur_ppm") - col("ref_ppm"))
          .orderBy(col("growth_ppm").desc, col("word"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT doc_id % 2 = 0 AS is_ref,
             |    unnest(list_filter(string_split_regex(lower(text),
             |      '\s+'), x -> len(x) > 0)) AS word
             |  FROM documents),
             |rc AS (SELECT word, COUNT(*) AS rc FROM w
             |  WHERE is_ref GROUP BY 1),
             |cc AS (SELECT word, COUNT(*) AS cc FROM w
             |  WHERE NOT is_ref GROUP BY 1),
             |tot AS (SELECT (SELECT CAST(SUM(rc) AS BIGINT) FROM rc)
             |    AS n_r,
             |  (SELECT CAST(SUM(cc) AS BIGINT) FROM cc) AS n_c)
             |SELECT cc.word, CAST(COALESCE(rc.rc, 0) AS BIGINT)
             |    AS ref_n,
             |  CAST(cc.cc AS BIGINT) AS cur_n,
             |  ((COALESCE(rc.rc, 0) + 1) * 1000000) // (n_r + 1)
             |    AS ref_ppm,
             |  ((cc.cc + 1) * 1000000) // (n_c + 1) AS cur_ppm,
             |  ((cc.cc + 1) * 1000000) // (n_c + 1)
             |    - ((COALESCE(rc.rc, 0) + 1) * 1000000) // (n_r + 1)
             |    AS growth_ppm
             |FROM cc LEFT JOIN rc USING (word) CROSS JOIN tot
             |WHERE cc.cc >= 5
             |ORDER BY growth_ppm DESC, word LIMIT 20""".stripMargin)),

    // ---- k-anonymity audit: quasi-identifier combos with fewer than
    // k members, and the share of rows at re-identification risk —
    // the privacy DQ gate before a data release
    QueryDef("q192_k_anonymity",
      (s, dir) => {
        val g = t("customer")(s, dir)
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
        g.agg(count(lit(1)).as("n_combos"),
            sum(when(col("n") < 5, 1L).otherwise(0L))
              .as("combos_under_k"),
            sum(col("n")).as("n_rows"),
            sum(when(col("n") < 5, col("n")).otherwise(0L))
              .as("rows_at_risk"))
          .select(col("n_combos"), col("combos_under_k"),
            col("n_rows"), col("rows_at_risk"),
            expr("(rows_at_risk * 1000000) div n_rows")
              .as("risk_ppm"))
      },
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment,
             |    COUNT(*) AS n FROM customer GROUP BY 1, 2)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_combos,
             |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS combos_under_k,
             |  CAST(SUM(n) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
             |    AS BIGINT) AS rows_at_risk,
             |  (CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
             |    AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
             |    AS risk_ppm
             |FROM g""".stripMargin)),

    // ---- join-key skew report: per-key multiplicity order stats +
    // hottest-key share over l_orderkey — the measurement feeding the
    // q40 salting decision
    QueryDef("q193_skew_report",
      (s, dir) => graft.operators.Skew.keySkewReport(
        t("lineitem")(s, dir), "l_orderkey"),
      Some("""WITH kc AS (SELECT l_orderkey, COUNT(*) AS n
             |  FROM lineitem WHERE l_orderkey IS NOT NULL
             |  GROUP BY 1),
             |r AS (SELECT n,
             |    ROW_NUMBER() OVER (ORDER BY n, l_orderkey) AS rn,
             |    COUNT(*) OVER () AS k FROM kc),
             |a AS (SELECT CAST(MAX(k) AS BIGINT) AS n_keys,
             |    CAST(SUM(n) AS BIGINT) AS n_rows,
             |    CAST(MAX(n) AS BIGINT) AS max_n,
             |    MAX(CASE WHEN rn = (k * 50 + 99) // 100 THEN n END)
             |      AS p50_n,
             |    MAX(CASE WHEN rn = (k * 99 + 99) // 100 THEN n END)
             |      AS p99_n
             |  FROM r)
             |SELECT n_keys, n_rows, max_n,
             |  (max_n * 1000000) // n_rows AS max_share_ppm,
             |  CAST(p50_n AS BIGINT) AS p50_n,
             |  CAST(p99_n AS BIGINT) AS p99_n,
             |  (CAST(p99_n AS BIGINT) * 1000) // p50_n
             |    AS p99_over_p50_milli
             |FROM a""".stripMargin)),

    // ---- FORWARD as-of: each click's NEXT error (ts ≥ click) per
    // user — the attribution/time-to-response direction, one
    // union-window pass (q43's backward twin mirrored)
    QueryDef("q194_asof_forward",
      (s, dir) => {
        val ev = t("events")(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value"))
        val errW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts"))
          .orderBy(col("event_id").desc)
        val errors = ev.filter(col("event_type") === "error")
          .withColumn("_r", row_number().over(errW))
          .filter(col("_r") === 1)
          .select(col("user_id"), col("ts").as("nerr_ts"),
            col("value").as("nerr_value"))
        graft.operators.AsOf.joinForward(clicks, errors,
            Seq("user_id"), "ts", "nerr_ts",
            Seq("nerr_ts", "nerr_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts, value
             |  FROM events WHERE event_type = 'click'),
             |e0 AS (SELECT user_id, ts, value,
             |    ROW_NUMBER() OVER (PARTITION BY user_id, ts
             |      ORDER BY event_id DESC) AS r
             |  FROM events WHERE event_type = 'error'),
             |err AS (SELECT user_id, ts AS nerr_ts,
             |    value AS nerr_value FROM e0 WHERE r = 1)
             |SELECT c.event_id, c.user_id, c.ts, c.value,
             |  n.nerr_ts, n.nerr_value
             |FROM clicks c LEFT JOIN LATERAL (
             |  SELECT e.nerr_ts, e.nerr_value FROM err e
             |  WHERE e.user_id = c.user_id AND e.nerr_ts >= c.ts
             |  ORDER BY e.nerr_ts LIMIT 1) n ON TRUE
             |ORDER BY c.event_id""".stripMargin)),

    // ---- tokenizer fertility per language (BPE tokens per word,
    // exact milli): the metric that tells you which languages the
    // learned vocabulary under-serves; consumes the q129 artifact
    QueryDef("q195_bpe_fertility",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val counts = graft.operators.Bpe.docTokenCounts(docs, "text",
          "doc_id", Round9c.sharedBpe(s, dir))
        val words = docs.select(col("doc_id"), col("lang"),
          size(graft.operators.TextOps.words(col("text")))
            .cast("bigint").as("n_words"))
        counts.join(words, "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("bpe_tokens")).as("n_bpe_tokens"))
          .withColumn("fertility_milli",
            expr("(n_bpe_tokens * 1000) div n_words"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH ${Round9c.bpeAllCtes},
              |v AS (SELECT word, COUNT(*) AS n_tokens
              |  FROM s${Round9c.K} GROUP BY word),
              |dt AS (SELECT t.doc_id,
              |    CAST(SUM(v.n_tokens) AS BIGINT) AS bpe_tokens
              |  FROM tok t JOIN v USING (word) GROUP BY t.doc_id),
              |dw AS (SELECT doc_id, lang,
              |    CAST(len(list_filter(string_split_regex(
              |      lower(text), '\\s+'), x -> len(x) > 0))
              |      AS BIGINT) AS n_words
              |  FROM documents)
              |SELECT dw.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(dw.n_words) AS BIGINT) AS n_words,
              |  CAST(SUM(dt.bpe_tokens) AS BIGINT) AS n_bpe_tokens,
              |  (CAST(SUM(dt.bpe_tokens) AS BIGINT) * 1000)
              |    // CAST(SUM(dw.n_words) AS BIGINT)
              |    AS fertility_milli
              |FROM dt JOIN dw USING (doc_id)
              |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin)),

    // ---- dedup savings report: what transitive near-dup clustering
    // (q45's CC over the shared pair graph) actually buys — docs and
    // tokens removed when each cluster keeps its min-id
    // representative, in exact ppm of the corpus
    QueryDef("q196_dedup_savings",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val cc = graft.operators.Dedup.connectedComponents(
          CorpusOps.sharedJaccardPairs(s, dir),
          docs.select(col("doc_id")), "doc_id")
        val toks = docs.select(col("doc_id"),
          size(graft.operators.TextOps.words(col("text")))
            .cast("bigint").as("n_tokens"))
        cc.join(toks, cc("id") === toks("doc_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(when(col("id") =!= col("cluster"), 1L).otherwise(0L))
              .as("docs_removed"),
            sum(when(col("id") =!= col("cluster"), col("n_tokens"))
              .otherwise(0L)).as("tokens_removed"))
          .select(col("n_docs"), col("n_tokens"), col("docs_removed"),
            col("tokens_removed"),
            expr("(docs_removed * 1000000) div n_docs")
              .as("docs_removed_ppm"),
            expr("(tokens_removed * 1000000) div n_tokens")
              .as("tokens_removed_ppm"))
      },
      Some(s"""WITH RECURSIVE ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |edges AS (SELECT da AS src, db AS dst FROM pairs
              |  UNION ALL SELECT db, da FROM pairs),
              |walk AS (
              |  SELECT doc_id AS id, doc_id AS lbl FROM documents
              |  UNION
              |  SELECT e.dst AS id, w.lbl
              |  FROM walk w JOIN edges e ON w.id = e.src
              |  WHERE w.lbl < e.dst),
              |cl AS (SELECT id, MIN(lbl) AS cluster FROM walk
              |  GROUP BY id),
              |tk AS (SELECT doc_id, CAST(len(list_filter(
              |    string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0)) AS BIGINT) AS n_tokens
              |  FROM documents),
              |j AS (SELECT cl.id, cl.cluster, tk.n_tokens
              |  FROM cl JOIN tk ON cl.id = tk.doc_id)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CASE WHEN id <> cluster THEN 1 ELSE 0 END)
              |    AS BIGINT) AS docs_removed,
              |  CAST(SUM(CASE WHEN id <> cluster THEN n_tokens
              |    ELSE 0 END) AS BIGINT) AS tokens_removed,
              |  (CAST(SUM(CASE WHEN id <> cluster THEN 1 ELSE 0 END)
              |    AS BIGINT) * 1000000) // COUNT(*)
              |    AS docs_removed_ppm,
              |  (CAST(SUM(CASE WHEN id <> cluster THEN n_tokens
              |    ELSE 0 END) AS BIGINT) * 1000000)
              |    // CAST(SUM(n_tokens) AS BIGINT)
              |    AS tokens_removed_ppm
              |FROM j""".stripMargin)),

    // ---- robust (median/MAD) z-scores per brand — q182's outlier-
    // proof twin, exact integer milli
    QueryDef("q197_robust_z",
      (s, dir) => graft.operators.Quantiles.robustZ(
          t("part")(s, dir), Seq("p_brand"), "p_retailprice",
          "p_partkey")
        .orderBy(col("p_brand"), col("p_partkey")),
      Some("""WITH b AS (SELECT p_brand, p_partkey, p_retailprice,
             |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS c
             |  FROM part WHERE p_retailprice IS NOT NULL),
             |r1 AS (SELECT *,
             |    ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY c, p_partkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY p_brand) AS n FROM b),
             |m1 AS (SELECT *, MAX(CASE WHEN rn = (n + 1) // 2
             |      THEN c END) OVER (PARTITION BY p_brand) AS med
             |  FROM r1),
             |d1 AS (SELECT *, abs(c - med) AS dev FROM m1),
             |r2 AS (SELECT *,
             |    ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY dev, p_partkey) AS rd FROM d1),
             |m2 AS (SELECT *, MAX(CASE WHEN rd = (n + 1) // 2
             |      THEN dev END) OVER (PARTITION BY p_brand) AS mad
             |  FROM r2)
             |SELECT p_brand, p_partkey, p_retailprice,
             |  CASE WHEN mad > 0 THEN ((c - med) * 1000) // mad
             |    END AS robust_z_milli
             |FROM m2 ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---- KWIC (keyword-in-context) extraction: ±3-word window
    // around each doc's FIRST occurrence of the query term — the
    // retrieval-presentation primitive, pure array functions
    QueryDef("q198_kwic",
      (s, dir) => {
        val ws = graft.operators.TextOps.words(col("text"))
        t("documents")(s, dir)
          .select(col("doc_id"), ws.as("ws"))
          .withColumn("pos",
            array_position(col("ws"), "hash").cast("bigint"))
          .where(col("pos") > 0)
          .select(col("doc_id"), col("pos"),
            concat_ws(" ", slice(col("ws"),
              greatest(col("pos") - 3, lit(1)).cast("int"),
              (col("pos") - greatest(col("pos") - 3, lit(1)) + 4)
                .cast("int"))).as("context"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |p AS (SELECT doc_id, ws,
             |    CAST(list_position(ws, 'hash') AS BIGINT) AS pos
             |  FROM w)
             |SELECT doc_id, pos,
             |  array_to_string(ws[CAST(GREATEST(pos - 3, 1) AS INT)
             |    : CAST(pos + 3 AS INT)], ' ') AS context
             |FROM p WHERE pos > 0 ORDER BY doc_id""".stripMargin)),

    // ---- weekly seasonality profile: per (event_type, day-of-week)
    // share vs the type's uniform 1/7 baseline, exact ppm — the
    // cheap seasonality detector feeding q149's anomaly thresholds
    QueryDef("q199_dow_profile",
      (s, dir) => {
        val e = t("events")(s, dir)
          .select(col("event_type"),
            dayofweek(col("ts")).cast("bigint").as("dow"))
        val c = e.groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n"))
        val tot = c.groupBy(col("event_type"))
          .agg(sum(col("n")).as("t"))
        c.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("dow"), col("n"),
            expr("(n * 1000000) div t").as("share_ppm"),
            (expr("(n * 1000000) div t") - lit(142857L))
              .as("vs_uniform_ppm"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT)
             |      AS dow
             |  FROM events),
             |c AS (SELECT event_type, dow, COUNT(*) AS n FROM e
             |  GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
             |  FROM c GROUP BY 1)
             |SELECT c.event_type, c.dow, c.n,
             |  (c.n * 1000000) // t.t AS share_ppm,
             |  (c.n * 1000000) // t.t - 142857 AS vs_uniform_ppm
             |FROM c JOIN t USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    // ---- the curation funnel headline: cumulative survivor counts
    // through four gates — exact-dup rep (q33's fingerprint), near-dup
    // cluster rep (q45's CC), quality floor (≥10 words), blocklist
    // (q75's gate) — each gate exactly replayable, shares in exact ppm
    QueryDef("q200_curation_funnel",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val norm = concat_ws(" ",
          graft.operators.TextOps.words(col("text")))
        val base = docs.select(col("doc_id"), col("text"),
          md5(norm).as("fp"),
          size(graft.operators.TextOps.words(col("text")))
            .cast("bigint").as("n_words"))
        val fpRep = base.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("rep_id"))
        val cc = graft.operators.Dedup.connectedComponents(
          CorpusOps.sharedJaccardPairs(s, dir),
          docs.select(col("doc_id")), "doc_id")
        val bl = graft.operators.Curation.blocklistGate(docs, "text",
          "doc_id", Seq("slow", "dup"), maxHits = 3)
        val flags = base
          .join(fpRep, Seq("fp"))
          .withColumn("g_exact", col("doc_id") === col("rep_id"))
          .join(cc, base("doc_id") === cc("id"))
          .withColumn("g_near", col("id") === col("cluster"))
          .withColumn("g_quality", col("n_words") >= 10)
          .join(bl.select(col("doc_id").as("bid"), col("blocked")),
            base("doc_id") === col("bid"))
          .withColumn("g_block", !col("blocked"))
        val agg = flags.agg(
          count(lit(1)).as("n0"),
          sum(when(col("g_exact"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("g_exact") && col("g_near"), 1L)
            .otherwise(0L)).as("n2"),
          sum(when(col("g_exact") && col("g_near") &&
            col("g_quality"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("g_exact") && col("g_near") &&
            col("g_quality") && col("g_block"), 1L)
            .otherwise(0L)).as("n4"))
        val stages = Seq(
          ("0_input", "n0"), ("1_exact_dedup", "n1"),
          ("2_near_dedup", "n2"), ("3_quality", "n3"),
          ("4_blocklist", "n4"))
        agg.select(explode(array(stages.map { case (nm, c) =>
            struct(lit(nm).as("stage"), col(c).as("n_docs"),
              expr(s"($c * 1000000) div n0").as("share_ppm"))
          }: _*)).as("x"))
          .select(col("x.stage"), col("x.n_docs"),
            col("x.share_ppm"))
          .orderBy(col("stage"))
      },
      Some(s"""WITH RECURSIVE ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |edges AS (SELECT da AS src, db AS dst FROM pairs
              |  UNION ALL SELECT db, da FROM pairs),
              |walk AS (
              |  SELECT doc_id AS id, doc_id AS lbl FROM documents
              |  UNION
              |  SELECT e.dst AS id, w.lbl
              |  FROM walk w JOIN edges e ON w.id = e.src
              |  WHERE w.lbl < e.dst),
              |cl AS (SELECT id, MIN(lbl) AS cluster FROM walk
              |  GROUP BY id),
              |wlist AS (SELECT doc_id, list_filter(
              |    string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0) AS ws FROM documents),
              |bse AS (SELECT doc_id,
              |    md5(array_to_string(ws, ' ')) AS fp,
              |    CAST(len(ws) AS BIGINT) AS n_words,
              |    CAST(len(list_filter(ws,
              |      x -> x = 'slow' OR x = 'dup')) AS BIGINT)
              |      AS n_hits
              |  FROM wlist),
              |fr AS (SELECT fp, MIN(doc_id) AS rep_id FROM bse
              |  GROUP BY fp),
              |fl AS (SELECT b.doc_id,
              |    b.doc_id = fr.rep_id AS g_exact,
              |    b.doc_id = cl.cluster AS g_near,
              |    b.n_words >= 10 AS g_quality,
              |    b.n_hits <= 3 AS g_block
              |  FROM bse b JOIN fr ON b.fp = fr.fp
              |  JOIN cl ON b.doc_id = cl.id),
              |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
              |    CAST(SUM(CASE WHEN g_exact THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n1,
              |    CAST(SUM(CASE WHEN g_exact AND g_near THEN 1
              |      ELSE 0 END) AS BIGINT) AS n2,
              |    CAST(SUM(CASE WHEN g_exact AND g_near AND g_quality
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n3,
              |    CAST(SUM(CASE WHEN g_exact AND g_near AND g_quality
              |      AND g_block THEN 1 ELSE 0 END) AS BIGINT) AS n4
              |  FROM fl)
              |SELECT stage, n_docs, (n_docs * 1000000) // n0
              |    AS share_ppm
              |FROM (
              |  SELECT '0_input' AS stage, n0 AS n_docs, n0 FROM a
              |  UNION ALL SELECT '1_exact_dedup', n1, n0 FROM a
              |  UNION ALL SELECT '2_near_dedup', n2, n0 FROM a
              |  UNION ALL SELECT '3_quality', n3, n0 FROM a
              |  UNION ALL SELECT '4_blocklist', n4, n0 FROM a)
              |ORDER BY stage""".stripMargin)))
}
