package graft

/** DuckDB oracle SQL, one per [[SparkEntry.queries]] key. The driver runs
  * these against the same parquet tables (registered under their bare
  * names) and hash-compares with the Spark results after sorting columns
  * by name — so aliases here must match the Spark column names exactly.
  *
  * Dialect parity notes: `epoch(ts)` == Spark `cast(ts as double)` (both
  * truncate ns → µs); DuckDB `median` == Spark `percentile(x, 0.5)`
  * (interpolated); integer sums are cast to BIGINT (DuckDB widens to
  * HUGEINT); all floating aggregates rounded identically on both sides.
  */
object Oracles {

  /** Round-trip double literal for SQL (scientific notation parses as
    * DOUBLE in DuckDB; plain decimals would parse as DECIMAL). */
  private def d(v: Double): String = String.format("%.17e", Double.box(v))

  /** M8 oracle: same fold order as [[graft.model.TpsMapModel.tpsCol]] —
    * ((a0 + a1·px) + a2·py) + ((0 + t0) + t1)…, t_i = ((w·r)·r)·ln(r+1e-6). */
  private def tpsSql: String = {
    val anchors = graft.Queries.m8Anchors
    val theta = graft.Queries.m8Theta
    val n = anchors.length
    val warp = anchors.zipWithIndex.foldLeft(d(0.0)) { case (acc, (a, i)) =>
      val r = s"sqrt(((px - ${d(a(0))}) * (px - ${d(a(0))})) + " +
        s"((py - ${d(a(1))}) * (py - ${d(a(1))})))"
      s"($acc + (((${d(theta(i))} * $r) * $r) * ln($r + ${d(1e-6)})))"
    }
    val affine = s"((${d(theta(n))} + (${d(theta(n + 1))} * px)) + " +
      s"(${d(theta(n + 2))} * py))"
    s"""WITH s AS (SELECT event_id, value/200.0 AS px,
       |  (user_id % 20)/20.0 AS py FROM events)
       |SELECT event_id, round($affine + $warp, 6) AS gaze_x FROM s""".stripMargin
  }

  /** Shared doc-shingle CTE (k-shingles over whitespace tokens, distinct,
    * empty when < k tokens) — mirrors TextOps.shingles. */
  private def shingleCteK(k: Int): String = {
    val terms = (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""d AS (SELECT doc_id AS doc, string_split(trim(text), ' ') AS toks
       |  FROM documents),
       |s AS (SELECT doc, list_distinct(list_transform(range(1, len(toks) - ${k - 2}),
       |  i -> $terms)) AS sh FROM d)""".stripMargin
  }

  private val shingleCte = shingleCteK(3)

  /** Shared MinHash CTE chain (shingles → 60-bit hash arrays → 16-hash
    * signatures → 4 LSH bands, hot buckets capped) — mirrors
    * TextHash.minhash_sig/TextOps.lshBands + the default-on capBuckets skew
    * lever; prefix for both the LSH-candidate and the gated-exact-Jaccard
    * oracles. */
  private def minhashBandCtes: String = minhashBandCtesK(3)

  private def minhashBandCtesK(k: Int): String = {
    val M = graft.operators.TextOps.HashMod
    val a = graft.operators.TextOps.MinhashA
    val bc = graft.operators.TextOps.MinhashB
    val cap = graft.operators.TextOps.DefaultMaxBandBucket
    val sigs = (0 until 16).map(i =>
      s"list_min(list_transform(hv, h -> (h * ${a(i)} + ${bc(i)}) % $M))")
      .mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      // same left fold as TextOps.lshBands
      val hash = (1 until 4).foldLeft(s"sig[${b * 4 + 1}]") { (acc, r) =>
        s"($acc * 31 + sig[${b * 4 + r + 1}]) % $M"
      }
      s"SELECT doc, sig, $b AS band_id, $hash AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""${shingleCteK(k)},
       |hv AS (SELECT doc, list_transform(sh,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $M) AS hv
       |  FROM s WHERE len(sh) > 0),
       |sig AS (SELECT doc, [$sigs] AS sig FROM hv),
       |band0 AS ($bandSelects),
       |band AS (SELECT * FROM band0 QUALIFY row_number() OVER
       |  (PARTITION BY band_id, band_hash ORDER BY doc) <= $cap)""".stripMargin
  }

  /** dedup_clusters oracle: the same capped-band LSH candidates as
    * `dedup_minhash_lsh` (shared CTEs, same est-Jaccard gate), then
    * connected components via recursive min-label propagation over the
    * symmetric edge set — the canonical-min-label technique proven on the
    * a7 DBSCAN oracle. Every document row appears; singletons (no
    * surviving pair) self-cluster via the LEFT JOIN coalesce. */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE $minhashBandCtes,
       |prs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc < b.doc
       |  WHERE len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))::DOUBLE
       |    / 16 >= 0.25),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |cc AS (
       |  SELECT DISTINCT a AS node, a AS lbl FROM ed
       |  UNION
       |  SELECT ed.b AS node, cc.lbl FROM cc JOIN ed ON cc.node = ed.a
       |),
       |comp AS (SELECT node, min(lbl) AS root FROM cc GROUP BY node)
       |SELECT d.doc_id AS doc, coalesce(c.root, d.doc_id) AS cluster_id,
       |  coalesce(c.root, d.doc_id) = d.doc_id AS is_keeper
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""".stripMargin

  /** web_pagerank oracle: the 3 synchronous iterations UNROLLED as
    * MATERIALIZED CTEs, each iteration's ranks quantized to 6 dp — the
    * k-means/BPE/logreg iterative discipline, so sum-order ulps cannot
    * compound. Same planted edges, same (1−d)/n + d·Σ rank/odeg law. */
  private def webPagerankSql: String = {
    // the dangling share D/n per iteration: 6-dp-quantized sum of sink
    // ranks (exactly the engine's driver-side BigDecimal HALF_UP), then
    // the same IEEE divide by n — both engines walk identical state
    val iters = (0 until 3).map { i =>
      s"""dm$i AS MATERIALIZED (SELECT
         |  round(coalesce((SELECT sum(rank) FROM r$i
         |    JOIN sinks ON r$i.node = sinks.node), 0.0e0), 6)
         |    / (SELECT n FROM nn) AS share),
         |r${i + 1} AS MATERIALIZED (SELECT nodes.node,
         |  round((1.0e0 - 0.85e0) / nn.n
         |    + 0.85e0 * (coalesce(s.m, 0.0e0) + dm$i.share), 6)
         |    + 0.0e0 AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN dm$i LEFT JOIN (
         |    SELECT e.dst AS node, sum(r$i.rank / od.odeg) AS m
         |    FROM e JOIN r$i ON e.src = r$i.node JOIN od ON e.src = od.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(doc_id AS BIGINT) % 50 AS src,
       |    (CAST(doc_id AS BIGINT) * 7 + 3) % 50 AS dst FROM documents
       |  WHERE (CAST(doc_id AS BIGINT) % 50) % 10 <> 9),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |od AS (SELECT src, count(*)::BIGINT AS odeg FROM e GROUP BY src),
       |sinks AS (SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT src FROM e)),
       |r0 AS MATERIALIZED (SELECT node, 1.0e0 / nn.n AS rank
       |  FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, rank FROM r3""".stripMargin
  }

  /** dedup_cluster_rep oracle: the dedup_clusters chain (shared CTEs)
    * composed with the text_quality arithmetic, then the keep rule as a
    * window — representative = first doc under (quality DESC, doc ASC)
    * per cluster. Same tie law both engines. */
  private def dedupClusterRepSql: String =
    s"""WITH RECURSIVE $minhashBandCtes,
       |prs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc < b.doc
       |  WHERE len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))::DOUBLE
       |    / 16 >= 0.25),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |cc AS (
       |  SELECT DISTINCT a AS node, a AS lbl FROM ed
       |  UNION
       |  SELECT ed.b AS node, cc.lbl FROM cc JOIN ed ON cc.node = ed.a
       |),
       |comp AS (SELECT node, min(lbl) AS root FROM cc GROUP BY node),
       |cl AS (SELECT CAST(d.doc_id AS BIGINT) AS doc,
       |    coalesce(c.root, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
       |qd AS (SELECT CAST(doc_id AS BIGINT) AS doc,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |qm AS (SELECT doc,
       |  len(toks)::BIGINT AS n_words,
       |  len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
       |    / len(toks) AS stopword_ratio,
       |  len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks)
       |    AS long_word_ratio
       |  FROM qd),
       |q AS (SELECT doc, 1.0e0
       |    - (CASE WHEN stopword_ratio < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
       |    - (CASE WHEN n_words < 5 THEN 4.0e-1 ELSE 0.0e0 END)
       |    - (CASE WHEN long_word_ratio > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
       |    AS quality
       |  FROM qm),
       |j AS (SELECT cl.doc, cl.cluster_id, q.quality
       |  FROM cl JOIN q ON cl.doc = q.doc),
       |r AS (SELECT doc, cluster_id, quality,
       |  first_value(doc) OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc) AS rep_doc FROM j)
       |SELECT doc, cluster_id, quality, rep_doc,
       |  rep_doc = doc AS is_rep FROM r""".stripMargin

  /** Shared language-ID CTE chain (mirrors text_langid / the Spark
    * `TextOps.langId`): yields `l(doc, lang_pred)`. One source of truth
    * for both sampling oracles so the marker lists cannot drift. */
  private def langIdCtes: String =
    s"""d AS (SELECT doc_id AS doc, string_split(trim(text), ' ') AS toks
       |  FROM documents),
       |sc AS (SELECT doc,
       |  len(list_filter(toks, w -> w IN ('der','die','und','nicht','das')))::BIGINT AS s_de,
       |  len(list_filter(toks, w -> w IN ('the','and','of','to','in')))::BIGINT AS s_en,
       |  len(list_filter(toks, w -> w IN ('el','la','de','que','y')))::BIGINT AS s_es,
       |  len(list_filter(toks, w -> w IN ('le','les','et','des','un')))::BIGINT AS s_fr
       |  FROM d),
       |l AS (SELECT doc,
       |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |  FROM sc)""".stripMargin

  /** Shared detection CTE chain for the span-level substring dedup
    * (gram md5 → cross-doc min≠max → island merge): yields
    * `nn(doc, toks, n)` and `isl(doc, i, island)`. One source of truth
    * for the detect and apply oracles. */
  private def substringDetectionCtes: String = {
    val k = graft.Queries.substringDedupK
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |nn AS (SELECT doc, toks, len(toks) AS n FROM d),
       |g AS (SELECT doc, unnest(range(1, n - $k + 2)) AS i, toks
       |  FROM nn WHERE n >= $k),
       |h AS (SELECT doc, i, ('0x' || substr(md5(
       |    array_to_string(toks[i:i+${k - 1}], ' ')), 1, 15))::BIGINT AS h
       |  FROM g),
       |mm AS (SELECT h, min(doc) AS mn, max(doc) AS mx FROM h GROUP BY h),
       |dup AS (SELECT doc, i FROM h JOIN mm USING (h) WHERE mn <> mx),
       |brk AS (SELECT doc, i, CASE WHEN coalesce(lag(i) OVER
       |    (PARTITION BY doc ORDER BY i), -1000000) + $k < i
       |    THEN 1 ELSE 0 END AS b FROM dup),
       |isl AS (SELECT doc, i, sum(b) OVER (PARTITION BY doc ORDER BY i)
       |    AS island FROM brk)""".stripMargin
  }

  /** Decontamination replay (mirrors TextOps.decontaminate; duplicates in
    * hv count like the Spark explode does). Registered under BOTH
    * `text_decontaminate` and `text_decontaminate_bloom` — the Bloom
    * plan's verify join makes its output bit-identical to the exact one,
    * and sharing the SQL is the attestation of exactly that claim. */
  private def decontaminateSql: String = {
    val M = graft.operators.TextOps.HashMod
    s"""WITH d AS (SELECT doc_id AS doc, source,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |s AS (SELECT doc, source, list_distinct(list_transform(
       |    range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM d),
       |hv AS (SELECT doc, source, list_transform(sh,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $M) AS hv FROM s),
       |b AS (SELECT DISTINCT unnest(hv) AS h FROM hv WHERE source = 'src0'),
       |t AS (SELECT doc, hv FROM hv WHERE source <> 'src0'),
       |e AS (SELECT doc, unnest(hv) AS h FROM t),
       |o AS (SELECT e.doc, count(*) AS n_overlap FROM e
       |  JOIN b USING (h) GROUP BY 1)
       |SELECT t.doc, len(t.hv)::BIGINT AS n_shingles,
       |  coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
       |  coalesce(o.n_overlap, 0) >= 1 AS contaminated
       |FROM t LEFT JOIN o USING (doc)""".stripMargin
  }

  /** sample_stratified oracle: language-ID CASE chain (mirrors
    * text_langid) + the salted md5-threshold keep rule with the SAME
    * integer thresholds the Spark side computes. */
  private def sampleStratifiedSql: String = {
    val dflt = graft.operators.SampleOps.threshold(1.0)
    val cases = graft.Queries.sampleRates.map { case (stratum, rate) =>
      s"WHEN lang_pred = '$stratum' THEN ${graft.operators.SampleOps.threshold(rate)}"
    }.mkString(" ")
    s"""WITH $langIdCtes
       |SELECT doc, lang_pred FROM l
       |WHERE ('0x' || substr(md5('s42' || doc), 1, 15))::BIGINT <
       |  CASE $cases ELSE $dflt END""".stripMargin
  }

  /** sample_mixture oracle: the rates are DERIVED in SQL — per-language
    * counts, `sqrt(c_min/c_s)` (correctly-rounded IEEE ops only, so the
    * double is bit-identical to the Spark side's), then the same
    * `floor(rate·2^60)` integer threshold. 1.152921504606846976e18 is
    * 2^60 exactly (e-notation: DuckDB parses plain decimals as DECIMAL,
    * docs/SCALE.md pitfall 5). */
  private def sampleMixtureSql: String =
    s"""WITH $langIdCtes,
       |c AS (SELECT lang_pred, count(*)::BIGINT AS cnt FROM l GROUP BY 1),
       |m AS (SELECT lang_pred, cnt, min(cnt) OVER () AS cmin FROM c),
       |r AS (SELECT lang_pred,
       |  sqrt(cmin::DOUBLE / cnt::DOUBLE) AS rate FROM m)
       |SELECT l.doc, l.lang_pred, r.rate
       |FROM l JOIN r USING (lang_pred)
       |WHERE ('0x' || substr(md5('m42' || l.doc), 1, 15))::BIGINT <
       |  CAST(floor(r.rate * 1.152921504606846976e18) AS BIGINT)""".stripMargin

  /** curation_pipeline oracle: the five stages as composed CTEs — exact
    * dedup window, decontamination EXISTS gate against the src0 shingle
    * set, PII scrub, quality score OVER THE SCRUBBED TEXT, language ID +
    * salted stratified threshold. Same constants as the Spark stages
    * (regexes, HashMod, thresholds) inlined from the same objects. */
  /** The five curation stages as a reusable CTE chain ending in
    * `cur(doc, lang_pred, quality, est_tokens, sc)` — shared by the
    * plain `curation_pipeline` row and the classifier-gated
    * `curation_pipeline_tuned` composition so the stage replay cannot
    * drift between them. The decontamination train-side CTE is named
    * `ctr` (not `tr`) to stay disjoint from the logreg chain's CTE
    * namespace. Concatenated, never outer-stripMargin'd (the frontier
    * CTE note). */
  private def curationCtes: String = {
    val M = graft.operators.TextOps.HashMod
    val (em, ip, ph) = (graft.operators.TextOps.EmailRe,
      graft.operators.TextOps.Ipv4Re, graft.operators.TextOps.PhoneRe)
    val dflt = graft.operators.SampleOps.threshold(1.0)
    val cases = graft.Queries.sampleRates.map { case (stratum, rate) =>
      s"WHEN lang_pred = '$stratum' THEN ${graft.operators.SampleOps.threshold(rate)}"
    }.mkString(" ")
    s"""uniq AS (SELECT doc_id, text, source FROM (
       |    SELECT doc_id, text, source,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |bd AS (SELECT string_split(trim(text), ' ') AS toks
       |  FROM documents WHERE source = 'src0'),
       |bs AS (SELECT DISTINCT unnest(list_transform(
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $M)) AS h FROM bd),
       |ctr AS (SELECT doc_id AS doc, text,
       |    list_transform(list_distinct(list_transform(
       |      range(1, len(string_split(trim(text), ' ')) - 1),
       |      i -> string_split(trim(text), ' ')[i] || ' '
       |        || string_split(trim(text), ' ')[i+1] || ' '
       |        || string_split(trim(text), ' ')[i+2])),
       |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $M) AS hv
       |  FROM uniq WHERE source <> 'src0'),
       |ex AS (SELECT doc, unnest(hv) AS h FROM ctr),
       |ov AS (SELECT ex.doc, count(*) AS novl FROM ex
       |  JOIN bs USING (h) GROUP BY ex.doc),
       |clean AS (SELECT ctr.doc, ctr.text FROM ctr LEFT JOIN ov USING (doc)
       |  WHERE coalesce(ov.novl, 0) < 5),
       |scr AS (SELECT doc, regexp_replace(regexp_replace(regexp_replace(
       |    text, '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
       |    '$ph', '<PHONE>', 'g') AS sc FROM clean),
       |q AS (SELECT doc, sc, trim(sc) AS t,
       |    string_split(trim(sc), ' ') AS toks FROM scr),
       |m AS (SELECT doc, sc, toks, length(t)::BIGINT AS n_chars,
       |    len(toks)::BIGINT AS n_words,
       |    len(list_filter(toks, w -> w IN
       |      ('the','a','of','and','to','in')))::DOUBLE / len(toks) AS sr,
       |    len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks)
       |      AS lr FROM q),
       |k AS (SELECT doc, sc, toks, n_chars,
       |    1.0e0
       |      - (CASE WHEN sr < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
       |      - (CASE WHEN n_words < 5 THEN 4.0e-1 ELSE 0.0e0 END)
       |      - (CASE WHEN lr > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END) AS quality
       |  FROM m),
       |kk AS (SELECT * FROM k WHERE quality >= 6.0e-1),
       |sc2 AS (SELECT doc, sc, quality, n_chars,
       |  len(list_filter(toks, w -> w IN ('der','die','und','nicht','das')))::BIGINT AS s_de,
       |  len(list_filter(toks, w -> w IN ('the','and','of','to','in')))::BIGINT AS s_en,
       |  len(list_filter(toks, w -> w IN ('el','la','de','que','y')))::BIGINT AS s_es,
       |  len(list_filter(toks, w -> w IN ('le','les','et','des','un')))::BIGINT AS s_fr
       |  FROM kk),
       |l AS (SELECT doc, sc, quality, n_chars,
       |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |  FROM sc2),
       |cur AS (SELECT doc, lang_pred,
       |  round(quality, 6) + 0.0e0 AS quality,
       |  ceil(n_chars::DOUBLE / 4.0e0)::BIGINT AS est_tokens,
       |  md5(sc) AS scrub_hash
       |FROM l
       |WHERE ('0x' || substr(md5('s42' || doc), 1, 15))::BIGINT <
       |  CASE $cases ELSE $dflt END)""".stripMargin
  }

  private def curationPipelineSql: String =
    "WITH " + curationCtes +
      "\nSELECT doc, lang_pred, quality, est_tokens, scrub_hash FROM cur"

  /** The audit's best-F1-threshold chain over the shared logreg `sc`
    * scores (held-out grouping → cumulative counts → the (f1 DESC,
    * score DESC) argmax as the 1-row `b`) — shared by the
    * `quality_classify_audit` row and the `curation_pipeline_tuned`
    * gate so the replayed threshold cannot drift between them. */
  private def auditThresholdCtes: String =
    """ho AS (SELECT round(p, 6) + 0.0e0 AS score, y FROM sc
      |  WHERE NOT is_train),
      |g AS (SELECT score, count(*)::BIGINT AS n,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np
      |  FROM ho GROUP BY score),
      |c AS (SELECT score, n, np,
      |    sum(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_n,
      |    sum(np) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_np
      |  FROM g),
      |t AS (SELECT sum(n)::BIGINT AS t_n, sum(np)::BIGINT AS t_p FROM g),
      |b AS (SELECT score,
      |    2.0e0 * (t.t_p - cum_np + np)::DOUBLE
      |      / ((t.t_n - cum_n + n) + t.t_p)::DOUBLE AS f1
      |  FROM c CROSS JOIN t ORDER BY f1 DESC, score DESC LIMIT 1)""".stripMargin

  /** BM25 (rational-idf) keyword search — mirrors TextOps.bm25TopK term by
    * term with the identical float expression tree (same literals, same
    * parenthesization, left-assoc sum), so scores are bit-equal. */
  /** The BM25 scoring CTE chain (yields `sc(doc, dl, score)`) — shared
    * by [[bm25Sql]] and the RRF fusion oracle so the expression tree
    * cannot drift between them. */
  private def bm25Ctes: String = {
    val terms = graft.Queries.bm25Terms
    val (k1, b) = ("1.2e0", "0.75e0")
    val tfCols = terms.indices.map(i =>
      s"len(list_filter(toks, w -> w = '${terms(i)}'))::BIGINT AS tf$i")
      .mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i")
      .mkString(",\n    ")
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    val contribs = terms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0 THEN
         |    ((CAST(n_docs - df$i AS DOUBLE) + 0.5e0)
         |      / (CAST(df$i AS DOUBLE) + 0.5e0))
         |    * ((CAST(tf$i AS DOUBLE) * ($k1 + 1.0e0))
         |      / (CAST(tf$i AS DOUBLE) + $k1 * ((1.0e0 - $b)
         |        + $b * (CAST(dl AS DOUBLE) / $avgdl))))
         |  ELSE 0.0e0 END)""".stripMargin
    }.mkString("\n  + ")
    s"""d AS (SELECT doc_id AS doc, string_split(trim(text), ' ') AS toks
       |  FROM documents),
       |tf AS (SELECT doc, len(toks)::BIGINT AS dl,
       |    $tfCols
       |  FROM d),
       |st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
       |    $dfCols
       |  FROM tf),
       |sc AS (SELECT doc, dl,
       |  $contribs AS score
       |  FROM tf CROSS JOIN st)""".stripMargin
  }

  private def bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT doc, dl, score FROM sc WHERE score > 0
       |ORDER BY score DESC, doc LIMIT 20""".stripMargin

  /** retrieval_rrf oracle: the shared BM25 chain and the sim_brute
    * cosine chain, each top-20 ranked, fused by reciprocal rank
    * (1/(60+r), missing list contributes 0 — Cormack et al. 2009),
    * top-10 by (rrf DESC, doc). Fixed two-term sum order matches the
    * engine's coalesce(+) expression exactly. */
  private def retrievalRrfSql: String =
    s"""WITH $bm25Ctes,
       |bmt AS (SELECT doc, score FROM sc WHERE score > 0
       |  ORDER BY score DESC, doc LIMIT 20),
       |bmr AS (SELECT CAST(doc AS BIGINT) AS doc,
       |  row_number() OVER (ORDER BY score DESC, doc) AS r_bm FROM bmt),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
       |vs AS (SELECT e.vec_id,
       |    list_sum(list_transform(range(1, len(q) + 1),
       |      i -> q[i] * v[i]))
       |    / (sqrt(list_sum(list_transform(q, x -> x * x)))
       |       * sqrt(list_sum(list_transform(v, x -> x * x)))) AS sim
       |  FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
       |vt AS (SELECT vec_id, sim FROM vs ORDER BY sim DESC, vec_id LIMIT 20),
       |vr AS (SELECT CAST(vec_id AS BIGINT) AS doc,
       |  row_number() OVER (ORDER BY sim DESC, vec_id) AS r_v FROM vt),
       |f AS (SELECT coalesce(bmr.doc, vr.doc) AS doc,
       |    coalesce(1.0e0 / (60 + r_bm), 0.0e0)
       |      + coalesce(1.0e0 / (60 + r_v), 0.0e0) AS rrf,
       |    r_bm, r_v
       |  FROM bmr FULL OUTER JOIN vr ON bmr.doc = vr.doc)
       |SELECT doc, rrf, r_bm, r_v FROM f
       |ORDER BY rrf DESC, doc LIMIT 10""".stripMargin

  private def minhashSql: String = minhashSqlK(3)

  private def minhashSqlK(k: Int): String =
    s"""WITH ${minhashBandCtesK(k)},
       |pairs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
       |    a.sig AS sa, b.sig AS sb
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc < b.doc)
       |SELECT doc_a, doc_b,
       |  len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE / 16
       |    AS est_jaccard
       |FROM pairs WHERE len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE / 16 >= 0.25""".stripMargin

  /** Streaming dedup admission (DedupAdmitStream): the shared band CTEs
    * (UNCAPPED — band0; admission needs every band of a doc) plus the
    * first-owner window law over the global order key
    * `(doc % 2)·10⁸ + doc` (epoch = doc parity, exactly the engine's
    * two-epoch split). Non-recursive semantics make this closed form:
    * admitted(d) ⟺ every band of d has its minimum-ord owner at d.
    * Shingle-less docs carry no bands and admit trivially. */
  private def streamDedupAdmitSql: String =
    s"""WITH $minhashBandCtes,
       |ob AS (SELECT doc, (CAST(doc AS BIGINT) % 2) * 100000000
       |    + CAST(doc AS BIGINT) AS ord, band_id, band_hash FROM band0),
       |mo AS (SELECT doc, ord, min(ord) OVER
       |    (PARTITION BY band_id, band_hash) AS m FROM ob),
       |ad AS (SELECT doc, bool_and(m = ord) AS admitted,
       |    count(*) AS n_bands FROM mo GROUP BY doc)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc,
       |  coalesce(ad.admitted, true) AS admitted,
       |  coalesce(ad.n_bands, 0)::BIGINT AS n_bands
       |FROM documents d LEFT JOIN ad ON d.doc_id = ad.doc""".stripMargin

  /** The WET chain's closed form (shared batch + streaming twin). */
  private def wetExtractSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents)
      |SELECT id % 50 AS group_id,
      |  row_number() OVER (PARTITION BY id % 50 ORDER BY id) - 1
      |    AS record_idx,
      |  'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR AS uri,
      |  'Doc & Title ' || id::VARCHAR AS title,
      |  'Heading ' || (id % 10)::VARCHAR || chr(10)
      |    || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10)
      |    || 'Entities <b> "q" ''s'' & tail ' || id::VARCHAR AS text,
      |  3::BIGINT AS n_blocks, 4::BIGINT AS n_dropped
      |FROM d""".stripMargin

  /** Incremental snapshot dedup: the full-corpus band CTEs (union-capped
    * buckets — the engine caps on old ∪ new membership too), restricted
    * to pairs with a new-batch side: new×old every collision, new×new
    * ordered — the operator's "incremental ≡ from-scratch, restricted"
    * semantics pin, stated directly in SQL. */
  private def dedupIncrementalSql: String =
    s"""WITH $minhashBandCtes,
       |n AS (SELECT CAST(doc_id AS BIGINT) AS doc FROM documents
       |  WHERE CAST(substr(source, 4, 10) AS INT) >= 15),
       |pairs AS (SELECT DISTINCT a.doc AS doc_new, b.doc AS doc_match,
       |    b.doc IN (SELECT doc FROM n) AS match_is_new,
       |    a.sig AS sa, b.sig AS sb
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash
       |  WHERE a.doc IN (SELECT doc FROM n)
       |    AND (b.doc NOT IN (SELECT doc FROM n) OR a.doc < b.doc))
       |SELECT doc_new, doc_match, match_is_new,
       |  len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE / 16
       |    AS est_jaccard
       |FROM pairs
       |WHERE len(list_filter(range(1, 17), i -> sa[i] = sb[i]))::DOUBLE / 16
       |  >= 0.25""".stripMargin

  /** Gated n-gram Jaccard: MinHash band candidates → exact set Jaccard via
    * list_intersect — mirrors TextOps.ngramJaccardPairsGated. */
  private def ngramGatedSql: String =
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc < b.doc),
       |j AS (SELECT doc_a, doc_b,
       |    len(list_intersect(ha.hv, hb.hv))::DOUBLE AS c,
       |    len(ha.hv) AS na, len(hb.hv) AS nb
       |  FROM cand
       |  JOIN hv ha ON doc_a = ha.doc
       |  JOIN hv hb ON doc_b = hb.doc)
       |SELECT doc_a, doc_b, c / (na + nb - c) AS jaccard
       |FROM j WHERE c / (na + nb - c) >= 0.2""".stripMargin

  /** LSH recall audit: the gated chain (shared band CTEs, distinct-set
    * Jaccard) LEFT-joined under the all-pairs exact truth (multiset
    * count c — mirrors the Spark all-pairs side exactly). */
  private def lshRecallAuditSql: String =
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc < b.doc),
       |fj AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b,
       |    len(list_intersect(ha.hv, hb.hv))::DOUBLE AS c,
       |    len(ha.hv) AS na, len(hb.hv) AS nb
       |  FROM cand JOIN hv ha ON doc_a = ha.doc
       |  JOIN hv hb ON doc_b = hb.doc)
       |  WHERE c / (na + nb - c) >= 0.2),
       |ee AS (SELECT doc, unnest(hv) AS g FROM hv),
       |cm AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::DOUBLE AS c
       |  FROM ee a JOIN ee b ON a.g = b.g AND a.doc < b.doc
       |  GROUP BY 1, 2),
       |ex AS (SELECT cm.doc_a, cm.doc_b
       |  FROM cm JOIN (SELECT doc, len(hv)::BIGINT AS n FROM hv) sa
       |    ON cm.doc_a = sa.doc
       |  JOIN (SELECT doc, len(hv)::BIGINT AS n FROM hv) sb
       |    ON cm.doc_b = sb.doc
       |  WHERE cm.c / (sa.n + sb.n - cm.c) >= 0.2)
       |SELECT count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN fj.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_found,
       |  round(sum(CASE WHEN fj.doc_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / nullif(count(*), 0), 6) + 0.0e0 AS recall
       |FROM ex LEFT JOIN fj ON ex.doc_a = fj.doc_a
       |  AND ex.doc_b = fj.doc_b""".stripMargin

  /** text_bpe_fertility oracle: the full recursive BPE replay
    * (shared [[bpeTokenizeSql]]) joined with whitespace-token counts,
    * rolled up per source. */
  private def bpeFertilitySql: String =
    s"""WITH b AS (SELECT * FROM (
       |${bpeTokenizeSql.linesIterator.map("  " + _).mkString("\n")}
       |) t),
       |d AS (SELECT CAST(doc_id AS BIGINT) AS doc, source,
       |    len(string_split(trim(text), ' '))::BIGINT AS n_ws
       |  FROM documents)
       |SELECT d.source, sum(b.n_bpe_tokens)::BIGINT AS sum_bpe,
       |  sum(d.n_ws)::BIGINT AS sum_ws,
       |  round(sum(b.n_bpe_tokens)::DOUBLE / sum(d.n_ws), 6) + 0.0e0
       |    AS fertility
       |FROM d JOIN b ON d.doc = b.doc GROUP BY d.source""".stripMargin

  private def simhashSql: String = {
    val sums = (0 until 60).map(j =>
      s"sum(((h >> $j) & 1) * 2 - 1) AS b$j").mkString(",\n    ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id AS doc, unnest(string_split(trim(text), ' ')) AS w
       |  FROM documents),
       |h AS (SELECT doc, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM t),
       |agg AS (SELECT doc,
       |    $sums
       |  FROM h GROUP BY doc)
       |SELECT doc, ($bits)::BIGINT AS simhash FROM agg""".stripMargin
  }

  /** emb_neardup oracle: banded sign-LSH (4 bands × 4 bits over anchors
    * vec_id 400-415, ordered by anchor id) with Hamming-1 multi-probe on
    * the candidate side, exact-cosine verify — mirrors
    * VectorOps.nearDupPairsLsh(multiProbe = true). */
  /** The emb_neardup CTE chain (normalize → anchor sign bits → banded
    * keys → capped index + multi-probe → verified pairs `pr`), shared
    * with the recall-audit oracle. */
  private def embLshCtes: String = {
    val rpb = 4
    // probe keys: r = 0 exact, r = 1..4 the key with bit r flipped
    // (per-position concat — list slicing like bl[1:0] is NULL in DuckDB,
    // which would silently null out edge-bit flips)
    val probeSelects = (0 to rpb).map { r =>
      val key = (1 to rpb).map { j =>
        if (j == r) s"(CASE WHEN bl[$j] = '1' THEN '0' ELSE '1' END)"
        else s"bl[$j]"
      }.mkString(" || ")
      s"SELECT v_id, band_id, $key AS band_key FROM bl"
    }.mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM n),
       |anch AS (SELECT v AS av,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS rk
       |  FROM e WHERE vec_id BETWEEN 400 AND 415),
       |bits AS (SELECT u.vec_id AS v_id, rk // $rpb AS band_id, rk,
       |    CASE WHEN list_sum(list_transform(range(1, len(vn) + 1),
       |      i -> vn[i] * av[i])) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM u CROSS JOIN anch),
       |bl AS (SELECT v_id, band_id, list(bit ORDER BY rk) AS bl
       |  FROM bits GROUP BY v_id, band_id),
       |exact AS (SELECT v_id, band_id, array_to_string(bl, '') AS band_key
       |  FROM bl
       |  QUALIFY row_number() OVER (PARTITION BY band_id,
       |    array_to_string(bl, '') ORDER BY v_id)
       |    <= ${graft.operators.VectorOps.DefaultMaxBucket}),
       |probe AS ($probeSelects),
       |cand AS (SELECT DISTINCT p.v_id AS id_a, x.v_id AS id_b
       |  FROM probe p JOIN exact x ON p.band_id = x.band_id
       |    AND p.band_key = x.band_key AND p.v_id < x.v_id),
       |pr AS (SELECT id_a, id_b,
       |    list_sum(list_transform(range(1, len(ua.vn) + 1),
       |      i -> ua.vn[i] * ub.vn[i])) AS sim
       |  FROM cand
       |  JOIN u ua ON id_a = ua.vec_id
       |  JOIN u ub ON id_b = ub.vec_id)""".stripMargin
  }

  private def embNearDupSql: String =
    s"""WITH $embLshCtes
       |SELECT id_a, id_b, round(sim, 6) AS sim FROM pr
       |WHERE sim >= 0.45""".stripMargin

  /** emb_recall_audit oracle: the shared LSH chain's gated pairs under
    * the brute all-pairs cosine truth (quadratic — audit scale only,
    * same as the engine's contract). */
  private def embRecallAuditSql: String =
    s"""WITH $embLshCtes,
       |fnd AS (SELECT id_a, id_b FROM pr WHERE sim >= 0.45),
       |ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM u a JOIN u b ON a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(range(1, len(a.vn) + 1),
       |    i -> a.vn[i] * b.vn[i])) >= 0.45)
       |SELECT count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_found,
       |  round(sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / nullif(count(*), 0), 6) + 0.0e0 AS recall
       |FROM ex LEFT JOIN fnd ON ex.id_a = fnd.id_a
       |  AND ex.id_b = fnd.id_b""".stripMargin

  /** ann_lsh oracle: 6-bit sign-LSH buckets (anchors vec_id 480-485) with
    * Hamming-1 MULTI-PROBE on the query side — mirrors
    * VectorOps.annTopK(multiProbe = true): queries probe their exact
    * bucket plus every bucket with one sign bit flipped; the indexed side
    * stays one bucket per vector, so a (q, v) pair matches via at most one
    * probe key (no pair dedup needed). */
  private def annLshSql: String = {
    val bits = 6
    val probeSelects = "SELECT q_id, qv, bucket FROM q0" +:
      (1 to bits).map { r =>
        val flipped = s"substr(bucket, 1, ${r - 1}) || " +
          s"(CASE WHEN substr(bucket, $r, 1) = '1' THEN '0' ELSE '1' END) || " +
          s"substr(bucket, ${r + 1}, ${bits - r})"
        s"SELECT q_id, qv, $flipped AS bucket FROM q0"
      }
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |a AS (SELECT vec_id AS a_id, v AS av FROM e
       |  WHERE vec_id BETWEEN 480 AND 485),
       |dots AS (SELECT e.vec_id AS v_id, a.a_id,
       |    list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * av[i])) AS d
       |  FROM e CROSS JOIN a),
       |buck AS (SELECT v_id,
       |    string_agg(CASE WHEN d > 0 THEN '1' ELSE '0' END, '' ORDER BY a_id)
       |      AS bucket
       |  FROM dots GROUP BY v_id),
       |ev AS (SELECT e.vec_id AS v_id, v, bucket
       |  FROM e JOIN buck ON e.vec_id = buck.v_id),
       |q0 AS (SELECT v_id AS q_id, v AS qv, bucket FROM ev WHERE v_id < 10),
       |q AS (${probeSelects.mkString("\n  UNION ALL ")}),
       |scored AS (SELECT q.q_id, ev.v_id,
       |    list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i]))
       |    / (sqrt(list_sum(list_transform(qv, x -> x * x)))
       |       * sqrt(list_sum(list_transform(v, x -> x * x)))) AS sim
       |  FROM q JOIN ev USING (bucket) WHERE q.q_id <> ev.v_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, v_id) AS INT) AS rank,
       |  v_id AS n_id, round(sim, 6) + 0.0e0 AS sim
       |FROM scored
       |QUALIFY rank <= 3""".stripMargin
  }

  /** a7 oracle: DBSCAN restated order-free as graph reachability, made
    * hash-checkable by canonical labels. The engine's per-group BFS
    * (ClusterOps.LocalDbscan, mirroring sklearn's index-order scan —
    * marker_parsing.py:387-401 semantics) is equivalent to:
    *
    *  - clusters = connected components of CORE points (≥ minPts
    *    neighbors incl. self) under eps-adjacency — recursive CTE
    *    propagating reachable core ids, component root = min core id;
    *  - border points (non-core within eps of a core) join the
    *    earliest-DISCOVERED adjacent component; discovery order is
    *    ascending min-core-id because the outer scan runs in event_id
    *    order and each seed's full BFS completes before the next seed —
    *    so "earliest" = min(root) over adjacent cores, order-free;
    *  - everything else is noise (−1);
    *  - both sides relabel clusters to min member id (borders included).
    *
    * Cross-checked bit-exact against an independent Python replay of the
    * BFS at sf0.001 and sf0.01 (1000/10000 rows, 145 clusters). */
  private def a7Sql: String = {
    val eps2 = 0.05 * 0.05 // the engine compares d ≤ eps² in the double domain
    val minPts = 5
    s"""WITH RECURSIVE pts AS (SELECT event_id AS id, event_type AS et,
       |    CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
       |    value/2.0e2 AS fx, (user_id % 100)/1.0e2 AS fy
       |  FROM events),
       |nb AS (SELECT a.id AS ida, b.id AS idb
       |  FROM pts a JOIN pts b ON a.et = b.et AND a.day = b.day
       |    AND ((a.fx-b.fx)*(a.fx-b.fx)) + ((a.fy-b.fy)*(a.fy-b.fy))
       |      <= ${d(eps2)}),
       |core AS (SELECT ida AS id FROM nb GROUP BY ida
       |  HAVING count(*) >= $minPts),
       |ce AS (SELECT n.ida AS a, n.idb AS b FROM nb n
       |  JOIN core ca ON n.ida = ca.id JOIN core cb ON n.idb = cb.id),
       |cc AS (
       |  SELECT id AS node, id AS lbl FROM core
       |  UNION
       |  SELECT ce.b AS node, cc.lbl FROM cc JOIN ce ON cc.node = ce.a
       |),
       |comp AS (SELECT node, min(lbl) AS root FROM cc GROUP BY node),
       |bord AS (SELECT n.ida AS id, min(c.root) AS root
       |  FROM nb n JOIN comp c ON n.idb = c.node
       |  WHERE n.ida NOT IN (SELECT id FROM core)
       |  GROUP BY n.ida),
       |member AS (SELECT node AS id, root FROM comp
       |  UNION ALL SELECT id, root FROM bord),
       |lab AS (SELECT root, min(id) AS cluster_id FROM member GROUP BY root),
       |labeled AS (SELECT m.id, l.cluster_id FROM member m JOIN lab l USING (root))
       |SELECT p.id AS event_id, coalesce(o.cluster_id, -1) AS cluster_id
       |FROM pts p LEFT JOIN labeled o ON p.id = o.id""".stripMargin
  }

  /** W10 oracle: an independent scalar replay of the binocular-merge FSM
    * as a DuckDB RECURSIVE CTE — per session, one recursion step per
    * time-ordered pupil row, carrying (queue0, queue1, EMA, emitted) as
    * list/struct state. Mirrors BinocularMerge.step exactly: queue insert,
    * per-queue mean frame interval (sequential sum of diffs — NOT the
    * telescoped closed form, so fp addition order matches), EMA smoothing
    * 1/50, cutoff 2·EMA, and the 5-way branch (low-confidence head →
    * mono; both non-empty → pop older, pair within cutoff else mono;
    * queue > 10 → drain mono). Cross-checked against a second independent
    * Python replay at sf0.001 (bit-exact, 891 rows). */
  private def w10Sql: String = {
    val emitMono = (q: String) =>
      s"{'ts': $q[1].ts, 'topic': 'gaze.2d.' || $q[1].id || '.', " +
        s"'conf': $q[1].conf, 'bino': false}"
    val meanDiff = (q: String) =>
      s"CASE WHEN len($q) >= 2 THEN list_sum(list_transform(range(1, len($q)), " +
        s"i -> $q[i+1].ts - $q[i].ts)) / (len($q) - 1) ELSE NULL END"
    s"""WITH RECURSIVE
       |pp AS (SELECT 'u' || user_id AS session, epoch(ts) AS t,
       |    CAST(event_id % 2 AS INT) AS id,
       |    CASE WHEN event_type = 'error' THEN 3.0e-1 ELSE 9.0e-1 END AS conf
       |  FROM events),
       |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY session ORDER BY t)
       |    AS INT) AS rn FROM pp),
       |mx AS (SELECT session, max(rn) AS mr FROM p GROUP BY session),
       |fsm AS (
       |  SELECT session, 0 AS rn,
       |    CAST([] AS STRUCT(ts DOUBLE, id INT, conf DOUBLE)[]) AS q0,
       |    CAST([] AS STRUCT(ts DOUBLE, id INT, conf DOUBLE)[]) AS q1,
       |    CAST(1.0 AS DOUBLE) / 120.0 AS ema,
       |    CAST([] AS STRUCT(ts DOUBLE, topic VARCHAR, conf DOUBLE,
       |      bino BOOLEAN)[]) AS outb
       |  FROM (SELECT DISTINCT session FROM p)
       |  UNION ALL
       |  SELECT session, rn,
       |    CASE WHEN br IN (1, 3, 5) THEN q0i[2:] ELSE q0i END AS q0,
       |    CASE WHEN br IN (2, 4, 6) THEN q1i[2:] ELSE q1i END AS q1,
       |    ema2 AS ema,
       |    CASE WHEN g IS NULL THEN outb ELSE list_append(outb, g) END AS outb
       |  FROM (
       |    SELECT *,
       |      CASE WHEN br = 1 THEN ${emitMono("q0i")}
       |           WHEN br = 2 THEN ${emitMono("q1i")}
       |           WHEN br IN (3, 4) THEN
       |             CASE WHEN abs(q0i[1].ts - q1i[1].ts) < 2 * ema2 THEN
       |               {'ts': (q0i[1].ts + q1i[1].ts) / 2.0,
       |                'topic': 'gaze.2d.01.',
       |                'conf': (q0i[1].conf + q1i[1].conf) / 2.0, 'bino': true}
       |             ELSE CASE WHEN br = 3 THEN ${emitMono("q0i")}
       |                  ELSE ${emitMono("q1i")} END
       |             END
       |           WHEN br = 5 THEN ${emitMono("q0i")}
       |           WHEN br = 6 THEN ${emitMono("q1i")}
       |           ELSE NULL END AS g
       |    FROM (
       |      SELECT *,
       |        CASE WHEN len(q0i) > 0 AND q0i[1].conf < 6.0e-1 THEN 1
       |             WHEN len(q1i) > 0 AND q1i[1].conf < 6.0e-1 THEN 2
       |             WHEN len(q0i) > 0 AND len(q1i) > 0
       |               AND q0i[1].ts < q1i[1].ts THEN 3
       |             WHEN len(q0i) > 0 AND len(q1i) > 0 THEN 4
       |             WHEN len(q0i) > 10 THEN 5
       |             WHEN len(q1i) > 10 THEN 6
       |             ELSE 0 END AS br
       |      FROM (
       |        SELECT *, CASE WHEN raw IS NULL THEN ema0
       |          ELSE ema0 + (raw - ema0) * (CAST(1.0 AS DOUBLE) / 50.0)
       |          END AS ema2
       |        FROM (
       |          SELECT *,
       |            CASE WHEN d0 IS NOT NULL AND d1 IS NOT NULL
       |              THEN greatest(d0, d1) ELSE coalesce(d0, d1) END AS raw
       |          FROM (
       |            SELECT *, ${meanDiff("q0i")} AS d0, ${meanDiff("q1i")} AS d1
       |            FROM (
       |              SELECT f.session, pr.rn,
       |                CASE WHEN pr.id = 0 THEN list_append(f.q0,
       |                  {'ts': pr.t, 'id': pr.id, 'conf': pr.conf})
       |                  ELSE f.q0 END AS q0i,
       |                CASE WHEN pr.id = 1 THEN list_append(f.q1,
       |                  {'ts': pr.t, 'id': pr.id, 'conf': pr.conf})
       |                  ELSE f.q1 END AS q1i,
       |                f.ema AS ema0, f.outb
       |              FROM fsm f JOIN p pr
       |                ON pr.session = f.session AND pr.rn = f.rn + 1
       |            )))))))
       |SELECT f.session, u.g.ts AS timestamp, u.g.topic AS topic,
       |  u.g.conf AS confidence, u.g.bino AS binocular
       |FROM fsm f
       |JOIN mx ON f.session = mx.session AND f.rn = mx.mr
       |CROSS JOIN (SELECT unnest(outb) AS g) u""".stripMargin
  }

  /** ann_ivf oracle: the deterministic Lloyd quantizer replayed as 10
    * UNROLLED, MATERIALIZED CTE iterations (inlined CTEs would re-expand
    * the chain exponentially) — init = first 16 sample vectors by id,
    * argmin assignment ordered (dist, cid) like the Scala first-minimum,
    * per-centroid means summed in vec_id order (the Scala foreach order),
    * empty centroids carried over — then cell assignment, nprobe=4 probes
    * for queries v_id < 10, exact-cosine rerank, k=3. Mirrors
    * VectorOps.ivfTopK + kmeans bit-for-bit (cross-checked against an
    * independent Python replay at sf0.001). */
  /** The coarse-quantizer CTE chain (normalize → sample → 10 unrolled
    * Lloyd iterations → final assignment) shared by the IVF and SemDeDup
    * oracles — ends with `fin` (all cell ranks) and `cells` (rank-1).
    * `nCells` = the k-means arity (init = first nCells sample vectors). */
  private def ivfCellCtes(nCells: Int): String = {
    val iters = (0 until 10).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, vn, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |  FROM (SELECT s.vec_id, s.vn, c.cid,
         |      list_sum(list_transform(range(1, len(s.vn) + 1),
         |        j -> (s.vn[j] - c.c[j]) * (s.vn[j] - c.c[j]))) AS d
         |    FROM s CROSS JOIN c$i c)),
         |g$i AS MATERIALIZED (SELECT cid, list(vn ORDER BY vec_id) AS vl
         |  FROM a$i WHERE rk = 1 GROUP BY cid),
         |c${i + 1} AS MATERIALIZED (SELECT c.cid, CASE WHEN g.vl IS NULL THEN c.c ELSE
         |    list_transform(range(1, len(c.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM c$i c LEFT JOIN g$i g USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |u AS MATERIALIZED (SELECT vec_id,
       |    list_transform(v, x -> x / nrm) AS vn FROM n),
       |s AS MATERIALIZED (SELECT vec_id, vn FROM u ORDER BY vec_id LIMIT 10000),
       |c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vn AS c
       |  FROM (SELECT vec_id, vn FROM s ORDER BY vec_id LIMIT $nCells)),
       |$iters,
       |fin AS (SELECT u.vec_id AS v_id, u.vn, c.cid,
       |    row_number() OVER (PARTITION BY u.vec_id ORDER BY
       |      list_sum(list_transform(range(1, len(u.vn) + 1),
       |        j -> (u.vn[j] - c.c[j]) * (u.vn[j] - c.c[j]))), c.cid) AS rk
       |  FROM u CROSS JOIN c10 c),
       |cells AS (SELECT v_id, vn, cid FROM fin WHERE rk = 1)""".stripMargin
  }

  private def ivfSql: String =
    s"""WITH ${ivfCellCtes(16)},
       |qp AS (SELECT v_id AS q_id, vn AS qv, cid FROM fin
       |  WHERE rk <= 4 AND v_id < 10),
       |scored AS (SELECT q.q_id, cl.v_id,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> q.qv[j] * cl.vn[j])) AS sim
       |  FROM qp q JOIN cells cl USING (cid) WHERE q.q_id <> cl.v_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, v_id) AS INT) AS rank,
       |  v_id AS n_id, round(sim, 6) + 0.0e0 AS sim
       |FROM scored
       |QUALIFY rank <= 3""".stripMargin

  /** emb_semdedup oracle: the shared coarse-quantizer chain (at the
    * query's 256-cell arity), then the intra-cell lower-id
    * near-duplicate rule — a vector is dropped iff a same-cell member
    * with a smaller id sits at cosine ≥ the threshold. The b side is
    * capped to each cell's [[graft.Queries.semDedupCellCap]] lowest-id
    * members, mirroring the engine's hot-cell cap. */
  private def semDedupSql: String =
    s"""WITH ${ivfCellCtes(graft.Queries.semDedupCells)},
       |bs AS (SELECT * FROM (SELECT cells.*,
       |    row_number() OVER (PARTITION BY cid ORDER BY v_id) AS rk
       |  FROM cells) WHERE rk <= ${graft.Queries.semDedupCellCap}),
       |dup AS (SELECT DISTINCT a.v_id FROM cells a JOIN bs b
       |  ON a.cid = b.cid AND b.v_id < a.v_id
       |  AND list_sum(list_transform(range(1, len(a.vn) + 1),
       |    j -> a.vn[j] * b.vn[j])) >= ${d(graft.Queries.semDedupThreshold)})
       |SELECT c.v_id, c.cid, d.v_id IS NULL AS is_kept
       |FROM cells c LEFT JOIN dup d USING (v_id)""".stripMargin

  /** emb_semdedup_hier oracle: the TWO-LEVEL quantizer replayed — the
    * shared level-1 chain (ivfCellCtes at k1) feeds per-super-cell
    * level-2 Lloyd fits using the grouped-iteration technique from the
    * PQ oracle (keyed by scid instead of sub; init = each super's first
    * k2 sample members by id; supers with no sample members keep their
    * super centroid as a single child), then every corpus vector is
    * assigned scid (level-1 argmin) → ccid (argmin among that super's
    * children) → cid = scid·stride + ccid, and the same capped
    * intra-cell lower-id rule runs over the two-level cells. Every fold
    * and tie-break matches the Scala kernels
    * (VectorOps.hierKmeans/assignHierCells) bit-for-bit. */
  /** The TWO-LEVEL coarse-quantizer CTE chain: level-1 [[ivfCellCtes]]
    * at k1 feeds per-super grouped level-2 Lloyd fits (the PQ oracle's
    * keyed-iteration technique, keyed by scid), ending with `h10` (child
    * centroids), `stride`, and `hc` (every corpus vector's two-level
    * assignment: v_id, vn, scid, ccid, global cid). Shared by the
    * hier-SemDeDup and hier-IVF-PQ oracles. */
  private def hierCellCtes(k1: Int, k2: Int): String = {
    val iters = (0 until 10).map { i =>
      s"""ha$i AS MATERIALIZED (SELECT v_id, scid, vn, ccid,
         |    row_number() OVER (PARTITION BY v_id ORDER BY d, ccid) AS rk
         |  FROM (SELECT m.v_id, m.scid, m.vn, h.ccid,
         |      list_sum(list_transform(range(1, len(m.vn) + 1),
         |        j -> (m.vn[j] - h.c[j]) * (m.vn[j] - h.c[j]))) AS d
         |    FROM scs m JOIN h$i h USING (scid))),
         |hg$i AS MATERIALIZED (SELECT scid, ccid, list(vn ORDER BY v_id) AS vl
         |  FROM ha$i WHERE rk = 1 GROUP BY scid, ccid),
         |h${i + 1} AS MATERIALIZED (SELECT h.scid, h.ccid,
         |    CASE WHEN g.vl IS NULL THEN h.c ELSE
         |    list_transform(range(1, len(h.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM h$i h LEFT JOIN hg$i g USING (scid, ccid))""".stripMargin
    }.mkString(",\n")
    s"""${ivfCellCtes(k1)},
       |scs AS MATERIALIZED (SELECT c.v_id, c.vn, c.cid AS scid FROM cells c
       |  WHERE c.v_id IN (SELECT vec_id FROM s)),
       |h0 AS MATERIALIZED (
       |  SELECT scid, ccid, vn AS c FROM (SELECT scid, vn,
       |      CAST(row_number() OVER (PARTITION BY scid ORDER BY v_id) - 1
       |        AS INT) AS ccid
       |    FROM scs) WHERE ccid < $k2
       |  UNION ALL
       |  SELECT c.cid AS scid, 0 AS ccid, c.c
       |  FROM c10 c WHERE NOT EXISTS (SELECT 1 FROM scs WHERE scs.scid = c.cid)),
       |$iters,
       |stride AS (SELECT max(cnt) AS st FROM
       |  (SELECT scid, count(*) AS cnt FROM h10 GROUP BY scid)),
       |hfin AS MATERIALIZED (SELECT cl.v_id, cl.vn, cl.cid AS scid, h.ccid,
       |    row_number() OVER (PARTITION BY cl.v_id ORDER BY
       |      list_sum(list_transform(range(1, len(cl.vn) + 1),
       |        j -> (cl.vn[j] - h.c[j]) * (cl.vn[j] - h.c[j]))), h.ccid) AS rk
       |  FROM cells cl JOIN h10 h ON h.scid = cl.cid),
       |hc AS MATERIALIZED (SELECT v_id, vn, scid, ccid,
       |    CAST(scid * (SELECT st FROM stride) + ccid AS INT) AS cid
       |  FROM hfin WHERE rk = 1)""".stripMargin
  }

  private def semDedupHierSql: String =
    s"""WITH ${hierCellCtes(graft.Queries.semDedupHierK1,
                            graft.Queries.semDedupHierK2)},
       |bs AS (SELECT * FROM (SELECT hc.*,
       |    row_number() OVER (PARTITION BY cid ORDER BY v_id) AS rk
       |  FROM hc) WHERE rk <= ${graft.Queries.semDedupCellCap}),
       |dup AS (SELECT DISTINCT a.v_id FROM hc a JOIN bs b
       |  ON a.cid = b.cid AND b.v_id < a.v_id
       |  AND list_sum(list_transform(range(1, len(a.vn) + 1),
       |    j -> a.vn[j] * b.vn[j])) >= ${d(graft.Queries.semDedupThreshold)})
       |SELECT c.v_id, c.cid, d.v_id IS NULL AS is_kept
       |FROM hc c LEFT JOIN dup d USING (v_id)""".stripMargin

  /** ann_ivf_pq_hier_topk oracle: the hier coarse chain ([[hierCellCtes]])
    * composed with the residual-PQ grouped-Lloyd chain (the ivfPqSql
    * technique over CHILD-centroid residuals) and the TWO-LEVEL probe:
    * per query the `probeSupers` nearest supers (fin ranks), then all
    * their children ranked jointly by exact child distance with ties on
    * the lower global cid — exactly VectorOps.hierProbeCids — feeding the
    * asymmetric rank + exact re-rank tail. */
  private def ivfPqHierSql: String = {
    val m = 8; val subDim = 8; val k = 16
    val rerank = graft.Queries.annIvfPqHierRerank
    val probeSupers = graft.Queries.annIvfPqHierProbeSupers
    val nprobe = graft.Queries.annIvfPqHierNprobe
    val pq = (0 until 10).map { i =>
      s"""pa$i AS MATERIALIZED (SELECT vec_id, sub, sv, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rk
         |  FROM (SELECT p.vec_id, p.sub, p.sv, c.cid,
         |      list_sum(list_transform(range(1, len(p.sv) + 1),
         |        j -> (p.sv[j] - c.c[j]) * (p.sv[j] - c.c[j]))) AS d
         |    FROM psmp p JOIN pc$i c USING (sub))),
         |pg$i AS MATERIALIZED (SELECT sub, cid, list(sv ORDER BY vec_id) AS vl
         |  FROM pa$i WHERE rk = 1 GROUP BY sub, cid),
         |pc${i + 1} AS MATERIALIZED (SELECT c.sub, c.cid,
         |    CASE WHEN g.vl IS NULL THEN c.c ELSE
         |    list_transform(range(1, len(c.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM pc$i c LEFT JOIN pg$i g USING (sub, cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${hierCellCtes(graft.Queries.annIvfPqHierK1,
                            graft.Queries.annIvfPqHierK2)},
       |hres AS MATERIALIZED (SELECT hc.v_id AS vec_id, hc.cid AS hcid,
       |    list_transform(range(1, len(hc.vn) + 1),
       |      j -> hc.vn[j] - h.c[j]) AS rv
       |  FROM hc JOIN h10 h ON h.scid = hc.scid AND h.ccid = hc.ccid),
       |psmp AS MATERIALIZED (SELECT f.vec_id, t.s AS sub,
       |    f.rv[t.s * $subDim + 1 : (t.s + 1) * $subDim] AS sv
       |  FROM hres f CROSS JOIN (SELECT unnest(range(0, $m)) AS s) t
       |  WHERE f.vec_id IN (SELECT vec_id FROM s)),
       |pc0 AS MATERIALIZED (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS INT)
       |      AS cid, sv AS c
       |  FROM psmp QUALIFY cid <= $k),
       |$pq,
       |fsub AS MATERIALIZED (SELECT f.vec_id, f.hcid, t.s AS sub,
       |    f.rv[t.s * $subDim + 1 : (t.s + 1) * $subDim] AS sv
       |  FROM hres f CROSS JOIN (SELECT unnest(range(0, $m)) AS s) t),
       |enc AS MATERIALIZED (SELECT vec_id, hcid, sub, cid FROM (
       |  SELECT b.vec_id, b.hcid, b.sub, c.cid,
       |    row_number() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
       |      list_sum(list_transform(range(1, len(b.sv) + 1),
       |        j -> (b.sv[j] - c.c[j]) * (b.sv[j] - c.c[j]))), c.cid) AS rk
       |  FROM fsub b JOIN pc10 c USING (sub)) WHERE rk = 1),
       |rec AS MATERIALIZED (SELECT e2.vec_id, e2.hcid,
       |    flatten(list(c.c ORDER BY e2.sub)) AS rv
       |  FROM enc e2 JOIN pc10 c USING (sub, cid) GROUP BY e2.vec_id, e2.hcid),
       |apx AS MATERIALIZED (SELECT r.vec_id, r.hcid,
       |    list_transform(range(1, len(h.c) + 1),
       |      j -> h.c[j] + r.rv[j]) AS av
       |  FROM rec r JOIN h10 h
       |    ON h.scid = r.hcid // (SELECT st FROM stride)
       |    AND h.ccid = r.hcid % (SELECT st FROM stride)),
       |qsup AS (SELECT f.v_id AS q_id, f.vn AS qv, f.cid AS scid FROM fin f
       |  WHERE f.rk <= $probeSupers AND f.v_id < 10),
       |qch AS (SELECT q.q_id, q.qv,
       |    CAST(h.scid * (SELECT st FROM stride) + h.ccid AS INT) AS cid,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> (q.qv[j] - h.c[j]) * (q.qv[j] - h.c[j]))) AS d
       |  FROM qsup q JOIN h10 h USING (scid)),
       |qp AS (SELECT q_id, qv, cid FROM qch
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, cid)
       |    <= $nprobe),
       |ap AS (SELECT q.q_id, a.vec_id AS v_id, q.qv,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> q.qv[j] * a.av[j])) AS asim
       |  FROM qp q JOIN apx a ON a.hcid = q.cid AND q.q_id <> a.vec_id),
       |cand AS (SELECT q_id, qv, v_id FROM (SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, v_id)
       |      AS arn FROM ap) WHERE arn <= $rerank),
       |ex AS (SELECT c.q_id, c.v_id,
       |    list_sum(list_transform(range(1, len(c.qv) + 1),
       |      j -> c.qv[j] * u.vn[j])) AS sim
       |  FROM cand c JOIN u ON c.v_id = u.vec_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, v_id) AS INT) AS rank,
       |  v_id AS n_id, round(sim, 6) + 0.0e0 AS sim
       |FROM ex
       |QUALIFY rank <= 3""".stripMargin
  }

  /** mm_resize_luminance oracle: the resize chain replayed over the
    * integer grid — planted-pupil pixel values (raster inclusion rule),
    * the EXACT luma expression (0.299v + 0.587v + 0.114v, same op
    * order), 2×2 block mean + half-up rounding (block values sit at
    * 224 − 48·darkcount, far from .5 boundaries, so the rounding is
    * ulp-safe), a second luma pass over the quantized block values, and
    * the plane mean rounded to 6. */
  private def resizeLuminanceSql: String =
    s"""WITH p AS (SELECT doc_id AS media, 24 + doc_id % 13 AS cx,
       |    24 + (doc_id * 3) % 13 AS cy, 8 + doc_id % 5 AS a,
       |    4 + doc_id % 3 AS b FROM documents),
       |px AS (SELECT p.media, xs.x, ys.y,
       |    CASE WHEN (CAST(xs.x - p.cx AS DOUBLE) / p.a)
       |             * (CAST(xs.x - p.cx AS DOUBLE) / p.a)
       |           + (CAST(ys.y - p.cy AS DOUBLE) / p.b)
       |             * (CAST(ys.y - p.cy AS DOUBLE) / p.b) <= 1.0
       |      THEN 32 ELSE 224 END AS v
       |  FROM p
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS x) xs
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS y) ys),
       |blk AS (SELECT media, x // 2 AS bx, y // 2 AS by,
       |    CAST(least(255, round(sum(0.299e0 * v + 0.587e0 * v
       |      + 0.114e0 * v) / 4.0e0)) AS INT) AS v2
       |  FROM px GROUP BY media, x // 2, y // 2)
       |SELECT media AS media_id, 32 AS w, 32 AS h,
       |  round(sum(0.299e0 * v2 + 0.587e0 * v2 + 0.114e0 * v2) / 1024.0e0,
       |    6) + 0.0e0 AS mean_gray
       |FROM blk GROUP BY media""".stripMargin

  /** mm_video_resize oracle: the resize replay of mm_resize_luminance
    * applied PER FRAME of the drifting-pupil GPNV fixture (videoParams
    * geometry: center drifts +1 px/frame, 48×48 planes → 24×24 blocks,
    * same luma/rounding rules). */
  private def videoResizeSql: String =
    s"""WITH p AS (SELECT doc_id AS media, 2 + doc_id % 3 AS nf,
       |    16 + doc_id % 9 AS cx0, 16 + (doc_id * 3) % 9 AS cy0,
       |    6 + doc_id % 3 AS a, 3 + doc_id % 2 AS b FROM documents),
       |fr AS (SELECT p.media, ff.f, p.cx0 + ff.f AS cx, p.cy0 + ff.f AS cy,
       |    p.a, p.b
       |  FROM p JOIN (SELECT unnest(range(0, 4)) AS f) ff ON ff.f < p.nf),
       |px AS (SELECT fr.media, fr.f, xs.x, ys.y,
       |    CASE WHEN (CAST(xs.x - fr.cx AS DOUBLE) / fr.a)
       |             * (CAST(xs.x - fr.cx AS DOUBLE) / fr.a)
       |           + (CAST(ys.y - fr.cy AS DOUBLE) / fr.b)
       |             * (CAST(ys.y - fr.cy AS DOUBLE) / fr.b) <= 1.0
       |      THEN 32 ELSE 224 END AS v
       |  FROM fr
       |  CROSS JOIN (SELECT unnest(range(0, 48)) AS x) xs
       |  CROSS JOIN (SELECT unnest(range(0, 48)) AS y) ys),
       |blk AS (SELECT media, f, x // 2 AS bx, y // 2 AS by,
       |    CAST(least(255, round(sum(0.299e0 * v + 0.587e0 * v
       |      + 0.114e0 * v) / 4.0e0)) AS INT) AS v2
       |  FROM px GROUP BY media, f, x // 2, y // 2)
       |SELECT media AS media_id, CAST(f AS INT) AS frame_index,
       |  round(sum(0.299e0 * v2 + 0.587e0 * v2 + 0.114e0 * v2) / 576.0e0,
       |    6) + 0.0e0 AS mean_gray
       |FROM blk GROUP BY media, f""".stripMargin

  /** cv_keypoints_pipeline oracle: the planted-blink chain replayed —
    * per-column top/bottom dark pixels over the integer grid with the
    * EXACT raster inclusion rule (the videoPupilsSql technique), pooled
    * 2×2 PCA (the m12 technique; keypoint coords are integers, so the
    * covariance sums are FP-exact), per-frame lid distance
    * max((yb−yt)·cosθ), and the FSM output as the fixture's closed-form
    * constants: the blink-pattern velocity signs are id-independent and
    * clear every gate scaled by any cosθ ≥ cos(π/4), so onset=2,
    * offset=9, duration=7, n_frames=8 for every media row. */
  private def keypointsPipelineSql: String = {
    val bvals = graft.multimodal.VisionFixtures.blinkPattern.zipWithIndex
      .map { case (b, f) => s"($f,$b)" }.mkString(",")
    s"""WITH p AS (SELECT doc_id AS media, 16 + doc_id % 9 AS cx,
       |    16 + (doc_id * 3) % 9 AS cy, 6 + doc_id % 3 AS a FROM documents),
       |bv(f, b) AS (VALUES $bvals),
       |cols AS MATERIALIZED (
       |  SELECT p.media, v.f, x.x, min(y.y) AS yt, max(y.y) AS yb
       |  FROM p CROSS JOIN bv v
       |  CROSS JOIN (SELECT unnest(range(0, 48)) AS x) x
       |  JOIN (SELECT unnest(range(0, 48)) AS y) y
       |    ON (CAST(x.x - p.cx AS DOUBLE) / p.a)
       |         * (CAST(x.x - p.cx AS DOUBLE) / p.a)
       |     + (CAST(y.y - p.cy AS DOUBLE) / v.b)
       |         * (CAST(y.y - p.cy AS DOUBLE) / v.b) <= 1.0
       |  GROUP BY p.media, v.f, x.x),
       |kp AS MATERIALIZED (
       |  SELECT media, f, x, yt AS y FROM cols
       |  UNION ALL SELECT media, f, x, yb FROM cols),
       |mm AS (SELECT sum(x) / count(*) AS mx, sum(y) / count(*) AS my FROM kp),
       |cvv AS (SELECT sum((kp.x - mm.mx) * (kp.x - mm.mx)) AS sxx,
       |    sum((kp.x - mm.mx) * (kp.y - mm.my)) AS sxy,
       |    sum((kp.y - mm.my) * (kp.y - mm.my)) AS syy
       |  FROM kp CROSS JOIN mm),
       |cs AS (SELECT CASE WHEN cos(th) < 0 THEN -cos(th) ELSE cos(th) END AS c
       |  FROM (SELECT 0.5e0 * atan2(2 * sxy, sxx - syy) AS th FROM cvv)),
       |serie AS (SELECT media, f,
       |    max((yb - yt) * (SELECT c FROM cs)) AS lid
       |  FROM cols GROUP BY media, f),
       |ag AS (SELECT media, round(max(lid), 6) + 0.0e0 AS dist_open,
       |    round(min(lid), 6) + 0.0e0 AS dist_closed FROM serie GROUP BY media)
       |SELECT p.media AS media_id,
       |  round((2 * p.a + 1) / 48.0, 6) + 0.0e0 AS conf,
       |  ag.dist_open, ag.dist_closed,
       |  2.0e0 AS onset, 9.0e0 AS offset, 7.0e0 AS duration,
       |  CAST(8 AS BIGINT) AS n_frames
       |FROM p JOIN ag USING (media)""".stripMargin
  }

  /** Shared CTE prefix of the planted-surface A5/M11 oracles: the
    * cluster medians, constant per-point error (same arithmetic shape as
    * ErrorMap.compute: (gx−mx)·2048 etc. over the pixels-per-degree
    * mean), the four hull half-planes (hull vertices ARE the exact
    * corner literals by the symmetric-jitter construction), and the
    * gaze histogram. The TPS solve is NOT replayed: the planted surface
    * is constant, so grid cells inside the hull carry min(err) up to
    * solver noise ≪ the round-6 quantum. */
  private def m11Ctes: String =
    s"""b AS (SELECT event_id, event_id % 4 AS cl, event_id // 4 AS j
       |  FROM events WHERE event_id < 20),
       |mk AS (SELECT cl,
       |    (CASE WHEN cl IN (1,2) THEN 0.8e0 ELSE 0.2e0 END
       |      + (j - 2) * 0.01e0) AS mx0,
       |    (CASE WHEN cl IN (2,3) THEN 0.8e0 ELSE 0.2e0 END
       |      + (j * 3 % 5 - 2) * 0.01e0) AS my0,
       |    ((CASE WHEN cl IN (1,2) THEN 0.8e0 ELSE 0.2e0 END
       |      + (j - 2) * 0.01e0) + 0.01e0) AS gx0,
       |    (CASE WHEN cl IN (2,3) THEN 0.8e0 ELSE 0.2e0 END
       |      + (j * 3 % 5 - 2) * 0.01e0) AS gy0
       |  FROM b),
       |red AS (SELECT cl, quantile_cont(mx0, 0.5e0) AS mx,
       |    quantile_cont(my0, 0.5e0) AS my, quantile_cont(gx0, 0.5e0) AS gx,
       |    quantile_cont(gy0, 0.5e0) AS gy
       |  FROM mk GROUP BY cl),
       |er AS (SELECT cl,
       |    sqrt(((gx - mx) * 2048.0e0) * ((gx - mx) * 2048.0e0)
       |       + ((gy - my) * 1536.0e0) * ((gy - my) * 1536.0e0))
       |      / ((2048.0e0 / 101.0e0 + 1536.0e0 / 75.75e0) / 2.0e0) AS err
       |  FROM red),
       |oc AS (SELECT min(err) AS c FROM er),
       |g AS (SELECT t1.iy, t2.ix,
       |    CAST(t2.ix AS DOUBLE) / 399 AS x, CAST(t1.iy AS DOUBLE) / 299 AS y
       |  FROM (SELECT unnest(range(0, 300)) AS iy) t1
       |  CROSS JOIN (SELECT unnest(range(0, 400)) AS ix) t2),
       |ing AS (SELECT iy, ix, x, y,
       |    ((0.8e0 - 0.2e0) * (y - 0.2e0) - (0.2e0 - 0.2e0) * (x - 0.2e0)) >= 0
       |    AND ((0.8e0 - 0.8e0) * (y - 0.2e0) - (0.8e0 - 0.2e0) * (x - 0.8e0)) >= 0
       |    AND ((0.2e0 - 0.8e0) * (y - 0.8e0) - (0.8e0 - 0.8e0) * (x - 0.8e0)) >= 0
       |    AND ((0.2e0 - 0.2e0) * (y - 0.8e0) - (0.2e0 - 0.8e0) * (x - 0.2e0)) >= 0
       |      AS inh
       |  FROM g),
       |gz AS (SELECT gx0 AS px, gy0 AS py FROM mk
       |  UNION ALL
       |  SELECT 0.05e0, 0.05e0 + (event_id % 5) * 0.001e0 FROM events
       |  WHERE event_id >= 20 AND event_id < 40),
       |hist AS (SELECT least(CAST(floor(px * 400) AS BIGINT), 399) AS ix,
       |    least(CAST(floor(py * 300) AS BIGINT), 299) AS iy,
       |    count(*) AS n_gaze
       |  FROM gz WHERE px BETWEEN 0 AND 1 AND py BETWEEN 0 AND 1
       |  GROUP BY 1, 2)""".stripMargin

  private def m11GridSql: String =
    s"""WITH $m11Ctes
       |SELECT iy, ix, CASE WHEN inh THEN round((SELECT c FROM oc), 6) + 0.0e0
       |  ELSE NULL END AS err
       |FROM ing""".stripMargin

  private def a5SummarySql: String =
    s"""WITH $m11Ctes,
       |jg AS (SELECT i.iy, i.ix, i.inh, coalesce(h.n_gaze, 0) AS n
       |  FROM ing i LEFT JOIN hist h USING (iy, ix)),
       |sm AS (SELECT sum(n) AS total,
       |    sum(CASE WHEN inh THEN n ELSE 0 END) AS n_in,
       |    sum(CASE WHEN inh THEN n * (SELECT c FROM oc) END) AS werr
       |  FROM jg)
       |SELECT
       |  round(werr / total / (n_in * 1.0e0 / total), 6) + 0.0e0
       |    AS gaze_err_weighted,
       |  round((total - n_in) * 1.0e0 / total, 6) + 0.0e0
       |    AS gaze_fraction_excluded,
       |  CAST(4 AS INT) AS n_points,
       |  round((SELECT quantile_cont(err, 0.5e0) FROM er), 6) + 0.0e0
       |    AS err_median,
       |  round((SELECT avg(err) FROM er), 6) + 0.0e0 AS err_mean
       |FROM sm""".stripMargin

  /** ann_pq_topk oracle: replay of the per-subspace Lloyd training (the
    * ivfSql unrolled-iteration technique, keyed by `sub` — 8 independent
    * k-means in one CTE chain), then PQ-encode the full corpus (argmin
    * cid per (vec, sub)), reconstruct, rank by asymmetric similarity,
    * exact re-rank of the top 10. Centroid arithmetic and every dot/dist
    * fold run in the same sequential order as the Spark kernels, so the
    * tie-breaks are bit-identical. */
  private def pqSql: String = {
    val m = 8; val subDim = 8
    val k = graft.Queries.annPqCodebookK
    val rerank = graft.Queries.annPqRerank
    val iters = (0 until 10).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, sub, sv, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rk
         |  FROM (SELECT p.vec_id, p.sub, p.sv, c.cid,
         |      list_sum(list_transform(range(1, len(p.sv) + 1),
         |        j -> (p.sv[j] - c.c[j]) * (p.sv[j] - c.c[j]))) AS d
         |    FROM smp p JOIN c$i c USING (sub))),
         |g$i AS MATERIALIZED (SELECT sub, cid, list(sv ORDER BY vec_id) AS vl
         |  FROM a$i WHERE rk = 1 GROUP BY sub, cid),
         |c${i + 1} AS MATERIALIZED (SELECT c.sub, c.cid,
         |    CASE WHEN g.vl IS NULL THEN c.c ELSE
         |    list_transform(range(1, len(c.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM c$i c LEFT JOIN g$i g USING (sub, cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |u AS MATERIALIZED (SELECT vec_id,
       |    list_transform(v, x -> x / nrm) AS vn FROM n),
       |sub AS MATERIALIZED (SELECT vec_id, t.s AS sub,
       |    vn[t.s * $subDim + 1 : (t.s + 1) * $subDim] AS sv
       |  FROM u CROSS JOIN (SELECT unnest(range(0, $m)) AS s) t),
       |smp AS MATERIALIZED (SELECT vec_id, sub, sv FROM sub
       |  WHERE vec_id IN (SELECT vec_id FROM u ORDER BY vec_id LIMIT 10000)),
       |c0 AS MATERIALIZED (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS INT)
       |      AS cid, sv AS c
       |  FROM smp QUALIFY cid <= $k),
       |$iters,
       |enc AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
       |  SELECT b.vec_id, b.sub, c.cid,
       |    row_number() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
       |      list_sum(list_transform(range(1, len(b.sv) + 1),
       |        j -> (b.sv[j] - c.c[j]) * (b.sv[j] - c.c[j]))), c.cid) AS rk
       |  FROM sub b JOIN c10 c USING (sub)) WHERE rk = 1),
       |rec AS MATERIALIZED (SELECT vec_id, flatten(list(c.c ORDER BY e2.sub))
       |    AS rv
       |  FROM enc e2 JOIN c10 c USING (sub, cid) GROUP BY vec_id),
       |qs AS (SELECT vec_id AS q_id, vn AS qv FROM u WHERE vec_id < 10),
       |ap AS (SELECT q.q_id, r.vec_id AS v_id, q.qv,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> q.qv[j] * r.rv[j])) AS asim
       |  FROM qs q JOIN rec r ON q.q_id <> r.vec_id),
       |cand AS (SELECT q_id, qv, v_id FROM (SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, v_id)
       |      AS arn FROM ap) WHERE arn <= $rerank),
       |ex AS (SELECT c.q_id, c.v_id,
       |    list_sum(list_transform(range(1, len(c.qv) + 1),
       |      j -> c.qv[j] * u.vn[j])) AS sim
       |  FROM cand c JOIN u ON c.v_id = u.vec_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, v_id) AS INT) AS rank,
       |  v_id AS n_id, round(sim, 6) + 0.0e0 AS sim
       |FROM ex
       |QUALIFY rank <= 3""".stripMargin
  }

  /** ann_opq_ivf_topk oracle — PLANTED-RECALL (the m9 discipline): the
    * OPQ rotation fit is an alternating Procrustes SVD — not replayable
    * in SQL — but the fixture (25 tight orthogonal-axis clusters,
    * nCells = 25, 1:1 cluster→cell by the deterministic first-k init,
    * rerank ≥ cluster size) guarantees the composed OPQ×IVF search
    * returns the exact brute-force top-3, which this computes directly
    * over the same planted vectors (normalize-then-dot, the engine's
    * arithmetic order). A dropped true neighbor anywhere in the
    * rotate→cell→probe→rerank chain breaks the hash. */
  private def opqIvfSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(range(0, 64), j -> CASE
      |      WHEN j = vec_id % 25 THEN 100.0e0
      |      WHEN j = 40 + vec_id % 8 THEN 0.001e0 * (1 + vec_id % 11)
      |      ELSE 0.0e0 END) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM n),
      |q AS (SELECT vec_id AS q_id, vn AS qv FROM u WHERE vec_id < 10),
      |scored AS (SELECT q.q_id, u.vec_id,
      |    list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> q.qv[i] * u.vn[i])) AS sim
      |  FROM q JOIN u ON q.q_id <> u.vec_id)
      |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, vec_id) AS INT) AS rank,
      |  vec_id AS n_id, round(sim, 6) + 0.0e0 AS sim
      |FROM scored
      |QUALIFY rank <= 3""".stripMargin

  /** ann_recall_audit oracle: recall@k of each quantized tier against
    * the exact brute-force truth. The three real-corpus tiers reuse
    * their own hash-proven replay SQL verbatim as subqueries ([[pqSql]],
    * [[ivfPqSql]], [[ivfPqHierSql]]) and intersect with the
    * `sim_brute_topk` truth chain at k=3; the OPQ×IVF tier's replay
    * ([[opqIvfSql]]) IS the planted brute force, so its truth side is
    * the same relation — the oracle states recall exactly 1.0 and the
    * Spark side must MEASURE it (engine search ∩ engine brute force). */
  private def annRecallAuditSql: String = {
    val k = graft.Queries.annRecallK
    def tierRow(tier: String, rel: String, truth: String, den: String) =
      s"""SELECT '$tier' AS tier, $den.n_queries, $k AS k, h.hits,
         |  round(h.hits / $den.n_truth, 6) + 0.0e0 AS recall
         |FROM (SELECT count(*) AS hits
         |      FROM $rel JOIN $truth USING (q_id, n_id)) h, $den""".stripMargin
    s"""WITH pq AS ($pqSql),
       |ivfpq AS ($ivfPqSql),
       |hier AS ($ivfPqHierSql),
       |opq AS ($opqIvfSql),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (SELECT q.q_id, e.vec_id,
       |    list_sum(list_transform(range(1, len(qv) + 1),
       |      i -> qv[i] * v[i]))
       |    / (sqrt(list_sum(list_transform(qv, x -> x * x)))
       |       * sqrt(list_sum(list_transform(v, x -> x * x)))) AS sim
       |  FROM q JOIN e ON q.q_id <> e.vec_id),
       |truth AS (SELECT q_id, vec_id AS n_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id) AS rk FROM scored) WHERE rk <= $k),
       |ptruth AS (SELECT q_id, n_id FROM opq),
       |den AS (SELECT count(DISTINCT q_id) AS n_queries,
       |    count(*) AS n_truth FROM truth),
       |pden AS (SELECT count(DISTINCT q_id) AS n_queries,
       |    count(*) AS n_truth FROM ptruth)
       |${tierRow("pq", "pq", "truth", "den")}
       |UNION ALL
       |${tierRow("ivf_pq", "ivfpq", "truth", "den")}
       |UNION ALL
       |${tierRow("ivf_pq_hier", "hier", "truth", "den")}
       |UNION ALL
       |${tierRow("opq_ivf", "opq", "ptruth", "pden")}""".stripMargin
  }

  /** web_ingest_pipeline oracle: the closed-form robots verdict, the
    * literal domain blocklist, the CRAWL-DELAY admission (per-host
    * fetch budget ⌊window/delay⌋+1 over the eligible-first rank — the
    * fixture's delays are 0.5 s for graftbot-group hosts and 1.5 s for
    * even star-group hosts, stated closed-form), and the attested
    * quality arithmetic, in fetch-order precedence. */
  private def webIngestSql: String = {
    val w = graft.Queries.ingestFetchWindowSec
    val capFast = (math.floor(w / 0.5) + 1).toLong
    val capSlow = (math.floor(w / 1.5) + 1).toLong
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |b AS (SELECT doc, toks, doc % 50 AS g, doc % 5 AS p FROM d),
       |v AS (SELECT doc, toks, g,
       |    'site' || g::VARCHAR || '.com' AS host,
       |    CASE WHEN g % 4 = 0 THEN (p = 3 AND g % 8 <> 0)
       |         ELSE (p = 1 OR (p = 2 AND (g % 3 <> 0 OR g % 6 = 0))
       |               OR (p = 4 AND g % 10 = 9)) END AS denied,
       |    CASE WHEN g % 4 = 0 THEN 0.5e0
       |         WHEN g % 2 = 0 THEN 1.5e0 END AS crawl_delay,
       |    CASE WHEN g % 4 = 0 THEN $capFast
       |         WHEN g % 2 = 0 THEN $capSlow END AS cap
       |  FROM b),
       |r AS (SELECT *, (NOT denied AND g NOT IN (10, 24)) AS eligible
       |  FROM v),
       |adm AS (SELECT *, row_number() OVER (PARTITION BY g
       |    ORDER BY eligible DESC, doc) AS rn FROM r)
       |SELECT doc, host, crawl_delay,
       |  CASE WHEN denied THEN 'robots_denied'
       |       WHEN g IN (10, 24) THEN 'blocked_domain'
       |       WHEN cap IS NOT NULL AND rn > cap THEN 'deferred_delay'
       |       WHEN (1.0e0
       |    - (CASE WHEN len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
       |    - (CASE WHEN len(toks) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
       |    - (CASE WHEN len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
       |       ) < 8.0e-1 THEN 'low_quality'
       |       ELSE 'kept' END AS verdict
       |FROM adm""".stripMargin
  }

  /** audio_spectral oracle — PLANTED closed form per half-period class
    * (doc_id % 5 fixes hp = 4+m; amplitude is a pure scalar factor, so
    * the 512-sample spectrum SHAPE depends only on hp): `dc` and
    * `nyquist` are the exact integer generator sums × amp, computed
    * here by replaying the square-wave sign sequence; `dominant_bin`
    * is computed here by a NAIVE O(w²) DFT over the unit-amp wave — an
    * algorithm-independent cross-check of the engine's radix-2 FFT
    * (different evaluation order, no butterflies; the argmax margins
    * are sinc-lobe-sized, far above trig ulps); `parseval_ok` is the
    * law the engine must measure true. */
  private def audioSpectralSql: String = {
    val w = 512
    val rows = (0 until 5).map { m =>
      val hp = 4 + m
      val sign = Array.tabulate(w)(i => if ((i / hp) % 2 == 0) 1 else -1)
      val sSum = sign.sum
      val nSum = sign.zipWithIndex
        .map { case (s, i) => if (i % 2 == 0) s else -s }.sum
      var best = 1; var bestMag = -1.0
      var k = 1
      while (k < w / 2) {
        var re = 0.0; var im = 0.0
        var i = 0
        while (i < w) {
          val a = -2.0 * math.Pi * k * i / w
          re += sign(i) * math.cos(a); im += sign(i) * math.sin(a)
          i += 1
        }
        val m2 = re * re + im * im
        if (m2 > bestMag) { bestMag = m2; best = k }
        k += 1
      }
      (m, sSum, nSum, best)
    }
    def cases(f: ((Int, Int, Int, Int)) => Int): String =
      "CASE doc_id % 5 " +
        rows.map(r => s"WHEN ${r._1} THEN ${f(r)}").mkString(" ") + " END"
    s"""SELECT CAST(doc_id AS BIGINT) AS media_id,
       |  CAST((8000 + 100 * (doc_id % 7)) * (${cases(_._2)}) AS BIGINT)
       |    AS dc,
       |  CAST((8000 + 100 * (doc_id % 7)) * (${cases(_._3)}) AS BIGINT)
       |    AS nyquist,
       |  CAST(${cases(_._4)} AS INT) AS dominant_bin,
       |  (${cases(_._4)}) * 15.625e0 AS dominant_freq_hz,
       |  true AS parseval_ok
       |FROM documents
       |UNION ALL
       |-- the planted silent clip: the degenerate contract row —
       |-- no dominant bin, Parseval passes in its two-sided-zero form
       |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(NULL AS INT), CAST(NULL AS DOUBLE), true""".stripMargin
  }

  /** The pldata gaze-catalog replay — shared by the batch V2 scan row
    * (`s4_pldata_v2`) and its streaming tail-ingest twin
    * (`stream_pldata_tail`): both readers must recover exactly this
    * row set from the exported session files. */
  private def pldataGazeSql: String =
    """SELECT event_id AS id, epoch(ts) AS timestamp, value / 500.0 AS nx,
      |  (user_id % 20) / 20.0 AS ny, value / 1000.0 AS confidence
      |FROM events""".stripMargin

  /** dedup_simhash_pairs oracle: the simhash replay extended with the
    * 6×10-bit band split, the shared rank cap, and the exact
    * bit_count(xor) Hamming verify — integers end to end. */
  private def simhashPairsSql: String = {
    val bands = 6; val bandBits = 10; val maxHamming = 5
    val cap = graft.operators.TextOps.DefaultMaxBandBucket
    val mask = (1L << bandBits) - 1
    s"""WITH sh AS ($simhashSql),
       |band AS (SELECT doc, simhash, t.b AS band_id,
       |    (simhash >> (t.b * $bandBits)) & $mask AS band_key
       |  FROM sh, range(0, $bands) t(b)),
       |cap AS (SELECT doc, simhash, band_id, band_key FROM (
       |  SELECT *, row_number() OVER (PARTITION BY band_id, band_key
       |    ORDER BY doc) AS rn FROM band) WHERE rn <= $cap),
       |pr AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
       |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |  FROM cap a JOIN cap b ON a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc < b.doc)
       |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= $maxHamming""".stripMargin
  }

  /** The mm_image_neardup aHash + banding CTE chain (planted-ellipse
    * render → 8×8 block means → threshold bits → 8-band split), shared
    * by the pair oracle and its recall audit. */
  private def imageAHashBandCtes: String =
    """p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |    CAST(doc_id % 40 AS BIGINT) AS base,
      |    CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS dx
      |  FROM documents),
      |e AS (SELECT media_id,
      |    24 + base % 13 + dx AS ecx, 24 + (base * 3) % 13 AS ecy,
      |    8 + base % 5 AS a, 4 + base % 3 AS b FROM p),
      |g AS (SELECT media_id, gx.x // 8 AS bx, gy.y // 8 AS by,
      |    CASE WHEN (CAST(gx.x - ecx AS DOUBLE) / a)
      |             * (CAST(gx.x - ecx AS DOUBLE) / a)
      |           + (CAST(gy.y - ecy AS DOUBLE) / b)
      |             * (CAST(gy.y - ecy AS DOUBLE) / b) <= 1.0
      |      THEN 32 ELSE 224 END AS v
      |  FROM e, range(0, 64) gx(x), range(0, 64) gy(y)),
      |blk AS (SELECT media_id, bx, by, sum(v)::BIGINT AS s
      |  FROM g GROUP BY 1, 2, 3),
      |tot AS (SELECT media_id, sum(s)::BIGINT AS t FROM blk GROUP BY 1),
      |bits AS (SELECT b.media_id,
      |    string_agg(CASE WHEN b.s * 64 >= t.t THEN '1' ELSE '0' END,
      |      '' ORDER BY b.by, b.bx) AS ahash
      |  FROM blk b JOIN tot t USING (media_id) GROUP BY b.media_id),
      |band AS (SELECT media_id, ahash, t.b AS band_id,
      |    substr(ahash, CAST(t.b * 8 + 1 AS INT), 8) AS band_bits
      |  FROM bits, range(0, 8) t(b))""".stripMargin

  /** dedup_simhash_recall_audit oracle: the capped chain's verified
    * pairs under the UNCAPPED band join truth — pigeonhole-complete at
    * hamming ≤ bands−1, so the truth side is exact without an
    * all-pairs join (mirrors TextOps.simhashRecallAudit). */
  private def simhashRecallAuditSql: String = {
    val bands = 6; val bandBits = 10; val maxHamming = 5
    val cap = graft.operators.TextOps.DefaultMaxBandBucket
    val mask = (1L << bandBits) - 1
    s"""WITH sh AS ($simhashSql),
       |band AS (SELECT doc, simhash, t.b AS band_id,
       |    (simhash >> (t.b * $bandBits)) & $mask AS band_key
       |  FROM sh, range(0, $bands) t(b)),
       |ex AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
       |  FROM band a JOIN band b ON a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc < b.doc
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming),
       |cp AS (SELECT doc, simhash, band_id, band_key FROM (
       |  SELECT *, row_number() OVER (PARTITION BY band_id, band_key
       |    ORDER BY doc) AS rn FROM band) WHERE rn <= $cap),
       |fnd AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
       |  FROM cp a JOIN cp b ON a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc < b.doc
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)
       |SELECT count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_found,
       |  round(sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / nullif(count(*), 0), 6) + 0.0e0 AS recall
       |FROM ex LEFT JOIN fnd ON ex.id_a = fnd.id_a
       |  AND ex.id_b = fnd.id_b""".stripMargin
  }

  /** bpe_train oracle: the vocabulary-induction loop unrolled (the
    * pqSql/ivfSql iteration technique). Per iteration: adjacent-pair
    * counts over the word-frequency table (freq-weighted), the
    * (cnt DESC, l, r) argmax, and the merge applied as the SAME
    * double-space half-boundary non-overlapping replace the engine
    * runs (`' l  r ' → ' lr '` over `'  '`-delimited symbols with
    * single sentinel spaces at the ends): each match consumes only the
    * INNER space of each flanking double separator, so token-adjacent
    * repeats both merge in one pass — C-style left-to-right replace
    * then IS the leftmost-rescan merge rule (see
    * [[graft.operators.TextOps.bpeTrain]]), and the two loops agree
    * word-for-word at every step. */
  private def bpeTrainSql: String = {
    val n = 12
    val iters = (1 to n).map { i =>
      s"""p$i AS (SELECT x.toks[u.i] AS l, x.toks[u.i + 1] AS r,
         |    sum(x.freq)::BIGINT AS cnt
         |  FROM (SELECT freq, string_split(trim(s), '  ') AS toks
         |        FROM s${i - 1}) x,
         |    unnest(generate_series(1, len(x.toks) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (SELECT p.freq,
         |    CASE WHEN b.l IS NULL THEN p.s
         |    ELSE replace(p.s, ' ' || b.l || '  ' || b.r || ' ',
         |                 ' ' || b.l || b.r || ' ') END AS s
         |  FROM s${i - 1} p LEFT JOIN b$i b ON true)""".stripMargin
    }.mkString(",\n")
    val out = (1 to n).map(i =>
      s"SELECT $i AS rank, l AS lhs, r AS rhs, cnt FROM b$i")
      .mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS w
       |  FROM documents),
       |w0 AS (SELECT w, count(*)::BIGINT AS freq FROM t
       |  WHERE w <> '' GROUP BY w),
       |s0 AS MATERIALIZED (SELECT freq,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
       |  FROM w0),
       |$iters
       |$out""".stripMargin
  }

  /** bpe_tokenize oracle: the FULL greedy merge-table BPE algorithm
    * replayed in SQL — pre-tokenize with the shared regex, split each
    * pre-token into characters, then one recursive-CTE iteration merges
    * the leftmost occurrence of the lowest-rank adjacent pair (min_by
    * over position-enumerated pairs joined to the merge table) until no
    * pair remains; the final state per word is the max-iteration row.
    * Equivalent to the kernel's loop by construction: both merge one
    * leftmost-lowest-rank pair per step (BpeMerge.mergeWord), and for a
    * valid (producer-before-consumer) merge table that equals textbook
    * BPE. Merge table and regex are shared verbatim with TextOps. */
  private def bpeTokenizeSql: String = {
    val re = graft.operators.TextOps.BpeTokenRe.replace("'", "''")
    val mvals = graft.operators.TextOps.DefaultBpeMerges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1},'$l','$r')" }.mkString(",")
    s"""WITH RECURSIVE
       |merges(rank, l, r) AS (VALUES $mvals),
       |pre AS (
       |  SELECT doc_id AS doc, u.w, u.wi FROM documents,
       |    (SELECT unnest(regexp_extract_all(text, '$re')) AS w,
       |            generate_subscripts(regexp_extract_all(text, '$re'), 1) AS wi) u),
       |state(doc, wi, toks, it) AS (
       |  SELECT doc, wi, string_split(w, ''), 0 FROM pre
       |  UNION ALL
       |  SELECT doc, wi,
       |    toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:], it + 1
       |  FROM (
       |    SELECT doc, wi, toks, it,
       |      (SELECT min_by(i, m.rank * 1000000 + i)
       |       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       |       JOIN merges m ON m.l = toks[i] AND m.r = toks[i+1]) AS p
       |    FROM state) s
       |  WHERE p IS NOT NULL),
       |fin AS (SELECT doc, wi, max_by(toks, it) AS toks FROM state GROUP BY doc, wi),
       |cnt AS (SELECT doc, sum(len(toks)) AS n FROM fin GROUP BY doc)
       |SELECT d.doc_id AS doc, coalesce(cnt.n, 0)::BIGINT AS n_bpe_tokens
       |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc""".stripMargin
  }

  /** pack_chunks_bpe oracle: the full BPE replay feeding the per-shard
    * concat-and-chunk arithmetic — token budgets are EXACT counts, not
    * the chars/4 estimate (the r3 packing caveat, closed). */
  private def packChunksBpeSql: String =
    s"""WITH b AS (SELECT * FROM (
       |${bpeTokenizeSql.linesIterator.map("  " + _).mkString("\n")}
       |) t),
       |c AS (SELECT doc, doc % 32 AS shard, n_bpe_tokens AS n_tokens,
       |    coalesce(sum(n_bpe_tokens) OVER (PARTITION BY doc % 32
       |      ORDER BY doc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum
       |  FROM b)
       |SELECT doc, shard, n_tokens::BIGINT AS n_tokens,
       |  floor(cum::DOUBLE / 2048)::BIGINT AS chunk FROM c""".stripMargin

  /** ann_ivf_pq_topk oracle: the two proven Lloyd-replay techniques
    * composed — the coarse-quantizer chain (ivfSql's unrolled iterations
    * over the full vectors) feeds cell assignments, residuals of each
    * vector against its FINAL cell centroid feed the per-subspace PQ
    * chain (pqSql's grouped iterations, renamed pa/pg/pc), the corpus is
    * residual-encoded (argmin-first per subspace), reconstructed as
    * centroid + concatenated codewords, ranked by the asymmetric
    * similarity within the probed cells, and the top 10 re-scored
    * exactly. Every fold runs in the same sequential order as the Spark
    * kernels, so ties break bit-identically. */
  private def ivfPqSql: String = ivfPqSqlTrained("TRUE")

  /** The same chain with the TRAINING SAMPLE restricted by `trainPred` —
    * the incremental-admission oracle (`ann_index_append`): the engine
    * fits the quantizer on the existing snapshot only and admits the new
    * batch through the frozen model, so the replay must train on the
    * same restricted sample while assigning/encoding/searching the FULL
    * corpus. A refit-on-union bug changes the centroids and every
    * downstream row. */
  private def ivfPqSqlTrained(trainPred: String): String = {
    val m = 8; val subDim = 8; val k = 16
    val rerank = graft.Queries.annIvfPqRerank
    val nc = graft.Queries.annIvfPqCells
    val nprobe = graft.Queries.annIvfPqNprobe
    val coarse = (0 until 10).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, vn, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |  FROM (SELECT s.vec_id, s.vn, c.cid,
         |      list_sum(list_transform(range(1, len(s.vn) + 1),
         |        j -> (s.vn[j] - c.c[j]) * (s.vn[j] - c.c[j]))) AS d
         |    FROM s CROSS JOIN c$i c)),
         |g$i AS MATERIALIZED (SELECT cid, list(vn ORDER BY vec_id) AS vl
         |  FROM a$i WHERE rk = 1 GROUP BY cid),
         |c${i + 1} AS MATERIALIZED (SELECT c.cid, CASE WHEN g.vl IS NULL THEN c.c ELSE
         |    list_transform(range(1, len(c.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM c$i c LEFT JOIN g$i g USING (cid))""".stripMargin
    }.mkString(",\n")
    val pq = (0 until 10).map { i =>
      s"""pa$i AS MATERIALIZED (SELECT vec_id, sub, sv, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rk
         |  FROM (SELECT p.vec_id, p.sub, p.sv, c.cid,
         |      list_sum(list_transform(range(1, len(p.sv) + 1),
         |        j -> (p.sv[j] - c.c[j]) * (p.sv[j] - c.c[j]))) AS d
         |    FROM smp p JOIN pc$i c USING (sub))),
         |pg$i AS MATERIALIZED (SELECT sub, cid, list(sv ORDER BY vec_id) AS vl
         |  FROM pa$i WHERE rk = 1 GROUP BY sub, cid),
         |pc${i + 1} AS MATERIALIZED (SELECT c.sub, c.cid,
         |    CASE WHEN g.vl IS NULL THEN c.c ELSE
         |    list_transform(range(1, len(c.c) + 1),
         |      j -> list_sum(list_transform(g.vl, v -> v[j])) / len(g.vl)) END AS c
         |  FROM pc$i c LEFT JOIN pg$i g USING (sub, cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |u AS MATERIALIZED (SELECT vec_id,
       |    list_transform(v, x -> x / nrm) AS vn FROM n),
       |s AS MATERIALIZED (SELECT vec_id, vn FROM u WHERE $trainPred
       |  ORDER BY vec_id LIMIT 10000),
       |c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vn AS c
       |  FROM (SELECT vec_id, vn FROM s ORDER BY vec_id LIMIT $nc)),
       |$coarse,
       |fin AS MATERIALIZED (SELECT u.vec_id AS v_id, u.vn, c.cid,
       |    row_number() OVER (PARTITION BY u.vec_id ORDER BY
       |      list_sum(list_transform(range(1, len(u.vn) + 1),
       |        j -> (u.vn[j] - c.c[j]) * (u.vn[j] - c.c[j]))), c.cid) AS rk
       |  FROM u CROSS JOIN c10 c),
       |cells AS MATERIALIZED (SELECT v_id, vn, cid FROM fin WHERE rk = 1),
       |fres AS MATERIALIZED (SELECT cl.v_id AS vec_id, cl.cid AS ccid,
       |    list_transform(range(1, len(cl.vn) + 1),
       |      j -> cl.vn[j] - cm.c[j]) AS rv
       |  FROM cells cl JOIN c10 cm ON cl.cid = cm.cid),
       |smp AS MATERIALIZED (SELECT f.vec_id, t.s AS sub,
       |    f.rv[t.s * $subDim + 1 : (t.s + 1) * $subDim] AS sv
       |  FROM fres f CROSS JOIN (SELECT unnest(range(0, $m)) AS s) t
       |  WHERE f.vec_id IN (SELECT vec_id FROM s)),
       |pc0 AS MATERIALIZED (SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS INT)
       |      AS cid, sv AS c
       |  FROM smp QUALIFY cid <= $k),
       |$pq,
       |fsub AS MATERIALIZED (SELECT f.vec_id, f.ccid, t.s AS sub,
       |    f.rv[t.s * $subDim + 1 : (t.s + 1) * $subDim] AS sv
       |  FROM fres f CROSS JOIN (SELECT unnest(range(0, $m)) AS s) t),
       |enc AS MATERIALIZED (SELECT vec_id, ccid, sub, cid FROM (
       |  SELECT b.vec_id, b.ccid, b.sub, c.cid,
       |    row_number() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
       |      list_sum(list_transform(range(1, len(b.sv) + 1),
       |        j -> (b.sv[j] - c.c[j]) * (b.sv[j] - c.c[j]))), c.cid) AS rk
       |  FROM fsub b JOIN pc10 c USING (sub)) WHERE rk = 1),
       |rec AS MATERIALIZED (SELECT e2.vec_id, e2.ccid,
       |    flatten(list(c.c ORDER BY e2.sub)) AS rv
       |  FROM enc e2 JOIN pc10 c USING (sub, cid) GROUP BY e2.vec_id, e2.ccid),
       |apx AS MATERIALIZED (SELECT r.vec_id, r.ccid,
       |    list_transform(range(1, len(cm.c) + 1),
       |      j -> cm.c[j] + r.rv[j]) AS av
       |  FROM rec r JOIN c10 cm ON r.ccid = cm.cid),
       |qp AS (SELECT v_id AS q_id, vn AS qv, cid FROM fin
       |  WHERE rk <= $nprobe AND v_id < 10),
       |ap AS (SELECT q.q_id, a.vec_id AS v_id, q.qv,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> q.qv[j] * a.av[j])) AS asim
       |  FROM qp q JOIN apx a ON a.ccid = q.cid AND q.q_id <> a.vec_id),
       |cand AS (SELECT q_id, qv, v_id FROM (SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, v_id)
       |      AS arn FROM ap) WHERE arn <= $rerank),
       |ex AS (SELECT c.q_id, c.v_id,
       |    list_sum(list_transform(range(1, len(c.qv) + 1),
       |      j -> c.qv[j] * u.vn[j])) AS sim
       |  FROM cand c JOIN u ON c.v_id = u.vec_id)
       |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, v_id) AS INT) AS rank,
       |  v_id AS n_id, round(sim, 6) + 0.0e0 AS sim
       |FROM ex
       |QUALIFY rank <= 3""".stripMargin
  }

  /** The logreg training chain (features → train-split standardization →
    * unrolled round-6-quantized gradient iterations → corpus-wide
    * sigmoid scores with truth label and split flag in `sc`) — shared by
    * the `quality_classify_logreg` score oracle and the
    * `quality_classify_audit` held-out evaluation so the replayed model
    * cannot drift between them. */
  private def logregCtes: String = {
    val lr = graft.Queries.logregLr
    val iters = (1 to graft.Queries.logregIters).map { i =>
      s"""g$i AS (SELECT count(*)::DOUBLE AS n,
         |    sum(p - y) AS g0, sum((p - y) * f1) AS g1,
         |    sum((p - y) * f2) AS g2, sum((p - y) * f3) AS g3
         |  FROM (SELECT 1.0e0 / (1.0e0 + exp(-(w.b + w.w1 * t.f1
         |        + w.w2 * t.f2 + w.w3 * t.f3))) AS p,
         |      t.y, t.f1, t.f2, t.f3
         |    FROM tr t CROSS JOIN w${i - 1} w)),
         |w$i AS MATERIALIZED (SELECT
         |    round(w.b  - ${d(lr)} * g.g0 / g.n, 6) AS b,
         |    round(w.w1 - ${d(lr)} * g.g1 / g.n, 6) AS w1,
         |    round(w.w2 - ${d(lr)} * g.g2 / g.n, 6) AS w2,
         |    round(w.w3 - ${d(lr)} * g.g3 / g.n, 6) AS w3
         |  FROM w${i - 1} w CROSS JOIN g$i g)""".stripMargin
    }.mkString(",\n")
    val wf = s"w${graft.Queries.logregIters}"
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
      |    string_split(trim(text), ' ') AS toks,
      |    length(trim(text)) AS nc FROM documents),
      |f0 AS (SELECT doc,
      |  len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
      |    / len(toks) AS f1,
      |  len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) AS f2,
      |  nc::DOUBLE / len(toks)::DOUBLE / 1.0e1 AS f3,
      |  (1.0e0
      |    - (CASE WHEN len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
      |    - (CASE WHEN len(toks) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
      |    - (CASE WHEN len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
      |  ) >= 8.0e-1 AS yb,
      |  doc % 5 = 0 AS tr FROM d),
      |st0 AS (SELECT
      |    round(avg(f1), 6) AS m1, round(stddev_pop(f1), 6) AS s1r,
      |    round(avg(f2), 6) AS m2, round(stddev_pop(f2), 6) AS s2r,
      |    round(avg(f3), 6) AS m3, round(stddev_pop(f3), 6) AS s3r
      |  FROM f0 WHERE tr),
      |st AS MATERIALIZED (SELECT m1, m2, m3,
      |    CASE WHEN s1r = 0 THEN 1.0e0 ELSE s1r END AS s1,
      |    CASE WHEN s2r = 0 THEN 1.0e0 ELSE s2r END AS s2,
      |    CASE WHEN s3r = 0 THEN 1.0e0 ELSE s3r END AS s3 FROM st0),
      |f AS MATERIALIZED (SELECT doc, yb, tr,
      |    (f1 - m1) / s1 AS f1, (f2 - m2) / s2 AS f2, (f3 - m3) / s3 AS f3
      |  FROM f0 CROSS JOIN st),
      |tr AS MATERIALIZED (SELECT f1, f2, f3,
      |    CASE WHEN yb THEN 1.0e0 ELSE 0.0e0 END AS y
      |  FROM f WHERE tr),
      |w0 AS (SELECT 0.0e0 AS b, 0.0e0 AS w1, 0.0e0 AS w2, 0.0e0 AS w3),
      |""".stripMargin + iters + s""",
      |sc AS (SELECT f.doc, f.tr AS is_train, f.yb AS y,
      |    1.0e0 / (1.0e0 + exp(-(w.b + w.w1 * f.f1 + w.w2 * f.f2
      |      + w.w3 * f.f3))) AS p
      |  FROM f CROSS JOIN $wf w)""".stripMargin
  }

  /** The LM scoring chain (transition explode → count tables → vocab →
    * per-doc add-one bigram NLL; `lmbase` = one row per doc with source,
    * n_trans, round-6 nll, null for < 2 tokens) — shared by the
    * `text_lm_score` row and the `text_ccnet_buckets` split so the
    * replayed model cannot drift between them. Concatenated, never
    * outer-stripMargin'd (see the frontier CTE note). */
  private def lmScoreCtes: String =
    """d AS (SELECT CAST(doc_id AS BIGINT) AS doc, source,
      |    string_split(trim(text), ' ') AS toks FROM documents),
      |tr AS (SELECT doc, toks[u.i] AS w1, toks[u.i + 1] AS w2
      |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
      |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM tr GROUP BY w1),
      |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12
      |  FROM tr GROUP BY w1, w2),
      |v AS (SELECT count(DISTINCT t.tok)::BIGINT AS nv
      |  FROM (SELECT unnest(toks) AS tok FROM d) t),
      |sc AS (SELECT tr.doc, count(*)::BIGINT AS n_trans,
      |    avg(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + v.nv))) AS alp
      |  FROM tr JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |  GROUP BY tr.doc),
      |lmbase AS (SELECT d.doc, d.source,
      |    coalesce(sc.n_trans, 0)::BIGINT AS n_trans,
      |    round(-sc.alp, 6) + 0.0e0 AS nll
      |  FROM d LEFT JOIN sc USING (doc))""".stripMargin

  /** The frontier-admission candidate/survivor CTEs (`c` = one row per
    * admitted URL with host + reference count) — shared by the
    * `web_frontier` row and its `web_frontier_schedule` composition. */
  private def frontierCtes: String =
    """d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |l AS (
      |  SELECT 'http://ex' || (id % 7)::VARCHAR || '.com/p'
      |      || (id % 10)::VARCHAR || '/' AS url,
      |    'ex' || (id % 7)::VARCHAR || '.com' AS dst_host FROM d
      |  UNION ALL
      |  SELECT 'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR
      |      || '?page=' || (id % 3)::VARCHAR,
      |    'ex' || (id % 7)::VARCHAR || '.com' FROM d
      |  UNION ALL
      |  SELECT 'http://ex' || (id % 7)::VARCHAR || '.com/q'
      |      || (id % 5)::VARCHAR,
      |    'ex' || (id % 7)::VARCHAR || '.com' FROM d
      |  UNION ALL
      |  SELECT 'http://ex' || ((id + 1) % 7)::VARCHAR || '.com/x'
      |      || (id % 4)::VARCHAR,
      |    'ex' || ((id + 1) % 7)::VARCHAR || '.com' FROM d),
      |c AS (SELECT url, min(dst_host) AS dst_host, count(*)::BIGINT AS n_refs
      |  FROM l WHERE NOT regexp_matches(url, '/q[024]$')
      |  GROUP BY url)""".stripMargin

  val sql: Map[String, String] = sqlMain ++ sqlRest

  private def sqlMain: Map[String, String] = Map(
    "w10_binocular_merge" -> w10Sql,

    "a7_dbscan" -> a7Sql,

    // m9 ANALYTIC oracles: the m9 constructions plant pupils as a known
    // inverse affine of the markers (Queries.m9Base/m9Pupils), so the
    // fitted TPS map must reproduce the planted affine within the jitter
    // bound — the Spark side computes planted_ok/err_weighted_ok from the
    // actual fitted-model output; the oracle knows the answer (true) and
    // the exact row counts in closed form.
    "m9_gaze_pipeline" ->
      """SELECT count(*) AS n_gaze, true AS planted_ok,
        |  true AS err_weighted_ok FROM events""".stripMargin,

    // binocular end-to-end: merge schedule counts are CLOSED-FORM under
    // the planted timing (eye gap 0.002 s < the constant 1/60 s pairing
    // cutoff < the >=1 s inter-event gap, queues never reach length 2 so
    // the EMA never moves): one binocular pair per event, each leftover
    // eye1 point drains monocularly at the next event, the last never
    // drains — n_bino = N, n_gaze = 2N-1. planted_ok/err_weighted_ok:
    // Spark measures the fitted n=13/n=7 maps against the planted
    // forward affines; the oracle knows the answer (true).
    "m9_binocular" ->
      """SELECT 2 * count(*) - 1 AS n_gaze, count(*) AS n_bino,
        |  true AS planted_ok, true AS err_weighted_ok FROM events""".stripMargin,

    // per-session counts; sessions below SessionCalibrator's
    // 4-reduced-cluster fit gate drop on both sides (none do at the
    // shipped scale factors — min 21 distinct clusters per session)
    "m9_multisession" ->
      """WITH s AS (SELECT 's' || (user_id % 100) AS session,
        |    event_id % 25 AS cl FROM events),
        |g AS (SELECT session, count(*) AS n_gaze,
        |    count(DISTINCT cl) AS ncl FROM s GROUP BY session)
        |SELECT session, n_gaze, true AS planted_ok FROM g
        |WHERE ncl >= 4""".stripMargin,

    // P3 direct: the (timestamp, norm_pos) column subset of the wide
    // pupil-datum replay — projection-only, exact arithmetic
    "p3_project_pairs" ->
      """SELECT event_id AS id, epoch(ts) AS timestamp,
        |  value / 500.0 AS norm_x, (user_id % 20) / 20.0 AS norm_y
        |FROM events""".stripMargin,

    // O4 direct: epoch-range filter + tag over the frame column; ranges
    // are disjoint so the last-match fold is order-free
    "o4_frame_range" ->
      """SELECT event_id, value, CASE
        |    WHEN event_id >= 2500 AND event_id < 2600 THEN 2
        |    WHEN event_id >= 1000 AND event_id < 1500 THEN 1
        |    ELSE 0 END AS epoch
        |FROM events
        |WHERE (event_id >= 100 AND event_id < 400)
        |   OR (event_id >= 1000 AND event_id < 1500)
        |   OR (event_id >= 2500 AND event_id < 2600)""".stripMargin,

    // Streaming gaze mapping: the stream-static broadcast apply must be
    // bit-identical to the batch apply (same persisted model table, same
    // TPS expression), across two real micro-batches, with zero state
    // operators — all analytic constants under the planted construction
    // (n_gaze = one gaze row per event of the single 'cal' session)
    "stream_gaze_map" ->
      """SELECT count(*)::BIGINT AS n_gaze, true AS equal_batch,
        |  true AS planted_ok, CAST(2 AS BIGINT) AS n_batches,
        |  true AS stateless_ok FROM events""".stripMargin,

    // Session QC report: every closed-form fact replayed exactly from
    // the planted construction (counts, kept fractions, EXACT confidence
    // deciles via quantile_cont — the same (n-1)p linear interpolation
    // Spark's percentile uses — coverage, cal/error point counts, the
    // status cascade incl. the three planted failures s7/s13/s3);
    // TPS-dependent error stats as analytic bounds, TRUE wherever the
    // error step ran (planted jitter => ~0.06 deg). Kept-threshold
    // arithmetic is exact: conf = x/100 + 0.5 hits 0.75/0.6/0.7 only at
    // x = 25/10/20, and both engines compute the identical doubles.
    "qc_session_report" ->
      """WITH e AS (SELECT 's' || (user_id % 20) AS session,
        |    user_id % 20 AS sn, event_id % 25 AS cl,
        |    (event_id * 13) % 46 AS xl, (event_id * 7) % 46 AS xr
        |  FROM events),
        |sess AS (SELECT DISTINCT session, sn FROM e),
        |mk AS (SELECT session, cl, count(*) AS n FROM e
        |  WHERE sn <> 13 GROUP BY 1, 2),
        |ms AS (SELECT session, sum(n) AS n_markers_raw,
        |    sum(CASE WHEN n >= 3 THEN n ELSE 0 END) AS n_markers_filtered,
        |    count(*) AS n_clusters, min(n) AS cov_min, max(n) AS cov_max
        |  FROM mk GROUP BY 1),
        |pl AS (SELECT session, cl, xl AS x, xl / 100.0e0 + 5.0e-1 AS conf
        |  FROM e WHERE sn <> 7),
        |pr AS (SELECT session, cl, xr AS x, xr / 100.0e0 + 5.0e-1 AS conf
        |  FROM e WHERE sn <> 7 AND sn <> 3),
        |psl AS (SELECT session, count(*) AS n_pupils,
        |    round(avg(CASE WHEN conf > 7.0e-1 THEN 1.0e0 ELSE 0.0e0 END), 6)
        |      + 0.0e0 AS pct_kept,
        |    round(quantile_cont(conf, 0.0e0), 6) + 0.0e0 AS conf_dec_0,
        |    round(quantile_cont(conf, 1.0e-1), 6) + 0.0e0 AS conf_dec_1,
        |    round(quantile_cont(conf, 2.0e-1), 6) + 0.0e0 AS conf_dec_2,
        |    round(quantile_cont(conf, 3.0e-1), 6) + 0.0e0 AS conf_dec_3,
        |    round(quantile_cont(conf, 4.0e-1), 6) + 0.0e0 AS conf_dec_4,
        |    round(quantile_cont(conf, 5.0e-1), 6) + 0.0e0 AS conf_dec_5,
        |    round(quantile_cont(conf, 6.0e-1), 6) + 0.0e0 AS conf_dec_6,
        |    round(quantile_cont(conf, 7.0e-1), 6) + 0.0e0 AS conf_dec_7,
        |    round(quantile_cont(conf, 8.0e-1), 6) + 0.0e0 AS conf_dec_8,
        |    round(quantile_cont(conf, 9.0e-1), 6) + 0.0e0 AS conf_dec_9,
        |    round(quantile_cont(conf, 1.0e0), 6) + 0.0e0 AS conf_dec_10
        |  FROM pl GROUP BY 1),
        |psr AS (SELECT session, count(*) AS n_pupils,
        |    round(avg(CASE WHEN conf > 7.0e-1 THEN 1.0e0 ELSE 0.0e0 END), 6)
        |      + 0.0e0 AS pct_kept,
        |    round(quantile_cont(conf, 0.0e0), 6) + 0.0e0 AS conf_dec_0,
        |    round(quantile_cont(conf, 1.0e-1), 6) + 0.0e0 AS conf_dec_1,
        |    round(quantile_cont(conf, 2.0e-1), 6) + 0.0e0 AS conf_dec_2,
        |    round(quantile_cont(conf, 3.0e-1), 6) + 0.0e0 AS conf_dec_3,
        |    round(quantile_cont(conf, 4.0e-1), 6) + 0.0e0 AS conf_dec_4,
        |    round(quantile_cont(conf, 5.0e-1), 6) + 0.0e0 AS conf_dec_5,
        |    round(quantile_cont(conf, 6.0e-1), 6) + 0.0e0 AS conf_dec_6,
        |    round(quantile_cont(conf, 7.0e-1), 6) + 0.0e0 AS conf_dec_7,
        |    round(quantile_cont(conf, 8.0e-1), 6) + 0.0e0 AS conf_dec_8,
        |    round(quantile_cont(conf, 9.0e-1), 6) + 0.0e0 AS conf_dec_9,
        |    round(quantile_cont(conf, 1.0e0), 6) + 0.0e0 AS conf_dec_10
        |  FROM pr GROUP BY 1),
        |cpl AS (SELECT session, count(DISTINCT cl) AS n_cal FROM e
        |  WHERE sn <> 7 AND sn <> 13 AND xl > 25 GROUP BY 1),
        |cpr AS (SELECT session, count(DISTINCT cl) AS n_cal FROM e
        |  WHERE sn <> 7 AND sn <> 3 AND sn <> 13 AND xr > 25 GROUP BY 1),
        |epl AS (SELECT session, count(DISTINCT cl) AS nep FROM e
        |  WHERE sn <> 7 AND sn <> 13 AND xl > 10 GROUP BY 1),
        |epr AS (SELECT session, count(DISTINCT cl) AS nep FROM e
        |  WHERE sn <> 7 AND sn <> 3 AND sn <> 13 AND xr > 10 GROUP BY 1)
        |SELECT s.session,
        |  CASE WHEN s.sn = 13 THEN 'failed' ELSE 'ok' END AS status_markers,
        |  COALESCE(ms.n_markers_raw, 0)::BIGINT AS n_markers_raw,
        |  COALESCE(ms.n_markers_filtered, 0)::BIGINT AS n_markers_filtered,
        |  COALESCE(ms.n_clusters, 0)::BIGINT AS n_clusters,
        |  COALESCE(ms.cov_min, 0)::BIGINT AS cov_min,
        |  COALESCE(ms.cov_max, 0)::BIGINT AS cov_max,
        |  CASE WHEN s.sn = 7 THEN 'failed' ELSE 'ok' END AS status_pupil_l,
        |  COALESCE(psl.n_pupils, 0)::BIGINT AS n_pupils_l,
        |  COALESCE(psl.pct_kept, 0.0e0) AS pct_kept_l,
        |  COALESCE(psl.conf_dec_0, 0.0e0) AS conf_dec_0_l,
        |  COALESCE(psl.conf_dec_1, 0.0e0) AS conf_dec_1_l,
        |  COALESCE(psl.conf_dec_2, 0.0e0) AS conf_dec_2_l,
        |  COALESCE(psl.conf_dec_3, 0.0e0) AS conf_dec_3_l,
        |  COALESCE(psl.conf_dec_4, 0.0e0) AS conf_dec_4_l,
        |  COALESCE(psl.conf_dec_5, 0.0e0) AS conf_dec_5_l,
        |  COALESCE(psl.conf_dec_6, 0.0e0) AS conf_dec_6_l,
        |  COALESCE(psl.conf_dec_7, 0.0e0) AS conf_dec_7_l,
        |  COALESCE(psl.conf_dec_8, 0.0e0) AS conf_dec_8_l,
        |  COALESCE(psl.conf_dec_9, 0.0e0) AS conf_dec_9_l,
        |  COALESCE(psl.conf_dec_10, 0.0e0) AS conf_dec_10_l,
        |  CASE WHEN s.sn IN (7, 13) THEN 'not run'
        |    WHEN COALESCE(cpl.n_cal, 0) >= 4 THEN 'ok'
        |    ELSE 'failed' END AS status_calibration_l,
        |  CASE WHEN s.sn = 13 THEN 0
        |    ELSE COALESCE(cpl.n_cal, 0) END::BIGINT AS n_cal_points_l,
        |  CASE WHEN s.sn IN (7, 13) OR COALESCE(cpl.n_cal, 0) < 4
        |    THEN 'not run' ELSE 'ok' END AS status_gaze_l,
        |  CASE WHEN s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4
        |    THEN psl.n_pupils ELSE 0 END::BIGINT AS n_gaze_l,
        |  (s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4)
        |    AS planted_ok_l,
        |  CASE WHEN s.sn IN (7, 13) OR COALESCE(cpl.n_cal, 0) < 4
        |      THEN 'not run'
        |    WHEN COALESCE(epl.nep, 0) >= 4 THEN 'ok'
        |    ELSE 'failed' END AS status_error_l,
        |  CASE WHEN s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4
        |      AND COALESCE(epl.nep, 0) >= 4
        |    THEN epl.nep ELSE 0 END::BIGINT AS n_error_points_l,
        |  (s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4
        |    AND COALESCE(epl.nep, 0) >= 4) AS err_median_ok_l,
        |  (s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4
        |    AND COALESCE(epl.nep, 0) >= 4) AS err_weighted_ok_l,
        |  (s.sn NOT IN (7, 13) AND COALESCE(cpl.n_cal, 0) >= 4
        |    AND COALESCE(epl.nep, 0) >= 4) AS excl_frac_ok_l,
        |  CASE WHEN s.sn IN (7, 3) THEN 'failed' ELSE 'ok' END
        |    AS status_pupil_r,
        |  COALESCE(psr.n_pupils, 0)::BIGINT AS n_pupils_r,
        |  COALESCE(psr.pct_kept, 0.0e0) AS pct_kept_r,
        |  COALESCE(psr.conf_dec_0, 0.0e0) AS conf_dec_0_r,
        |  COALESCE(psr.conf_dec_1, 0.0e0) AS conf_dec_1_r,
        |  COALESCE(psr.conf_dec_2, 0.0e0) AS conf_dec_2_r,
        |  COALESCE(psr.conf_dec_3, 0.0e0) AS conf_dec_3_r,
        |  COALESCE(psr.conf_dec_4, 0.0e0) AS conf_dec_4_r,
        |  COALESCE(psr.conf_dec_5, 0.0e0) AS conf_dec_5_r,
        |  COALESCE(psr.conf_dec_6, 0.0e0) AS conf_dec_6_r,
        |  COALESCE(psr.conf_dec_7, 0.0e0) AS conf_dec_7_r,
        |  COALESCE(psr.conf_dec_8, 0.0e0) AS conf_dec_8_r,
        |  COALESCE(psr.conf_dec_9, 0.0e0) AS conf_dec_9_r,
        |  COALESCE(psr.conf_dec_10, 0.0e0) AS conf_dec_10_r,
        |  CASE WHEN s.sn IN (7, 3, 13) THEN 'not run'
        |    WHEN COALESCE(cpr.n_cal, 0) >= 4 THEN 'ok'
        |    ELSE 'failed' END AS status_calibration_r,
        |  CASE WHEN s.sn = 13 THEN 0
        |    ELSE COALESCE(cpr.n_cal, 0) END::BIGINT AS n_cal_points_r,
        |  CASE WHEN s.sn IN (7, 3, 13) OR COALESCE(cpr.n_cal, 0) < 4
        |    THEN 'not run' ELSE 'ok' END AS status_gaze_r,
        |  CASE WHEN s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4
        |    THEN psr.n_pupils ELSE 0 END::BIGINT AS n_gaze_r,
        |  (s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4)
        |    AS planted_ok_r,
        |  CASE WHEN s.sn IN (7, 3, 13) OR COALESCE(cpr.n_cal, 0) < 4
        |      THEN 'not run'
        |    WHEN COALESCE(epr.nep, 0) >= 4 THEN 'ok'
        |    ELSE 'failed' END AS status_error_r,
        |  CASE WHEN s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4
        |      AND COALESCE(epr.nep, 0) >= 4
        |    THEN epr.nep ELSE 0 END::BIGINT AS n_error_points_r,
        |  (s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4
        |    AND COALESCE(epr.nep, 0) >= 4) AS err_median_ok_r,
        |  (s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4
        |    AND COALESCE(epr.nep, 0) >= 4) AS err_weighted_ok_r,
        |  (s.sn NOT IN (7, 3, 13) AND COALESCE(cpr.n_cal, 0) >= 4
        |    AND COALESCE(epr.nep, 0) >= 4) AS excl_frac_ok_r
        |FROM sess s
        |LEFT JOIN ms USING (session)
        |LEFT JOIN psl USING (session)
        |LEFT JOIN psr USING (session)
        |LEFT JOIN cpl USING (session)
        |LEFT JOIN cpr USING (session)
        |LEFT JOIN epl USING (session)
        |LEFT JOIN epr USING (session)""".stripMargin,

    "ann_ivf_topk" -> ivfSql,

    "ann_pq_topk" -> pqSql,

    "ann_ivf_pq_topk" -> ivfPqSql,
    // incremental ANN admission: same chain, quantizer trained on the
    // existing snapshot only (the appended batch must ride the frozen
    // model — Queries.annIndexAppend)
    "ann_index_append" -> ivfPqSqlTrained("vec_id % 5 <> 4"),
    // append-chain + compaction: the file-merge rewrite moves bytes,
    // never values — shared verbatim with the append row
    // (Queries.annIndexCompact)
    "ann_index_compact" -> ivfPqSqlTrained("vec_id % 5 <> 4"),
    // retrain-after-append: maintenance must leave the index
    // indistinguishable from a from-scratch build over the FULL corpus,
    // so the oracle is ann_ivf_pq_topk's full-corpus chain VERBATIM —
    // paired with ann_index_append's snapshot-trained chain, the two
    // hashes pin the whole model lifecycle (Queries.annIndexRetrain)
    "ann_index_retrain" -> ivfPqSql,

    // recall-floor attestation for the learned-OPQ real-corpus tier: the
    // rotation fit is not SQL-replayable (see ann_opq_ivf_topk's note),
    // so the row is the CLOSED-FORM floor contract — recall_ok flips and
    // breaks the hash if measured recall@k drops below the shared floor
    // OPQ frozen-model admission: snapshot-fitted index + appended batch
    // must keep serving recall over the floor against the FULL-corpus
    // brute truth (appended vectors must be findable) — the same
    // closed-form floor contract as ann_opq_real_recall; the bit-level
    // append ≡ union-encode identity is AnnIndexSpec-pinned
    "ann_index_append_opq" ->
      s"""SELECT 'opq_ivf_append' AS tier,
         |  count(DISTINCT vec_id)::BIGINT AS n_queries,
         |  ${graft.Queries.annRecallK} AS k,
         |  ${d(graft.Queries.annOpqRealFloor)} + 0.0e0 AS recall_floor,
         |  true AS recall_ok
         |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "ann_opq_real_recall" ->
      s"""SELECT 'opq_ivf_real' AS tier,
         |  count(DISTINCT vec_id)::BIGINT AS n_queries,
         |  ${graft.Queries.annRecallK} AS k,
         |  ${d(graft.Queries.annOpqRealFloor)} + 0.0e0 AS recall_floor,
         |  true AS recall_ok
         |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // PLANTED-RECALL oracle (the m9 discipline): the OPQ rotation fit is
    // an alternating Procrustes SVD — not replayable in SQL — but the
    // fixture (25 tight orthogonal-axis clusters, nCells = 25, 1:1
    // cluster→cell by the deterministic first-k init, rerank ≥ cluster
    // size) guarantees the composed OPQ×IVF search returns the exact
    // brute-force top-3, which this computes directly over the same
    // planted vectors (normalize-then-dot, the engine's arithmetic
    // order). A dropped true neighbor anywhere in the rotate→cell→
    // probe→rerank chain breaks the hash.
    "ann_opq_ivf_topk" -> opqIvfSql,
    // OPQ rebuild valve: a snapshot-fitted (planted-drift) OPQ×IVF index
    // rebuilt from the full corpus must be indistinguishable from a
    // from-scratch build over everything — the planted brute-force SQL
    // VERBATIM (the ann_index_retrain discipline on the OPQ family;
    // Queries.annIndexRebuildOpq)
    "ann_index_rebuild_opq" -> opqIvfSql,

    "ann_recall_audit" -> annRecallAuditSql,

    // PCA reduce: PLANTED closed form (Queries.pcaPlanted) — exactly
    // orthogonal mod-4 sign patterns make the empirical covariance
    // exactly diagonal, so the top-2 projection IS the signed planted
    // coordinate pair and the eigenvalues are exactly (16, 4)
    "emb_pca_reduce" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings),
        |s AS (SELECT vec_id,
        |    CASE WHEN vec_id % 2 = 0 THEN 1.0e0 ELSE -1.0e0 END AS s0,
        |    CASE WHEN vec_id % 4 < 2 THEN 1.0e0 ELSE -1.0e0 END AS s1
        |  FROM e)
        |SELECT vec_id, 4.0e0 * s0 AS p1, 2.0e0 * s1 AS p2,
        |  16.0e0 AS ev1, 4.0e0 AS ev2 FROM s""".stripMargin,

    "dedup_minhash_lsh" -> minhashSql,

    "stream_dedup_admit" -> streamDedupAdmitSql,
    "dedup_incremental" -> dedupIncrementalSql,
    // generational variant: snapshot index assembled via build(src0-9) +
    // append(src10-14) — append must equal a from-scratch build over
    // src0-14, so the oracle is shared verbatim
    "dedup_incremental_append" -> dedupIncrementalSql,
    // maintenance variant: the append-chain index COMPACTED (band
    // partitions rewritten, atomic generation swap) before the probe —
    // compaction must be row-invisible, so the oracle is shared verbatim
    // a third time (Queries.dedupIncrementalCompact)
    "dedup_incremental_compact" -> dedupIncrementalSql,
    // reshingle actuator: the whole band chain replayed AT the new k —
    // stale or mixed-generation rows break the hash
    // (Queries.dedupReshingle)
    "dedup_reshingle" -> minhashSqlK(graft.Queries.reshingleK),
    // index-health monitor: bucket occupancies replayed from the shared
    // UNCAPPED band CTE (band0 — stats reads raw bands; the cap is a
    // query-time lever), mean/skew derived from the exact integer
    // aggregates on both sides
    "dedup_index_stats" ->
      s"""WITH $minhashBandCtes,
         |b2 AS (SELECT band_id, band_hash, count(*)::BIGINT AS n
         |  FROM band0 GROUP BY 1, 2)
         |SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_buckets,
         |  round(sum(n)::DOUBLE / count(*)::DOUBLE, 6) + 0.0e0
         |    AS mean_occupancy,
         |  max(n)::BIGINT AS max_occupancy,
         |  round(max(n)::DOUBLE * count(*)::DOUBLE / sum(n)::DOUBLE, 6)
         |    + 0.0e0 AS skew,
         |  sum(CASE WHEN n >= ${graft.operators.TextOps.DefaultMaxBandBucket}
         |    THEN 1 ELSE 0 END)::BIGINT AS capped_buckets
         |FROM b2""".stripMargin,

    // cross-source matrix: the minhash pair chain joined to the source
    // dim on both sides, unordered (least/greatest) source-pair rollup
    "dedup_cross_source_matrix" -> {
      s"""WITH m AS (SELECT * FROM (
         |${minhashSql.linesIterator.map("  " + _).mkString("\n")}
         |) t),
         |src AS (SELECT CAST(doc_id AS BIGINT) AS doc, source
         |  FROM documents),
         |j AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM m JOIN src sa ON m.doc_a = sa.doc
         |  JOIN src sb ON m.doc_b = sb.doc)
         |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
         |FROM j GROUP BY 1, 2""".stripMargin
    },

    "dedup_clusters" -> dedupClustersSql,

    "dedup_cluster_rep" -> dedupClusterRepSql,

    "web_pagerank" -> webPagerankSql,

    // robots gate: CLOSED-FORM verdicts from the planted arithmetic —
    // graftbot-specific hosts (g%4=0, versioned UA token) see ONLY the
    // /bot rules (anchored Allow /bot/z$ overrides when g%8=0); others
    // see the * rules: /private disallow, /private/ok allow if g%3=0,
    // the 13-octet wildcard Disallow /private/*/y$ outranking it when
    // g%6=0, the anchored /*ub$ catching '/pub' (g%10=9) but never
    // '/pubx' (g%10=4), empty Disallow matching nothing; longest
    // rule-octet match, Allow wins ties
    // crawl directives: closed-form sitemaps (sorted join) + the
    // graftbot-applicable crawl-delay (specific group 0.5 wins on g%4=0
    // hosts; star 1.5 on the remaining even hosts; the planted
    // unparseable 'soon' value is ignored on g%9=2 hosts)
    "web_crawl_directives" ->
      """WITH d AS (SELECT DISTINCT CAST(doc_id AS BIGINT) % 50 AS g
        |  FROM documents)
        |SELECT 'site' || g::VARCHAR || '.com' AS host,
        |  CASE WHEN g % 3 = 1 THEN
        |    'https://site' || g::VARCHAR || '.com/news.xml,https://site'
        |      || g::VARCHAR || '.com/sitemap.xml'
        |  ELSE 'https://site' || g::VARCHAR || '.com/sitemap.xml'
        |  END AS sitemaps,
        |  (CASE WHEN g % 3 = 1 THEN 2 ELSE 1 END)::BIGINT AS n_sitemaps,
        |  CASE WHEN g % 4 = 0 THEN 0.5e0
        |       WHEN g % 2 = 0 THEN 1.5e0 END AS crawl_delay
        |FROM d""".stripMargin,

    // sitemap parse: every entry closed-form from the did arithmetic —
    // urlset hosts emit 1-3 page urls (lastmod on alternating entries),
    // index hosts emit their two child sitemaps (whitespace-padded loc
    // stripped, lastmod only on the first)
    "web_sitemap_urls" ->
      """WITH d AS (SELECT DISTINCT CAST(doc_id AS BIGINT) % 50 AS g
        |  FROM documents),
        |us AS (SELECT g, unnest(range(1, 2 + g % 3)) AS j
        |  FROM d WHERE g % 5 <> 0)
        |SELECT 'site' || g::VARCHAR || '.com' AS host,
        |  'https://site' || g::VARCHAR || '.com/p' || j::VARCHAR AS url,
        |  CASE WHEN (g + j) % 2 = 0
        |    THEN '2026-0' || (g % 9 + 1)::VARCHAR || '-15' END AS lastmod,
        |  false AS is_index
        |FROM us
        |UNION ALL
        |SELECT 'site' || g::VARCHAR || '.com',
        |  'https://site' || g::VARCHAR || '.com/sm1.xml',
        |  '2026-01-0' || (g % 9 + 1)::VARCHAR, true
        |FROM d WHERE g % 5 = 0
        |UNION ALL
        |SELECT 'site' || g::VARCHAR || '.com',
        |  'https://site' || g::VARCHAR || '.com/sm2.xml', NULL, true
        |FROM d WHERE g % 5 = 0""".stripMargin,

    // fetch schedule: page entries (index hosts contribute none — their
    // children are sitemap fetches) × closed-form delay, rank = j by
    // the lexicographic url order, offset exact scalar arithmetic
    "web_fetch_schedule" ->
      """WITH d AS (SELECT DISTINCT CAST(doc_id AS BIGINT) % 50 AS g
        |  FROM documents),
        |us AS (SELECT g, unnest(range(1, 2 + g % 3)) AS j
        |  FROM d WHERE g % 5 <> 0)
        |SELECT 'site' || g::VARCHAR || '.com' AS host,
        |  'https://site' || g::VARCHAR || '.com/p' || j::VARCHAR AS url,
        |  CAST(j AS BIGINT) AS fetch_rank,
        |  (j - 1) * (CASE WHEN g % 4 = 0 THEN 0.5e0
        |                  WHEN g % 2 = 0 THEN 1.5e0
        |                  ELSE 0.0e0 END) AS start_offset_sec
        |FROM us""".stripMargin,

    "web_robots_filter" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc FROM documents),
        |b AS (SELECT doc, doc % 50 AS g, doc % 5 AS p FROM d),
        |v AS (SELECT doc,
        |  'site' || g::VARCHAR || '.com' AS host,
        |  CASE p WHEN 0 THEN '/' WHEN 1 THEN '/private/x'
        |         WHEN 2 THEN '/private/ok/y' WHEN 3 THEN '/bot/z'
        |         ELSE (CASE WHEN doc % 10 = 4 THEN '/pubx'
        |               ELSE '/pub' END) END AS path,
        |  CASE WHEN g % 4 = 0 THEN (CASE WHEN p = 3 THEN
        |         (CASE WHEN g % 8 = 0 THEN 'allow' ELSE 'disallow' END) END)
        |       ELSE (CASE WHEN p = 1 THEN 'disallow'
        |                  WHEN p = 2 THEN (CASE WHEN g % 6 = 0 THEN 'disallow'
        |                    WHEN g % 3 = 0 THEN 'allow' ELSE 'disallow' END)
        |                  WHEN p = 4 AND g % 10 = 9 THEN 'disallow' END)
        |  END AS rule_type,
        |  CASE WHEN g % 4 = 0 THEN (CASE WHEN p = 3 THEN
        |         (CASE WHEN g % 8 = 0 THEN '/bot/z$' ELSE '/bot' END) END)
        |       ELSE (CASE WHEN p = 1 THEN '/private'
        |                  WHEN p = 2 THEN (CASE WHEN g % 6 = 0
        |                    THEN '/private/*/y$'
        |                    WHEN g % 3 = 0 THEN '/private/ok'
        |                    ELSE '/private' END)
        |                  WHEN p = 4 AND g % 10 = 9 THEN '/*ub$' END)
        |  END AS rule_path
        |FROM b)
        |SELECT doc AS req, host, path,
        |  (rule_type IS NULL OR rule_type = 'allow') AS allowed,
        |  rule_type, rule_path
        |FROM v""".stripMargin,

    // capstone web ingest: closed-form robots verdict ∘ literal domain
    // blocklist ∘ closed-form crawl-delay admission ∘ the attested
    // quality arithmetic, fixed precedence
    "web_ingest_pipeline" -> webIngestSql,

    // sft spans: identical turn derivation (8-token turns, cap 4) and
    // the same prefix-sum law: marker(9 user / 14 assistant) + text +
    // 1 newline per preceding turn; spans are [start, end) of the TEXT
    "sft_spans" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |n AS (SELECT doc, toks,
        |    least((len(toks) + 7) // 8, 4) AS nt FROM d),
        |t AS (SELECT doc, unnest(range(0, nt)) AS turn_idx, toks FROM n),
        |r AS (SELECT doc, CAST(turn_idx AS INT) AS turn_idx,
        |    CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END
        |      AS role,
        |    CASE WHEN turn_idx % 2 = 0 THEN 9 ELSE 14 END AS mlen,
        |    length(array_to_string(
        |      toks[turn_idx * 8 + 1 : turn_idx * 8 + 8], ' ')) AS tlen
        |  FROM t),
        |p AS (SELECT doc, turn_idx, role, mlen, tlen,
        |    coalesce(sum(mlen + tlen + 1) OVER (PARTITION BY doc
        |      ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS prefix
        |  FROM r)
        |SELECT doc, turn_idx, role,
        |  (prefix + mlen)::BIGINT AS span_start,
        |  (prefix + mlen + tlen)::BIGINT AS span_end,
        |  role = 'assistant' AS in_loss
        |FROM p""".stripMargin,

    // containment: shared-shingle candidates (hot-bucket cap mirrored),
    // exact intersection, asymmetric ratios c/|A| and c/|B|, either-
    // direction gate — deterministic scalar division, no rounding
    "dedup_containment" -> {
      val m = graft.operators.TextOps.HashMod
      s"""WITH $shingleCte,
         |hv AS (SELECT doc, list_transform(sh,
         |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $m) AS hv
         |  FROM s WHERE len(sh) > 0),
         |e AS (SELECT doc, unnest(hv) AS g FROM hv),
         |cap AS (SELECT doc, g FROM e QUALIFY row_number() OVER
         |  (PARTITION BY g ORDER BY doc) <= 1000),
         |cm AS (SELECT a.doc AS da, b.doc AS db, count(*) AS c
         |  FROM cap a JOIN cap b ON a.g = b.g AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc, len(hv)::BIGINT AS n FROM hv),
         |r AS (SELECT da, db, c::DOUBLE / sa.n AS ca, c::DOUBLE / sb.n AS cb
         |  FROM cm JOIN sz sa ON da = sa.doc JOIN sz sb ON db = sb.doc)
         |SELECT da AS doc_a, db AS doc_b, ca AS cont_a, cb AS cont_b
         |FROM r WHERE ca >= 0.8e0 OR cb >= 0.8e0""".stripMargin
    },

    // length-sorted batching: global (n DESC, doc) rank cut into
    // 32-doc batches; padding = pad-to-longest overhead per batch
    "pack_length_batches" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    ceil(length(trim(text))::DOUBLE / 4.0e0)::BIGINT AS n
        |  FROM documents),
        |r AS (SELECT doc, n,
        |    row_number() OVER (ORDER BY n DESC, doc) AS rank FROM d),
        |b AS (SELECT ((rank - 1 - (rank - 1) % 32) / 32)::BIGINT
        |    AS batch_id, n FROM r)
        |SELECT batch_id, count(*)::BIGINT AS n_docs,
        |  max(n) AS max_tokens, sum(n)::BIGINT AS sum_tokens,
        |  (max(n) * count(*) - sum(n))::BIGINT AS padding,
        |  round((max(n) * count(*) - sum(n))::DOUBLE
        |    / (max(n) * count(*)), 6) + 0.0e0 AS pad_frac
        |FROM b GROUP BY batch_id""".stripMargin,

    // vocab profile: exact distinct/type-token/hapax rollup
    "text_vocab_stats" ->
      """WITH w AS (SELECT source, unnest(string_split(trim(text), ' '))
        |    AS w FROM documents),
        |c AS (SELECT source, w, count(*)::BIGINT AS c FROM w
        |  GROUP BY source, w)
        |SELECT source, count(*)::BIGINT AS n_distinct,
        |  sum(c)::BIGINT AS n_tokens,
        |  round(count(*)::DOUBLE / sum(c), 6) + 0.0e0 AS type_token_ratio,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |    + 0.0e0 AS hapax_frac
        |FROM c GROUP BY source""".stripMargin,

    // length profile: quantile_cont == Spark's interpolated percentile
    "text_length_quantiles" ->
      """WITH d AS (SELECT source,
        |    len(string_split(trim(text), ' '))::BIGINT AS n FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(n), 6) + 0.0e0 AS mean_tokens,
        |  round(quantile_cont(n, 0.25), 6) + 0.0e0 AS p25,
        |  round(quantile_cont(n, 0.5), 6) + 0.0e0 AS p50,
        |  round(quantile_cont(n, 0.75), 6) + 0.0e0 AS p75,
        |  round(quantile_cont(n, 0.95), 6) + 0.0e0 AS p95,
        |  max(n) AS max_tokens
        |FROM d GROUP BY source""".stripMargin,

    // domain-suffix blocklist: identical planted url + normalization
    // chain, suffix law host = p OR ends_with(host, '.'||p), winner =
    // longest pattern then lexicographic — same precedence both engines
    "web_domain_filter" ->
      """WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
        |    (CASE WHEN doc_id % 3 = 1 THEN 'www.'
        |          WHEN doc_id % 3 = 2 THEN 'cdn.' ELSE '' END) ||
        |    'Site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.net' ELSE '.org' END) ||
        |    '/Page/' || CAST(doc_id AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |n AS (SELECT doc,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url), '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''),
        |      '[?#].*$', ''), '/+$', '') AS url_norm FROM u),
        |h AS (SELECT doc, regexp_extract(url_norm, '^[^/]+') AS host FROM n),
        |p AS (SELECT unnest(['site7.com', 'site13.net', 'site9.org',
        |    'cdn.site21.org', 'site21.org']) AS pat),
        |m AS (SELECT doc, pat FROM h JOIN p
        |  ON h.host = p.pat OR ends_with(h.host, '.' || p.pat)),
        |b AS (SELECT doc, pat FROM m QUALIFY row_number() OVER
        |  (PARTITION BY doc ORDER BY length(pat) DESC, pat) = 1)
        |SELECT h.doc, h.host, b.pat AS blocked_by,
        |  b.pat IS NOT NULL AS is_blocked
        |FROM h LEFT JOIN b ON h.doc = b.doc""".stripMargin,

    // phrase search: direct token-slice replay of the positional-index
    // answer — every overlapping occurrence counts, 0-based positions
    "text_phrase_search" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS t FROM documents),
        |g AS (SELECT doc, unnest(range(1, len(t) + 1)) AS i, t FROM d),
        |m AS (SELECT 'fast table' AS phrase, doc, i - 1 AS pos FROM g
        |  WHERE array_to_string(t[i:i+1], ' ') = 'fast table'
        |  UNION ALL
        |  SELECT 'big order scan' AS phrase, doc, i - 1 AS pos FROM g
        |  WHERE array_to_string(t[i:i+2], ' ') = 'big order scan')
        |SELECT phrase, doc, count(*) AS n_matches, min(pos) AS first_pos
        |FROM m GROUP BY phrase, doc""".stripMargin,

    "sample_stratified" -> sampleStratifiedSql,
    "sample_mixture" -> sampleMixtureSql,

    // URL curation: identical planted url, identical anchored-regex
    // normalization chain, last-two-label domain, literal blocklist
    "text_url_normalize" ->
      """WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
        |    (CASE WHEN doc_id % 3 = 1 THEN 'www.'
        |          WHEN doc_id % 3 = 2 THEN 'cdn.' ELSE '' END) ||
        |    'Site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.net' ELSE '.org' END) ||
        |    '/Page/' || CAST(doc_id AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |n AS (SELECT doc,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url), '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''),
        |      '[?#].*$', ''), '/+$', '') AS url_norm FROM u),
        |h AS (SELECT doc, url_norm,
        |    regexp_extract(url_norm, '^[^/]+') AS host FROM n)
        |SELECT doc, url_norm, host,
        |  regexp_extract(host, '[^.]+\.[^.]+$') AS domain,
        |  regexp_extract(host, '[^.]+\.[^.]+$') IN
        |    ('site7.com', 'site13.net', 'site21.org') AS blocked
        |FROM h""".stripMargin,

    // composed web curation: planted urls → normalization → blocklist →
    // salted-md5 per-domain cap (rank partitioned on (domain, blocked)
    // so blocked rows consume no slots) → quality gate → verdict
    "web_curation_pipeline" ->
      """WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
        |    (CASE WHEN doc_id % 3 = 1 THEN 'www.'
        |          WHEN doc_id % 3 = 2 THEN 'cdn.' ELSE '' END) ||
        |    'Site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.net' ELSE '.org' END) ||
        |    '/Page/' || CAST(doc_id AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |n AS (SELECT doc, toks,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url), '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''),
        |      '[?#].*$', ''), '/+$', '') AS url_norm FROM u),
        |h AS (SELECT doc, toks,
        |    regexp_extract(regexp_extract(url_norm, '^[^/]+'),
        |      '[^.]+\.[^.]+$') AS domain FROM n),
        |b AS (SELECT doc, domain,
        |    domain IN ('site7.com', 'site13.net', 'site21.org') AS blocked,
        |    (1.0e0
        |      - (CASE WHEN len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
        |      - (CASE WHEN len(toks) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
        |      - (CASE WHEN len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
        |    ) >= 8.0e-1 AS q FROM h),
        |r AS (SELECT *, CASE WHEN blocked THEN NULL ELSE
        |    row_number() OVER (PARTITION BY domain, blocked
        |      ORDER BY ('0x' || substr(md5('w42' || CAST(doc AS VARCHAR)),
        |        1, 15))::BIGINT, doc) END AS rk FROM b)
        |SELECT doc, domain,
        |  CASE WHEN blocked THEN 'blocked'
        |       WHEN rk > 3 THEN 'over_cap'
        |       WHEN NOT q THEN 'low_quality'
        |       ELSE 'kept' END AS verdict
        |FROM r""".stripMargin,

    // BPE vocabulary induction: the learning loop unrolled — per
    // iteration a pair-count aggregate over the word table, the
    // (cnt DESC, l, r) argmax, and the sentinel-space replace; LEFT JOIN
    // ON true keeps the word table flowing when a small corpus exhausts
    // its pairs before the last iteration
    "bpe_train" -> bpeTrainSql,

    // capstone composition: dedup keepers → quality gate → chunking →
    // global rank → serpentine shard → per-shard totals, each stage the
    // already-attested replay, composed on one lineage
    "pretrain_pipeline" -> {
      val sh = graft.Queries.pretrainShardCount
      s"""WITH k AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER
         |      (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |q AS (SELECT CAST(doc_id AS BIGINT) AS doc,
         |    string_split(trim(text), ' ') AS toks FROM k
         |  WHERE (1.0e0
         |    - (CASE WHEN len(list_filter(string_split(trim(text), ' '), w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(string_split(trim(text), ' ')) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
         |    - (CASE WHEN len(string_split(trim(text), ' ')) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
         |    - (CASE WHEN len(list_filter(string_split(trim(text), ' '), w -> length(w) > 6))::DOUBLE / len(string_split(trim(text), ' ')) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
         |  ) >= 8.0e-1),
         |c AS (SELECT doc, CAST((u.i - 1) / 24 + 1 AS BIGINT) AS chunk_id,
         |    len(toks[u.i : least(u.i + 31, len(toks))])::BIGINT AS nt
         |  FROM q, unnest(generate_series(1,
         |    greatest(len(toks) - 8, 1), 24)) AS u(i)),
         |ch AS (SELECT doc * 1000000 + chunk_id AS cid, nt FROM c),
         |r AS (SELECT cid, nt, row_number() OVER
         |    (ORDER BY nt DESC, cid) AS rank FROM ch),
         |s AS (SELECT nt,
         |    CASE WHEN ((rank - 1 - (rank - 1) % $sh) / $sh)::BIGINT % 2 = 0
         |         THEN (rank - 1) % $sh
         |         ELSE $sh - 1 - (rank - 1) % $sh END AS shard
         |  FROM r)
         |SELECT shard, count(*)::BIGINT AS n_chunks,
         |  sum(nt)::BIGINT AS sum_tokens
         |FROM s GROUP BY shard""".stripMargin
    },

    // n-gram novelty: distinct shingles per doc, per-gram min owner,
    // first-owner ratio — shingle rule shared with the dedup oracles
    "text_novelty" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |sg AS (SELECT DISTINCT doc,
        |    array_to_string(toks[u.i : u.i + 2], ' ') AS gs
        |  FROM d, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        |  WHERE len(toks) >= 3),
        |s AS (SELECT doc,
        |    ('0x' || substr(md5(gs), 1, 15))::BIGINT % 1000000007 AS g
        |  FROM sg),
        |o AS (SELECT g, min(doc) AS own FROM s GROUP BY g),
        |sc AS (SELECT s.doc, count(*)::BIGINT AS n_grams,
        |    count(CASE WHEN o.own = s.doc THEN 1 END)::BIGINT AS n_novel
        |  FROM s JOIN o USING (g) GROUP BY s.doc)
        |SELECT d.doc, coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(sc.n_novel, 0)::BIGINT AS n_novel,
        |  round(sc.n_novel::DOUBLE / sc.n_grams, 6) + 0.0e0 AS novelty
        |FROM d LEFT JOIN sc USING (doc)""".stripMargin,

    // overlapping chunking: identical start-sequence rule
    // (1, 1+stride, … ≤ max(n−overlap, 1)), inclusive-slice windows
    "text_chunk" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc, toks, u.i AS start_tok,
        |    CAST((u.i - 1) / 24 + 1 AS INT) AS chunk_id
        |  FROM d, unnest(generate_series(1,
        |    greatest(len(toks) - 8, 1), 24)) AS u(i))
        |SELECT doc, chunk_id, start_tok,
        |  len(toks[start_tok : least(start_tok + 31, len(toks))])::BIGINT
        |    AS n_tokens,
        |  array_to_string(
        |    toks[start_tok : least(start_tok + 31, len(toks))], ' ')
        |    AS chunk
        |FROM c""".stripMargin,

    // per-source KL drift: counts, smoothing, and the full-vocab grid
    // (sources × words incl. absent-word floor rows) re-derived in SQL
    "text_source_drift" ->
      """WITH t AS (SELECT source AS src,
        |    unnest(string_split(trim(text), ' ')) AS w FROM documents),
        |csw AS (SELECT src, w, count(*)::BIGINT AS csw
        |  FROM t GROUP BY src, w),
        |cw AS (SELECT w, count(*)::BIGINT AS cw FROM t GROUP BY w),
        |ns AS (SELECT src, sum(csw)::BIGINT AS ns FROM csw GROUP BY src),
        |st AS (SELECT count(*)::BIGINT AS v, sum(cw)::BIGINT AS n FROM cw),
        |grid AS (SELECT ns.src, cw.w, ns.ns, cw.cw, st.v, st.n,
        |    coalesce(csw.csw, 0) AS csw
        |  FROM ns CROSS JOIN st CROSS JOIN cw
        |  LEFT JOIN csw ON csw.src = ns.src AND csw.w = cw.w),
        |k AS (SELECT src, ns,
        |    sum(((csw + 1)::DOUBLE / (ns + v)) *
        |        ln(((csw + 1)::DOUBLE / (ns + v)) /
        |           ((cw + 1)::DOUBLE / (n + v)))) AS kl
        |  FROM grid GROUP BY src, ns)
        |SELECT src AS source, ns AS n_tokens,
        |  round(kl, 6) + 0.0e0 AS kl
        |FROM k""".stripMargin,

    // corpus-trained bigram LM scoring: counts, vocab, and the add-one
    // smoothed per-transition log-prob re-derived in SQL; the mean is
    // order-insensitive at round-6 (ln magnitudes ≤ ~15, ≤ a few
    // hundred transitions per doc)
    "text_lm_score" ->
      ("WITH " + lmScoreCtes + "\nSELECT doc, n_trans, nll FROM lmbase"),

    // CCNet bucketing: the shared LM chain, then per-source thirds via
    // plain ntile — the engine's closed-form rank arithmetic must equal
    // it bucket-for-bucket (Queries.textCcnetBuckets)
    "text_ccnet_buckets" ->
      ("WITH " + lmScoreCtes + """,
        |r AS (SELECT doc, source, n_trans, nll,
        |    CAST(ntile(3) OVER (PARTITION BY source ORDER BY nll, doc)
        |      AS BIGINT) AS bucket
        |  FROM lmbase WHERE nll IS NOT NULL)
        |SELECT doc, source, n_trans, nll, bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS ccnet_label
        |FROM r
        |UNION ALL
        |SELECT doc, source, n_trans, nll, CAST(NULL AS BIGINT),
        |  'unscored'
        |FROM lmbase WHERE nll IS NULL""".stripMargin),

    // DSIR importance weights: hashed bigram buckets (the shared md5
    // 60-bit rule), target/raw bucket distributions add-one smoothed
    // over B buckets, per-doc log-ratio sum; the target flag is the
    // same composite-quality expression `quality_classify` labels with
    "sample_dsir" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |g AS (SELECT doc, toks,
        |  (1.0e0
        |    - (CASE WHEN len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN len(toks) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
        |  ) >= 8.0e-1 AS is_t FROM d),
        |f AS (SELECT doc, is_t,
        |    ('0x' || substr(md5(toks[u.i] || ' ' || toks[u.i + 1]), 1, 15))::BIGINT
        |      % 1024 AS b
        |  FROM g, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |cr AS (SELECT b, count(*)::BIGINT AS cr FROM f GROUP BY b),
        |ct AS (SELECT b, count(*)::BIGINT AS ct FROM f WHERE is_t GROUP BY b),
        |tot AS (SELECT count(*)::BIGINT AS nr,
        |    count(CASE WHEN is_t THEN 1 END)::BIGINT AS nt FROM f),
        |pr AS (SELECT cr.b,
        |    ln(((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.nt + 1024)) /
        |       ((cr.cr + 1)::DOUBLE / (tot.nr + 1024))) AS lr
        |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
        |sc AS (SELECT f.doc, count(*)::BIGINT AS n_feat, sum(pr.lr) AS lw
        |  FROM f JOIN pr USING (b) GROUP BY f.doc)
        |SELECT g.doc, coalesce(sc.n_feat, 0)::BIGINT AS n_feat,
        |  round(sc.lw, 6) + 0.0e0 AS logw, g.is_t AS is_target
        |FROM g LEFT JOIN sc USING (doc)""".stripMargin,

    // balanced serpentine sharding: plain global row_number replays the
    // engine's two-pass distributed rank; same snake arithmetic (pos via
    // mod, block via the exactly-divisible (rank-1-pos)/S)
    "shard_balance" -> {
      val s = graft.Queries.balancedShardCount
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
         |    ceil(length(trim(text))::DOUBLE / 4.0e0)::BIGINT AS n_tokens
         |  FROM documents),
         |r AS (SELECT doc, n_tokens, row_number() OVER
         |    (ORDER BY n_tokens DESC, doc) AS rank FROM d)
         |SELECT doc, n_tokens, rank,
         |  CASE WHEN ((rank - 1 - (rank - 1) % $s) / $s)::BIGINT % 2 = 0
         |       THEN (rank - 1) % $s
         |       ELSE $s - 1 - (rank - 1) % $s END AS shard
         |FROM r""".stripMargin
    },

    // per-shard concat-and-chunk packing; sum(BIGINT) widens to HUGEINT in
    // DuckDB, normalized via the double division before the BIGINT cast
    "pack_chunks" ->
      """WITH t AS (SELECT doc_id AS doc, doc_id % 32 AS shard,
        |    ceil(length(trim(text))::DOUBLE / 4.0e0)::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT doc, shard, n_tokens,
        |  floor(cum::DOUBLE / 2048)::BIGINT AS chunk FROM c""".stripMargin,

    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,

    "bpe_tokenize" -> bpeTokenizeSql,

    "pack_chunks_bpe" -> packChunksBpeSql,

    "dedup_ngram_jaccard" -> ngramGatedSql,

    "dedup_lsh_recall_audit" -> lshRecallAuditSql,
    "dedup_simhash_recall_audit" -> simhashRecallAuditSql,
    "emb_recall_audit" -> embRecallAuditSql,

    "text_bpe_fertility" -> bpeFertilitySql,

    "curation_pipeline" -> curationPipelineSql,

    "text_langid" ->
      """WITH d AS (SELECT doc_id AS doc, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |sc AS (SELECT doc,
        |  len(list_filter(toks, w -> w IN ('der','die','und','nicht','das')))::BIGINT AS s_de,
        |  len(list_filter(toks, w -> w IN ('the','and','of','to','in')))::BIGINT AS s_en,
        |  len(list_filter(toks, w -> w IN ('el','la','de','que','y')))::BIGINT AS s_es,
        |  len(list_filter(toks, w -> w IN ('le','les','et','des','un')))::BIGINT AS s_fr
        |  FROM d)
        |SELECT doc, s_de, s_en, s_es, s_fr,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM sc""".stripMargin,

    "text_fingerprint" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, len(toks) AS n,
        |  list_transform(toks,
        |    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007) AS hs
        |  FROM d)
        |SELECT doc_id, CASE WHEN n >= 4 THEN
        |  list_min(list_transform(range(1, greatest(n - 3, 1) + 1), i ->
        |    ((((hs[i] * 31 + hs[i+1]) % 1000000007) * 31 + hs[i+2])
        |      % 1000000007 * 31 + hs[i+3]) % 1000000007))
        |  ELSE NULL END AS fingerprint
        |FROM h""".stripMargin,

    "text_quality" ->
      """WITH d AS (SELECT doc_id AS doc, trim(text) AS t,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc, length(t)::BIGINT AS n_chars, len(toks)::BIGINT AS n_words,
        |  len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
        |    / len(toks) AS stopword_ratio,
        |  len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks)
        |    AS long_word_ratio
        |  FROM d)
        |SELECT doc, n_chars, n_words,
        |  ceil(n_chars::DOUBLE / 4.0e0)::BIGINT AS est_tokens,
        |  n_chars::DOUBLE / n_words AS mean_word_len,
        |  stopword_ratio, long_word_ratio,
        |  1.0e0
        |    - (CASE WHEN stopword_ratio < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN n_words < 5 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN long_word_ratio > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
        |    AS quality
        |FROM m""".stripMargin,

    // decontamination: distinct 3-shingle hashes of the src0 "benchmark"
    // docs vs every other doc's shingle hashes (mirrors TextOps.decontaminate;
    // duplicates in hv count like the Spark explode does)
    "text_decontaminate" -> decontaminateSql,

    // the Bloom-prefiltered plan is bit-identical by construction (no
    // false negatives + exact verify join), so the SAME SQL attests it
    "text_decontaminate_bloom" -> decontaminateSql,

    // planted-PII detect + scrub; regex constants shared verbatim with
    // TextOps (RE2/Java-portable subset), replacement order email→ip→phone
    "text_pii" -> {
      val (em, ip, ph) = (graft.operators.TextOps.EmailRe,
        graft.operators.TextOps.Ipv4Re, graft.operators.TextOps.PhoneRe)
      s"""WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 3 <> 0 THEN
         |    text || ' reach user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com via 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
         |      || ' tel 555-867-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    ELSE text END AS t FROM documents)
         |SELECT doc_id AS doc,
         |  len(regexp_extract_all(t, '$em'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(t, '$ip'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(t, '$ph'))::BIGINT AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$ph', '<PHONE>', 'g') AS scrubbed
         |FROM aug""".stripMargin
    },

    // line-level dedup: rebuild the planted line structure (8-token
    // chunks + the shared boilerplate line on 3/4 of docs), count lines
    // corpus-wide, drop > 10 occurrences, reassemble in position order
    "text_line_dedup" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc, list_transform(range(0, (len(toks) + 7) // 8),
        |    i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS lines0
        |  FROM d),
        |aug AS (SELECT doc, CASE WHEN doc % 4 <> 0
        |    THEN list_append(lines0, 'subscribe to the graft newsletter today')
        |    ELSE lines0 END AS lines FROM b),
        |l AS (SELECT doc, unnest(list_transform(range(1, len(lines) + 1),
        |    i -> {'pos': i, 'ln': lines[i]})) AS u FROM aug),
        |ll AS (SELECT doc, u.pos AS pos, u.ln AS ln FROM l),
        |c AS (SELECT ln FROM ll GROUP BY ln HAVING count(*) > 10),
        |k AS (SELECT doc, pos, ln FROM ll
        |  WHERE ln NOT IN (SELECT ln FROM c)),
        |agg AS (SELECT doc, count(*) AS n_kept,
        |    string_agg(ln, chr(10) ORDER BY pos) AS text_dedup
        |  FROM k GROUP BY doc)
        |SELECT a.doc, len(a.lines)::BIGINT AS n_lines,
        |  coalesce(g.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(g.text_dedup, '') AS text_dedup
        |FROM aug a LEFT JOIN agg g USING (doc)""".stripMargin,

    // span-level substring dedup: gram md5 -> cross-doc min!=max ->
    // island merge, the exact chain of TextOps.substringDedupSpans with
    // the same k (Queries.substringDedupK) inlined
    "text_substring_dedup" ->
      s"""WITH $substringDetectionCtes
         |SELECT doc, min(i) AS span_start,
         |  max(i) + ${graft.Queries.substringDedupK - 1} AS span_end,
         |  max(i) + ${graft.Queries.substringDedupK} - min(i) AS span_toks
         |FROM isl GROUP BY doc, island""".stripMargin,

    // APPLY side: the same detection chain composed with an anti-EXISTS
    // positional filter and an ordered string_agg rejoin (mirrors
    // TextOps.removeDuplicatedSpans; fully-duplicated docs -> '')
    "text_substring_dedup_apply" -> {
      val k = graft.Queries.substringDedupK
      s"""WITH $substringDetectionCtes,
         |sp AS (SELECT doc, min(i) AS s, max(i) + ${k - 1} AS e
         |  FROM isl GROUP BY doc, island),
         |tp AS (SELECT doc, unnest(range(1, n + 1)) AS i, toks FROM nn),
         |tw AS (SELECT doc, i, toks[i] AS w FROM tp),
         |kept AS (SELECT tw.doc, tw.i, tw.w FROM tw WHERE NOT EXISTS
         |  (SELECT 1 FROM sp WHERE sp.doc = tw.doc
         |     AND tw.i BETWEEN sp.s AND sp.e)),
         |ka AS (SELECT doc, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY i) AS txt FROM kept GROUP BY doc)
         |SELECT nn.doc, nn.n::BIGINT AS n_tokens,
         |  (nn.n - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(ka.txt, '') AS text_dedup
         |FROM nn LEFT JOIN ka USING (doc)""".stripMargin
    },

    // nearest-centroid quality classifier replay: features (exact ratio
    // arithmetic), planted train split + quality-rule labels, per-class
    // conditional-mean centroids (the ONLY rounded aggregates, 6 dp),
    // squared-distance compare with the same left-assoc term order
    "quality_classify" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
        |    string_split(trim(text), ' ') AS toks,
        |    length(trim(text)) AS nc FROM documents),
        |f AS (SELECT doc,
        |  len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
        |    / len(toks) AS f1,
        |  len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) AS f2,
        |  nc::DOUBLE / len(toks)::DOUBLE / 1.0e1 AS f3,
        |  (1.0e0
        |    - (CASE WHEN len(list_filter(toks, w -> w IN ('the','a','of','and','to','in')))::DOUBLE / len(toks) < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN len(toks) < 5 THEN 4.0e-1 ELSE 0.0e0 END)
        |    - (CASE WHEN len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks) > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
        |  ) >= 8.0e-1 AS y,
        |  doc % 5 = 0 AS tr FROM d),
        |c AS (SELECT
        |  round(avg(CASE WHEN y THEN f1 END), 6) AS a1,
        |  round(avg(CASE WHEN y THEN f2 END), 6) AS a2,
        |  round(avg(CASE WHEN y THEN f3 END), 6) AS a3,
        |  round(avg(CASE WHEN NOT y THEN f1 END), 6) AS b1,
        |  round(avg(CASE WHEN NOT y THEN f2 END), 6) AS b2,
        |  round(avg(CASE WHEN NOT y THEN f3 END), 6) AS b3
        |  FROM f WHERE tr)
        |SELECT f.doc, f.tr AS is_train,
        |  ((f1-a1)*(f1-a1) + (f2-a2)*(f2-a2) + (f3-a3)*(f3-a3)) <
        |    ((f1-b1)*(f1-b1) + (f2-b2)*(f2-b2) + (f3-b3)*(f3-b3)) AS label_pred,
        |  ((f1-b1)*(f1-b1) + (f2-b2)*(f2-b2) + (f3-b3)*(f3-b3)) -
        |    ((f1-a1)*(f1-a1) + (f2-a2)*(f2-a2) + (f3-a3)*(f3-a3)) AS margin
        |FROM f CROSS JOIN c""".stripMargin,

    // Gopher rule set replay: every rule's exact row-local arithmetic
    // (whitespace-run tokenization with empty tokens dropped, shared
    // both engines; true mean word length = sum of word lengths /
    // words; symbol counts via non-overlapping replace; line fractions
    // over a \n split; distinct-LOWERCASED-stop-word count;
    // nullif-guarded divisions mirror Spark's null division)
    "text_gopher_rules" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc, text,
        |    trim(text) AS t,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '') AS toks FROM documents),
        |m AS (SELECT doc,
        |  len(toks)::BIGINT AS n_words,
        |  list_sum(list_transform(toks, w -> length(w)))::DOUBLE
        |    / nullif(len(toks), 0) AS mwl,
        |  (length(t) - length(replace(t, '#', ''))
        |   + (length(t) - length(replace(t, '...', ''))) / 3
        |   + (length(t) - length(replace(t, chr(8230), ''))))::DOUBLE
        |    / nullif(len(toks), 0) AS symr,
        |  len(list_filter(string_split(text, chr(10)), l ->
        |    starts_with(ltrim(l, ' '), chr(8226)) OR
        |    starts_with(ltrim(l, ' '), '- ') OR
        |    starts_with(ltrim(l, ' '), '* ')))::DOUBLE
        |    / len(string_split(text, chr(10))) AS bulletf,
        |  len(list_filter(string_split(text, chr(10)), l ->
        |    ends_with(rtrim(l, ' '), '...') OR
        |    ends_with(rtrim(l, ' '), chr(8230))))::DOUBLE
        |    / len(string_split(text, chr(10))) AS ellipsisf,
        |  len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
        |    / nullif(len(toks), 0) AS alphaf,
        |  len(list_distinct(list_transform(list_filter(toks, w -> lower(w) IN
        |    ('the','be','to','of','and','that','have','with')),
        |    w -> lower(w))))::BIGINT
        |    AS n_stop
        |  FROM d)
        |SELECT doc, n_words, round(mwl, 6) + 0.0e0 AS mean_word_len,
        |  round(alphaf, 6) + 0.0e0 AS alpha_word_frac,
        |  n_stop AS n_stop_distinct,
        |  n_words BETWEEN 50 AND 100000 AS pass_word_count,
        |  mwl BETWEEN 3.0e0 AND 10.0e0 AS pass_mean_word_len,
        |  symr <= 1.0e-1 AS pass_symbol_ratio,
        |  bulletf <= 9.0e-1 AS pass_bullet_lines,
        |  ellipsisf <= 3.0e-1 AS pass_ellipsis_lines,
        |  alphaf >= 8.0e-1 AS pass_alpha_words,
        |  n_stop >= 2 AS pass_stop_words,
        |  (n_words BETWEEN 50 AND 100000) AND
        |  (mwl BETWEEN 3.0e0 AND 10.0e0) AND symr <= 1.0e-1 AND
        |  bulletf <= 9.0e-1 AND ellipsisf <= 3.0e-1 AND
        |  alphaf >= 8.0e-1 AND n_stop >= 2 AS pass_all
        |FROM m""".stripMargin,

    // WARC ingest: PLANTED identity oracle — the engine packs documents
    // into multi-record Content-Length-framed blobs and parses them
    // back; the oracle states the planted fields directly (record_idx =
    // rank within the blob). Payloads embed the record delimiter and a
    // fake WARC/1.0 line, so only correct length-framing round-trips.
    "web_warc_parse" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
        |p AS (SELECT id, id % 50 AS group_id,
        |    text || chr(13) || chr(10) || chr(13) || chr(10)
        |      || 'WARC/1.0 fake' || chr(13) || chr(10) || chr(13) || chr(10)
        |      || 'EMBEDDED:' || id::VARCHAR AS payload,
        |    'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR AS uri
        |  FROM d)
        |SELECT group_id,
        |  row_number() OVER (PARTITION BY group_id ORDER BY id) - 1
        |    AS record_idx,
        |  'response' AS warc_type, uri,
        |  octet_length(encode(payload))::BIGINT AS content_length, payload
        |FROM p""".stripMargin,

    // .warc.gz chain: same planted records through per-record gzip
    // members — a content identity, so the oracle is shared verbatim
    "web_warc_gz_parse" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
        |p AS (SELECT id, id % 50 AS group_id,
        |    text || chr(13) || chr(10) || chr(13) || chr(10)
        |      || 'WARC/1.0 fake' || chr(13) || chr(10) || chr(13) || chr(10)
        |      || 'EMBEDDED:' || id::VARCHAR AS payload,
        |    'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR AS uri
        |  FROM d)
        |SELECT group_id,
        |  row_number() OVER (PARTITION BY group_id ORDER BY id) - 1
        |    AS record_idx,
        |  'response' AS warc_type, uri,
        |  octet_length(encode(payload))::BIGINT AS content_length, payload
        |FROM p""".stripMargin,

    // HTML extraction: PLANTED closed-form oracle — the engine renders
    // each document into a full page (script/style/comment traps, nav +
    // link-only + link-heavy-footer boilerplate, the entity paragraph)
    // and extracts it back; the oracle states the expected title / text
    // / block counts directly, so the hash attests every contract
    // clause (removal ordering, block split, strip-then-decode,
    // ws-normalize, link-density rule) end to end
    "web_html_extract" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents)
        |SELECT id AS doc,
        |  'Doc & Title ' || id::VARCHAR AS title,
        |  'Heading ' || (id % 10)::VARCHAR || chr(10)
        |    || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10)
        |    || 'Entities <b> "q" ''s'' & tail ' || id::VARCHAR AS text,
        |  3::BIGINT AS n_blocks, 4::BIGINT AS n_dropped
        |FROM d""".stripMargin,

    // WET chain: the same planted pages through Content-Length-framed
    // WARC records first — archive → payload → text must be a content
    // identity, so the extraction columns share the closed form above
    "web_wet_extract" -> wetExtractSql,
    // the drained streaming twin shares it VERBATIM: a record clipped at
    // a micro-batch boundary or a re-delivered source file breaks it
    "stream_wet_extract" -> wetExtractSql,

    // outlink graph: all 14 planted anchors per page in document order,
    // each href resolved per the RFC-3986-lite contract — stated row by
    // row in closed form (extraction order, quote handling, and every
    // resolution branch share the one hash)
    "web_link_graph" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |b AS (SELECT id,
        |    'http://ex' || (id % 7)::VARCHAR || '.com' AS root,
        |    'ex' || (id % 7)::VARCHAR || '.com' AS host,
        |    'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR
        |      AS page_url
        |  FROM d)
        |SELECT id AS doc, page_url, 0::BIGINT AS link_idx, '/' AS href,
        |  'Home' AS anchor, root || '/' AS url, host AS dst_host FROM b
        |UNION ALL SELECT id, page_url, 1, '/about', 'About',
        |  root || '/about', host FROM b
        |UNION ALL SELECT id, page_url, 2, '/more', 'More pages here',
        |  root || '/more', host FROM b
        |UNION ALL SELECT id, page_url, 3, '/x', 'link only block',
        |  root || '/x', host FROM b
        |UNION ALL SELECT id, page_url, 4,
        |  'http://ex' || ((id + 1) % 7)::VARCHAR || '.com/p'
        |    || ((id * 3) % 1000)::VARCHAR, 'n1',
        |  'http://ex' || ((id + 1) % 7)::VARCHAR || '.com/p'
        |    || ((id * 3) % 1000)::VARCHAR,
        |  'ex' || ((id + 1) % 7)::VARCHAR || '.com' FROM b
        |UNION ALL SELECT id, page_url, 5,
        |  '//ex' || ((id + 2) % 7)::VARCHAR || '.com/q' || (id % 10)::VARCHAR,
        |  'n2',
        |  'http://ex' || ((id + 2) % 7)::VARCHAR || '.com/q'
        |    || (id % 10)::VARCHAR,
        |  'ex' || ((id + 2) % 7)::VARCHAR || '.com' FROM b
        |UNION ALL SELECT id, page_url, 6,
        |  '../d' || (id % 5)::VARCHAR || '/./g' || (id % 3)::VARCHAR, 'n3',
        |  root || '/d' || (id % 5)::VARCHAR || '/g' || (id % 3)::VARCHAR,
        |  host FROM b
        |UNION ALL SELECT id, page_url, 7,
        |  'mailto:u' || id::VARCHAR || '@ex.com', 'n4', NULL, NULL FROM b
        |UNION ALL SELECT id, page_url, 8, '#frag', 'n5', NULL, NULL FROM b
        |UNION ALL SELECT id, page_url, 9, '/tos', 'Terms',
        |  root || '/tos', host FROM b
        |UNION ALL SELECT id, page_url, 10, '/priv', 'Privacy',
        |  root || '/priv', host FROM b
        |UNION ALL SELECT id, page_url, 11, '/c', 'Contact',
        |  root || '/c', host FROM b
        |UNION ALL SELECT id, page_url, 12, '/d', 'D',
        |  root || '/d', host FROM b
        |UNION ALL SELECT id, page_url, 13, '/e', 'E',
        |  root || '/e', host FROM b""".stripMargin,

    // host-graph rollup: the planted per-page link counts in closed
    // form — every page emits 10 own-host edges plus one to each of its
    // two cross-host neighbors ((id+1)%7, (id+2)%7); mailto/fragment
    // rows have null dst and are excluded
    "web_host_graph" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |c AS (SELECT id % 7 AS h, count(*)::BIGINT AS n FROM d GROUP BY 1)
        |SELECT 'ex' || h::VARCHAR || '.com' AS src_host,
        |  'ex' || h::VARCHAR || '.com' AS dst_host,
        |  10 * n AS n_links FROM c
        |UNION ALL SELECT 'ex' || h::VARCHAR || '.com',
        |  'ex' || ((h + 1) % 7)::VARCHAR || '.com', n FROM c
        |UNION ALL SELECT 'ex' || h::VARCHAR || '.com',
        |  'ex' || ((h + 2) % 7)::VARCHAR || '.com', n FROM c""".stripMargin,

    // frontier admission: every candidate URL restated from doc_id
    // arithmetic (directory link with its trailing slash, query-only
    // self link on the FULL base path, the real href beside the
    // data-href decoy, cross-host absolute; the fragment resolves null
    // and is no candidate), rolled up to reference counts, with the
    // planted crawled set (every even /q page on every host) excluded —
    // exactly the anti-join's survivor set (Queries.webFrontier)
    // NOTE the interpolated CTE block is concatenated, never run through
    // an outer stripMargin — margin stripping would eat the leading pipe
    // of the SQL `||` concatenation lines inside it
    "web_frontier" ->
      ("WITH " + frontierCtes + "\nSELECT url, dst_host, n_refs FROM c"),

    // Bloom-fronted admission: bit-identical to the exact anti-join (no
    // Bloom false negatives; the maybe-sliver is exactly verified), so
    // the oracle is shared verbatim — the decontaminate/bloom pairing
    "web_frontier_bloom" ->
      ("WITH " + frontierCtes + "\nSELECT url, dst_host, n_refs FROM c"),

    // streaming twin: the drained first-seen admission set — the same
    // survivor CTEs minus the reference totals a stream cannot finalize
    "stream_web_frontier" ->
      ("WITH " + frontierCtes + "\nSELECT url, dst_host FROM c"),

    // bounded-state streaming loop (Bloom front + inter-epoch state
    // drain): two drained epochs over the same planted world must union
    // to EXACTLY the batch survivor set — shared closed form verbatim; a
    // drain leak (url re-admitted across the snapshot), a sketch+verify
    // miss, or a lost admission breaks the shared hash
    "stream_web_frontier_bloom" ->
      ("WITH " + frontierCtes + "\nSELECT url, dst_host FROM c"),

    // frontier -> schedule composition: the admitted set ranked per host
    // by (n_refs DESC, url) and stamped with (rank-1)*delay against the
    // planted per-host delay (host digit % 3 * 0.5) — exact scalar
    // arithmetic, no rounding (Queries.webFrontierSchedule)
    "web_frontier_schedule" ->
      ("WITH " + frontierCtes + ",\n" +
        """r AS (SELECT dst_host, url, n_refs,
          |    CAST(row_number() OVER (PARTITION BY dst_host
          |      ORDER BY n_refs DESC, url) AS BIGINT) AS fetch_rank
          |  FROM c)
          |SELECT dst_host, url, n_refs, fetch_rank,
          |  (fetch_rank - 1)::DOUBLE
          |    * ((CAST(substr(dst_host, 3, 1) AS INT) % 3)::DOUBLE * 5.0e-1)
          |    AS start_offset_sec
          |FROM r""".stripMargin),

    // WET curation capstone: the extracted text is closed form, so the
    // whole crawl-bytes→verdict lineage replays — extraction stated
    // directly, langid/quality/token arithmetic over it with the shared
    // constants (same lists, same literals, same comparison order)
    "wet_curation_pipeline" ->
      """WITH d0 AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
        |d AS (SELECT id AS doc,
        |    'Heading ' || (id % 10)::VARCHAR || chr(10)
        |      || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10)
        |      || 'Entities <b> "q" ''s'' & tail ' || id::VARCHAR AS ext
        |  FROM d0),
        |t AS (SELECT doc, ext, string_split(trim(ext), ' ') AS toks FROM d),
        |m AS (SELECT doc,
        |    length(trim(ext))::BIGINT AS n_chars,
        |    len(toks)::BIGINT AS n_words,
        |    len(list_filter(toks, w -> w IN
        |      ('the','a','of','and','to','in')))::DOUBLE / len(toks) AS sr,
        |    len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks)
        |      AS lr,
        |    len(list_filter(toks, w -> w IN
        |      ('der','die','und','nicht','das')))::BIGINT AS s_de,
        |    len(list_filter(toks, w -> w IN
        |      ('the','and','of','to','in')))::BIGINT AS s_en,
        |    len(list_filter(toks, w -> w IN
        |      ('el','la','de','que','y')))::BIGINT AS s_es,
        |    len(list_filter(toks, w -> w IN
        |      ('le','les','et','des','un')))::BIGINT AS s_fr
        |  FROM t),
        |k AS (SELECT doc,
        |    1.0e0 - (CASE WHEN sr < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
        |          - (CASE WHEN n_words < 5 THEN 4.0e-1 ELSE 0.0e0 END)
        |          - (CASE WHEN lr > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
        |      AS quality,
        |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
        |        THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred,
        |    ceil(n_chars::DOUBLE / 4.0e0)::BIGINT AS est_tokens
        |  FROM m)
        |SELECT doc, lang_pred, round(quality, 6) + 0.0e0 AS quality,
        |  est_tokens,
        |  CASE WHEN quality < 8.0e-1 THEN 'low_quality'
        |    WHEN est_tokens < 60 THEN 'short'
        |    ELSE 'kept' END AS verdict
        |FROM k""".stripMargin,

    // crawl->shards mega-capstone: all nine stages as composed CTEs —
    // admission survivors restated from doc_id arithmetic (the frontier
    // discipline), the per-host fetch budget as the same (n_refs DESC,
    // url) rank (n_refs is constant 1 in this world: one seed link per
    // doc page), the closed-form extraction identity, the wet verdict
    // arithmetic, content-line exact dedup, and the pretrain chunk/
    // serpentine-shard tail — one hash over stage ORDER and interaction
    "crawl_pretrain_pipeline" -> {
      val sh = graft.Queries.pretrainShardCount
      val budget = graft.Queries.crawlHostBudget
      s"""WITH d0 AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
         |adm AS (SELECT id, text,
         |    'http://ex' || (id % 7)::VARCHAR || '.com/' || id::VARCHAR AS url,
         |    'ex' || (id % 7)::VARCHAR || '.com' AS host
         |  FROM d0 WHERE id % 4 <> 0),
         |sch AS (SELECT id, text FROM (SELECT id, text,
         |    row_number() OVER (PARTITION BY host ORDER BY url) AS rk
         |  FROM adm) WHERE rk <= $budget),
         |d AS (SELECT id AS doc,
         |    'Heading ' || (id % 10)::VARCHAR || chr(10)
         |      || trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10)
         |      || 'Entities <b> "q" ''s'' & tail ' || id::VARCHAR AS ext
         |  FROM sch),
         |t AS (SELECT doc, ext, string_split(trim(ext), ' ') AS toks FROM d),
         |m AS (SELECT doc, ext, toks,
         |    length(trim(ext))::BIGINT AS n_chars,
         |    len(toks)::BIGINT AS n_words,
         |    len(list_filter(toks, w -> w IN
         |      ('the','a','of','and','to','in')))::DOUBLE / len(toks) AS sr,
         |    len(list_filter(toks, w -> length(w) > 6))::DOUBLE / len(toks)
         |      AS lr
         |  FROM t),
         |k AS (SELECT doc, ext, toks,
         |    1.0e0 - (CASE WHEN sr < 2.0e-2 THEN 4.0e-1 ELSE 0.0e0 END)
         |          - (CASE WHEN n_words < 5 THEN 4.0e-1 ELSE 0.0e0 END)
         |          - (CASE WHEN lr > 5.0e-1 THEN 2.0e-1 ELSE 0.0e0 END)
         |      AS quality,
         |    ceil(n_chars::DOUBLE / 4.0e0)::BIGINT AS est_tokens
         |  FROM m),
         |kept AS (SELECT doc, ext, toks FROM k
         |  WHERE NOT (quality < 8.0e-1) AND NOT (est_tokens < 60)),
         |uniq AS (SELECT doc, toks FROM (SELECT doc, toks,
         |    row_number() OVER (PARTITION BY md5(string_split(ext, chr(10))[2])
         |      ORDER BY doc) AS rn FROM kept) WHERE rn = 1),
         |c AS (SELECT doc, CAST((u.i - 1) / 24 + 1 AS BIGINT) AS chunk_id,
         |    len(toks[u.i : least(u.i + 31, len(toks))])::BIGINT AS nt
         |  FROM uniq, unnest(generate_series(1,
         |    greatest(len(toks) - 8, 1), 24)) AS u(i)),
         |ch AS (SELECT doc * 1000000 + chunk_id AS cid, nt FROM c),
         |r AS (SELECT cid, nt, row_number() OVER
         |    (ORDER BY nt DESC, cid) AS rank FROM ch),
         |s AS (SELECT nt,
         |    CASE WHEN ((rank - 1 - (rank - 1) % $sh) / $sh)::BIGINT % 2 = 0
         |         THEN (rank - 1) % $sh
         |         ELSE $sh - 1 - (rank - 1) % $sh END AS shard
         |  FROM r)
         |SELECT shard, count(*)::BIGINT AS n_chunks,
         |  sum(nt)::BIGINT AS sum_tokens
         |FROM s GROUP BY shard""".stripMargin
    },

    // heavy-hitter bigrams: the engine's count-min prefilter cannot
    // change the result (overestimate-only + exact verify pass), so the
    // oracle is the plain exact HAVING
    // streaming count-min maintenance: the drained counter grid replayed
    // directly — bigrams (the proven gram CTE) × depth salted-hash60
    // buckets, grouped counts; the stream side must aggregate statefully
    // to exactly these rows
    "stream_cm_counters" -> {
      val depth = graft.Queries.streamCmDepth
      val width = graft.Queries.streamCmWidth
      s"""WITH d AS (SELECT string_split(trim(text), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT toks[u.i] || ' ' || toks[u.i + 1] AS gram
         |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
         |bk AS (SELECT r.i AS i,
         |    ('0x' || substr(md5('cm' || r.i::VARCHAR || ':' || gram),
         |      1, 15))::BIGINT % $width AS b
         |  FROM g, range(0, $depth) r(i))
         |SELECT CAST(i AS INT) AS i, b, count(*)::BIGINT AS c
         |FROM bk GROUP BY i, b""".stripMargin
    },

    // content-defined chunking: the same gram/hash60 parity chain as the
    // substring tier, with the cut rule, end-list construction, and
    // per-chunk md5 replayed exactly — integers and strings end to end
    "text_cdc_chunks" -> {
      val w = graft.Queries.cdcW
      val d = graft.Queries.cdcDivisor
      s"""WITH dd AS (SELECT CAST(doc_id AS BIGINT) AS doc,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |nn AS (SELECT doc, toks, len(toks) AS n FROM dd),
         |ct AS (SELECT doc, toks, n,
         |    CASE WHEN n >= $w THEN list_filter(
         |      list_transform(range(1, n - $w + 2), j ->
         |        CASE WHEN ('0x' || substr(md5(
         |            array_to_string(toks[j:j+${w - 1}], ' ')), 1, 15))::BIGINT
         |            % $d = 0
         |          THEN j + ${w - 1} END),
         |      x -> x IS NOT NULL)
         |    ELSE []::BIGINT[] END AS cuts
         |  FROM nn),
         |en AS (SELECT doc, toks,
         |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
         |         ELSE list_append(cuts, n) END AS ends
         |  FROM ct),
         |ex AS (SELECT doc, toks, ends,
         |    unnest(range(1, len(ends) + 1)) AS ci FROM en),
         |sp AS (SELECT doc, toks, ci, ends[ci] AS e,
         |    CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END AS s
         |  FROM ex)
         |SELECT doc, CAST(ci AS BIGINT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_word, CAST(e AS BIGINT) AS end_word,
         |  CAST(e - s + 1 AS BIGINT) AS n_words,
         |  md5(array_to_string(toks[s:e], ' ')) AS chunk_md5
         |FROM sp""".stripMargin
    },

    // chunk-level dedup: the cdc chain rolled up by chunk hash — the
    // cross-document duplicated-chunk report
    "dedup_cdc_chunks" -> {
      val w = graft.Queries.cdcW
      val d = graft.Queries.cdcDivisor
      s"""WITH dd AS (SELECT CAST(doc_id AS BIGINT) AS doc,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |nn AS (SELECT doc, toks, len(toks) AS n FROM dd),
         |ct AS (SELECT doc, toks, n,
         |    CASE WHEN n >= $w THEN list_filter(
         |      list_transform(range(1, n - $w + 2), j ->
         |        CASE WHEN ('0x' || substr(md5(
         |            array_to_string(toks[j:j+${w - 1}], ' ')), 1, 15))::BIGINT
         |            % $d = 0
         |          THEN j + ${w - 1} END),
         |      x -> x IS NOT NULL)
         |    ELSE []::BIGINT[] END AS cuts
         |  FROM nn),
         |en AS (SELECT doc, toks,
         |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
         |         ELSE list_append(cuts, n) END AS ends
         |  FROM ct),
         |ex AS (SELECT doc, toks, ends,
         |    unnest(range(1, len(ends) + 1)) AS ci FROM en),
         |sp AS (SELECT doc, toks, ends[ci] AS e,
         |    CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END AS s
         |  FROM ex),
         |ch AS (SELECT doc, CAST(e - s + 1 AS BIGINT) AS n_words,
         |    md5(array_to_string(toks[s:e], ' ')) AS chunk_md5 FROM sp)
         |SELECT chunk_md5, n_words, count(*)::BIGINT AS n_copies,
         |  count(DISTINCT doc)::BIGINT AS n_docs, min(doc) AS first_doc
         |FROM ch GROUP BY chunk_md5, n_words
         |HAVING count(DISTINCT doc) > 1""".stripMargin
    },

    "text_frequent_ngrams" -> {
      val mc = graft.Queries.frequentNgramMinCount
      s"""WITH d AS (SELECT string_split(trim(text), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT toks[u.i] || ' ' || toks[u.i + 1] AS gram
         |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i))
         |SELECT gram, count(*)::BIGINT AS cnt FROM g
         |GROUP BY gram HAVING count(*) >= $mc""".stripMargin
    },

    // per-source heads: exact (source, gram) counts at the per-source
    // minCount, rank-5 under (cnt DESC, gram) — the sketch prefilter is
    // result-invisible here exactly as in text_frequent_ngrams
    "text_top_ngrams_per_source" ->
      """WITH d AS (SELECT source, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |g AS (SELECT source, toks[u.i] || ' ' || toks[u.i + 1] AS gram
        |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |c AS (SELECT source, gram, count(*)::BIGINT AS cnt FROM g
        |  GROUP BY source, gram HAVING count(*) >= 3)
        |SELECT source, gram, cnt,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY cnt DESC, gram) AS BIGINT) AS rank
        |FROM c QUALIFY rank <= 5""".stripMargin,

    // logistic-regression gate: the gradient-descent loop UNROLLED (the
    // bpe_train technique) — train-split standardization (round-6
    // mean/pop-std; zero std ⇒ 1), then per iteration one gradient
    // aggregate over the standardized train rows and a round-6-quantized
    // weight update (quantization mirrored by the engine, so
    // sum-order/exp/stddev-algorithm ulps never compound); final scores
    // from the shared standardize-then-sigmoid arithmetic
    "quality_classify_logreg" ->
      s"""$logregCtes
         |SELECT doc, is_train, round(p, 6) + 0.0e0 AS score,
         |  p >= 5.0e-1 AS label_pred
         |FROM sc""".stripMargin,

    // held-out operating point of the logreg gate: the shared training
    // chain replayed, then rank-statistic AUC (average ranks over tied
    // round-6 scores), precision/recall/F1 at 0.5, and the best-F1
    // threshold on the held-out curve (ties to the higher cut). Every
    // statistic derives from integer group counts (rank terms are exact
    // multiples of ½), so the doubles are bit-deterministic on both
    // engines before the one round-6 at output
    "quality_classify_audit" ->
      (s"$logregCtes,\n" + auditThresholdCtes + ",\n" +
        """s AS (SELECT max(t_n)::BIGINT AS t_n, max(t_p)::BIGINT AS t_p,
          |    sum(np::DOUBLE * (cum_n - n)::DOUBLE
          |      + np::DOUBLE * (n + 1)::DOUBLE / 2.0e0) AS rank_sum,
          |    sum(CASE WHEN score >= 5.0e-1 THEN np ELSE 0 END)::BIGINT AS tp05,
          |    sum(CASE WHEN score >= 5.0e-1 THEN n - np ELSE 0 END)::BIGINT
          |      AS fp05
          |  FROM c CROSS JOIN t)
          |SELECT s.t_n AS n_eval, s.t_p AS n_pos,
          |  round((rank_sum - t_p::DOUBLE * (t_p + 1)::DOUBLE / 2.0e0)
          |    / (t_p::DOUBLE * (t_n - t_p)::DOUBLE), 6) + 0.0e0 AS auc,
          |  round(tp05::DOUBLE / (tp05 + fp05)::DOUBLE, 6) + 0.0e0
          |    AS precision_at_half,
          |  round(tp05::DOUBLE / t_p::DOUBLE, 6) + 0.0e0 AS recall_at_half,
          |  round(2.0e0 * tp05::DOUBLE / ((tp05 + fp05) + t_p)::DOUBLE, 6)
          |    + 0.0e0 AS f1_at_half,
          |  b.score AS best_threshold, round(b.f1, 6) + 0.0e0 AS best_f1
          |FROM s CROSS JOIN b""".stripMargin),

    // tuned curation capstone: the audit's measured best-F1 threshold IS
    // the gate — curation survivors joined to the replayed logreg scores
    // and kept at score >= b.score (the 1-row threshold CTE), so the
    // operating point the audit measures is the one the pipeline runs
    "curation_pipeline_tuned" ->
      (s"$logregCtes,\n" + auditThresholdCtes + ",\n" + curationCtes + "\n" +
        """SELECT cur.doc, cur.lang_pred, cur.quality, cur.est_tokens,
          |  round(sc.p, 6) + 0.0e0 AS score, cur.scrub_hash
          |FROM cur JOIN sc ON sc.doc = cur.doc CROSS JOIN b
          |WHERE round(sc.p, 6) + 0.0e0 >= b.score""".stripMargin),

    // MOSS winnowing replay: dense grams -> per-window rightmost-min
    // selection (windows exploded; short docs = one whole-doc window,
    // the documented deviation) -> distinct (doc, h) -> rank cap ->
    // pair counts; constants shared with TextOps.winnowPairs
    "text_winnow_pairs" -> {
      val k = graft.Queries.winnowK
      val w = graft.Queries.winnowW
      val cap = graft.operators.TextOps.DefaultMaxBandBucket
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |nn AS (SELECT doc, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc, unnest(range(1, n - $k + 2)) AS i, toks
         |  FROM nn WHERE n >= $k),
         |h AS (SELECT doc, i, ('0x' || substr(md5(
         |    array_to_string(toks[i:i+${k - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM g),
         |gc AS (SELECT doc, max(i) AS gmax FROM h GROUP BY doc),
         |win AS (SELECT doc,
         |  CASE WHEN gmax >= $w THEN gmax - ${w - 1} ELSE 1 END AS nwin,
         |  CASE WHEN gmax >= $w THEN $w ELSE gmax END AS wlen FROM gc),
         |wj AS (SELECT doc, unnest(range(1, nwin + 1)) AS j, wlen FROM win),
         |pr AS (SELECT w.doc, w.j, hh.i, hh.h FROM wj w JOIN h hh
         |  ON hh.doc = w.doc AND hh.i >= w.j AND hh.i < w.j + w.wlen),
         |wm AS (SELECT doc, j, min(h) AS mh FROM pr GROUP BY doc, j),
         |pick AS (SELECT pr.doc, pr.j, max(pr.i) AS si FROM pr
         |  JOIN wm USING (doc, j) WHERE pr.h = wm.mh GROUP BY pr.doc, pr.j),
         |fp AS (SELECT DISTINCT s.doc, h.h
         |  FROM (SELECT DISTINCT doc, si FROM pick) s
         |  JOIN h ON h.doc = s.doc AND h.i = s.si),
         |rk AS (SELECT doc, h,
         |  row_number() OVER (PARTITION BY h ORDER BY doc) AS r FROM fp),
         |cap AS (SELECT doc, h FROM rk WHERE r <= $cap)
         |SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS n_shared
         |FROM cap a JOIN cap b ON a.h = b.h AND a.doc < b.doc
         |GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin
    },

    // repetition metrics; distinct 3-grams mirror TextOps.shinglesOf
    "text_repetition" ->
      """WITH d AS (SELECT doc_id AS doc, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT doc, len(toks)::BIGINT AS n_tokens,
        |  len(list_distinct(toks))::BIGINT AS n_unique,
        |  len(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::BIGINT AS n3
        |  FROM d),
        |t AS (SELECT doc, unnest(toks) AS w FROM d),
        |c AS (SELECT doc, w, count(*) AS c FROM t GROUP BY 1, 2),
        |tc AS (SELECT doc, max(c) AS top_cnt FROM c GROUP BY 1)
        |SELECT m.doc, m.n_tokens, m.n_unique,
        |  round(m.n_unique::DOUBLE / m.n_tokens, 6) AS unique_ratio,
        |  round(tc.top_cnt::DOUBLE / m.n_tokens, 6) AS top_token_frac,
        |  CASE WHEN m.n_tokens >= 3 THEN
        |    round(1.0e0 - m.n3::DOUBLE / (m.n_tokens - 2), 6) END
        |    AS dup_3gram_frac
        |FROM m JOIN tc USING (doc)""".stripMargin,

    "bm25_topk" -> bm25Sql,

    "retrieval_rrf" -> retrievalRrfSql,

    "ann_lsh_topk" -> annLshSql,

    // banded sign-LSH candidates (anchors = vec_id 400-415, 4 bands × 4
    // bits, bit order = anchor-id rank) with Hamming-1 multi-probe →
    // exact-cosine verify; mirrors VectorOps.nearDupPairsLsh(multiProbe)
    "emb_neardup" -> embNearDupSql,

    "p8_quat_euler" ->
      """WITH b AS (SELECT event_id, value/200.0 AS w0,
        |    (user_id % 10)/10.0 - 0.5 AS x0,
        |    (event_id % 7)/7.0 - 0.5 AS y0, 0.3 AS z0
        |  FROM events),
        |nq AS (SELECT event_id,
        |    w0 / sqrt(w0*w0 + x0*x0 + y0*y0 + z0*z0) AS w,
        |    x0 / sqrt(w0*w0 + x0*x0 + y0*y0 + z0*z0) AS x0n,
        |    y0 / sqrt(w0*w0 + x0*x0 + y0*y0 + z0*z0) AS y0n,
        |    z0 / sqrt(w0*w0 + x0*x0 + y0*y0 + z0*z0) AS z0n
        |  FROM b),
        |r AS (SELECT event_id, w, -z0n AS x, x0n AS y, -y0n AS z FROM nq)
        |SELECT event_id,
        |  round(-asin(2.0 * (x*z - w*y)) * 5.729577951308232e1, 6) + 0.0e0 AS pitch,
        |  round(atan2(2.0 * (w*x + y*z), w*w - x*x - y*y + z*z)
        |    * 5.729577951308232e1, 6) + 0.0e0 AS roll,
        |  round(atan2(2.0 * (w*z + x*y), w*w + x*x - y*y - z*z)
        |    * 5.729577951308232e1, 6) + 0.0e0 AS yaw
        |FROM r""".stripMargin,

    // W3 mirror: dedup exact (user, t) duplicates (mode 'all') → presence
    // RLE over the per-user event clock → duration gate > 0.6 s →
    // keep marker rows inside surviving segments. The snap step is the
    // identity here (marker timestamps are a subset of the clock).
    "w3_remove_brief" ->
      """WITH m0 AS (SELECT user_id, event_id, epoch(ts) AS t FROM events
        |  WHERE value > 20),
        |d AS (SELECT user_id, event_id, t FROM (
        |  SELECT *, count(*) OVER (PARTITION BY user_id, t) AS c FROM m0)
        |  WHERE c = 1),
        |c0 AS (SELECT user_id, epoch(ts) AS ct FROM events),
        |mk AS (SELECT c0.user_id, c0.ct,
        |    CASE WHEN p.t IS NOT NULL THEN 1 ELSE 0 END AS onf
        |  FROM c0 LEFT JOIN (SELECT DISTINCT user_id, t FROM d) p
        |    ON c0.user_id = p.user_id AND c0.ct = p.t),
        |e AS (SELECT *, CASE WHEN onf <> coalesce(lag(onf) OVER
        |    (PARTITION BY user_id ORDER BY ct), 0) THEN 1 ELSE 0 END AS edge
        |  FROM mk),
        |r AS (SELECT *, sum(edge) OVER (PARTITION BY user_id ORDER BY ct
        |    ROWS UNBOUNDED PRECEDING) AS run FROM e),
        |seg AS (SELECT user_id, min(ct) AS onset, max(ct) AS offset
        |  FROM r WHERE onf = 1 GROUP BY user_id, run
        |  HAVING max(ct) - min(ct) > 0.6)
        |SELECT d.user_id, d.event_id, d.t
        |FROM d JOIN seg ON d.user_id = seg.user_id
        |  AND d.t >= seg.onset AND d.t <= seg.offset""".stripMargin,

    // W5 analytic oracle: the planted eyelid pattern repeats every 33
    // frames with one blink at positions 10-19, so the FSM's output is
    // known in closed form: onset at rn ≡ 10 (mod 33), offset 9 frames
    // later, 10 frames labeled; a blink is emitted iff the series extends
    // ≥ 12 frames past onset (the FSM's opening-exit horizon on this
    // pattern — verified against the scalar FSM at both sf0.001/sf0.01).
    "w5_blink_segments" ->
      """WITH s AS (SELECT user_id, epoch(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch(ts))
        |      AS rn
        |  FROM events),
        |mx AS (SELECT user_id, max(rn) AS mr FROM s GROUP BY user_id),
        |o AS (SELECT user_id, rn, t AS onset FROM s WHERE rn % 33 = 10)
        |SELECT o.user_id, o.onset, f.t AS offset,
        |  f.t - o.onset AS duration, CAST(10 AS BIGINT) AS n_frames
        |FROM o
        |JOIN s f ON f.user_id = o.user_id AND f.rn = o.rn + 9
        |JOIN mx ON mx.user_id = o.user_id AND mx.mr >= o.rn + 12""".stripMargin,

    // A6 analytic oracle: the planted mixture separates by ~10 ≫ 2.5σ of
    // either mode, so the 2-means cut always lands between the modes and
    // the surviving rows are exactly the 1-in-10 high-mode rows.
    "a6_bimodality" ->
      """SELECT event_id, value / 1.0e3 + 1.0e1 AS sz FROM events
        |WHERE event_id % 10 = 0""".stripMargin,

    // Multimodal stub-decode oracle: the 16-bin byte histogram normalizes
    // to 1 and round(hist[3]·n) recovers the exact byte count of bytes
    // ≡ 3 (mod 16) — ASCII corpus, so ascii() = byte value.
    "multimodal_features" ->
      """WITH d AS (SELECT doc_id AS media_id, text,
        |    octet_length(text::BLOB) AS n FROM documents)
        |SELECT media_id, CAST(16 AS INT) AS dim,
        |  CASE WHEN n > 0 THEN 1.0e0 ELSE 0.0e0 END AS feat_sum,
        |  len(list_filter(range(1, n + 1),
        |    i -> (ascii(substr(text, i, 1)) % 16) = 3)) AS bin3_count
        |FROM d""".stripMargin,

    "w6_saccade_segments" ->
      """WITH s AS (SELECT user_id, epoch(ts) AS t, value FROM events),
        |d AS (SELECT *,
        |    lag(t) OVER w AS tp, lead(t) OVER w AS tn,
        |    lag(value) OVER w AS vp, lead(value) OVER w AS vn
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |v AS (SELECT user_id, t, CASE
        |    WHEN tp IS NULL AND tn IS NULL THEN NULL
        |    WHEN tp IS NULL THEN (vn - value) / (tn - t)
        |    WHEN tn IS NULL THEN (value - vp) / (t - tp)
        |    ELSE (vn - vp) / (tn - tp) END AS vel FROM d),
        |o AS (SELECT user_id, t,
        |    CASE WHEN abs(vel) > 5.0e-4 THEN 1 ELSE 0 END AS onf FROM v),
        |e AS (SELECT *, CASE WHEN onf <> coalesce(lag(onf) OVER
        |    (PARTITION BY user_id ORDER BY t), 0) THEN 1 ELSE 0 END AS edge
        |  FROM o),
        |r AS (SELECT *, sum(edge) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS run FROM e)
        |SELECT user_id, min(t) AS onset, max(t) AS offset,
        |  max(t) - min(t) AS duration, count(*) AS n_rows
        |FROM r WHERE onf = 1 GROUP BY user_id, run
        |HAVING count(*) >= 2""".stripMargin,

    "w7_resample" ->
      """WITH s AS (SELECT user_id, epoch(ts) AS t, value FROM events),
        |b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM s GROUP BY user_id),
        |g AS (SELECT user_id, t0 + 3600.0 * unnest(range(0,
        |    CAST(floor((t1 - t0) / 3600.0) AS BIGINT) + 1)) AS gt FROM b),
        |p AS (SELECT g.user_id, g.gt, s.t AS tp, s.value AS vp
        |  FROM g ASOF JOIN s ON g.user_id = s.user_id AND g.gt >= s.t),
        |n AS (SELECT g.user_id, g.gt, s.t AS tn, s.value AS vn
        |  FROM g ASOF JOIN s ON g.user_id = s.user_id AND g.gt <= s.t)
        |SELECT p.user_id, p.gt AS t,
        |  CASE WHEN n.tn = p.tp THEN p.vp
        |    ELSE p.vp + (n.vn - p.vp) * ((p.gt - p.tp) / (n.tn - p.tp)) END AS value
        |FROM p JOIN n ON p.user_id = n.user_id AND p.gt = n.gt""".stripMargin,

    "p7_small_filter" ->
      """WITH s AS (SELECT event_id, value/100.0 AS sx,
        |    (value + user_id)/110.0 AS sy FROM events),
        |m AS (SELECT event_id, (sx + sy)/2.0 AS marker_size,
        |    sx/sy AS marker_aspect FROM s),
        |g AS (SELECT median(marker_size)
        |    - sqrt(avg(marker_size*marker_size)
        |           - avg(marker_size)*avg(marker_size)) * 1.0 AS fl FROM m)
        |SELECT event_id, marker_size, marker_aspect
        |FROM m CROSS JOIN g
        |WHERE marker_size > fl AND marker_aspect < 1.2""".stripMargin,

    "j5_snap_ts" ->
      """WITH c AS (SELECT epoch(ts) AS ct FROM events),
        |m AS (SELECT event_id, epoch(ts) +
        |    CASE WHEN event_id % 3 = 0 THEN 4e-9 ELSE 0.0e0 END AS t
        |  FROM events),
        |j AS (SELECT m.event_id, m.t,
        |    min(CASE WHEN abs(c.ct - m.t) < 1e-8 THEN c.ct END) AS snap
        |  FROM m LEFT JOIN c ON abs(c.ct - m.t) < 1e-8
        |  GROUP BY m.event_id, m.t)
        |SELECT event_id, coalesce(snap, t) AS ts FROM j""".stripMargin,

    "j6_searchsorted" ->
      """WITH c AS (SELECT user_id, epoch(ts) AS ct FROM events),
        |q AS (SELECT event_id, user_id, epoch(ts) AS t FROM events
        |  WHERE event_type = 'click')
        |SELECT q.event_id,
        |  (SELECT count(*) FROM c
        |   WHERE c.user_id = q.user_id AND c.ct < q.t) AS frame_index
        |FROM q""".stripMargin,

    "j4_cluster_rep" ->
      """WITH s AS (SELECT event_id, value,
        |    user_id::VARCHAR || '|' ||
        |      CAST(floor(epoch(ts)/3600) AS BIGINT)::VARCHAR AS cl
        |  FROM events),
        |d AS (SELECT *, round(abs(value - median(value) OVER (PARTITION BY cl))
        |    / 1, 6) AS dist FROM s)
        |SELECT cl, event_id, value FROM d
        |QUALIFY row_number() OVER (PARTITION BY cl ORDER BY dist, event_id) = 1""".stripMargin,

    "a3_cluster_gate" ->
      """WITH s AS (SELECT event_id, epoch(ts) AS t,
        |    (user_id % 50)::INT AS cluster_id FROM events),
        |g AS (SELECT cluster_id, max(t) - min(t) AS dur, count(*) AS n
        |  FROM s WHERE cluster_id <> -1 GROUP BY cluster_id),
        |k AS (SELECT cluster_id FROM g
        |  WHERE dur > 3600.0 AND dur < 3.0e7 AND n >= 50),
        |c AS (SELECT count(*) AS nc FROM k)
        |SELECT event_id, cluster_id
        |FROM s JOIN k USING (cluster_id) CROSS JOIN c WHERE nc >= 3""".stripMargin,

    "m4_poly_apply" ->
      """WITH s AS (SELECT event_id, value/200.0 AS x,
        |  (user_id % 20)/20.0 AS y FROM events)
        |SELECT event_id,
        |  x*0.9 + y*0.1 + x*x*0.05 + y*y*-0.02 + x*y*0.03
        |    + x*x*y*y*0.01 + 1.0*0.02 AS gaze_x,
        |  x*-0.1 + y*1.1 + x*x*0.02 + y*y*0.06 + x*y*-0.04
        |    + x*x*y*y*0.02 + 1.0*-0.01 AS gaze_y
        |FROM s""".stripMargin,

    "m8_tps_apply" -> tpsSql,

    "s3_scan_prune" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45""".stripMargin,

    "p1_normalize" ->
      """SELECT event_id, value*20/2048.0 AS norm_x,
        |  1.0 - value*20/1536.0 AS norm_y FROM events""".stripMargin,

    "p2_conf_filter" ->
      """SELECT event_id, user_id, value FROM events WHERE value >= 75.0""",

    "p6_zscore_filter" ->
      """WITH s AS (
        |  SELECT event_id, event_type, value,
        |    avg(value) OVER (PARTITION BY event_type) AS mu,
        |    stddev_samp(value) OVER (PARTITION BY event_type) AS sd
        |  FROM events)
        |SELECT event_id, event_type FROM s
        |WHERE sd IS NULL OR abs(value - mu) <= 2.0 * sd""".stripMargin,

    "p9_unit_convert" ->
      """SELECT event_id, round(value * 2.23694, 6) AS mph FROM events""",

    "p10_median_detrend" ->
      """SELECT event_id, round(value - median(value) OVER (
        |  PARTITION BY user_id ORDER BY epoch(ts), event_id
        |  ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING), 6) + 0.0e0 AS detrended
        |FROM events""".stripMargin,

    "j1_asof_window_agg" ->
      """SELECT l.event_id, l.user_id, count(*) AS n_right,
        |  round(avg(r.value), 6) AS avg_value,
        |  round(median(r.value), 6) AS med_value
        |FROM (SELECT event_id, user_id, epoch(ts) AS t FROM events
        |      WHERE event_type = 'click') l
        |JOIN (SELECT user_id, epoch(ts) AS t, value FROM events
        |      WHERE event_type = 'purchase') r ON l.user_id = r.user_id
        |WHERE abs(r.t - l.t) <= 600.0
        |GROUP BY l.event_id, l.user_id""".stripMargin,

    "j2_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, epoch(ts) AS t FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT event_id AS match_id, user_id, epoch(ts) AS rt
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT l.event_id, r.match_id, abs(r.rt - l.t) AS dt, r.rt
        |      FROM l JOIN r ON l.user_id = r.user_id
        |      QUALIFY row_number() OVER (PARTITION BY l.event_id
        |        ORDER BY abs(r.rt - l.t), r.rt) = 1)
        |SELECT event_id, match_id, round(dt, 6) AS dt FROM j
        |WHERE dt <= 300.0""".stripMargin,

    // money sum in DECIMAL (order-independent, exact — see Queries.joinAgg):
    // double summation drifts past the cent-rounding grain at 100× scale
    "join_agg_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice::DECIMAL(14,2) *
        |    (1::DECIMAL(4,2) - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "a1_dedup_ts" ->
      """SELECT event_id FROM (
        |  SELECT event_id, count(*) OVER (
        |    PARTITION BY user_id, CAST(floor(epoch(ts)/60) AS BIGINT)) AS c
        |  FROM events) WHERE c = 1""".stripMargin,

    "a2_cluster_stats" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value,
        |  round(median(value), 6) AS med_value,
        |  round(max(value) - min(value), 6) AS ptp_value,
        |  round(stddev_samp(value), 6) AS sd_value
        |FROM events GROUP BY event_type""".stripMargin,

    "a4_hist2d" ->
      """SELECT CAST(floor(value/10) AS BIGINT) AS bx,
        |  CAST(floor(user_id/5) AS BIGINT) AS by, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "a8_sliding_rate" ->
      """SELECT event_id, count(*) OVER (
        |  PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 300000000 PRECEDING AND 300000000 FOLLOWING) AS rate
        |FROM events""".stripMargin,

    "w1_rle_segments" ->
      """WITH s AS (SELECT user_id, epoch(ts) AS t,
        |    CASE WHEN value > 80 THEN 1 ELSE 0 END AS onf FROM events),
        |e AS (SELECT *, CASE WHEN onf <> coalesce(lag(onf) OVER
        |    (PARTITION BY user_id ORDER BY t), 0) THEN 1 ELSE 0 END AS edge
        |  FROM s),
        |r AS (SELECT *, sum(edge) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS run FROM e)
        |SELECT user_id, round(min(t), 6) AS onset, round(max(t), 6) AS offset,
        |  round(max(t) - min(t), 6) AS duration, count(*) AS n_rows
        |FROM r WHERE onf = 1 GROUP BY user_id, run""".stripMargin,

    "w2_sessionize" ->
      """WITH s AS (SELECT user_id, epoch(ts) AS t, value FROM events),
        |d AS (SELECT *, CASE WHEN t - lag(t) OVER
        |    (PARTITION BY user_id ORDER BY t) > 900.0 THEN 1 ELSE 0 END AS brk
        |  FROM s),
        |r AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM d)
        |SELECT user_id, session_id, count(*) AS n,
        |  round(max(t) - min(t), 6) AS duration,
        |  round(avg(value), 6) AS avg_value
        |FROM r GROUP BY user_id, session_id""".stripMargin,

    "w4_gradient" ->
      """WITH s AS (SELECT event_id, user_id, epoch(ts) AS t, value FROM events),
        |d AS (SELECT *,
        |    lag(t) OVER w AS tp, lead(t) OVER w AS tn,
        |    lag(value) OVER w AS vp, lead(value) OVER w AS vn
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t))
        |SELECT event_id, round(CASE
        |    WHEN tp IS NULL AND tn IS NULL THEN NULL
        |    WHEN tp IS NULL THEN (vn - value) / (tn - t)
        |    WHEN tn IS NULL THEN (value - vp) / (t - tp)
        |    ELSE (vn - vp) / (tn - tp) END * 1e6, 6) + 0.0e0 AS velocity_u
        |FROM d""".stripMargin,

    "o2_union_stats" ->
      """WITH u AS (
        |  SELECT user_id, value FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, value FROM events WHERE event_type = 'error')
        |SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM u GROUP BY user_id""".stripMargin,

    "o5_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events""",

    "m2_linreg" ->
      """WITH s AS (SELECT event_type, epoch(ts) - 1704067200.0 AS x, value AS y
        |  FROM events)
        |SELECT event_type,
        |  round(regr_slope(y, x) * 1e9, 4) + 0.0e0 AS slope_n,
        |  round(regr_intercept(y, x), 6) + 0.0e0 AS intercept
        |FROM s GROUP BY event_type""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // bpe_tokens: the BPE-ish pattern, shared verbatim with
    // TextOps.BpeTokenRe (leading apostrophe doubled for SQL)
    "text_stats" -> {
      val re = graft.operators.TextOps.BpeTokenRe.replace("'", "''")
      s"""WITH s AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks
         |  FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  len(regexp_extract_all(text, '$re'))::BIGINT AS bpe_tokens,
         |  round(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
         |    / len(toks), 6) AS avg_token_len,
         |  round(CAST(len(list_filter(toks, x -> x IN
         |    ('the','a','of','and','to','in'))) AS DOUBLE) / len(toks), 6)
         |    AS stopword_ratio
         |FROM s""".stripMargin
    },

    // CV kernel oracles: replay the planted-marker inclusion rule over the
    // same integer pixel grid the fixture rasterized, then apply the
    // IDENTICAL moment / eigen / radial arithmetic the Scala kernel runs.
    // Every sum is over integer coordinates (exact in doubles), every
    // double expression mirrors the kernel's expression tree, so the
    // decode→detect pipeline is hash-checked end-to-end.
    "cv_pupil" ->
      """WITH pp AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    24 + CAST(doc_id AS BIGINT) % 13 AS ecx,
        |    24 + (CAST(doc_id AS BIGINT) * 3) % 13 AS ecy,
        |    8 + CAST(doc_id AS BIGINT) % 5 AS a,
        |    4 + CAST(doc_id AS BIGINT) % 3 AS b
        |  FROM documents),
        |g AS (SELECT media_id, gx.x AS x, gy.y AS y
        |  FROM pp, range(0, 64) gx(x), range(0, 64) gy(y)
        |  WHERE (CAST(gx.x - ecx AS DOUBLE) / a) * (CAST(gx.x - ecx AS DOUBLE) / a)
        |      + (CAST(gy.y - ecy AS DOUBLE) / b) * (CAST(gy.y - ecy AS DOUBLE) / b)
        |      <= 1.0),
        |m AS (SELECT media_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM g GROUP BY media_id),
        |c AS (SELECT media_id, n, sxx, syy, sxy,
        |    CAST(sx AS DOUBLE) / n AS cx, CAST(sy AS DOUBLE) / n AS cy FROM m),
        |v AS (SELECT media_id, n, cx, cy,
        |    CAST(sxx AS DOUBLE) / n - cx * cx AS mxx,
        |    CAST(syy AS DOUBLE) / n - cy * cy AS myy,
        |    CAST(sxy AS DOUBLE) / n - cx * cy AS mxy FROM c),
        |e AS (SELECT media_id, n, cx, cy, mxx, myy, mxy,
        |    sqrt(greatest((mxx + myy) * (mxx + myy) / 4.0
        |      - (mxx * myy - mxy * mxy), 0.0)) AS disc FROM v),
        |ax AS (SELECT media_id, n, cx, cy, mxx, myy, mxy,
        |    4.0 * sqrt(greatest((mxx + myy) / 2.0 + disc, 0.0)) AS major,
        |    4.0 * sqrt(greatest((mxx + myy) / 2.0 - disc, 0.0)) AS minor
        |  FROM e)
        |SELECT media_id, n AS n_dark,
        |  round(cx, 6) + 0.0e0 AS center_x,
        |  round(cy, 6) + 0.0e0 AS center_y,
        |  round(major, 6) + 0.0e0 AS axis_major,
        |  round(minor, 6) + 0.0e0 AS axis_minor,
        |  round(0.5 * atan2(2.0 * mxy, mxx - myy) * 180.0 / pi(), 6) + 0.0e0
        |    AS angle_deg,
        |  round(major, 6) + 0.0e0 AS diameter,
        |  round(least(CAST(n AS DOUBLE)
        |    / (pi() * (major / 2.0) * (minor / 2.0)), 1.0), 6) + 0.0e0
        |    AS confidence
        |FROM ax""".stripMargin,

    // Corners of a full-frame 7×4-cell board are closed-form (i·s, j·s):
    // the transition detector recovers them exactly from decoded pixels.
    // r5: boards carry light margins (mx, my per side); interior corners
    // sit at (mx + i·s, my + j·s), normalized by the full frame dims
    "cv_checkerboard" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    6 + 2 * (CAST(doc_id AS BIGINT) % 3) AS s,
        |    (CAST(doc_id AS BIGINT) * 3) % 7 AS mx,
        |    (CAST(doc_id AS BIGINT) * 5) % 5 AS my FROM documents)
        |SELECT media_id,
        |  CAST(mx + ri.i * s AS DOUBLE) AS corner_x,
        |  CAST(my + rj.j * s AS DOUBLE) AS corner_y,
        |  round(CAST(mx + ri.i * s AS DOUBLE) / (7 * s + 2 * mx), 6) + 0.0e0
        |    AS norm_x,
        |  round(CAST(my + rj.j * s AS DOUBLE) / (4 * s + 2 * my), 6) + 0.0e0
        |    AS norm_y
        |FROM p, range(1, 7) ri(i), range(1, 4) rj(j)""".stripMargin,

    // Ring-pixel replay: the same integer d² inclusion rule the fixture
    // rasterized; centroid sums are exact, size = sqrt(max d²), ring
    // count = runs over distinct floor(radius). Both contrast arms land
    // on the same dark set, so the oracle has no parity branch.
    "cv_circles" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    30 + CAST(doc_id AS BIGINT) % 5 AS ccx,
        |    30 + (CAST(doc_id AS BIGINT) * 7) % 5 AS ccy,
        |    2 + CAST(doc_id AS BIGINT) % 2 AS nr,
        |    CAST(doc_id AS BIGINT) % 3 AS rb FROM documents),
        |rings AS (SELECT media_id, 6 * t.k + rb AS r
        |  FROM p, range(1, 4) t(k) WHERE t.k <= nr),
        |px AS (SELECT p.media_id, gx.x AS x, gy.y AS y,
        |    (gx.x - ccx) * (gx.x - ccx) + (gy.y - ccy) * (gy.y - ccy) AS d2
        |  FROM p, range(0, 64) gx(x), range(0, 64) gy(y)),
        |dark AS (SELECT px.media_id, px.x, px.y, px.d2
        |  FROM px JOIN rings rg ON rg.media_id = px.media_id
        |    AND (rg.r - 1) * (rg.r - 1) <= px.d2
        |    AND px.d2 <= (rg.r + 1) * (rg.r + 1)),
        |m AS (SELECT media_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    max(d2) AS maxd2 FROM dark GROUP BY media_id),
        |fl AS (SELECT DISTINCT media_id,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS f FROM dark),
        |fr AS (SELECT media_id, f,
        |    lag(f) OVER (PARTITION BY media_id ORDER BY f) AS pf FROM fl),
        |nrg AS (SELECT media_id, CAST(count(*) FILTER (WHERE pf IS NULL
        |    OR f - pf > 1) AS INT) AS n_rings FROM fr GROUP BY media_id)
        |SELECT m.media_id, m.media_id % 2 = 1 AS inverted, m.n AS n_dark,
        |  round(CAST(m.sx AS DOUBLE) / m.n, 6) + 0.0e0 AS loc_x,
        |  round(CAST(m.sy AS DOUBLE) / m.n, 6) + 0.0e0 AS loc_y,
        |  round(CAST(m.sx AS DOUBLE) / m.n / 64, 6) + 0.0e0 AS norm_x,
        |  round(CAST(m.sy AS DOUBLE) / m.n / 64, 6) + 0.0e0 AS norm_y,
        |  round(sqrt(CAST(m.maxd2 AS DOUBLE)), 6) + 0.0e0 AS size,
        |  nrg.n_rings
        |FROM m JOIN nrg ON nrg.media_id = m.media_id""".stripMargin,

    // Multi-marker replay: per planted marker, the same ring-inclusion
    // rule and radial statistics as cv_circles; the frame-local marker
    // index is a window over marker position.
    "cv_multi_markers" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    1 + CAST(doc_id AS BIGINT) % 2 AS nm,
        |    CAST(doc_id AS BIGINT) AS id FROM documents),
        |mk AS (SELECT media_id, t.m AS m,
        |    CASE WHEN t.m = 0 THEN 16 + id % 3 ELSE 44 + id % 3 END AS ccx,
        |    CASE WHEN t.m = 0 THEN 16 + (id * 5) % 3
        |         ELSE 44 + (id * 7) % 3 END AS ccy,
        |    CASE WHEN t.m = 0 THEN id % 2 ELSE id % 3 END AS tt
        |  FROM p, range(0, 2) t(m) WHERE t.m < nm),
        |rings AS (SELECT media_id, m, ccx, ccy, 5 * rk.k + tt AS r
        |  FROM mk, range(1, 3) rk(k)),
        |px AS (SELECT mk.media_id, mk.m, gx.x AS x, gy.y AS y,
        |    (gx.x - ccx) * (gx.x - ccx) + (gy.y - ccy) * (gy.y - ccy) AS d2
        |  FROM mk, range(0, 64) gx(x), range(0, 64) gy(y)),
        |dark AS (SELECT px.media_id, px.m, px.x, px.y, px.d2
        |  FROM px JOIN rings rg
        |    ON rg.media_id = px.media_id AND rg.m = px.m
        |    AND (rg.r - 1) * (rg.r - 1) <= px.d2
        |    AND px.d2 <= (rg.r + 1) * (rg.r + 1)),
        |agg AS (SELECT media_id, m, count(*) AS n, sum(x) AS sx,
        |    sum(y) AS sy, max(d2) AS maxd2 FROM dark GROUP BY media_id, m),
        |fl AS (SELECT DISTINCT media_id, m,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS f FROM dark),
        |fr AS (SELECT media_id, m, f,
        |    lag(f) OVER (PARTITION BY media_id, m ORDER BY f) AS pf FROM fl),
        |nrg AS (SELECT media_id, m, CAST(count(*) FILTER (WHERE pf IS NULL
        |    OR f - pf > 1) AS INT) AS n_rings FROM fr GROUP BY media_id, m),
        |mstat AS (SELECT a.media_id, a.n,
        |    CAST(a.sx AS DOUBLE) / a.n AS lx,
        |    CAST(a.sy AS DOUBLE) / a.n AS ly,
        |    sqrt(CAST(a.maxd2 AS DOUBLE)) AS sz, g.n_rings
        |  FROM agg a JOIN nrg g ON g.media_id = a.media_id AND g.m = a.m)
        |SELECT media_id,
        |  CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY lx, ly) - 1 AS INT) AS marker_idx,
        |  n AS n_dark,
        |  round(lx, 6) + 0.0e0 AS loc_x,
        |  round(ly, 6) + 0.0e0 AS loc_y,
        |  round(lx / 64, 6) + 0.0e0 AS norm_x,
        |  round(ly / 64, 6) + 0.0e0 AS norm_y,
        |  round(sz, 6) + 0.0e0 AS size, n_rings,
        |  CASE WHEN media_id % 2 = 0 THEN 32.0e0 ELSE 224.0e0 END AS ring_luma,
        |  CASE WHEN media_id % 2 = 0 THEN 224.0e0 ELSE 32.0e0 END AS dot_luma,
        |  CASE WHEN media_id % 2 = 0 THEN 'Ref' ELSE 'Stop' END AS marker_type
        |FROM mstat""".stripMargin,

    // Per-frame replay of the drifting-pupil video: same grid, same
    // per-frame ellipse rule, same moment arithmetic as cv_pupil. Shared
    // verbatim by the raw-gray (GRVD) and PNG-framed (GPNV) container
    // queries — PNG is lossless, so the decoded planes are identical.
    "cv_video_pupils" -> videoPupilsSql,

    // A9: per-frame mean gray from the exact dark-pixel count of the
    // planted drifting ellipse (Dark=32, Light=224 over a 48×48 plane)
    "a9_frame_luminance" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    2 + CAST(doc_id AS BIGINT) % 3 AS nf,
        |    16 + CAST(doc_id AS BIGINT) % 9 AS cx0,
        |    16 + (CAST(doc_id AS BIGINT) * 3) % 9 AS cy0,
        |    6 + CAST(doc_id AS BIGINT) % 3 AS a,
        |    3 + CAST(doc_id AS BIGINT) % 2 AS b FROM documents),
        |fr AS (SELECT media_id, CAST(t.f AS INT) AS frame_index,
        |    cx0 + t.f AS ecx, cy0 + t.f AS ecy, a, b
        |  FROM p, range(0, 5) t(f) WHERE t.f < nf),
        |m AS (SELECT media_id, frame_index, count(*) AS n
        |  FROM fr, range(0, 48) gx(x), range(0, 48) gy(y)
        |  WHERE (CAST(gx.x - ecx AS DOUBLE) / a) * (CAST(gx.x - ecx AS DOUBLE) / a)
        |      + (CAST(gy.y - ecy AS DOUBLE) / b) * (CAST(gy.y - ecy AS DOUBLE) / b)
        |      <= 1.0
        |  GROUP BY media_id, frame_index)
        |SELECT media_id, frame_index,
        |  round((n * 32 + (2304 - n) * 224) / 2304.0, 6) + 0.0e0 AS luminance
        |FROM m""".stripMargin,

    // World-camera video: the multi-marker ring replay with the per-frame
    // drift (+f on both centers); all frames dark-on-light → 'Ref'.
    "cv_video_markers" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    1 + CAST(doc_id AS BIGINT) % 2 AS nm,
        |    2 + CAST(doc_id AS BIGINT) % 3 AS nf,
        |    CAST(doc_id AS BIGINT) AS id FROM documents),
        |vfr AS (SELECT media_id, nm, id, CAST(t.f AS INT) AS frame_index,
        |    t.f AS fo FROM p, range(0, 5) t(f) WHERE t.f < nf),
        |mk AS (SELECT media_id, frame_index, t.m AS m,
        |    (CASE WHEN t.m = 0 THEN 16 + id % 3 ELSE 44 + id % 3 END) + fo AS ccx,
        |    (CASE WHEN t.m = 0 THEN 16 + (id * 5) % 3
        |          ELSE 44 + (id * 7) % 3 END) + fo AS ccy,
        |    CASE WHEN t.m = 0 THEN id % 2 ELSE id % 3 END AS tt
        |  FROM vfr, range(0, 2) t(m) WHERE t.m < nm),
        |rings AS (SELECT media_id, frame_index, m, ccx, ccy, 5 * rk.k + tt AS r
        |  FROM mk, range(1, 3) rk(k)),
        |px AS (SELECT mk.media_id, mk.frame_index, mk.m, gx.x AS x, gy.y AS y,
        |    (gx.x - ccx) * (gx.x - ccx) + (gy.y - ccy) * (gy.y - ccy) AS d2
        |  FROM mk, range(0, 64) gx(x), range(0, 64) gy(y)),
        |dark AS (SELECT px.media_id, px.frame_index, px.m, px.x, px.y, px.d2
        |  FROM px JOIN rings rg ON rg.media_id = px.media_id
        |    AND rg.frame_index = px.frame_index AND rg.m = px.m
        |    AND (rg.r - 1) * (rg.r - 1) <= px.d2
        |    AND px.d2 <= (rg.r + 1) * (rg.r + 1)),
        |agg AS (SELECT media_id, frame_index, m, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, max(d2) AS maxd2
        |  FROM dark GROUP BY media_id, frame_index, m),
        |fl AS (SELECT DISTINCT media_id, frame_index, m,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS fv FROM dark),
        |fr2 AS (SELECT media_id, frame_index, m, fv,
        |    lag(fv) OVER (PARTITION BY media_id, frame_index, m
        |      ORDER BY fv) AS pf FROM fl),
        |nrg AS (SELECT media_id, frame_index, m,
        |    CAST(count(*) FILTER (WHERE pf IS NULL OR fv - pf > 1) AS INT)
        |      AS n_rings FROM fr2 GROUP BY media_id, frame_index, m),
        |mstat AS (SELECT a.media_id, a.frame_index, a.n,
        |    CAST(a.sx AS DOUBLE) / a.n AS lx,
        |    CAST(a.sy AS DOUBLE) / a.n AS ly,
        |    sqrt(CAST(a.maxd2 AS DOUBLE)) AS sz, g.n_rings
        |  FROM agg a JOIN nrg g ON g.media_id = a.media_id
        |    AND g.frame_index = a.frame_index AND g.m = a.m)
        |SELECT media_id, frame_index,
        |  CAST(row_number() OVER (PARTITION BY media_id, frame_index
        |    ORDER BY lx, ly) - 1 AS INT) AS marker_idx,
        |  n AS n_dark,
        |  round(lx, 6) + 0.0e0 AS loc_x,
        |  round(ly, 6) + 0.0e0 AS loc_y,
        |  round(sz, 6) + 0.0e0 AS size, n_rings, 'Ref' AS marker_type
        |FROM mstat""".stripMargin,

    "cv_video_png" -> videoPupilsSql,
    // MJPEG-in-AVI: REAL lossy codec, same closed-form raster truth —
    // the 32/224-vs-128 binarization margin dominates max-quality JPEG
    // error, so the dark mask is bit-identical (AviCodecSpec pins it)
    "cv_video_avi" -> videoPupilsSql,
    // JPEG-in-MP4: same real JDK JPEG codec behind the ISO-BMFF sample-
    // table walk — identical margin argument (Mp4CodecSpec pins it)
    "cv_video_mp4" -> videoPupilsSql,
    // fragmented (moof/trun) layout of the same samples: demux-invisible
    "cv_video_mp4_frag" -> videoPupilsSql,

    // H.264-shaped mp4 structural tier: track metadata replayed from
    // the fixture's deterministic parameters (avc1, 48×48, nf samples
    // at timescale 600 / 20 ticks per frame) — no sample body read
    "mm_mp4_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  'avc1' AS codec,
        |  CAST(48 AS INT) AS width, CAST(48 AS INT) AS height,
        |  CAST(2 + CAST(doc_id AS BIGINT) % 3 AS BIGINT) AS n_samples,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((2 + CAST(doc_id AS BIGINT) % 3) * 20 AS BIGINT) AS duration
        |FROM documents""".stripMargin,

    // unified mixed-corpus listing: container schedule is doc_id % 4,
    // dims/frame counts replay from the shared drifting-pupil fixture
    "mm_video_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE CAST(doc_id AS BIGINT) % 4 WHEN 0 THEN 'grvd'
        |    WHEN 1 THEN 'gpnv' WHEN 2 THEN 'avi' ELSE 'mp4' END
        |    AS container,
        |  CASE CAST(doc_id AS BIGINT) % 4 WHEN 0 THEN 'raw'
        |    WHEN 1 THEN 'png' WHEN 2 THEN 'MJPG' ELSE 'jpeg' END
        |    AS codec,
        |  CAST(48 AS INT) AS width, CAST(48 AS INT) AS height,
        |  CAST(2 + CAST(doc_id AS BIGINT) % 3 AS INT) AS n_frames
        |FROM documents""".stripMargin,

    // fragmented avc1: the listing counts trun-table samples (the moov
    // tables are empty in fMP4) — same replay, different demux tier
    "mm_mp4_frag_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  'avc1' AS codec,
        |  CAST(48 AS INT) AS width, CAST(48 AS INT) AS height,
        |  CAST(2 + CAST(doc_id AS BIGINT) % 3 AS BIGINT) AS n_samples,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((2 + CAST(doc_id AS BIGINT) % 3) * 20 AS BIGINT) AS duration
        |FROM documents""".stripMargin,

    // gradient-CoM replay: weights are the integer gray-level differences
    // across the anti-aliased boundary column, den = (m−32)+(224−m) = 192
    "cv_subpixel_edge" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    10 + CAST(doc_id AS BIGINT) % 20 AS xb,
        |    64 + 32 * (CAST(doc_id AS BIGINT) % 4) AS m FROM documents)
        |SELECT media_id,
        |  round(((m - 32) * (xb - 1 + 0.5e0) + (224 - m) * (xb + 0.5e0))
        |    / ((m - 32) + (224 - m)), 6) + 0.0e0 AS edge_x
        |FROM p""".stripMargin,
  )

  private def videoPupilsSql: String =
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    2 + CAST(doc_id AS BIGINT) % 3 AS nf,
        |    16 + CAST(doc_id AS BIGINT) % 9 AS cx0,
        |    16 + (CAST(doc_id AS BIGINT) * 3) % 9 AS cy0,
        |    6 + CAST(doc_id AS BIGINT) % 3 AS a,
        |    3 + CAST(doc_id AS BIGINT) % 2 AS b FROM documents),
        |fr AS (SELECT media_id, CAST(t.f AS INT) AS frame_index,
        |    cx0 + t.f AS ecx, cy0 + t.f AS ecy, a, b
        |  FROM p, range(0, 5) t(f) WHERE t.f < nf),
        |g AS (SELECT media_id, frame_index, gx.x AS x, gy.y AS y
        |  FROM fr, range(0, 48) gx(x), range(0, 48) gy(y)
        |  WHERE (CAST(gx.x - ecx AS DOUBLE) / a) * (CAST(gx.x - ecx AS DOUBLE) / a)
        |      + (CAST(gy.y - ecy AS DOUBLE) / b) * (CAST(gy.y - ecy AS DOUBLE) / b)
        |      <= 1.0),
        |m AS (SELECT media_id, frame_index, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM g GROUP BY media_id, frame_index),
        |c AS (SELECT media_id, frame_index, n, sxx, syy,
        |    CAST(sx AS DOUBLE) / n AS cx, CAST(sy AS DOUBLE) / n AS cy FROM m),
        |v AS (SELECT media_id, frame_index, n, cx, cy,
        |    CAST(sxx AS DOUBLE) / n - cx * cx AS mxx,
        |    CAST(syy AS DOUBLE) / n - cy * cy AS myy FROM c)
        |SELECT media_id, frame_index, n AS n_dark,
        |  round(cx, 6) + 0.0e0 AS center_x,
        |  round(cy, 6) + 0.0e0 AS center_y,
        |  round(4.0 * sqrt(greatest((mxx + myy) / 2.0
        |    + sqrt(greatest((mxx + myy) * (mxx + myy) / 4.0
        |      - (mxx * myy - 0.0 * 0.0), 0.0)), 0.0)), 6) + 0.0e0
        |    AS axis_major,
        |  round(4.0 * sqrt(greatest((mxx + myy) / 2.0
        |    - sqrt(greatest((mxx + myy) * (mxx + myy) / 4.0
        |      - (mxx * myy - 0.0 * 0.0), 0.0)), 0.0)), 6) + 0.0e0
        |    AS axis_minor
        |FROM v""".stripMargin

  private def sqlRest: Map[String, String] = Map(
    // Audio replay: regenerate the planted square wave per sample index
    // with the same integer formula the WAV fixture encoded, then apply
    // the kernel's exact-integer-sum feature arithmetic.
    "audio_features" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    4 + CAST(doc_id AS BIGINT) % 5 AS hp,
        |    8000 + 100 * (CAST(doc_id AS BIGINT) % 7) AS amp,
        |    800 + 16 * (CAST(doc_id AS BIGINT) % 11) AS nn FROM documents),
        |s AS (SELECT media_id, t.i AS i,
        |    CASE WHEN (t.i // hp) % 2 = 0 THEN amp ELSE -amp END AS v
        |  FROM p, range(0, 1000) t(i) WHERE t.i < nn),
        |l AS (SELECT media_id, i, v,
        |    lag(v) OVER (PARTITION BY media_id ORDER BY i) AS pv FROM s),
        |m AS (SELECT media_id, count(*) AS n, sum(v * v) AS ss,
        |    max(abs(v)) AS peak,
        |    count(*) FILTER (WHERE pv IS NOT NULL AND pv * v < 0) AS zc
        |  FROM l GROUP BY media_id)
        |SELECT media_id, CAST(8000 AS INT) AS sample_rate, n AS n_samples,
        |  round(CAST(n AS DOUBLE) / 8000, 6) + 0.0e0 AS duration_sec,
        |  round(sqrt(CAST(ss AS DOUBLE) / n), 6) + 0.0e0 AS rms,
        |  CAST(peak AS INT) AS peak, zc AS zero_crossings
        |FROM m""".stripMargin,

    // strided frame sampling over the long planted PNG videos: the a9
    // drifting-ellipse luminance replay with the Rec.601 per-pixel sum
    // (the videoResizeSql rule), restricted to frame_index % 3 = 0
    "mm_frame_sample" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    8 + CAST(doc_id AS BIGINT) % 5 AS nf,
        |    16 + CAST(doc_id AS BIGINT) % 9 AS cx0,
        |    16 + (CAST(doc_id AS BIGINT) * 3) % 9 AS cy0,
        |    6 + CAST(doc_id AS BIGINT) % 3 AS a,
        |    3 + CAST(doc_id AS BIGINT) % 2 AS b FROM documents),
        |fr AS (SELECT media_id, CAST(t.f AS INT) AS frame_index,
        |    cx0 + t.f AS ecx, cy0 + t.f AS ecy, a, b
        |  FROM p, range(0, 12) t(f) WHERE t.f < nf AND t.f % 3 = 0),
        |px AS (SELECT media_id, frame_index,
        |    CASE WHEN (CAST(gx.x - ecx AS DOUBLE) / a)
        |             * (CAST(gx.x - ecx AS DOUBLE) / a)
        |           + (CAST(gy.y - ecy AS DOUBLE) / b)
        |             * (CAST(gy.y - ecy AS DOUBLE) / b) <= 1.0
        |      THEN 32 ELSE 224 END AS v
        |  FROM fr, range(0, 48) gx(x), range(0, 48) gy(y))
        |SELECT media_id, frame_index,
        |  round(sum(0.299e0 * v + 0.587e0 * v + 0.114e0 * v) / 2304.0e0, 6)
        |    + 0.0e0 AS luminance
        |FROM px GROUP BY media_id, frame_index""".stripMargin,

    // the same luminance replay through the REAL RIFF/AVI container
    // (DIB payloads are exact integers; the strided movi walk seeks
    // unsampled bodies by chunk length — Queries.mmFrameSampleAvi)
    "mm_frame_sample_avi" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    8 + CAST(doc_id AS BIGINT) % 5 AS nf,
        |    16 + CAST(doc_id AS BIGINT) % 9 AS cx0,
        |    16 + (CAST(doc_id AS BIGINT) * 3) % 9 AS cy0,
        |    6 + CAST(doc_id AS BIGINT) % 3 AS a,
        |    3 + CAST(doc_id AS BIGINT) % 2 AS b FROM documents),
        |fr AS (SELECT media_id, CAST(t.f AS INT) AS frame_index,
        |    cx0 + t.f AS ecx, cy0 + t.f AS ecy, a, b
        |  FROM p, range(0, 12) t(f) WHERE t.f < nf AND t.f % 3 = 0),
        |px AS (SELECT media_id, frame_index,
        |    CASE WHEN (CAST(gx.x - ecx AS DOUBLE) / a)
        |             * (CAST(gx.x - ecx AS DOUBLE) / a)
        |           + (CAST(gy.y - ecy AS DOUBLE) / b)
        |             * (CAST(gy.y - ecy AS DOUBLE) / b) <= 1.0
        |      THEN 32 ELSE 224 END AS v
        |  FROM fr, range(0, 48) gx(x), range(0, 48) gy(y))
        |SELECT media_id, frame_index,
        |  round(sum(0.299e0 * v + 0.587e0 * v + 0.114e0 * v) / 2304.0e0, 6)
        |    + 0.0e0 AS luminance
        |FROM px GROUP BY media_id, frame_index""".stripMargin,

    // VAD segmentation: the gated square wave replayed sample-exact,
    // integer window energies, the same IS-DISTINCT-FROM break rule and
    // cumsum segment ids, active runs renumbered by start window
    "audio_vad" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    4 + CAST(doc_id AS BIGINT) % 5 AS hp,
        |    8000 + 100 * (CAST(doc_id AS BIGINT) % 7) AS amp,
        |    800 + 16 * (CAST(doc_id AS BIGINT) % 11) AS nn FROM documents),
        |s AS (SELECT media_id, t.i AS i,
        |    CASE WHEN (t.i // 200) % 2 = 0 THEN
        |      CASE WHEN (t.i // hp) % 2 = 0 THEN amp ELSE -amp END
        |    ELSE 0 END AS v
        |  FROM p, range(0, 1000) t(i) WHERE t.i < nn),
        |w AS (SELECT media_id, CAST(i // 160 AS INT) AS win_idx,
        |    sum(v * v)::BIGINT AS energy
        |  FROM s GROUP BY 1, 2),
        |a AS (SELECT *, energy >= 5000000000 AS act FROM w),
        |d AS (SELECT *, CASE WHEN lag(act) OVER
        |      (PARTITION BY media_id ORDER BY win_idx)
        |      IS DISTINCT FROM act THEN 1 ELSE 0 END AS brk FROM a),
        |r AS (SELECT *, sum(brk) OVER (PARTITION BY media_id
        |    ORDER BY win_idx ROWS UNBOUNDED PRECEDING) AS sid FROM d),
        |g AS (SELECT media_id, sid, min(win_idx) AS start_win,
        |    max(win_idx) AS end_win, count(*)::BIGINT AS n_win,
        |    sum(energy)::BIGINT AS energy
        |  FROM r WHERE act GROUP BY media_id, sid)
        |SELECT media_id, CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY start_win) AS INT) AS seg_id,
        |  start_win, end_win, n_win, energy
        |FROM g""".stripMargin,

    // image aHash dedup: per-block dark counts from the planted ellipse
    // (content keyed doc_id % 40), block sums in exact integers, the
    // same cross-multiplied mean compare, bits row-major by (by, bx)
    "mm_image_dedup" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CAST(doc_id % 40 AS BIGINT) AS ck FROM documents),
        |e AS (SELECT media_id,
        |    24 + ck % 13 AS ecx, 24 + (ck * 3) % 13 AS ecy,
        |    8 + ck % 5 AS a, 4 + ck % 3 AS b FROM p),
        |g AS (SELECT media_id, gx.x // 8 AS bx, gy.y // 8 AS by,
        |    CASE WHEN (CAST(gx.x - ecx AS DOUBLE) / a)
        |             * (CAST(gx.x - ecx AS DOUBLE) / a)
        |           + (CAST(gy.y - ecy AS DOUBLE) / b)
        |             * (CAST(gy.y - ecy AS DOUBLE) / b) <= 1.0
        |      THEN 32 ELSE 224 END AS v
        |  FROM e, range(0, 64) gx(x), range(0, 64) gy(y)),
        |blk AS (SELECT media_id, bx, by, sum(v)::BIGINT AS s
        |  FROM g GROUP BY 1, 2, 3),
        |tot AS (SELECT media_id, sum(s)::BIGINT AS t FROM blk GROUP BY 1),
        |bits AS (SELECT b.media_id,
        |    string_agg(CASE WHEN b.s * 64 >= t.t THEN '1' ELSE '0' END,
        |      '' ORDER BY b.by, b.bx) AS ahash
        |  FROM blk b JOIN tot t USING (media_id) GROUP BY b.media_id)
        |SELECT ahash, min(media_id) AS keeper_id,
        |  count(*)::BIGINT AS n_copies
        |FROM bits GROUP BY ahash""".stripMargin,

    // image near-dup: the aHash replay with the jittered plant
    // (+dx on the center for doc_id % 5 = 4), banded candidates with the
    // same rank cap, exact Hamming over the bit strings at <= 7
    "mm_image_neardup" -> {
      val cap = graft.Queries.imageNearDupBucketCap
      s"""WITH $imageAHashBandCtes,
        |cap AS (SELECT media_id, ahash, band_id, band_bits FROM (
        |  SELECT *, row_number() OVER (PARTITION BY band_id, band_bits
        |    ORDER BY media_id) AS rn FROM band) WHERE rn <= $cap),
        |pr AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    a.ahash AS ha, b.ahash AS hb
        |  FROM cap a JOIN cap b ON a.band_id = b.band_id
        |    AND a.band_bits = b.band_bits AND a.media_id < b.media_id),
        |h AS (SELECT id_a, id_b, len(list_filter(generate_series(1, 64),
        |    i -> substr(ha, CAST(i AS INT), 1)
        |      <> substr(hb, CAST(i AS INT), 1)))::BIGINT AS hamming
        |  FROM pr)
        |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 7""".stripMargin
    },

    // capped chain under the UNCAPPED pigeonhole-complete band truth
    // (hamming <= 7 < 8 bands) — mirrors imageNearDupRecallAudit
    "mm_image_recall_audit" -> {
      val cap = graft.Queries.imageNearDupBucketCap
      val sampledCtes = imageAHashBandCtes.replace(
        "FROM documents)",
        "FROM documents WHERE doc_id % 25 < 5)")
      require(sampledCtes != imageAHashBandCtes,
        "sample predicate splice missed — imageAHashBandCtes changed shape")
      s"""WITH $sampledCtes,
        |ex AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        |  FROM band a JOIN band b ON a.band_id = b.band_id
        |    AND a.band_bits = b.band_bits AND a.media_id < b.media_id
        |  WHERE len(list_filter(generate_series(1, 64),
        |    i -> substr(a.ahash, CAST(i AS INT), 1)
        |      <> substr(b.ahash, CAST(i AS INT), 1))) <= 7),
        |cp AS (SELECT media_id, ahash, band_id, band_bits FROM (
        |  SELECT *, row_number() OVER (PARTITION BY band_id, band_bits
        |    ORDER BY media_id) AS rn FROM band) WHERE rn <= $cap),
        |fnd AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        |  FROM cp a JOIN cp b ON a.band_id = b.band_id
        |    AND a.band_bits = b.band_bits AND a.media_id < b.media_id
        |  WHERE len(list_filter(generate_series(1, 64),
        |    i -> substr(a.ahash, CAST(i AS INT), 1)
        |      <> substr(b.ahash, CAST(i AS INT), 1))) <= 7)
        |SELECT count(*)::BIGINT AS n_true,
        |  sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_found,
        |  round(sum(CASE WHEN fnd.id_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / nullif(count(*), 0), 6) + 0.0e0 AS recall
        |FROM ex LEFT JOIN fnd ON ex.id_a = fnd.id_a
        |  AND ex.id_b = fnd.id_b""".stripMargin
    },

    "emb_semdedup" -> semDedupSql,
    // cluster-balanced mixture: the attested 256-cell Lloyd chain
    // composed with sample_mixture's sqrt-rate + salted-hash threshold
    // (Queries.embClusterMixture, salt cm42)
    "emb_cluster_mixture" ->
      s"""WITH ${ivfCellCtes(graft.Queries.semDedupCells)},
         |cnt AS (SELECT cid, count(*)::BIGINT AS cnt FROM cells GROUP BY cid),
         |mm AS (SELECT cid, cnt, min(cnt) OVER () AS cmin FROM cnt),
         |rr AS (SELECT cid,
         |  sqrt(cmin::DOUBLE / cnt::DOUBLE) AS rate FROM mm)
         |SELECT cells.v_id, cells.cid, rr.rate
         |FROM cells JOIN rr USING (cid)
         |WHERE ('0x' || substr(md5('cm42' || cells.v_id), 1, 15))::BIGINT <
         |  CAST(floor(rr.rate * 1.152921504606846976e18) AS BIGINT)""".stripMargin,
    "emb_semdedup_hier" -> semDedupHierSql,
    "ann_ivf_pq_hier_topk" -> ivfPqHierSql,
    "mm_resize_luminance" -> resizeLuminanceSql,
    "mm_video_resize" -> videoResizeSql,
    "cv_keypoints_pipeline" -> keypointsPipelineSql,
    "m11_error_grid" -> m11GridSql,
    "a5_weighted_error" -> a5SummarySql,

    // Contour-fit pupil: the boundary-pixel rule replayed on the integer
    // grid (dark with any non-dark 4-neighbor; no planted ellipse touches
    // the frame edge); the Fitzgibbon fit's planted-geometry recovery is
    // sweep-proven over all 195 distinct configs (VisionOpsSpec), making
    // planted_ok analytic at any scale factor.
    "cv_pupil_contour" ->
      """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    24 + CAST(doc_id AS BIGINT) % 13 AS ecx,
        |    24 + (CAST(doc_id AS BIGINT) * 3) % 13 AS ecy,
        |    8 + CAST(doc_id AS BIGINT) % 5 AS a,
        |    4 + CAST(doc_id AS BIGINT) % 3 AS b FROM documents),
        |g AS (SELECT media_id, gx.x AS x, gy.y AS y,
        |    (CAST(gx.x - ecx AS DOUBLE) / a) * (CAST(gx.x - ecx AS DOUBLE) / a)
        |  + (CAST(gy.y - ecy AS DOUBLE) / b) * (CAST(gy.y - ecy AS DOUBLE) / b)
        |    <= 1.0 AS dk
        |  FROM p, range(0, 64) gx(x), range(0, 64) gy(y)),
        |n1 AS (SELECT media_id, dk,
        |    coalesce(lag(dk) OVER (PARTITION BY media_id, y ORDER BY x), false) AS dkl,
        |    coalesce(lead(dk) OVER (PARTITION BY media_id, y ORDER BY x), false) AS dkr,
        |    coalesce(lag(dk) OVER (PARTITION BY media_id, x ORDER BY y), false) AS dku,
        |    coalesce(lead(dk) OVER (PARTITION BY media_id, x ORDER BY y), false) AS dkd
        |  FROM g)
        |SELECT media_id, count(*) AS n_boundary, true AS planted_ok
        |FROM n1 WHERE dk AND NOT (dkl AND dkr AND dku AND dkd)
        |GROUP BY media_id""".stripMargin,

    "sim_brute_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(qv) + 1),
        |      i -> qv[i] * v[i]))
        |    / (sqrt(list_sum(list_transform(qv, x -> x * x)))
        |       * sqrt(list_sum(list_transform(v, x -> x * x)))) AS sim
        |  FROM q JOIN e ON q.q_id <> e.vec_id)
        |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, vec_id) AS INT) AS rank,
        |  vec_id AS neighbor_id
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin,

    // ---------------------------------- direct per-operator oracles (r5)

    "a11_median_interval" ->
      """WITH d AS (SELECT user_id, epoch(ts) - lag(epoch(ts)) OVER
        |    (PARTITION BY user_id ORDER BY epoch(ts), event_id) AS dt
        |  FROM events)
        |SELECT user_id, round(median(dt), 6) + 0.0e0 AS med_dt
        |FROM d GROUP BY user_id""".stripMargin,

    "o1_time_sort" ->
      """SELECT event_id, CAST(row_number() OVER (PARTITION BY user_id
        |  ORDER BY epoch(ts), event_id) AS INT) AS seq FROM events""".stripMargin,

    "o3_top1_fit" ->
      """SELECT event_type, event_id AS best_id, value AS best_err
        |FROM events QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY value, event_id) = 1""".stripMargin,

    "p4_mask_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 50.0 AND event_type <> 'error'""".stripMargin,

    "p11_ppd" ->
      s"""SELECT event_id, value / ${d(graft.model.ErrorMap.pixelsPerDegree(
           graft.model.ErrorMap.Config()))} AS err_deg FROM events""",

    "c6_ellipse_dist" ->
      """WITH e AS (SELECT event_id,
        |    (event_id % 10) * 0.5e0 AS ex, (user_id % 8) * 0.4e0 AS ey,
        |    4.0e0 + (event_id % 4) AS dx, 2.0e0 + (event_id % 3) AS dy,
        |    (event_id % 12) * 30.0e0 - 90.0e0 AS ang,
        |    (event_id % 10) * 0.5e0 + 0.5e0 + value / 1000.0e0 AS px,
        |    (user_id % 8) * 0.4e0 + (user_id % 7) / 10.0e0 AS py
        |  FROM events),
        |g AS (SELECT event_id, px - ex AS tx, py - ey AS ty,
        |    dx / 2.0e0 AS rx, dy / 2.0e0 AS ry, ang / 180.0e0 * pi() AS a
        |  FROM e),
        |h AS (SELECT event_id,
        |    (tx * cos(a) + ty * sin(a)) / rx AS nx,
        |    (-tx * sin(a) + ty * cos(a)) / ry AS ny, rx, ry FROM g),
        |i AS (SELECT event_id, nx, ny, rx, ry,
        |    sqrt(nx * nx + ny * ny) AS nm FROM h)
        |SELECT event_id, round(sqrt(
        |    (nx * (abs(nm - 1.0e0) / nm) * rx) * (nx * (abs(nm - 1.0e0) / nm) * rx)
        |  + (ny * (abs(nm - 1.0e0) / nm) * ry) * (ny * (abs(nm - 1.0e0) / nm) * ry)),
        |  6) + 0.0e0 AS dist
        |FROM i""".stripMargin,

    "w8_savgol" -> {
      val c = graft.operators.OdometryOps.savgolCoeffs(5, 2)
      s"""WITH w AS (SELECT event_id,
         |    lag(value, 2) OVER win AS vm2, lag(value, 1) OVER win AS vm1,
         |    value AS v0,
         |    lead(value, 1) OVER win AS vp1, lead(value, 2) OVER win AS vp2
         |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
         |SELECT event_id,
         |  ((((vm2 * ${d(c(0))} + vm1 * ${d(c(1))}) + v0 * ${d(c(2))})
         |    + vp1 * ${d(c(3))}) + vp2 * ${d(c(4))}) AS smoothed
         |FROM w""".stripMargin
    },

    // bit-exact recursive replay of the sequential EMA recurrence (same
    // association order as TimeSeriesOps.ema / BinocularMerge.step)
    "w9_ema" ->
      s"""WITH RECURSIVE b AS (SELECT event_id, user_id, epoch(ts) AS t
         |  FROM events),
         |d0 AS (SELECT event_id, user_id,
         |    abs(t - lag(t) OVER (PARTITION BY user_id ORDER BY event_id)) AS dt,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
         |  FROM b),
         |d AS (SELECT * FROM d0 WHERE dt IS NOT NULL),
         |r AS (
         |  SELECT event_id, user_id, rn,
         |    ${d(1.0 / 120.0)} + (dt - ${d(1.0 / 120.0)}) * ${d(1.0 / 50.0)} AS ema
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.event_id, d.user_id, d.rn,
         |    r.ema + (d.dt - r.ema) * ${d(1.0 / 50.0)}
         |  FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
         |SELECT event_id, ema FROM r""".stripMargin,

    // nearest-each-side replay (argmin-first tie-break, j2 precedent) +
    // three-timestamp dispersion gate
    "j3_binocular_triple" ->
      s"""WITH refs AS (SELECT event_id, user_id, epoch(ts) AS t FROM events
        |  WHERE event_type = 'click'),
        |pa AS (SELECT event_id AS a_id, user_id, epoch(ts) AS rt FROM events
        |  WHERE event_type = 'purchase'),
        |pb AS (SELECT event_id AS b_id, user_id, epoch(ts) AS rt FROM events
        |  WHERE event_type = 'error'),
        |ja AS (SELECT r.event_id, r.user_id, r.t, a.a_id, a.rt AS at
        |  FROM refs r JOIN pa a ON r.user_id = a.user_id
        |  QUALIFY row_number() OVER (PARTITION BY r.event_id
        |    ORDER BY abs(a.rt - r.t), a.rt) = 1),
        |jb AS (SELECT ja.event_id, ja.t, ja.a_id, ja.at, b.b_id, b.rt AS bt
        |  FROM ja JOIN pb b ON ja.user_id = b.user_id
        |  QUALIFY row_number() OVER (PARTITION BY ja.event_id
        |    ORDER BY abs(b.rt - ja.t), b.rt) = 1)
        |SELECT event_id, a_id, b_id,
        |  greatest(t, at, bt) - least(t, at, bt) AS dispersion
        |FROM jb
        |WHERE greatest(t, at, bt) - least(t, at, bt) < ${d(graft.Queries.j3DispersionGate)}""".stripMargin,

    // same triple as-of, gate DERIVED from the matched streams' cadence:
    // multiplier × the pooled median inter-sample interval per user over
    // purchase+error (DuckDB median == quantile_cont(0.5), the same
    // interpolating median as Spark's exact percentile(0.5))
    "j3_cadence_gate" ->
      s"""WITH refs AS (SELECT event_id, user_id, epoch(ts) AS t FROM events
        |  WHERE event_type = 'click'),
        |pa AS (SELECT event_id AS a_id, user_id, epoch(ts) AS rt FROM events
        |  WHERE event_type = 'purchase'),
        |pb AS (SELECT event_id AS b_id, user_id, epoch(ts) AS rt FROM events
        |  WHERE event_type = 'error'),
        |pup AS (SELECT user_id, rt FROM pa UNION ALL SELECT user_id, rt FROM pb),
        |diffs AS (SELECT rt - lag(rt) OVER (
        |    PARTITION BY user_id ORDER BY rt) AS dt FROM pup),
        |g AS (SELECT ${d(graft.Queries.j3CadenceMultiplier)} * median(dt)
        |  AS gate FROM diffs WHERE dt IS NOT NULL AND dt > 0),
        |ja AS (SELECT r.event_id, r.user_id, r.t, a.a_id, a.rt AS at
        |  FROM refs r JOIN pa a ON r.user_id = a.user_id
        |  QUALIFY row_number() OVER (PARTITION BY r.event_id
        |    ORDER BY abs(a.rt - r.t), a.rt) = 1),
        |jb AS (SELECT ja.event_id, ja.t, ja.a_id, ja.at, b.b_id, b.rt AS bt
        |  FROM ja JOIN pb b ON ja.user_id = b.user_id
        |  QUALIFY row_number() OVER (PARTITION BY ja.event_id
        |    ORDER BY abs(b.rt - ja.t), b.rt) = 1)
        |SELECT event_id, a_id, b_id,
        |  greatest(t, at, bt) - least(t, at, bt) AS dispersion,
        |  round((SELECT gate FROM g), 6) AS gate
        |FROM jb
        |WHERE greatest(t, at, bt) - least(t, at, bt) < (SELECT gate FROM g)""".stripMargin,

    // PER-KEY cadence gate: per-eye median diffs first (grouped DuckDB
    // median == Spark exact percentile per group), then the median of
    // those — the planted 120 Hz / 30 Hz eyes make the per-key gate 1/6
    // vs the pooled 1/15, and the survivor set pins which one ran.
    // BANDED nearest replay (|Δt| < 2 s on both joins): equivalence is
    // exact, not approximate — the final filter keeps only dispersion <
    // gate ≈ 0.17 s, so any surviving ref's nearest neighbor lies within
    // the band, and a ref whose nearest is outside it can never survive
    // (dispersion ≥ 2 s > gate). The band turns the per-group cross
    // product (only 5 join groups → quadratic blowup at 10× corpora,
    // where the unbanded replay spilled past the disk budget) into a
    // linear candidate join — the J1 banded-oracle rule.
    "j3_cadence_gate_perkey" ->
      s"""WITH e AS (SELECT event_id::BIGINT AS n FROM events),
        |eyeA AS (SELECT n % 5 AS g, n / 120.0e0 AS t, n AS pa_id FROM e),
        |eyeB AS (SELECT n % 5 AS g, n / 120.0e0 AS t, n AS pb_id FROM e
        |  WHERE n % 4 = 0 AND n % 64 < 32),
        |refs AS (SELECT n AS event_id, n % 5 AS g,
        |    n / 120.0e0 + 1.0e0 / 240.0e0 AS t FROM e WHERE n % 16 = 2),
        |pup AS (SELECT 0 AS eye, t FROM eyeA
        |  UNION ALL SELECT 1 AS eye, t FROM eyeB),
        |diffs AS (SELECT eye, t - lag(t) OVER (
        |    PARTITION BY eye ORDER BY t) AS dt FROM pup),
        |keymed AS (SELECT eye, median(dt) AS km FROM diffs
        |  WHERE dt IS NOT NULL AND dt > 0 GROUP BY eye),
        |gp AS (SELECT 8.0e0 * median(km) AS gate FROM keymed),
        |ja AS (SELECT r.event_id, r.g, r.t, a.pa_id AS a_id, a.t AS at
        |  FROM refs r JOIN eyeA a ON r.g = a.g
        |    AND a.t > r.t - 2.0e0 AND a.t < r.t + 2.0e0
        |  QUALIFY row_number() OVER (PARTITION BY r.event_id
        |    ORDER BY abs(a.t - r.t), a.t) = 1),
        |jb AS (SELECT ja.event_id, ja.t, ja.a_id, ja.at, b.pb_id AS b_id,
        |    b.t AS bt
        |  FROM ja JOIN eyeB b ON ja.g = b.g
        |    AND b.t > ja.t - 2.0e0 AND b.t < ja.t + 2.0e0
        |  QUALIFY row_number() OVER (PARTITION BY ja.event_id
        |    ORDER BY abs(b.t - ja.t), b.t) = 1)
        |SELECT event_id, a_id, b_id,
        |  greatest(t, at, bt) - least(t, at, bt) AS dispersion,
        |  round((SELECT gate FROM gp), 6) AS gate
        |FROM jb
        |WHERE greatest(t, at, bt) - least(t, at, bt) < (SELECT gate FROM gp)""".stripMargin,

    // closed-form replay of the predict/refresh schedule: full-frame scans
    // at frame 0 of each 37-frame teleport block (ROI miss → fallback) and
    // at offset 31 (the 30-roi-frame refresh), ROI hits everywhere else
    "w11_roi_tracker" ->
      """WITH f AS (SELECT event_id % 5 AS session, event_id // 5 AS frame
        |  FROM events)
        |SELECT session, frame AS frame_index,
        |  (CASE WHEN ((frame // 37) % 2) = 0 THEN 100.0e0 ELSE 400.0e0 END)
        |    + 3.0e0 * ((frame * 7) % 11) AS det_x,
        |  (CASE WHEN ((frame // 37) % 2) = 0 THEN 100.0e0 ELSE 350.0e0 END)
        |    + 2.0e0 * ((frame * 3) % 13) AS det_y,
        |  ((frame % 37) % 31) <> 0 AS used_roi
        |FROM f""".stripMargin,

    "s4_pldata_roundtrip" ->
      """SELECT event_id AS id, epoch(ts) AS timestamp, value / 500.0 AS nx,
        |  (user_id % 20) / 20.0 AS ny, value / 1000.0 AS confidence
        |FROM events""".stripMargin,

    // same fixture + decode through the DataSource V2 surface — the two
    // readers share conversion, so the oracle is shared verbatim
    "audio_spectral" -> audioSpectralSql,

    "s4_pldata_v2" -> pldataGazeSql,

    // the streaming tail-ingest drain must recover the identical row set
    // (two session files, each a micro-batch) — same catalog replay
    "stream_pldata_tail" -> pldataGazeSql,

    // streaming ANN ingest on the planted OPQ corpus: the cluster→cell
    // map is 1:1 by the deterministic first-k init (the ann_opq_ivf
    // fixture guarantee), so the assigned cell is closed-form; codes are
    // always m = 8 bytes
    "stream_ann_ingest" ->
      """SELECT vec_id AS v_id, CAST(vec_id % 25 AS INT) AS cid,
        |  8 AS n_codes FROM embeddings""".stripMargin,

    "s2_timestamp_scan" ->
      """SELECT row_number() OVER (ORDER BY epoch(ts), event_id) - 1
        |  AS frame_index, epoch(ts) AS timestamp FROM events""".stripMargin,

    "s5_gaze_csv" ->
      """SELECT epoch(ts) AS timestamp, value / 500.0 AS nx,
        |  (user_id % 20) / 20.0 AS ny, value / 1000.0 AS confidence
        |FROM events""".stripMargin,

    "s9_intrinsics" ->
      s"""SELECT event_id,
         |  CASE WHEN user_id % 4 = 0 THEN 'radial'
         |       WHEN user_id % 4 = 1 THEN 'radial'
         |       WHEN user_id % 4 = 2 THEN 'fisheye' END AS model,
         |  CASE WHEN user_id % 4 = 0 THEN ${d(1000.0)}
         |       WHEN user_id % 4 = 1 THEN ${d(280.0)}
         |       WHEN user_id % 4 = 2 THEN ${d(282.0)} END AS fx,
         |  CASE WHEN user_id % 4 = 0 THEN ${d(0.1)}
         |       WHEN user_id % 4 = 1 THEN ${d(0.02)}
         |       WHEN user_id % 4 = 2 THEN ${d(0.03)} END AS k1
         |FROM events""".stripMargin,

    "s6_manual_epochs" ->
      """WITH f AS (SELECT event_id, event_id % 10000 AS frame FROM events)
        |SELECT event_id, CAST(0 AS INT) AS epoch, 'cal' AS split FROM f
        |  WHERE frame >= 1000 AND frame < 3000
        |UNION ALL
        |SELECT event_id,
        |  CAST(CASE WHEN frame >= 5000 AND frame < 7000 THEN 0 ELSE 1 END AS INT),
        |  'val' FROM f
        |  WHERE (frame >= 5000 AND frame < 7000)
        |     OR (frame >= 8000 AND frame < 9000)""".stripMargin,

    "s7_pipeline_sentinel" ->
      """SELECT 'clicks' AS stage, 'Computed' AS state,
        |  (SELECT count(*) FROM events WHERE event_type = 'click')::BIGINT AS "rows"
        |UNION ALL SELECT 'none', 'Failed', 0
        |UNION ALL SELECT 'downstream', 'SkippedUpstreamFailure', 0
        |UNION ALL SELECT 'clickagg', 'Computed',
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'click')::BIGINT""".stripMargin,

    "s8_pipeline_memo" ->
      """SELECT 'clicks' AS stage, 'Memoized' AS state,
        |  (SELECT count(*) FROM events WHERE event_type = 'click')::BIGINT AS "rows"
        |UNION ALL SELECT 'none', 'Failed', 0
        |UNION ALL SELECT 'downstream', 'SkippedUpstreamFailure', 0
        |UNION ALL SELECT 'clickagg', 'Memoized',
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'click')::BIGINT""".stripMargin,

    // MRI multi-run fan-out: discovery + fit + model fan-out + per-epoch
    // error, attested through the status table — the gaze stages carry
    // their run's closed-form pupil count (event_id % 3 split), the
    // calibration model table and the error summary are one row each
    "mri_pipeline" ->
      """SELECT 'calibration' AS stage, 'Computed' AS state,
        |  1::BIGINT AS "rows"
        |UNION ALL SELECT 'gaze_val_1', 'Computed',
        |  (SELECT count(*) FROM events WHERE event_id % 3 = 0)::BIGINT
        |UNION ALL SELECT 'gaze_main_0', 'Computed',
        |  (SELECT count(*) FROM events WHERE event_id % 3 = 1)::BIGINT
        |UNION ALL SELECT 'gaze_main_1', 'Computed',
        |  (SELECT count(*) FROM events WHERE event_id % 3 = 2)::BIGINT
        |UNION ALL SELECT 'error_val_1', 'Computed', 1""".stripMargin,

    "m1_poly_features" ->
      """WITH p AS (SELECT event_id, value / 500.0 AS px,
        |    (user_id % 20) / 20.0 AS py FROM events)
        |SELECT event_id, px AS f1, py AS f2, px * px AS f3, py * py AS f4,
        |  px * py AS f5, px * px * py * py AS f6, px * px * py AS f7,
        |  py * py * px AS f8, 1.0e0 AS f9 FROM p""".stripMargin,

    // planted-affine analytic oracle: pass 1 over all rows, the |err|<=8
    // gate drops exactly cluster 7's rows, pass 2 on exactly-affine
    // inliers recovers the planted coefficients (PlantedFitSpec proves the
    // classification margins: inliers < 4, outliers > 16)
    "m3_robust_poly" ->
      s"""SELECT count(*)::BIGINT AS n_points,
         |  ${d(0.8)} AS cx1, ${d(-0.3)} AS cx2, ${d(0.15)} AS cx3,
         |  ${d(0.2)} AS cy1, ${d(1.1)} AS cy2, ${d(-0.05)} AS cy3
         |FROM events""".stripMargin,

    "m5_tps_fit" ->
      """SELECT event_id % 25 AS cluster, count(*)::BIGINT AS n,
        |  true AS all_ok FROM events GROUP BY cluster""".stripMargin,

    // the λ-averaged LOO cut drops exactly the 2 planted outlier anchors
    // (PlantedFitSpec), the refit is the exact planted affine
    "m6_tps_cv" ->
      """SELECT event_id % 25 AS cluster, count(*)::BIGINT AS n,
        |  true AS all_ok, CAST(23 AS INT) AS n_anchors
        |FROM events GROUP BY cluster""".stripMargin,

    // grid winner pinned by PlantedFitSpec: multiquadric @ smoothness 0
    // (LOO err 0.030 vs 0.035 for the runner-up; heavy smoothing loses by
    // an order of magnitude), and the zero-smoothness fit interpolates
    "m7_rbf_cv" ->
      s"""SELECT event_id % 25 AS cluster, count(*)::BIGINT AS n,
         |  true AS all_ok, 'multiquadric' AS best_kernel,
         |  ${d(0.0)} AS best_smooth
         |FROM events GROUP BY cluster""".stripMargin,

    "m12_pca_align" ->
      """WITH k AS (SELECT doc_id,
        |    (doc_id % 7) * 0.5e0 + 1.0e0 AS x1, (doc_id % 11) * 0.3e0 AS x2,
        |    (doc_id % 13) * 0.25e0 AS x3,
        |    (doc_id % 5) * 0.8e0 AS y1, (doc_id % 17) * 0.15e0 + 0.2e0 AS y2,
        |    (doc_id % 3) * 1.1e0 AS y3
        |  FROM documents),
        |pts AS (SELECT x1 AS x, y1 AS y FROM k
        |  UNION ALL SELECT x2, y2 FROM k
        |  UNION ALL SELECT x3, y3 FROM k),
        |m AS (SELECT sum(x) / count(*) AS mx, sum(y) / count(*) AS my FROM pts),
        |cv AS (SELECT sum((p.x - m.mx) * (p.x - m.mx)) AS sxx,
        |    sum((p.x - m.mx) * (p.y - m.my)) AS sxy,
        |    sum((p.y - m.my) * (p.y - m.my)) AS syy,
        |    max(m.mx) AS mx, max(m.my) AS my
        |  FROM pts p CROSS JOIN m),
        |th AS (SELECT 0.5e0 * atan2(2 * sxy, sxx - syy) AS theta, mx, my FROM cv),
        |cs AS (SELECT CASE WHEN cos(theta) < 0 THEN -cos(theta)
        |    ELSE cos(theta) END AS c,
        |  CASE WHEN cos(theta) < 0 THEN -sin(theta) ELSE sin(theta) END AS s,
        |  mx, my FROM th)
        |SELECT doc_id,
        |  round((x1 - mx) * c + (y1 - my) * s, 6) + 0.0e0 AS ax1,
        |  round((x2 - mx) * c + (y2 - my) * s, 6) + 0.0e0 AS ax2,
        |  round((x3 - mx) * c + (y3 - my) * s, 6) + 0.0e0 AS ax3,
        |  round(-(x1 - mx) * s + (y1 - my) * c, 6) + 0.0e0 AS ay1,
        |  round(-(x2 - mx) * s + (y2 - my) * c, 6) + 0.0e0 AS ay2,
        |  round(-(x3 - mx) * s + (y3 - my) * c, 6) + 0.0e0 AS ay3
        |FROM k CROSS JOIN cs""".stripMargin,

    "m13_eyelid_dist" ->
      """SELECT event_id, greatest(
        |    (value / 100.0 + 1.0e0) - (value / 100.0),
        |    (value / 100.0 + (user_id % 7) * 0.3e0)
        |      - (value / 100.0 + (user_id % 5) * 0.1e0),
        |    (value / 100.0 + (event_id % 4) * 0.5e0)
        |      - (value / 100.0 - (event_id % 3) * 0.2e0)
        |  ) AS lid_dist FROM events""".stripMargin,

    "a10_avg_frames" ->
      """WITH f AS (SELECT event_type, value / 100.0 AS e1,
        |    (user_id % 20) * 0.05e0 AS e2, (event_id % 7) * 0.1e0 AS e3,
        |    value / 250.0 + (user_id % 3) AS e4,
        |    (event_id % 11) * 0.02e0 AS e5
        |  FROM events)
        |SELECT event_type,
        |  round(avg(e1), 6) + 0.0e0 AS m1, round(avg(e2), 6) + 0.0e0 AS m2,
        |  round(avg(e3), 6) + 0.0e0 AS m3, round(avg(e4), 6) + 0.0e0 AS m4,
        |  round(avg(e5), 6) + 0.0e0 AS m5
        |FROM f GROUP BY event_type""".stripMargin,
  )
}
