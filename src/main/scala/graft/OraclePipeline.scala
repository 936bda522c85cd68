package graft

/** DuckDB oracle twins for the training-pipeline tier: text analysis, ANN,
  * multimodal metadata, and the events windowed aggregation. Operates on the
  * raw driver tables (documents / embeddings / events), not the corpus.
  */
object OraclePipeline {

  /** Tokens CTE shared by the text queries (parity with
    * TextAnalysis.tokens: split on single space, drop empties). */
  private val tokCte =
    """WITH tok AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''
      |)
      |""".stripMargin

  /** Random-hyperplane LSH signature CTE over quantized embeddings — the SQL
    * twin of [[graft.functions.LshSignatures]]: plane component for
    * (table t, bit h, dim d) = (((t*bits+h)*dim + d + 1) * 2654435761)
    * % 2001 - 1000; signature bit h of table t set iff the dot product with
    * that plane is ≥ 0. All arithmetic < 2^63. */
  private def lshSigCte(tables: Int, bits: Int): String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings
       |), grid AS (
       |  SELECT vec_id, t, h,
       |    CAST(sum(v[CAST(d AS INT) + 1] *
       |         ((((t * $bits + h) * len(v) + d + 1) * 2654435761) % 2001
       |          - 1000)) AS BIGINT) AS dot
       |  FROM (SELECT vec_id, v, unnest(generate_series(0, len(v) - 1)) AS d
       |        FROM q),
       |       (SELECT unnest(generate_series(0, ${tables - 1})) AS t),
       |       (SELECT unnest(generate_series(0, ${bits - 1})) AS h)
       |  GROUP BY vec_id, t, h
       |), sigs AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN dot >= 0
       |                  THEN (1::BIGINT << CAST(h AS INT)) ELSE 0 END)
       |         AS BIGINT) AS sig
       |  FROM grid GROUP BY vec_id, t
       |)
       |""".stripMargin

  /** (doc_id, quality_score) as a parenthesized derived table — the shared
    * formula of q_quality (TextAnalysis.qualityScore twin), reusable inside
    * other oracles' CTE chains (q_pipeline_kept's quality gate).
    *
    * KEEP IN SYNC with BOTH TextAnalysis.qualityScore and the q_quality SQL
    * below — the weights (0.5/0.2/0.2/0.1), the floor-scaling, and the
    * stopword list must match in all three places or q_pipeline_kept's gate
    * desynchronizes from q_quality while each still passes alone. */
  val qualityScoreSubquery: String =
    """(WITH tokq AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''
      |), rawq AS (
      |  SELECT d.doc_id,
      |    CAST(length(d.text) AS BIGINT) AS n_chars,
      |    CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
      |    CAST(length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS BIGINT) AS digits,
      |    CAST(length(regexp_replace(d.text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
      |    CAST(coalesce(s.stops, 0) AS BIGINT) AS stops
      |  FROM documents d
      |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM tokq GROUP BY doc_id) t
      |    ON d.doc_id = t.doc_id
      |  LEFT JOIN (SELECT doc_id, count(*) AS stops FROM tokq
      |             WHERE tok IN ('the','a','of','to','and','in','is')
      |             GROUP BY doc_id) s ON d.doc_id = s.doc_id
      |)
      |SELECT doc_id,
      |  floor((floor(CAST(alpha AS DOUBLE) / n_chars * 1000000) / 1000000 * 0.5
      |      + (1.0 - floor(CAST(digits AS DOUBLE) / n_chars * 1000000) / 1000000) * 0.2
      |      + (1.0 - floor(CAST(punct AS DOUBLE) / n_chars * 1000000) / 1000000) * 0.2
      |      + least(floor(CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 1000000) / 1000000
      |              * 2.0, 1.0) * 0.1) * 1000000) / 1000000 AS quality_score
      |FROM rawq)""".stripMargin

  /** SQL twin of Ann.kmeansCentroids: `iters` Lloyd iterations from the
    * hash-rank seed sample (cid = 0..k-1 in seed order). Assignment =
    * argmax r6-cosine (ties → lower cid); update = per-dimension
    * floor(sum / n) with empty clusters keeping their previous centroid.
    * Output: exploded (cid, d, cval) integer rows. */
  private def kmeansSql(k: Int, iters: Int): String = {
    val cos = (vec: String, cent: String) =>
      s"""floor(list_dot_product($vec, $cent) /
         |                   sqrt(list_dot_product($vec, $vec) *
         |                        list_dot_product($cent, $cent))
         |                   * 1000000) / 1000000""".stripMargin
    val steps = (1 to iters).map { i =>
      val prev = s"cent${i - 1}"
      s"""asg$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT q.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             ${cos("q.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM q CROSS JOIN $prev c) WHERE rn = 1
         |), sum$i AS (
         |  SELECT cid, d, sum(v[CAST(d AS INT) + 1]) AS s, count(*) AS n
         |  FROM (SELECT a.cid, q.v, unnest(generate_series(0, len(q.v) - 1)) AS d
         |        FROM asg$i a JOIN q ON q.vec_id = a.vec_id)
         |  GROUP BY cid, d
         |), cent$i AS (
         |  SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY d) AS cv
         |  FROM sum$i GROUP BY cid
         |  UNION ALL
         |  SELECT cid, cv FROM $prev
         |  WHERE cid NOT IN (SELECT DISTINCT cid FROM asg$i)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings
       |), cent0 AS (
       |  SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cid, v AS cv
       |  FROM q
       |  WINDOW w AS (ORDER BY (vec_id % 2147483647) * 2654435761 % 2147483647,
       |               vec_id)
       |  QUALIFY row_number() OVER w <= $k
       |), $steps
       |SELECT cid, CAST(d AS BIGINT) AS d, cv[CAST(d AS INT) + 1] AS cval
       |FROM (SELECT cid, cv, unnest(generate_series(0, len(cv) - 1)) AS d
       |      FROM cent$iters)""".stripMargin
  }

  private val langIdSql: String = {
    // argmax by (score desc, lang asc) — equivalent to TextAnalysis.langId's
    // strict-greater fold (earliest max wins; profiles are lang-sorted)
    val profiles = graft.text.TextAnalysis.LangProfiles
    val scoreCols = profiles.map { case (lang, ws) =>
      val terms = ws.map(w =>
        s"len(list_filter(string_split(text, ' '), t -> t = '$w'))").mkString(" + ")
      s"CAST($terms AS BIGINT) AS s_$lang"
    }.mkString(",\n    ")
    val values = profiles.map { case (lang, _) => s"('$lang', s_$lang)" }.mkString(", ")
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM documents)
       |SELECT doc_id, lang,
       |  (SELECT l FROM (VALUES $values) AS t(l, s)
       |   ORDER BY s DESC, l LIMIT 1) AS predicted_lang
       |FROM sc""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "q_token_stats" -> (tokCte +
      """SELECT d.doc_id,
        |       CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(d.text,
        |            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |         AS n_bpe_tokens
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id) t
        |  ON d.doc_id = t.doc_id""".stripMargin),

    "q_lang_id" -> langIdSql,

    "q_quality" -> (tokCte.trim.dropRight(1) +
      """), q AS (
        |  SELECT d.doc_id,
        |    CAST(length(d.text) AS BIGINT) AS n_chars,
        |    CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(t.tok_chars, 0) AS BIGINT) AS tok_chars,
        |    CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |    CAST(length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS BIGINT) AS digits,
        |    CAST(length(regexp_replace(d.text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct,
        |    CAST(coalesce(s.stops, 0) AS BIGINT) AS stops
        |  FROM documents d
        |  LEFT JOIN (SELECT doc_id, count(*) AS n, sum(length(tok)) AS tok_chars
        |             FROM tok GROUP BY doc_id) t ON d.doc_id = t.doc_id
        |  LEFT JOIN (SELECT doc_id, count(*) AS stops FROM tok
        |             WHERE tok IN ('the','a','of','to','and','in','is')
        |             GROUP BY doc_id) s ON d.doc_id = s.doc_id
        |)
        |SELECT doc_id, n_chars, n_tokens,
        |  floor(CAST(tok_chars AS DOUBLE) / greatest(n_tokens, 1) * 1000000) / 1000000 AS avg_token_len,
        |  floor(CAST(alpha AS DOUBLE) / n_chars * 1000000) / 1000000 AS alpha_ratio,
        |  floor(CAST(digits AS DOUBLE) / n_chars * 1000000) / 1000000 AS digit_ratio,
        |  floor(CAST(punct AS DOUBLE) / n_chars * 1000000) / 1000000 AS punct_ratio,
        |  floor(CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 1000000) / 1000000 AS stopword_ratio,
        |  floor((floor(CAST(alpha AS DOUBLE) / n_chars * 1000000) / 1000000 * 0.5
        |      + (1.0 - floor(CAST(digits AS DOUBLE) / n_chars * 1000000) / 1000000) * 0.2
        |      + (1.0 - floor(CAST(punct AS DOUBLE) / n_chars * 1000000) / 1000000) * 0.2
        |      + least(floor(CAST(stops AS DOUBLE) / greatest(n_tokens, 1) * 1000000) / 1000000 * 2.0,
        |              1.0) * 0.1) * 1000000) / 1000000 AS quality_score
        |FROM q""".stripMargin),

    "q_fingerprint" ->
      """SELECT doc_id,
        |  min((CAST(ascii(substr(text, CAST(i AS INT)    , 1)) AS BIGINT) * 4294967296 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT) * 16777216 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 2, 1)) AS BIGINT) * 65536 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 3, 1)) AS BIGINT) * 256 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)) % 2147483647)
        |    AS fp_min,
        |  min(CAST(ascii(substr(text || '________', 1, 1)) % 256 AS BIGINT) * 1 +
        |      CAST(ascii(substr(text || '________', 2, 1)) % 256 AS BIGINT) * 131 +
        |      CAST(ascii(substr(text || '________', 3, 1)) % 256 AS BIGINT) * 17161 +
        |      CAST(ascii(substr(text || '________', 4, 1)) % 256 AS BIGINT) * 2248091 +
        |      CAST(ascii(substr(text || '________', 5, 1)) % 256 AS BIGINT) * 294499921 +
        |      CAST(ascii(substr(text || '________', 6, 1)) % 256 AS BIGINT) * 38579489651 +
        |      CAST(ascii(substr(text || '________', 7, 1)) % 256 AS BIGINT) * 5053913144281 +
        |      CAST(ascii(substr(text || '________', 8, 1)) % 256 AS BIGINT) * 662062621900811)
        |    AS fp_head,
        |  CAST(sum(DISTINCT
        |      (CAST(ascii(substr(text, CAST(i AS INT)    , 1)) AS BIGINT) * 4294967296 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT) * 16777216 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 2, 1)) AS BIGINT) * 65536 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 3, 1)) AS BIGINT) * 256 +
        |       CAST(ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)) % 2147483647)
        |    % 2147483647 AS BIGINT) AS fp_set
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(1, length(text) - 4)) AS i
        |      FROM documents WHERE length(text) >= 5)
        |GROUP BY doc_id""".stripMargin,

    // repetition: 1 - distinct-5-gram-keys / total-5-grams (keys mod P,
    // same definition as the engine's one-pass shingle expression)
    "q_repetition" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    (CAST(ascii(substr(text, CAST(i AS INT)    , 1)) AS BIGINT) * 4294967296 +
        |     CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT) * 16777216 +
        |     CAST(ascii(substr(text, CAST(i AS INT) + 2, 1)) AS BIGINT) * 65536 +
        |     CAST(ascii(substr(text, CAST(i AS INT) + 3, 1)) AS BIGINT) * 256 +
        |     CAST(ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)) % 2147483647 AS x
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, length(text) - 4)) AS i
        |        FROM documents WHERE length(text) >= 5)
        |)
        |SELECT d.doc_id,
        |  CAST(length(d.text) - 4 AS BIGINT) AS n_grams,
        |  CAST(c.nd AS BIGINT) AS n_distinct_grams,
        |  floor((1.0 - CAST(c.nd AS DOUBLE) / (length(d.text) - 4)) * 1000000)
        |    / 1000000 AS repetition_ratio
        |FROM documents d
        |JOIN (SELECT doc_id, count(DISTINCT x) AS nd FROM g GROUP BY doc_id) c
        |  ON c.doc_id = d.doc_id
        |WHERE length(d.text) >= 5""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         floor(list_dot_product(a.v, b.v) /
        |               sqrt(list_dot_product(a.v, a.v) *
        |                    list_dot_product(b.v, b.v)) * 1000000) / 1000000 AS cos
        |  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
        |)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5""".stripMargin,

    // IVF ANN: centroids = the 16 lowest hash-ranked vec_ids (fixed-K
    // deterministic training sample — K independent of corpus size),
    // assignment = argmax r6-cosine (ties -> lower cid), probe 3 lists,
    // exact top-5 within candidates — mirrors Ann.ivfTopK step for step
    "q_ann_ivf" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM q
        |  QUALIFY row_number() OVER (
        |    ORDER BY (vec_id % 2147483647) * 2654435761 % 2147483647, vec_id)
        |    <= 16
        |), sc AS (
        |  SELECT q.vec_id, c.cid,
        |         floor(list_dot_product(q.v, c.cv) /
        |               sqrt(list_dot_product(q.v, q.v) *
        |                    list_dot_product(c.cv, c.cv)) * 1000000) / 1000000
        |           AS ccos
        |  FROM q CROSS JOIN cent c
        |), assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY ccos DESC, cid) AS rn
        |    FROM sc) WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY ccos DESC, cid) AS rn
        |    FROM sc WHERE vec_id < 10) WHERE rn <= 3
        |), cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  WHERE a.vec_id <> p.query_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         floor(list_dot_product(qa.v, qb.v) /
        |               sqrt(list_dot_product(qa.v, qa.v) *
        |                    list_dot_product(qb.v, qb.v)) * 1000000) / 1000000
        |           AS cos
        |  FROM cand c
        |  JOIN q qa ON qa.vec_id = c.query_id
        |  JOIN q qb ON qb.vec_id = c.neighbor_id
        |)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5""".stripMargin,

    "q_kmeans" -> kmeansSql(16, 2),

    "q_embed_norms" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  floor(sqrt(list_dot_product(
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))))
        |    * 1000000) / 1000000 AS norm_q
        |FROM embeddings""".stripMargin,

    // LSH-blocked cosine dedup: candidates share ≥1 hyperplane bucket
    // (identical blocking to Ann.cosineDupPairs at tables=16, bits=4),
    // exact quantized cosine ≥ 0.40 within candidates. The QUALIFY mirrors
    // the engine's Salting.bucketPairs cap (maxBucket=4096): buckets over
    // the cap generate no pairs in EITHER engine (every kept bucket, hot or
    // not, pairs in place, so hotBucket has no oracle footprint).
    "q_cosine_pairs" -> (lshSigCte(16, 4) +
      """, sigsk AS (
        |  SELECT * FROM sigs
        |  QUALIFY count(*) OVER (PARTITION BY t, sig) <= 4096
        |), cand AS (
        |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        |  FROM sigsk l JOIN sigsk r ON l.t = r.t AND l.sig = r.sig
        |  WHERE l.vec_id < r.vec_id
        |)
        |SELECT c.a, c.b,
        |       floor(list_dot_product(qa.v, qb.v) /
        |             sqrt(list_dot_product(qa.v, qa.v) *
        |                  list_dot_product(qb.v, qb.v)) * 1000000) / 1000000 AS cos
        |FROM cand c
        |JOIN q qa ON qa.vec_id = c.a
        |JOIN q qb ON qb.vec_id = c.b
        |WHERE floor(list_dot_product(qa.v, qb.v) /
        |            sqrt(list_dot_product(qa.v, qa.v) *
        |                 list_dot_product(qb.v, qb.v)) * 1000000) / 1000000
        |      >= 0.40""".stripMargin),

    // LSH-bucketed ANN top-k: same hyperplane signatures (tables=16,
    // bits=6), candidates from bucket equi-joins, exact cosine, top-5
    "q_ann_lsh" -> (lshSigCte(16, 6) +
      """, cand AS (
        |  SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
        |  FROM sigs l JOIN sigs r ON l.t = r.t AND l.sig = r.sig
        |  WHERE l.vec_id < 10 AND l.vec_id <> r.vec_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         floor(list_dot_product(qa.v, qb.v) /
        |               sqrt(list_dot_product(qa.v, qa.v) *
        |                    list_dot_product(qb.v, qb.v)) * 1000000) / 1000000 AS cos
        |  FROM cand c
        |  JOIN q qa ON qa.vec_id = c.query_id
        |  JOIN q qb ON qb.vec_id = c.neighbor_id
        |)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5""".stripMargin),

    "q_events_window" ->
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_start,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS value_cents,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM e
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end
        |FROM s GROUP BY user_id, session_idx""".stripMargin,

    "q_mm_meta" ->
      """SELECT doc_id, 'utf8-blob' AS format,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    // byte histogram of the utf-8 payload, 16 bins, zeros included — the
    // decode stub's exact-integer core. Genuinely BYTE-based (hex(encode())
    // sliced two chars per byte), matching FakeDecoder.histogram for
    // non-ASCII text too: a multi-byte char contributes each of its UTF-8
    // bytes, not its codepoint
    "q_mm_features" ->
      """WITH by AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(hx, CAST(2 * i - 1 AS INT), 2))
        |              AS INT) // 16 AS bin
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |               unnest(generate_series(1, octet_length(encode(text)))) AS i
        |        FROM documents)
        |), c AS (
        |  SELECT doc_id, bin, count(*) AS n FROM by GROUP BY doc_id, bin
        |)
        |SELECT d.doc_id, CAST(b.bin AS BIGINT) AS bin,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_in_bin
        |FROM documents d
        |CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
        |LEFT JOIN c ON c.doc_id = d.doc_id AND c.bin = b.bin""".stripMargin,

    // WAV decode twin: the engine synthesizes a RIFF/WAVE container per doc
    // (PCM16 mono, rate 8000+(id%8)*1000, one sample per text CODEPOINT =
    // (cp % 256)*257-32768) and decodes it with a real chunk-walking
    // parser; the oracle recomputes the expected stats from the same
    // per-character formula (parity holds for non-ASCII text too)
    "q_mm_wav" ->
      """WITH sm AS (
        |  SELECT doc_id,
        |         (CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
        |            % 256) * 257 - 32768 AS v
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, length(text))) AS i
        |        FROM documents)
        |)
        |SELECT d.doc_id,
        |  CAST(8000 + (d.doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  CAST(length(d.text) AS BIGINT) AS n_samples,
        |  CAST(coalesce(a.s, 0) AS BIGINT) AS pcm_sum,
        |  CAST(coalesce(a.mn, 0) AS BIGINT) AS pcm_min,
        |  CAST(coalesce(a.mx, 0) AS BIGINT) AS pcm_max
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
        |           FROM sm GROUP BY doc_id) a ON a.doc_id = d.doc_id""".stripMargin,

    // resize twin: histogram bins beyond the real 16 read as zero-padding
    // (bins 16..23); truncation would simply bound the dim series. Same
    // BYTE-based histogram as q_mm_features (non-ASCII-safe)
    "q_mm_resize" ->
      """WITH by AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(hx, CAST(2 * i - 1 AS INT), 2))
        |              AS INT) // 16 AS bin
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |               unnest(generate_series(1, octet_length(encode(text)))) AS i
        |        FROM documents)
        |), c AS (
        |  SELECT doc_id, bin, count(*) AS n FROM by GROUP BY doc_id, bin
        |)
        |SELECT d.doc_id, CAST(b.dim AS BIGINT) AS dim_idx,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_in_bin
        |FROM documents d
        |CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS dim) b
        |LEFT JOIN c ON c.doc_id = d.doc_id AND c.bin = b.dim""".stripMargin,

    // BMP decode twin: the engine synthesizes a 24bpp bottom-up BMP per doc
    // (width 5 + id%4, one pixel per text CODEPOINT with channels
    // (cp%256, cp*7%256, cp*13%256), black padding pixels to fill the last
    // row) and decodes it with a real stride/row-order-aware parser; the
    // oracle replays the generative formula. b_weighted = Σ i·(cp_i % 256)
    // over 1-based top-down pixel index — positionally sensitive, so a
    // decoder that misread the stride or row order cannot hash-match
    "q_mm_bmp" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         ascii(substr(text, CAST(i AS INT), 1)) AS cp, i
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, length(text))) AS i
        |        FROM documents)
        |), agg AS (
        |  SELECT doc_id,
        |    sum(cp % 256) AS sb,
        |    sum((cp * 7) % 256) AS sg,
        |    sum((cp * 13) % 256) AS sr,
        |    min(least(cp % 256, (cp * 7) % 256, (cp * 13) % 256)) AS mn,
        |    max(greatest(cp % 256, (cp * 7) % 256, (cp * 13) % 256)) AS mx,
        |    sum(i * (cp % 256)) AS bw
        |  FROM px GROUP BY doc_id
        |), geo AS (
        |  SELECT doc_id,
        |    CAST(5 + doc_id % 4 AS BIGINT) AS w,
        |    CAST(length(text) AS BIGINT) AS n
        |  FROM documents
        |)
        |SELECT g.doc_id, g.w AS width,
        |  greatest(1, (g.n + g.w - 1) // g.w) AS height,
        |  g.w * greatest(1, (g.n + g.w - 1) // g.w) AS n_px,
        |  CAST(coalesce(a.sb, 0) AS BIGINT) AS px_sum_b,
        |  CAST(coalesce(a.sg, 0) AS BIGINT) AS px_sum_g,
        |  CAST(coalesce(a.sr, 0) AS BIGINT) AS px_sum_r,
        |  CAST(CASE WHEN g.w * greatest(1, (g.n + g.w - 1) // g.w) > g.n
        |            THEN 0 ELSE coalesce(a.mn, 0) END AS BIGINT) AS px_min,
        |  CAST(coalesce(a.mx, 0) AS BIGINT) AS px_max,
        |  CAST(coalesce(a.bw, 0) AS BIGINT) AS b_weighted
        |FROM geo g LEFT JOIN agg a ON a.doc_id = g.doc_id""".stripMargin,

    // frame sampling plumbing: payload split into 4 equal byte slices,
    // step = max(n/4, 1), frame i exists while i*step < n, trailing bytes
    // beyond 4*step dropped (mirrors Multimodal.sampleFrames)
    "q_mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |         greatest(CAST(octet_length(encode(text)) AS BIGINT) // 4, 1)
        |           AS step
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       least(step, n - i * step) AS frame_n_bytes
        |FROM (SELECT doc_id, n, step,
        |             unnest(generate_series(0, 3)) AS i
        |      FROM m)
        |WHERE i * step < n""".stripMargin,

    // Y4M decode twin: the engine synthesizes a C420jpeg YUV4MPEG2 clip per
    // doc (even width 4 + (id%4)*2, even height fitting one luma pixel per
    // text CODEPOINT, frames = 2 + id%3; frame f's pixel p carries
    // ((cp_p % 256) + 17f) % 256, black padding; chroma planes are per-doc
    // constants) and decodes it with a real tag/marker/plane-walking
    // parser; the oracle replays the generative formula. y_weighted =
    // SUM (f*w*h + p + 1) * Y over frame f and 1-based pixel index —
    // positionally sensitive across frames AND pixels
    "q_mm_video" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n,
        |    CAST(4 + (doc_id % 4) * 2 AS BIGINT) AS w,
        |    CAST(2 + doc_id % 3 AS BIGINT) AS frames
        |  FROM documents
        |), dims AS (
        |  SELECT *,
        |    ((greatest(CAST(1 AS BIGINT), (n + w - 1) // w) + 1) // 2) * 2
        |      AS h
        |  FROM base
        |), fi AS (
        |  SELECT doc_id, text, n, w, h, frames,
        |         unnest(generate_series(0, CAST(frames - 1 AS INT))) AS f
        |  FROM dims
        |), px AS (
        |  SELECT doc_id, f, w, h, text,
        |         unnest(generate_series(1, CAST(n AS INT))) AS i
        |  FROM fi
        |), yv AS (
        |  SELECT doc_id, f, w, h, i,
        |    ((ascii(substr(text, CAST(i AS INT), 1)) % 256) + 17 * f) % 256
        |      AS y
        |  FROM px
        |), agg AS (
        |  SELECT doc_id, sum(y) AS s, min(y) AS mn, max(y) AS mx,
        |         sum((f * w * h + i) * y) AS yw
        |  FROM yv GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(d.frames AS BIGINT) AS n_frames,
        |  CAST(coalesce(a.s, 0) AS BIGINT) AS y_sum,
        |  CAST(CASE WHEN d.w * d.h > d.n THEN 0
        |            ELSE coalesce(a.mn, 0) END AS BIGINT) AS y_min,
        |  CAST(coalesce(a.mx, 0) AS BIGINT) AS y_max,
        |  CAST(coalesce(a.yw, 0) AS BIGINT) AS y_weighted,
        |  CAST(d.frames * (d.w // 2) * (d.h // 2) *
        |       (((d.doc_id * 5 + 7) % 256) + ((d.doc_id * 11 + 3) % 256))
        |       AS BIGINT) AS uv_sum
        |FROM dims d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin
  )
}
