package graft

/** DuckDB oracle twins for the near-duplicate tier. Every hash is plain
  * modular arithmetic (< 2^63 everywhere) so DuckDB reproduces the custom
  * Catalyst expressions bit for bit — see graft.functions.HashConstants.
  */
object OracleNear {

  /** CTE chain appended to Oracle.corpusCte. Mirrors, stage for stage:
    * NearDup.representatives / shingleKeys / MinHashContent / bands /
    * lshPairs / SimHash / simhashPairs / verifiedPairs / ConnectedComponents.
    * `cap` mirrors NearConfig.maxBucket: band/chunk buckets above it are
    * dropped before pair generation (QUALIFY count OVER bucket <= cap) —
    * identical blocking in both engines at every scale factor.
    */
  def nearCtes(cap: Int = graft.near.NearConfig().maxBucket,
               skMin: Int = graft.near.NearConfig().sketchMin): String =
    // cap <= 0 means UNLIMITED on the Spark side (Salting.bucketPairs);
    // substituting 0 into `count(*) <= __CAP__` would instead drop EVERY
    // bucket — map the sentinel to a cap no bucket can exceed
    nearCtesRaw.replace("__CAP__",
        (if (cap <= 0) Long.MaxValue else cap.toLong).toString)
      .replace("__SKMIN__", skMin.toString)

  private val nearCtesRaw: String =
    """reps AS (
      |  SELECT * FROM (SELECT *, sha256(content) AS h FROM corpus
      |                 WHERE size >= 5)
      |  QUALIFY row_number() OVER (PARTITION BY size, h ORDER BY file_id) = 1
      |), shingles AS (
      |  SELECT DISTINCT file_id,
      |    (CAST(ascii(substr(content, CAST(i AS INT)    , 1)) AS BIGINT) * 4294967296 +
      |     CAST(ascii(substr(content, CAST(i AS INT) + 1, 1)) AS BIGINT) * 16777216 +
      |     CAST(ascii(substr(content, CAST(i AS INT) + 2, 1)) AS BIGINT) * 65536 +
      |     CAST(ascii(substr(content, CAST(i AS INT) + 3, 1)) AS BIGINT) * 256 +
      |     CAST(ascii(substr(content, CAST(i AS INT) + 4, 1)) AS BIGINT)) % 2147483647 AS x
      |  FROM (SELECT file_id, content,
      |               unnest(generate_series(1, length(content) - 4)) AS i
      |        FROM reps)
      |), perms AS (
      |  SELECT j, (j + 1) * 2654435761 % 2147483646 + 1 AS a,
      |         (j + 1) * 2654435497 % 2147483647 AS b
      |  FROM (SELECT unnest(generate_series(0, 127)) AS j)
      |), sigs AS (
      |  SELECT file_id, j, min((a * x + b) % 2147483647) AS sig
      |  FROM shingles CROSS JOIN perms GROUP BY file_id, j
      |), bands AS (
      |  SELECT file_id, CAST(j // 8 AS BIGINT) AS band_idx,
      |         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j) AS band_key
      |  FROM sigs GROUP BY file_id, j // 8
      |), bandsk AS (
      |  SELECT * FROM bands
      |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= __CAP__
      |), lsh_pairs AS (
      |  SELECT DISTINCT l.file_id AS a, r.file_id AS b
      |  FROM bandsk l JOIN bandsk r
      |    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
      |  WHERE l.file_id < r.file_id
      |), tokh AS (
      |  SELECT file_id,
      |    CAST(ascii(substr(tok || '________', 1, 1)) % 256 AS BIGINT) * 1 +
      |    CAST(ascii(substr(tok || '________', 2, 1)) % 256 AS BIGINT) * 131 +
      |    CAST(ascii(substr(tok || '________', 3, 1)) % 256 AS BIGINT) * 17161 +
      |    CAST(ascii(substr(tok || '________', 4, 1)) % 256 AS BIGINT) * 2248091 +
      |    CAST(ascii(substr(tok || '________', 5, 1)) % 256 AS BIGINT) * 294499921 +
      |    CAST(ascii(substr(tok || '________', 6, 1)) % 256 AS BIGINT) * 38579489651 +
      |    CAST(ascii(substr(tok || '________', 7, 1)) % 256 AS BIGINT) * 5053913144281 +
      |    CAST(ascii(substr(tok || '________', 8, 1)) % 256 AS BIGINT) * 662062621900811 AS hh
      |  FROM (SELECT file_id, unnest(string_split(content, ' ')) AS tok
      |        FROM reps)
      |  WHERE tok <> ''
      |), simbits AS (
      |  SELECT file_id, b,
      |    CASE WHEN sum(((hh >> CAST(b AS INT)) & 1) * 2 - 1) > 0
      |         THEN 1 ELSE 0 END AS bit
      |  FROM tokh, (SELECT unnest(generate_series(0, 59)) AS b)
      |  GROUP BY file_id, b
      |), simhashes AS (
      |  SELECT file_id,
      |         CAST(sum(bit * (1::BIGINT << CAST(b AS INT))) AS BIGINT)
      |           AS simhash
      |  FROM simbits GROUP BY file_id
      |), simchunks AS (
      |  SELECT * FROM (
      |    SELECT file_id, simhash,
      |           c, (simhash >> CAST(c * 15 AS INT)) & 32767 AS chunk
      |    FROM simhashes, (SELECT unnest(generate_series(0, 3)) AS c))
      |  QUALIFY count(*) OVER (PARTITION BY c, chunk) <= __CAP__
      |), sim_pairs AS (
      |  SELECT a, b FROM (
      |    SELECT DISTINCT l.file_id AS a, r.file_id AS b,
      |           l.simhash AS sim_a, r.simhash AS sim_b
      |    FROM simchunks l JOIN simchunks r
      |      ON l.c = r.c AND l.chunk = r.chunk
      |    WHERE l.file_id < r.file_id)
      |  WHERE bit_count(xor(sim_a, sim_b)) <= 3
      |), cand AS (
      |  -- explicit DISTINCT: under WITH RECURSIVE, DuckDB 1.0 stops
      |  -- deduplicating top-level UNIONs in non-recursive CTEs
      |  SELECT DISTINCT a, b FROM (
      |    SELECT a, b FROM lsh_pairs UNION ALL SELECT a, b FROM sim_pairs)
      |), skagree AS (
      |  -- byte-sketch prefilter twin (NearDup.verifiedPairsOf stage 1):
      |  -- agreement count of signature LOW BYTES, cutoff = sketchMin
      |  SELECT c.a, c.b,
      |         CAST(sum(CASE WHEN sa.sig % 256 = sb.sig % 256
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS agree
      |  FROM cand c
      |  JOIN sigs sa ON sa.file_id = c.a
      |  JOIN sigs sb ON sb.file_id = c.b AND sb.j = sa.j
      |  GROUP BY c.a, c.b
      |), cand2 AS (
      |  SELECT a, b FROM skagree WHERE agree >= __SKMIN__
      |), shc AS (
      |  SELECT file_id, count(*) AS n FROM shingles GROUP BY file_id
      |), inter AS (
      |  SELECT c.a, c.b, count(*) AS ni
      |  FROM cand2 c
      |  JOIN shingles s1 ON s1.file_id = c.a
      |  JOIN shingles s2 ON s2.file_id = c.b AND s1.x = s2.x
      |  GROUP BY c.a, c.b
      |), verified AS (
      |  SELECT a, b, jaccard FROM (
      |    SELECT i.a, i.b,
      |           CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS jaccard
      |    FROM inter i
      |    JOIN shc ca ON ca.file_id = i.a
      |    JOIN shc cb ON cb.file_id = i.b)
      |  WHERE jaccard >= 0.7
      |), verts AS (
      |  SELECT file_id FROM reps
      |), ee AS (
      |  SELECT DISTINCT s, d FROM (
      |    SELECT a AS s, b AS d FROM verified
      |    UNION ALL SELECT b, a FROM verified
      |    UNION ALL SELECT file_id, file_id FROM verts)
      |), reach(s, d) AS (
      |  SELECT s, d FROM ee
      |  UNION SELECT reach.s, ee.d FROM reach JOIN ee ON reach.d = ee.s
      |), clusters AS (
      |  SELECT s AS file_id, min(d) AS cluster_id FROM reach GROUP BY s
      |)
      |""".stripMargin

  /** Full prefix: the corpus CTEs + near CTEs under WITH RECURSIVE (the
    * marker is harmless for the non-recursive queries and required for the
    * transitive-closure clusters oracle). */
  private def n(sql: String): String =
    "WITH RECURSIVE " + Oracle.corpusCte.trim.stripPrefix("WITH ") + ",\n" +
      nearCtes() + sql

  /** Prefix for the skew fixture: corpus ∪ the boilerplate family
    * (Tables.skewCorpus twin) + the near CTEs under a biting bucket cap. */
  private def skew(cap: Int, family: Int, sql: String): String =
    s"""WITH RECURSIVE corpus0 AS (
       |${Oracle.corpus0Body}
       |  UNION ALL
       |  SELECT 5000000 + i, 'boiler', concat('gen_', i, '.txt'), 'c0',
       |         lang, text || ' boilerplate variant ' || CAST(i AS VARCHAR)
       |  FROM (SELECT lang, text FROM documents WHERE doc_id = 0),
       |       (SELECT unnest(generate_series(0, ${family - 1})) AS i)
       |), corpus AS (
       |  SELECT *, CAST(length(content) AS BIGINT) AS size FROM corpus0
       |),
       |""".stripMargin + nearCtes(cap) + sql

  /** LSH pairs over ALL scanned rows (no exact-dup rep collapse) — the
    * batch twin of the STREAMING candidate tier, whose per-bucket state
    * cannot assume a prior rep-collapse pass. Same shingle/MinHash/band
    * formulas as nearCtes, sourced from the raw scan. */
  private val lshAllSql: String = {
    val cap = graft.near.NearConfig().maxBucket
    s"""WITH ${Oracle.corpusCte.trim.stripPrefix("WITH ")},
       |scn AS (
       |  SELECT file_id, content FROM corpus WHERE size >= 5
       |), shingles AS (
       |  SELECT DISTINCT file_id,
       |    (CAST(ascii(substr(content, CAST(i AS INT)    , 1)) AS BIGINT) * 4294967296 +
       |     CAST(ascii(substr(content, CAST(i AS INT) + 1, 1)) AS BIGINT) * 16777216 +
       |     CAST(ascii(substr(content, CAST(i AS INT) + 2, 1)) AS BIGINT) * 65536 +
       |     CAST(ascii(substr(content, CAST(i AS INT) + 3, 1)) AS BIGINT) * 256 +
       |     CAST(ascii(substr(content, CAST(i AS INT) + 4, 1)) AS BIGINT)) % 2147483647 AS x
       |  FROM (SELECT file_id, content,
       |               unnest(generate_series(1, length(content) - 4)) AS i
       |        FROM scn)
       |), perms AS (
       |  SELECT j, (j + 1) * 2654435761 % 2147483646 + 1 AS a,
       |         (j + 1) * 2654435497 % 2147483647 AS b
       |  FROM (SELECT unnest(generate_series(0, 127)) AS j)
       |), sigs AS (
       |  SELECT file_id, j, min((a * x + b) % 2147483647) AS sig
       |  FROM shingles CROSS JOIN perms GROUP BY file_id, j
       |), bands AS (
       |  SELECT file_id, CAST(j // 8 AS BIGINT) AS band_idx,
       |         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j) AS band_key
       |  FROM sigs GROUP BY file_id, j // 8
       |), bandsk AS (
       |  SELECT * FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= $cap
       |)
       |SELECT DISTINCT l.file_id AS a, r.file_id AS b
       |FROM bandsk l JOIN bandsk r
       |  ON l.band_idx = r.band_idx AND l.band_key = r.band_key
       |WHERE l.file_id < r.file_id""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "q_lsh_pairs_all" -> lshAllSql,

    "q_reps" -> n(
      "SELECT file_id, repo, path, size FROM reps"),

    "q_shingle_count" -> n(
      "SELECT file_id, n AS n_shingles FROM shc"),

    "q_minhash_bands" -> n(
      "SELECT file_id, band_idx, band_key FROM bands"),

    "q_lsh_pairs" -> n(
      "SELECT a, b FROM lsh_pairs"),

    "q_simhash" -> n(
      "SELECT file_id, simhash FROM simhashes"),

    "q_simhash_pairs" -> n(
      "SELECT a, b FROM sim_pairs"),

    "q_neardup_pairs" -> n(
      "SELECT a, b, jaccard FROM verified"),

    "q_neardup_clusters" -> n(
      "SELECT file_id, cluster_id FROM clusters"),

    // the composed cleaning pipeline: quality gate → exact collapse →
    // near-dup clusters → one kept doc per cluster (+ merge count)
    "q_pipeline_kept" -> (
      s"""WITH RECURSIVE corpus AS (
         |  SELECT d.doc_id AS file_id, 'docs' AS repo,
         |         concat('d_', d.doc_id) AS path, 'c0' AS "commit",
         |         d.lang, d.text AS content,
         |         CAST(length(d.text) AS BIGINT) AS size
         |  FROM documents d
         |  JOIN ${OraclePipeline.qualityScoreSubquery} qq
         |    ON qq.doc_id = d.doc_id
         |  WHERE qq.quality_score >= 0.82
         |),
         |""".stripMargin + nearCtes() +
      """, allc AS (
        |  SELECT c.file_id, cl.cluster_id
        |  FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
        |        WHERE size >= 5) c
        |  JOIN (SELECT size, h, min(file_id) AS rep_id
        |        FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
        |              WHERE size >= 5)
        |        GROUP BY size, h) r
        |    ON c.size = r.size AND c.h = r.h
        |  JOIN clusters cl ON cl.file_id = r.rep_id
        |)
        |SELECT min(file_id) AS doc_id, count(*) AS n_merged
        |FROM allc GROUP BY cluster_id
        |UNION ALL
        |SELECT min(file_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_merged
        |FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
        |      WHERE size < 5)
        |GROUP BY size, h""".stripMargin),

    // quality-aware kept representatives: same pipeline as q_pipeline_kept,
    // but the kept doc per cluster is the argmax quality (ties → lowest id)
    // and the row carries the rep's floor-scaled score
    "q_pipeline_best" -> (
      s"""WITH RECURSIVE corpus AS (
         |  SELECT d.doc_id AS file_id, 'docs' AS repo,
         |         concat('d_', d.doc_id) AS path, 'c0' AS "commit",
         |         d.lang, d.text AS content,
         |         CAST(length(d.text) AS BIGINT) AS size
         |  FROM documents d
         |  JOIN ${OraclePipeline.qualityScoreSubquery} qq
         |    ON qq.doc_id = d.doc_id
         |  WHERE qq.quality_score >= 0.82
         |),
         |""".stripMargin + nearCtes() +
      s""", allc AS (
         |  SELECT c.file_id, cl.cluster_id
         |  FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
         |        WHERE size >= 5) c
         |  JOIN (SELECT size, h, min(file_id) AS rep_id
         |        FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
         |              WHERE size >= 5)
         |        GROUP BY size, h) r
         |    ON c.size = r.size AND c.h = r.h
         |  JOIN clusters cl ON cl.file_id = r.rep_id
         |), allcq AS (
         |  SELECT a.file_id, a.cluster_id, qq.quality_score AS q
         |  FROM allc a
         |  JOIN ${OraclePipeline.qualityScoreSubquery} qq
         |    ON qq.doc_id = a.file_id
         |), ranked AS (
         |  SELECT file_id, q,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY q DESC, file_id) AS rn,
         |         count(*) OVER (PARTITION BY cluster_id) AS n_merged
         |  FROM allcq
         |), shortq AS (
         |  SELECT c.file_id, c.size, sha256(c.content) AS h,
         |         qq.quality_score AS q
         |  FROM corpus c
         |  JOIN ${OraclePipeline.qualityScoreSubquery} qq
         |    ON qq.doc_id = c.file_id
         |  WHERE c.size < 5
         |), sranked AS (
         |  SELECT file_id, q,
         |         row_number() OVER (PARTITION BY size, h
         |                            ORDER BY q DESC, file_id) AS rn,
         |         count(*) OVER (PARTITION BY size, h) AS n_merged
         |  FROM shortq
         |)
         |SELECT file_id AS doc_id, CAST(n_merged AS BIGINT) AS n_merged,
         |       q AS rep_quality
         |FROM ranked WHERE rn = 1
         |UNION ALL
         |SELECT file_id AS doc_id, CAST(n_merged AS BIGINT) AS n_merged,
         |       q AS rep_quality
         |FROM sranked WHERE rn = 1""".stripMargin),

    // planted-skew fixture under a biting cap (64): the boilerplate family's
    // hot band buckets are dropped (logged on the Spark side), sub-cap
    // buckets — paired in place by Spark's in-bucket kernel — still pair;
    // both engines implement identical blocking
    "q_skew_pairs" -> skew(cap = 64, family = 1000,
      "SELECT a, b FROM lsh_pairs"),

    // exact LCS via gaps-and-islands: a common substring of length L is a
    // run of L consecutive matching character positions on one diagonal
    // (i - j constant) of the match matrix; LCS = the longest island.
    // O(Σ |xa|·|xb| · char-collision) rows — bounded because candidate
    // pairs are LSH/SimHash-filtered near-identical documents.
    "q_lcs_pairs" -> n(
      """, lp AS (
        |  SELECT v.a, v.b, v.jaccard, ca.content AS xa, cb.content AS xb
        |  FROM verified v
        |  JOIN corpus ca ON ca.file_id = v.a
        |  JOIN corpus cb ON cb.file_id = v.b
        |), xi AS (
        |  SELECT a, b, i, substr(xa, CAST(i AS INT), 1) AS ch
        |  FROM (SELECT a, b, xa,
        |               unnest(generate_series(1, length(xa))) AS i FROM lp)
        |), yj AS (
        |  SELECT a, b, j, substr(xb, CAST(j AS INT), 1) AS ch
        |  FROM (SELECT a, b, xb,
        |               unnest(generate_series(1, length(xb))) AS j FROM lp)
        |), mpos AS (
        |  SELECT xi.a, xi.b, xi.i, xi.i - yj.j AS diag
        |  FROM xi JOIN yj ON yj.a = xi.a AND yj.b = xi.b AND yj.ch = xi.ch
        |), runs AS (
        |  SELECT a, b, count(*) AS run_len
        |  FROM (SELECT a, b, diag, i,
        |               i - row_number() OVER (PARTITION BY a, b, diag
        |                                      ORDER BY i) AS isl
        |        FROM mpos)
        |  GROUP BY a, b, diag, isl
        |), lcs AS (
        |  SELECT a, b, max(run_len) AS lcs_len FROM runs GROUP BY a, b
        |)
        |SELECT l.a, l.b, p.jaccard, CAST(l.lcs_len AS BIGINT) AS lcs_len,
        |       CAST(l.lcs_len AS DOUBLE) / least(length(p.xa), length(p.xb))
        |         AS lcs_ratio
        |FROM lcs l JOIN lp p ON p.a = l.a AND p.b = l.b""".stripMargin),

    "q_all_clusters" -> n(
      """SELECT c.file_id, cl.cluster_id
        |FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
        |      WHERE size >= 5) c
        |JOIN (SELECT size, h, min(file_id) AS rep_id
        |      FROM (SELECT file_id, size, sha256(content) AS h FROM corpus
        |            WHERE size >= 5)
        |      GROUP BY size, h) r
        |  ON c.size = r.size AND c.h = r.h
        |JOIN clusters cl ON cl.file_id = r.rep_id""".stripMargin)
  )
}
