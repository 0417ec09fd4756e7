package graft.oracle

import graft.rules._
import graft.synth.FilesTable

/** Renders the engine's rule set into DuckDB SQL for the driver's oracle
  * compare. The rule objects in [[graft.rules.FileRules]] are the single
  * source of truth — both the Spark plan and this SQL derive from them,
  * so a rule edit cannot desynchronize the two sides.
  */
object DuckSql {

  private def q(c: String): String = if (c == "commit") "\"commit\"" else c

  /** [[graft.validate.Verdicts.org]] in DuckDB SQL: the org of `repo`,
    * with the same `__null__` / `__empty__` sentinels for a NULL repo
    * and an empty org. */
  private def org(repo: String): String =
    s"CASE WHEN $repo IS NULL THEN '__null__' " +
      s"WHEN split_part($repo, '/', 1) = '' THEN '__empty__' " +
      s"ELSE split_part($repo, '/', 1) END"

  /** DuckDB boolean expression that is TRUE when the row VIOLATES r. */
  def violationCond(r: RowRule): String = {
    val c = q(r.column)
    r match {
      case Required(_, _) => s"$c IS NULL"
      case Pattern(_, _, rx) =>
        s"$c IS NOT NULL AND NOT regexp_matches($c, '${rx.replace("'", "''")}')"
      case EnumIn(_, _, vs) =>
        s"$c IS NOT NULL AND $c NOT IN (${vs.map(v => s"'$v'").mkString(", ")})"
      // of IS NULL arm mirrors Rules.Sha256Invariant's null-source guard:
      // in SQL, c <> sha256(NULL) is NULL and the row would silently
      // drop from the violation set the Spark side reports
      case Sha256Invariant(_, _, of) =>
        s"($c IS NULL OR ${q(of)} IS NULL OR $c <> sha256(${q(of)}))"
      case TypeIs(_, _, dt) =>
        s"$c IS NOT NULL AND TRY_CAST($c AS ${dt.sql}) IS NULL"
      case Check(id, _, _) =>
        sys.error(s"Check rule '$id' has no SQL rendering; supply oracle manually")
    }
  }

  /** UNION ALL of one SELECT per row rule over files_all (assumes the
    * [[FilesTable.cte]] prefix is in scope). */
  def violationsUnion(rules: Seq[RowRule]): String =
    rules.map { r =>
      s"""SELECT '${r.id}' AS rule_id, '${r.column}' AS col_name, repo, path, "commit", CAST(${q(r.column)} AS VARCHAR) AS observed
         |FROM files_all WHERE ${violationCond(r)}""".stripMargin
    }.mkString("\nUNION ALL\n")

  val cte: String = FilesTable.cte

  def vViolations: String = cte + violationsUnion(FileRules.rowRules)

  /** Oracle for the mapGroupsWithState stream (v_stream_totals): the
    * final cumulative state per rule must equal the batch violation
    * count. Rules with zero violations appear on neither side. */
  def vRuleTotals: String =
    cte + s""", v AS (${violationsUnion(FileRules.rowRules)})
       |SELECT rule_id, CAST(COUNT(*) AS BIGINT) AS total
       |FROM v GROUP BY 1""".stripMargin

  def vVerdicts: String = {
    val ruleValues = FileRules.rowRules.map(r => s"('${r.id}')").mkString(", ")
    cte +
      s""", viol AS (
         |  SELECT ${org("repo")} AS part, rule_id, COUNT(*) AS n
         |  FROM (${violationsUnion(FileRules.rowRules)}) GROUP BY 1, 2
         |), orgs AS (SELECT DISTINCT ${org("repo")} AS part FROM files_all),
         |rules(rule_id) AS (VALUES $ruleValues)
         |SELECT o.part, r.rule_id,
         |  CAST(COALESCE(v.n, 0) AS BIGINT) AS violation_count,
         |  COALESCE(v.n, 0) = 0 AS pass
         |FROM orgs o CROSS JOIN rules r
         |LEFT JOIN viol v ON v.part = o.part AND v.rule_id = r.rule_id""".stripMargin
  }

  def vUniqueDups: String = cte +
    """SELECT repo, path, "commit", CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM files_all GROUP BY 1, 2, 3 HAVING COUNT(*) > 1""".stripMargin

  def vRefOrphans: String = cte +
    """SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM files_all WHERE repo NOT IN (SELECT repo FROM repo_manifest)
      |GROUP BY 1""".stripMargin

  def vProfile(cols: Seq[String]): String = cte +
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT(${q(c)}) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT ${q(c)}) AS BIGINT) AS n_distinct,
         |  CAST(MIN(LENGTH(${q(c)})) AS BIGINT) AS min_len,
         |  CAST(MAX(LENGTH(${q(c)})) AS BIGINT) AS max_len
         |FROM files_all""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Point lookup through the bucket partition transform ≡ a full-scan
    * filter (the transform is lossless): the probed commits are the
    * corpus derivation md5('c'||doc_id)[:12] for doc_ids 11 / 3 / 500 —
    * 11 is a planted duplicate, witnessing multi-row hits. */
  def vPointLookup: String = cte +
    """SELECT repo, path, "commit", lang, content_sha256, doc_id
      |FROM files_all
      |WHERE "commit" IN (substr(md5('c11'), 1, 12),
      |                   substr(md5('c3'), 1, 12),
      |                   substr(md5('c500'), 1, 12))""".stripMargin

  /** Schema evolution: history orgs (first half of the sorted distinct
    * org list — the same splitAt the Spark side uses) committed before
    * the `license` column existed read back as typed NULLs; appended
    * orgs carry the doc_id-derived license. */
  def vSchemaEvolve: String = cte +
    s""", orgs_ranked AS (
      |  SELECT o, row_number() OVER (ORDER BY o) AS rn, COUNT(*) OVER () AS n
      |  FROM (SELECT DISTINCT ${org("repo")} AS o FROM files_all)
      |)
      |SELECT f.repo, f.path, f."commit", f.lang, f.content_sha256, f.doc_id,
      |  CASE WHEN r.rn <= greatest(1, r.n // 2) THEN NULL
      |       ELSE CASE f.doc_id % 4 WHEN 0 THEN 'mit' WHEN 1 THEN 'apache2'
      |                 WHEN 2 THEN 'gpl3' ELSE 'bsd' END END AS license
      |FROM files_all f
      |JOIN orgs_ranked r ON ${org("f.repo")} = r.o""".stripMargin

  /** Incremental drift: PSI between the history cohort (first half of
    * the sorted distinct org list — the same splitAt as the Spark side)
    * and the appended cohort, over the content-length histogram. Same
    * bucket width, ε-floor and rounding as [[vDriftPsi]]. */
  def vDriftIncr(bucketWidth: Int): String = cte +
    s""", orgs_ranked AS (
       |  SELECT o, row_number() OVER (ORDER BY o) AS rn, COUNT(*) OVER () AS n
       |  FROM (SELECT DISTINCT ${org("repo")} AS o FROM files_all)
       |), hist AS (
       |  SELECT CAST(FLOOR(LENGTH(f.content) / $bucketWidth) AS BIGINT) AS bucket,
       |    SUM(CASE WHEN r.rn <= greatest(1, r.n // 2) THEN 1 ELSE 0 END) AS c0,
       |    SUM(CASE WHEN r.rn <= greatest(1, r.n // 2) THEN 0 ELSE 1 END) AS c1
       |  FROM files_all f JOIN orgs_ranked r ON ${org("f.repo")} = r.o
       |  WHERE f.content IS NOT NULL GROUP BY 1
       |), p AS (
       |  SELECT GREATEST(CAST(c0 AS DOUBLE) / SUM(c0) OVER (), CAST(0.000001 AS DOUBLE)) AS p0,
       |         GREATEST(CAST(c1 AS DOUBLE) / SUM(c1) OVER (), CAST(0.000001 AS DOUBLE)) AS p1
       |  FROM hist
       |)
       |SELECT ROUND(SUM((p1 - p0) * LN(p1 / p0)), 9) AS psi FROM p""".stripMargin

  /** MERGE/upsert by commit key: rows of updated commits replaced
    * (lang → 'eo', one row per doc_id — every updated commit is a
    * planted duplicate, so BOTH copies collapse to the single update
    * row: delete-then-insert), two brand-new rows inserted. Mirrors
    * SparkEntry v_upsert's update set. */
  def vUpsert: String = cte +
    """, upd AS (
      |  SELECT repo, path, "commit", CAST('eo' AS VARCHAR) AS lang,
      |         content_sha256, doc_id
      |  FROM files_base WHERE doc_id % 1010 = 11
      |), news AS (
      |  SELECT 'neworg/repo' AS repo,
      |         'src/new_' || CAST(range AS VARCHAR) AS path,
      |         substr(md5('n' || CAST(range AS VARCHAR)), 1, 12) AS "commit",
      |         'en' AS lang,
      |         sha256('new' || CAST(range AS VARCHAR)) AS content_sha256,
      |         1000000 + range AS doc_id
      |  FROM range(0, 2)
      |), allupd AS (SELECT * FROM upd UNION ALL SELECT * FROM news)
      |SELECT repo, path, "commit", lang, content_sha256, doc_id
      |FROM files_all
      |WHERE "commit" NOT IN (SELECT "commit" FROM allupd)
      |UNION ALL SELECT * FROM allupd""".stripMargin

  /** Row-level copy-on-write delete: the surviving rows after purging
    * the doc_id range [0, 63] — the first range partition (width 64 so
    * even the 500-doc gate corpus spans several partitions). */
  def vDeleteRows: String = cte +
    """SELECT repo, path, "commit", lang, content_sha256, doc_id
      |FROM files_all WHERE doc_id NOT BETWEEN 0 AND 63""".stripMargin

  /** Exact-mergeable fields of the incremental profile: the Spark side
    * computes these by aggregating per-partition profile ROWS (zero
    * data rescans); the oracle recomputes them from the full corpus. */
  def vProfileIncr: String = cte +
    """SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
      |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
      |  CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
      |FROM files_all""".stripMargin

  // ---- graph (GraphEmit) ----

  private val fileVid = """'file:' || repo || '/' || path || '@' || "commit""""

  def gVertices: String = cte +
    s"""SELECT DISTINCT $fileVid AS _id, 'File' AS _label, lang FROM files_all
       |UNION ALL
       |SELECT 'repo:' || repo AS _id, 'Repo' AS _label, CAST(NULL AS VARCHAR) AS lang
       |FROM repo_manifest""".stripMargin

  def gEdges: String = cte +
    s""", e AS (
       |  SELECT DISTINCT $fileVid AS _from, 'repo:' || repo AS _to, 'in_repo' AS _label
       |  FROM files_all
       |)
       |SELECT _from, _to, _label, md5(_from || '>' || _to) AS _id FROM e""".stripMargin

  def gOrphanEdges: String = cte +
    s""", e AS (
       |  SELECT DISTINCT $fileVid AS _from, 'repo:' || repo AS _to, 'in_repo' AS _label
       |  FROM files_all
       |)
       |SELECT md5(_from || '>' || _to) AS _id, _from, _to, _label FROM e
       |WHERE _to NOT IN (SELECT 'repo:' || repo FROM repo_manifest)""".stripMargin

  /** gdc-corpus schema-link edges: one per projects / phenotypes array
    * element with a non-null id (templateRequired), deduped, md5 gid
    * with the engine's `from>to#label` material. compounds / same_as
    * links bind fields absent from the corpus — no edges, mirroring
    * hasPath returning false on the Spark side. */
  def gGdcEdges(gdcDir: String): String =
    s"""WITH gdc AS (
       |  SELECT * FROM read_json('$gdcDir/gdc-case.json.gz', format='newline_delimited')
       |), e AS (
       |  SELECT DISTINCT 'case/' || id AS _from, 'project/' || p.id AS _to,
       |    'projects' AS _label
       |  FROM gdc, UNNEST(projects) AS t(p) WHERE p.id IS NOT NULL
       |  UNION ALL
       |  SELECT DISTINCT 'case/' || id, 'phenotype/' || p.id, 'phenotypes'
       |  FROM gdc, UNNEST(phenotypes) AS t(p) WHERE p.id IS NOT NULL
       |)
       |SELECT _from, _to, _label,
       |  md5(_from || '>' || _to || '#' || _label) AS _id FROM e""".stripMargin

  // ---- text analysis (TextOps) ----

  /** DuckDB left-fold polynomial hash of a BIGINT-list expression
    * (list_reduce has no seed, so prepend it). */
  private def polyFold(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $listExpr), (acc, x) -> (acc * 131 + x) % 1000000007)"

  /** char-codes of chars i..i+n-1 of `tc` as a BIGINT list. */
  private def charCodes(tc: String, from: String, n: String): String =
    s"list_transform(range($from, ($from) + ($n)), i2 -> CAST(ascii(substring($tc, CAST(i2 AS INT), 1)) AS BIGINT))"

  /** Non-empty tokens of the \s+ split — exact for any leading/trailing
    * whitespace (the TRIM-guarded form stripped spaces only and
    * overcounted on trailing newlines; mirrors TextOps.wsTokenCount). */
  private def wsTokensOf(c: String): String =
    s"""CAST(len(list_filter(string_split_regex($c, '\\s+'), t -> t <> '')) AS BIGINT)"""
  private val wsTokensSql: String = wsTokensOf("text")

  def tTokens: String =
    s"""SELECT doc_id,
       |  $wsTokensSql AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
       |FROM documents""".stripMargin

  /** The language-heuristic / quality-score EXPRESSIONS, shared by the
    * standalone t_* oracles and the composite pipeline oracle. */
  private val langCaseSql: String =
    """CASE
      |  WHEN len(regexp_extract_all(text, '\b(the|and|of)\b')) >= 2 THEN 'en'
      |  WHEN len(regexp_extract_all(text, '\b(le|la|et)\b')) >= 2 THEN 'fr'
      |  WHEN len(regexp_extract_all(text, '\b(der|und|die)\b')) >= 2 THEN 'de'
      |  WHEN len(regexp_extract_all(text, '\b(el|los|y)\b')) >= 2 THEN 'es'
      |  ELSE 'und' END""".stripMargin

  private val qualitySql: String =
    """ROUND((
      |  CASE WHEN LENGTH(text) >= 100 AND LENGTH(text) <= 10000 THEN CAST(1 AS DOUBLE)
      |       WHEN LENGTH(text) < 100 THEN CAST(LENGTH(text) AS DOUBLE) / 100
      |       ELSE CAST(10000 AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE) END
      |  + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |           / GREATEST(CAST(LENGTH(text) AS DOUBLE), CAST(1 AS DOUBLE)) <= 0.2
      |         THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
      |  + CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|a|to)\b')) >= 3 THEN CAST(1 AS DOUBLE)
      |         ELSE CAST(len(regexp_extract_all(text, '\b(the|and|of|a|to)\b')) AS DOUBLE) / 3 END
      |) / 3, 6)""".stripMargin

  def tLangid: String =
    s"SELECT doc_id, $langCaseSql AS lang_guess\nFROM documents"

  def tQuality: String =
    s"SELECT doc_id, $qualitySql AS quality\nFROM documents"

  /** The composite training-data pipeline: language filter → quality
    * filter → exact dedup (min-id winner) → the full near-dup chain
    * (shingle/minhash/LSH/jaccard/min-label clusters) over the KEPT
    * corpus → survivors with their per-doc stats. Every stage reuses
    * the SAME fragment its standalone oracle uses, so the composite
    * certifies the stages COMPOSE, not just that each works alone. */
  def pTrainPipeline: String =
    s"WITH RECURSIVE $augCte,\n" +
      s"""scored AS (
         |  SELECT doc_id, text, $langCaseSql AS lang_guess, $qualitySql AS quality
         |  FROM aug
         |),
         |filtered AS (
         |  SELECT * FROM scored WHERE lang_guess <> 'und' AND quality >= 0.5
         |),
         |exact_keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
         |),
         |kept AS (
         |  SELECT f.* FROM filtered f JOIN exact_keep k ON f.doc_id = k.doc_id
         |)""".stripMargin +
      minhashChain("kept") + jaccardPairsCte + clusterTail +
      s"""
         |SELECT k.doc_id, k.lang_guess, k.quality,
         |  ${wsTokensOf("k.text")} AS ws_tokens
         |FROM kept k
         |WHERE k.doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin

  def tFingerprint: String =
    s"""SELECT doc_id,
       |  CASE WHEN LENGTH(text) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE ${polyFold(charCodes("text", "1", "LEAST(LENGTH(text), 64)"))} END AS fp
       |FROM documents""".stripMargin

  // ---- dedup ----

  def dDedupExact: String =
    // WHERE mirrors the engine: null text is missing content, not a
    // duplicate group (md5(null) would lump all nulls together)
    "SELECT md5(text) AS digest, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id " +
      "FROM documents WHERE text IS NOT NULL GROUP BY 1"

  /** The augmented dedup corpus (planted ' zz' near-dups), as a CTE
    * body reusable by the standalone dedup oracles AND the composite
    * training-pipeline oracle. */
  private val augCte: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 25 = 0
      |)""".stripMargin

  /** The token-hash → shingle → MinHash-signature → banded-bucket chain
    * over an arbitrary (doc_id, text) CTE — appended after a WITH that
    * already defines `corpus`. */
  private def minhashChain(corpus: String): String = {
    val tokHash = polyFold(charCodes("t", "1", "LENGTH(t)"))
    s""", th AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(TRIM(text), '\\s+'), t -> $tokHash) AS h
       |  FROM $corpus
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(h) < 3 THEN CAST([] AS BIGINT[])
       |    ELSE list_distinct(list_transform(range(1, len(h) - 1),
       |      i -> ((h[CAST(i AS INT)] * 131 + h[CAST(i + 1 AS INT)]) % 1000000007 * 131
       |            + h[CAST(i + 2 AS INT)]) % 1000000007)) END AS shingles
       |  FROM th
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0, 16), i ->
       |    list_min(list_transform(shingles, x -> ((2 * i + 1) * x + 7 * i + 3) % 1000000007))) AS sig
       |  FROM sh
       |), banded AS (
       |  SELECT doc_id, b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(0, 4), r -> sig[CAST(b * 4 + r + 1 AS INT)])),
       |      (acc, x) -> (acc * 131 + x % 1000000) % 1000000007) AS bucket
       |  FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b) bands
       |)""".stripMargin
  }

  private def minhashCtes: String = s"WITH $augCte" + minhashChain("aug")

  private val minhashPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin

  def dMinhashPairs: String = minhashCtes + "\n" + minhashPairsSelect

  def dJaccardVerify: String =
    minhashCtes + jaccardPairsCte + "\nSELECT id_a, id_b, jaccard FROM jp"

  /** Jaccard-verified pair CTEs (cand + jp, jp carrying the rounded
    * jaccard) appended to [[minhashCtes]] — the ONE place the pairing
    * predicate and threshold live. */
  private def jaccardPairsCte: String =
    s""", cand AS (
       |$minhashPairsSelect
       |), jp AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT p.id_a, p.id_b,
       |      ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
       |    FROM cand p
       |    JOIN sh a ON a.doc_id = p.id_a
       |    JOIN sh b ON b.doc_id = p.id_b
       |  ) WHERE jaccard >= 0.8
       |)""".stripMargin

  /** Connected components over the verified pairs via a recursive CTE:
    * reach(id, r) = ids reachable from r; min reachable id = the
    * cluster label, replaying the engine's min-label propagation. */
  private val clusterTail: String =
    s""", edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jp
       |  UNION SELECT id_b, id_a FROM jp
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
       |), clusters AS (
       |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |)""".stripMargin

  private def clusterCtes: String =
    minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + jaccardPairsCte +
      clusterTail

  def dDedupClusters: String = clusterCtes + "\nSELECT id, cluster_id FROM clusters"

  def dDedupSurvivors: String = clusterCtes +
    """
      |SELECT doc_id FROM aug
      |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin

  def qFieldProcess: String =
    """SELECT doc_id, lang, tok FROM
      |  (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      |WHERE LENGTH(tok) > 5""".stripMargin

  def vDriftLang: String = cte +
    """, cnt AS (
      |  SELECT COALESCE(lang, '__null__') AS v,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS c1
      |  FROM files_all GROUP BY 1
      |), p AS (
      |  SELECT CAST(c0 AS DOUBLE) / CAST(SUM(c0) OVER () AS DOUBLE) AS p0,
      |         CAST(c1 AS DOUBLE) / CAST(SUM(c1) OVER () AS DOUBLE) AS p1
      |  FROM cnt
      |)
      |SELECT ROUND(SUM(ABS(p0 - p1)) / 2, 9) AS tv_dist FROM p""".stripMargin

  def vLenHist(cols: Seq[String], width: Int): String = cte +
    cols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(FLOOR(LENGTH(${q(c)}) / $width) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM files_all WHERE ${q(c)} IS NOT NULL GROUP BY 1, 2""".stripMargin
    }.mkString("\nUNION ALL\n")

  def vSaltedHot: String = cte +
    "SELECT repo, CAST(COUNT(*) AS BIGINT) AS n_rows FROM files_all GROUP BY 1"

  private def simhashSql(tc: String): String = {
    val tokHash = polyFold(charCodes("t", "1", "LENGTH(t)"))
    s"""CAST(list_sum(list_transform(range(0, 16), b -> CASE WHEN
       |    2 * len(list_filter(
       |          list_transform(string_split_regex(TRIM($tc), '\\s+'), t -> $tokHash),
       |          h -> (h // (CAST(1 AS BIGINT) << b)) % 2 = 1))
       |      >= len(string_split_regex(TRIM($tc), '\\s+'))
       |  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
  }

  def dSimhash: String =
    s"SELECT doc_id, ${simhashSql("text")} AS simhash16\nFROM documents"

  def dSimhashPairs: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 25 = 0
       |), sh AS (
       |  SELECT doc_id, ${simhashSql("text")} AS sig FROM aug
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 2""".stripMargin

  /** (a * c) mod 2^64 in DuckDB HUGEINT via 32-bit limbs — a full
    * 64x64 product can overflow even INT128, so the high limbs are
    * folded mod 2^32 first. `c` is a compile-time constant. */
  private def mulMod64(z: String, c: BigInt): String = {
    val ch = c >> 32
    val cl = c & 0xFFFFFFFFL
    s"""(((($z) % 4294967296) * $cl +
       |  (((($z) % 4294967296) * $ch + (($z) // 4294967296) * $cl) % 4294967296)
       |  * CAST('4294967296' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
  }

  /** The 64-bit simhash oracle: the same token polynomial hashes as
    * [[dSimhashPairs]], widened through the splitmix64 finalizer
    * (SrpBucket.mix) with its WRAPPING u64 adds/multiplies emulated in
    * HUGEINT mod-2^64 arithmetic, staged one mix step per CTE (inlining
    * the multiply-mod five references deep would explode the expression
    * tree). Bit votes and the all-pairs hamming filter replay
    * Dedup.simhashPairs64's banded result exactly — banding is
    * output-invariant (pigeonhole-exact), so the oracle skips it. */
  def xSimhash64Pairs: String = {
    val tokHash = polyFold(charCodes("t", "1", "LENGTH(t)"))
    val p64 = "CAST('18446744073709551616' AS HUGEINT)"
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 25 = 0
       |), tok AS (
       |  SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS t FROM aug
       |), th AS (
       |  SELECT doc_id, $tokHash AS h FROM tok
       |), m1 AS (
       |  SELECT doc_id, (CAST(h AS HUGEINT) + CAST('11400714819323198485' AS HUGEINT)) % $p64 AS z FROM th
       |), m2 AS (SELECT doc_id, xor(z, z // 1073741824) AS z FROM m1
       |), m3 AS (SELECT doc_id, ${mulMod64("z", BigInt("BF58476D1CE4E5B9", 16))} AS z FROM m2
       |), m4 AS (SELECT doc_id, xor(z, z // 134217728) AS z FROM m3
       |), m5 AS (SELECT doc_id, ${mulMod64("z", BigInt("94D049BB133111EB", 16))} AS z FROM m4
       |), m6 AS (SELECT doc_id, xor(z, z // 2147483648) AS z FROM m5
       |), pw AS (SELECT unnest(range(64)) AS b
       |), votes AS (
       |  SELECT m6.doc_id, pw.b,
       |    SUM(CASE WHEN (z // (CAST(1 AS HUGEINT) << CAST(pw.b AS INT))) % 2 = 1 THEN 1 ELSE 0 END) AS ones,
       |    COUNT(*) AS n
       |  FROM m6, pw GROUP BY 1, 2
       |), sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN 2 * ones >= n THEN (CAST(1 AS HUGEINT) << CAST(b AS INT)) ELSE CAST(0 AS HUGEINT) END) AS s
       |  FROM votes GROUP BY 1
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
       |FROM sig a, sig b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.s, b.s)) <= 2""".stripMargin
  }

  /** Oracle for the RFC 4122 v5 (sha1) name uuid: DuckDB 1.0 has no
    * sha1, so the digest values come from a CPython-computed golden
    * parquet (tools/gen_uuid5_golden.py — CPython `uuid.uuid5` is an
    * independent implementation of the RFC). Only the uids are golden:
    * the (repo, path, commit) keys are derived LIVE from the current sf
    * dir through the shared [[cte]], and the inner join on the full
    * name string means any derivation drift or missing golden name
    * drops rows → row-count mismatch → red, never a silent pass.
    * Reference semantics: transform/uuid.go:21-48. */
  def xUuid5(fixturesDir: String): String = cte +
    s"""SELECT f.repo, f.path, f."commit", g.uid AS uid
       |FROM files_all f
       |JOIN read_parquet('$fixturesDir/uuid5_golden.parquet') g
       |  ON g.name = f.repo || '/' || f.path || '@' || f."commit"""".stripMargin

  private val cosFold: String =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(va) + 1), i -> va[CAST(i AS INT)] * vb[CAST(i AS INT)])),
      |  (acc, x2) -> acc + x2)
      |/ (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(va, y -> y * y)), (a2, y2) -> a2 + y2))
      | * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vb, z -> z * z)), (a3, z2) -> a3 + z2)))""".stripMargin

  def dEmbedNearDup: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |aug AS (
       |  SELECT vec_id, v FROM e
       |  UNION ALL SELECT vec_id + 100000, list_prepend(v[1] + 0.5, v[2:]) FROM e
       |  WHERE vec_id % 20 = 0
       |), augn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, y -> y * y)),
       |      (a2, y2) -> a2 + y2)) AS nrm
       |  FROM aug
       |), scored AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len(a.v) + 1), i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
       |      (acc, x2) -> acc + x2) / (a.nrm * b.nrm), 6) AS sim
       |  FROM augn a, augn b WHERE a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.8""".stripMargin

  // ---- similarity ----

  def sAnnTopk: String =
    """WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
      |      FROM embeddings),
      |scored AS (
      |  SELECT qid, nid, ROUND(
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, len(qv) + 1), i -> qv[CAST(i AS INT)] * nv[CAST(i AS INT)])),
      |      (acc, v) -> acc + v)
      |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(qv, v -> v * v)), (a2, v) -> a2 + v))
      |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(nv, v -> v * v)), (a3, v) -> a3 + v))), 6) AS sim
      |  FROM c CROSS JOIN q WHERE nid <> qid
      |), r AS (
      |  SELECT qid, nid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |  FROM scored
      |)
      |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, sim FROM r WHERE rank <= 10""".stripMargin

  /** Oracle for the MULTIPROBE SRP-LSH top-k (x_ann_lsh): the
    * Rademacher hyperplanes are deterministic functions of
    * (table, plane, dim) through splitmix64, so their ±1 signs are
    * PRECOMPUTED here (graft.expr.SrpBucket.mix — the same function the
    * Spark expression calls) and embedded as literals; DuckDB then
    * replays bucketing (ordered left-fold dots — SUM would reorder the
    * float adds), the 1-bit-flip probe set, candidate join, and exact
    * cosine re-rank. Result is EXACT, not statistical: every stage of
    * the "approximate" path is deterministic. Dim is pinned to the
    * testdata embedding width. */
  def xAnnLsh(planes: Int = 4, tables: Int = 16, dim: Int = 64,
      k: Int = 10): String = {
    val signRows = (for (t <- 0 until tables; p <- 0 until planes) yield {
      val base = (t.toLong * planes + p) * 1048576L
      val sl = (0 until dim).map(j =>
        if ((graft.expr.SrpBucket.mix(base + j) & 1L) == 0L) "1" else "-1")
        .mkString("[", ",", "]")
      s"($t, $p, $sl::DOUBLE[])"
    }).mkString(",\n  ")
    val probes = (Seq("bucket") ++
      (0 until planes).map(b => s"xor(bucket, ${1L << b})")).mkString("[", ", ", "]")
    s"""WITH signs(tbl, p, sl) AS (VALUES $signRows),
       |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |dots AS (
       |  SELECT n.vec_id, signs.tbl, signs.p,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${dim + 1}), i -> signs.sl[CAST(i AS INT)] * n.v[CAST(i AS INT)])),
       |      (acc, x) -> acc + x) AS d
       |  FROM n, signs
       |), buckets AS (
       |  SELECT vec_id, tbl, SUM(CASE WHEN d >= 0 THEN (1 << (${planes - 1} - p)) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2
       |), qprobes AS (
       |  SELECT vec_id AS qid, tbl, unnest($probes) AS bucket
       |  FROM buckets WHERE vec_id < 5
       |), cand AS (
       |  SELECT DISTINCT q.qid, c.vec_id AS nid
       |  FROM qprobes q JOIN buckets c USING (tbl, bucket)
       |  WHERE c.vec_id <> q.qid
       |), scored AS (
       |  SELECT cand.qid, cand.nid, ROUND(
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, ${dim + 1}), i -> qn.v[CAST(i AS INT)] * nn.v[CAST(i AS INT)])),
       |      (acc, x) -> acc + x)
       |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(qn.v, x -> x * x)), (a2, x) -> a2 + x))
       |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(nn.v, x -> x * x)), (a3, x) -> a3 + x))), 6) AS sim
       |  FROM cand JOIN n qn ON qn.vec_id = cand.qid JOIN n nn ON nn.vec_id = cand.nid
       |), r AS (
       |  SELECT qid, nid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM scored
       |)
       |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, sim FROM r WHERE rank <= $k""".stripMargin
  }

  /** Oracle for the IVF top-k (x_ann_ivf): every stage is
    * deterministic since round 6 — seeds are the nCells smallest ids,
    * the Lloyd refinement accumulates FIXED-POINT long sums
    * ([[graft.sim.Ivf.FixedScale]]: exact, order-independent, so the
    * centroids are bit-identical under any partitioning), and every
    * float reduction is an ordered left fold. DuckDB replays seed
    * normalize → assignment (argmax dot, ties → lowest cell) → 1 Lloyd
    * step → re-assignment → nprobe probing → exact cosine re-rank.
    * The division order (sum→double, /count, /scale) and fold seeds
    * (prepend 0.0) are frozen to match the Spark side exactly. */
  def xAnnIvf(nCells: Int = 16, nprobe: Int = 4, dim: Int = 64,
      k: Int = 10, scale: Long = graft.sim.Ivf.FixedScale): String = {
    val d1 = dim + 1
    def fold(v: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform($v, x -> x * x)), (a, b) -> a + b)""".stripMargin
    def dot(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, $d1), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])),
         |      (a2, b2) -> a2 + b2)""".stripMargin
    s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, v
       |  FROM (SELECT vec_id, v FROM n ORDER BY vec_id LIMIT $nCells)
       |), c0 AS (
       |  SELECT cell, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS c
       |  FROM (SELECT cell, v, sqrt(${fold("v")}) AS nrm FROM seeds)
       |), a0 AS (
       |  SELECT n.vec_id, c0.cell, ${dot("n.v", "c0.c")} AS d FROM n, c0
       |), asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM a0
       |  ) WHERE rn = 1
       |), fx AS (
       |  SELECT t.cell, u.i AS pos,
       |    SUM(CAST(round(t.v[CAST(u.i AS INT)] * $scale) AS BIGINT)) AS fxs,
       |    COUNT(*) AS cnt
       |  FROM (SELECT asg.cell, n.v FROM asg JOIN n USING (vec_id)) t,
       |       unnest(range(1, $d1)) AS u(i)
       |  GROUP BY 1, 2
       |), mm AS (
       |  SELECT cell,
       |    list(CAST(fxs AS DOUBLE) / CAST(cnt AS DOUBLE) / CAST($scale AS DOUBLE) ORDER BY pos) AS mv
       |  FROM fx GROUP BY cell
       |), c1 AS (
       |  SELECT c0.cell, COALESCE(r0.mn, c0.c) AS c
       |  FROM c0 LEFT JOIN (
       |    SELECT cell, CASE WHEN nrm = 0 THEN mv ELSE list_transform(mv, x -> x / nrm) END AS mn
       |    FROM (SELECT cell, mv, sqrt(${fold("mv")}) AS nrm FROM mm)
       |  ) r0 ON r0.cell = c0.cell
       |), a1 AS (
       |  SELECT n.vec_id, c1.cell, ${dot("n.v", "c1.c")} AS d FROM n, c1
       |), cells AS (
       |  SELECT s1.vec_id AS nid, s1.cell, n.v AS nv, sqrt(${fold("n.v")}) AS nn
       |  FROM (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM a1
       |        ) WHERE rn = 1) s1
       |  JOIN n USING (vec_id)
       |), qtop AS (
       |  SELECT vec_id AS qid, cell
       |  FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
       |        FROM a1 WHERE vec_id < 5)
       |  WHERE rn <= $nprobe
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, sqrt(${fold("v")}) AS qn FROM n WHERE vec_id < 5
       |), scored AS (
       |  SELECT q.qid, cells.nid,
       |    ROUND(${dot("q.qv", "cells.nv")} / (q.qn * cells.nn), 6) AS sim
       |  FROM qtop JOIN q USING (qid) JOIN cells USING (cell)
       |  WHERE cells.nid <> q.qid AND q.qn > 0 AND cells.nn > 0
       |), r AS (
       |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM scored
       |)
       |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, sim FROM r WHERE rank <= $k""".stripMargin
  }

  // ---- multimodal (Multimodal.syntheticMedia is pure integer byte
  // arithmetic, so DuckDB replays it from range(500) with no table) ----

  /** Oracle for decodeMeta over the synthetic corpus: header layout and
    * the corrupt-row rule (id % 13 == 5 → invalid, width/height 0) as
    * declared in Multimodal.syntheticMedia/StubCodec. */
  def xMediaMeta: String =
    """SELECT range AS media_id,
      |  CASE WHEN range % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
      |  CAST(68 AS BIGINT) AS byte_len,
      |  CASE WHEN range % 13 = 5 THEN 0 ELSE CAST(16 + range % 64 AS INT) END AS width,
      |  CASE WHEN range % 13 = 5 THEN 0 ELSE CAST(16 + (range * 7) % 64 AS INT) END AS height,
      |  range % 13 <> 5 AS valid
      |FROM range(500)""".stripMargin

  /** Oracle for validFeatures: frame f's feature i (multiplier i+1 on
    * Spark's 0-based index = i on this 1-based range) is the mean of
    * ((body_j * i) % 251) over body bytes j = f..f+31, body_j =
    * (id*131 + j*17) % 251 — integer/32 throughout, so %.5f is exact on
    * both engines. Corrupt rows (id % 13 = 5) are dropped by the valid
    * join. */
  def xMediaFeatures: String =
    """WITH m AS (SELECT range AS id FROM range(500) WHERE range % 13 <> 5),
      |f AS (SELECT id, UNNEST([0, 1]) AS frame FROM m)
      |SELECT id AS media_id, frame,
      |  CASE WHEN id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
      |  CAST(16 + id % 64 AS INT) AS width,
      |  CAST(16 + (id * 7) % 64 AS INT) AS height,
      |  array_to_string(list_transform(range(1, 9), i ->
      |    printf('%.5f', list_sum(list_transform(range(frame, frame + 32),
      |      j -> CAST(((id * 131 + j * 17) % 251) * i % 251 AS DOUBLE))) / 32.0)), ',') AS feature_csv
      |FROM f""".stripMargin

  def vDriftKs: String = vDriftKs(FileRules.drift.bucketWidth)

  /** PSI over the same content-length histogram as the KS check,
    * ε-floored probabilities (mirrors DriftCheck.psi). */
  def vDriftPsi: String = cte +
    s""", hist AS (
       |  SELECT CAST(FLOOR(LENGTH(content) / ${FileRules.drift.bucketWidth}) AS BIGINT) AS bucket,
       |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
       |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS c1
       |  FROM files_all WHERE content IS NOT NULL GROUP BY 1
       |), p AS (
       |  SELECT GREATEST(CAST(c0 AS DOUBLE) / SUM(c0) OVER (), CAST(0.000001 AS DOUBLE)) AS p0,
       |         GREATEST(CAST(c1 AS DOUBLE) / SUM(c1) OVER (), CAST(0.000001 AS DOUBLE)) AS p1
       |  FROM hist
       |)
       |SELECT ROUND(SUM((p1 - p0) * LN(p1 / p0)), 9) AS psi FROM p""".stripMargin

  /** Width taken from the same Drift rule object the Spark side reads —
    * a config edit cannot desynchronize the two sides. */
  def vDriftKs(bucketWidth: Int): String = cte +
    s""", hist AS (
      |  SELECT CAST(FLOOR(LENGTH(content) / $bucketWidth) AS BIGINT) AS bucket,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS c1
      |  FROM files_all WHERE content IS NOT NULL GROUP BY 1
      |), cdf AS (
      |  SELECT
      |    CAST(SUM(c0) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / CAST(SUM(c0) OVER () AS DOUBLE) AS cdf0,
      |    CAST(SUM(c1) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / CAST(SUM(c1) OVER () AS DOUBLE) AS cdf1
      |  FROM hist
      |)
      |SELECT ROUND(MAX(ABS(cdf0 - cdf1)), 9) AS ks_stat FROM cdf""".stripMargin
}
