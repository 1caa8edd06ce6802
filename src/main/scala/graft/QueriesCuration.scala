package graft

import graft.functions.{Bpe, DecodeFns, OddsFns, TextFns, TimeFns}
import graft.functions.SimFns.toDouble
import graft.operators._
import graft.sources.BettingFixture
import graft.streaming.{EventStreams, WagerBook}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline curation: dedup families (exact/URL/MinHash/SimHash/
  * embedding), quality gates, packing, tokenization, sketches, sampling
  * and the corpus-prep capstones (SURVEY §2.10–§2.12). */
private[graft] trait QueriesCuration extends QueriesRelational {

  // ─────────────────────────── LLM-pipeline extensions ──────────────────────

  protected def duckToks: String =
    """CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
      |       ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin

  // Shared real-BPE oracle fragments over `documents` (the merge table and
  // recursion live in Bpe.duckBpeCtes so SQL and kernel stay in lock-step).
  // Each must appear inside a `WITH RECURSIVE`.
  protected def duckBpeBlock: String = Bpe.duckBpeCtes(duckToks, "documents")

  /** Per-doc real-BPE token count: relation `bpe_doc(doc_id, n_bpe)`. */
  protected def duckBpeDocCount: String =
    s"""bpe_wcount AS (SELECT w, CAST(len(syms) AS BIGINT) AS n FROM bpe_enc_final),
       |bpe_doc AS (SELECT d.doc_id, CAST(coalesce(sum(wc.n), 0) AS BIGINT) AS n_bpe
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id, unnest($duckToks) AS w FROM documents) u
       |    ON u.doc_id = d.doc_id
       |  LEFT JOIN bpe_wcount wc ON wc.w = u.w
       |  GROUP BY d.doc_id)""".stripMargin

  /** Per-doc flattened BPE token array: relation `bpe_docarr(doc_id, w)`
    * (documents with zero words are absent — matches the chunker's
    * "empty docs emit no chunks"). */
  protected def duckBpeDocArr: String =
    s"""bpe_docarr AS (
       |  SELECT u.doc_id, flatten(list(f.syms ORDER BY u.pos)) AS w
       |  FROM (SELECT doc_id, generate_subscripts($duckToks, 1) AS pos,
       |        unnest($duckToks) AS wd FROM documents) u
       |  JOIN bpe_enc_final f ON f.w = u.wd
       |  GROUP BY u.doc_id)""".stripMargin

  // Shared DuckDB fragments mirroring TextFns.qualityScore / langIdFromTokens
  // — single source for every oracle that gates on them (text_stats,
  // text_langid, pipeline_docs_prep). All reference columns `text` and `w`.
  protected def qualityBpSql: String =
    """CAST(floor((least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4 +
      |    (1.0 - CASE WHEN len(w) = 0 THEN 0.0
      |       ELSE least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / len(w), 1.0) END) * 0.3 +
      |    (CASE WHEN len(text) = 0 THEN 0.0
      |       ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / len(text) END) * 0.3) * 10000) AS BIGINT)""".stripMargin

  protected val langScoreSets: Seq[(String, String)] =
    TextFns.LangMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => s"'$m'").mkString("(", ", ", ")")
    }
  protected val langScoresSql: String = langScoreSets.map { case (lang, inList) =>
    s"len(list_filter(w, t -> t IN $inList)) AS s_$lang"
  }.mkString(", ")
  protected val langBestSql: String =
    s"greatest(${langScoreSets.map("s_" + _._1).mkString(", ")})"
  protected val langCaseSql: String = langScoreSets
    .map { case (l, _) => s"WHEN s_$l = best AND s_$l > 0 THEN '$l'" }.mkString(" ")

  /** The LangIdModel argmax CASE (priority tie-break = [[graft.functions.
    * LangIdModel.Langs]] order, `und` with zero trigrams) — ONE copy of
    * the load-bearing prediction text, shared by the standalone
    * text_langid_model oracle and the curation-gate chain. */
  protected def langArgmaxCaseSql: String =
    """CASE WHEN ntg = 0 THEN 'und'
      |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END""".stripMargin

  /** Model-language CTE chain over `documents` — ends in relation
    * `mlang(doc_id, <carry aliases>, s_en..s_es, predicted_lang)`: the
    * LangIdModel re-derivation (trigrams → md5-nibble hash buckets →
    * pinned integer weights → [[langArgmaxCaseSql]]). `carry` lists
    * (baseExpr, alias) columns pulled from `documents` and threaded
    * through the chain (text_langid_model carries the label; the gate
    * carries nothing). Pre-stripped so callers embed it verbatim. */
  protected def langModelCtes(carry: Seq[(String, String)] = Nil): String = {
    import graft.functions.LangIdModel
    val cSel = carry.map { case (e, a) => s", $e AS $a" }.mkString
    val cFwd = carry.map { case (_, a) => s", $a" }.mkString
    val scoreCols = LangIdModel.Langs.zipWithIndex.map { case (l, i) =>
      s"${LangIdModel.scoreSql("bk", "wall", i)} AS s_$l"
    }.mkString(",\n  ")
    s"""mbase AS (SELECT doc_id$cSel, lower(text) AS t FROM documents),
       |mtg AS (SELECT doc_id$cFwd, ${LangIdModel.trigramsSql("t")} AS tg FROM mbase),
       |mbk AS (SELECT doc_id$cFwd, len(tg) AS ntg,
       |  list_transform(tg, g -> ${LangIdModel.hash16Sql("g")} % ${LangIdModel.B}) AS bk FROM mtg),
       |msc AS (SELECT doc_id$cFwd, ntg,
       |  $scoreCols
       |  FROM (SELECT *, ${LangIdModel.flatWeightsSql} AS wall FROM mbk)),
       |mlang AS (SELECT doc_id$cFwd, s_en, s_de, s_fr, s_es,
       |  $langArgmaxCaseSql AS predicted_lang FROM msc)""".stripMargin
  }

  protected def duckShingles(n: Int) =
    s"""CASE WHEN len(w) >= $n
      |  THEN list_transform(generate_series(1, len(w) - ${n - 1}),
      |         i -> ${(0 until n).map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")})
      |  ELSE [array_to_string(w, ' ')] END""".stripMargin

  protected val dedupExact = Q("dedup_exact",
    (s, dir) => Dedup.exact(Tables.documents(s, dir)),
    Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin))

  /** Canonical-URL dedup (Dedup.urlDedup — the cheapest crawl-dedup tier,
    * VERDICT r8 #8). The synthetic corpus has no URL column, so the query
    * PLANTS one per document from its key (same posture as
    * text_pii_redact): scheme/host case, www., default port, trailing
    * slash, tracking params and param order all vary by doc_id residues
    * and must collapse to one canonical form. The oracle replays the
    * identical normalization in DuckDB — hash-exact. */
  /** The planted URL column both URL-dedup queries share: scheme/host
    * case, userinfo, www., default port, trailing slash, tracking params
    * (incl. a bare `&fbclid`) and param order all vary by doc_id residues
    * and must collapse to one canonical form. Scala + SQL twins kept
    * adjacent (the canonicalUrlSql convention). */
  protected def plantedUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP")).otherwise(lit("http")),
      lit("://"),
      when(pmod(col("doc_id"), lit(6)) === 0, lit("User:Pw@")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), pmod(col("doc_id"), lit(40)).cast("string"), lit(".Example.COM"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit(":80")).otherwise(lit("")),
      lit("/Docs/Page"), pmod(col("doc_id"), lit(20)).cast("string"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&b="), pmod(col("doc_id"), lit(7)).cast("string"),
      when(pmod(col("doc_id"), lit(8)) === 0, lit("&fbclid")).otherwise(lit("")),
      lit("&a=1")).as("url"))

  protected def plantedUrlSql: String =
    """SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
      |  (CASE WHEN doc_id % 6 = 0 THEN 'User:Pw@' ELSE '' END) ||
      |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |  'Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.COM' ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
      |  '/Docs/Page' || CAST(doc_id % 20 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |  '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 8 = 0 THEN '&fbclid' ELSE '' END) || '&a=1' AS url
      |  FROM documents""".stripMargin

  protected val dedupUrl = Q("dedup_url",
    (s, dir) => Dedup.urlDedup(plantedUrls(s, dir)),
    Some(s"""WITH u AS ($plantedUrlSql),
      |c AS (SELECT doc_id, coalesce(${Dedup.canonicalUrlSql("url")},
      |    chr(0) || 'doc:' || CAST(doc_id AS VARCHAR)) AS canonical_url FROM u),
      |k AS (SELECT doc_id, canonical_url,
      |  min(doc_id) OVER (PARTITION BY canonical_url) AS keep_id FROM c)
      |SELECT doc_id, canonical_url, keep_id,
      |  CAST(doc_id = keep_id AS INTEGER) AS is_canonical FROM k""".stripMargin))

  /** Incremental canonical-URL dedup (Dedup.urlIndex +
    * urlDedupIncremental): new crawl batch (doc_id % 3 ≠ 0) anti-joined
    * against the persisted canonical-key index of the history slice —
    * the recrawl shape for the cheapest dedup tier. The history slice is
    * shaped so the anti-join path is REAL at every SF (round-10 review —
    * two failure modes): its residue is 3, which the planted canonical
    * key does NOT depend on (site %40, page %20, b %7 — gcd(3, 280) = 1;
    * the original %7 split made history and batch keys provably disjoint
    * and the suppression path dead), and it is BOUNDED at doc_id < 600
    * ("yesterday's crawl" — 200 docs covering 200 of the 280 key
    * classes), because an unbounded slice saturates the whole key space
    * at sf1 and empties the output instead. Bounded history is also the
    * production posture: the index grows with DISTINCT pages, not with
    * crawl volume. */
  protected val dedupUrlIncr = Q("dedup_url_incr",
    (s, dir) => {
      val urls = plantedUrls(s, dir)
      Dedup.urlDedupIncremental(
        urls.where(pmod(col("doc_id"), lit(3)) =!= 0),
        Dedup.urlIndex(urls.where(
          pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 600)))
    },
    Some(s"""WITH u AS ($plantedUrlSql),
      |c AS (SELECT doc_id, coalesce(${Dedup.canonicalUrlSql("url")},
      |    chr(0) || 'doc:' || CAST(doc_id AS VARCHAR)) AS canonical_url FROM u),
      |hist AS (SELECT DISTINCT canonical_url FROM c
      |         WHERE doc_id % 3 = 0 AND doc_id < 600),
      |nw AS (SELECT doc_id, canonical_url FROM c WHERE doc_id % 3 <> 0
      |  AND canonical_url NOT IN (SELECT canonical_url FROM hist)),
      |k AS (SELECT doc_id, canonical_url,
      |  min(doc_id) OVER (PARTITION BY canonical_url) AS keep_id FROM nw)
      |SELECT doc_id, canonical_url, keep_id,
      |  CAST(doc_id = keep_id AS INTEGER) AS is_canonical FROM k""".stripMargin))

  /** MinHash-LSH candidate-pair CTE chain over any (doc_id, text) relation
    * `src` — no leading WITH, so callers can prepend their own CTEs. Ends
    * in `pairs(doc_a, doc_b, jaccard)`. */
  protected def minhashPairsCtes(src: String, threshold: Double): String =
    s"""toks AS (SELECT doc_id, $duckToks AS w FROM $src),
      |sh AS (SELECT doc_id, ${duckShingles(3)} AS sh FROM toks),
      |hsx AS (SELECT doc_id, sh,
      |  list_transform(list_transform(sh, s -> md5(s)), m -> ${TextFns.md5Base28Sql("m")}) AS hs
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b.band,
      |    CASE b.band ${(0 until 4).map(b =>
             s"WHEN $b THEN ${TextFns.minhashBandNumSql("hs", b)}").mkString(" ")} END AS key
      |  FROM hsx CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |scored AS (
      |  SELECT doc_a, doc_b,
      |    ROUND(CAST(len(list_intersect(list_distinct(sa.sh), list_distinct(sb.sh))) AS DOUBLE) /
      |      (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh)) - len(list_intersect(list_distinct(sa.sh), list_distinct(sb.sh)))), 4) AS jaccard
      |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
      |pairs AS (SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= $threshold)""".stripMargin

  protected val minhashPairsSql: String =
    s"""WITH ${minhashPairsCtes("documents", 0.2)}
      |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin

  /** Banded-signature CTE chain for ONE side of an incremental join —
    * same tokenize/shingle/minhash fragments as [[minhashPairsCtes]], with
    * a `_p` suffix so two sources can band in one query. Ends in
    * `banded_<p>(doc_id, band, key)`. */
  protected def bandedCtes(src: String, p: String): String =
    s"""toks_$p AS (SELECT doc_id, $duckToks AS w FROM $src),
      |sh_$p AS (SELECT doc_id, ${duckShingles(3)} AS sh FROM toks_$p),
      |hsx_$p AS (SELECT doc_id,
      |  list_transform(list_transform(sh, s -> md5(s)), m -> ${TextFns.md5Base28Sql("m")}) AS hs
      |  FROM sh_$p),
      |banded_$p AS (
      |  SELECT doc_id, b.band,
      |    CASE b.band ${(0 until 4).map(b =>
             s"WHEN $b THEN ${TextFns.minhashBandNumSql("hs", b)}").mkString(" ")} END AS key
      |  FROM hsx_$p CROSS JOIN (VALUES (0), (1), (2), (3)) b(band))""".stripMargin

  /** Incremental exact dedup (Dedup.exactIncremental): the doc_id%7==0
    * slice plays the already-deduped history (only its md5s ship); the
    * rest is the new batch. */
  protected val dedupExactIncr = Q("dedup_exact_incr",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactIncremental(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(7)) === 0)
          .select(md5(col("text")).as("text_md5")))
    },
    Some("""WITH hist AS (SELECT md5(text) AS text_md5 FROM documents WHERE doc_id % 7 = 0)
      |SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents WHERE doc_id % 7 <> 0
      |  AND md5(text) NOT IN (SELECT text_md5 FROM hist)
      |GROUP BY 1""".stripMargin))

  /** Bloom-prefiltered incremental exact dedup (Dedup.exactIncrementalBloom):
    * the history bloom is built eagerly at query-build time — the stand-in
    * for loading a persisted artifact — and the result is bit-identical to
    * dedup_exact_incr (bloom false positives are confirmed away, false
    * negatives cannot exist), so the oracle is the same plain NOT IN
    * derivation, knowing nothing of blooms. */
  protected val dedupExactIncrBloom = Q("dedup_exact_incr_bloom",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val hist = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select(md5(col("text")).as("text_md5"))
      val bloom = Dedup.buildHashBloom(hist, "text_md5", expectedItems = 1 << 16)
      Dedup.exactIncrementalBloom(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0), hist, bloom)
    },
    Some("""WITH hist AS (SELECT md5(text) AS text_md5 FROM documents WHERE doc_id % 7 = 0)
      |SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents WHERE doc_id % 7 <> 0
      |  AND md5(text) NOT IN (SELECT text_md5 FROM hist)
      |GROUP BY 1""".stripMargin), bench = true)

  /** Incremental near-dup candidates (Dedup.minhashCandidatesIncremental):
    * new batch vs the stored band index of history + within-batch pairs.
    * The oracle re-derives both banded sides from scratch and joins them
    * the naive way; the Spark side joins the PERSISTED-index shape. */
  protected val dedupMinhashIncr = Q("dedup_minhash_incr",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashCandidatesIncremental(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        Dedup.bandIndex(docs.where(pmod(col("doc_id"), lit(7)) === 0)))
    },
    Some(s"""WITH newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
      |hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
      |${bandedCtes("newdocs", "n")},
      |${bandedCtes("hist", "h")}
      |SELECT DISTINCT n.doc_id AS doc_a, h.doc_id AS doc_b, 'history' AS origin
      |FROM banded_n n JOIN banded_h h ON n.band = h.band AND n.key = h.key
      |UNION
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 'batch' AS origin
      |FROM banded_n a JOIN banded_n b
      |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin))

  /** dedup_minhash_incr through the persisted band-key bloom prefilter:
    * bloom-negative batch band keys never reach the history join (exact —
    * an inner join drops them anyway), so the oracle is the SAME banded
    * re-derivation, bloom-invisible like dedup_exact_incr_bloom's. */
  protected val dedupMinhashIncrBloom = Q("dedup_minhash_incr_bloom",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val histIdx = Dedup.bandIndex(docs.where(pmod(col("doc_id"), lit(7)) === 0))
      val bloom = Dedup.buildBandBloom(histIdx, expectedItems = 1 << 16)
      Dedup.minhashCandidatesIncremental(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0), histIdx,
        historyBandBloom = Some(bloom))
    },
    dedupMinhashIncr.oracle)

  protected val dedupMinhashPairs = Q("dedup_minhash_pairs",
    (s, dir) => Dedup.nearDupPairs(Tables.documents(s, dir), 0.2),
    Some(minhashPairsSql), bench = true)

  /** Connected components over the near-dup pair graph; the oracle is the
    * recursive-CTE transitive closure (min reachable id per node). `pairs`
    * and `edges` are MATERIALIZED: `reach` references `edges` on every
    * recursion iteration, and without the hint DuckDB may inline (and
    * re-run) the whole minhash+Jaccard pipeline under it per iteration —
    * unnoticeable at sf0.01, a multi-minute stall per evaluation at sf1. */
  protected val dedupClusters = Q("dedup_clusters",
    (s, dir) => Dedup.nearDupClusters(Tables.documents(s, dir), 0.2),
    Some(s"""WITH RECURSIVE pairs AS MATERIALIZED ($minhashPairsSql),
      |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT a AS node, b AS reached FROM edges
      |          UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached)
      |SELECT node AS doc_id, least(node, min(reached)) AS cluster
      |FROM reach GROUP BY node""".stripMargin))

  /** Quality-argmax survivor per near-dup cluster (Dedup.qualitySurvivors):
    * keep the BEST copy of each near-dup family, not the lowest id —
    * argmax quality_bp, min-doc_id tie-break (total order ⇒ hash-exact).
    * Oracle = the dedup_clusters closure + the shared quality fragment +
    * the same first_value window. CTE names (`comp`, `q`) are load-bearing:
    * dev/check_closure_sf1.py splices a Python union-find result in place
    * of the recursive closure at sf1 by cutting at `,\nq AS`. */
  protected val dedupSurvivorQuality = Q("dedup_survivor_quality",
    (s, dir) => Dedup.qualitySurvivors(Tables.documents(s, dir), 0.2),
    Some(s"""WITH RECURSIVE pairs AS MATERIALIZED ($minhashPairsSql),
      |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT a AS node, b AS reached FROM edges
      |          UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached),
      |comp AS (SELECT node AS doc_id, least(node, min(reached)) AS cluster
      |         FROM reach GROUP BY node),
      |q AS (SELECT doc_id, $qualityBpSql AS quality_bp
      |      FROM (SELECT doc_id, text, $duckToks AS w FROM documents)),
      |j AS (SELECT c.doc_id, c.cluster, q.quality_bp
      |      FROM comp c JOIN q USING (doc_id)),
      |k AS (SELECT doc_id, cluster, quality_bp,
      |        first_value(doc_id) OVER (PARTITION BY cluster
      |          ORDER BY quality_bp DESC, doc_id) AS keep_id FROM j)
      |SELECT doc_id, cluster, quality_bp, keep_id,
      |  CAST(doc_id = keep_id AS INTEGER) AS is_survivor FROM k""".stripMargin))

  /** End-to-end training-data prep (the composition demo: a reference user
    * runs their whole corpus-prep pass in this engine): quality gate →
    * language gate → exact dedup (min-id survivor) → near-dup cluster
    * removal keeping the BEST copy per cluster (quality-argmax, the
    * [[Dedup.qualitySurvivors]] convention — round-11 rebase from the
    * earlier greedy drop-higher-id-of-every-pair rule, which could keep
    * two docs of one cluster when neither faced the other directly).
    * Every stage reuses an already-oracle-checked operator; the oracle
    * composes the same fragments. */
  /** Stage 1 of docs-prep: the hygiene gate, over any (doc_id, text)
    * frame — batch or streaming (every expression is stateless). One scan,
    * one staged tokenize: stats, quality, and language all derive from the
    * same materialized token array — no joins of separately-derived
    * per-doc tables. `carry` names extra input columns to keep (e.g. the
    * event-time column a streaming caller watermarks on). */
  /** The MEASURED frame behind the hygiene gate — every doc with its
    * n_tokens, quality_bp and model-predicted language, UNfiltered (the
    * drop-attribution report reads this; the gate filters it). */
  private[graft] def curateMeasured(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = Seq("doc_id", "text") ++ carry
    val measured = graft.plans.Stage(docs.select(keep.map(col): _*),
        "w", TextFns.tokens(col("text")))
      .select(keep.map(col) ++ Seq(
        size(col("w")).as("n_tokens"),
        TextFns.basisPoints(
          TextFns.qualityScoreFromTokens(col("text"), col("w"))).as("quality_bp")): _*)
    // language = the MODEL-grade classifier (round-10 rebase; the
    // marker-stopword langId stays available standalone as text_langid)
    TextAnalysis.withModelLang(measured)
  }

  private[graft] def curateGateFrom(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    curateMeasured(docs, carry)
      .where(col("quality_bp") >= 7000 && col("predicted_lang") === "en")
      .drop("predicted_lang")

  /** Stage 2 of docs-prep: exact dedup of the gated set. The LSH pass
    * references the survivor set ~5× (band self-join + two shingle joins +
    * the final anti-join); persisting cuts the gate subtree from five
    * executions to one. Not an unbounded leak: CacheManager keys entries
    * by canonicalized plan, so repeated invocations on the same sfDir
    * reuse ONE entry (one per distinct sfDir per session), each tiny
    * (survivor ids + text) and LRU-evictable. */
  private[graft] def curateSurvivors(s: SparkSession, dir: String): DataFrame =
    curateSurvivorsFrom(curateGateFrom(Tables.documents(s, dir)))

  private[graft] def curateSurvivorsFrom(gated: DataFrame): DataFrame = {
    val exactKeep = gated
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    gated.join(exactKeep, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The full batch docs-prep composition over any (doc_id, text) frame:
    * hygiene gate → exact dedup → LSH near-dup removal. The registered
    * pipeline_docs_prep applies it to the documents table; the composed
    * streaming-curation spec applies it to the same corpus it streams, as
    * the equivalence oracle. */
  /** The prep composition with `text` still aboard — ONE copy of the
    * gate → exact-dedup → LSH-removal body; [[docsPrepFrom]] projects it
    * for the registered query, the crawl-to-trainer capstone packs it
    * (round-10 review: the capstone had inlined this body). */
  /** Near-dup DROPPED doc_ids among the exact-dedup survivors: clusters
    * over the pair graph, then argmax quality_bp per cluster (min-doc_id
    * tie-break — a total order, and the tie branch is what keeps the
    * streaming twin equivalent: first-seen == min-id when qualities
    * tie). quality_bp rides along from the gate, so no second tokenize
    * scan. The closure joins only the pairs-sized frame (tiny vs the
    * corpus); `survivors` must be the persisted frame. */
  protected def nearDupDropsFrom(survivors: DataFrame): DataFrame = {
    val comp = Dedup.components(
      Dedup.nearDupPairs(survivors.select(col("doc_id"), col("text")), 0.2)
        .select(col("doc_a"), col("doc_b")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_bp").desc, col("doc_id").asc)
    comp.join(survivors.select(col("doc_id"), col("quality_bp")), "doc_id")
      .withColumn("keep_id", first(col("doc_id")).over(w))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
  }

  private[graft] def docsPrepPrepped(docs: DataFrame): DataFrame = {
    val survivors = curateSurvivorsFrom(curateGateFrom(docs))
    // BROADCAST the drop list into the final anti-join (r16 session 2,
    // guide §3.1): the left side is the corpus-sized survivor frame, the
    // right side is bounded by the CLUSTERED docs — a subset of the
    // pairs-sized closure frame the operator already declares tiny
    // relative to the corpus (and already broadcast-joins upstream).
    // Without the hint the planner kept a SortMergeJoin whose left-side
    // Exchange re-shuffled every survivor by doc_id just to drop a
    // handful of near-dup losers — at 100 TB a full corpus shuffle.
    // Regime caveat (documented in OPTIMIZATION_r16.md): a corpus whose
    // near-dup drop set is itself broadcast-hostile (billions of drops)
    // means near-dup families dominate the corpus — run exact dedup /
    // fix upstream before this operator, same posture as the bucket cap.
    survivors.join(broadcast(nearDupDropsFrom(survivors)),
      Seq("doc_id"), "left_anti")
  }

  private[graft] def docsPrepFrom(docs: DataFrame): DataFrame =
    docsPrepPrepped(docs).select(col("doc_id"), col("n_tokens"), col("quality_bp"))

  protected val pipelineDocsPrep = Q("pipeline_docs_prep",
    (s, dir) => docsPrepFrom(Tables.documents(s, dir)),
    Some(docsPrepSql), bench = true)

  /** DROP-ATTRIBUTION report for the docs-prep pipeline — the "why did
    * my corpus shrink" audit a curator reads next to the dataset card:
    * every document attributed to the FIRST stage that killed it
    * (quality gate → language gate → exact dedup → near-dup removal) or
    * 'kept', summarized per stage with doc and token mass. Composes the
    * exact fragments docs_prep runs (same measured frame, same survivor
    * sets), so kept == pipeline_docs_prep's output by construction; the
    * oracle nests the shared docsPrepCtes derivation and re-attributes
    * independently. Output: (stage, n_docs, sum_tokens). */
  /** The drop-attribution body over any (doc_id, text) frame — factored
    * so the spec can exercise EVERY arm on a planted corpus (the sf
    * fixture populates exact_dup only at larger SFs). */
  private[graft] def dropReportFrom(docs: DataFrame): DataFrame = {
    val m = curateMeasured(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gated = m
      .where(col("quality_bp") >= 7000 && col("predicted_lang") === "en")
      .drop("predicted_lang")
    val survivors = curateSurvivorsFrom(gated)
    val nearDrops = nearDupDropsFrom(survivors)
    m.join(survivors.select(col("doc_id"), lit(1).as("_sv")),
        Seq("doc_id"), "left")
      .join(nearDrops.select(col("doc_id"), lit(1).as("_nd")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("quality_bp") < 7000, lit("quality"))
          .when(col("predicted_lang") =!= "en", lit("lang"))
          .when(col("_sv").isNull, lit("exact_dup"))
          .when(col("_nd").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
  }

  protected val pipelineDropReport = Q("pipeline_drop_report",
    (s, dir) => dropReportFrom(Tables.documents(s, dir)),
    Some(s"""WITH RECURSIVE ${docsPrepCtes()},
      |rep AS (SELECT m.doc_id, m.n_tokens, CASE
      |    WHEN m.quality_bp < 7000 THEN 'quality'
      |    WHEN ml.predicted_lang <> 'en' THEN 'lang'
      |    WHEN s.doc_id IS NULL THEN 'exact_dup'
      |    WHEN d.doc_id IS NOT NULL THEN 'near_dup'
      |    ELSE 'kept' END AS stage
      |  FROM meas m JOIN mlang ml USING (doc_id)
      |  LEFT JOIN survivors s ON s.doc_id = m.doc_id
      |  LEFT JOIN dropq d ON d.doc_id = m.doc_id)
      |SELECT stage, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM rep GROUP BY stage""".stripMargin))

  /** pipeline_docs_prep's oracle, factored so compositions (e.g.
    * pipeline_curate_full) can nest it as a derived table. */
  /** The docs-prep derivation as a CTE chain ending in
    * `prepped(doc_id, text, n_tokens, quality_bp)` — shared by the
    * pipeline_docs_prep / pipeline_curate_full oracles and the
    * crawl-to-trainer capstone. `gateExtraJoin` injects an extra
    * membership restriction into the gate (the capstone joins the
    * URL-dedup survivor set); empty = the whole corpus. */
  /** Min-label closure CTE block over `pairs(doc_a, doc_b)` — ends in
    * `comp(doc_id, cluster)`. Identical text to the dedup_clusters
    * closure; the `,\nedges AS` / trailing-CTE markers are load-bearing
    * for dev/check_closure_sf1.py's staged splice at sf1 (DuckDB's
    * recursive closure re-evaluates the pair stage per iteration there). */
  protected def closureCtes: String =
    """edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT a AS node, b AS reached FROM edges
      |          UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached),
      |comp AS (SELECT node AS doc_id, least(node, min(reached)) AS cluster
      |         FROM reach GROUP BY node)""".stripMargin

  protected def docsPrepCtes(gateExtraJoin: String = ""): String =
    s"""dtoks AS (SELECT doc_id, text, $duckToks AS w FROM documents),
      |${langModelCtes()},
      |meas AS (SELECT doc_id, text, w,
      |  CAST(len(w) AS INTEGER) AS n_tokens,
      |  $qualityBpSql AS quality_bp FROM dtoks),
      |gated AS (
      |  SELECT m.doc_id, m.text, m.n_tokens, m.quality_bp
      |  FROM meas m JOIN mlang USING (doc_id) $gateExtraJoin
      |  WHERE m.quality_bp >= 7000 AND mlang.predicted_lang = 'en'),
      |exact AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      |survivors AS (SELECT g.* FROM gated g JOIN exact e ON e.doc_id = g.doc_id),
      |${minhashPairsCtes("survivors", 0.2)},
      |$closureCtes,
      |dropq AS (SELECT doc_id FROM (
      |    SELECT c.doc_id, first_value(c.doc_id) OVER (PARTITION BY c.cluster
      |        ORDER BY s.quality_bp DESC, c.doc_id) AS keep_id
      |    FROM comp c JOIN survivors s ON s.doc_id = c.doc_id)
      |  WHERE doc_id <> keep_id),
      |prepped AS (
      |  SELECT s.doc_id, s.text, s.n_tokens, s.quality_bp
      |  FROM survivors s LEFT JOIN dropq d ON d.doc_id = s.doc_id
      |  WHERE d.doc_id IS NULL)""".stripMargin

  protected lazy val docsPrepSql: String =
    s"""WITH RECURSIVE ${docsPrepCtes()}
      |SELECT doc_id, n_tokens, quality_bp FROM prepped""".stripMargin

  /** The END-TO-END curation run: hygiene gate → exact dedup → near-dup
    * removal (= pipeline_docs_prep), then train/val/test split and
    * deterministic sharding over the survivors, summarized per (split,
    * shard) cell — the one-call layout a user hands to a trainer. Every
    * stage is deterministic, so the WHOLE composition hash-checks against
    * the oracle nesting docs_prep's derivation as a subquery. */
  protected val pipelineCurateFull = Q("pipeline_curate_full",
    (s, dir) => {
      val prepped = pipelineDocsPrep.fn(s, dir)
      val labeled = TextAnalysis.assignShards(
        TextAnalysis.trainSplit(prepped, 80, 10), nShards = 4)
      labeled.groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"),
          sum(col("quality_bp").cast("long")).as("sum_quality_bp"))
    },
    Some(s"""WITH RECURSIVE ${docsPrepCtes()},
      |labeled AS (SELECT n_tokens, quality_bp,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 4 AS shard
      |  FROM prepped)
      |SELECT split, shard, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(sum(quality_bp) AS BIGINT) AS sum_quality_bp
      |FROM labeled GROUP BY 1, 2""".stripMargin), bench = true)

  /** Sequence packing (TextAnalysis.packDocuments): which capacity-sized
    * block each document starts in after per-shard concat in doc_id
    * order — the LLM-pretraining pack table. Integral floor-div ⇒
    * hash-exact cross-engine. */
  protected val pipelinePackDocs = Q("pipeline_pack_docs",
    (s, dir) => TextAnalysis.packDocuments(Tables.documents(s, dir),
      capacityTokens = 2048, nShards = 8),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |t AS (SELECT d.doc_id, CAST(b.n_bpe AS INTEGER) AS n_tokens,
      |  d.doc_id % 8 AS shard FROM documents d JOIN bpe_doc b USING (doc_id)),
      |c AS (SELECT doc_id, shard, n_tokens,
      |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS BIGINT) AS start_tok
      |  FROM t)
      |SELECT doc_id, shard, n_tokens, start_tok,
      |  CAST((start_tok - (start_tok % 2048)) / 2048 AS BIGINT) AS bin_id
      |FROM c""".stripMargin))

  /** Sequence ASSEMBLY (TextAnalysis.packSequences): the actual
    * fixed-length training sequences after per-shard concat-and-chunk of
    * the BPE token streams — documents straddling a cut contribute slices
    * to both sequences; the oracle checks the md5 of every sequence's
    * space-joined token stream (content + order, not just layout). */
  /** Concat-and-chunk CTE chain over `srcRel(doc_id, w)` (`w` a
    * token-array column) — ends in `g(shard, seq_id, n_docs, seq)`; the
    * SQL twin of `TextAnalysis.packCore`, shared by pack_sequences,
    * pack_ids and the crawl-to-trainer capstone. */
  protected def packSeqCtes(srcRel: String, cap: Int, nShards: Int): String =
    s"""base AS (SELECT doc_id, doc_id % $nShards AS shard, w, CAST(len(w) AS BIGINT) AS n
      |  FROM $srcRel WHERE len(w) > 0),
      |st AS (SELECT *, CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id) - n AS BIGINT) AS strt
      |  FROM base),
      |ex AS (SELECT shard, doc_id, strt, w, n,
      |    CAST(unnest(range(strt // $cap, (strt + n - 1) // $cap + 1)) AS BIGINT) AS seq_id
      |  FROM st),
      |sl AS (SELECT shard, seq_id, strt,
      |    list_slice(w, CAST(greatest(seq_id * $cap, strt) - strt + 1 AS INTEGER),
      |      CAST(least((seq_id + 1) * $cap, strt + n) - strt AS INTEGER)) AS sl
      |  FROM ex),
      |g AS (SELECT shard, seq_id, count(*) AS n_docs,
      |    flatten(list(sl ORDER BY strt)) AS seq
      |  FROM sl GROUP BY 1, 2)""".stripMargin

  /** The pack chain's standard witness projection (shared final SELECT). */
  protected def packSeqSelect: String =
    """SELECT shard, seq_id, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(len(seq) AS BIGINT) AS seq_len,
      |  md5(array_to_string(seq, ' ')) AS seq_md5
      |FROM g""".stripMargin

  protected val pipelinePackSequences = Q("pipeline_pack_sequences",
    (s, dir) => TextAnalysis.packSequences(Tables.documents(s, dir),
      capacityTokens = 512, nShards = 8),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocArr,
      |${packSeqCtes("bpe_docarr", 512, 8)}
      |$packSeqSelect""".stripMargin))

  /** Temperature (inverse-√) source rebalancing
    * (TextAnalysis.temperedSample): per-source keep rate k/√(BPE token
    * total) — α = ½ temperature mixture. The float steps (√, ÷, compare)
    * are correctly-rounded IEEE ops on exact operands, so the keep
    * decisions hash-match cross-engine. */
  protected val pipelineTemperedSample = Q("pipeline_tempered_sample",
    (s, dir) => TextAnalysis.temperedSample(Tables.documents(s, dir), k = 20.0),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |tot AS (SELECT d.source, CAST(sum(b.n_bpe) AS BIGINT) AS tok_source
      |  FROM documents d JOIN bpe_doc b USING (doc_id) GROUP BY 1)
      |SELECT d.doc_id, d.source, tot.tok_source,
      |  CAST((CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      |      / 16777216.0) < 20.0 / sqrt(CAST(tot.tok_source AS DOUBLE))
      |    AS INTEGER) AS keep
      |FROM documents d JOIN tot ON tot.source = d.source""".stripMargin))

  /** Dictionary encoding to dense token ids (TextAnalysis.tokenIds):
    * frequency-ranked vocab ids, per-document ordered id sequences
    * witnessed by md5 — the trainer-input tokenize step, end-to-end
    * hash-exact. */
  protected val pipelineTokenIds = Q("pipeline_token_ids",
    (s, dir) => TextAnalysis.tokenIds(Tables.documents(s, dir)),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocArr,
      |occ AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS subword
      |  FROM bpe_docarr),
      |vc AS (SELECT subword, count(*) AS n FROM occ GROUP BY 1),
      |vid AS (SELECT subword,
      |    CAST(row_number() OVER (ORDER BY n DESC, subword) - 1 AS BIGINT) AS token_id
      |  FROM vc),
      |j AS (SELECT occ.doc_id, occ.pos, vid.token_id FROM occ JOIN vid USING (subword)),
      |g AS (SELECT doc_id, list(CAST(token_id AS VARCHAR) ORDER BY pos) AS ids
      |  FROM j GROUP BY 1)
      |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(ids, 1, 8), ' ') AS ids_head,
      |  md5(array_to_string(ids, ' ')) AS ids_md5
      |FROM g""".stripMargin))

  /** Vocab-ID sequence assembly (TextAnalysis.packSequenceIds) — the
    * trainer-bytes shape: pack_sequences' concat-and-chunk over the
    * token_ids frequency-rank vocab, each fixed-length sequence witnessed
    * by its first-8 ids and the md5 of the space-joined decimal id
    * stream. Oracle = the token_ids vocab CTEs feeding the pack CTEs. */
  protected val pipelinePackIds = Q("pipeline_pack_ids",
    (s, dir) => TextAnalysis.packSequenceIds(Tables.documents(s, dir),
      capacityTokens = 512, nShards = 8),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocArr,
      |occ AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS subword
      |  FROM bpe_docarr),
      |vc AS (SELECT subword, count(*) AS n FROM occ GROUP BY 1),
      |vid AS (SELECT subword,
      |    CAST(row_number() OVER (ORDER BY n DESC, subword) - 1 AS BIGINT) AS token_id
      |  FROM vc),
      |ids AS (SELECT occ.doc_id, list(CAST(vid.token_id AS VARCHAR) ORDER BY occ.pos) AS w
      |  FROM occ JOIN vid USING (subword) GROUP BY 1),
      |${packSeqCtes("ids", 512, 8)}
      |SELECT shard, seq_id, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(len(seq) AS BIGINT) AS seq_len,
      |  array_to_string(list_slice(seq, 1, 8), ' ') AS ids_head,
      |  md5(array_to_string(seq, ' ')) AS ids_md5
      |FROM g""".stripMargin))

  /** The CAPSTONE composition — a crawl lands, trainer bytes leave, ONE
    * call: canonical-URL dedup (cheapest tier) → NFC normalization →
    * quality + model-language gate → exact dedup → LSH near-dup removal →
    * fixed-length sequence packing. Every stage is an already-oracled
    * operator and the oracle chains the same shared fragments (the URL
    * survivor set restricts the gate membership). The corpus text is
    * ASCII, so the NFC pass is provably the identity HERE — it is applied
    * for the contract and exercised with planted non-ASCII by
    * text_normalize / dedup_exact_nfc. Output = the (shard, seq) trainer
    * layout with a per-sequence content witness. */
  protected val pipelineCrawlToTrainer = Q("pipeline_crawl_to_trainer",
    (s, dir) => {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        "nfc_normalize", exprs => graft.plans.NfcNormalize(exprs.head), "built-in")
      val urlKeep = Dedup.urlDedup(plantedUrls(s, dir))
        .where(col("is_canonical") === 1).select(col("doc_id"))
      val corpus = Tables.documents(s, dir).join(urlKeep, "doc_id")
        .select(col("doc_id"), expr("nfc_normalize(text)").as("text"))
      TextAnalysis.packSequences(
        docsPrepPrepped(corpus).select(col("doc_id"), col("text")), 512, 8)
    },
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocArr,
      |u AS ($plantedUrlSql),
      |cu AS (SELECT doc_id, coalesce(${Dedup.canonicalUrlSql("url")},
      |    chr(0) || 'doc:' || CAST(doc_id AS VARCHAR)) AS canonical_url FROM u),
      |usv AS (SELECT doc_id FROM (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY canonical_url) AS keep_id
      |  FROM cu) WHERE doc_id = keep_id),
      |${docsPrepCtes("JOIN usv ON usv.doc_id = m.doc_id")},
      |${packSeqCtes(
        "(SELECT a.doc_id, a.w FROM bpe_docarr a JOIN prepped p ON p.doc_id = a.doc_id)",
        512, 8)}
      |$packSeqSelect""".stripMargin), bench = true)

  /** Overlapping token-window chunking (TextAnalysis.chunkDocuments):
    * windows of 128 REAL BPE tokens overlapping by 32; `chunk_text` is
    * the ORIGINAL words whose token spans intersect the window (words
    * straddling an edge appear whole in both chunks — round-9 review
    * fix: never emit space-joined subword pieces). */
  /** The chunk derivation as a CTE chain ending in `chunks(doc_id,
    * chunk_idx, chunk_text, chunk_tokens)` — shared by the
    * pipeline_chunk_docs oracle and the RAG retrieval capstone (CTE names
    * are c_-prefixed so the chain composes with the hybrid fragment's
    * occ/sp names). Must appear inside WITH RECURSIVE (the BPE block). */
  protected def chunkDocsCtes: String =
    s"""$duckBpeBlock,
      |c_occ AS (SELECT doc_id, generate_subscripts(wd, 1) AS pos, unnest(wd) AS word
      |  FROM (SELECT doc_id, $duckToks AS wd FROM documents)),
      |c_wl AS (SELECT c_occ.doc_id, c_occ.pos, c_occ.word, CAST(len(f.syms) AS BIGINT) AS bl
      |  FROM c_occ JOIN bpe_enc_final f ON f.w = c_occ.word),
      |c_sp AS (SELECT *, CAST(sum(bl) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS e,
      |    CAST(sum(bl) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c_wl),
      |c_sp2 AS (SELECT *, e - bl AS s,
      |    CASE WHEN n <= 128 THEN 1 ELSE 1 + (n - 128 + 95) // 96 END AS nc FROM c_sp),
      |c_ex AS (SELECT doc_id, pos, word, n,
      |    CAST(unnest(range(
      |      CASE WHEN s + 1 > 128 THEN (s - 128 + 96) // 96 ELSE 0 END,
      |      least((e - 1) // 96, nc - 1) + 1)) AS BIGINT) AS chunk_idx
      |  FROM c_sp2),
      |chunks AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      |  string_agg(word, ' ' ORDER BY pos) AS chunk_text,
      |  CAST(least(any_value(n) - chunk_idx * 96, 128) AS INTEGER) AS chunk_tokens
      |FROM c_ex GROUP BY doc_id, chunk_idx)""".stripMargin

  protected val pipelineChunkDocs = Q("pipeline_chunk_docs",
    (s, dir) => TextAnalysis.chunkDocuments(Tables.documents(s, dir),
      chunkTokens = 128, overlap = 32),
    Some(s"""WITH RECURSIVE $chunkDocsCtes
      |SELECT doc_id, chunk_idx, chunk_text, chunk_tokens FROM chunks""".stripMargin))

  /** Balanced per-class sample (TextAnalysis.classSample): 5 docs per
    * lang by md5 rank, executed by the custom TopKPlan bounded heaps —
    * a second oracled query through the tier-(c) operator. */
  protected val pipelineClassSample = Q("pipeline_class_sample",
    (s, dir) => TextAnalysis.classSample(Tables.documents(s, dir), "lang", 5),
    Some("""WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank FROM h)
      |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id FROM r WHERE rank <= 5""".stripMargin))

  /** Deterministic train/val/test split (TextAnalysis.trainSplit):
    * 80/10/10 by md5 percentile — doc-level labels, hash-exact. */
  protected val pipelineTrainSplit = Q("pipeline_train_split",
    (s, dir) => TextAnalysis.trainSplit(Tables.documents(s, dir), 80, 10)
      .select(col("doc_id"), col("lang"), col("split")),
    Some("""SELECT doc_id, lang,
      |  CASE WHEN u < 80 THEN 'train' WHEN u < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS u
      |  FROM documents)""".stripMargin))

  /** Leakage-safe GROUPED split (TextAnalysis.groupSplit): split assigned
    * by md5-percentile of the `source` group key, so every document of a
    * source lands in the same split — near-duplicates (which cluster
    * within a group) can never straddle train/test and inflate eval
    * scores. The per-source coherence itself is part of the oracled
    * output: n_source_splits counts DISTINCT splits within the doc's
    * source and must be 1 everywhere, checked by DuckDB's independent
    * re-derivation, not just claimed. */
  protected val pipelineGroupSplit = Q("pipeline_group_split",
    (s, dir) => TextAnalysis.groupSplit(Tables.documents(s, dir),
        "source", 80, 10)
      .withColumn("n_source_splits", size(collect_set(col("split")).over(
        Window.partitionBy(col("source")))).cast("long"))
      .select(col("doc_id"), col("source"), col("split"),
        col("n_source_splits")),
    Some("""WITH g AS (SELECT doc_id, source,
      |  CASE WHEN u < 80 THEN 'train' WHEN u < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, source,
      |    CAST(('0x' || substr(md5(
      |      coalesce(source, chr(0) || 'doc:' || CAST(doc_id AS VARCHAR))
      |    ), 1, 4)) AS INTEGER) % 100 AS u
      |    FROM documents))
      |SELECT doc_id, source, split,
      |  CAST(count(DISTINCT split) OVER (PARTITION BY source) AS BIGINT)
      |    AS n_source_splits
      |FROM g""".stripMargin))

  protected def hash16Sql: String =
    """(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096 +
      |(strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256 +
      |(strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16 +
      |(strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)""".stripMargin

  protected val dedupSimhash = Q("dedup_simhash",
    (s, dir) => Dedup.simhash(Tables.documents(s, dir)),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |hs AS (SELECT doc_id, list_transform(w, t -> $hash16Sql) AS h FROM toks)
      |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 15), b ->
      |  CASE WHEN list_sum(list_transform(h, x -> ((x >> b) & 1) * 2 - 1)) > 0
      |       THEN (1 << b) ELSE 0 END)) AS INTEGER) AS simhash
      |FROM hs""".stripMargin))

  protected val dedupEmbedding = Q("dedup_embedding",
    (s, dir) => Dedup.embeddingNearDups(Tables.embeddings(s, dir), 0.2),
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.2""".stripMargin))

  /** DuckDB fragment for the label-free LSH near-dup pairs (vec_a, vec_b,
    * cosine): same plane literals as sim_lsh_topk's oracle. `multiProbe`
    * adds the Hamming-1 probe fan-out on side A (a pair's bucket-XOR is
    * fixed, so no pair matches twice). */
  protected def duckLshPairsSql(multiProbe: Boolean, minCosine: Double): String = {
    val aSide =
      if (multiProbe)
        s"pa AS (SELECT vec_id, v, nrm, unnest(${Similarity.hamming1ProbesSql(6)}) AS bucket FROM n),"
      else "pa AS (SELECT * FROM n),"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
      |  ${Similarity.lshBucketSql(6, 64)} AS bucket FROM e),
      |$aSide
      |lshp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
      |FROM pa a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $minCosine)
      |""".stripMargin
  }

  /** Label-free near-dup (Dedup.embeddingNearDupsLsh): blocked by the
    * deterministic sign-LSH bucket instead of a label column — the variant
    * that runs on an unlabeled 100 TB corpus. Threshold 0.2 (matching
    * dedup_embedding) keeps the pair surface non-trivial at sf0.01. */
  protected val dedupEmbeddingLsh = Q("dedup_embedding_lsh",
    (s, dir) => Dedup.embeddingNearDupsLsh(Tables.embeddings(s, dir), 0.2),
    Some(duckLshPairsSql(multiProbe = false, 0.2) + "SELECT * FROM lshp"))

  /** Multi-probe variant: pairs straddling ONE hyperplane (Hamming-1
    * buckets) are also found — the recall knob of the label-free path. A
    * pair's bucket-XOR pattern is fixed, so probes can't double-count
    * (see Dedup.embeddingNearDupsLshMultiProbe); deterministic ⇒ oracled. */
  protected val dedupEmbeddingLshMp = Q("dedup_embedding_lsh_mp",
    (s, dir) => Dedup.embeddingNearDupsLshMultiProbe(Tables.embeddings(s, dir), 0.2),
    Some(duckLshPairsSql(multiProbe = true, 0.2) + "SELECT * FROM lshp"))

  /** The end of the label-free pipeline: connected components over the
    * multi-probe pair graph (pairs → clusters → min-id representative),
    * against the same recursive-CTE oracle shape as dedup_clusters. */
  protected val dedupEmbeddingClusters = Q("dedup_embedding_clusters",
    (s, dir) => Dedup.embeddingNearDupClusters(Tables.embeddings(s, dir), 0.2),
    Some(s"""WITH RECURSIVE ${duckLshPairsSql(multiProbe = true, 0.2).stripPrefix("WITH ")},
      |edges AS MATERIALIZED (SELECT vec_a AS a, vec_b AS b FROM lshp
      |          UNION ALL SELECT vec_b, vec_a FROM lshp),
      |reach AS (SELECT a AS node, b AS reached FROM edges
      |          UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.reached)
      |SELECT node AS vec_id, least(node, min(reached)) AS cluster
      |FROM reach GROUP BY node""".stripMargin))

  /** Unicode NFC normalization (native codegen NfcNormalize, tier (b)) —
    * the hygiene pass before any content hashing: composed "é" (U+00E9)
    * and decomposed "e"+U+0301 must dedup identically. The corpus text is
    * ASCII, so each doc PLANTS a decomposed-é / composed-é / Hangul-Jamo
    * suffix by doc_id residue; the oracle replays DuckDB's utf8proc
    * nfc_normalize (both sides implement UAX #15, spec-pinned) and the
    * md5 witnesses byte identity of the normalized text. */
  protected val textNormalize = Q("text_normalize",
    (s, dir) => {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        "nfc_normalize", exprs => graft.plans.NfcNormalize(exprs.head), "built-in")
      Tables.documents(s, dir).select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" cafe\u0301"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(" caf\u00e9"))
            .otherwise(lit(" \u1100\u1161"))).as("raw"))
        .select(col("doc_id"), length(col("raw")).as("raw_len"),
          expr("nfc_normalize(raw)").as("nfc"))
        .select(col("doc_id"), col("raw_len"),
          length(col("nfc")).as("nfc_len"), md5(col("nfc")).as("nfc_md5"))
    },
    Some("""WITH planted AS (SELECT doc_id, text ||
      |  (CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
      |        WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
      |        ELSE ' ' || chr(4352) || chr(4449) END) AS raw
      |  FROM documents),
      |n AS (SELECT doc_id, length(raw) AS raw_len, nfc_normalize(raw) AS nfc
      |      FROM planted)
      |SELECT doc_id, CAST(raw_len AS INTEGER) AS raw_len,
      |  CAST(length(nfc) AS INTEGER) AS nfc_len, md5(nfc) AS nfc_md5
      |FROM n""".stripMargin))

  /** NFC → exact-dedup composition: the reason the normalize tier exists —
    * the SAME text crawled composed vs decomposed must collapse to ONE
    * dedup group. Each doc plants a suffix whose encoding varies by
    * doc_id parity (composed é vs decomposed e+U+0301) over a shared
    * doc_id%250 payload, so raw md5 sees two keys where NFC sees one; the
    * oracle replays the grouping over utf8proc-normalized text. */
  protected val dedupExactNfc = Q("dedup_exact_nfc",
    (s, dir) => {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        "nfc_normalize", exprs => graft.plans.NfcNormalize(exprs.head), "built-in")
      val planted = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("shared payload "), pmod(col("doc_id"), lit(250)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" caf\u00e9"))
          .otherwise(lit(" cafe\u0301"))).as("text"))
      Dedup.exact(planted.select(col("doc_id"),
        expr("nfc_normalize(text)").as("text")))
    },
    Some("""WITH planted AS (SELECT doc_id, 'shared payload ' ||
      |  CAST(doc_id % 250 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
      |        ELSE ' cafe' || chr(769) END) AS text
      |  FROM documents)
      |SELECT md5(nfc_normalize(text)) AS text_md5, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM planted GROUP BY 1""".stripMargin))

  /** Compressibility signal (TextAnalysis.compressionSignal — native
    * DeflateLen): the entropy-proxy junk gate. Exact deflate byte counts
    * are run-deterministic but NOT cross-engine constants (zlib build),
    * and DuckDB has no SQL deflate — so the query emits what IS invariant
    * (the established bound-twin pattern): per-doc byte bounds and
    * repetition dominance (4×-concatenated text must deflate to well
    * under 2× the single deflate — LZ77 back-references). The REAL
    * lengths/ratios are exercised and order-pinned in CompressFnsSpec. */
  protected val textCompress = Q("text_compress",
    (s, dir) => {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        "deflate_len", exprs => graft.plans.DeflateLen(exprs.head), "built-in")
      Tables.documents(s, dir).select(col("doc_id"),
          octet_length(col("text")).cast("long").as("raw_bytes"),
          expr("deflate_len(text)").cast("long").as("dl"),
          expr("deflate_len(repeat(text, 4))").cast("long").as("dl4"))
        .select(col("doc_id"), col("raw_bytes"),
          (col("dl") >= 2 && col("dl") <= col("raw_bytes") + 64)
            .cast("int").as("bounded"),
          // dominance only holds while a repeat's copy can back-reference
          // the previous one — i.e. inside DEFLATE's 32 KiB match window;
          // beyond it dl4 ≈ 4·dl and the invariant is FALSE by design
          // (round-10 review), so the guard is a byte RANGE, not a floor
          when(col("raw_bytes").between(100, 32768),
              (col("dl4") < col("dl") * 2).cast("int"))
            .otherwise(lit(1)).as("repetition_dominates"))
    },
    Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_bytes,
      |  1 AS bounded, 1 AS repetition_dominates
      |FROM documents""".stripMargin))

  protected val textStats = Q("text_stats",
    (s, dir) => TextAnalysis.docStats(Tables.documents(s, dir)),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |toks AS (SELECT *, $duckToks AS w FROM documents)
      |SELECT doc_id,
      |  CAST(len(text) AS INTEGER) AS n_chars_measured,
      |  CAST(len(w) AS INTEGER) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS n_punct,
      |  CAST(floor((CASE WHEN len(text) = 0 THEN 0.0
      |    ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / len(text) END) * 10000) AS BIGINT) AS alpha_bp,
      |  CAST(bpe_doc.n_bpe AS INTEGER) AS n_bpe_tokens,
      |  $qualityBpSql AS quality_bp
      |FROM toks JOIN bpe_doc USING (doc_id)""".stripMargin), bench = true)

  /** Real BPE tokenizer APPLY (Bpe.encode, pinned 48-rank default vocab —
    * VERDICT r8 #1): per document the word count, subword-token count,
    * distinct-subword count, and the first 8 subword tokens verbatim (so
    * the oracle checks token IDENTITY, not just arithmetic). The Spark
    * side is the native memoizing kernel applied per document; the oracle
    * re-derives the encode INDEPENDENTLY — a recursive CTE over the
    * DISTINCT-word dictionary advancing one merge rank per step — and the
    * two must agree hash-exact (same dual-derivation posture as
    * e_funnel_users). Scale shape: one narrow projection, zero shuffles;
    * the Zipf word cache makes the per-doc cost ~|words|, not
    * |words|·|ranks|. */
  protected val textBpeTokens = Q("text_bpe_tokens",
    (s, dir) => {
      val toks = graft.plans.Stage(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text")))
      val enc = graft.plans.Stage(toks, "bpe", Bpe.encode(col("w")))
      enc.select(col("doc_id"),
        size(col("w")).as("n_words"),
        size(col("bpe")).as("n_bpe_tokens"),
        size(array_distinct(col("bpe"))).as("n_distinct_bpe"),
        concat_ws(" ", slice(col("bpe"), 1, 8)).as("bpe_head"))
    },
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocArr,
      |base AS (SELECT doc_id, $duckToks AS toks FROM documents)
      |SELECT base.doc_id,
      |  CAST(len(base.toks) AS INTEGER) AS n_words,
      |  CAST(len(coalesce(a.w, CAST([] AS VARCHAR[]))) AS INTEGER) AS n_bpe_tokens,
      |  CAST(len(list_distinct(coalesce(a.w, CAST([] AS VARCHAR[])))) AS INTEGER) AS n_distinct_bpe,
      |  array_to_string(list_slice(coalesce(a.w, CAST([] AS VARCHAR[])), 1, 8), ' ') AS bpe_head
      |FROM base LEFT JOIN bpe_docarr a USING (doc_id)""".stripMargin),
    bench = true)

  /** Corpus subword vocabulary under the pinned BPE vocab — the trained
    * tokenizer's usage profile (which merges actually fire, the
    * long-tail of partial splits). One explode + one map-side-combining
    * aggregate; shuffle width = |subword vocab|. */
  protected val textBpeVocab = Q("text_bpe_vocab",
    (s, dir) => Tables.documents(s, dir)
      .select(explode(Bpe.encode(TextFns.tokens(col("text")))).as("subword"))
      .groupBy(col("subword")).agg(count(lit(1)).as("n")),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |wc AS (SELECT w, count(*) AS c
      |  FROM (SELECT unnest($duckToks) AS w FROM documents) GROUP BY 1),
      |sv AS (SELECT unnest(f.syms) AS subword, wc.c
      |  FROM wc JOIN bpe_enc_final f ON f.w = wc.w)
      |SELECT subword, CAST(sum(c) AS BIGINT) AS n FROM sv GROUP BY 1""".stripMargin))

  /** Tokenizer-efficiency monitor: per source, characters per BPE token in
    * basis points (`chars_per_tok_bp = 10000·Σchars div Σtokens`) — the
    * compression-ratio metric a tokenizer owner tracks per corpus slice
    * (a slice drifting toward char-level splits signals vocab mismatch).
    * Integer end-to-end. */
  protected val textBpeCompression = Q("text_bpe_compression",
    (s, dir) => {
      val toks = graft.plans.Stage(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
        "bpe", Bpe.encode(TextFns.tokens(col("text"))))
      toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(size(col("bpe"))).as("sum_bpe"))
        .select(col("source"), col("n_docs"),
          col("sum_chars").cast("long").as("sum_chars"),
          col("sum_bpe").cast("long").as("sum_bpe"),
          expr("sum_chars * 10000 div greatest(sum_bpe, 1)").as("chars_per_tok_bp"))
    },
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |j AS (SELECT d.source, d.doc_id, length(d.text) AS n_chars, b.n_bpe
      |  FROM documents d JOIN bpe_doc b USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_bpe) AS BIGINT) AS sum_bpe,
      |  CAST(sum(n_chars) * 10000 // greatest(sum(n_bpe), 1) AS BIGINT) AS chars_per_tok_bp
      |FROM j GROUP BY 1""".stripMargin))

  protected val textLangid = Q("text_langid",
    (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
    Some(
      s"""WITH toks AS (SELECT doc_id, lang AS labeled_lang, $duckToks AS w FROM documents),
        |scored AS (SELECT doc_id, labeled_lang, $langScoresSql FROM toks),
        |withbest AS (SELECT *, $langBestSql AS best FROM scored)
        |SELECT doc_id, labeled_lang, CASE $langCaseSql ELSE 'und' END AS predicted_lang
        |FROM withbest""".stripMargin))

  /** Model-grade language ID (TextAnalysis.langIdModel — hashed
    * char-trigram integer linear classifier, pinned offline weights,
    * VERDICT r8 #3). All-integer scores ⇒ hash-exact; the oracle rebuilds
    * the full model — trigrams, md5-nibble hash buckets, weight-table
    * lookups, argmax with priority tie-break — in DuckDB. */
  protected val textLangidModel = Q("text_langid_model",
    (s, dir) => TextAnalysis.langIdModel(Tables.documents(s, dir)),
    Some(s"""WITH ${langModelCtes(Seq("lang" -> "labeled_lang"))}
      |SELECT doc_id, labeled_lang, s_en, s_de, s_fr, s_es, predicted_lang
      |FROM mlang""".stripMargin))

  protected val textTopTerms = Q("text_top_terms",
    (s, dir) => TextAnalysis.topTerms(Tables.documents(s, dir), 50),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents)
      |SELECT token, count(*) AS n FROM (SELECT unnest(w) AS token FROM toks)
      |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin), bench = true)

  /** Collocation mining (TextAnalysis.collocations): top-40 adjacent
    * bigrams by integer lift (the log-free PMI surrogate — identical
    * ranking, exact cross-engine math); hapax tail cut at pair_n ≥ 5. */
  protected val textCollocations = Q("text_collocations",
    (s, dir) => TextAnalysis.collocations(Tables.documents(s, dir), 40),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |uni AS (SELECT token, count(*) AS n FROM (SELECT unnest(w) AS token FROM toks) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM uni),
      |bg AS (SELECT unnest(${duckShingles(2)}) AS bigram FROM toks WHERE len(w) >= 2),
      |pairs AS (SELECT bigram, count(*) AS pair_n FROM bg GROUP BY 1 HAVING count(*) >= 5),
      |sp AS (SELECT bigram, pair_n, string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2 FROM pairs)
      |SELECT sp.bigram, sp.pair_n,
      |  CAST((CAST(sp.pair_n AS HUGEINT) * tot.total * 1000)
      |    // (CAST(ua.n AS HUGEINT) * ub.n) AS BIGINT) AS lift_x1000
      |FROM sp
      |JOIN uni ua ON ua.token = sp.w1
      |JOIN uni ub ON ub.token = sp.w2
      |CROSS JOIN tot
      |ORDER BY lift_x1000 DESC, bigram LIMIT 40""".stripMargin))

  /** Corpus-familiarity fluency proxy (TextAnalysis.familiarityScore):
    * per-doc mean bigram corpus frequency, integer floor-div; the
    * LM-free gibberish gate. */
  protected val textFamiliarity = Q("text_familiarity",
    (s, dir) => TextAnalysis.familiarityScore(Tables.documents(s, dir), minScore = 2),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |bg AS (SELECT doc_id, unnest(${duckShingles(2)}) AS bigram FROM toks WHERE len(w) >= 2),
      |cnt AS (SELECT bigram, count(*) AS bg_n FROM bg GROUP BY 1),
      |agg AS (SELECT bg.doc_id, count(*) AS n_bigrams, CAST(sum(cnt.bg_n) AS BIGINT) AS sum_bg
      |  FROM bg JOIN cnt USING (bigram) GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(agg.sum_bg // agg.n_bigrams, 0) AS BIGINT) AS familiarity,
      |  CAST(coalesce(agg.sum_bg // agg.n_bigrams, 0) >= 2 AS INTEGER) AS keep
      |FROM toks t LEFT JOIN agg ON agg.doc_id = t.doc_id""".stripMargin))

  /** KenLM-style bigram LM with stupid backoff (TextAnalysis.lmScore) in
    * exact integer math — every log is a floored log₂ via
    * `length(bin(n)) − 1`, bit-identical cross-engine. Trained on the
    * even-doc_id half, scoring the odd half (held-out, so unseen bigrams
    * exist and the backoff arm actually executes). */
  protected val textLmScore = Q("text_lm_score",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmScore(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1))
    },
    Some(s"""WITH tt AS (SELECT doc_id, $duckToks AS w FROM documents WHERE doc_id % 2 = 0),
      |et AS (SELECT doc_id, $duckToks AS w FROM documents WHERE doc_id % 2 = 1),
      |uni AS (SELECT token, count(*) AS n_uni FROM (SELECT unnest(w) AS token FROM tt) GROUP BY 1),
      |bgc AS (SELECT bigram, count(*) AS n_bg FROM
      |  (SELECT unnest(${duckShingles(2)}) AS bigram FROM tt WHERE len(w) >= 2) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_uni) AS BIGINT) AS lm_total FROM uni),
      |eb AS (SELECT doc_id, bigram,
      |    string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
      |  FROM (SELECT doc_id, unnest(${duckShingles(2)}) AS bigram FROM et WHERE len(w) >= 2)),
      |sc AS (SELECT eb.doc_id,
      |    CASE WHEN bgc.n_bg IS NOT NULL
      |      THEN (length(bin(u1.n_uni)) - 1) - (length(bin(bgc.n_bg)) - 1)
      |      ELSE 4 + (length(bin(tot.lm_total)) - 1)
      |        - (length(bin(coalesce(u2.n_uni, 0) + 1)) - 1) END AS bits
      |  FROM eb LEFT JOIN bgc USING (bigram)
      |    LEFT JOIN uni u1 ON u1.token = eb.w1
      |    LEFT JOIN uni u2 ON u2.token = eb.w2
      |    CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(bits) AS BIGINT) AS sum_bits FROM sc GROUP BY 1)
      |SELECT e.doc_id,
      |  CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(agg.sum_bits, 0) AS BIGINT) AS sum_bits,
      |  CAST(coalesce(agg.sum_bits // agg.n_bigrams, 0) AS BIGINT) AS mean_bits,
      |  CAST(coalesce(agg.n_bigrams, 0) > 0
      |    AND coalesce(agg.sum_bits // agg.n_bigrams, 0) <= 6 AS INTEGER) AS keep
      |FROM et e LEFT JOIN agg USING (doc_id)""".stripMargin))

  /** Corpus drift monitor (TextAnalysis.corpusDrift): doc_id parity
    * splits the documents into two "snapshots"; per-token symmetric
    * divergence in basis points over the combined top-100 tokens. */
  protected val textCorpusDrift = Q("text_corpus_drift",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.corpusDrift(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1), 100)
    },
    Some(s"""WITH ta AS (SELECT doc_id, $duckToks AS w FROM documents WHERE doc_id % 2 = 0),
      |tb AS (SELECT doc_id, $duckToks AS w FROM documents WHERE doc_id % 2 = 1),
      |ca AS (SELECT token, count(*) AS n FROM (SELECT unnest(w) AS token FROM ta) GROUP BY 1),
      |cb AS (SELECT token, count(*) AS n FROM (SELECT unnest(w) AS token FROM tb) GROUP BY 1),
      |top AS (SELECT token, CAST(sum(n) AS BIGINT) AS n_both
      |  FROM (SELECT * FROM ca UNION ALL SELECT * FROM cb)
      |  GROUP BY 1 ORDER BY n_both DESC, token LIMIT 100),
      |tots AS (SELECT (SELECT CAST(sum(n) AS BIGINT) FROM ca) AS tot_a,
      |                (SELECT CAST(sum(n) AS BIGINT) FROM cb) AS tot_b)
      |SELECT top.token, top.n_both,
      |  CAST(coalesce(ca.n, 0) AS BIGINT) AS n_a,
      |  CAST(coalesce(cb.n, 0) AS BIGINT) AS n_b,
      |  CAST(abs(CAST(coalesce(ca.n, 0) AS HUGEINT) * tot_b - CAST(coalesce(cb.n, 0) AS HUGEINT) * tot_a) * 10000
      |    // greatest(CAST(coalesce(ca.n, 0) AS HUGEINT) * tot_b + CAST(coalesce(cb.n, 0) AS HUGEINT) * tot_a, 1) AS BIGINT) AS drift_bp
      |FROM top
      |LEFT JOIN ca USING (token)
      |LEFT JOIN cb USING (token)
      |CROSS JOIN tots""".stripMargin))

  /** Count-min sketch heavy hitters (operators.Sketch): the 4×1024 CMS is
    * built from token occurrences, then the top-20 exact terms are
    * point-estimated against it. Every cell and estimate is md5-derived ⇒
    * the DuckDB oracle reproduces the sketch bit-for-bit — a full
    * cross-engine check of a sketch STRUCTURE, not just a row count.
    * (CMS guarantee, visible in the output: cms_count ≥ exact_count.) */
  protected val sketchCmsHeavyHitters = Q("sketch_cms_heavyhitters",
    (s, dir) => {
      val depth = 4; val width = 1024
      val toks = Tables.documents(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("term")).limit(20)
      val cms = Sketch.countMin(toks, "term", depth, width)
      exact.join(Sketch.estimate(cms, exact, "term", depth, width), "term")
    },
    Some {
      val depth = 4; val width = 1024
      def buckets(alias: String) = (0 until depth).map(i =>
        s"SELECT $i AS row, ${Sketch.bucketSql("term", i, width)} AS bucket" +
          (if (alias == "occ") "" else ", term") + s" FROM $alias")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT unnest(w) AS term FROM toks),
      |cms AS (SELECT row, bucket, count(*) AS n FROM (
      |  ${buckets("occ")}) GROUP BY row, bucket),
      |exact AS (SELECT term, count(*) AS exact_count FROM occ GROUP BY term
      |          ORDER BY exact_count DESC, term LIMIT 20),
      |probes AS (
      |  ${buckets("exact")}),
      |est AS (SELECT p.term, min(coalesce(c.n, 0)) AS cms_count
      |        FROM probes p LEFT JOIN cms c ON c.row = p.row AND c.bucket = p.bucket
      |        GROUP BY p.term)
      |SELECT e.term, e.exact_count, est.cms_count FROM exact e JOIN est USING (term)""".stripMargin
    })

  /** Exact corpus vocabulary size (oracle-checked). */
  /** Sharded mergeable HLL cardinality (Sketch.hllShardSketches): per-shard
    * DataSketches binaries unioned to the global distinct-token count —
    * register updates are max-merges, so the union over the md5-disjoint
    * shards must estimate EXACTLY what one whole-corpus sketch estimates
    * (merge_consistent pins that bit-equality), and the estimate must land
    * within 10% (≈6σ at lgK=12's 1.6% rsd) of the exact count the oracle
    * recomputes. Sketch registers differ across engines, so the estimate
    * itself can never cross-engine-match — same bound-oracle style as
    * sketch_kll_quantiles. */
  protected val sketchHllShards = Q("sketch_hll_shards",
    (s, dir) => {
      val toks = TextAnalysis.assignShards(Tables.documents(s, dir), 8)
        .select(col("shard"), explode(TextFns.tokens(col("text"))).as("token"))
      val merged = Sketch.hllMergedEstimate(
        Sketch.hllShardSketches(toks, "shard", "token"))
      val whole = toks.agg(
        hll_sketch_estimate(hll_sketch_agg(col("token"), 12)).as("whole_est"),
        countDistinct(col("token")).as("n_vocab"))
      merged.crossJoin(whole) // 1-row × 1-row
        .select(col("n_vocab"),
          (col("n_distinct_est") === col("whole_est")).cast("int")
            .as("merge_consistent"),
          (abs(col("n_distinct_est") - col("n_vocab")) * lit(100) <=
            col("n_vocab") * lit(10)).cast("int").as("hll_within_bound"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents)
      |SELECT count(DISTINCT token) AS n_vocab,
      |  CAST(1 AS INTEGER) AS merge_consistent,
      |  CAST(1 AS INTEGER) AS hll_within_bound
      |FROM (SELECT unnest(w) AS token FROM toks)""".stripMargin))

  /** HLL distinct-overlap estimate (Sketch.hllOverlapEstimate): the
    * inclusion–exclusion decontamination sizer — shared-vocabulary count
    * between the train split and the eval split from two sketch scans and
    * NO join. The bound is stated against the exact UNION size (each HLL
    * term's error scales with the set it sketches, so the difference
    * carries union-scale absolute error — that is the honest envelope for
    * an inclusion–exclusion estimate, not a fraction of the overlap
    * itself). Exact columns recomputed by DuckDB; bound flags oracled as
    * constants like the other sketch gates. The Spark-side exact twins
    * (distinct-join overlap, union countDistinct) exist ONLY to gate the
    * estimate — they re-tokenize the corpus on purpose; the production
    * operator is the two sketch scans alone. */
  protected val sketchHllOverlap = Q("sketch_hll_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      def toks(f: DataFrame) =
        f.select(explode(TextFns.tokens(col("text"))).as("token"))
      val train = toks(docs.where(pmod(col("doc_id"), lit(7)) =!= 0))
      val evalT = toks(docs.where(pmod(col("doc_id"), lit(7)) === 0))
      val est = Sketch.hllOverlapEstimate(train, "token", evalT, "token")
      val exact = train.select("token").distinct()
        .join(evalT.select("token").distinct(), "token")
        .agg(count(lit(1)).as("n_overlap_exact"))
      val union = train.unionByName(evalT)
        .agg(countDistinct(col("token")).as("n_union_exact"))
      est.crossJoin(exact).crossJoin(union) // 1-row frames
        .select(col("n_overlap_exact"), col("n_union_exact"),
          (abs(col("n_intersect_est") - col("n_overlap_exact")) * lit(100) <=
            col("n_union_exact") * lit(10)).cast("int").as("overlap_within_bound"),
          (abs(col("n_union_est") - col("n_union_exact")) * lit(100) <=
            col("n_union_exact") * lit(10)).cast("int").as("union_within_bound"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT doc_id, unnest(w) AS token FROM toks),
      |t AS (SELECT DISTINCT token FROM occ WHERE doc_id % 7 <> 0),
      |e AS (SELECT DISTINCT token FROM occ WHERE doc_id % 7 = 0)
      |SELECT
      |  (SELECT count(*) FROM t JOIN e USING (token)) AS n_overlap_exact,
      |  (SELECT count(*) FROM (SELECT token FROM t UNION SELECT token FROM e)) AS n_union_exact,
      |  CAST(1 AS INTEGER) AS overlap_within_bound,
      |  CAST(1 AS INTEGER) AS union_within_bound""".stripMargin))

  protected val textVocab = Q("text_vocab",
    (s, dir) => Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .agg(countDistinct(col("token")).as("n_vocab"), count(lit(1)).as("n_tokens")),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents)
      |SELECT count(DISTINCT token) AS n_vocab, count(*) AS n_tokens
      |FROM (SELECT unnest(w) AS token FROM toks)""".stripMargin))

  /** The raw HLL vocabulary estimate (specs exercise it; the registered
    * row below reports its hash-checked envelope verdict instead — sketch
    * register layouts differ across engines, so the estimate itself can
    * never match a cross-engine oracle). */
  private[graft] def vocabApproxRaw(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .agg(approx_count_distinct(col("token")).as("n_vocab_approx"))

  /** HLL++ relative standard deviation for the approx-vocab gate; the
    * assertion envelope is derived from it (5σ) rather than hard-coded,
    * so tightening or loosening the sketch keeps the gate calibrated. */
  protected val vocabRsd = 0.02
  protected val vocabEnvelopePct: Int = math.ceil(vocabRsd * 5 * 100).toInt // 10%

  /** HLL approximate vocabulary, reported as its envelope verdict: the
    * estimate is engine-internal, but |hll − exact| ≤ 5σ·exact is a
    * deterministic fact for a given corpus (HLL has no RNG — its error is
    * fixed per dataset), so the query emits the exact vocabulary plus that
    * flag and the oracle recomputes the exact side. The envelope is 5×rsd
    * (10% at rsd 0.02) — wide enough that an in-spec estimator deviation
    * on a new corpus can't flip the gate, per round-7 advice. (Formerly
    * the separate `text_vocab_bound` twin; folded here so the driver row
    * is oracled.) */
  protected val textVocabApprox = Q("text_vocab_approx",
    (s, dir) => Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .agg(countDistinct(col("token")).as("n_vocab"),
        approx_count_distinct(col("token"), vocabRsd).as("hll"))
      .select(col("n_vocab"),
        (abs(col("hll") - col("n_vocab")) * 100 <= col("n_vocab") * vocabEnvelopePct)
          .cast("int").as("hll_within_bound")),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents)
      |SELECT count(DISTINCT token) AS n_vocab,
      |  CAST(1 AS INTEGER) AS hll_within_bound
      |FROM (SELECT unnest(w) AS token FROM toks)""".stripMargin))

  protected val textFingerprints = Q("text_fingerprints",
    (s, dir) => TextAnalysis.fingerprints(Tables.documents(s, dir)),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sh AS (SELECT doc_id, w, ${duckShingles(5)} AS sh FROM toks)
      |SELECT doc_id, md5(array_to_string(w, ' ')) AS full_md5,
      |  list_min(list_transform(sh, s -> md5(s))) AS min_shingle,
      |  list_max(list_transform(sh, s -> md5(s))) AS max_shingle
      |FROM sh""".stripMargin))

  /** Intra-doc repetition stats (TextAnalysis.repetitionStats): the
    * Gopher-style duplicate/top n-gram fractions as basis-point floors.
    * Count ratios are exact-int IEEE divisions — identical doubles both
    * engines. */
  protected val textRepetition = Q("text_repetition",
    (s, dir) => TextAnalysis.repetitionStats(Tables.documents(s, dir)),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sh AS (SELECT doc_id, ${duckShingles(3)} AS sh FROM toks),
      |occ AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |g AS (SELECT doc_id, s, count(*) AS cnt FROM occ GROUP BY doc_id, s)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_shingles,
      |  CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(cnt) AS BIGINT) AS top_n,
      |  CAST(floor((1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)) * 10000) AS BIGINT) AS dup_bp,
      |  CAST(floor((CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)) * 10000) AS BIGINT) AS top_frac_bp
      |FROM g GROUP BY doc_id""".stripMargin))

  /** Benchmark decontamination (TextAnalysis.contamination): training docs
    * sharing ≥ 2 distinct 3-gram shingles with the doc_id%11 "eval set". */
  protected val textContamination = Q("text_contamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contamination(
        docs.where(pmod(col("doc_id"), lit(11)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(11)) === 0))
    },
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sh AS (SELECT doc_id, ${duckShingles(3)} AS sh FROM toks),
      |dsh AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
      |bench AS (SELECT doc_id AS bench_id, s FROM dsh WHERE doc_id % 11 = 0),
      |train AS (SELECT doc_id, s FROM dsh WHERE doc_id % 11 <> 0)
      |SELECT t.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS shared_shingles
      |FROM train t JOIN bench b USING (s)
      |GROUP BY t.doc_id, b.bench_id HAVING count(*) >= 2""".stripMargin))

  /** Deterministic per-source mixture sampling (TextAnalysis.mixtureSample):
    * md5-uniform vs a per-source keep rate, the training-mix weighting
    * step; same portable-hash idiom as f_hash_sample. */
  protected val textMixtureSample = Q("text_mixture_sample",
    (s, dir) => TextAnalysis.mixtureSample(Tables.documents(s, dir),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id"), col("source")),
    Some("""SELECT doc_id, source FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER) / 16777216.0 <
      |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin))

  /** Gap-based sessionization (Funnel.sessionize): per-event session ids
    * with the same 30-minute break rule as t_session_windows, exposed as a
    * joinable column. µs clock (see e_funnel_users). */
  protected val eSessionize = Q("e_sessionize",
    (s, dir) => Funnel.sessionize(
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts")),
      gapTicks = 1800L * 1000000L),
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
      |o AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                     OR ts - lag(ts) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_id, user_id, ts,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |FROM o""".stripMargin))

  /** Top event paths (Funnel.topPaths): most frequent 3-step event-type
    * sequences. The Spark side slides windows over each user's ONE sorted
    * array; the oracle is the naive 2-step self-join cascade on
    * row_number — independent derivations must agree row-for-row (the
    * funnel-vs-cascade pattern). µs clock both sides. */
  protected val eTopPaths = Q("e_top_paths",
    (s, dir) => Funnel.topPaths(
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("ts")),
      pathLen = 3, topN = 20),
    Some("""WITH e AS (SELECT user_id, event_type,
      |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      |p AS (SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
      |  FROM e a
      |  JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      |  JOIN e c ON c.user_id = a.user_id AND c.rn = a.rn + 2)
      |SELECT path, count(*) AS n FROM p GROUP BY 1
      |ORDER BY n DESC, path LIMIT 20""".stripMargin))

  /** Last-touch attribution: each purchase joined to the latest same-user
    * click within a 7-day window — the as-of operator (AsOfJoin) composed
    * onto the events domain; the oracle is DuckDB's NATIVE ASOF LEFT JOIN
    * with the tolerance applied as a post-gate, so two independent as-of
    * implementations must agree. */
  protected val eAttribution = Q("e_attribution",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      AsOfJoin.lastValueAsOf(purchases, clicks, keys = Seq("user_id"),
        tsCol = "ts", probeCols = Seq("purchase_id"),
        payloadCols = Seq("click_id"),
        tolerance = Some(7L * 24 * 3600 * 1000000L))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts FROM events),
      |p AS (SELECT user_id, ts, event_id AS purchase_id FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, event_id AS click_id FROM e WHERE event_type = 'click')
      |SELECT p.user_id, p.ts, p.purchase_id,
      |  CASE WHEN p.ts - c.cts <= 604800000000 THEN c.click_id END AS click_id
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts""".stripMargin))

  /** Feature-hashing document embedder (TextAnalysis.embedDocuments),
    * compared in long form (doc_id, dim_idx, weight) including untouched
    * dimensions so the array layout is pinned, not just the hits. */
  protected val pipelineEmbedDocs = Q("pipeline_embed_docs",
    (s, dir) => TextAnalysis.embedDocuments(Tables.documents(s, dir), dim = 16)
      .select(col("doc_id"), posexplode(col("embedding")))
      .withColumnsRenamed(Map("pos" -> "dim_idx", "col" -> "weight")),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT doc_id, unnest(w) AS t FROM toks),
      |hx AS (SELECT doc_id, md5(t) AS m FROM occ),
      |sig AS (SELECT doc_id, (${TextFns.md5Base28Sql("m")}) % 16 AS b,
      |  (((${TextFns.md5Base28Sql("m")}) // 16) % 2) * 2 - 1 AS s FROM hx),
      |agg AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS w FROM sig GROUP BY 1, 2),
      |grid AS (SELECT doc_id, r.range AS dim_idx FROM documents CROSS JOIN range(0, 16) r)
      |SELECT g.doc_id, CAST(g.dim_idx AS INTEGER) AS dim_idx,
      |  coalesce(a.w, 0) AS weight
      |FROM grid g LEFT JOIN agg a ON a.doc_id = g.doc_id AND a.b = g.dim_idx""".stripMargin))

  /** The composed doc → embed → ANN pipeline: hash-embed every document,
    * then brute-force cosine top-k through the SAME Similarity machinery
    * (DotProductD + WindowGroupLimit) the float embeddings use. The oracle
    * re-derives the vectors in SQL and re-ranks with list_dot_product —
    * the full pipeline is hash-checked end to end. */
  protected val pipelineEmbedTopk = Q("pipeline_embed_topk",
    (s, dir) => {
      val vecs = TextAnalysis.embedDocuments(Tables.documents(s, dir), dim = 16)
        .select(col("doc_id").as("vec_id"), lit(0).as("label"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
        .where(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x) > 0)
      Similarity.bruteTopK(vecs, k = 5, stride = 50)
    },
    Some(s"""WITH $docVecCtes,
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vec),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0)
      |${Similarity.cosineTopKSql("n", "q", Nil, excludeSelf = true, k = 5)}""".stripMargin))

  /** The document-embedding vector table behind the decontamination and
    * topic-clustering pipelines: feature-hash embed at dim 16, cast to
    * double, zero vectors dropped (no cosine), constant label 0 (the
    * similarity ops' prepared() contract). */
  protected def docVecsFrom(docs: DataFrame): DataFrame =
    TextAnalysis.embedDocuments(docs, dim = 16)
      .select(col("doc_id").as("vec_id"), lit(0).as("label"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .where(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x) > 0)

  protected def docVecs(s: SparkSession, dir: String): DataFrame =
    docVecsFrom(Tables.documents(s, dir))

  /** Trained doc-topic centroids, memoized per (sfDir, nCells): training
    * is bit-deterministic, so the four consumers (two topic query fns +
    * their two derived oracles) share ONE training run per JVM instead of
    * re-running the ~8-pass eager loop four times. Bounded: one entry per
    * distinct (sfDir, nCells). ASSUMES the data under sfDir is immutable
    * for the JVM lifetime (true for the driver's testdata dirs): if a dir
    * is regenerated mid-session, query AND derived oracle both serve the
    * stale centroids — verification would still pass but reflect the old
    * training. Key the cache on a dataset fingerprint if that ever changes. */
  protected val docCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[Array[Double]]]()
  protected def docCentroids(s: SparkSession, dir: String,
      nCells: Int): Seq[Array[Double]] =
    docCentroidCache.computeIfAbsent((dir, nCells),
      _ => Similarity.kmeansCentroidArrays(docVecs(s, dir), nCells))

  /** [[docVecsFrom]]'s DuckDB re-derivation over any source relation
    * `src(doc_id, text)`: CTEs `toks`…`vec` (vec_id, v) — append an `n`
    * CTE for norms / buckets per query. Pre-stripped; interpolate
    * directly after WITH. */
  protected def docVecCtesFor(src: String): String =
    s"""toks AS (SELECT doc_id, $duckToks AS w FROM $src),
      |occ AS (SELECT doc_id, unnest(w) AS t FROM toks),
      |hx AS (SELECT doc_id, md5(t) AS m FROM occ),
      |sig AS (SELECT doc_id, (${TextFns.md5Base28Sql("m")}) % 16 AS b,
      |  (((${TextFns.md5Base28Sql("m")}) // 16) % 2) * 2 - 1 AS s FROM hx),
      |agg AS (SELECT doc_id, b, sum(s) AS w FROM sig GROUP BY 1, 2),
      |grid AS (SELECT doc_id, r.range AS dim_idx FROM $src CROSS JOIN range(0, 16) r),
      |vec AS (SELECT g.doc_id AS vec_id,
      |    list(CAST(coalesce(a.w, 0) AS DOUBLE) ORDER BY g.dim_idx) AS v
      |  FROM grid g LEFT JOIN agg a ON a.doc_id = g.doc_id AND a.b = g.dim_idx
      |  GROUP BY g.doc_id)""".stripMargin

  protected lazy val docVecCtes: String = docVecCtesFor("documents")

  /** [[docVecCtes]] with the nonzero vectors' norms `n` and their
    * `assigned`(vec_id, v, nrm, cell, cell_cos) to the centroid literals
    * `cents` ([[Similarity.assignCellsSql]]) — the topic oracles'
    * prefix. */
  protected def docAssignedCtes(cents: Seq[Array[Double]]): String =
    s"""$docVecCtes,
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vec
      |  WHERE list_dot_product(v, v) > 0),
      |${Similarity.centroidsSql(cents)},
      |assigned AS (${Similarity.assignCellsSql("n")})""".stripMargin

  /** Semantic decontamination (Similarity.crossTopK over
    * TextAnalysis.embedDocuments): every 10th document plays the held-out
    * benchmark; for each benchmark doc the 3 nearest TRAINING docs by
    * embedding cosine — the report a curator reads to find paraphrased eval
    * items that n-gram contamination checks (text_contamination) miss. The
    * whole chain — feature-hash embed, split, cross-corpus ANN — is
    * deterministic and oracled end-to-end. */
  protected val pipelineDecontamTopk = Q("pipeline_decontam_topk",
    (s, dir) => {
      val vecs = docVecs(s, dir)
      Similarity.crossTopK(
        vecs.where(pmod(col("vec_id"), lit(10)) =!= 0),
        vecs.where(pmod(col("vec_id"), lit(10)) === 0), k = 3)
    },
    Some(s"""WITH $docVecCtes,
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vec),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 10 = 0),
      |corpus AS (SELECT * FROM n WHERE vec_id % 10 <> 0)
      |${Similarity.cosineTopKSql("corpus", "q", Nil, excludeSelf = false, k = 3)}""".stripMargin))

  /** Topic clustering over the document embedder (Similarity.kmeansAssign
    * ∘ TextAnalysis.embedDocuments): train k-means‖ cells on the dim-16
    * doc vectors, assign every doc, and summarize each cluster (size +
    * best-fitting exemplar doc) — the corpus-curation view that tells a
    * data engineer what the corpus is MADE of before weighting it.
    * Training is bit-deterministic (sorted candidates, round-6 Lloyd
    * means), so the oracle is DERIVED at verify time: the trained
    * centroids interpolate as literals and DuckDB independently re-embeds,
    * re-assigns (same round-6/min-cell argmax), and re-summarizes. */
  protected val pipelineTopicClusters = Q("pipeline_topic_clusters",
    (s, dir) => {
      val assigned = Similarity.kmeansAssignWith(docVecs(s, dir),
        docCentroids(s, dir, nCells = 8))
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("cell_cos").desc, col("vec_id"))
      assigned
        .withColumn("_rn", row_number().over(w))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_docs"),
          max(when(col("_rn") === 1, col("vec_id"))).as("exemplar_id"),
          max(when(col("_rn") === 1, col("cell_cos"))).as("exemplar_cos"))
    },
    None, oracleFn = Some { (s, dir) =>
      val cents = docCentroids(s, dir, nCells = 8)
      s"""WITH ${docAssignedCtes(cents)},
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY cell_cos DESC, vec_id) AS rn FROM assigned)
        |SELECT cell, count(*) AS n_docs,
        |  max(CASE WHEN rn = 1 THEN vec_id END) AS exemplar_id,
        |  max(CASE WHEN rn = 1 THEN cell_cos END) AS exemplar_cos
        |FROM ranked GROUP BY cell""".stripMargin
    })

  /** Topic-balanced sampling: k docs per TRAINED cluster — classSample
    * (the TopKPlan bounded-heap path) running on the kmeansAssign output
    * instead of a stored label, i.e. balance the training mix across
    * DISCOVERED topics, not just given metadata. Derived oracle like
    * pipeline_topic_clusters (same assignment CTE, then the md5-rank cut
    * of pipeline_class_sample). */
  protected val pipelineTopicSample = Q("pipeline_topic_sample",
    (s, dir) => {
      val assigned = Similarity.kmeansAssignWith(docVecs(s, dir),
          docCentroids(s, dir, nCells = 8))
        .select(col("vec_id").as("doc_id"), col("cell"))
      TextAnalysis.classSample(assigned, "cell", k = 10)
    },
    None, oracleFn = Some { (s, dir) =>
      val cents = docCentroids(s, dir, nCells = 8)
      s"""WITH ${docAssignedCtes(cents)},
        |h AS (SELECT vec_id AS doc_id, cell, md5(CAST(vec_id AS VARCHAR)) AS h FROM assigned),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY h, doc_id) AS rank FROM h)
        |SELECT cell, CAST(rank AS INTEGER) AS rank, doc_id FROM r WHERE rank <= 10""".stripMargin
    })

  /** pipeline_decontam_topk's SCALE path: the same embed → split →
    * cross-ANN chain, but bucketed with dim-16 hyperplanes
    * (crossTopKLsh(dim = 16)) so the benchmark-vs-training search is one
    * equi-join at any corpus size instead of the brute cross join. Both
    * engines derive buckets from the same interpolated plane literals. */
  protected val pipelineDecontamLsh = Q("pipeline_decontam_lsh",
    (s, dir) => {
      val vecs = docVecs(s, dir)
      Similarity.crossTopKLsh(
        vecs.where(pmod(col("vec_id"), lit(10)) =!= 0),
        vecs.where(pmod(col("vec_id"), lit(10)) === 0), k = 3, nPlanes = 6,
        dim = 16)
    },
    Some {
      s"""WITH $docVecCtes,
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |  ${Similarity.lshBucketSql(6, 16)} AS bucket FROM vec
        |  WHERE list_dot_product(v, v) > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM n WHERE vec_id % 10 = 0),
        |corpus AS (SELECT * FROM n WHERE vec_id % 10 <> 0)
        |${Similarity.cosineTopKSql("corpus", "q", Seq("bucket"), excludeSelf = false, k = 3)}""".stripMargin
    }, bench = true)

  /** Cross-corpus LSH top-k (Similarity.crossTopKLsh) on the embeddings
    * table — the decontamination scale path: both sides bucket on the same
    * shared hyperplanes, so the search is one equi-join however large the
    * training side grows. Every 5th vector plays the query set. */
  protected val simCrossLshTopk = Q("sim_cross_lsh_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.crossTopKLsh(
        e.where(pmod(col("vec_id"), lit(5)) =!= 0),
        e.where(pmod(col("vec_id"), lit(5)) === 0), k = 10)
    },
    Some {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |  ${Similarity.lshBucketSql(6, 64)} AS bucket FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM n WHERE vec_id % 5 = 0),
        |corpus AS (SELECT * FROM n WHERE vec_id % 5 <> 0)
        |${Similarity.cosineTopKSql("corpus", "q", Seq("bucket"), excludeSelf = false, k = 10)}""".stripMargin
    })

  /** Multi-probe cross-corpus LSH top-k (Similarity.crossTopKLshMultiProbe
    * — Lv et al. 2007's recall knob on the two-table bucket path): each
    * query probes its own plus every Hamming-1 bucket; the probe explode
    * stays on the tiny broadcast query side, the corpus keeps one bucket
    * per row, so no dedup is ever needed. Deterministic ⇒ oracled: the
    * DuckDB twin unnests the same xor probe list. */
  protected val simCrossLshMp = Q("sim_cross_lsh_mp",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.crossTopKLshMultiProbe(
        e.where(pmod(col("vec_id"), lit(5)) =!= 0),
        e.where(pmod(col("vec_id"), lit(5)) === 0), k = 10)
    },
    Some {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |  ${Similarity.lshBucketSql(6, 64)} AS bucket FROM e),
        |q0 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM n WHERE vec_id % 5 = 0),
        |q AS (SELECT query_id, qv, qnrm,
        |    unnest(${Similarity.hamming1ProbesSql(6)}) AS bucket FROM q0),
        |corpus AS (SELECT * FROM n WHERE vec_id % 5 <> 0)
        |${Similarity.cosineTopKSql("corpus", "q", Seq("bucket"), excludeSelf = false, k = 10)}""".stripMargin
    })

  /** Cross-corpus IVF top-k against the PERSISTED centroid index
    * (Similarity.crossTopKIvf, nProbes = 2): centroids are trained on
    * the corpus side once and loaded from the parquet artifact
    * (embCentroids — the same index dedup_semantic shares); the corpus
    * assigns to cells with the round-6 argmax, each query probes its 2
    * nearest cells — the trained-index sibling of sim_cross_lsh_topk.
    * Derived oracle: centroid literals, DuckDB re-derives assignment,
    * probe ranking and the search identically. */
  protected val simCrossIvfTopk = Q("sim_cross_ivf_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
      Similarity.crossTopKIvf(corpus,
        e.where(pmod(col("vec_id"), lit(5)) === 0), k = 10,
        embCentroids(s, dir, "corp5", corpus), nProbes = 2)
    },
    None, oracleFn = Some { (s, dir) =>
      val cents = embCentroids(s, dir, "corp5",
        Tables.embeddings(s, dir).where(pmod(col("vec_id"), lit(5)) =!= 0))
      s"""WITH ${embAssignedCtes(cents, "n.vec_id % 5 <> 0")},
        |q0 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 5 = 0),
        |q AS (${Similarity.probeCellsSql("q0", 2)})
        |${Similarity.cosineTopKSql("assigned", "q", Seq("cell"), excludeSelf = false, k = 10)}""".stripMargin
    })

  /** Token-budget mixture (TextAnalysis.tokenBudgetSample): greedy prefix
    * in portable md5 order until each source's token budget fills. The
    * Spark side is the bucket-refined prefix-sum (256-way parallel); the
    * oracle is the NAIVE single global window per source — the two must
    * agree bit-for-bit because the bucket is a prefix of the order key. */
  protected val textTokenBudget = Q("text_token_budget",
    (s, dir) => TextAnalysis.tokenBudgetSample(Tables.documents(s, dir),
      Map("src0" -> 700L, "src1" -> 2000L), defaultBudget = 500L),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |d AS (SELECT dd.doc_id, dd.source, md5(CAST(dd.doc_id AS VARCHAR)) AS u,
      |  b.n_bpe AS n_tokens FROM documents dd JOIN bpe_doc b ON b.doc_id = dd.doc_id),
      |b AS (SELECT *, CASE source WHEN 'src0' THEN 700 WHEN 'src1' THEN 2000
      |  ELSE 500 END AS budget FROM d),
      |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
      |  ROWS UNBOUNDED PRECEDING) AS cum FROM b)
      |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_toks
      |FROM c WHERE cum <= budget""".stripMargin))

  /** PII scrub (TextAnalysis.piiRedact). The synthetic corpus contains no
    * PII, so the query plants one deterministic email / IPv4 / phone per
    * document from its own key columns (same expression in both engines)
    * and the oracle re-runs the identical regex chain in DuckDB — the
    * patterns are written in the Java-regex ∩ RE2 syntax subset
    * (TextFns.PiiPatterns) precisely so both engines match the same spans. */
  protected val textPiiRedact = Q("text_pii_redact",
    (s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
        lit(" call 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-"),
        lpad(pmod(col("doc_id") * 3, lit(10000)).cast("string"), 4, "0")).as("text"))
      TextAnalysis.piiRedact(planted)
    },
    Some {
      val counts = TextFns.PiiPatterns.map { case (label, pat, _) =>
        s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_${label}s"
      }.mkString(",\n      |  ")
      val redact = TextFns.PiiPatterns.foldLeft("t") { case (acc, (_, pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      s"""WITH raw AS (SELECT doc_id, text
      |  || ' contact user' || CAST(doc_id AS VARCHAR)
      |  || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
      |  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      |  || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |  || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents)
      |SELECT doc_id,
      |  $counts,
      |  $redact AS redacted
      |FROM raw""".stripMargin
    })

  /** Paragraph-level exact dedup (TextAnalysis.paragraphDedup): global
    * first-occurrence keep over 20-token paragraphs, per-doc reassembly.
    * The oracle mirrors the same chunking arithmetic as pipeline_chunk_docs
    * (overlap 0) plus the first-occurrence window and an ordered
    * string_agg. */
  protected val dedupParagraphs = Q("dedup_paragraphs",
    (s, dir) => TextAnalysis.paragraphDedup(Tables.documents(s, dir),
      paraTokens = 20),
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sized AS (SELECT doc_id, w, CAST(len(w) AS INTEGER) AS n FROM t WHERE len(w) > 0),
      |counted AS (SELECT doc_id, w,
      |  CAST(((n + 19) - ((n + 19) % 20)) / 20 AS INTEGER) AS n_paras FROM sized),
      |ex AS (SELECT doc_id, w, n_paras,
      |  CAST(unnest(generate_series(0, n_paras - 1)) AS INTEGER) AS pos FROM counted),
      |para AS (SELECT doc_id, n_paras, pos,
      |  array_to_string(list_slice(w, pos * 20 + 1, pos * 20 + 20), ' ') AS para FROM ex),
      |first AS (SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      |  FROM para)
      |SELECT doc_id, max(n_paras) AS n_paras, count(*) AS n_kept,
      |  string_agg(para, ' ' ORDER BY pos) AS clean_text
      |FROM first WHERE rn = 1 GROUP BY doc_id""".stripMargin))

  /** ExactSubstr cross-document span dedup
    * (TextAnalysis.exactSubstrDedup): overlapping 10-token anchors, global
    * first-occurrence keep, per-token coverage rebuild. The oracle derives
    * the same report through an independent exploded-join formulation
    * (token×position LEFT JOIN covered-position set) rather than the
    * engine's array-rebuild, so the two sides must agree on every kept
    * token, not just counts. */
  protected val dedupExactSubstr = Q("dedup_exact_substr",
    (s, dir) => TextAnalysis.exactSubstrDedup(Tables.documents(s, dir),
      spanTokens = 10),
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sized AS (SELECT doc_id, w, CAST(len(w) AS INTEGER) AS n FROM t WHERE len(w) > 0),
      |anch AS (SELECT doc_id, w,
      |  CAST(unnest(generate_series(0, n - 10)) AS INTEGER) AS pos
      |  FROM sized WHERE n >= 10),
      |hashed AS (SELECT doc_id, pos,
      |  md5(array_to_string(list_slice(w, pos + 1, pos + 10), ' ')) AS h FROM anch),
      |marked AS (SELECT doc_id, pos,
      |  count(*) OVER (PARTITION BY h) AS cnt,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM hashed),
      |cov AS (SELECT DISTINCT doc_id,
      |  CAST(unnest(generate_series(pos, pos + 9)) AS INTEGER) AS cpos
      |  FROM marked WHERE cnt > 1 AND rn > 1),
      |tok AS (SELECT doc_id, n,
      |  CAST(unnest(generate_series(1, n)) AS INTEGER) AS p, w FROM sized),
      |kept AS (SELECT k.doc_id, k.n, k.p, k.w[k.p] AS tokstr, c.cpos
      |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.p - 1 = c.cpos)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      |  CAST(count(cpos) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN cpos IS NULL THEN tokstr END, ' ' ORDER BY p), '') AS clean_text
      |FROM kept GROUP BY doc_id""".stripMargin), bench = true)

  /** Incremental ExactSubstr (TextAnalysis.exactSubstrDedupIncremental):
    * the batch (doc_id % 7 ≠ 0) dedups spans against itself AND the
    * persisted span index of history (doc_id % 7 = 0). The oracle
    * re-derives the index from history's raw text — independent
    * derivations agreeing, like dedup_minhash_incr. */
  protected val dedupExactSubstrIncr = Q("dedup_exact_substr_incr",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.exactSubstrDedupIncremental(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        TextAnalysis.spanIndex(docs.where(pmod(col("doc_id"), lit(7)) === 0)),
        spanTokens = 10)
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sized AS (SELECT doc_id, w, CAST(len(w) AS INTEGER) AS n FROM t WHERE len(w) > 0),
      |banch AS (SELECT doc_id, w,
      |  CAST(unnest(generate_series(0, n - 10)) AS INTEGER) AS pos
      |  FROM sized WHERE n >= 10 AND doc_id % 7 <> 0),
      |bhashed AS (SELECT doc_id, pos,
      |  md5(array_to_string(list_slice(w, pos + 1, pos + 10), ' ')) AS h FROM banch),
      |hanch AS (SELECT doc_id, w,
      |  CAST(unnest(generate_series(0, n - 10)) AS INTEGER) AS pos
      |  FROM sized WHERE n >= 10 AND doc_id % 7 = 0),
      |hidx AS (SELECT DISTINCT
      |  md5(array_to_string(list_slice(w, pos + 1, pos + 10), ' ')) AS h FROM hanch),
      |marked AS (SELECT doc_id, pos,
      |  count(*) OVER (PARTITION BY h) AS cnt,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      |  h IN (SELECT h FROM hidx) AS in_hist FROM bhashed),
      |cov AS (SELECT DISTINCT doc_id,
      |  CAST(unnest(generate_series(pos, pos + 9)) AS INTEGER) AS cpos
      |  FROM marked WHERE in_hist OR (cnt > 1 AND rn > 1)),
      |tok AS (SELECT doc_id, n,
      |  CAST(unnest(generate_series(1, n)) AS INTEGER) AS p, w FROM sized
      |  WHERE doc_id % 7 <> 0),
      |kept AS (SELECT k.doc_id, k.n, k.p, k.w[k.p] AS tokstr, c.cpos
      |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.p - 1 = c.cpos)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      |  CAST(count(cpos) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN cpos IS NULL THEN tokstr END, ' ' ORDER BY p), '') AS clean_text
      |FROM kept GROUP BY doc_id""".stripMargin))

  /** Bloom-prefiltered incremental span dedup: bit-identical to
    * dedup_exact_substr_incr (the semi-join drops bloom-negative anchors
    * anyway), so it shares that oracle, which knows nothing of blooms. */
  protected val dedupExactSubstrIncrBloom = Q("dedup_exact_substr_incr_bloom",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = TextAnalysis.spanIndex(
        docs.where(pmod(col("doc_id"), lit(7)) === 0))
      val bloom = Dedup.buildHashBloom(idx, "h", expectedItems = 1 << 17)
      TextAnalysis.exactSubstrDedupIncremental(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0), idx,
        spanTokens = 10, historySpanBloom = Some(bloom))
    },
    dedupExactSubstrIncr.oracle)

  /** Per-document TF-IDF top terms (TextAnalysis.tfidfTopTerms): ranked by
    * the exact integer score (tf·1e6) div (df+1) with a term tie-break —
    * no float log reaches the comparison, so both engines rank
    * identically. */
  protected val textTfidf = Q("text_tfidf_topk",
    (s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), k = 3),
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT doc_id, unnest(w) AS term FROM toks),
      |g AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
      |s AS (SELECT g.doc_id, g.term, g.tf, dfreq.df,
      |  (g.tf * 1000000) // (dfreq.df + 1) AS score_ppm
      |  FROM g JOIN dfreq USING (term)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |  ORDER BY score_ppm DESC, term) AS rnk FROM s)
      |SELECT doc_id, term, tf, df, CAST(score_ppm AS BIGINT) AS score_ppm,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3""".stripMargin))

  /** Deterministic shard assignment audit (TextAnalysis.shardStats): the
    * md5-uniform mod-nShards layout a training write uses, with per-shard
    * doc / token / source balance. */
  /** Dataset card (TextAnalysis.datasetCard): the per-source datasheet a
    * corpus release ships — docs/chars, REAL BPE token totals, integer
    * mean quality, exact-dup rate, model-language mode + share. Oracle
    * composes the BPE, quality and model-lang fragments; all-integral
    * arithmetic ⇒ hash-exact. */
  protected val pipelineDatasetCard = Q("pipeline_dataset_card",
    (s, dir) => TextAnalysis.datasetCard(Tables.documents(s, dir)),
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |${langModelCtes()},
      |q AS (SELECT doc_id, source, length(text) AS n_chars, md5(text) AS tmd5,
      |        $qualityBpSql AS quality_bp
      |      FROM (SELECT doc_id, source, text, $duckToks AS w FROM documents)),
      |j AS (SELECT q.*, b.n_bpe, m.predicted_lang
      |      FROM q JOIN bpe_doc b USING (doc_id) JOIN mlang m USING (doc_id)),
      |agg AS (SELECT source, count(*) AS n_docs,
      |        CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
      |        CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |        sum(quality_bp) AS sum_q,
      |        count(DISTINCT tmd5) AS n_distinct FROM j GROUP BY 1),
      |lc AS (SELECT source, predicted_lang, count(*) AS n FROM j GROUP BY 1, 2),
      |lt AS (SELECT source, predicted_lang AS top_lang, n,
      |       row_number() OVER (PARTITION BY source ORDER BY n DESC, predicted_lang) AS rn
      |       FROM lc)
      |SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs, a.n_tokens, a.n_chars,
      |  CAST(a.sum_q // a.n_docs AS BIGINT) AS mean_quality_bp,
      |  CAST((a.n_docs - a.n_distinct) * 10000 // a.n_docs AS BIGINT) AS dup_bp,
      |  t.top_lang, CAST(t.n * 10000 // a.n_docs AS BIGINT) AS top_lang_share_bp
      |FROM agg a JOIN lt t ON t.source = a.source AND t.rn = 1""".stripMargin), bench = true)

  /** Incremental/mergeable dataset card (TextAnalysis.datasetCardState /
    * mergeCardStates / cardFromState): the corpus arrives as THREE
    * disjoint batches, each reduced to a per-source state row (sums + HLL
    * sketch + language histogram), states merged pairwise, card derived
    * from the merged state — the corpus is never rescanned. Every scalar
    * field equals the single-pass dataset_card exactly (monoid merges);
    * the one estimate field (HLL distinct) is witnessed by the derived 3σ
    * bound vs exact distinct, the text_vocab_approx pattern — DuckDB has
    * no datasketches HLL, so the estimate itself is not cross-engine. */
  protected val pipelineDatasetCardIncr = Q("pipeline_dataset_card_incr",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val state = (0 until 3).map(i => TextAnalysis.datasetCardState(
          docs.where(pmod(col("doc_id"), lit(3)) === i)))
        .reduce(TextAnalysis.mergeCardStates(_, _))
      val card = TextAnalysis.cardFromState(state)
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(md5(col("text"))).as("n_exact"))
      card.join(exact, "source").select(
        col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("mean_quality_bp"), col("top_lang"), col("top_lang_share_bp"),
        (abs(col("n_distinct_est") - col("n_exact")) * 100 <=
          col("n_exact") * TextAnalysis.CardHllBoundPct)
          .cast("int").as("hll_within_bound"))
    },
    Some(s"""WITH RECURSIVE $duckBpeBlock,
      |$duckBpeDocCount,
      |${langModelCtes()},
      |q AS (SELECT doc_id, source, length(text) AS n_chars,
      |        $qualityBpSql AS quality_bp
      |      FROM (SELECT doc_id, source, text, $duckToks AS w FROM documents)),
      |j AS (SELECT q.*, b.n_bpe, m.predicted_lang
      |      FROM q JOIN bpe_doc b USING (doc_id) JOIN mlang m USING (doc_id)),
      |agg AS (SELECT source, count(*) AS n_docs,
      |        CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
      |        CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |        sum(quality_bp) AS sum_q FROM j GROUP BY 1),
      |lc AS (SELECT source, predicted_lang, count(*) AS n FROM j GROUP BY 1, 2),
      |lt AS (SELECT source, predicted_lang AS top_lang, n,
      |       row_number() OVER (PARTITION BY source ORDER BY n DESC, predicted_lang) AS rn
      |       FROM lc)
      |SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs, a.n_tokens, a.n_chars,
      |  CAST(a.sum_q // a.n_docs AS BIGINT) AS mean_quality_bp,
      |  t.top_lang, CAST(t.n * 10000 // a.n_docs AS BIGINT) AS top_lang_share_bp,
      |  CAST(1 AS INTEGER) AS hll_within_bound
      |FROM agg a JOIN lt t ON t.source = a.source AND t.rn = 1""".stripMargin))

  protected val textShardStats = Q("text_shard_stats",
    (s, dir) => TextAnalysis.shardStats(Tables.documents(s, dir), nShards = 8),
    Some(s"""WITH sh AS (SELECT
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 8 AS shard,
      |  source, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents)
      |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM sh GROUP BY shard""".stripMargin))

  /** This family's registrar — composed into [[Queries.all]]. */
  protected def curationQs: Seq[Q] = Seq(
    dedupExact, dedupExactNfc, dedupUrl, dedupUrlIncr,
    dedupExactIncr, dedupExactIncrBloom, dedupMinhashIncr, dedupMinhashIncrBloom,
    dedupMinhashPairs, dedupClusters, dedupSurvivorQuality, dedupSimhash,
    dedupEmbedding, dedupEmbeddingLsh, dedupEmbeddingLshMp, dedupEmbeddingClusters,
    pipelineDocsPrep, pipelineDropReport, pipelineCurateFull, pipelinePackDocs,
    pipelinePackSequences, pipelinePackIds, pipelineCrawlToTrainer, pipelineTokenIds,
    pipelineTemperedSample, pipelineChunkDocs, pipelineClassSample, pipelineTrainSplit,
    pipelineGroupSplit, pipelineDatasetCard, pipelineDatasetCardIncr, textNormalize,
    textCompress, textStats, textBpeTokens, textBpeVocab,
    textBpeCompression, textLangid, textLangidModel, textTopTerms,
    textCollocations, textFamiliarity, textLmScore, textCorpusDrift,
    textVocab, textVocabApprox, textFingerprints, textRepetition,
    textContamination, textMixtureSample, textPiiRedact, dedupParagraphs,
    dedupExactSubstr, dedupExactSubstrIncr, dedupExactSubstrIncrBloom, textTfidf,
    textShardStats, eSessionize, eAttribution, eTopPaths,
    textTokenBudget, pipelineEmbedDocs, pipelineEmbedTopk, pipelineDecontamTopk,
    pipelineDecontamLsh, pipelineTopicClusters, pipelineTopicSample, simCrossLshTopk,
    simCrossLshMp, simCrossIvfTopk, sketchCmsHeavyHitters, sketchHllShards,
    sketchHllOverlap)
}
