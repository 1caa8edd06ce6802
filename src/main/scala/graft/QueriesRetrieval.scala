package graft

import graft.functions.{Bpe, DecodeFns, OddsFns, TextFns, TimeFns}
import graft.functions.SimFns.toDouble
import graft.operators._
import graft.sources.BettingFixture
import graft.streaming.{EventStreams, WagerBook}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Page cleaning + sparse lexical retrieval (BM25 tier), hybrid
  * fusion, MMR, RAG capstones, events/funnels, fuzzy ER and graph ops
  * (SURVEY §2.13). */
private[graft] trait QueriesRetrieval extends QueriesCuration {

  // ───────────── line-level page cleaning (LineOps — the pre-gate tier) ──

  /** Planted multi-line "crawled page" fixture over documents (same
    * planted-fixture pattern as [[plantedUrls]] — the documents table is
    * single-line word soup, so page structure is synthesized
    * deterministically, twin expressions both sides). The line mix covers
    * every rule: nav chrome (no terminal punct + corpus-frequent), a
    * per-doc content sentence, a javascript interstitial (1/3 of docs),
    * a second content line whose terminal punct flips on parity, a short
    * teaser (1/4), a script line with braces (1/5), a within-doc repeat
    * of the content sentence (1/6), and a footer that PASSES the c4 rules
    * but is corpus-frequent (so only the boilerplate pass can remove it).
    * Collision structure audited at both SFs per the round-10 lesson:
    * every per-rule branch is non-empty and no rule kills all lines. */
  protected def plantedPages(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.Stage(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    st.select(col("doc_id"), concat_ws("\n",
      lit("Home | About | Contact"),
      concat(concat_ws(" ", slice(col("w"), 1, 8)), lit(".")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("Please enable javascript to view this site.")),
      concat(concat_ws(" ", slice(col("w"), 9, 6)),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(".")).otherwise(lit(""))),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("Read more")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("if (window.track) { trackPage(); }")),
      when(pmod(col("doc_id"), lit(6)) === 0,
        concat(concat_ws(" ", slice(col("w"), 1, 8)), lit("."))),
      lit("(c) 2026 Example Corp. All rights reserved.")).as("text"))
  }

  /** SQL twin of [[plantedPages]] — relation (doc_id, text). concat_ws
    * skips NULL branches in both engines; list_slice is begin/END indexed
    * in DuckDB vs begin/LENGTH in Spark (9..14 ≡ slice(w, 9, 6)). */
  protected def plantedPageSql: String =
    s"""SELECT doc_id, concat_ws(chr(10),
      |  'Home | About | Contact',
      |  array_to_string(list_slice(w, 1, 8), ' ') || '.',
      |  CASE WHEN doc_id % 3 = 0 THEN 'Please enable javascript to view this site.' END,
      |  array_to_string(list_slice(w, 9, 14), ' ') ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END),
      |  CASE WHEN doc_id % 4 = 0 THEN 'Read more' END,
      |  CASE WHEN doc_id % 5 = 0 THEN 'if (window.track) { trackPage(); }' END,
      |  CASE WHEN doc_id % 6 = 0 THEN array_to_string(list_slice(w, 1, 8), ' ') || '.' END,
      |  '(c) 2026 Example Corp. All rights reserved.') AS text
      |FROM (SELECT doc_id, $duckToks AS w FROM documents)""".stripMargin

  /** SQL twin of LineOps.c4KeepLine over a lambda-bound line `x`. */
  protected def c4KeepSql(x: String, minWords: Int = 5): String =
    s"""len(string_split_regex(trim($x), '\\s+')) >= $minWords
      |      AND right(trim($x), 1) IN ('.', '!', '?')
      |      AND instr(lower($x), 'javascript') = 0
      |      AND instr(lower($x), 'lorem ipsum') = 0
      |      AND instr(lower($x), 'cookie') = 0
      |      AND instr(lower($x), '{') = 0""".stripMargin

  /** Planted robots.txt rule table — one Seq is the single source for
    * both sides. The planted URL structure fixes each host's page
    * (doc%40 = N ⇒ doc%20 = N%20), so the rules are shaped to make every
    * verdict branch REAL at every SF: hosts N%4==0 get a broad /Docs
    * disallow plus a longer /Docs/Page1 allow (pages 12/16 win the
    * longest-match override, pages 0/4/8 stay blocked); hosts N%4==1 get
    * their own exact page disallowed; the rest have no rules (default
    * allow). */
  protected val robotsRules: Seq[(String, String, Int)] =
    (0 until 40).flatMap { n =>
      val h = s"site$n.example.com"
      if (n % 4 == 0) Seq((h, "/Docs", 0), (h, "/Docs/Page1", 1))
      else if (n % 4 == 1) Seq((h, s"/Docs/Page${n % 20}", 0))
      else Nil
    }

  protected def robotsRuleSql: String =
    robotsRules.map { case (h, p, a) => s"('$h', '$p', $a)" }.mkString(
      "r AS (SELECT * FROM (VALUES ", ", ", ") AS v(host, prefix, allow))")

  /** The robots verdict derivation over relation `src(doc_id, url)` —
    * ONE fragment for every oracle that needs it (RFC 9309 semantics
    * live in exactly two places: Dedup.robotsFilter and here). Emits
    * CTEs `c(doc_id[, canonical_url], host, path)` and `m(doc_id,
    * allow, rn)`; the verdict is `coalesce(m.allow, 1)` joined
    * `ON m.doc_id = … AND m.rn = 1`. Requires `r(host, prefix, allow)`
    * in scope; `withCanonical` adds the canonical-URL column for
    * compositions that also dedup. */
  protected def robotsVerdictCtes(src: String,
      withCanonical: Boolean = false): String = {
    val canon =
      if (withCanonical)
        s"coalesce(${Dedup.canonicalUrlSql("url")}, " +
          "chr(0) || 'doc:' || CAST(doc_id AS VARCHAR)) " +
          "AS canonical_url,\n        "
      else ""
    s"""c AS (SELECT doc_id, $canon${Dedup.urlHostSql("url")} AS host,
      |        ${Dedup.urlPathSql("url")} AS path FROM $src),
      |m AS (SELECT c.doc_id, r.allow, row_number() OVER (PARTITION BY c.doc_id
      |        ORDER BY len(r.prefix) DESC, r.allow DESC) AS rn
      |      FROM c JOIN r ON r.host = c.host AND starts_with(c.path, r.prefix))""".stripMargin
  }

  /** robots.txt frontier filter (Dedup.robotsFilter): RFC 9309
    * longest-prefix-wins, allow on ties, default allow. The Spark side
    * decides via ONE struct-max aggregation (no self-join); the oracle
    * derives the same verdict through an independent rank-window
    * formulation. */
  protected val pipelineRobotsFilter = Q("pipeline_robots_filter",
    (s, dir) => {
      import s.implicits._
      Dedup.robotsFilter(plantedUrls(s, dir),
        robotsRules.toDF("host", "prefix", "allow"))
    },
    Some(s"""WITH u AS ($plantedUrlSql),
      |$robotsRuleSql,
      |${robotsVerdictCtes("u")}
      |SELECT c.doc_id, c.host, c.path,
      |  CAST(coalesce(m.allow, 1) AS INTEGER) AS allowed
      |FROM c LEFT JOIN m ON m.doc_id = c.doc_id AND m.rn = 1""".stripMargin))

  /** Per-host crawl profile (urlDedup ∘ robotsFilter → host rollup):
    * the frontier report a crawl operator reads — pages fetched,
    * distinct canonical pages, recrawl-duplication rate and
    * robots-allowed share per host, all integer basis points. Output is
    * #hosts rows at any corpus size. */
  protected val aHostProfile = Q("a_host_profile",
    (s, dir) => {
      import s.implicits._
      val urls = plantedUrls(s, dir)
      val dd = Dedup.urlDedup(urls).select(col("doc_id"), col("is_canonical"))
      val rf = Dedup.robotsFilter(urls,
        robotsRules.toDF("host", "prefix", "allow"))
      rf.join(dd, "doc_id")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_canonical").cast("long")).as("n_pages"),
          sum(col("allowed").cast("long")).as("n_allowed"))
        .select(col("host"), col("n_docs"), col("n_pages"),
          expr("(n_docs - n_pages) * 10000 div n_docs").as("dup_bp"),
          expr("n_allowed * 10000 div n_docs").as("allowed_bp"))
    },
    Some(s"""WITH u AS ($plantedUrlSql),
      |$robotsRuleSql,
      |${robotsVerdictCtes("u", withCanonical = true)},
      |k AS (SELECT doc_id, host,
      |        CAST(doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
      |          AS INTEGER) AS is_canonical FROM c),
      |v AS (SELECT k.doc_id, k.host, k.is_canonical,
      |        coalesce(m.allow, 1) AS allowed
      |      FROM k LEFT JOIN m ON m.doc_id = k.doc_id AND m.rn = 1)
      |SELECT host, count(*) AS n_docs,
      |  CAST(sum(is_canonical) AS BIGINT) AS n_pages,
      |  (count(*) - CAST(sum(is_canonical) AS BIGINT)) * 10000 // count(*) AS dup_bp,
      |  CAST(sum(allowed) AS BIGINT) * 10000 // count(*) AS allowed_bp
      |FROM v GROUP BY host""".stripMargin))

  /** C4 line rules (LineOps.cleanLines): drop short / unterminated /
    * marker lines, rebuild the page. Narrow — zero exchanges. */
  protected val textCleanLines = Q("text_clean_lines",
    (s, dir) => LineOps.cleanLines(plantedPages(s, dir)),
    Some(s"""WITH p AS ($plantedPageSql),
      |s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM p),
      |k AS (SELECT doc_id, l, list_filter(l, x -> ${c4KeepSql("x")}) AS k FROM s)
      |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
      |  CAST(len(k) AS BIGINT) AS n_kept,
      |  array_to_string(k, chr(10)) AS cleaned_text FROM k""".stripMargin))

  /** Within-doc repeated-line removal (LineOps.dedupLinesWithinDoc):
    * first occurrence wins, order preserved. `array_position` /
    * `list_position` both return the FIRST index, so the keep-predicate
    * is portable verbatim. Narrow — zero exchanges. */
  protected val textLineDedup = Q("text_line_dedup",
    (s, dir) => LineOps.dedupLinesWithinDoc(plantedPages(s, dir)),
    Some(s"""WITH p AS ($plantedPageSql),
      |s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM p),
      |k AS (SELECT doc_id, l, list_filter(generate_series(1, len(l)),
      |        i -> list_position(l, l[CAST(i AS INTEGER)]) = i) AS ki FROM s)
      |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
      |  CAST(len(ki) AS BIGINT) AS n_unique,
      |  array_to_string(list_transform(ki, i -> l[CAST(i AS INTEGER)]), chr(10))
      |    AS deduped_text FROM k""".stripMargin))

  /** Corpus-frequent boilerplate strip (LineOps.stripBoilerplate): lines
    * in ≥ 30% of documents are chrome, removed everywhere — catches the
    * footer that PASSES the c4 rules. The doc-frequency pass shuffles md5
    * line keys (not raw strings); the frequent set joins back broadcast. */
  protected val textBoilerplate = Q("text_boilerplate",
    (s, dir) => LineOps.stripBoilerplate(plantedPages(s, dir), 3000),
    Some(s"""WITH p AS ($plantedPageSql),
      |s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM p),
      |ex AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line FROM s),
      |nd AS (SELECT count(*) AS n_docs FROM p),
      |f AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS doc_freq FROM ex GROUP BY 1),
      |b AS (SELECT lh FROM f, nd WHERE doc_freq * 10000 >= n_docs * 3000),
      |j AS (SELECT e.doc_id, e.pos, e.line, (b.lh IS NOT NULL) AS is_b
      |      FROM ex e LEFT JOIN b ON b.lh = md5(e.line))
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(count(*) FILTER (WHERE NOT is_b) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_b), '')
      |    AS cleaned_text
      |FROM j GROUP BY doc_id""".stripMargin))

  /** Incremental boilerplate strip (LineOps.boilerplateIndex +
    * applyBoilerplate): the frequent-line index is built on YESTERDAY's
    * crawl (the bounded %3==0 ∧ doc_id<600 history slice — same shape as
    * dedup_url_incr: residue coprime to the planted structure, bounded so
    * it saturates at no SF) and applied to today's batch (%3≠0) as a
    * pure narrow filter — history is never rescanned per batch, and the
    * apply side is stateless so the SAME operator cleans a streaming
    * ingest (spec'd). Nav/footer live in 100% of history docs, so the
    * suppression path is real at every SF; the javascript interstitial is
    * history-frequent but absent from the batch (the index-miss path). */
  protected val textBoilerplateIncr = Q("text_boilerplate_incr",
    (s, dir) => {
      val pages = plantedPages(s, dir)
      LineOps.applyBoilerplate(
        pages.where(pmod(col("doc_id"), lit(3)) =!= 0),
        LineOps.boilerplateIndex(
          pages.where(pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 600),
          3000))
    },
    Some(s"""WITH p AS ($plantedPageSql),
      |h AS (SELECT * FROM p WHERE doc_id % 3 = 0 AND doc_id < 600),
      |hex AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM h),
      |hnd AS (SELECT count(*) AS n_docs FROM h),
      |b AS (SELECT lh FROM (
      |    SELECT md5(line) AS lh, count(DISTINCT doc_id) AS doc_freq
      |    FROM hex GROUP BY 1) f, hnd
      |  WHERE doc_freq * 10000 >= n_docs * 3000),
      |bl AS (SELECT coalesce(list(lh), CAST([] AS VARCHAR[])) AS boiler FROM b),
      |s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM p
      |      WHERE doc_id % 3 <> 0),
      |k AS (SELECT doc_id, l, list_filter(l,
      |        x -> NOT list_contains(boiler, md5(x))) AS k FROM s, bl)
      |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
      |  CAST(len(k) AS BIGINT) AS n_kept,
      |  array_to_string(k, chr(10)) AS cleaned_text FROM k""".stripMargin))

  /** The pageClean derivation over any relation `rel(doc_id, text)` —
    * CTE chain + final SELECT, shared by pipeline_page_clean and the
    * wet-clean composition. Thresholds are PARAMETERS mirroring
    * LineOps.pageClean's signature (minWords rides inside
    * [[c4KeepSql]]), so a caller with non-default knobs cannot silently
    * hash-diverge from a default-built oracle. */
  protected def pageCleanSql(rel: String, minDocShareBp: Int = 3000,
      minWords: Int = 5, minKeptLines: Int = 2): String =
    s"""s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM $rel),
      |ex AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line FROM s),
      |nd AS (SELECT count(*) AS n_docs FROM $rel),
      |f AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS doc_freq FROM ex GROUP BY 1),
      |b AS (SELECT lh FROM f, nd WHERE doc_freq * 10000 >= n_docs * $minDocShareBp),
      |deb AS (SELECT doc_id, count(*) AS n_lines,
      |    coalesce(string_agg(line, chr(10) ORDER BY pos)
      |      FILTER (WHERE b.lh IS NULL), '') AS text
      |  FROM ex e LEFT JOIN b ON b.lh = md5(e.line) GROUP BY doc_id),
      |c4 AS (SELECT doc_id, n_lines,
      |    list_filter(string_split(text, chr(10)), x -> ${c4KeepSql("x", minWords)}) AS k
      |  FROM deb),
      |dd AS (SELECT doc_id, n_lines, k,
      |    list_filter(generate_series(1, len(k)),
      |      i -> list_position(k, k[CAST(i AS INTEGER)]) = i) AS ki FROM c4)
      |SELECT doc_id, n_lines, CAST(len(ki) AS BIGINT) AS n_kept,
      |  CAST(len(ki) >= $minKeptLines AS INTEGER) AS keep_doc,
      |  array_to_string(list_transform(ki, i -> k[CAST(i AS INTEGER)]), chr(10))
      |    AS cleaned_text
      |FROM dd""".stripMargin

  /** Mergeable boilerplate-index state (LineOps.boilerplateState /
    * mergeBoilerplateStates / indexFromState): the corpus arrives as
    * THREE disjoint batches, each reduced to its (line-key,
    * doc-frequency) state with an n_docs rider row; states merge
    * pairwise and the share threshold applies at READ time over the
    * merged state — so it must equal the single-pass full-corpus
    * frequency table the oracle derives. Output = the full merged
    * state (frequent AND infrequent lines; the NULL-key rider row
    * carries the total doc count). */
  protected val textBoilerplateMerge = Q("text_boilerplate_merge",
    (s, dir) => {
      val pages = plantedPages(s, dir)
      (0 until 3).map(i => LineOps.boilerplateState(
          pages.where(pmod(col("doc_id"), lit(3)) === i)))
        .reduce(LineOps.mergeBoilerplateStates)
    },
    Some(s"""WITH p AS ($plantedPageSql),
      |ex AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM p),
      |f AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS cnt
      |      FROM ex GROUP BY 1)
      |SELECT lh, CAST(cnt AS BIGINT) AS cnt FROM f
      |UNION ALL
      |SELECT CAST(NULL AS VARCHAR) AS lh, count(*) AS cnt FROM p""".stripMargin))

  /** The composed page-cleaning pass (LineOps.pageClean): boilerplate
    * strip → c4 rules → within-doc dedup → doc-level gate (≥ 2 surviving
    * content lines). Even docs keep 2 lines (second content line gets
    * terminal punct), odd docs keep 1 and gate out — both branches of
    * keep_doc are populated at every SF. */
  protected val pipelinePageClean = Q("pipeline_page_clean",
    (s, dir) => LineOps.pageClean(plantedPages(s, dir)),
    Some(s"""WITH p AS ($plantedPageSql),
      |${pageCleanSql("p")}""".stripMargin), bench = true)

  /** The full crawl tier END-TO-END (LineOps.htmlExtract → pageClean):
    * raw HTML in, gated clean pages out — extraction emits line-
    * structured text, so the boilerplate/c4/dedup tier runs on REAL
    * upstream output here, not only on the planted line fixture. The
    * nav div, footer-less entity paragraph and title/h1 chrome land in
    * the boilerplate or c4 buckets; the parity paragraph keeps keep_doc
    * two-sided at every SF. The boilerplate index comes through the
    * MERGED-STATE path (three disjoint batches → boilerplateState →
    * mergeBoilerplateStates → indexFromState) — the incremental line-
    * tier posture exercised end-to-end; by the merge monoid
    * (text_boilerplate_merge, LineOpsSpec) it equals the single-pass
    * index, so the oracle is unchanged. */
  protected val pipelineWetClean = Q("pipeline_wet_clean",
    (s, dir) => {
      // pageClean consumes its input lineage three times (index explode,
      // n_docs count, narrow apply); persisting the extracted frame runs
      // the 13-step regex chain ONCE instead of thrice — the same
      // shared-consumer reason bm25TopK persists its postings.
      val pages = LineOps.htmlExtract(plantedHtml(s, dir))
        .select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val state = LineOps.mergeBoilerplateStatesAll((0 until 3).map(i =>
        LineOps.boilerplateState(
          pages.where(pmod(col("doc_id"), lit(3)) === i))))
      LineOps.pageCleanWithIndex(pages,
        LineOps.indexFromState(state, minDocShareBp = 3000))
    },
    Some(s"""WITH ${htmlExtractCtes()},
      |hpage AS (SELECT doc_id, text FROM hx),
      |${pageCleanSql("hpage")}""".stripMargin))

  /** Planted raw-HTML fixture over documents — the WET-extraction input:
    * title, headline + content paragraphs from the doc's tokens, a script
    * block whose body contains a bare '<' (1/3 of docs — the non-greedy
    * block-strip trap), an HTML comment (1/4), an entity-rich paragraph
    * (always: &amp;, &lt;/&gt;, &quot;, &#39;, and the double-encoding
    * probe &amp;lt; which must decode to the LITERAL '&lt;', not '<'),
    * a style block (1/5), and nav chrome. The script body spans TWO
    * LINES (real crawl JS is multi-line) — the `[\s\S]` block strips
    * must swallow the newline, not leak JS into the extracted text. */
  protected def plantedHtml(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.Stage(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    st.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><meta charset=\"utf-8\"></head><body><h1>"),
      concat_ws(" ", slice(col("w"), 1, 3)), lit("</h1><p>"),
      concat_ws(" ", slice(col("w"), 1, 8)), lit(".</p><p>"),
      concat_ws(" ", slice(col("w"), 9, 6)),
      when(pmod(col("doc_id"), lit(2)) === 0, lit(".")).otherwise(lit("")),
      lit("</p>"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<script type=\"text/javascript\">var x = 1 < 2;\n track();</script>"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("<!-- hidden build marker -->")).otherwise(lit("")),
      lit("<p>Fish &amp; Chips &lt;deal&gt; says &quot;today&quot; "),
      lit("it&#39;s &amp;lt;escaped&amp;gt;</p>"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("<style>.nav { color: red; }</style>")).otherwise(lit("")),
      lit("<div class=\"nav\">Home</div></body></html>")).as("html"))
  }

  protected def plantedHtmlSql: String =
    s"""SELECT doc_id, '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</title><meta charset="utf-8"></head><body><h1>' ||
      |  array_to_string(list_slice(w, 1, 3), ' ') || '</h1><p>' ||
      |  array_to_string(list_slice(w, 1, 8), ' ') || '.</p><p>' ||
      |  array_to_string(list_slice(w, 9, 14), ' ') ||
      |  (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) || '</p>' ||
      |  (CASE WHEN doc_id % 3 = 0
      |    THEN '<script type="text/javascript">var x = 1 < 2;' || chr(10) || ' track();</script>'
      |    ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN '<!-- hidden build marker -->' ELSE '' END) ||
      |  '<p>Fish &amp; Chips &lt;deal&gt; says &quot;today&quot; ' ||
      |  'it&#39;s &amp;lt;escaped&amp;gt;</p>' ||
      |  (CASE WHEN doc_id % 5 = 0 THEN '<style>.nav { color: red; }</style>' ELSE '' END) ||
      |  '<div class="nav">Home</div></body></html>' AS html
      |FROM (SELECT doc_id, $duckToks AS w FROM documents)""".stripMargin

  /** The extraction derivation as a CTE block ending in
    * `hx(doc_id, html, text)` with LINE-STRUCTURED text — shared by the
    * text_html_extract oracle and the wet-clean composition. The strip
    * chain itself is generated from the SAME step list the Spark side
    * folds (LineOps.htmlStripSql). */
  protected def htmlExtractCtes(srcSql: String = plantedHtmlSql): String =
    s"""hp AS ($srcSql),
      |hx AS (SELECT doc_id, html,
      |  trim(${LineOps.htmlStripSql("html")}, ' ' || chr(10)) AS text FROM hp)""".stripMargin

  /** WET-style HTML extraction (LineOps.htmlExtract): block tags become
    * line breaks, inline tags spaces; entity decode; per-line whitespace
    * normalization; raw title pull. */
  protected val textHtmlExtract = Q("text_html_extract",
    (s, dir) => LineOps.htmlExtract(plantedHtml(s, dir)),
    Some(s"""WITH ${htmlExtractCtes()}
      |SELECT doc_id, regexp_extract(html, '(?i)<title(>|[ \t\r\n][^>]*>)([^<]*)</title>', 2) AS title,
      |  text,
      |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(len(CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(text)), '\\s+') END) AS INTEGER)
      |    AS n_tokens
      |FROM hx""".stripMargin))

  /** The CRAWL-FRONTIER capstone — one call from today's raw crawl to
    * gated clean pages, every stage an already-oracled operator:
    *
    *   1. robots gate (RFC 9309 verdict, narrow) on the new batch
    *      (%3≠0 — the dedup_url_incr split),
    *   2. incremental canonical-URL dedup against YESTERDAY's persisted
    *      key index (bounded %3==0 ∧ doc_id<600 history),
    *   3. WET HTML extraction of the admitted fresh fetches,
    *   4. boilerplate/c4/line-dedup page cleaning + the doc gate.
    *
    * Funnel audited non-degenerate at both SFs: every stage culls some
    * docs and none culls all (robots, recrawl suppression, within-batch
    * dup collapse, and the keep_doc parity split all fire). The oracle
    * chains the same shared fragments (robots rank-window, history
    * anti-join, extract chain, pageClean CTEs). */
  protected val pipelineCrawlFrontier = Q("pipeline_crawl_frontier",
    (s, dir) => {
      import s.implicits._
      val urls = plantedUrls(s, dir)
      val batch = urls.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val admitted = Dedup.robotsFilter(batch,
          robotsRules.toDF("host", "prefix", "allow"))
        .where(col("allowed") === 1).select(col("doc_id"))
      val hist = Dedup.urlIndex(urls.where(
        pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 600))
      val fresh = Dedup.urlDedupIncremental(batch.join(admitted, "doc_id"), hist)
        .where(col("is_canonical") === 1).select(col("doc_id"))
      // fetch set decided — extract + clean only those pages; the
      // extracted frame persists (pageClean reads it three times)
      LineOps.pageClean(
        LineOps.htmlExtract(plantedHtml(s, dir).join(fresh, "doc_id"))
          .select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    },
    Some(s"""WITH u AS ($plantedUrlSql),
      |$robotsRuleSql,
      |bu AS (SELECT doc_id, url FROM u WHERE doc_id % 3 <> 0),
      |${robotsVerdictCtes("bu", withCanonical = true)},
      |adm AS (SELECT c.doc_id, c.canonical_url FROM c
      |  LEFT JOIN m ON m.doc_id = c.doc_id AND m.rn = 1
      |  WHERE coalesce(m.allow, 1) = 1),
      |histc AS (SELECT DISTINCT ${Dedup.canonicalUrlSql("url")} AS k FROM u
      |          WHERE doc_id % 3 = 0 AND doc_id < 600),
      |fresh AS (SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY canonical_url) AS keep_id
      |    FROM adm WHERE canonical_url NOT IN (SELECT k FROM histc))
      |  WHERE doc_id = keep_id),
      |${htmlExtractCtes(
          s"SELECT p.* FROM ($plantedHtmlSql) p JOIN fresh USING (doc_id)")},
      |hpage AS (SELECT doc_id, text FROM hx),
      |${pageCleanSql("hpage")}""".stripMargin))

  // ───────────── sparse lexical retrieval (Retrieval — BM25 tier) ────────

  /** The planted query batch for the BM25 family — one Seq is the single
    * source for BOTH the Spark frame and the SQL VALUES twin. Terms are
    * drawn from the documents vocabulary (multi-term, single-term, and
    * mixed-frequency queries), so every query matches a non-degenerate
    * candidate set at every SF. */
  protected val bmQueryTerms: Seq[(String, String)] = Seq(
    "q1" -> "table", "q1" -> "scan",
    "q2" -> "window", "q2" -> "agg",
    "q3" -> "join", "q3" -> "merge", "q3" -> "batch",
    "q4" -> "stream", "q4" -> "vector",
    "q5" -> "slow", "q5" -> "fast",
    "q6" -> "customer", "q6" -> "order")

  protected def bmQuerySql: String =
    bmQueryTerms.map { case (q, t) => s"('$q', '$t')" }.mkString(
      "q AS (SELECT * FROM (VALUES ", ", ", ") AS v(query_id, term))")

  /** Integer-BM25 top-k retrieval (Retrieval.bm25TopK): inverted-index
    * postings + df index + basis-point BM25 with floor division — the
    * no-float discipline makes the scores hash-exact cross-engine. The
    * oracle re-derives the identical arithmetic (Retrieval.bm25Sql, the
    * single source for the SQL side). */
  protected val textBm25Topk = Q("text_bm25_topk",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25TopK(Tables.documents(s, dir),
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |${Retrieval.bm25Sql(duckToks, 5)}""".stripMargin), bench = true)

  /** BM25 from the PERSISTED index (Retrieval.bm25TopKIndexed): the
    * postings + corpus-stats artifacts are staged to parquet once
    * (parquetArtifact) and the query scores from the LOADED index — the
    * lexical tier's production read path, where a query batch never
    * touches the documents table at all. Same queries, same k, same
    * oracle as text_bm25_topk: the read path must reproduce the
    * build-and-score form bit-exactly through the parquet round-trip. */
  protected val textBm25Indexed = Q("text_bm25_indexed",
    (s, dir) => {
      import s.implicits._
      val post = parquetArtifact(s, dir, "bm25_postings", "documents")(
        Retrieval.postings(Tables.documents(s, dir)))
      val stats = parquetArtifact(s, dir, "bm25_stats", "documents")(
        Retrieval.corpusStats(Tables.documents(s, dir)))
      Retrieval.bm25TopKIndexed(post, stats,
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |${Retrieval.bm25Sql(duckToks, 5)}""".stripMargin))

  /** Planted linked-page fixture — a nav line that is ALL anchor text,
    * a content line with one small inline link, and a plain line. */
  protected def plantedLinkHtml(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.Stage(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    st.select(col("doc_id"), concat(
      lit("<html><body><div><a href=\"/\">Home</a> | " +
        "<a href=\"/about\">About Us</a></div><p>"),
      concat_ws(" ", slice(col("w"), 1, 8)),
      lit(" see <a href=\"/d\">details</a> now.</p><p>"),
      concat_ws(" ", slice(col("w"), 9, 6)),
      lit(" plain text line here"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit(".")).otherwise(lit("")),
      lit("</p></body></html>")).as("html"))
  }

  protected def plantedLinkHtmlSql: String =
    s"""SELECT doc_id, '<html><body><div><a href="/">Home</a> | ' ||
      |  '<a href="/about">About Us</a></div><p>' ||
      |  array_to_string(list_slice(w, 1, 8), ' ') ||
      |  ' see <a href="/d">details</a> now.</p><p>' ||
      |  array_to_string(list_slice(w, 9, 14), ' ') ||
      |  ' plain text line here' ||
      |  (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) ||
      |  '</p></body></html>' AS html
      |FROM (SELECT doc_id, $duckToks AS w FROM documents)""".stripMargin

  /** Per-line link density (LineOps.linkDensity): the trafilatura-style
    * main-content heuristic — nav chrome is mostly anchor text, prose is
    * not. The nav line reads ~80% link chars (flagged), the content line
    * a few percent, the plain line zero. Sentinel control chars travel
    * both engines' literals/regexes verbatim. */
  protected val textLinkDensity = Q("text_link_density",
    (s, dir) => LineOps.linkDensity(plantedLinkHtml(s, dir)),
    Some {
      val a1 = "\u0001"; val a2 = "\u0002"
      s"""WITH p AS ($plantedLinkHtmlSql),
      |x AS (SELECT doc_id,
      |  trim(${LineOps.linkedStripSql("html")}, ' ' || chr(10)) AS text FROM p),
      |e AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS raw
      |      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM x)),
      |c AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |  regexp_replace(raw, '[$a1$a2]', '', 'g') AS line,
      |  CAST(coalesce(list_sum(list_transform(
      |    regexp_extract_all(raw, '$a1([^$a1$a2]*)$a2', 1), s -> length(s))), 0)
      |    AS BIGINT) AS link_chars FROM e),
      |d AS (SELECT doc_id, pos, line,
      |  CAST(length(line) AS BIGINT) AS n_chars, link_chars,
      |  CAST(CASE WHEN length(line) = 0 THEN 0
      |    ELSE link_chars * 10000 // length(line) END AS BIGINT) AS link_bp
      |  FROM c)
      |SELECT doc_id, pos, line, n_chars, link_chars, link_bp,
      |  CAST(link_chars * 10000 <= n_chars * 5000 AS INTEGER) AS is_content FROM d""".stripMargin
    })

  /** Main-content extraction end-to-end (LineOps.contentExtract): the
    * trafilatura composition - link-density gate -> sentinel strip ->
    * c4 rules -> within-doc dedup -> doc gate, ALL narrow. The nav line
    * dies to density (it survives c4: 5 words and the About-Us anchor
    * text ends with no punct... it dies to punct too - the density gate
    * is what kills link-heavy lines that DO look like sentences), the
    * content line stays, the plain line's punct flips on parity so
    * keep_doc is two-sided at every SF. */
  protected val pipelineContentExtract = Q("pipeline_content_extract",
    (s, dir) => LineOps.contentExtract(plantedLinkHtml(s, dir)),
    Some {
      val a1 = "\u0001"; val a2 = "\u0002"
      val clean = s"regexp_replace(x, '[$a1$a2]', '', 'g')"
      val linkChars = "CAST(coalesce(list_sum(list_transform(" +
        s"regexp_extract_all(x, '$a1([^$a1$a2]*)$a2', 1), s -> length(s))), 0) AS BIGINT)"
      s"""WITH p AS ($plantedLinkHtmlSql),
      |x AS (SELECT doc_id,
      |  trim(${LineOps.linkedStripSql("html")}, ' ' || chr(10)) AS text FROM p),
      |sx AS (SELECT doc_id, string_split(text, chr(10)) AS l0 FROM x),
      |cg AS (SELECT doc_id, l0, list_filter(l0, x ->
      |    length($clean) = 0 OR
      |    $linkChars * 10000 <= CAST(length($clean) AS BIGINT) * 5000) AS lc
      |  FROM sx),
      |cl AS (SELECT doc_id, l0,
      |    list_transform(lc, x -> $clean) AS l FROM cg),
      |c4 AS (SELECT doc_id, l0, l,
      |    list_filter(l, x -> ${c4KeepSql("x")}) AS k FROM cl),
      |dd AS (SELECT doc_id, l0, l, k,
      |    list_filter(generate_series(1, len(k)),
      |      i -> list_position(k, k[CAST(i AS INTEGER)]) = i) AS ki FROM c4)
      |SELECT doc_id, CAST(len(l0) AS BIGINT) AS n_lines,
      |  CAST(len(l) AS BIGINT) AS n_content,
      |  CAST(len(ki) AS BIGINT) AS n_kept,
      |  CAST(len(ki) >= 2 AS INTEGER) AS keep_doc,
      |  array_to_string(list_transform(ki, i -> k[CAST(i AS INTEGER)]), chr(10))
      |    AS main_text
      |FROM dd""".stripMargin
    })

  /** Exact-phrase search (Retrieval.phraseSearch): adjacency = bigram
    * key, so phrase lookup is one equi-join on the bigram index. The
    * planted set mixes frequent and rare adjacencies plus one absent
    * phrase (contributes no rows — the honest miss branch). */
  protected val textPhraseSearch = Q("text_phrase_search",
    (s, dir) => {
      import s.implicits._
      Retrieval.phraseSearch(Tables.documents(s, dir),
        Seq(("p1", "table scan"), ("p2", "window agg"),
          ("p3", "merge batch"), ("p4", "spark nonexistentword"))
          .toDF("phrase_id", "phrase"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(${duckShingles(2)}) AS bigram FROM t),
      |g AS (SELECT bigram, doc_id, count(*) AS n_hits FROM sh GROUP BY 1, 2),
      |p AS (SELECT * FROM (VALUES ('p1', 'table scan'), ('p2', 'window agg'),
      |  ('p3', 'merge batch'), ('p4', 'spark nonexistentword'))
      |  AS v(phrase_id, bigram))
      |SELECT p.phrase_id, g.doc_id, CAST(g.n_hits AS BIGINT) AS n_hits
      |FROM g JOIN p USING (bigram)""".stripMargin))

  /** Planted positional-phrase set — one Seq drives the Spark frame and
    * the per-phrase oracle derivations. The trigram was verified present
    * at sf0.01 AND sf0.1 (hence sf1); the absent phrase proves the miss
    * branch. */
  protected val posPhrases: Seq[(String, Seq[String])] = Seq(
    "p2" -> Seq("table", "scan"),
    "p3" -> Seq("spark", "vector", "big"),
    "px" -> Seq("spark", "duck", "pond"))

  /** Positional n-term phrase search (Retrieval.phraseSearchPositional):
    * arity-free positional-index join — offset-shifted positions
    * collect all n_terms offsets exactly at true occurrences. The
    * oracle derives each planted phrase INDEPENDENTLY as an explicit
    * k-way self-join on pos+k (per-phrase SQL generated from the same
    * Seq), so the two formulations must agree on every count. */
  protected val textPhrasePositional = Q("text_phrase_positional",
    (s, dir) => {
      import s.implicits._
      Retrieval.phraseSearchPositional(Tables.documents(s, dir),
        posPhrases.toDF("phrase_id", "terms"))
    },
    Some {
      val perPhrase = posPhrases.map { case (pid, terms) =>
        val joins = (1 until terms.size).map(k =>
          s"JOIN occ a$k ON a$k.doc_id = a0.doc_id AND a$k.pos = a0.pos + $k").mkString("\n  ")
        val conds = terms.zipWithIndex
          .map { case (t, k) => s"a$k.term = '$t'" }.mkString(" AND ")
        s"""SELECT '$pid' AS phrase_id, a0.doc_id, count(*) AS n_hits
          |FROM occ a0
          |  $joins
          |WHERE $conds GROUP BY 1, 2""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
      |        unnest(w) AS term FROM t)
      |$perPhrase""".stripMargin
    })

  /** Proximity retrieval (Retrieval.proximitySearch): term pairs
    * co-occurring within 3 positions in either order, one corpus pass
    * with a persisted candidate frame feeding the range self-join. The
    * oracle derives the same counts through a direct positional
    * self-join on the exploded tokens. */
  protected val textProximity = Q("text_proximity",
    (s, dir) => {
      import s.implicits._
      Retrieval.proximitySearch(Tables.documents(s, dir),
        Seq(("x1", "table", "scan"), ("x2", "window", "agg"),
          ("x3", "spark", "nonexistentword")).toDF("pair_id", "term_a", "term_b"),
        window = 3)
    },
    Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
      |occ AS (SELECT doc_id, generate_subscripts(w, 1) AS pos,
      |        unnest(w) AS term FROM t),
      |p AS (SELECT * FROM (VALUES ('x1', 'table', 'scan'),
      |  ('x2', 'window', 'agg'), ('x3', 'spark', 'nonexistentword'))
      |  AS v(pair_id, term_a, term_b))
      |SELECT p.pair_id, a.doc_id, count(*) AS n_hits
      |FROM p
      |  JOIN occ a ON a.term = p.term_a
      |  JOIN occ b ON b.doc_id = a.doc_id AND b.term = p.term_b
      |    AND abs(a.pos - b.pos) <= 3
      |GROUP BY 1, 2""".stripMargin))

  /** Stopword-pruned BM25 (Retrieval.bm25TopK with maxDfShareBp): a
    * query mixing a corpus-saturating term ('table', df ≈ 77% at every
    * SF — the planted vocab is near-uniform) with a rare one ('dup',
    * ≈ 5%); the 50% df-share prune drops the saturating term's whole
    * posting list BEFORE the candidate join — the stopword-explosion
    * guard — and ranking proceeds on the informative term. */
  protected val textBm25Pruned = Q("text_bm25_pruned",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25TopK(Tables.documents(s, dir),
        Seq(("q1", "table"), ("q1", "dup")).toDF("query_id", "term"),
        k = 5, maxDfShareBp = 5000)
    },
    Some(s"""WITH q AS (SELECT * FROM (VALUES ('q1', 'table'), ('q1', 'dup'))
      |  AS v(query_id, term)),
      |${Retrieval.bm25Sql(duckToks, 5, maxDfShareBp = 5000)}""".stripMargin))

  /** Snippet generation for the BM25 top-k (Retrieval.bm25Snippets):
    * the 7-token window around each hit doc's first query-term
    * occurrence — the "present" step of the retrieval tier. Misses
    * differ cross-engine (Spark array_position = 0, DuckDB
    * list_position = NULL); both sides filter them before the min. */
  protected val textBm25Snippets = Q("text_bm25_snippets",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25Snippets(Tables.documents(s, dir),
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |topk AS (SELECT query_id, doc_id, CAST(rnk AS INTEGER) AS rnk
      |  FROM ranked WHERE rnk <= 5),
      |qt AS (SELECT query_id, list(term) AS terms FROM q GROUP BY 1),
      |j AS (SELECT t.query_id, t.doc_id, t.rnk, k.w, qt.terms
      |  FROM topk t JOIN qt USING (query_id) JOIN toks k USING (doc_id)),
      |hp AS (SELECT query_id, doc_id, rnk,
      |  CAST(list_min(list_filter(list_transform(terms, x -> list_position(w, x)),
      |    p -> p IS NOT NULL AND p > 0)) AS BIGINT) AS hit_pos, w FROM j)
      |SELECT query_id, doc_id, rnk, hit_pos,
      |  array_to_string(list_slice(w,
      |    CAST(greatest(1, hit_pos - 3) AS INTEGER),
      |    CAST(greatest(1, hit_pos - 3) + 6 AS INTEGER)), ' ') AS snippet
      |FROM hp""".stripMargin))

  /** BM25F fielded retrieval (Retrieval.bm25FieldedTopK): title hits
    * count 3× — tf and dl are field-weighted BEFORE saturation
    * (Robertson & Zaragoza's simple BM25F), df counts docs with the term
    * in EITHER field. The fielded fixture derives the title from the
    * doc's own leading tokens so query terms genuinely hit titles. The
    * oracle reuses the shared scoring tail over weighted postings. */
  /** The fielded fixture shared by the BM25F queries: title = the doc's
    * own 3 leading tokens (so query terms genuinely hit titles), body =
    * the full text. */
  protected def bmFieldedFixture(s: SparkSession, dir: String): DataFrame =
    graft.plans.Stage(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("w"), 1, 3)).as("title"),
        col("text").as("body"))

  /** The fielded index's `post` and `stats` ([[Retrieval.fieldedPostings]],
    * [[Retrieval.fieldedCorpusStats]]) over `ft`(doc_id, wt, wb) and
    * `occ`(doc_id, term, w), title tokens at weight 3. */
  private val fieldedPostStatsSql =
    """dls AS (SELECT doc_id, CAST(3 * len(wt) + len(wb) AS BIGINT) AS dl FROM ft),
      |post AS (SELECT term, o.doc_id, d.dl, CAST(sum(o.w) AS BIGINT) AS tf
      |  FROM occ o JOIN dls d USING (doc_id) GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS n_docs,
      |    CAST(sum(3 * len(wt) + len(wb)) AS BIGINT) AS total_tokens FROM ft)""".stripMargin

  protected val textBm25Fielded = Q("text_bm25_fielded",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25FieldedTopK(bmFieldedFixture(s, dir),
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |fields AS (SELECT doc_id,
      |    array_to_string(list_slice(w, 1, 3), ' ') AS title, text AS body
      |  FROM (SELECT doc_id, text, $duckToks AS w FROM documents)),
      |ft AS (SELECT doc_id,
      |  CASE WHEN trim(lower(title)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(title)), '\\s+') END AS wt,
      |  CASE WHEN trim(lower(body)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(body)), '\\s+') END AS wb
      |  FROM fields),
      |occ AS (SELECT doc_id, unnest(wt) AS term, 3 AS w FROM ft
      |  UNION ALL SELECT doc_id, unnest(wb) AS term, 1 AS w FROM ft),
      |${Retrieval.bm25IndexSql(postStats = fieldedPostStatsSql)},
      |${Retrieval.bm25ScoreTailSql(5)}""".stripMargin))

  /** BM25F from the PERSISTED fielded index (Retrieval.bm25TopKIndexed
    * over staged fieldedPostings + fieldedCorpusStats artifacts): the
    * scoring core is shape-agnostic — field-weighted (term, doc_id, dl,
    * tf) rows score through the SAME indexed read path as the plain
    * tier, so the fielded tier also never touches the documents at
    * query time. Same queries, k and oracle as text_bm25_fielded. */
  protected val textBm25FieldedIndexed = Q("text_bm25_fielded_indexed",
    (s, dir) => {
      import s.implicits._
      val post = parquetArtifact(s, dir, "bm25f_postings", "documents")(
        Retrieval.fieldedPostings(bmFieldedFixture(s, dir)))
      val stats = parquetArtifact(s, dir, "bm25f_stats", "documents")(
        Retrieval.fieldedCorpusStats(bmFieldedFixture(s, dir)))
      Retrieval.bm25TopKIndexed(post, stats,
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    textBm25Fielded.oracle)

  /** BM25F over REAL extracted fields (the wet→retrieval composition):
    * the h1 headline (discriminative — the fixture's h1 carries the
    * doc's leading content tokens, unlike <title> which is site chrome)
    * weights 3× against the extracted page body. Same scoring core and
    * oracle tail as the standalone fielded query; the fields come from
    * LineOps.htmlField + htmlExtract instead of a synthetic frame. */
  protected val textBm25FieldedWet = Q("text_bm25_fielded_wet",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25FieldedTopK(
        LineOps.htmlExtractFields(plantedHtml(s, dir)),
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |${htmlExtractCtes()},
      |fields AS (SELECT doc_id,
      |    regexp_extract(html, '(?i)<h1(>|[ \t\r\n][^>]*>)([^<]*)</h1>', 2) AS title,
      |    text AS body FROM hx),
      |ft AS (SELECT doc_id,
      |  CASE WHEN trim(lower(title)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(title)), '\\s+') END AS wt,
      |  CASE WHEN trim(lower(body)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(body)), '\\s+') END AS wb
      |  FROM fields),
      |occ AS (SELECT doc_id, unnest(wt) AS term, 3 AS w FROM ft
      |  UNION ALL SELECT doc_id, unnest(wb) AS term, 1 AS w FROM ft),
      |${Retrieval.bm25IndexSql(postStats = fieldedPostStatsSql)},
      |${Retrieval.bm25ScoreTailSql(5)}""".stripMargin))

  /** Mergeable term index (Retrieval.termIndex / mergeTermIndex): the
    * corpus arrives as three disjoint doc batches, each reduced to its
    * (term, df, tf_sum) index, merged pairwise — df and tf_sum are
    * additive over disjoint batches, so the merged index equals the
    * single-pass full-corpus index the oracle derives. The incremental
    * posture for the retrieval tier: new crawl batches fold into the
    * persisted index without rescanning history. */
  protected val textBm25Incr = Q("text_bm25_incr",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      (0 until 3).map(i =>
          Retrieval.termIndex(docs.where(pmod(col("doc_id"), lit(3)) === i)))
        .reduce(Retrieval.mergeTermIndex)
    },
    Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |post AS (SELECT term, doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(w) AS term FROM toks) GROUP BY 1, 2)
      |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_sum
      |FROM post GROUP BY term""".stripMargin))

  /** Incremental POSITIONAL index (Retrieval.positionalIndex /
    * mergePositionalIndex): the corpus arrives as three disjoint doc
    * batches, each reduced to its (term, doc_id, positions) index,
    * merged pairwise, and the merged index answers the SAME planted
    * positional-phrase queries — so it must equal the single-pass index
    * (the oracle derives every count from the full corpus directly).
    * The incremental posture for the EXPENSIVE retrieval tier: new
    * crawl batches fold into the persisted positional index without
    * rescanning history, and phrase/proximity queries read the index
    * instead of re-exploding documents per query batch. */
  protected val textPositionalIncr = Q("text_positional_incr",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // Each batch index is BUILT ONCE and staged to parquet
      // (parquetArtifact), then merged from the stored artifacts — the
      // StreamingRetrievalSpec posture (r12; the r11 demo re-aggregated
      // the full corpus per invocation). A warm run (artifacts present —
      // e.g. Bench after Verify) reads three small parquet dirs and pays
      // only the merge + query.
      val merged = (0 until 3).map(i =>
          parquetArtifact(s, dir, s"posidx_batch$i", "documents")(
            Retrieval.positionalIndex(
              docs.where(pmod(col("doc_id"), lit(3)) === i))))
        .reduce(Retrieval.mergePositionalIndex)
      Retrieval.phraseSearchPositionalIndexed(merged,
        posPhrases.toDF("phrase_id", "terms"))
    },
    textPhrasePositional.oracle)

  /** Delta-encoded positional index, queried DIRECTLY (Retrieval.
    * positionalIndexDelta + phraseSearchPositionalDelta — the postings-
    * compression step of the persisted artifact, r12: term-filter lands
    * on the ENCODED rows and only matching postings are prefix-sum
    * decoded, where the r11 round-trip decoded the whole index before
    * filtering): the planted positional phrases are answered through the
    * compressed artifact, so the query is green only if it is losslessly
    * queryable; the oracle is the same per-phrase derivation from the raw
    * corpus. The delta CONTENT (first + gaps, not just any self-inverse
    * pair) and direct ≡ plain-index equivalence are pinned separately in
    * RetrievalSpec. */
  protected val textPositionalDelta = Q("text_positional_delta",
    (s, dir) => {
      import s.implicits._
      Retrieval.phraseSearchPositionalDelta(
        Retrieval.positionalIndexDelta(
          Retrieval.positionalIndex(Tables.documents(s, dir))),
        posPhrases.toDF("phrase_id", "terms"))
    },
    textPhrasePositional.oracle)

  /** Incremental FIELDED term index (Retrieval.fieldedTermIndex +
    * mergeTermIndex — same (term, df, tf_sum) monoid as the plain
    * index): three disjoint batches of the fielded fixture, merged,
    * must equal the single-pass full-corpus fielded index the oracle
    * derives (df = docs with the term in EITHER field, tf_sum = sum of
    * field-weighted tf). Completes the mergeable-index posture for the
    * BM25F tier. */
  protected val textBm25FieldedIncr = Q("text_bm25_fielded_incr",
    (s, dir) => {
      val fields = bmFieldedFixture(s, dir)
      (0 until 3).map(i =>
          Retrieval.fieldedTermIndex(
            fields.where(pmod(col("doc_id"), lit(3)) === i)))
        .reduce(Retrieval.mergeTermIndex)
    },
    Some(s"""WITH fields AS (SELECT doc_id,
      |    array_to_string(list_slice(w, 1, 3), ' ') AS title, text AS body
      |  FROM (SELECT doc_id, text, $duckToks AS w FROM documents)),
      |ft AS (SELECT doc_id,
      |  CASE WHEN trim(lower(title)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(title)), '\\s+') END AS wt,
      |  CASE WHEN trim(lower(body)) = '' THEN CAST([] AS VARCHAR[])
      |    ELSE string_split_regex(trim(lower(body)), '\\s+') END AS wb
      |  FROM fields),
      |occ AS (SELECT doc_id, unnest(wt) AS term, 3 AS w FROM ft
      |  UNION ALL SELECT doc_id, unnest(wb) AS term, 1 AS w FROM ft),
      |post AS (SELECT term, doc_id, CAST(sum(w) AS BIGINT) AS tf
      |  FROM occ GROUP BY 1, 2)
      |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_sum
      |FROM post GROUP BY term""".stripMargin))

  /** Pseudo-relevance-feedback retrieval (Retrieval.bm25PrfTopK — the
    * integer RM3 reduction): pass 1 is plain BM25, the 3 highest-tf
    * terms across each query's top-5 docs (originals excluded, term-
    * string tie-break) expand the query at weight 5 vs the originals'
    * 10, pass 2 re-ranks with the weighted core over the SAME persisted
    * postings. The oracle replays both passes and the expansion
    * selection from the shared scoring fragments. */
  protected val textBm25Prf = Q("text_bm25_prf",
    (s, dir) => {
      import s.implicits._
      Retrieval.bm25PrfTopK(Tables.documents(s, dir),
        bmQueryTerms.toDF("query_id", "term"), k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |topf AS (SELECT query_id, doc_id FROM ranked WHERE rnk <= 5),
      |fbtf AS (SELECT r.query_id, p.term, CAST(sum(p.tf) AS BIGINT) AS tfs
      |  FROM post p JOIN topf r USING (doc_id) GROUP BY 1, 2),
      |expt AS (SELECT query_id, term FROM (
      |    SELECT f.query_id, f.term,
      |      row_number() OVER (PARTITION BY f.query_id
      |        ORDER BY f.tfs DESC, f.term) AS tr
      |    FROM fbtf f LEFT JOIN q
      |      ON q.query_id = f.query_id AND q.term = f.term
      |    WHERE q.term IS NULL)
      |  WHERE tr <= 3),
      |q2 AS (SELECT query_id, term, 10 AS wgt FROM q
      |  UNION ALL SELECT query_id, term, 5 FROM expt),
      |${Retrieval.bm25ScoreWeightedCtesSql()}
      |SELECT query_id, doc_id, score, CAST(rnk2 AS INTEGER) AS rnk
      |FROM ranked2 WHERE rnk2 <= 5""".stripMargin))

  /** Retrieval evaluation (Retrieval.evalRanking): BM25 top-10 scored
    * against boolean-AND qrels (a doc is relevant to a query iff it
    * carries ALL the query's terms within its LEADING 8 tokens — the
    * "answer in the opening" proxy, derivable in both engines from the
    * tokens, no judgment file needed; strict enough that the ranker
    * genuinely misses some and first ranks vary). Per query: hits in the
    * top 10, first relevant rank, integer MRR in basis points. */
  protected val textRetrievalEval = Q("text_retrieval_eval",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val q = bmQueryTerms.toDF("query_id", "term")
      Retrieval.evalRanking(
        Retrieval.bm25TopK(docs, q, k = 10), leading8Qrels(docs, q), k = 10)
    },
    Some(s"""WITH $bmQuerySql,
      |toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |topk AS (SELECT query_id, doc_id, CAST(rnk AS INTEGER) AS rnk
      |  FROM ranked WHERE rnk <= 10),
      |qn AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
      |lead AS (SELECT doc_id, unnest(list_distinct(list_slice(w, 1, 8))) AS term
      |  FROM toks),
      |qrels AS (SELECT l.term, l.doc_id, q.query_id FROM lead l JOIN q USING (term)),
      |rels AS (SELECT query_id, doc_id FROM (
      |    SELECT r.query_id, r.doc_id, count(DISTINCT r.term) AS n_match
      |    FROM qrels r GROUP BY 1, 2) m
      |  JOIN qn USING (query_id) WHERE m.n_match = qn.n_terms),
      |$evalTailSql""".stripMargin))

  /** SQL twin of Retrieval.evalRanking's tail — expects CTEs
    * `topk(query_id, doc_id, rnk)` and `rels(query_id, doc_id)` in
    * scope; shared by the BM25 and RAG evaluation oracles. */
  protected def evalTailSql: String =
    """j AS (SELECT t.query_id, t.rnk,
      |    CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      |  FROM topk t LEFT JOIN rels r
      |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id),
      |a AS (SELECT query_id, count(*) AS n_ranked,
      |    CAST(sum(rel) AS BIGINT) AS n_hits,
      |    min(CASE WHEN rel = 1 THEN rnk END) AS fr
      |  FROM j GROUP BY 1)
      |SELECT query_id, n_ranked, n_hits,
      |  CAST(coalesce(fr, 0) AS INTEGER) AS first_rel_rnk,
      |  CAST(CASE WHEN fr IS NULL THEN 0 ELSE 10000 // fr END AS BIGINT) AS mrr_bp
      |FROM a""".stripMargin

  /** The numeric-id query "documents" behind the hybrid query's dense
    * tier: one row per query, text = its terms (the id is the q-suffix,
    * so 'q' || id maps back to the sparse tier's string ids). */
  protected val bmQueryDocs: Seq[(Long, String)] =
    bmQueryTerms.groupBy(_._1).toSeq
      .map { case (q, ts) => (q.drop(1).toLong, ts.map(_._2).mkString(" ")) }
      .sortBy(_._1)

  /** The hybrid (sparse BM25 ⊕ dense ANN) fusion over any corpus frame
    * `(doc_id, text)` — ONE body for the documents query and the RAG
    * chunk capstone: BM25 top-10, feature-hash query embeddings against
    * the corpus embeddings, integer RRF fusion to the top-5.
    *
    * `denseLsh` picks the dense leg: false = brute crossTopK (exact —
    * the recall baseline, one full corpus vector scan per query batch);
    * true = MULTI-PROBE crossTopKLsh on the shared dim-16 hyperplanes
    * (the 100-TB posture — both sides bucket once and the search is one
    * equi-join however large the corpus; each query scores its own plus
    * every Hamming-1 bucket, ≈(nPlanes+1)/2^nPlanes of the corpus — the
    * Lv et al. 2007 recall knob, measured vs single-bucket and brute in
    * the r12 dense-recall measurements, NOTES.md r12). `nPlanes` is that dial surfaced as a
    * parameter (VERDICT r12 #6): 6 planes ≈ 11% scan / 0.37–0.48
    * recall@10, 4 planes ≈ 31% scan / 0.62 recall — a recall-hungry
    * deployment picks an operating point, not a code edit. `ivfCents`
    * (VERDICT r12 #7) swaps the dense leg onto the TRAINED persisted-
    * centroid path instead ([[Similarity.crossTopKIvf]], nProbes = 2 of
    * 10 cells): the third point on the exactness ladder — brute (exact)
    * ⊃ IVF (nProbes=|cells| ≡ exact) ⊃ LSH — completing the indexed-
    * tier matrix. All legs are deterministic, so every fusion is
    * hash-exact. */
  protected def hybridTopKFrom(s: SparkSession, docs: DataFrame,
      denseLsh: Boolean = false, nPlanes: Int = 6,
      ivfCents: Option[Seq[Array[Double]]] = None): DataFrame = {
    val (sparse, dense) =
      hybridTiers(s, docs, denseLsh = denseLsh, nPlanes = nPlanes,
        ivfCents = ivfCents)
    Retrieval.rrfFuse(Seq(sparse, dense), k = 5)
  }

  /** The two ranked tiers behind every hybrid fusion — shared by the
    * RRF capstones and the TRAINED-weight fusion, so tier construction
    * can never drift between the fixed and learned combiners. */
  protected def hybridTiers(s: SparkSession, docs: DataFrame,
      denseLsh: Boolean = false, nPlanes: Int = 6,
      ivfCents: Option[Seq[Array[Double]]] = None): (DataFrame, DataFrame) = {
    import s.implicits._
    val sparse = Retrieval.bm25TopK(docs,
        bmQueryTerms.toDF("query_id", "term"), k = 10)
      .select(col("query_id"), col("doc_id"), col("rnk"))
    val qvecs = TextAnalysis.embedDocuments(
        bmQueryDocs.toDF("doc_id", "text"), dim = 16)
      .select(col("doc_id").as("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .where(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x) > 0)
    val ranked = ivfCents match {
      case Some(cs) => Similarity.crossTopKIvf(docVecsFrom(docs),
        qvecs, k = 10, cs, nProbes = 2)
      case None if denseLsh => Similarity.crossTopKLshMultiProbe(
        docVecsFrom(docs), qvecs, k = 10, nPlanes = nPlanes, dim = 16)
      case None => Similarity.crossTopK(docVecsFrom(docs), qvecs, k = 10)
    }
    val dense = ranked
      .select(concat(lit("q"), col("query_id").cast("string")).as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
    (sparse, dense)
  }

  /** SQL twin of [[hybridTopKFrom]] over source relation `src(doc_id,
    * text)`: the two rank derivations + the integer RRF fusion, ending in
    * `rr(query_id, doc_id, rrf_score, n_tiers, rnk2)`. Requires `q` (the
    * query-term relation) already in scope; callers append their final
    * SELECT. `lsh` = true mirrors the MULTI-PROBE bucketed dense leg:
    * both sides derive the same dim-16 sign-LSH bucket from the
    * interpolated plane literals, the query side unnests its own plus
    * every Hamming-1 probe bucket (xor with each plane bit), and the
    * cross join becomes `JOIN … USING (bucket)`. `ivfCents` mirrors the
    * trained-centroid dense leg instead: centroid literals,
    * [[Similarity.assignCellsSql]] and [[Similarity.probeCellsSql]],
    * and the dense join becomes `USING (cell)`. The dense top-10 is
    * [[Similarity.cosineTopKSql]]. */
  protected def hybridCtesFor(src: String, lsh: Boolean = false,
      nPlanes: Int = 6,
      ivfCents: Option[Seq[Array[Double]]] = None): String = {
    def bucketExpr(v: String) =
      if (lsh) s", ${Similarity.lshBucketSql(nPlanes, 16, v)} AS bucket" else ""
    val bucket = bucketExpr("v")
    val qbucket = bucketExpr("qv")
    val probes = Similarity.hamming1ProbesSql(nPlanes)
    val ivfCtes = ivfCents.fold("") { cs =>
      s"""${Similarity.centroidsSql(cs)},
        |asg AS (${Similarity.assignCellsSql("n")}),
        |qp AS (${Similarity.probeCellsSql("qn", 2)}),
        |""".stripMargin
    }
    val (corpus, queries, keys) =
      if (ivfCents.isDefined) ("asg", "qp", Seq("cell"))
      else if (lsh) ("n",
        s"(SELECT query_id, qv, qnrm, unnest($probes) AS bucket FROM qn)", Seq("bucket"))
      else ("n", "qn", Nil)
    s"""${docVecCtesFor(src)},
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |sp AS (SELECT query_id, doc_id, CAST(rnk AS INTEGER) AS rnk
      |  FROM ranked WHERE rnk <= 10),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm$bucket FROM vec
      |  WHERE list_dot_product(v, v) > 0),
      |qhx AS (SELECT query_id, md5(term) AS m FROM q),
      |qsig AS (SELECT query_id, (${TextFns.md5Base28Sql("m")}) % 16 AS b,
      |  (((${TextFns.md5Base28Sql("m")}) // 16) % 2) * 2 - 1 AS s FROM qhx),
      |qagg AS (SELECT query_id, b, sum(s) AS w FROM qsig GROUP BY 1, 2),
      |qgrid AS (SELECT query_id, r.range AS dim_idx
      |  FROM (SELECT DISTINCT query_id FROM q) CROSS JOIN range(0, 16) r),
      |qvec AS (SELECT g.query_id,
      |    list(CAST(coalesce(a.w, 0) AS DOUBLE) ORDER BY g.dim_idx) AS qv
      |  FROM qgrid g LEFT JOIN qagg a
      |    ON a.query_id = g.query_id AND a.b = g.dim_idx
      |  GROUP BY g.query_id),
      |qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qnrm$qbucket
      |  FROM qvec WHERE list_dot_product(qv, qv) > 0),
      |${ivfCtes}dtier AS (SELECT query_id, neighbor_id AS doc_id, rank AS rnk FROM (
      |${Similarity.cosineTopKSql(corpus, queries, keys, excludeSelf = false, k = 10)})),
      |u AS (SELECT query_id, doc_id, 10000 // (60 + rnk) AS c FROM sp
      |  UNION ALL SELECT query_id, doc_id, 10000 // (60 + rnk) FROM dtier),
      |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
      |    count(*) AS n_tiers FROM u GROUP BY 1, 2),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_score DESC, doc_id) AS rnk2 FROM f)""".stripMargin
  }

  /** HYBRID retrieval (Retrieval.rrfFuse): integer reciprocal-rank
    * fusion of the sparse BM25 top-10 and a dense top-10 (feature-hash
    * query embeddings against the document-embedding corpus through
    * Similarity.crossTopK — the standard RAG two-tower composition, both
    * tiers already oracled standalone). RRF contribution 10⁴//(60+rnk),
    * floor division ⇒ hash-exact; the oracle composes the two rank
    * derivations and the same fusion arithmetic. */
  protected val textHybridTopk = Q("text_hybrid_topk",
    (s, dir) => hybridTopKFrom(s, Tables.documents(s, dir)),
    Some(s"""WITH $bmQuerySql,
      |${hybridCtesFor("documents")}
      |SELECT query_id, doc_id, rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
      |  CAST(rnk2 AS INTEGER) AS rnk
      |FROM rr WHERE rnk2 <= 5""".stripMargin), bench = true)

  /** text_hybrid_topk's INDEXED-dense twin (Similarity.crossTopKLsh,
    * dim-16 sign-LSH on the shared plane literals): the fusion capstone
    * with the dense leg on the bucketed scale path — one equi-join on
    * the bucket key instead of a full corpus vector scan per query batch
    * (the r11 verdict's last brute scan in a capstone). Deterministic ⇒
    * hash-exact; the oracle derives the SAME buckets from interpolated
    * plane literals and joins USING (bucket). Recall vs the brute twin
    * is measured in NOTES.md r12 (the LSH tier trades
    * recall for the equi-join plan — the knob is nPlanes). */
  protected val textHybridLsh = Q("text_hybrid_lsh",
    (s, dir) => hybridTopKFrom(s, Tables.documents(s, dir), denseLsh = true),
    Some(s"""WITH $bmQuerySql,
      |${hybridCtesFor("documents", lsh = true)}
      |SELECT query_id, doc_id, rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
      |  CAST(rnk2 AS INTEGER) AS rnk
      |FROM rr WHERE rnk2 <= 5""".stripMargin), bench = true)

  /** text_hybrid_lsh at the MEASURED high-recall operating point —
    * nPlanes = 4 multi-probe (≈5/16 of the bucket space per query,
    * recall@10 0.617 vs brute at sf0.1 — the builder's dial table in
    * NOTES): the recall/cost dial exposed as an oracled query choice
    * instead of a code edit (VERDICT r12 #6). Same fusion, same
    * contract; only the dense leg's plane count differs. */
  protected val textHybridLsh4 = Q("text_hybrid_lsh4",
    (s, dir) => hybridTopKFrom(s, Tables.documents(s, dir),
      denseLsh = true, nPlanes = 4),
    Some(s"""WITH $bmQuerySql,
      |${hybridCtesFor("documents", lsh = true, nPlanes = 4)}
      |SELECT query_id, doc_id, rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
      |  CAST(rnk2 AS INTEGER) AS rnk
      |FROM rr WHERE rnk2 <= 5""".stripMargin))

  /** MMR-diversified retrieval (Retrieval.mmrDiversify over the BM25
    * top-20): the RAG context-diversification step — each of the 5 picks
    * balances rank-relevance against max cosine to what is already
    * picked (λ = 0.5 in basis points), so near-identical candidates
    * can't fill the whole context window. Greedy is inherently
    * sequential in k, so both engines unroll the 5 steps; every
    * quantity is integer bp ⇒ hash-exact. */
  protected val textMmrTopk = Q("text_mmr_topk",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Retrieval.mmrDiversify(
        Retrieval.bm25TopK(docs, bmQueryTerms.toDF("query_id", "term"), k = 20)
          .select(col("query_id"), col("doc_id"), col("rnk")),
        docVecsFrom(docs).select(col("vec_id").as("doc_id"), col("embedding")),
        k = 5)
    },
    Some(s"""WITH $bmQuerySql,
      |${docVecCtesFor("documents")},
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |cnd0 AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= 20),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vec
      |  WHERE list_dot_product(v, v) > 0),
      |cand AS MATERIALIZED (SELECT c.query_id, c.doc_id,
      |    CAST((21 - c.rnk) * 500 AS BIGINT) AS rel_bp, n.v, n.nrm
      |  FROM cnd0 c JOIN n ON n.vec_id = c.doc_id),
      |${Retrieval.mmrSql(5)}
      |SELECT query_id, rank, doc_id FROM mmr_out""".stripMargin))

  /** text_mmr_topk served on the DRIVER-LOCAL greedy
    * (Retrieval.mmrDiversifyLocal — the sub-second micro-batch path,
    * r14): same candidates, same stored vectors, SAME ORACLE — the
    * local greedy is bit-identical to the distributed one by
    * construction (integer rel_bp, BigDecimal HALF_UP round-4 cosine,
    * same tie-breaks), so the hash-compare against text_mmr_topk's
    * unrolled MMR SQL is the cross-engine proof of that identity, not
    * just a spec claim. */
  protected val textMmrLocal = Q("text_mmr_local",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Retrieval.mmrDiversifyLocal(
        Retrieval.bm25TopK(docs, bmQueryTerms.toDF("query_id", "term"), k = 20)
          .select(col("query_id"), col("doc_id"), col("rnk")),
        docVecsFrom(docs).select(col("vec_id").as("doc_id"), col("embedding")),
        k = 5)
    },
    textMmrTopk.oracle)

  /** Persisted doc-embedding centroid index for the hybrid IVF twin —
    * the documents-table sibling of embCentroids: trained once on the
    * dim-16 doc vectors (10 cells), stored as a centroidsToDF parquet
    * artifact fingerprinted on documents.parquet, loaded by every other
    * consumer (query fn, derived oracle, later JVMs — Bench reads what
    * Verify built). */
  protected val docCentroidArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Double]]]()
  protected def docCentroidsPersisted(s: SparkSession, dir: String): Seq[Array[Double]] =
    docCentroidArtifactCache.computeIfAbsent(dir,
      _ => Similarity.centroidsFromDF(
        parquetArtifact(s, dir, "centroids_doc_all_c10", "documents")(
          Similarity.centroidsToDF(s,
            Similarity.kmeansCentroidArrays(docVecs(s, dir), nCells = 10)))))

  /** text_hybrid_topk's TRAINED-index twin (VERDICT r12 #7): the dense
    * leg on Similarity.crossTopKIvf against the persisted centroid
    * artifact — nProbes = 2 of 10 cells, so a query batch scores ~2/10
    * of the corpus cells, and nProbes = |cells| degrades to brute
    * EXACTLY (an exactness ladder the LSH twin cannot offer). Completes
    * the indexed-tier matrix: the fusion capstone now has brute, LSH
    * multi-probe (6- and 4-plane) and IVF dense legs. Derived oracle
    * re-runs assignment + probe ranking from the centroid literals. */
  protected val textHybridIvf = Q("text_hybrid_ivf",
    (s, dir) => hybridTopKFrom(s, Tables.documents(s, dir),
      ivfCents = Some(docCentroidsPersisted(s, dir))),
    None, oracleFn = Some { (s, dir) =>
      s"""WITH $bmQuerySql,
        |${hybridCtesFor("documents",
            ivfCents = Some(docCentroidsPersisted(s, dir)))}
        |SELECT query_id, doc_id, rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
        |  CAST(rnk2 AS INTEGER) AS rnk
        |FROM rr WHERE rnk2 <= 5""".stripMargin
    })

  /** The candidate weight grid behind text_hybrid_trained — (sparse,
    * dense) weight vectors, equal weighting FIRST so the trained pick
    * can only match or beat plain RRF on the training judgments. */
  protected val fusionGrid: Seq[Seq[Long]] =
    Seq(Seq(10L, 10L), Seq(20L, 10L), Seq(30L, 10L),
      Seq(10L, 20L), Seq(10L, 30L))

  /** TRAINED hybrid fusion (Retrieval.trainedFuse): the same two tiers
    * as text_hybrid_topk, but the RRF weights are LEARNED — every
    * (sparse, dense) weight vector in the grid is evaluated against the
    * leading-8 boolean-AND qrels (the engine's derivable relevance
    * proxy) in one plan, and the summed-integer-MRR argmax ships, with
    * the chosen operating point exposed as (wid, weights) columns in
    * the oracled output. Training is bit-deterministic, so the ORACLE
    * RE-RUNS IT: the static SQL unrolls the grid as VALUES, re-derives
    * the per-wid rankings and MRR sums, and picks the same argmax —
    * the learned artifact itself is hash-checked, not just the ranking
    * under it. */
  protected val textHybridTrained = Q("text_hybrid_trained",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (sparse, dense) = hybridTiers(s, docs)
      Retrieval.trainedFuse(Seq(sparse, dense),
        leading8Qrels(docs, bmQueryTerms.toDF("query_id", "term")),
        fusionGrid, k = 5)
    },
    Some {
      val gridValues = fusionGrid.zipWithIndex.flatMap { case (ws, wid) =>
        ws.zipWithIndex.map { case (w, tier) => s"($wid, $tier, $w)" }
      }.mkString(", ")
      s"""WITH $bmQuerySql,
        |${hybridCtesFor("documents")},
        |wgrid(wid, tier, wgt) AS (VALUES $gridValues),
        |contrib AS (SELECT query_id, doc_id, 0 AS tier,
        |    10000 // (60 + rnk) AS c FROM sp
        |  UNION ALL SELECT query_id, doc_id, 1 AS tier,
        |    10000 // (60 + rnk) FROM dtier),
        |fall AS (SELECT g.wid, c.query_id, c.doc_id,
        |    CAST(sum(g.wgt * c.c) AS BIGINT) AS fscore
        |  FROM contrib c JOIN wgrid g USING (tier) GROUP BY 1, 2, 3),
        |rnkd AS (SELECT *, row_number() OVER (PARTITION BY wid, query_id
        |    ORDER BY fscore DESC, doc_id) AS rnk FROM fall),
        |topw AS (SELECT * FROM rnkd WHERE rnk <= 5),
        |qtc AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
        |lead8 AS (SELECT doc_id,
        |    unnest(list_distinct(list_slice(w, 1, 8))) AS term FROM toks),
        |rels AS (SELECT query_id, doc_id FROM (
        |    SELECT q.query_id, l.doc_id, count(DISTINCT q.term) AS n_match
        |    FROM lead8 l JOIN q USING (term) GROUP BY 1, 2) m
        |  JOIN qtc USING (query_id) WHERE m.n_match = qtc.n_terms),
        |ms AS (SELECT t.wid, t.query_id,
        |    min(CASE WHEN r.doc_id IS NOT NULL THEN t.rnk END) AS fr
        |  FROM topw t LEFT JOIN rels r
        |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
        |  GROUP BY 1, 2),
        |sw AS (SELECT wid, CAST(sum(CASE WHEN fr IS NULL THEN 0
        |    ELSE 10000 // fr END) AS BIGINT) AS s FROM ms GROUP BY 1),
        |best AS (SELECT wid FROM sw ORDER BY s DESC, wid LIMIT 1),
        |wstr AS (SELECT wid, string_agg(CAST(wgt AS VARCHAR), ','
        |    ORDER BY tier) AS weights FROM wgrid GROUP BY 1)
        |SELECT t.query_id, t.doc_id, t.fscore, CAST(t.rnk AS INTEGER) AS rnk,
        |  CAST(t.wid AS INTEGER) AS wid, wstr.weights
        |FROM topw t JOIN best USING (wid) JOIN wstr USING (wid)""".stripMargin
    })

  /** RAG retrieval capstone (TextAnalysis.chunkDocuments ∘
    * hybridTopKFrom): the full retrieval-augmented-generation data path —
    * context-window chunking (128 BPE tokens, 32 overlap), then HYBRID
    * sparse ⊕ dense retrieval over the CHUNKS, returning the top-5
    * (doc, chunk) contexts per query. Every stage — BPE encode,
    * token-window chunking, BM25, feature-hash embed, cosine ranking,
    * integer RRF — is already oracled standalone; the capstone composes
    * their SQL fragments and must hash-match end to end. The chunk frame
    * persists: it feeds the postings build, the corpus stats and the
    * dense embed (three consumers through the BPE window chain). */
  /** The chunk corpus behind the RAG queries, keyed by the COMPOSITE
    * `doc_id:chunk_idx` rendering (r12 — replaces the r11 packed
    * doc_id·1000 + chunk_idx long and its raise_error overflow guard:
    * ':' cannot appear in either component, so the key is collision-free
    * for ANY document length and no guard is needed). Retrieval /
    * fusion / eval are key-type-agnostic — ties in every rank window now
    * break on the composite string (binary UTF-8 order, identical in
    * DuckDB's default collation). Persisted: the BPE window chain feeds
    * the postings build, the corpus stats, the dense embed — and the
    * eval twin's qrels. */
  protected def ragChunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(Tables.documents(s, dir),
        chunkTokens = 128, overlap = 32)
      .select(concat(col("doc_id").cast("string"), lit(":"),
          col("chunk_idx").cast("string")).as("doc_id"),
        col("chunk_text").as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Unpack of the composite chunk key back to typed (doc_id, chunk_idx)
    * output columns — shared by the retrieval capstone and its oracle's
    * column contract. */
  protected def ragUnpack: Seq[Column] = Seq(
    split(col("doc_id"), ":").getItem(0).cast("bigint").as("doc_id"),
    split(col("doc_id"), ":").getItem(1).cast("int").as("chunk_idx"))

  /** SQL twin of [[ragChunkDocs]]: [[chunkDocsCtes]], then the chunk
    * corpus `cd`(doc_id, text) under the composite `doc_id:chunk_idx`
    * key. */
  protected def ragChunkDocsSql: String =
    s"""$chunkDocsCtes,
      |cd AS (SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)
      |  AS doc_id, chunk_text AS text FROM chunks)""".stripMargin

  /** SQL twin of [[ragUnpack]]: the composite chunk key `key` as the
    * output columns (doc_id, chunk_idx). */
  protected def ragUnpackSql(key: String = "doc_id"): String =
    s"""CAST(string_split($key, ':')[1] AS BIGINT) AS doc_id,
      |  CAST(string_split($key, ':')[2] AS INTEGER) AS chunk_idx""".stripMargin

  protected val pipelineRagRetrieval = Q("pipeline_rag_retrieval",
    (s, dir) => {
      val cdocs = ragChunkDocs(s, dir)
      hybridTopKFrom(s, cdocs).select(
        (col("query_id") +: ragUnpack) ++ Seq(
          col("rrf_score"), col("n_tiers"), col("rnk")): _*)
    },
    Some(s"""WITH RECURSIVE $bmQuerySql,
      |$ragChunkDocsSql,
      |${hybridCtesFor("cd")}
      |SELECT query_id, ${ragUnpackSql()},
      |  rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
      |  CAST(rnk2 AS INTEGER) AS rnk
      |FROM rr WHERE rnk2 <= 5""".stripMargin), bench = true)

  /** pipeline_rag_retrieval's INDEXED-dense twin — the full RAG capstone
    * with the chunk-embedding leg on the LSH bucket path
    * (text_hybrid_lsh's posture over the chunk corpus): at 100 TB the
    * chunk table is the big side, and this is the variant that never
    * scans it per query batch. Same composite chunk key, same output
    * contract. */
  protected val pipelineRagLsh = Q("pipeline_rag_lsh",
    (s, dir) => {
      val cdocs = ragChunkDocs(s, dir)
      hybridTopKFrom(s, cdocs, denseLsh = true).select(
        (col("query_id") +: ragUnpack) ++ Seq(
          col("rrf_score"), col("n_tiers"), col("rnk")): _*)
    },
    Some(s"""WITH RECURSIVE $bmQuerySql,
      |$ragChunkDocsSql,
      |${hybridCtesFor("cd", lsh = true)}
      |SELECT query_id, ${ragUnpackSql()},
      |  rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
      |  CAST(rnk2 AS INTEGER) AS rnk
      |FROM rr WHERE rnk2 <= 5""".stripMargin))

  /** Persisted CHUNK-corpus centroid index for the RAG IVF twin —
    * trained once on the dim-16 chunk vectors (10 cells), fingerprinted
    * on documents.parquet like every chunk-derived artifact. */
  protected def ragChunkCentroids(s: SparkSession, dir: String): Seq[Array[Double]] =
    docCentroidArtifactCache.computeIfAbsent(dir + "#ragchunk",
      _ => Similarity.centroidsFromDF(
        parquetArtifact(s, dir, "centroids_ragchunk_c10", "documents")(
          Similarity.centroidsToDF(s,
            Similarity.kmeansCentroidArrays(
              docVecsFrom(ragChunkDocs(s, dir)), nCells = 10)))))

  /** HELD-OUT trained fusion — the ML-hygiene twin of
    * text_hybrid_trained: queries split by id parity (odd trains, even
    * evaluates — the demo split; production uses the leakage-safe
    * groupSplit), weights grid-search on the TRAIN split only, and the
    * oracled single-row output reports the chosen weights plus the
    * EVAL-split summed MRR under both the trained weights
    * (weightedRrfFuse — the serving face) and plain equal-weight RRF.
    * The whole train→select→serve→measure protocol is deterministic,
    * so DuckDB re-derives it end to end — including whether the
    * trained pick actually generalizes (no guarantee on held-out data;
    * the honest number IS the point). */
  protected def trainedHoldoutQ(name: String, grid: Seq[Seq[Long]]): Q = Q(name,
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (sparse, dense) = hybridTiers(s, docs)
      // unbounded suffix parse, mirroring the oracle's substr(id, 2) —
      // a fixed-length cap would diverge on 11+-digit ids (ADVICE r13)
      def part(df: DataFrame, rem: Int): DataFrame =
        df.where(pmod(expr("cast(substring(query_id, 2) as int)"),
          lit(2)) === rem)
      val qrels = leading8Qrels(docs, bmQueryTerms.toDF("query_id", "term"))
      val trained = Retrieval.trainedFuse(
        Seq(part(sparse, 1), part(dense, 1)), part(qrels, 1),
        grid, k = 5)
      // an EMPTY train split trains nothing: the oracle's `best` CTE is
      // empty and emits zero rows, so the degenerate case must emit
      // zero rows here too, not a grid.head fallback row (ADVICE
      // r13). The placeholder weights only shape the dead plan below
      // the lit(false) filter.
      val weightsOpt = trained.select(col("weights")).head(1).headOption
        .map(_.getString(0).split(",").map(_.toLong).toSeq)
      val weights = weightsOpt.getOrElse(grid.head)
      val evalTiers = Seq(part(sparse, 0), part(dense, 0))
      val evalQrels = part(qrels, 0)
      def sumMrr(ranked: DataFrame): DataFrame =
        Retrieval.evalRanking(ranked, evalQrels, k = 5)
          .agg(coalesce(sum(col("mrr_bp")), lit(0L)).as("v"))
      val tm = sumMrr(Retrieval.weightedRrfFuse(evalTiers, weights, k = 5)
        .select(col("query_id"), col("doc_id"), col("rnk")))
        .select(col("v").as("eval_trained_mrr_bp"))
      val em = sumMrr(Retrieval.rrfFuse(evalTiers, k = 5)
        .select(col("query_id"), col("doc_id"), col("rnk")))
        .select(col("v").as("eval_equal_mrr_bp"))
      tm.crossJoin(em).select(lit(weights.mkString(",")).as("weights"),
        col("eval_trained_mrr_bp"), col("eval_equal_mrr_bp"))
        .where(lit(weightsOpt.isDefined))
    },
    Some {
      val gridValues = grid.zipWithIndex.flatMap { case (ws, wid) =>
        ws.zipWithIndex.map { case (w, tier) => s"($wid, $tier, $w)" }
      }.mkString(", ")
      s"""WITH $bmQuerySql,
        |${hybridCtesFor("documents")},
        |c1 AS (SELECT query_id, doc_id, 0 AS tier,
        |    10000 // (60 + rnk) AS c FROM sp
        |  UNION ALL SELECT query_id, doc_id, 1 AS tier,
        |    10000 // (60 + rnk) FROM dtier),
        |trainc AS (SELECT * FROM c1
        |  WHERE CAST(substr(query_id, 2) AS INTEGER) % 2 = 1),
        |evalc AS (SELECT * FROM c1
        |  WHERE CAST(substr(query_id, 2) AS INTEGER) % 2 = 0),
        |wgrid(wid, tier, wgt) AS (VALUES $gridValues),
        |fall AS (SELECT g.wid, c.query_id, c.doc_id,
        |    CAST(sum(g.wgt * c.c) AS BIGINT) AS fscore
        |  FROM trainc c JOIN wgrid g USING (tier) GROUP BY 1, 2, 3),
        |topw AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY wid, query_id ORDER BY fscore DESC, doc_id) AS rnk
        |    FROM fall) WHERE rnk <= 5),
        |qtc AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
        |lead8 AS (SELECT doc_id,
        |    unnest(list_distinct(list_slice(w, 1, 8))) AS term FROM toks),
        |rels AS (SELECT query_id, doc_id FROM (
        |    SELECT q.query_id, l.doc_id, count(DISTINCT q.term) AS n_match
        |    FROM lead8 l JOIN q USING (term) GROUP BY 1, 2) m
        |  JOIN qtc USING (query_id) WHERE m.n_match = qtc.n_terms),
        |trels AS (SELECT * FROM rels
        |  WHERE CAST(substr(query_id, 2) AS INTEGER) % 2 = 1),
        |erels AS (SELECT * FROM rels
        |  WHERE CAST(substr(query_id, 2) AS INTEGER) % 2 = 0),
        |ms AS (SELECT t.wid, t.query_id,
        |    min(CASE WHEN r.doc_id IS NOT NULL THEN t.rnk END) AS fr
        |  FROM topw t LEFT JOIN trels r
        |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
        |  GROUP BY 1, 2),
        |sw AS (SELECT wid, CAST(sum(CASE WHEN fr IS NULL THEN 0
        |    ELSE 10000 // fr END) AS BIGINT) AS s FROM ms GROUP BY 1),
        |best AS (SELECT wid FROM sw ORDER BY s DESC, wid LIMIT 1),
        |wstr AS (SELECT wid, string_agg(CAST(wgt AS VARCHAR), ','
        |    ORDER BY tier) AS weights FROM wgrid GROUP BY 1),
        |ef AS (SELECT c.query_id, c.doc_id,
        |    CAST(sum(g.wgt * c.c) AS BIGINT) AS fscore
        |  FROM evalc c JOIN wgrid g USING (tier) JOIN best USING (wid)
        |  WHERE g.wid = best.wid GROUP BY 1, 2),
        |etop AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY fscore DESC, doc_id) AS rnk
        |    FROM ef) WHERE rnk <= 5),
        |etm AS (SELECT CAST(coalesce(sum(CASE WHEN fr IS NULL THEN 0
        |      ELSE 10000 // fr END), 0) AS BIGINT) AS v FROM (
        |    SELECT t.query_id,
        |      min(CASE WHEN r.doc_id IS NOT NULL THEN t.rnk END) AS fr
        |    FROM etop t LEFT JOIN erels r
        |      ON r.query_id = t.query_id AND r.doc_id = t.doc_id
        |    GROUP BY 1)),
        |eqf AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS fscore
        |  FROM evalc GROUP BY 1, 2),
        |eqtop AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY fscore DESC, doc_id) AS rnk
        |    FROM eqf) WHERE rnk <= 5),
        |eqm AS (SELECT CAST(coalesce(sum(CASE WHEN fr IS NULL THEN 0
        |      ELSE 10000 // fr END), 0) AS BIGINT) AS v FROM (
        |    SELECT t.query_id,
        |      min(CASE WHEN r.doc_id IS NOT NULL THEN t.rnk END) AS fr
        |    FROM eqtop t LEFT JOIN erels r
        |      ON r.query_id = t.query_id AND r.doc_id = t.doc_id
        |    GROUP BY 1))
        |SELECT wstr.weights, etm.v AS eval_trained_mrr_bp,
        |  eqm.v AS eval_equal_mrr_bp
        |FROM best JOIN wstr USING (wid), etm, eqm""".stripMargin
    })
  protected val textHybridTrainedHoldout =
    trainedHoldoutQ("text_hybrid_trained_holdout", fusionGrid)

  /** The SIMPLEX-SWEPT candidate grid (VERDICT r13 #3): w_sparse +
    * w_dense = 16 held constant (RRF ranking is scale-invariant in the
    * total, so the simplex IS the whole search space for two tiers) and
    * every integer mix from (1,15) to (15,1) evaluated — a real 1-D
    * sweep of the operating point instead of 5 hand-picked vectors.
    * The equal-weight point (8,8) is IN the sweep, so the trained pick
    * can only match or beat plain RRF on the training judgments. */
  protected val fusionGridSweep: Seq[Seq[Long]] =
    (1L to 15L).map(i => Seq(i, 16L - i))

  /** Held-out trained fusion over the swept simplex — same train →
    * select → serve → measure protocol as text_hybrid_trained_holdout
    * (whose 5-point grid it subsumes in resolution), one oracled row:
    * the swept pick's weights plus its EVAL-split MRR vs equal-weight
    * RRF. The whole 15-point grid still evaluates in ONE plan
    * (trainedFuse's contribs×grid join — |grid|·|queries|·k rows, so a
    * 3× finer grid costs 3× a tiny frame, not 3× the corpus). */
  protected val textHybridTrainedSweep =
    trainedHoldoutQ("text_hybrid_trained_sweep", fusionGridSweep)


  /** RAG context DIVERSIFICATION capstone — retrieve → fuse → MMR →
    * deliver: the fused sparse⊕dense chunk ranking (top-20 candidates
    * this time, the MMR working set) re-ranked by greedy
    * maximal-marginal-relevance over the chunk embeddings, so the 5
    * delivered contexts are complementary instead of five near-copies
    * of the best chunk — the step that makes a RAG context window worth
    * its tokens when the corpus contains near-duplicate chunks (every
    * overlapping-window chunking does). All integer/round-4 arithmetic
    * ⇒ the oracle chains the chunk CTEs, the hybrid fusion fragment and
    * the unrolled MMR twin end to end. */
  protected val pipelineRagMmr = Q("pipeline_rag_mmr",
    (s, dir) => {
      val cdocs = ragChunkDocs(s, dir)
      val (sparse, dense) = hybridTiers(s, cdocs)
      val fused = Retrieval.rrfFuse(Seq(sparse, dense), k = 20)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      Retrieval.mmrDiversify(fused,
        docVecsFrom(cdocs).select(col("vec_id").as("doc_id"), col("embedding")),
        k = 5)
        .select((Seq(col("query_id"), col("rank")) ++ ragUnpack): _*)
    },
    Some(s"""WITH RECURSIVE $bmQuerySql,
      |$ragChunkDocsSql,
      |${hybridCtesFor("cd")},
      |cnd0 AS (SELECT query_id, doc_id, rnk2 AS rnk FROM rr WHERE rnk2 <= 20),
      |cand AS MATERIALIZED (SELECT c.query_id, c.doc_id,
      |    CAST((21 - c.rnk) * 500 AS BIGINT) AS rel_bp, n.v, n.nrm
      |  FROM cnd0 c JOIN n ON n.vec_id = c.doc_id),
      |${Retrieval.mmrSql(5)}
      |SELECT query_id, rank, ${ragUnpackSql()}
      |FROM mmr_out""".stripMargin))

  /** pipeline_rag_retrieval's TRAINED-index twin — the RAG capstone with
    * the chunk-embedding leg on the persisted-centroid IVF path
    * (text_hybrid_ivf's posture over the chunk corpus): completes the
    * brute / LSH / IVF dense-leg matrix at the RAG tier too. Same
    * composite chunk key, same output contract; derived oracle from the
    * chunk-centroid literals. */
  protected val pipelineRagIvf = Q("pipeline_rag_ivf",
    (s, dir) => {
      val cdocs = ragChunkDocs(s, dir)
      hybridTopKFrom(s, cdocs,
          ivfCents = Some(ragChunkCentroids(s, dir))).select(
        (col("query_id") +: ragUnpack) ++ Seq(
          col("rrf_score"), col("n_tiers"), col("rnk")): _*)
    },
    None, oracleFn = Some { (s, dir) =>
      s"""WITH RECURSIVE $bmQuerySql,
        |$ragChunkDocsSql,
        |${hybridCtesFor("cd", ivfCents = Some(ragChunkCentroids(s, dir)))}
        |SELECT query_id, ${ragUnpackSql()},
        |  rrf_score, CAST(n_tiers AS BIGINT) AS n_tiers,
        |  CAST(rnk2 AS INTEGER) AS rnk
        |FROM rr WHERE rnk2 <= 5""".stripMargin
    })

  /** RAG context DELIVERY — the step after retrieval: the fused top-5
    * chunk ids joined back to their chunk TEXT, i.e. the actual context
    * strings a generator consumes (retrieval alone hands back keys; a
    * RAG pipeline ships text). Dense leg on the indexed LSH path (the
    * 100-TB posture); the ranked side is |queries|×5 rows, so the
    * text-attach join broadcasts it against the persisted chunk frame —
    * one candidate-sized join, never a corpus re-scan. */
  protected val pipelineRagContexts = Q("pipeline_rag_contexts",
    (s, dir) => {
      val cdocs = ragChunkDocs(s, dir)
      broadcast(hybridTopKFrom(s, cdocs, denseLsh = true))
        .join(cdocs.select(col("doc_id"), col("text").as("context")),
          "doc_id")
        .select((col("query_id") +: ragUnpack) ++ Seq(
          col("rnk"), col("context")): _*)
    },
    Some(s"""WITH RECURSIVE $bmQuerySql,
      |$ragChunkDocsSql,
      |${hybridCtesFor("cd", lsh = true)}
      |SELECT rr.query_id, ${ragUnpackSql("rr.doc_id")},
      |  CAST(rr.rnk2 AS INTEGER) AS rnk, cd.text AS context
      |FROM rr JOIN cd ON cd.doc_id = rr.doc_id WHERE rr.rnk2 <= 5""".stripMargin))

  /** RAG retriever MEASUREMENT (Retrieval.evalRanking over the fused
    * chunk ranking): the build → index → fuse → measure loop closed in
    * one call. Chunk-level qrels are boolean-AND matches over each
    * chunk's LEADING 8 tokens (the same answer-in-the-opening proxy as
    * text_retrieval_eval — whole-chunk AND is too easy for the fused
    * ranker and every column degenerates to a perfect score). Output:
    * per-query hits@5, first relevant rank, integer MRR. */
  protected val pipelineRagEval = Q("pipeline_rag_eval",
    (s, dir) => {
      import s.implicits._
      val cdocs = ragChunkDocs(s, dir)
      val q = bmQueryTerms.toDF("query_id", "term")
      val fused = hybridTopKFrom(s, cdocs)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      Retrieval.evalRanking(fused, leading8Qrels(cdocs, q), k = 5)
    },
    Some(s"""WITH RECURSIVE $bmQuerySql,
      |$ragChunkDocsSql,
      |${hybridCtesFor("cd")},
      |topk AS (SELECT query_id, doc_id, CAST(rnk2 AS INTEGER) AS rnk
      |  FROM rr WHERE rnk2 <= 5),
      |qcnt AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
      |clead AS (SELECT doc_id, unnest(list_distinct(list_slice(w, 1, 8))) AS term
      |  FROM toks),
      |rels AS (SELECT query_id, doc_id FROM (
      |    SELECT q.query_id, l.doc_id, count(DISTINCT l.term) AS n_match
      |    FROM clead l JOIN q USING (term) GROUP BY 1, 2) m
      |  JOIN qcnt USING (query_id) WHERE m.n_match = qcnt.n_terms),
      |$evalTailSql""".stripMargin))

  /** Shared leading-8 boolean-AND qrels over any (doc_id, text) corpus —
    * the derivable relevance proxy of text_retrieval_eval, reused by the
    * training-data ops below. */
  protected def leading8Qrels(docs: DataFrame, q: DataFrame): DataFrame = {
    val nterms = q.groupBy(col("query_id"))
      .agg(countDistinct(col("term")).as("n_terms"))
    val lead = graft.plans.Stage(docs.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(slice(col("w"), 1, 8))).as("term"))
    lead.join(broadcast(q), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("term")).as("n_match"))
      .join(broadcast(nterms), "query_id")
      .where(col("n_match") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
  }

  /** The shared SQL half: BM25 top-10 (`topk`) + leading-8 qrels
    * (`rels`) + the non-relevant ranked rows with their dense negative
    * rank (`neg`) — the CTE chain under both training-data ops. */
  protected def hardNegCtesSql: String =
    s"""toks AS (SELECT doc_id, $duckToks AS w FROM documents),
      |${Retrieval.bm25IndexSql()},
      |${Retrieval.bm25ScoreCtesSql()},
      |topk AS (SELECT query_id, doc_id, CAST(rnk AS INTEGER) AS rnk
      |  FROM ranked WHERE rnk <= 10),
      |qcnt AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
      |lead AS (SELECT doc_id, unnest(list_distinct(list_slice(w, 1, 8))) AS term
      |  FROM toks),
      |rels AS (SELECT query_id, doc_id FROM (
      |    SELECT q.query_id, l.doc_id, count(DISTINCT l.term) AS n_match
      |    FROM lead l JOIN q USING (term) GROUP BY 1, 2) m
      |  JOIN qcnt USING (query_id) WHERE m.n_match = qcnt.n_terms),
      |neg AS (SELECT t.query_id, t.doc_id, t.rnk,
      |    row_number() OVER (PARTITION BY t.query_id ORDER BY t.rnk, t.doc_id) AS nr
      |  FROM topk t LEFT JOIN rels r
      |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id
      |  WHERE r.doc_id IS NULL)""".stripMargin

  /** Hard-negative mining (Retrieval.hardNegatives — DPR, Karpukhin et
    * al. 2020): per query, the 3 highest-BM25-ranked documents that are
    * NOT relevant under the leading-8 qrels — the negatives a
    * contrastive retriever trains against. Candidate-sized: broadcast
    * anti-join + a window over ≤ 10 rows per query. */
  protected val pipelineHardNegatives = Q("pipeline_hard_negatives",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val q = bmQueryTerms.toDF("query_id", "term")
      Retrieval.hardNegatives(
        Retrieval.bm25TopK(docs, q, k = 10), leading8Qrels(docs, q),
        nNeg = 3)
    },
    Some(s"""WITH $bmQuerySql,
      |$hardNegCtesSql
      |SELECT query_id, doc_id, rnk, CAST(nr AS INTEGER) AS neg_rnk
      |FROM neg WHERE nr <= 3""".stripMargin))

  /** Contrastive training triplets (Retrieval.contrastiveTriplets):
    * every RANKED relevant doc × its query's 3 hard negatives — the
    * (query, positive, negative) emission a dual-encoder trains on; a
    * relevant doc the ranker never surfaced cannot appear as a positive
    * (the DPR retrieved-positives construction). */
  protected val pipelineContrastiveTriplets = Q("pipeline_contrastive_triplets",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val q = bmQueryTerms.toDF("query_id", "term")
      Retrieval.contrastiveTriplets(
        Retrieval.bm25TopK(docs, q, k = 10), leading8Qrels(docs, q),
        nNeg = 3)
    },
    Some(s"""WITH $bmQuerySql,
      |$hardNegCtesSql,
      |pos AS (SELECT t.query_id, t.doc_id AS pos_doc_id, t.rnk AS pos_rnk
      |  FROM topk t JOIN rels r
      |    ON r.query_id = t.query_id AND r.doc_id = t.doc_id)
      |SELECT p.query_id, p.pos_doc_id, p.pos_rnk,
      |  n.doc_id AS neg_doc_id, CAST(n.nr AS INTEGER) AS neg_rnk
      |FROM pos p JOIN neg n ON n.query_id = p.query_id WHERE n.nr <= 3""".stripMargin))

  /** Strict-order funnel per user (Funnel.userFunnel): the Spark side is a
    * single-shuffle sorted fold; the oracle is the equivalent cascaded
    * min-join formulation (step i = min ts of its type strictly after step
    * i-1), so the two independently-derived forms must agree row-for-row. */
  protected val eFunnelUsers = Q("e_funnel_users",
    (s, dir) => Funnel.userFunnel(
      // µs granularity: DuckDB reads the parquet nanos column at µs
      // precision (same normalization as t_session_windows), so the
      // strict-order comparisons must run on the SAME clock both sides.
      Tables.events(s, dir).withColumn("ts", expr("ts div 1000")),
      Seq("view", "click", "purchase")),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events
      | WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.tus > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id, s1.t1 AS t_view, s2.t2 AS t_click, s3.t3 AS t_purchase,
      |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
      |       WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS steps_completed
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |  LEFT JOIN s3 USING (user_id)""".stripMargin))

  /** Funnel stage summary (Funnel.funnelSummary): users reaching each
    * stage + conversion from the previous stage in basis-point floors
    * (exact integer division both sides). */
  protected val eFunnelSummary = Q("e_funnel_summary",
    (s, dir) => Funnel.funnelSummary(
      Tables.events(s, dir).withColumn("ts", expr("ts div 1000")),
      Seq("view", "click", "purchase")),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events
      | WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.tus > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY 1),
      |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
      |  (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3)
      |SELECT CAST(1 AS INTEGER) AS stage, 'view' AS step,
      |  CAST(n1 AS BIGINT) AS n_users, CAST(10000 AS BIGINT) AS conv_bp FROM c
      |UNION ALL SELECT CAST(2 AS INTEGER), 'click', CAST(n2 AS BIGINT),
      |  CAST((n2 * 10000) // n1 AS BIGINT) FROM c
      |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', CAST(n3 AS BIGINT),
      |  CAST((n3 * 10000) // n2 AS BIGINT) FROM c""".stripMargin))

  /** Weekly cohort retention (Funnel.retention) over the events table.
    * Period arithmetic is pure integer division on the epoch clock; the
    * nested-floor identity makes the ns (Spark) and µs (DuckDB) clocks
    * agree exactly on period numbers. */
  protected val eRetention = Q("e_retention",
    (s, dir) => Funnel.retention(Tables.events(s, dir),
      periodTicks = 7L * 24 * 3600 * 1000000000L),
    Some("""WITH p AS (SELECT DISTINCT user_id AS u,
      |  epoch_us(ts) // (7 * 24 * 3600 * 1000000::BIGINT) AS period FROM events),
      |c AS (SELECT u, min(period) AS cohort FROM p GROUP BY u)
      |SELECT c.cohort AS cohort_period, p.period - c.cohort AS period_offset,
      |  count(*) AS n_users
      |FROM p JOIN c USING (u) GROUP BY 1, 2""".stripMargin))

  /** Gopher-style quality gate (TextAnalysis.qualityRules) with bounds
    * fitted to the synthetic corpus (10–200 tokens). All comparisons are
    * exact integer arithmetic — no float division reaches the output. */
  protected val textQualityRules = Q("text_quality_rules",
    (s, dir) => TextAnalysis.qualityRules(Tables.documents(s, dir),
      minTokens = 10, maxTokens = 200),
    Some(s"""WITH toks AS (SELECT doc_id, text, $duckToks AS w FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(array_to_string(w, '')) AS BIGINT) AS sum_wlen,
      |  CAST(len(list_filter(w, t -> list_contains(['the','of','and','to','in','is','a'], t))) AS BIGINT) AS stop_hits,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
      |  CAST(length(text) AS BIGINT) AS n_chars FROM toks)
      |SELECT doc_id, n_tokens,
      |  CAST(n_tokens >= 10 AND n_tokens <= 200 AS INTEGER) AS ok_len,
      |  CAST(n_tokens > 0 AND sum_wlen >= 3 * n_tokens AND sum_wlen <= 10 * n_tokens AS INTEGER) AS ok_word_len,
      |  CAST(stop_hits >= 1 AS INTEGER) AS ok_stopword,
      |  CAST(n_alpha * 10 >= n_chars * 7 AS INTEGER) AS ok_alpha,
      |  CAST(n_tokens >= 10 AND n_tokens <= 200
      |    AND n_tokens > 0 AND sum_wlen >= 3 * n_tokens AND sum_wlen <= 10 * n_tokens
      |    AND stop_hits >= 1 AND n_alpha * 10 >= n_chars * 7 AS INTEGER) AS keep
      |FROM m""".stripMargin))

  /** Classifier-based quality gate (TextAnalysis.qualityModelScore): integer
    * linear model over the quality metrics, keep ⇔ logit > 0. Weights are
    * fixed model artifacts; the oracle recomputes the identical integer
    * arithmetic (DuckDB `//` ≡ Spark `div` on the non-negative operands
    * used here). */
  protected val textQualityModel = Q("text_quality_model",
    (s, dir) => TextAnalysis.qualityModelScore(Tables.documents(s, dir)),
    Some(s"""WITH toks AS (SELECT doc_id, text, $duckToks AS w FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(array_to_string(w, '')) AS BIGINT) AS sum_wlen,
      |  CAST(len(list_filter(w, t -> list_contains(['the','of','and','to','in','is','a'], t))) AS BIGINT) AS stop_hits,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
      |  CAST(length(text) AS BIGINT) AS n_chars FROM toks),
      |f AS (SELECT doc_id, n_tokens,
      |  (sum_wlen * 100) // greatest(n_tokens, 1) AS wlen_x100,
      |  (stop_hits * 1000) // greatest(n_tokens, 1) AS stop_x1000,
      |  (n_alpha * 1000) // greatest(n_chars, 1) AS alpha_x1000 FROM m),
      |s AS (SELECT doc_id, n_tokens, wlen_x100, stop_x1000, alpha_x1000,
      |  -2600 + 6 * stop_x1000 + 3 * alpha_x1000
      |    - 4 * abs(wlen_x100 - 450) - 5 * abs(n_tokens - 55) AS logit FROM f)
      |SELECT doc_id, n_tokens, wlen_x100, stop_x1000, alpha_x1000, logit,
      |  CAST(logit > 0 AS INTEGER) AS keep
      |FROM s""".stripMargin))

  /** customer with realistic-entropy display names, shared by both ER
    * queries: `c_name` + a 6-hex-char md5 tag. Bare `c_name` is a DENSE
    * sequential id, where nearly every record has ~100 genuine distance-1
    * neighbors and linkage output grows superlinearly (measured 14.8M
    * exact pairs at sf1); real names are not dense, and on dense keys you
    * would link on the id directly. */
  protected def erNames(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").as("id"),
      concat(col("c_name"), lit("-"),
        md5(col("c_custkey").cast("string")).substr(1, 6)).as("name"))

  /** The simulated second feed: one deterministic character deletion at
    * position `id % len + 1` of the normalized name. */
  protected def erCorrupted(base: DataFrame): DataFrame = {
    val nm = EntityResolution.normalizeName(col("name"))
    val pos = (col("id") % greatest(length(nm), lit(1))).cast("int") + 1
    base.select(col("id"),
      concat(nm.substr(lit(1), pos - 1), nm.substr(pos + 1, length(nm))).as("name"))
  }

  // ── shared DuckDB fragments mirroring erNames / erCorrupted /
  //    EntityResolution.deletionNeighborhood. b0 re-normalizes the
  //    corrupted name exactly as the Scala side does (fuzzyPairs
  //    normalizes its inputs): a deletion can merge tokens across a
  //    space, and without the re-normalization the two engines would key
  //    different strings on any space-bearing corpus. ──
  protected def erNorm(x: String): String =
    s"lower(trim(regexp_replace($x, '\\s+', ' ', 'g')))"
  protected def erA0Sql: String =
    s"a0 AS (SELECT c_custkey AS id, ${erNorm("c_name || '-' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)")} AS nm FROM customer)"
  protected def erB0Sql(where: String): String =
    s"b0 AS (SELECT id, ${erNorm("substr(nm, 1, CAST(id % greatest(length(nm), 1) AS INTEGER)) || substr(nm, CAST(id % greatest(length(nm), 1) AS INTEGER) + 2)")} AS nm FROM a0$where)"
  protected def erKeysSql(cte: String, idAs: String, nmAs: String, src: String): String =
    s"$cte AS (SELECT id AS $idAs, nm AS $nmAs, unnest(list_distinct(list_transform(range(0, length(nm) + 1), i -> CASE WHEN i = 0 THEN nm ELSE substr(nm, 1, CAST(i AS INTEGER) - 1) || substr(nm, CAST(i AS INTEGER) + 1) END))) AS k FROM $src)"
  protected def erVerifySql: String =
    """cand AS (SELECT DISTINCT id_a, na, id_b, nb FROM ka JOIN kb USING (k))
      |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin

  /** Record linkage over the simulated second feed (EntityResolution):
    * the corrupted copy of every name linked back with symmetric-delete
    * blocking + a levenshtein <= 1 verify. Output is the planted (i, i)
    * links plus rare genuine tag collisions -- linear in the corpus. The
    * oracle mirrors block generation AND verify, so recall and precision
    * are both checked hash-exact. */
  protected val erFuzzyPairs = Q("er_fuzzy_pairs",
    (s, dir) => {
      val base = erNames(s, dir)
      EntityResolution.fuzzyPairs(base, erCorrupted(base))
    },
    Some(s"""WITH $erA0Sql,
      |${erB0Sql("")},
      |${erKeysSql("ka", "id_a", "na", "a0")},
      |${erKeysSql("kb", "id_b", "nb", "b0")},
      |$erVerifySql""".stripMargin),
    bench = true)

  /** Incremental linkage (EntityResolution.fuzzyPairsIncremental): the
    * full customer side is a prebuilt nameIndex artifact (stand-in for a
    * loaded parquet index -- history never re-normalized or re-keyed); the
    * batch is the id%5==0 slice arriving corrupted from the second feed.
    * Oracle re-derives both sides from raw names, knowing nothing of the
    * index. */
  protected val erFuzzyIncr = Q("er_fuzzy_incr",
    (s, dir) => {
      val base = erNames(s, dir)
      val batch = erCorrupted(base.where(pmod(col("id"), lit(5)) === 0))
      EntityResolution.fuzzyPairsIncremental(EntityResolution.nameIndex(base), batch)
    },
    Some(s"""WITH $erA0Sql,
      |${erB0Sql(" WHERE id % 5 = 0")},
      |${erKeysSql("ka", "id_a", "na", "a0")},
      |${erKeysSql("kb", "id_b", "nb", "b0")},
      |$erVerifySql""".stripMargin))

  /** One unrolled integer-PageRank iteration for the DuckDB oracle —
    * mirrors Graph.pageRank's update rule exactly (floored contribution
    * div, BIGINT sums, base 150000). */
  protected def prIterSql(i: Int): String =
    s"""c$i AS (SELECT e0.dst AS node, CAST(sum((s${i - 1}.r * 85) // (100 * deg.d)) AS BIGINT) AS c
       |  FROM e0 JOIN deg USING (src) JOIN s${i - 1} ON s${i - 1}.node = e0.src GROUP BY 1),
       |s$i AS (SELECT nodes.node, 150000 + coalesce(c$i.c, 0) AS r FROM nodes LEFT JOIN c$i USING (node))""".stripMargin

  /** Link-graph authority scoring (Graph.pageRank): 5 iterations of
    * integer PageRank over a deterministic synthetic citation graph on the
    * documents table (ring + scatter edges, every 10th doc also cites the
    * hub doc 0). Integer ppm scores make the ENTIRE iterative computation
    * hash-exact cross-engine — the oracle unrolls the same five updates as
    * CTEs. The hub ends up with the top rank; curation would weight
    * documents by it. Non-contiguous doc_ids (the sf1 replication) make
    * some modulus targets dangling pseudo-nodes; both sides derive the
    * node set from the edge list, so the computation stays identical. */
  /** The deterministic synthetic citation graph both graph queries run
    * on: ring + scatter edges, every 10th doc also cites the hub doc 0. */
  protected def docGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nF = docs.agg((max(col("doc_id")) + 1).as("n"))
    // 1-row broadcast crossJoin (the documented benign global-aggregate
    // pattern) to parameterize the modulus
    val base = docs.crossJoin(broadcast(nF))
    val ring = struct(col("doc_id").as("src"),
      pmod(col("doc_id") + 1, col("n")).as("dst"))
    val scatter = struct(col("doc_id").as("src"),
      pmod(col("doc_id") * 7 + 3, col("n")).as("dst"))
    val hub = struct(col("doc_id").as("src"), lit(0L).as("dst"))
    base.select(explode(
      when(pmod(col("doc_id"), lit(10)) === 0, array(ring, scatter, hub))
        .otherwise(array(ring, scatter))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** DuckDB mirror of [[docGraphEdges]] (`e0`). */
  protected def docGraphSql: String =
    """nn AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n FROM documents),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, nn
      |  UNION ALL SELECT doc_id, (doc_id * 7 + 3) % n FROM documents, nn
      |  UNION ALL SELECT doc_id, 0 FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  protected val graphPagerank = Q("graph_pagerank",
    (s, dir) => Graph.pageRank(docGraphEdges(s, dir), 5),
    Some(s"""WITH $docGraphSql,
      |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
      |deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
      |s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |${(1 to 5).map(prIterSql).mkString(",\n")}
      |SELECT node, CAST(r AS BIGINT) AS rank_ppm FROM s5""".stripMargin))

  /** Per-node triangle counts (Graph.triangleCounts) on the same citation
    * graph — the local clustering signal web-corpus analysis pairs with
    * authority scores (link farms triangulate; organic graphs do less).
    * Pure integer joins ⇒ hash-exact oracle via the same 3-way self-join. */
  protected val graphTriangles = Q("graph_triangles",
    (s, dir) => Graph.triangleCounts(docGraphEdges(s, dir)),
    Some(s"""WITH $docGraphSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0 WHERE src <> dst),
      |tri AS (SELECT t1.a, t1.b, t2.c
      |  FROM und t1
      |  JOIN (SELECT a AS b, b AS c FROM und) t2 USING (b)
      |  JOIN (SELECT a, b AS c FROM und) t3 USING (a, c))
      |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1""".stripMargin))

  /** Robust outlier detection (Profiling.madOutliers): per-source
    * median/MAD flags on document token counts — the data-quality monitor
    * that catches a crawler regression (truncated or exploded docs)
    * without float statistics; k = 3.5 passes as k100 = 350. Exact
    * integer math end-to-end ⇒ hash-exact oracle. */
  protected val aOutliersMad = Q("a_outliers_mad",
    (s, dir) => Profiling.madOutliers(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("n_tokens")),
      "source", "doc_id", "n_tokens", 350),
    Some(s"""WITH t AS (SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS x FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY x) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n FROM t),
      |med AS (SELECT source, x AS med FROM r WHERE rn = (n + 1) // 2),
      |d AS (SELECT t.doc_id, t.source, t.x, med.med, abs(t.x - med.med) AS adev
      |  FROM t JOIN med USING (source)),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY adev) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n FROM d),
      |mad AS (SELECT source, adev AS mad FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.doc_id, d.source, d.x, d.med, mad.mad,
      |  CAST(d.adev * 100 > mad.mad * 350 AS INTEGER) AS outlier
      |FROM d JOIN mad USING (source)""".stripMargin))

  /** Curriculum bucketing (TextAnalysis.curriculumBuckets): per-source
    * quality deciles over the model logit, bucket 1 = best. Deterministic
    * ntile with a total-order tie-break, so the oracle replays the same
    * feature extraction + window. */
  protected val pipelineCurriculum = Q("pipeline_curriculum",
    (s, dir) => TextAnalysis.curriculumBuckets(Tables.documents(s, dir), 10),
    Some(s"""WITH toks AS (SELECT doc_id, source, text, $duckToks AS w FROM documents),
      |m AS (SELECT doc_id, source,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(array_to_string(w, '')) AS BIGINT) AS sum_wlen,
      |  CAST(len(list_filter(w, t -> list_contains(['the','of','and','to','in','is','a'], t))) AS BIGINT) AS stop_hits,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
      |  CAST(length(text) AS BIGINT) AS n_chars FROM toks),
      |f AS (SELECT doc_id, source, n_tokens,
      |  (sum_wlen * 100) // greatest(n_tokens, 1) AS wlen_x100,
      |  (stop_hits * 1000) // greatest(n_tokens, 1) AS stop_x1000,
      |  (n_alpha * 1000) // greatest(n_chars, 1) AS alpha_x1000 FROM m),
      |sc AS (SELECT doc_id, source,
      |  -2600 + 6 * stop_x1000 + 3 * alpha_x1000
      |    - 4 * abs(wlen_x100 - 450) - 5 * abs(n_tokens - 55) AS logit FROM f)
      |SELECT doc_id, source, logit,
      |  CAST(ntile(10) OVER (PARTITION BY source ORDER BY logit DESC, doc_id) AS INTEGER) AS bucket
      |FROM sc""".stripMargin))

  /** Epoch upsampling (TextAnalysis.epochUpsample): per-source fractional
    * training epochs — src0 2.5×, src1 1×, src2 0.25×, default 1×. The
    * oracle replays the md5-uniform fractional membership and
    * generate_series full copies. */
  protected val pipelineEpochUpsample = Q("pipeline_epoch_upsample",
    (s, dir) => TextAnalysis.epochUpsample(Tables.documents(s, dir),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25), defaultEpochs = 1.0),
    Some("""WITH w AS (SELECT doc_id, source,
      |  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0 WHEN 'src2' THEN 0.25 ELSE 1.0 END AS e,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER) / 16777216.0 AS u FROM documents),
      |n AS (SELECT doc_id, source,
      |  CAST(floor(e) AS INTEGER) + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS n_copies FROM w)
      |SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch
      |FROM n WHERE n_copies > 0""".stripMargin))

  /** This family's registrar — composed into [[Queries.all]]. */
  protected def retrievalQs: Seq[Q] = Seq(
    aOutliersMad, pipelineRobotsFilter, aHostProfile, textQualityRules,
    textQualityModel, erFuzzyPairs, erFuzzyIncr, pipelineEpochUpsample,
    pipelineCurriculum, graphPagerank, graphTriangles, textCleanLines,
    textLineDedup, textBoilerplate, textBoilerplateIncr, textBoilerplateMerge,
    pipelinePageClean, textHtmlExtract, pipelineWetClean, pipelineCrawlFrontier,
    textPhraseSearch, textPhrasePositional, textProximity, textLinkDensity,
    pipelineContentExtract, textBm25Topk, textBm25Indexed, textBm25Incr,
    textBm25Fielded, textBm25FieldedWet, textBm25Snippets, textBm25Pruned,
    textPositionalIncr, textPositionalDelta, textBm25FieldedIncr, textBm25FieldedIndexed,
    textHybridTopk, textHybridLsh, textHybridLsh4, textHybridIvf,
    textHybridTrained, textHybridTrainedHoldout, textHybridTrainedSweep, textMmrTopk,
    textMmrLocal, pipelineRagRetrieval, pipelineRagIvf, pipelineRagMmr,
    pipelineRagLsh, pipelineRagContexts, textBm25Prf, textRetrievalEval,
    pipelineRagEval, pipelineHardNegatives, pipelineContrastiveTriplets, eFunnelUsers,
    eFunnelSummary, eRetention)
}
