package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The crawl MAINTENANCE family — what a crawler does between crawls.
  * Round 15's link-graph arc (q222–q228) decides what to fetch FIRST;
  * this module adds the operators that keep a running crawl healthy:
  *
  *  - q229: re-crawl scheduling from observed change rates (the
  *    Cho & Garcia-Molina freshness problem) — per-URL fetch history
  *    → change-rate estimate → next-fetch interval;
  *  - q230: crawler-trap detection by URL-template mining (Heydon &
  *    Najork's Mercator traps: session ids, calendar pages) — URL
  *    patterns whose url-count vastly exceeds their content-count;
  *  - q231: mirror-host detection (Bharat & Broder 1999) — host pairs
  *    sharing most of their content fingerprints, so the frontier can
  *    collapse a mirror onto its origin before wasting budget;
  *  - q232: the discovery frontier — UNCRAWLED link targets ranked by
  *    in-link evidence (count, host diversity, anchor diversity) and
  *    by the PageRank mass one more iteration would hand them — the
  *    arc's capstone: q222's edges + q223's ranks → "fetch this next".
  *
  * Everything is DuckDB-replayable with the family's determinism
  * discipline: counts/days/quantized ranks stay in BIGINT (integer
  * floor-division for every ratio — engines agree exactly), md5 for
  * content fingerprints, and the one double (PageRank) is consumed
  * only through the already-hash-matched floor(pr·1e12) quantization
  * q226 established.
  */
object Maintenance {

  /** q229's fetch-history synthesis — the crawl log a scheduler
    * actually reads: per URL (the q213/q215 universe via
    * [[Mining.UrlSynthSql]]), 2–6 fetches spaced 1–7 days apart, with
    * the content fingerprint advancing every `chg_k ∈ {1,2,3}` fetches
    * — so the corpus plants fast-churn (every fetch differs), slow
    * (every third), and everything between. Days are BIGINT offsets
    * from the crawl epoch: the estimator's arithmetic is exact and
    * engine-portable, no timestamp types involved.
    *
    * Kept as mirrored Spark/DuckDB fragments (the LinkPageSynthSql
    * discipline); [[fetchSynth]] is the Spark side, [[fetchSynthCtes]]
    * the oracle's. Shared with StreamRecrawl's spec, which replays the
    * same history through the incremental maintainer.
    */
  private[graft] def fetchSynth(docs: DataFrame): DataFrame =
    docs
      .withColumn("url", expr(Mining.UrlSynthSql))
      .withColumn("n_f", expr("2 + doc_id % 5"))
      .withColumn("gap_d", expr("1 + doc_id % 7"))
      .withColumn("chg_k", expr("1 + doc_id % 3"))
      .select(col("doc_id"), col("url"), col("gap_d"), col("chg_k"),
        explode(expr("sequence(1, n_f)")).as("i"))
      .select(
        col("url"),
        expr("CAST((i - 1) * gap_d AS BIGINT)").as("day"),
        expr("md5(concat(CAST(doc_id AS STRING), ':'," +
          " CAST((i - 1) div chg_k AS STRING)))").as("fp"))

  /** [[fetchSynth]]'s DuckDB mirror: CTE defs over `documents` ending
    * with CTE `fetches` carrying (url, day, fp). */
  private[graft] def fetchSynthCtes: String = s"""
        f0 AS (
          SELECT doc_id, ${Mining.UrlSynthSql} AS url,
            2 + doc_id % 5 AS n_f, 1 + doc_id % 7 AS gap_d,
            1 + doc_id % 3 AS chg_k
          FROM documents),
        f1 AS (
          SELECT f0.*, unnest(generate_series(1, n_f)) AS i FROM f0),
        fetches AS (
          SELECT url,
            CAST((i - 1) * gap_d AS BIGINT) AS day,
            md5(concat(CAST(doc_id AS VARCHAR), ':',
              CAST((i - 1) // chg_k AS VARCHAR))) AS fp
          FROM f1)"""

  /** The q229 estimator over a per-URL (n_changes, span_days,
    * last_day) aggregate — ONE definition for the batch query and
    * [[graft.streaming.StreamRecrawl]]'s read side, so the maintainer
    * provably computes the oracle-checked schedule. Interval policy:
    * the observed mean time between changes `span // changes`, clamped
    * to [1, 30] days; an unchanged URL backs off to the 30-day cap.
    * All BIGINT (the moment estimator X/T needs no logarithm — the
    * log-corrected Cho & Garcia-Molina variant trades that exactness
    * for bias reduction only when revisit intervals are irregular,
    * which a scheduler that CONTROLS the intervals avoids). */
  private[graft] def scheduleCols(df: DataFrame): DataFrame =
    df
      // the n_changes = 0 guard also covers span_days = 0: a single
      // fetch (the streaming maintainer's first touch of a url) has
      // zero span AND zero observable changes
      .withColumn("rate_ppm", expr(
        "CAST(CASE WHEN n_changes = 0 THEN 0" +
          " ELSE (n_changes * 1000000) div span_days END AS BIGINT)"))
      .withColumn("next_gap_days", expr(
        "CAST(CASE WHEN n_changes = 0 THEN 30" +
          " ELSE least(30, greatest(1, span_days div n_changes)) END AS BIGINT)"))
      .withColumn("next_fetch_day",
        expr("CAST(last_day + next_gap_days AS BIGINT)"))

  /** [[scheduleCols]]'s SQL mirror over the same three input columns. */
  private[graft] def scheduleSelectSql: String = """
          CAST(CASE WHEN n_changes = 0 THEN 0
               ELSE (n_changes * 1000000) // span_days END AS BIGINT)
            AS rate_ppm,
          CAST(CASE WHEN n_changes = 0 THEN 30
               ELSE least(30, greatest(1, span_days // n_changes)) END AS BIGINT)
            AS next_gap_days,
          CAST(last_day + CASE WHEN n_changes = 0 THEN 30
               ELSE least(30, greatest(1, span_days // n_changes)) END AS BIGINT)
            AS next_fetch_day"""

  /** The q229 estimator over a RAW fetch frame (url, day, fp) — LAG
    * change detection → per-URL aggregate → [[scheduleCols]]. The ONE
    * definition of the fold: q229/q233 run it over [[fetchSynth]],
    * and StreamRecrawlSpec runs it over hand-built histories as the
    * incremental maintainer's equivalence target (so the target can
    * never drift from the production fold). */
  private[graft] def scheduleFromFetches(fetches: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("url")).orderBy(col("day"))
    scheduleCols(fetches
      .withColumn("prev_fp", lag(col("fp"), 1).over(w))
      .groupBy(col("url"))
      .agg(
        count(lit(1)).cast("long").as("n_fetches"),
        sum(expr("CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp" +
          " THEN 1 ELSE 0 END")).cast("long").as("n_changes"),
        (max(col("day")) - min(col("day"))).cast("long").as("span_days"),
        max(col("day")).cast("long").as("last_day")))
  }

  /** The full q229 pipeline over a `documents` frame —
    * [[fetchSynth]] ∘ [[scheduleFromFetches]]. ONE definition for
    * q229 and q233 (the withOutlinks discipline; MUST stay mirrored
    * with [[recrawlSqlCtes]]). */
  private[graft] def recrawlSchedule(docs: DataFrame): DataFrame =
    scheduleFromFetches(fetchSynth(docs))

  /** [[recrawlSchedule]]'s DuckDB mirror: CTE defs over `documents`
    * ending with CTE `sched` carrying the full q229 output columns. */
  private[graft] def recrawlSqlCtes: String = s"""
        $fetchSynthCtes,
        fc AS (
          SELECT *, LAG(fp) OVER (PARTITION BY url ORDER BY day) AS prev_fp
          FROM fetches),
        agg AS (
          SELECT url,
            CAST(count(*) AS BIGINT) AS n_fetches,
            CAST(sum(CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
            CAST(max(day) - min(day) AS BIGINT) AS span_days,
            CAST(max(day) AS BIGINT) AS last_day
          FROM fc GROUP BY url),
        sched AS (
          SELECT url, n_fetches, n_changes, span_days, last_day,
            $scheduleSelectSql
          FROM agg)"""

  val all: Seq[Q] = Seq(

    // --------------------------------------------------------------- q229
    // RE-CRAWL SCHEDULING (Cho & Garcia-Molina 2003, "Effective page
    // refresh policies") — freshness is the crawl's steady-state cost:
    // every page competes for revisit slots, and the winning policy
    // revisits at the page's own change rate. Per URL the fetch
    // history folds to (n_fetches, n_changes, span_days): a change is
    // a fetch whose content fingerprint differs from the PREVIOUS
    // fetch's (LAG over the per-URL day order — the honest operator: a
    // real log's hashes flip arbitrarily, not monotonically), the rate
    // estimate is the moment estimator X/T in exact parts-per-million,
    // and the next interval is mean-time-between-changes clamped to
    // [1, 30] days with unchanged pages backing off to the cap.
    //
    // Scale shape: synthesis/LAG partition by url (a crawl log's
    // natural key — bounded by per-URL revisit count, never skewed),
    // then ONE map-side-combinable agg and in-row schedule arithmetic.
    // At 100 TB the log is already url-bucketed on disk and the window
    // never re-shuffles.
    Q(
      "q229_recrawl_rate",
      (s, dir) => recrawlSchedule(table(s, dir, "documents")),
      Some(s"""
        WITH $recrawlSqlCtes
        SELECT * FROM sched""")),

    // --------------------------------------------------------------- q230
    // CRAWLER-TRAP DETECTION by URL-template mining (Heydon & Najork
    // 1999 — Mercator hit these in the wild: session ids, calendars,
    // infinite pagination). The tell is structural: a URL TEMPLATE
    // (path with digit runs collapsed to 'N', query reduced to its
    // parameter NAMES) that accumulates many distinct URLs but few
    // distinct contents. The synthesis plants it honestly: the q213
    // universe's session-id leg (doc_id % 17) fetches under 3 session
    // values — same page, three URLs — while article/casino/mirror
    // legs stay 1:1. Per (host, template): url count, content count
    // (md5 fingerprints), their exact percent ratio, and the trap flag
    // (≥3 URLs whose content ratio ≤ 40%).
    //
    // Scale shape: in-row regex/string algebra at scan throughput,
    // then ONE (host, template)-keyed agg with per-group distincts —
    // template cardinality is tiny next to URL cardinality (that
    // compression IS the detector), so the agg output is small even
    // when the input is a 100 TB fetch log.
    Q(
      "q230_trap_templates",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val fetched = docs
          .withColumn("fp", expr("md5(text)"))
          .withColumn("url0", expr(Mining.UrlSynthSql))
          .withColumn("n_v",
            expr("CAST(CASE WHEN doc_id % 17 = 0 THEN 3 ELSE 1 END AS BIGINT)"))
          .select(col("doc_id"), col("fp"), col("url0"),
            explode(expr("sequence(1, n_v)")).as("v"))
          // session=<id> occurs at most once per URL, so first-match
          // and replace-all agree across engines
          .withColumn("url", expr(
            "CASE WHEN doc_id % 17 = 0 THEN regexp_replace(url0," +
              " 'session=[0-9]+', concat('session=', CAST(doc_id * 10 + v AS STRING)))" +
              " ELSE url0 END"))
        val templ = fetched
          .withColumn("host", expr("regexp_extract(url, '^https?://([^/]+)', 1)"))
          .withColumn("path_t", expr(
            "regexp_replace(regexp_extract(url, '^https?://[^/]+([^?#]*)', 1)," +
              " '[0-9]+', 'N')"))
          .withColumn("qnames", expr(
            "regexp_replace(regexp_extract(url, '\\\\?([^#]*)', 1), '=[^&]*', '')"))
          .withColumn("template", expr(
            "concat(path_t, CASE WHEN qnames <> '' THEN concat('?', qnames)" +
              " ELSE '' END)"))
        templ
          .groupBy(col("host"), col("template"))
          .agg(
            countDistinct(col("url")).cast("long").as("n_urls"),
            countDistinct(col("fp")).cast("long").as("n_contents"))
          .withColumn("content_pct",
            expr("CAST(n_contents * 100 div n_urls AS BIGINT)"))
          .withColumn("is_trap", expr(
            "CAST(CASE WHEN n_urls >= 3 AND n_contents * 100 div n_urls <= 40" +
              " THEN 1 ELSE 0 END AS BIGINT)"))
      },
      Some(s"""
        WITH t0 AS (
          SELECT doc_id, md5(text) AS fp, ${Mining.UrlSynthSql} AS url0,
            CAST(CASE WHEN doc_id % 17 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_v
          FROM documents),
        t1 AS (
          SELECT t0.*, unnest(generate_series(1, n_v)) AS v FROM t0),
        t2 AS (
          SELECT doc_id, fp,
            CASE WHEN doc_id % 17 = 0 THEN regexp_replace(url0,
              'session=[0-9]+', concat('session=', CAST(doc_id * 10 + v AS VARCHAR)))
            ELSE url0 END AS url
          FROM t1),
        t3 AS (
          SELECT fp, url,
            regexp_extract(url, '^https?://([^/]+)', 1) AS host,
            regexp_replace(regexp_extract(url, '^https?://[^/]+([^?#]*)', 1),
              '[0-9]+', 'N', 'g') AS path_t,
            regexp_replace(regexp_extract(url, '\\?([^#]*)', 1),
              '=[^&]*', '', 'g') AS qnames
          FROM t2),
        t4 AS (
          SELECT fp, url, host,
            concat(path_t, CASE WHEN qnames <> '' THEN concat('?', qnames)
                   ELSE '' END) AS template
          FROM t3),
        g AS (
          SELECT host, template,
            CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
            CAST(count(DISTINCT fp) AS BIGINT) AS n_contents
          FROM t4 GROUP BY 1, 2)
        SELECT host, template, n_urls, n_contents,
          CAST(n_contents * 100 // n_urls AS BIGINT) AS content_pct,
          CAST(CASE WHEN n_urls >= 3 AND n_contents * 100 // n_urls <= 40
               THEN 1 ELSE 0 END AS BIGINT) AS is_trap
        FROM g""")),

    // --------------------------------------------------------------- q231
    // MIRROR-HOST DETECTION (Bharat & Broder 1999, "Mirror, mirror on
    // the web") — mirrors are the crawl's bulk duplication: whole
    // hosts replaying another host's content. Detection is host-pair
    // fingerprint overlap: per host the set of content fingerprints
    // (md5 of the page text), pairs generated ONLY through a
    // fingerprint-keyed equi-join (never host × host), shared count
    // vs the smaller host's size as an exact percent, mirrors flagged
    // at ≥ 80%. The synthesis plants the positive and the negative: a
    // per-source mirror host carrying every third page (a true
    // mirror: ~100% of its content is shared) and a cross-source
    // syndication hub carrying every seventh page (a residue coprime to
    // the corpus's source assignment, so its content spreads over ALL
    // sources) (real co-publication
    // that must NOT flag — its overlap vs any one source is small).
    //
    // Scale shape: the pair generation is bucketed by fingerprint, so
    // fan-out is replication², not hosts²; fingerprints shared by >16
    // hosts are dropped first (boilerplate/empty-page mass — the
    // standard guard, vacuous on this corpus and asserted so in the
    // spec), keeping worst-case per-key work at 16². Host sizes are
    // ONE small agg joined back.
    Q(
      "q231_mirror_hosts",
      (s, dir) => {
        val m0 = table(s, dir, "documents")
          .withColumn("fp", expr("md5(text)"))
          .withColumn("host",
            expr(s"regexp_extract(${Mining.UrlSynthSql}, '^https?://([^/]+)', 1)"))
          .select(col("doc_id"), col("source"), col("fp"), col("host"))
        val m1 = m0.select(col("host"), col("fp"))
          .unionAll(m0.filter(expr("doc_id % 3 = 0"))
            .select(expr("concat('mirror-', source, '.example.net')").as("host"),
              col("fp")))
          .unionAll(m0.filter(expr("doc_id % 7 = 0"))
            .select(lit("syndication-hub.example.net").as("host"), col("fp")))
        val hf = m1.distinct()
        val hfc = hf
          .withColumn("nh", count(lit(1)).over(Window.partitionBy(col("fp"))))
          .filter(col("nh") <= 16)
          .select(col("host"), col("fp"))
        val sz = hfc.groupBy(col("host"))
          .agg(count(lit(1)).cast("long").as("n"))
        val pairs = hfc.select(col("host").as("host1"), col("fp"))
          .join(hfc.select(col("host").as("host2"), col("fp")), Seq("fp"))
          .filter(col("host1") < col("host2"))
          .groupBy(col("host1"), col("host2"))
          .agg(count(lit(1)).cast("long").as("shared"))
        pairs
          .join(sz.select(col("host").as("host1"), col("n").as("n1")), Seq("host1"))
          .join(sz.select(col("host").as("host2"), col("n").as("n2")), Seq("host2"))
          .withColumn("overlap_pct",
            expr("CAST(shared * 100 div least(n1, n2) AS BIGINT)"))
          .withColumn("is_mirror", expr(
            "CAST(CASE WHEN shared * 100 div least(n1, n2) >= 80" +
              " THEN 1 ELSE 0 END AS BIGINT)"))
          .select(col("host1"), col("host2"), col("shared"), col("n1"),
            col("n2"), col("overlap_pct"), col("is_mirror"))
      },
      Some(s"""
        WITH m0 AS (
          SELECT doc_id, source, md5(text) AS fp,
            regexp_extract(${Mining.UrlSynthSql}, '^https?://([^/]+)', 1) AS host
          FROM documents),
        m1 AS (
          SELECT host, fp FROM m0
          UNION ALL
          SELECT concat('mirror-', source, '.example.net') AS host, fp
          FROM m0 WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 'syndication-hub.example.net' AS host, fp
          FROM m0 WHERE doc_id % 7 = 0),
        hf AS (SELECT DISTINCT host, fp FROM m1),
        hfc AS (
          SELECT host, fp FROM (
            SELECT host, fp, count(*) OVER (PARTITION BY fp) AS nh FROM hf) x
          WHERE nh <= 16),
        sz AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n FROM hfc GROUP BY host),
        pairs AS (
          SELECT a.host AS host1, b.host AS host2,
            CAST(count(*) AS BIGINT) AS shared
          FROM hfc a JOIN hfc b ON a.fp = b.fp AND a.host < b.host
          GROUP BY 1, 2)
        SELECT host1, host2, shared, s1.n AS n1, s2.n AS n2,
          CAST(shared * 100 // least(s1.n, s2.n) AS BIGINT) AS overlap_pct,
          CAST(CASE WHEN shared * 100 // least(s1.n, s2.n) >= 80
               THEN 1 ELSE 0 END AS BIGINT) AS is_mirror
        FROM pairs
        JOIN sz s1 ON host1 = s1.host
        JOIN sz s2 ON host2 = s2.host""")),

    // --------------------------------------------------------------- q232
    // DISCOVERY FRONTIER — the maintenance arc's capstone: of all link
    // targets the crawl has SEEN but never FETCHED, which deserve a
    // slot? Candidates are the q222 graph's dangling side (followed,
    // non-nofollow targets absent from the crawled canonical set — so
    // nofollow-only discoveries like the spam farm never qualify, the
    // same exclusion q223 ranks by). Per candidate: in-link count,
    // linking-host diversity, anchor diversity (the McBryan/q224
    // signals), and `mass_q` — the PageRank mass ONE more iteration
    // would push into it (Σ over in-edges of rank·weight/outdegree,
    // in q226's exact floor(pr·1e12) quantization — so the frontier
    // ordering is bit-stable across engines and runs).
    //
    // Scale shape: the candidate set comes from one anti-join of the
    // links frame against the (much smaller) crawled-node set; the
    // mass push is one join of the edge frame against the rank and
    // outdegree frames — all hash-equi on node keys, the exact q223
    // per-round shape, so it scales wherever PageRank itself does.
    Q(
      "q232_discovery_frontier",
      (s, dir) => {
        // ONE extraction pass: links feeds three consumers (the edge
        // aggregation inside PageRank, the crawled set, the candidate
        // anti-join) — materialized once instead of re-running the
        // regex-heavy outlink scan per consumer (optimization round
        // 15)
        val links = Checkpoints.local(Crawl.withOutlinks(table(s, dir, "documents")))
        val followed = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
        // the edge aggregation feeds PageRank AND outdeg/contrib —
        // checkpointed once so the 4 M-link groupBy doesn't re-run for
        // the mass push (optimization round 16; PageRank re-snapshots
        // it internally, a cheap cached-block copy)
        val edges = Checkpoints.local(followed
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c")))
        val pr = graft.ops.PageRank.run(edges, rounds = 5)
        val crawled = links.select(col("src_url").as("dst_url")).distinct()
        val cand = followed.join(crawled, Seq("dst_url"), "left_anti")
        // candidate aggregate materialized HERE so `links` — the big
        // multi-GB extraction frame and the round-15 verdict's leak —
        // has NO lazy consumer left and releases deterministically
        // (round-16; the remaining checkpoints are candidate/edge-sized)
        val cagg = Checkpoints.local(cand
          .groupBy(col("dst_url"))
          .agg(
            count(lit(1)).cast("long").as("n_links"),
            countDistinct(
              expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
              .cast("long").as("n_src_hosts"),
            countDistinct(col("anchor")).cast("long").as("n_anchors")))
        Checkpoints.release(links)
        val outdeg = edges.groupBy(col("w1"))
          .agg(sum(col("c")).cast("long").as("od"))
        val contrib = edges
          .join(cagg.select(col("dst_url").as("w2")), Seq("w2"))
          .join(pr.select(col("w").as("w1"), col("pr")), Seq("w1"))
          .join(outdeg, Seq("w1"))
          .withColumn("m",
            expr("CAST((CAST(floor(pr * 1e12) AS BIGINT) * c) div od AS BIGINT)"))
          .groupBy(col("w2").as("dst_url"))
          .agg(sum(col("m")).cast("long").as("mass_q"))
        cagg.join(contrib, Seq("dst_url"))
      },
      Some(s"""
        WITH ${Crawl.outlinkSqlCtes},
        fl AS (
          SELECT * FROM links2 WHERE kind <> 'skip' AND nofollow = 0),
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM fl GROUP BY 1, 2),
        ${graft.ops.PageRank.sqlCtes(5)},
        crawled AS (SELECT DISTINCT src_url AS u FROM links2),
        cand AS (
          SELECT * FROM fl WHERE dst_url NOT IN (SELECT u FROM crawled)),
        cagg AS (
          SELECT dst_url,
            CAST(count(*) AS BIGINT) AS n_links,
            CAST(count(DISTINCT regexp_extract(src_url, '^https?://([^/]+)', 1))
              AS BIGINT) AS n_src_hosts,
            CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchors
          FROM cand GROUP BY 1),
        odeg AS (
          SELECT w1, CAST(sum(c) AS BIGINT) AS od FROM edges GROUP BY 1),
        contrib AS (
          SELECT e.w2 AS dst_url,
            CAST(sum((CAST(floor(r.pr * 1e12) AS BIGINT) * e.c) // o.od)
              AS BIGINT) AS mass_q
          FROM edges e
          JOIN r5 r ON e.w1 = r.w
          JOIN odeg o ON e.w1 = o.w1
          WHERE e.w2 IN (SELECT dst_url FROM cagg)
          GROUP BY 1)
        SELECT c.dst_url, c.n_links, c.n_src_hosts, c.n_anchors, t.mass_q
        FROM cagg c JOIN contrib t USING (dst_url)""")),

    // --------------------------------------------------------------- q233
    // REFRESH-DUE LIST — where the two freshness signals meet: q229's
    // OBSERVED change rate says when a page is statistically due, and
    // the site's own sitemap <lastmod> (q225's synthesis, here parsed
    // to a day offset from the 2020-01-01 crawl epoch via exact date
    // arithmetic both engines share) says the publisher CLAIMS it
    // changed since our last fetch. A page enters today's refresh list
    // when either fires — schedule-due at the horizon (day 35), or
    // lastmod strictly after our last fetch day — with the reason
    // recorded ('scheduled' | 'lastmod' | 'both'): a crawler audits
    // WHY it spends a fetch, because the two reasons have different
    // failure modes (a stale schedule self-corrects; a lying lastmod
    // must be discounted, which needs the attribution this emits).
    //
    // Scale shape: two url-keyed frames (the q229 aggregate and an
    // in-row lastmod derivation) hash-joined on the url, flags in-row
    // — nothing beyond q229's own cost.
    Q(
      "q233_refresh_due",
      (s, dir) => {
        val sched = recrawlSchedule(table(s, dir, "documents"))
        val lastmod = table(s, dir, "documents")
          .select(
            expr(Mining.UrlSynthSql).as("url"),
            expr("CAST(datediff(make_date(2020, CAST(1 + doc_id % 12 AS INT)," +
              " CAST(1 + doc_id % 28 AS INT)), DATE'2020-01-01') AS BIGINT)")
              .as("lastmod_day"))
        sched.join(lastmod, Seq("url"))
          .withColumn("due_scheduled",
            expr("CAST(next_fetch_day <= 35 AS BIGINT)"))
          .withColumn("due_lastmod",
            expr("CAST(lastmod_day > last_day AS BIGINT)"))
          .filter(expr("due_scheduled = 1 OR due_lastmod = 1"))
          .select(col("url"), col("last_day"), col("next_fetch_day"),
            col("lastmod_day"),
            expr("CASE WHEN due_scheduled = 1 AND due_lastmod = 1 THEN 'both'" +
              " WHEN due_scheduled = 1 THEN 'scheduled'" +
              " ELSE 'lastmod' END").as("reason"))
      },
      Some(s"""
        WITH $recrawlSqlCtes,
        lm AS (
          SELECT ${Mining.UrlSynthSql} AS url,
            CAST(date_diff('day', DATE '2020-01-01',
              make_date(2020, CAST(1 + doc_id % 12 AS INT),
                CAST(1 + doc_id % 28 AS INT))) AS BIGINT) AS lastmod_day
          FROM documents),
        j AS (
          SELECT s.url, s.last_day, s.next_fetch_day, lm.lastmod_day,
            CASE WHEN s.next_fetch_day <= 35 THEN 1 ELSE 0 END AS due_scheduled,
            CASE WHEN lm.lastmod_day > s.last_day THEN 1 ELSE 0 END AS due_lastmod
          FROM sched s JOIN lm ON s.url = lm.url)
        SELECT url, last_day, next_fetch_day, lastmod_day,
          CASE WHEN due_scheduled = 1 AND due_lastmod = 1 THEN 'both'
               WHEN due_scheduled = 1 THEN 'scheduled'
               ELSE 'lastmod' END AS reason
        FROM j WHERE due_scheduled = 1 OR due_lastmod = 1""")),

    // --------------------------------------------------------------- q234
    // ROBOTS COMPLIANCE AUDIT — the report a crawl operator actually
    // owes: join the fetch log (q229's history — what we DID) against
    // the q214 robots verdicts (what we were ALLOWED to do) and
    // aggregate per domain: fetch events, distinct URLs, violation
    // events/URLs, the smallest violating URL as a stable exhibit, and
    // the violation rate as an exact percent. Violations here are
    // planted truth, not noise: the fetch-history synthesis revisits
    // EVERY known URL, including the casino paths and the whole-site-
    // disallowed mirror — exactly the drift a real audit exists to
    // catch (a scheduler that re-crawls by change rate alone, q229,
    // ignores robots until this report shames it; q213's gate is the
    // fix the audit motivates).
    //
    // Scale shape: the verdict side is q214's broadcast-join + narrow
    // argmax; the audit adds one url-keyed hash join (fetch log ×
    // verdicts) and ONE domain-keyed agg with per-domain distincts —
    // a trillion-fetch log reduces to a domains-sized report.
    Q(
      "q234_compliance_audit",
      (s, dir) => {
        val fetches = fetchSynth(table(s, dir, "documents"))
        // the verdict side is now a pure in-row projection (round 15's
        // robotsWinCol), so no aggregate boundary hands AQE a runtime
        // size for the join — gate the broadcast on a measured count
        // instead (the budget-gated hint discipline on graft.Sql):
        // urls-sized ≤ 2²⁰ → broadcast; corpus-scale → sort-merge,
        // which a trillion-fetch log needs anyway
        val verd = graft.Sql.broadcastIfSmall(
          Mining.robotsVerdicts(s, dir)
            .select(col("url"), col("domain"), col("allowed")),
          1L << 20)
        fetches.join(verd, Seq("url"))
          .groupBy(col("domain"))
          .agg(
            count(lit(1)).cast("long").as("n_fetch_events"),
            countDistinct(col("url")).cast("long").as("n_urls"),
            sum(expr("1 - allowed")).cast("long").as("n_violation_events"),
            countDistinct(expr("CASE WHEN allowed = 0 THEN url END"))
              .cast("long").as("n_violation_urls"),
            coalesce(min(expr("CASE WHEN allowed = 0 THEN url END")), lit(""))
              .as("sample_violation"))
          .withColumn("violation_pct",
            expr("CAST(n_violation_events * 100 div n_fetch_events AS BIGINT)"))
      },
      Some(s"""
        WITH $fetchSynthCtes,
        ${Mining.robotsVerdictSqlCtes},
        jj AS (
          SELECT v.domain, fe.url, v.allowed
          FROM fetches fe JOIN verdicts v ON fe.url = v.url),
        g AS (
          SELECT domain,
            CAST(count(*) AS BIGINT) AS n_fetch_events,
            CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
            CAST(sum(1 - allowed) AS BIGINT) AS n_violation_events,
            CAST(count(DISTINCT CASE WHEN allowed = 0 THEN url END) AS BIGINT)
              AS n_violation_urls,
            coalesce(min(CASE WHEN allowed = 0 THEN url END), '')
              AS sample_violation
          FROM jj GROUP BY domain)
        SELECT domain, n_fetch_events, n_urls, n_violation_events,
          n_violation_urls, sample_violation,
          CAST(n_violation_events * 100 // n_fetch_events AS BIGINT)
            AS violation_pct
        FROM g""")),

    // --------------------------------------------------------------- q235
    // SITEMAP INDEX ROUND-TRIP (sitemaps.org 0.9, <sitemapindex>) —
    // the protocol's SECOND layer: q225 shards a domain's URLs into
    // ≤cap sitemap files, and any site with more than one shard must
    // publish an index file listing each shard's location and
    // last-modified date (the max <lastmod> of its entries — the
    // freshness hint that lets a crawler skip unchanged shards, q233's
    // logic one level up). This builds the per-domain index XML from
    // the q225 shard arithmetic (shard loc = /sitemap-<k>.xml, shard
    // lastmod = MAX of its entries' ISO dates — lexicographic =
    // chronological on the zero-padded form), then parses it back from
    // the XML alone; the oracle recomputes the expected parse straight
    // from documents (the q211/q225 invert-the-synthesis discipline).
    //
    // Scale shape: reuses q225's per-domain window + per-shard agg,
    // adds ONE per-domain ordered fold (index XML is shards-sized —
    // ≤50k entries by the protocol's own cap, same bound as a shard)
    // and an in-row parse. Nothing corpus-sized in one row.
    Q(
      "q235_sitemap_index",
      (s, dir) => {
        val pages = table(s, dir, "documents")
          .withColumn("url", expr(Mining.UrlSynthSql))
          .select(col("doc_id"), col("url"),
            expr("regexp_extract(url, '^https?://([^/]+)/', 1)").as("domain"))
          .withColumn("lastmod", expr(
            "concat('2020-', lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0')," +
              " '-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'))"))
          .withColumn("rn",
            row_number().over(Window.partitionBy(col("domain")).orderBy(col("url"))))
          .withColumn("shard", expr("CAST((rn - 1) div 5 AS BIGINT)"))
        val shards = pages.groupBy(col("domain"), col("shard"))
          .agg(max(col("lastmod")).as("shard_lastmod"))
          .withColumn("loc",
            expr("concat('https://', domain, '/sitemap-', shard, '.xml')"))
          .withColumn("entry", expr(
            "concat('<sitemap><loc>', loc, '</loc><lastmod>', shard_lastmod," +
              " '</lastmod></sitemap>')"))
        val index = shards.groupBy(col("domain"))
          .agg(expr(
            "concat('<?xml version=\"1.0\" encoding=\"UTF-8\"?><sitemapindex>'," +
              " array_join(transform(sort_array(collect_list(struct(shard, entry)))," +
              " x -> x.entry), ''), '</sitemapindex>')").as("xml"))
        index
          .withColumn("elems",
            expr("regexp_extract_all(xml, '<sitemap>.*?</sitemap>', 0)"))
          .select(col("domain"),
            explode(expr("sequence(1, size(elems))")).as("ipos"), col("elems"))
          .withColumn("elem", expr("element_at(elems, ipos)"))
          .select(col("domain"),
            col("ipos").cast("long").as("idx_pos"),
            expr("regexp_extract(elem, '<loc>([^<]*)</loc>', 1)").as("shard_url"),
            expr("regexp_extract(elem, '<lastmod>([^<]*)</lastmod>', 1)")
              .as("shard_lastmod"))
      },
      Some(s"""
        WITH p AS (
          SELECT doc_id, ${Mining.UrlSynthSql} AS url FROM documents),
        d AS (
          SELECT doc_id, url,
            regexp_extract(url, '^https?://([^/]+)/', 1) AS domain,
            concat('2020-', lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0'), '-',
                   lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')) AS lastmod
          FROM p),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY domain ORDER BY url) AS rn
          FROM d),
        sh AS (
          SELECT domain, CAST((rn - 1) // 5 AS BIGINT) AS shard,
            max(lastmod) AS shard_lastmod
          FROM r GROUP BY 1, 2)
        SELECT domain,
          CAST(shard + 1 AS BIGINT) AS idx_pos,
          concat('https://', domain, '/sitemap-', shard, '.xml') AS shard_url,
          shard_lastmod
        FROM sh""")),

    // --------------------------------------------------------------- q236
    // CONDITIONAL-FETCH SAVINGS — the operational metric behind
    // ETag / If-Modified-Since: every refetch whose content
    // fingerprint equals the PREVIOUS fetch's would have been a 304
    // Not Modified had the crawler sent a validator — pure bandwidth
    // waste otherwise. Per host: fetch events, revisits (the only
    // 304-eligible events), not-modified revisits, and the exact
    // percent of all fetches a conditional-request implementation
    // would have saved. The report that justifies (or kills) the
    // engineering: hosts with high change rates save nothing.
    //
    // Scale shape: the same per-URL LAG as q229 (url-keyed, revisit-
    // bounded), then ONE host-keyed map-side-combinable agg — a
    // trillion-fetch log reduces to a hosts-sized report.
    Q(
      "q236_conditional_savings",
      (s, dir) => {
        val w = Window.partitionBy(col("url")).orderBy(col("day"))
        fetchSynth(table(s, dir, "documents"))
          .withColumn("prev_fp", lag(col("fp"), 1).over(w))
          .withColumn("host", expr("regexp_extract(url, '^https?://([^/]+)', 1)"))
          .groupBy(col("host"))
          .agg(
            count(lit(1)).cast("long").as("n_fetches"),
            sum(expr("CASE WHEN prev_fp IS NOT NULL THEN 1 ELSE 0 END"))
              .cast("long").as("n_revisits"),
            sum(expr("CASE WHEN prev_fp IS NOT NULL AND fp = prev_fp" +
              " THEN 1 ELSE 0 END")).cast("long").as("n_not_modified"))
          .withColumn("saved_pct",
            expr("CAST(n_not_modified * 100 div n_fetches AS BIGINT)"))
      },
      Some(s"""
        WITH $fetchSynthCtes,
        fc AS (
          SELECT *, LAG(fp) OVER (PARTITION BY url ORDER BY day) AS prev_fp
          FROM fetches),
        g AS (
          SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
            CAST(count(*) AS BIGINT) AS n_fetches,
            CAST(sum(CASE WHEN prev_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_revisits,
            CAST(sum(CASE WHEN prev_fp IS NOT NULL AND fp = prev_fp
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_not_modified
          FROM fc GROUP BY 1)
        SELECT host, n_fetches, n_revisits, n_not_modified,
          CAST(n_not_modified * 100 // n_fetches AS BIGINT) AS saved_pct
        FROM g"""))
  )
}
