package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The crawl LINK-GRAPH family — the stage-zero arc's missing edge.
  * Round 15 closed the fetch path (URL gate q213 → robots q214/q220 →
  * WARC q211 → redirects q221 → HTML q208 → canonical dedup q215 →
  * scheduling q219), but nothing yet consumed the hyperlinks that a
  * real crawl EXISTS to follow: the link graph is both the frontier's
  * input (discovered URLs) and its priority signal (centrality,
  * anchor text). This module adds that consumption end to end:
  *
  *  - q222: `<a href>` extraction from markup, RFC 3986-subset
  *    reference resolution, canonicalization of BOTH endpoints (the
  *    q215 chain, spliced twice);
  *  - q223: page-level PageRank over the extracted edges
  *    ([[graft.ops.PageRank]] — the same two-tier operator behind
  *    q96, here on URL nodes, the frontier-priority signal);
  *  - q224: anchor-text aggregation per target (the classic
  *    target-page relevance signal search stacks feed beside BM25);
  *  - q225: sitemaps.org round-trip — shard-build sitemap XML from
  *    the corpus and parse it back (discovery's OTHER source).
  *
  * Everything is DuckDB-replayable: extraction/resolution are in-row
  * string algebra (the q208/q213 discipline), the PageRank rounds
  * unroll through [[graft.ops.PageRank.sqlCtes]], and the sitemap
  * oracle recomputes the expected parse output straight from
  * `documents` (the q211 invert-the-synthesis discipline).
  */
object Crawl {

  /** The q222 page synthesis — ONE SQL fragment over (doc_id, lang,
    * source) evaluated by both engines: eight links per page covering
    * every extraction/resolution leg. Root-relative home + sibling
    * links (resolve against the page's own host; siblings target
    * `doc_id + 1`, so a fraction genuinely lands on the next
    * document's q213-universe URL and the rest dangle — a crawl's
    * normal mix), an absolute hub link (lang-free target shared by
    * every doc with the same residues — 33 hub pages collect the
    * corpus's in-degree mass), an absolute partner link needing the
    * FULL q215 canonicalization (uppercase scheme+host, explicit
    * :443, doubled path slash, tracking param, fragment, and an
    * `&amp;`-entity separator the extractor must decode), a
    * protocol-relative CDN link, mailto:/javascript: links the
    * resolver must skip, and a `rel="nofollow"` sponsor link the
    * ranking graph must exclude (q223) but the audit must count
    * (q224).
    */
  private[graft] lazy val LinkPageSynthSql: String =
    "concat('<html><body><h1>', source, ' article ', doc_id, '</h1>" +
      "<p>curated reading list for this story</p>" +
      "<div class=\"related\">" +
      "<a href=\"/\">Home</a>" +
      "<a href=\"/', lang, '/articles/', doc_id + 1, '\">next ', lang, ' story</a>" +
      "<a href=\"https://src', doc_id % 3, '.example.org/hub/', doc_id % 11, " +
      "'\">hub page ', doc_id % 11, '</a>" +
      "<a href=\"HTTPS://SRC', doc_id % 5, '.EXAMPLE.ORG:443/partner//', doc_id % 7, " +
      "'?utm_source=link&amp;id=', doc_id % 7, '#top\">partner site</a>" +
      "<a href=\"//cdn.example.org/asset/', doc_id % 13, '\">asset ', doc_id % 13, '</a>" +
      "<a href=\"mailto:editor@', source, '.example.org\">email the editor</a>" +
      "<a href=\"javascript:void(0)\">share this</a>" +
      "<a href=\"https://spam-farm.example.biz/offer/', doc_id % 4, " +
      "'\" rel=\"nofollow\">sponsored offer</a>" +
      "</div></body></html>')"

  /** Outlink extraction + resolution + canonicalization as reusable
    * steps over a `documents` frame — ONE definition for q222/q223/
    * q224 (the withUrlGate discipline; MUST stay mirrored with
    * [[outlinkSqlCtes]]). Output: one row per `<a>` tag —
    * (doc_id, pos, href, anchor, kind, nofollow, src_url, dst_url).
    *
    * Resolution implements the RFC 3986 subset a link graph needs
    * in-row: absolute http(s) pass through (scheme case-insensitive,
    * §3.1), protocol-relative `//host/…` takes the base scheme
    * (§4.2; all synthesized bases are https), root-relative `/…`
    * resolves against the base host (§5.3). Everything else —
    * mailto:, javascript:, fragment-only, relative-without-slash —
    * is `kind = 'skip'` with `dst_url = ''` (kept as rows: a crawl
    * audits what it refuses to follow). Both endpoints then
    * canonicalize through the oracle-checked q215 chain, so the
    * graph's nodes are canonical pages, not alias spellings — the
    * partner link's :443/double-slash/tracking-param variants all
    * collapse onto one node.
    *
    * Scale shape: in-row end to end (regex + string algebra at scan
    * throughput — the q208/q213 front-door shape);
    * per-page fanout is the page's link count, so output is
    * links-sized, the same mass a real crawler writes per fetch. An
    * input scanned in fewer partitions than the cluster has cores (a
    * one-row-group `documents` file is ONE partition) is first
    * narrowed to (doc_id, lang, source) and round-robined across
    * `defaultParallelism` — one exchange of |docs| narrow rows, so the
    * synthesis, extraction and both canonicalization chains run on
    * every core instead of in one task ([[spread]]); an input that
    * already spans the cores is left as it is.
    */
  private[graft] def withOutlinks(docs: DataFrame): DataFrame = {
    val tagged = spread(docs)
      .withColumn("url0", expr(Mining.UrlSynthSql))
      .withColumn("html", expr(LinkPageSynthSql))
      .withColumn("tags",
        expr("""regexp_extract_all(html, '<a [^>]*>[^<]*</a>', 0)"""))
      .select(col("doc_id"), col("url0"),
        explode(expr("sequence(1, size(tags))")).as("ipos"), col("tags"))
      .withColumn("tag", expr("element_at(tags, ipos)"))
      .select(col("doc_id"), col("url0"),
        col("ipos").cast("long").as("pos"), col("tag"))
      .withColumn("href",
        expr("""replace(regexp_extract(tag, 'href="([^"]*)"', 1), '&amp;', '&')"""))
      .withColumn("anchor", expr("""regexp_extract(tag, '>([^<]*)</a>', 1)"""))
      .withColumn("nofollow",
        expr("""CAST(tag LIKE '%rel="nofollow"%' AS BIGINT)"""))
      .withColumn("kind", expr(
        "CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'" +
          " THEN 'abs'" +
          " WHEN href LIKE '//%' THEN 'proto'" +
          " WHEN href LIKE '/%' THEN 'root'" +
          " ELSE 'skip' END"))
      .withColumn("resolved", expr(
        "CASE kind WHEN 'abs' THEN href" +
          " WHEN 'proto' THEN concat('https:', href)" +
          " WHEN 'root' THEN concat('https://'," +
          " regexp_extract(url0, '^https?://([^/]+)', 1), href)" +
          " ELSE '' END"))
      .drop("tag")
    val withSrc = Mining.withCanonUrl(tagged.withColumn("url", col("url0")))
      .withColumnRenamed("canon_url", "src_url")
      .drop("url")
    Mining.withCanonUrl(withSrc.withColumn("url", col("resolved")))
      .withColumn("dst_url",
        expr("CASE WHEN kind = 'skip' THEN '' ELSE canon_url END"))
      .select(col("doc_id"), col("pos"), col("href"), col("anchor"),
        col("kind"), col("nofollow"), col("src_url"), col("dst_url"))
  }

  /** `docs` as [[withOutlinks]] reads it: narrowed to the columns the
    * pass uses and round-robined to `defaultParallelism` partitions
    * when its scan yields fewer, otherwise untouched. The count comes
    * from the physical plan — no job runs to learn it (under AQE,
    * `df.rdd` over a plan with an exchange runs that exchange's
    * stages, so an input with an exchange is left as it is).
    */
  private def spread(docs: DataFrame): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(docs).exists(_ < cores))
      docs.select(col("doc_id"), col("lang"), col("source")).repartition(cores)
    else docs
  }

  /** The partition count `df`'s physical plan yields when it is a
    * chain of narrow operators over one file scan or checkpoint scan;
    * None for any other shape (an exchange, a join, an aggregate, a
    * local relation). Reads split counts only.
    */
  private def plannedPartitions(df: DataFrame): Option[Int] = {
    def walk(p: SparkPlan): Option[Int] = p match {
      case x: FileSourceScanExec => Some(x.inputRDD.getNumPartitions)
      case x: RDDScanExec => Some(x.rdd.getNumPartitions)
      case _ => p.children match {
        case Seq(c) if p.requiredChildDistribution == Seq(UnspecifiedDistribution) => walk(c)
        case _ => None
      }
    }
    walk(df.queryExecution.sparkPlan)
  }

  /** [[withOutlinks]]'s DuckDB mirror: CTE defs reading `documents`,
    * ending with CTE `links2` carrying the same eight columns. The
    * canonicalization chain splices twice via [[Mining.urlCanonSqlCtes]]'s
    * suffix parameter (src endpoint, then dst endpoint). */
  private[graft] def outlinkSqlCtes: String = s"""
        ln0 AS (
          SELECT doc_id, lang, source, ${Mining.UrlSynthSql} AS url0
          FROM documents),
        ln1 AS (
          SELECT doc_id, url0, $LinkPageSynthSql AS html FROM ln0),
        ln2 AS (
          SELECT doc_id, url0,
            regexp_extract_all(html, '<a [^>]*>[^<]*</a>') AS tags
          FROM ln1),
        ln3 AS (
          SELECT doc_id, url0, CAST(pos AS BIGINT) AS pos, tags[pos] AS tag
          FROM (
            SELECT doc_id, url0, tags,
              unnest(generate_series(1, len(tags))) AS pos
            FROM ln2) x),
        ln4 AS (
          SELECT doc_id, url0, pos,
            replace(regexp_extract(tag, 'href="([^"]*)"', 1), '&amp;', '&') AS href,
            regexp_extract(tag, '>([^<]*)</a>', 1) AS anchor,
            CAST(CASE WHEN tag LIKE '%rel="nofollow"%' THEN 1 ELSE 0 END AS BIGINT) AS nofollow
          FROM ln3),
        ln5 AS (
          SELECT *,
            CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'
                 THEN 'abs'
                 WHEN href LIKE '//%' THEN 'proto'
                 WHEN href LIKE '/%' THEN 'root'
                 ELSE 'skip' END AS kind
          FROM ln4),
        ln6 AS (
          SELECT doc_id, pos, href, anchor, nofollow, kind,
            CASE kind WHEN 'abs' THEN href
                 WHEN 'proto' THEN concat('https:', href)
                 WHEN 'root' THEN concat('https://',
                   regexp_extract(url0, '^https?://([^/]+)', 1), href)
                 ELSE '' END AS resolved,
            url0 AS url
          FROM ln5),
        ${Mining.urlCanonSqlCtes("ln6", "s")},
        ln7 AS (
          SELECT * EXCLUDE (url, canon_url), canon_url AS src_url,
            resolved AS url
          FROM canons),
        ${Mining.urlCanonSqlCtes("ln7", "d")},
        links2 AS (
          SELECT doc_id, pos, href, anchor, kind, nofollow, src_url,
            CASE WHEN kind = 'skip' THEN '' ELSE canon_url END AS dst_url
          FROM canond)"""

  val all: Seq[Q] = Seq(

    // --------------------------------------------------------------- q222
    // OUTLINK EXTRACTION — the crawl's discovery step: every fetched
    // page yields the `<a href>` targets the frontier will consider
    // next. Pages synthesize deterministically (LinkPageSynthSql, one
    // shared fragment both engines evaluate), the extractor pulls each
    // anchor tag with href / inner text / rel="nofollow", resolves the
    // RFC 3986 subset (absolute, protocol-relative, root-relative;
    // mailto:/javascript: skipped as audited rows), and canonicalizes
    // BOTH endpoints through the q215 chain — so downstream consumers
    // (q223's graph, q224's anchor audit, the StreamFrontier) see
    // canonical page identities, never alias spellings.
    //
    // Scale shape: in-row end to end — a map-only pass at scan
    // throughput whose output is links-sized (the mass a real crawler
    // writes per fetch); the only exchange is withOutlinks' narrow
    // round-robin when the scan has fewer partitions than cores. At
    // 100 TB this runs fused into the q208/q211 ingestion scan.
    Q(
      "q222_outlink_extract",
      (s, dir) => withOutlinks(table(s, dir, "documents")),
      Some(s"""
        WITH $outlinkSqlCtes
        SELECT doc_id, pos, href, anchor, kind, nofollow, src_url, dst_url
        FROM links2""")),

    // --------------------------------------------------------------- q223
    // LINK-GRAPH PAGERANK (Brin & Page 1998) — the frontier-priority
    // signal over the REAL hyperlink graph (q96 ranks a word-adjacency
    // graph; this ranks pages): nodes are canonical URLs, directed
    // edge src→dst per extracted link, nofollow links excluded (the
    // attribute's defined ranking semantics), weight = link
    // multiplicity. 5 fixed rounds, damping 0.85, uniform dangling
    // redistribution — uncrawled targets (sibling links off the end,
    // hub/partner/CDN pages) are dangling nodes, exactly a real
    // crawl's shape. Runs through ops.PageRank's two-tier `auto` with
    // the threshold set so BOTH tiers face the oracle across the
    // driver's scales: sf0.01's ~3 k edges take the driver tier,
    // sf0.1's ~30 k edges take the distributed join + depth-3
    // tree-fold loop; the unrolled-CTE oracle hash-checks whichever
    // ran (bit-equality of the tiers is PageRankSpec's pin).
    //
    // Scale shape: extraction is the in-row q222 pass; the edge
    // aggregation is ONE map-side-combinable (src, dst) count; each
    // rank round is one hash join + tree-fold aggs on the edge frame
    // — at a 10^10-node crawl graph the per-round lists stay bounded
    // at max(in-degree/4096, 64) by the segment tree, and no stage
    // ever holds a hub's whole in-neighborhood in one row.
    Q(
      "q223_link_pagerank",
      (s, dir) => {
        val links = withOutlinks(table(s, dir, "documents"))
        val edges = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c"))
        graft.ops.PageRank.run(edges, rounds = 5)
          .select(col("w").as("url"), col("pr"))
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM links2 WHERE kind <> 'skip' AND nofollow = 0
          GROUP BY 1, 2),
        ${graft.ops.PageRank.sqlCtes(5)}
        SELECT w AS url, pr FROM r5""")),

    // --------------------------------------------------------------- q224
    // ANCHOR-TEXT AGGREGATION — the target-side relevance signal
    // (how the web describes a page beats how the page describes
    // itself; search stacks index it beside BM25 since McBryan 1994):
    // per canonical target, the link count, distinct linking
    // documents and hosts, the nofollow count (counted HERE, excluded
    // from q223 — the audit sees what the ranker ignores), and the
    // distinct anchor texts sorted and joined — deterministic, both
    // engines agg over the identical binary string order.
    //
    // Scale shape: the in-row q222 pass, then ONE hash aggregation
    // keyed by dst_url. Distinct-counts are per-target (bounded by
    // in-degree); anchor vocabulary per target is tiny — at crawl
    // scale this is the standard links→anchors reduce, map-side
    // combinable throughout.
    Q(
      "q224_anchor_agg",
      (s, dir) => {
        withOutlinks(table(s, dir, "documents"))
          .filter(col("kind") =!= "skip")
          .groupBy(col("dst_url"))
          .agg(
            count(lit(1)).cast("long").as("n_links"),
            countDistinct(col("doc_id")).cast("long").as("n_docs"),
            countDistinct(
              expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
              .cast("long").as("n_src_hosts"),
            sum(col("nofollow")).cast("long").as("n_nofollow"),
            expr("array_join(array_sort(collect_set(anchor)), ' | ')")
              .as("anchors"))
      },
      Some(s"""
        WITH $outlinkSqlCtes
        SELECT dst_url,
          CAST(count(*) AS BIGINT) AS n_links,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT regexp_extract(src_url, '^https?://([^/]+)', 1)) AS BIGINT) AS n_src_hosts,
          CAST(sum(nofollow) AS BIGINT) AS n_nofollow,
          array_to_string(list_sort(list(DISTINCT anchor)), ' | ') AS anchors
        FROM links2 WHERE kind <> 'skip'
        GROUP BY dst_url""")),

    // --------------------------------------------------------------- q225
    // SITEMAP ROUND-TRIP (sitemaps.org protocol 0.9) — discovery's
    // other source beside links: each domain's pages serialize into
    // url-ordered sitemap SHARDS (5 entries per shard here, standing
    // in for the protocol's 50 k cap — the sharding arithmetic is the
    // point), `&` escaped per the protocol's XML entity rules, with
    // per-page <lastmod>/<priority> derived deterministically; the
    // parser then recovers (url, lastmod, priority) per shard
    // position from the XML alone. Oracle discipline: q211's — the
    // parse is hash-checked against DuckDB computing the EXPECTED
    // output straight from documents, so a match proves build + shard
    // + escape + parse exactly invert.
    //
    // Scale shape: one window rank per domain (url order), one
    // ordered-fold concat per (domain, shard) — shard XML is
    // ≤5-entry-bounded (50 k-bounded in production, the protocol's
    // own cap), then an in-row parse. At crawl scale this is the
    // standard per-host sitemap publish/ingest pair; nothing
    // corpus-sized ever sits in one row.
    Q(
      "q225_sitemap_roundtrip",
      (s, dir) => {
        val pages = table(s, dir, "documents")
          .withColumn("url", expr(Mining.UrlSynthSql))
          .select(col("doc_id"), col("url"),
            expr("regexp_extract(url, '^https?://([^/]+)/', 1)").as("domain"))
          .withColumn("entry", expr(
            "concat('<url><loc>', replace(url, '&', '&amp;'), '</loc>'," +
              " '<lastmod>2020-', lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0')," +
              " '-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'), '</lastmod>'," +
              " '<priority>0.', 1 + doc_id % 9, '</priority></url>')"))
          .withColumn("rn",
            row_number().over(Window.partitionBy(col("domain")).orderBy(col("url"))))
          .withColumn("shard", expr("CAST((rn - 1) div 5 AS BIGINT)"))
        val shards = pages.groupBy(col("domain"), col("shard"))
          .agg(expr(
            "concat('<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset>'," +
              " array_join(transform(sort_array(collect_list(struct(url, entry)))," +
              " x -> x.entry), ''), '</urlset>')").as("xml"))
        shards
          .withColumn("elems",
            expr("regexp_extract_all(xml, '<url>.*?</url>', 0)"))
          .select(col("domain"), col("shard"),
            explode(expr("sequence(1, size(elems))")).as("ipos"), col("elems"))
          .withColumn("elem", expr("element_at(elems, ipos)"))
          .select(col("domain"), col("shard"),
            col("ipos").cast("long").as("sm_pos"),
            expr("replace(regexp_extract(elem, '<loc>([^<]*)</loc>', 1), '&amp;', '&')")
              .as("url"),
            expr("regexp_extract(elem, '<lastmod>([^<]*)</lastmod>', 1)")
              .as("lastmod"),
            expr("CAST(regexp_extract(elem, '<priority>([^<]*)</priority>', 1) AS DOUBLE)")
              .as("priority"))
      },
      Some(s"""
        WITH p AS (
          SELECT doc_id, ${Mining.UrlSynthSql} AS url FROM documents),
        d AS (
          SELECT doc_id, url,
            regexp_extract(url, '^https?://([^/]+)/', 1) AS domain
          FROM p),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY domain ORDER BY url) AS rn
          FROM d)
        SELECT domain,
          CAST((rn - 1) // 5 AS BIGINT) AS shard,
          CAST((rn - 1) % 5 + 1 AS BIGINT) AS sm_pos,
          url,
          concat('2020-', lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0'), '-',
                 lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')) AS lastmod,
          CAST(concat('0.', 1 + doc_id % 9) AS DOUBLE) AS priority
        FROM r""")),

    // --------------------------------------------------------------- q226
    // HOST CRAWL-BUDGET APPORTIONMENT — where the rank signal meets
    // the politeness constraint: q219 packs fetches into per-host
    // cycles but treats every host as equally deserving; a real
    // crawler divides its global fetch budget by host IMPORTANCE.
    // This allocates 1000 fetch slots over hosts by q223's PageRank
    // mass using Hamilton's largest-remainder method (the apportionment
    // scheme whose floor+remainder arithmetic is integer-exact):
    // per-page ranks quantize to BIGINT once (floor(pr·1e12) — one
    // IEEE multiply then floor of a hash-matched double, so both
    // engines quantize identically), host mass is an order-free exact
    // integer sum, base = ⌊B·mass/total⌋, and the leftover slots go
    // to the largest remainders (host asc breaks ties). Σ budget = B
    // exactly — CrawlSpec's pin.
    //
    // Scale shape: host mass is ONE map-side-combinable agg over the
    // rank frame; the apportionment runs on the HOST frame (millions
    // of rows at crawl scale, not billions), with the global
    // remainder rank through ops.GlobalRank's two-phase prefix-sum —
    // never a single-partition window (the q54 packing discipline).
    Q(
      "q226_host_budget",
      (s, dir) => {
        val links = withOutlinks(table(s, dir, "documents"))
        val edges = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c"))
        val pr = graft.ops.PageRank.run(edges, rounds = 5)
        val hostMass = pr
          .withColumn("host", expr("regexp_extract(w, '^https?://([^/]+)', 1)"))
          .withColumn("q", expr("CAST(floor(pr * 1e12) AS BIGINT)"))
          .groupBy(col("host"))
          .agg(count(lit(1)).cast("long").as("n_pages"),
            sum(col("q")).cast("long").as("mass"))
        val total = hostMass.agg(sum(col("mass")).cast("long").as("total"))
        val alloc = hostMass.crossJoin(broadcast(total))
          .withColumn("base", expr("CAST((1000 * mass) div total AS BIGINT)"))
          .withColumn("rem", expr("CAST((1000 * mass) % total AS BIGINT)"))
        val leftover = alloc
          .agg((lit(1000L) - sum(col("base"))).cast("long").as("leftover"))
        graft.ops.GlobalRank
          .withRank(alloc, Seq(col("rem").desc, col("host").asc), "rnk", 8)
          .crossJoin(broadcast(leftover))
          .select(col("host"), col("n_pages"), col("mass"), col("base"),
            expr("CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)")
              .as("budget"))
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM links2 WHERE kind <> 'skip' AND nofollow = 0
          GROUP BY 1, 2),
        ${graft.ops.PageRank.sqlCtes(5)},
        h AS (
          SELECT regexp_extract(w, '^https?://([^/]+)', 1) AS host,
            CAST(count(*) AS BIGINT) AS n_pages,
            CAST(sum(CAST(floor(pr * 1e12) AS BIGINT)) AS BIGINT) AS mass
          FROM r5 GROUP BY 1),
        t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM h),
        a AS (
          SELECT h.*, CAST((1000 * mass) // total AS BIGINT) AS base,
            CAST((1000 * mass) % total AS BIGINT) AS rem
          FROM h CROSS JOIN t),
        lo AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM a),
        rk AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rnk FROM a)
        SELECT host, n_pages, mass, base,
          CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS budget
        FROM rk CROSS JOIN lo""")),

    // --------------------------------------------------------------- q227
    // HITS HUBS & AUTHORITIES (Kleinberg 1999) — the link graph's
    // second centrality, orthogonal to PageRank's: a page is a good
    // AUTHORITY when good hubs link to it, a good HUB when it links
    // to good authorities — the signal pair a crawler uses to
    // distinguish content pages worth fetching (authorities) from
    // directory/listing pages worth re-crawling for discovery (hubs).
    // 3 fixed L1-normalized rounds over the q222 edges (nofollow
    // excluded) through ops.Hits — every in-sum, out-sum, and norm
    // total folds through the fixed depth-3 md5-segment tree and the
    // per-node normalization is ONE IEEE division, so the unrolled
    // DuckDB oracle evaluates the identical association grouping and
    // the doubles hash-match bit-for-bit.
    //
    // Scale shape: per round TWO edge-frame joins + tree-fold aggs
    // (the q96/q223 machinery, auth and hub directions) and two
    // norm scalars — a 10⁸-degree node's reduction spreads over 4096
    // shuffle keys; nothing corpus-sized, nothing single-row.
    Q(
      "q227_link_hits",
      (s, dir) => {
        val links = withOutlinks(table(s, dir, "documents"))
        val edges = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c"))
        graft.ops.Hits.run(edges, rounds = 3)
          .select(col("w").as("url"), col("auth"), col("hub"))
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM links2 WHERE kind <> 'skip' AND nofollow = 0
          GROUP BY 1, 2),
        ${graft.ops.Hits.sqlCtes(3)}
        SELECT w AS url, auth, hub FROM hits3""")),

    // --------------------------------------------------------------- q228
    // TRUSTRANK (Gyöngyi, Garcia-Molina & Pedersen 2004) — the
    // spam-demotion signal an LLM-scale crawl curates by: PageRank
    // personalized on a trusted seed set (here: article pages on
    // non-blocklisted hosts — an in-row, engine-portable predicate),
    // teleport AND dangling mass redistributing over the seeds
    // instead of uniformly, walk started FROM the seed distribution.
    // The property that matters: a page unreachable from any seed
    // carries EXACTLY zero trust (uniform PageRank hands every node a
    // (1−d)/n floor — q223 gives the mirror and casino pages positive
    // rank; q228 withholds it), so trust vs rank divergence IS the
    // spam mass. Same fixed-round segment-tree determinism as q223;
    // the unrolled oracle evaluates the identical op tree.
    //
    // Scale shape: identical to q223 — per round one hash join +
    // depth-3 tree folds on the edge frame; the seed predicate and
    // t-vector are in-row over the node frame.
    Q(
      "q228_trustrank",
      (s, dir) => {
        val links = withOutlinks(table(s, dir, "documents"))
        val edges = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c"))
        graft.ops.PageRank.runBiased(edges, rounds = 5, seedCond = TrustSeedCond)
          .select(col("w").as("url"), col("trust"), col("is_seed"))
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM links2 WHERE kind <> 'skip' AND nofollow = 0
          GROUP BY 1, 2),
        ${graft.ops.PageRank.biasedSqlCtes(5, TrustSeedCond)}
        SELECT w AS url, trust, is_seed FROM trust5""")),

    // --------------------------------------------------------------- q238
    // HOST GRAPH — the web graph at the granularity operations happen
    // at: per (src_host, dst_host) pair, link multiplicity, distinct
    // linking pages, the nofollow share, and the internal flag
    // (same-host navigation vs true inter-site endorsement). The host
    // graph is the standard reduction every crawl stack maintains —
    // billions of page edges collapse to millions of host edges, the
    // input for politeness (q226), spam analysis (q228), and the
    // community detection q239 runs on top.
    //
    // Scale shape: the in-row q222 pass, host extraction in-row, then
    // ONE (src_host, dst_host) hash agg — map-side combinable, output
    // hosts²-bounded but in practice linear in hosts (the web's host
    // graph is sparse).
    Q(
      "q238_host_graph",
      (s, dir) => {
        withOutlinks(table(s, dir, "documents"))
          .filter(col("kind") =!= "skip")
          .withColumn("src_host",
            expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
          .withColumn("dst_host",
            expr("regexp_extract(dst_url, '^https?://([^/]+)', 1)"))
          .groupBy(col("src_host"), col("dst_host"))
          .agg(
            count(lit(1)).cast("long").as("n_links"),
            countDistinct(col("doc_id")).cast("long").as("n_pages"),
            sum(col("nofollow")).cast("long").as("n_nofollow"))
          .withColumn("is_internal",
            expr("CAST(src_host = dst_host AS BIGINT)"))
      },
      Some(s"""
        WITH $outlinkSqlCtes
        SELECT regexp_extract(src_url, '^https?://([^/]+)', 1) AS src_host,
          regexp_extract(dst_url, '^https?://([^/]+)', 1) AS dst_host,
          CAST(count(*) AS BIGINT) AS n_links,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
          CAST(sum(nofollow) AS BIGINT) AS n_nofollow,
          CAST(CASE WHEN regexp_extract(src_url, '^https?://([^/]+)', 1) =
                         regexp_extract(dst_url, '^https?://([^/]+)', 1)
               THEN 1 ELSE 0 END AS BIGINT) AS is_internal
        FROM links2 WHERE kind <> 'skip'
        GROUP BY 1, 2""")),

    // --------------------------------------------------------------- q239
    // HOST COMMUNITIES via label propagation (Raghavan et al. 2007,
    // `ops.LabelProp`) — community detection over the q238 host graph
    // (external, followed edges only; weight = link multiplicity):
    // mirror rings, syndication networks, and link farms surface as
    // label-coherent clusters without any seed list — the unsupervised
    // counterpart to q228's seeded TrustRank. Fully deterministic and
    // float-free: 3 synchronized rounds, most-edge-weight label wins,
    // weight ties break to the smallest label string; Spark's
    // min(struct(-w, label)) argmax and the oracle's independent
    // ROW_NUMBER evaluate the same total order (the q214 discipline).
    //
    // Scale shape: per round ONE hash join + two map-side-combinable
    // aggs on the HOST frame (millions of rows at web scale) — the
    // q223 per-round shape one granularity up.
    Q(
      "q239_host_communities",
      (s, dir) => {
        val hedges = withOutlinks(table(s, dir, "documents"))
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .withColumn("a", expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
          .withColumn("b", expr("regexp_extract(dst_url, '^https?://([^/]+)', 1)"))
          .filter(col("a") =!= col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).cast("long").as("w"))
        graft.ops.LabelProp.run(hedges, rounds = 3)
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        hedges AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
            SELECT regexp_extract(src_url, '^https?://([^/]+)', 1) AS a,
              regexp_extract(dst_url, '^https?://([^/]+)', 1) AS b
            FROM links2 WHERE kind <> 'skip' AND nofollow = 0) x
          WHERE a <> b
          GROUP BY 1, 2),
        ${graft.ops.LabelProp.sqlCtes(3)}
        SELECT host, community FROM lpafin""")),

    // --------------------------------------------------------------- q240
    // HOST TRUST AUDIT with community context — the link-farm readout
    // the whole graph arc builds toward: per host, q223 PageRank mass
    // vs q228 TrustRank mass as an exact integer percent over the
    // already-hash-matched floor(·1e12) quantizations (the q226
    // discipline; no new float surface), plus the host's q239
    // community label. A legitimate host's rank is backed by trust
    // (reachable from the seed set); a spam host's rank is
    // self-referential — rank mass with near-zero trust — so
    // `trust_pct = trust·100 // rank ≤ 5` flags it (the corpus's
    // whole-site mirror lands at exactly 0: every one of its pages is
    // seed-unreachable). The granularity is deliberate: HOST-level
    // flags with the community as CONTEXT — rolling the flag up to
    // communities first would launder a farm through whatever clean
    // community its outlinks attach it to (measured on this corpus:
    // the mirror's rank mass vanishes inside the cdn community), so
    // the audit flags hosts and lets the analyst group by the
    // community column to see farm clusters.
    //
    // Scale shape: the two rank loops and LPA are the q223/q228/q239
    // machinery; the audit adds one in-row host extraction and ONE
    // page→host hash agg joined to the hosts-sized community frame.
    Q(
      "q240_host_trust_audit",
      (s, dir) => {
        // ONE extraction pass for the three graph builds (PageRank
        // edges twice — run + runBiased each materialize their own
        // copy — plus the host edges): checkpointed once instead of
        // re-running the outlink scan three times (optimization round
        // 15)
        val links = Checkpoints.local(withOutlinks(table(s, dir, "documents")))
        // the page-edge aggregation feeds run AND runBiased — snapshot
        // it once so the 4 M-link groupBy runs once, not once per loop
        // (optimization round 16; each loop re-snapshots the cached
        // blocks, which is a copy, not a recompute)
        val edges = Checkpoints.local(links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
          .agg(count(lit(1)).cast("long").as("c")))
        val hedges = links
          .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
          .withColumn("a", expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
          .withColumn("b", expr("regexp_extract(dst_url, '^https?://([^/]+)', 1)"))
          .filter(col("a") =!= col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).cast("long").as("w"))
        // the three graph loops are INDEPENDENT eager iterations whose
        // per-round stages are tiny relative to the cluster — run them
        // as concurrent jobs so each loop's stage tail back-fills the
        // others' idle slots (guide §2.6; optimization round 15). Each
        // loop's internal computation is untouched, so the doubles are
        // the same bits as the sequential order.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val prF = Future(
          graft.ops.PageRank.run(edges, rounds = 5))
        val trF = Future(
          graft.ops.PageRank.runBiased(edges, rounds = 5, seedCond = TrustSeedCond))
        val commF = Future(graft.ops.LabelProp.run(hedges, rounds = 3))
        val pr = Await.result(prF, Duration.Inf)
        val tr = Await.result(trF, Duration.Inf)
        val comm = Await.result(commF, Duration.Inf)
        // the loops ran on pool threads, outside this thread's scope:
        // adopt their result checkpoints into it
        Seq(pr, tr, comm).foreach(Checkpoints.own(_))
        // every consumer of the extraction frame and the shared edge
        // snapshot is eager (the three loops just completed), so both
        // release HERE instead of leaning on the ContextCleaner — the
        // round-15 verdict's leaked-links fix (the loops' own result
        // checkpoints are self-contained)
        Seq(links, edges).foreach(Checkpoints.release)
        val hostMass = pr
          .join(tr.select(col("w"), col("trust")), Seq("w"))
          .withColumn("host", expr("regexp_extract(w, '^https?://([^/]+)', 1)"))
          .groupBy(col("host"))
          .agg(
            count(lit(1)).cast("long").as("n_pages"),
            sum(expr("CAST(floor(pr * 1e12) AS BIGINT)")).cast("long")
              .as("rank_mass"),
            sum(expr("CAST(floor(trust * 1e12) AS BIGINT)")).cast("long")
              .as("trust_mass"))
        hostMass
          .join(comm, Seq("host"), "left")
          .select(col("host"),
            coalesce(col("community"), col("host")).as("community"),
            col("n_pages"), col("rank_mass"), col("trust_mass"),
            expr("CAST(trust_mass * 100 div greatest(rank_mass, 1) AS BIGINT)")
              .as("trust_pct"),
            expr("CAST(CASE WHEN trust_mass * 100 div greatest(rank_mass, 1)" +
              " <= 5 THEN 1 ELSE 0 END AS BIGINT)").as("is_suspect"))
      },
      Some(s"""
        WITH $outlinkSqlCtes,
        edges AS (
          SELECT src_url AS w1, dst_url AS w2, CAST(count(*) AS BIGINT) AS c
          FROM links2 WHERE kind <> 'skip' AND nofollow = 0
          GROUP BY 1, 2),
        ${graft.ops.PageRank.sqlCtes(5)},
        ${graft.ops.PageRank.biasedSqlCtes(5, TrustSeedCond)},
        hm AS (
          SELECT regexp_extract(r.w, '^https?://([^/]+)', 1) AS host,
            CAST(count(*) AS BIGINT) AS n_pages,
            CAST(sum(CAST(floor(r.pr * 1e12) AS BIGINT)) AS BIGINT) AS rank_mass,
            CAST(sum(CAST(floor(t.trust * 1e12) AS BIGINT)) AS BIGINT) AS trust_mass
          FROM r5 r JOIN trust5 t ON r.w = t.w
          GROUP BY 1),
        hedges AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
            SELECT regexp_extract(src_url, '^https?://([^/]+)', 1) AS a,
              regexp_extract(dst_url, '^https?://([^/]+)', 1) AS b
            FROM links2 WHERE kind <> 'skip' AND nofollow = 0) x
          WHERE a <> b
          GROUP BY 1, 2),
        ${graft.ops.LabelProp.sqlCtes(3)}
        SELECT hm.host,
          coalesce(l.community, hm.host) AS community,
          hm.n_pages, hm.rank_mass, hm.trust_mass,
          CAST(hm.trust_mass * 100 // greatest(hm.rank_mass, 1) AS BIGINT)
            AS trust_pct,
          CAST(CASE WHEN hm.trust_mass * 100 // greatest(hm.rank_mass, 1) <= 5
               THEN 1 ELSE 0 END AS BIGINT) AS is_suspect
        FROM hm LEFT JOIN lpafin l ON hm.host = l.host"""))
  )

  /** q228's trust-seed predicate over a canonical-URL column `w` —
    * article pages on non-blocklisted hosts (the whitelist a curator
    * actually has: editorially-reviewed content sections), written
    * engine-portably (plain LIKEs; the q213 blocklist literals). ONE
    * definition spliced into BOTH the Spark iteration and the DuckDB
    * oracle. Article pages are the graph's SOURCES, so trust
    * genuinely propagates (seeding pure targets like home pages would
    * fix the walk at the seed vector — outlink-less seeds donate
    * everything straight back through the dangling term). */
  private[graft] lazy val TrustSeedCond: String =
    "w LIKE '%/articles/%'" +
      Mining.UrlBadDomains.map(d => s" AND w NOT LIKE '%$d%'").mkString
}
