package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, WebCuration}

/** Web-provenance curation queries (URL canonicalization, registered-domain
  * grouping, per-domain caps) over the deterministic dirty-URL fixture
  * [[Tables.documentsWithUrls]]. Every string rule is pinned
  * ([[operators.WebCuration]] scaladoc) so the DuckDB twins replay the
  * exact surgery — Java regex vs RE2 agreement on these patterns is part
  * of what the hash gate proves.
  */
object WebQueries {

  private def canonDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsWithUrls(s, dir)
    d.withColumn("canon_url", WebCuration.canonicalizeUrl(col("url")))
      .withColumn("host", WebCuration.hostOf(col("canon_url")))
      .withColumn("domain", WebCuration.registeredDomain(col("host")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The canonicalizer itself: dirty URL → canonical form + grouping keys.
    // Every planted mess (case, www, default ports, tracking params,
    // unsorted query, trailing slash, fragment) must come out erased, and
    // the load-bearing :8080 must survive.
    "web_url_canon" -> ((s, dir) =>
      canonDocs(s, dir)
        .select("doc_id", "url", "canon_url", "host", "domain")
        .orderBy("doc_id")),

    // Registered-domain composition report: docs, distinct subdomain
    // hosts, tokens, mean quality per domain — the crawl-mix dashboard
    // read before capping (subdomains collapse into their site here).
    "web_domain_mix" -> ((s, dir) => {
      val d = canonDocs(s, dir)
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality"))
      d.join(q, "doc_id")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          (floor(sum(floor(col("quality") * 10000.0 + 0.5).cast("long"))
            .cast("double") / count(lit(1)) + 0.5) / 10000.0)
            .as("mean_quality"))
        .orderBy("domain")
    }),

    // Canonical-URL dedup — the act the canonicalizer exists for: the same
    // page recrawled under a different spelling (host case, fragment,
    // tracking params) collapses onto one canonical key. Fixture: every
    // 25th doc gets a re-keyed alias whose URL differs only in host case +
    // fragment; exactly those pairs must merge (min-id survivor, spelling
    // count as evidence). Plain hash groupBy on the canonical key —
    // exactByKey's shape with canon_url as the content key.
    "web_url_dedup" -> ((s, dir) => {
      val base = Tables.documentsWithUrls(s, dir)
      // alias ids use the 10_000_000 re-key stride (the GenSf re-key convention)
      // so they can never collide with genuine doc_ids on a larger fixture
      val ali = base.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("url", concat(
          replace(col("url"), lit(".Example."), lit(".EXAMPLE.")),
          lit("#Alias")))
      base.unionByName(ali)
        .withColumn("canon_url", WebCuration.canonicalizeUrl(col("url")))
        .groupBy("canon_url")
        .agg(min("doc_id").as("doc_id"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("url")).as("n_spellings"))
        .select("doc_id", "canon_url", "n_copies", "n_spellings")
        .orderBy("doc_id")
    }),

    // Host-graph PageRank — the crawl-frontier quality prior (Common
    // Crawl ranks hosts by link centrality; a pretraining pipeline uses
    // that rank as a source-quality signal). Deterministic link fixture:
    // doc d links to docs (31d+7) mod N and (17d+3) mod N; links lift to
    // the canonical host level (self-host links dropped), then 3 damped
    // PageRank iterations on the 1e-9 integer grid — textrankKeywords'
    // exact spelling with ONE corpus-level graph instead of per-document
    // graphs. The graph is host-sized (≈ sites, not docs): at 100 TB the
    // edge build is one linear pass + a keyed agg, and the iterations run
    // on a metadata-sized table.
    "web_pagerank" -> ((s, dir) => {
      val scope = graft.CacheScope.global
      val hosts = canonDocs(s, dir).select("doc_id", "host")
      val n = hosts.count()
      val lk = hosts.select(col("host").as("src_host"),
          ((col("doc_id") * 31 + 7) % n).as("tid"))
        .unionByName(hosts.select(col("host").as("src_host"),
          ((col("doc_id") * 17 + 3) % n).as("tid")))
      val links = lk.join(hosts.select(col("doc_id").as("tid"),
          col("host").as("dst_host")), "tid")
        .filter(col("src_host") =!= col("dst_host"))
      // persist: pageRank re-joins the edge table every iteration
      val e = scope.persist(links
        .groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
        .agg(count(lit(1)).as("wt")))
      WebCuration.pageRank(e, iters = 3, damping = 0.85)
        .select(col("node").as("host"),
          (floor(col("rq").cast("double") / 100000.0 + 0.5) / 10000.0)
            .as("rank_4dp"))
        .orderBy("host")
    }),

    // Broadcast-PSL registered domain (the production form the LITE rule's
    // scaladoc promises): longest-matching suffix from a pinned
    // public-suffix fixture via a broadcast join over DISTINCT hosts.
    // Planted multi-level-suffix hosts (u<id>.blogspot.com, p<id>.github.io)
    // are exactly where PSL and LITE answers diverge — the `diverges`
    // column proves the join path computes something the regex rule can't.
    "web_domain_psl" -> ((s, dir) => {
      import s.implicits._
      val base = canonDocs(s, dir).select("host")
      val planted = Tables.documentsWithUrls(s, dir)
        .filter(col("doc_id") % 8 < 2).select("doc_id")
        .withColumn("host",
          when(col("doc_id") % 8 === 0,
            concat(lit("u"), col("doc_id").cast("string"), lit(".blogspot.com")))
          .otherwise(concat(lit("p"), col("doc_id").cast("string"), lit(".github.io"))))
        .select("host")
      val hosts = base.unionByName(planted).distinct()
      val psl = WebCuration.publicSuffixes.toDF("suffix")
      WebCuration.registeredDomainPsl(hosts, "host", psl, "domain_psl")
        .withColumn("domain_lite", WebCuration.registeredDomain(col("host")))
        .withColumn("diverges",
          (col("domain_psl") =!= col("domain_lite")).cast("int"))
        .select("host", "domain_psl", "domain_lite", "diverges")
        .orderBy("host")
    }),

    // RefinedWeb-style per-domain cap: each registered domain contributes
    // at most its 50 best-quality documents (doc_id tie-break) — the
    // volume guard against template farms. WindowGroupLimit keeps ≤ 50
    // rows/domain/partition through the shuffle.
    "web_domain_cap" -> ((s, dir) => {
      val d = canonDocs(s, dir)
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality"))
      WebCuration.capPerGroup(
          d.join(q, "doc_id").select("domain", "doc_id", "quality"),
          "domain", col("quality"), "doc_id", 50)
        .orderBy("domain", "doc_id")
    }),

    // HTML → text extraction: the documents render into deterministic
    // HTML pages (fixture law with comment/script/entity bait) and the
    // extractor recovers clean text blocks — every block of every doc
    // under the hash, proving tag stripping, script/comment/head removal,
    // block segmentation, entity decode and whitespace collapse together.
    "web_html_extract" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      WebCuration.htmlExtract(
          d.select(col("doc_id"),
            WebCuration.htmlFromLaw(col("doc_id"), col("text")).as("html")))
        .orderBy("doc_id", "block_no")
    }))

  /** The dirty-URL fixture law as a CTE — must mirror
    * [[Tables.documentsWithUrls]] spelling for spelling.
    */
  // NOTE (all three web CTE vals): SQL continuation lines must never START
  // with `||` — these strings pass through stripMargin again when embedded
  // in the oracle entries, and a line-leading `|` is a margin to strip.
  private[graft] val urlsCte: String =
    """urls AS (
      |  SELECT doc_id, lang, source, text,
      |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS'
      |          WHEN doc_id % 4 = 1 THEN 'http' ELSE 'https' END) ||
      |    '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |    source || '-' || CAST(doc_id % 13 AS VARCHAR) || '.Example.' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN 'CO.UK'
      |          WHEN doc_id % 5 = 1 THEN 'ORG' ELSE 'com' END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN
      |            (CASE WHEN doc_id % 4 = 1 THEN ':80' ELSE ':443' END)
      |          WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
      |    '/Docs/' || lang || '/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 9 = 0 THEN ''
      |          ELSE '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
      |               '&b=2&utm_campaign=Spring&a=1' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#Sec2' ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  /** Canonicalization surgery replay over any table carrying
    * (doc_id, text, url), ending in canon(doc_id, text, url, canon_url,
    * host, domain) — the twin of
    * [[operators.WebCuration.canonicalizeUrl]] + `hostOf` +
    * `registeredDomain`, step names c1..c5.
    */
  private[graft] def canonChainFrom(table: String): String =
    s"""c1 AS (SELECT *, regexp_replace(url, '#.*$$', '') AS nofrag FROM $table),
      |c2 AS (SELECT *, regexp_extract(nofrag, '\\?(.*)$$', 1) AS qstr,
      |              regexp_replace(nofrag, '\\?.*$$', '') AS base FROM c1),
      |c3 AS (SELECT *,
      |  lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS afterp FROM c2),
      |c4 AS (SELECT *, lower(regexp_extract(afterp, '^([^/]*)', 1)) AS hostport,
      |              regexp_replace(afterp, '^[^/]*', '') AS rawpath FROM c3),
      |c5 AS (SELECT *,
      |  regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''),
      |    '^www\\.', '') AS host,
      |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
      |  regexp_replace(rawpath, '/+$$', '') AS path,
      |  array_to_string(list_sort(list_filter(string_split(qstr, '&'),
      |    p -> p <> '' AND NOT regexp_matches(p,
      |      '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&') AS q2
      |  FROM c4),
      |canon AS (SELECT doc_id, text, url,
      |  scheme || '://' || host ||
      |  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |        AND NOT (scheme = 'https' AND port = '443')
      |   THEN ':' || port ELSE '' END) ||
      |  path ||
      |  (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canon_url,
      |  host,
      |  (CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = '' THEN host
      |        WHEN regexp_matches(regexp_extract(host, '([^.]+\\.[^.]+)$$', 1),
      |               '^(co\\.uk|com\\.au|co\\.jp|com\\.br|co\\.in)$$')
      |             AND regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
      |        THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
      |        ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END) AS domain
      |  FROM c5)""".stripMargin

  private[graft] val canonCtes: String =
    s"$urlsCte,\n${canonChainFrom("urls")}"

  // Per-doc 4-dp quality (the text_quality twin's composite line).
  private val qualityCte: String =
    """q AS (
      |  SELECT doc_id,
      |    FLOOR((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
      |      + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 0.3
      |      + LEAST(CAST(len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 5.0, 1.0) * 0.3)
      |      * 10000.0 + 0.5) / 10000.0 AS quality
      |  FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "web_url_canon" ->
      s"""WITH $canonCtes
        |SELECT doc_id, url, canon_url, host, domain FROM canon
        |ORDER BY doc_id""".stripMargin,

    "web_url_dedup" ->
      s"""WITH $urlsCte,
        |ali AS (
        |  SELECT doc_id + 10000000 AS doc_id, lang, source, text,
        |    replace(url, '.Example.', '.EXAMPLE.') || '#Alias' AS url
        |  FROM urls WHERE doc_id % 25 = 0),
        |urls2 AS (SELECT * FROM urls UNION ALL SELECT * FROM ali),
        |${canonChainFrom("urls2")}
        |SELECT MIN(doc_id) AS doc_id, canon_url, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT url) AS n_spellings
        |FROM canon GROUP BY canon_url
        |ORDER BY doc_id""".stripMargin,

    "web_domain_mix" ->
      s"""WITH $canonCtes,
        |$qualityCte
        |SELECT domain, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT host) AS n_hosts,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  FLOOR(CAST(SUM(CAST(FLOOR(quality * 10000.0 + 0.5) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) + 0.5) / 10000.0 AS mean_quality
        |FROM canon JOIN q USING (doc_id)
        |GROUP BY domain ORDER BY domain""".stripMargin,

    "web_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"""$out AS (
          |  SELECT ew.dst_host AS host,
          |    CAST(150000000 + FLOOR(0.85 * CAST(SUM(CAST(FLOOR(
          |      CAST(r.rq AS DOUBLE) * ew.wt / ew.deg + 0.5) AS BIGINT))
          |      AS DOUBLE) + 0.5) AS BIGINT) AS rq
          |  FROM ew JOIN $prev r ON r.host = ew.src_host
          |  GROUP BY ew.dst_host)""".stripMargin
      s"""WITH $canonCtes,
        |hosts AS (SELECT doc_id, host FROM canon),
        |nn AS (SELECT COUNT(*) AS n FROM hosts),
        |lk AS (
        |  SELECT h.host AS src_host, (h.doc_id * 31 + 7) % nn.n AS tid
        |  FROM hosts h, nn
        |  UNION ALL
        |  SELECT h.host AS src_host, (h.doc_id * 17 + 3) % nn.n AS tid
        |  FROM hosts h, nn),
        |links AS (
        |  SELECT l.src_host, t.host AS dst_host
        |  FROM lk l JOIN hosts t ON t.doc_id = l.tid
        |  WHERE l.src_host <> t.host),
        |e AS (SELECT src_host, dst_host, COUNT(*) AS wt
        |      FROM links GROUP BY src_host, dst_host),
        |deg AS (SELECT src_host, SUM(wt) AS deg FROM e GROUP BY src_host),
        |ew AS (SELECT e.src_host, e.dst_host, e.wt, deg.deg
        |       FROM e JOIN deg USING (src_host)),
        |r0 AS (SELECT DISTINCT src_host AS host,
        |       CAST(1000000000 AS BIGINT) AS rq FROM ew),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")}
        |SELECT host,
        |  FLOOR(CAST(rq AS DOUBLE) / 100000.0 + 0.5) / 10000.0 AS rank_4dp
        |FROM r3 ORDER BY host""".stripMargin
    },

    "web_domain_psl" -> {
      val pslValues = WebCuration.publicSuffixes
        .map(s => s"('$s')").mkString(", ")
      def lite(h: String): String =
        s"""(CASE WHEN regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) = '' THEN $h
          |        WHEN regexp_matches(regexp_extract($h, '([^.]+\\.[^.]+)$$', 1),
          |               '^(co\\.uk|com\\.au|co\\.jp|com\\.br|co\\.in)$$')
          |             AND regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
          |        THEN regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
          |        ELSE regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) END)""".stripMargin
      s"""WITH $canonCtes,
        |hset AS (
        |  SELECT DISTINCT host FROM (
        |    SELECT host FROM canon
        |    UNION ALL
        |    SELECT CASE WHEN doc_id % 8 = 0
        |        THEN 'u' || CAST(doc_id AS VARCHAR) || '.blogspot.com'
        |        ELSE 'p' || CAST(doc_id AS VARCHAR) || '.github.io' END AS host
        |    FROM documents WHERE doc_id % 8 < 2)),
        |psl AS (SELECT * FROM (VALUES $pslValues) t(suffix)),
        |tails AS (
        |  SELECT host, unnest(list_transform(range(1, len(labels) + 1),
        |    i -> array_to_string(labels[i:len(labels)], '.'))) AS tail
        |  FROM (SELECT host, string_split(host, '.') AS labels FROM hset)),
        |m AS (SELECT t.host, t.tail AS suffix
        |      FROM tails t JOIN psl p ON p.suffix = t.tail),
        |best AS (SELECT host, suffix FROM (
        |  SELECT host, suffix, ROW_NUMBER() OVER (
        |    PARTITION BY host ORDER BY len(suffix) DESC) AS rn FROM m)
        |  WHERE rn = 1),
        |reg AS (
        |  SELECT h.host,
        |    CASE WHEN b.suffix IS NULL THEN ${lite("h.host")}
        |         WHEN h.host = b.suffix THEN h.host
        |         ELSE regexp_extract(
        |             h.host[1:CAST(len(h.host) - len(b.suffix) - 1 AS INT)],
        |             '([^.]+)$$', 1) || '.' || b.suffix
        |    END AS domain_psl,
        |    ${lite("h.host")} AS domain_lite
        |  FROM hset h LEFT JOIN best b USING (host))
        |SELECT host, domain_psl, domain_lite,
        |  CASE WHEN domain_psl <> domain_lite THEN 1 ELSE 0 END AS diverges
        |FROM reg ORDER BY host""".stripMargin
    },

    "web_domain_cap" ->
      s"""WITH $canonCtes,
        |$qualityCte,
        |ranked AS (
        |  SELECT domain, doc_id, quality,
        |    ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY quality DESC, doc_id ASC) AS rn
        |  FROM canon JOIN q USING (doc_id))
        |SELECT domain, doc_id, quality FROM ranked WHERE rn <= 50
        |ORDER BY domain, doc_id""".stripMargin,

    // htmlFromLaw replayed literal-for-literal, then the extraction chain:
    // comment/script/style/head removal, block closers → newline, tag
    // strip, pinned entity decodes (&amp; last), split + collapse + number.
    // RE2 accepts the same inline (?s) the Java patterns use; 'g' makes
    // DuckDB replace all matches like Spark does by default.
    "web_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><title>t</title><style>body{color:red}</style>' ||
        |    '<script>if (1<2 && x>0) { track("&amp;"); }</script></head>' ||
        |    '<body><nav><a href="/">home</a> | <a href="/d?id=' ||
        |    CAST(doc_id AS VARCHAR) || '">self</a></nav>' ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN '<!-- <p>commented markup is not content</p> -->'
        |          ELSE '' END) ||
        |    '<h1>Document ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        |    text || '</p><div class="m">section ' ||
        |    CAST(doc_id % 5 AS VARCHAR) ||
        |    '</div><footer>&copy; 2026 example &amp; co &lt;archive&gt;' ||
        |    '</footer></body></html>' AS html
        |  FROM documents),
        |x0 AS (SELECT doc_id,
        |  regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS t FROM pages),
        |x1 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<script[^>]*>.*?</script>', '', 'g') AS t
        |  FROM x0),
        |x2 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<style[^>]*>.*?</style>', '', 'g') AS t
        |  FROM x1),
        |x3 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<head[^>]*>.*?</head>', '', 'g') AS t
        |  FROM x2),
        |x4 AS (SELECT doc_id, regexp_replace(t,
        |    '</(p|div|h[1-6]|li|nav|footer|section|article|ul|ol|table|tr)>|<br[^>]*>',
        |    chr(10), 'g') AS t FROM x3),
        |x5 AS (SELECT doc_id,
        |  regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM x4),
        |x6 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&copy;', '(c)'), '&amp;', '&') AS t FROM x5),
        |bl AS (
        |  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS l FROM x6)),
        |cl AS (
        |  SELECT doc_id, i,
        |    trim(regexp_replace(l[CAST(i AS INT)], '\s+', ' ', 'g'))
        |      AS block_text
        |  FROM bl)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
        |    AS block_no,
        |  block_text
        |FROM cl WHERE block_text <> ''
        |ORDER BY doc_id, block_no""".stripMargin)
}
