package graft

import graft.etl.{Cleaning, Nested, Scd, Validate}
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.RelationalQueries.revenue


/** A-series driver queries (ETL: validation, flattening, cleaning,
  * medallion composition, SCD2) with their DuckDB oracles — split from
  * SparkEntry, which documents the alias/ordering contract. */
private[graft] object EtlQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================================================================ A: ETL

    // Crawl-curation composition: blocklist the site0.com domain, then
    // Sitemap parsing (A32): one sitemap per source synthesized
    // in-plan (entries from doc ids — both engines derive identical
    // XML-free truth), parsed back to (loc, lastmod, priority) rows.
    "a32_sitemap_parse" -> ((s, dir) => {
      val entry = concat(
        lit("<url><loc>https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".com/page"), col("doc_id").cast("string"),
        lit("</loc><lastmod>2024-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod><priority>"),
        ((col("doc_id") % 10) / 10.0).cast("string"),
        lit("</priority></url>"))
      val maps = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(concat(lit("<urlset>"),
          array_join(sort_array(collect_list(entry)), ""),
          lit("</urlset>")).as("xml"))
        .select(concat(lit("https://"), col("source"),
          lit(".example/sitemap.xml")).as("u"), col("xml"))
      graft.sources.Sitemaps.parseSitemap(maps, col("u"), col("xml"))
        .select(col("sitemap_url"), col("loc"), col("lastmod_date"),
          col("priority"))
        .orderBy("loc")
    }),

    // The crawl DISCOVERY→DISPATCH loop COMPOSED (A33): sitemap parse
    // (A32) → incremental freshness vs the A28 bookmark (newSince) →
    // robots compliance (A26) → polite per-host scheduling (A31).
    // Sitemaps synthesized from doc ids (the a32 discipline, plus
    // lastmod-less entries every 5th id to exercise the conservative
    // re-fetch path); site0.com's robots disallows everything; sites
    // 1-3 declare Crawl-delay 1-3 s, the rest default to 0.5 s.
    "a33_sitemap_refetch" -> ((s, dir) => {
      import s.implicits._
      val entry = concat(
        lit("<url><loc>https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".com/page"), col("doc_id").cast("string"), lit("</loc>"),
        // every 5th entry has unknown freshness → must re-fetch
        when(col("doc_id") % 5 === 0, lit("")).otherwise(concat(
          lit("<lastmod>2024-01-"),
          lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
          lit("</lastmod>"))),
        lit("</url>"))
      val maps = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(concat(lit("<urlset>"),
          array_join(sort_array(collect_list(entry)), ""),
          lit("</urlset>")).as("xml"))
        .select(concat(lit("https://"), col("source"),
          lit(".example/sitemap.xml")).as("u"), col("xml"))
      val entries = graft.sources.Sitemaps.parseSitemap(maps, col("u"), col("xml"))
      val fresh = graft.sources.Sitemaps.newSince(
        entries, java.sql.Date.valueOf("2024-01-14"))
      val rules = graft.sources.Robots.parseRobots(
        Seq(("site0.com", "User-agent: *\nDisallow: /")).toDF("domain", "body"),
        col("domain"), col("body"))
      val allowed = graft.sources.Robots.filterAllowed(
        fresh, col("loc"), rules, agent = "graftbot")
      val delays = graft.sources.Robots.parseCrawlDelays(
        (1 to 3).map(k => (s"site$k.com", s"User-agent: *\nCrawl-delay: $k"))
          .toDF("domain", "body"), col("domain"), col("body"))
      graft.sources.Frontier.schedule(allowed, col("loc"), delays,
          agent = "graftbot", defaultDelaySeconds = 0.5)
        .select(col("loc"), col("host"), col("seq"),
          round(col("dispatch_offset_s"), 2).as("dispatch_offset_s"))
        .orderBy("loc")
    }),

    // Polite frontier scheduling (A31): per-host FIFO slots spaced by
    // each host's parsed Crawl-delay (sites 0-3 declare 1-4 s, the
    // rest default to 0.5 s) — URLs synthesized from doc ids so both
    // engines derive identical hosts and slot orders.
    "a31_frontier_schedule" -> ((s, dir) => {
      import s.implicits._
      val urls = Tables.documents(s, dir).select(
        concat(lit("https://www.site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".com/page/"), col("doc_id").cast("string")).as("url"))
      val robots = (0 to 3).map(k => (s"www.site$k.com",
        s"User-agent: *\nCrawl-delay: ${k + 1}")).toDF("domain", "body")
      val delays = graft.sources.Robots.parseCrawlDelays(
        robots, col("domain"), col("body"))
      graft.sources.Frontier.schedule(urls, col("url"), delays,
          agent = "graftbot", defaultDelaySeconds = 0.5)
        .select(col("url"), col("host"), col("seq"),
          round(col("dispatch_offset_s"), 2).as("dispatch_offset_s"))
        .orderBy("url")
    }),

    // The full crawl-curation loop COMPOSED (A25 linkEdges → A26
    // robots filterAllowed → C23 PageRank): pages + absolute links
    // synthesized from doc ids (the a20 discipline — both engines
    // derive identical URLs), site0.com's robots disallows everything,
    // so every edge touching it is un-fetchable; rank the survivors.
    "a30_crawl_rank" -> ((s, dir) => {
      import s.implicits._
      def pageUrl(id: org.apache.spark.sql.Column) =
        concat(lit("https://site"), pmod(id, lit(7)).cast("string"),
          lit(".com/page"), id.cast("string"))
      val pages = Tables.documents(s, dir).select(
        pageUrl(col("doc_id")).as("url"),
        concat(lit("<html><body><a href=\""),
          pageUrl((col("doc_id") * 17 + 1) % 500),
          lit("\">next</a> <a href=\""),
          pageUrl((col("doc_id") * 31 + 7) % 500),
          lit("\">other</a></body></html>")).as("html"))
      val edges = graft.text.HtmlExtract.linkEdges(pages, col("url"), col("html"))
      val rules = graft.sources.Robots.parseRobots(
        Seq(("site0.com", "User-agent: *\nDisallow: /")).toDF("domain", "body"),
        col("domain"), col("body"))
      val fetchable = graft.sources.Robots.filterAllowed(
        graft.sources.Robots.filterAllowed(edges, col("dst"), rules, agent = "graftbot"),
        col("src"), rules, agent = "graftbot")
      graft.graph.PageRank.pageRank(fetchable, damping = 0.85, iters = 5)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")
    }),

    // cap every surviving domain at 20 docs via the deterministic
    // expected-k hash thinning (URLs synthesized from doc ids so the
    // oracle reproduces them byte-for-byte).
    "a20_domain_cap" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).withColumn("url",
        concat(lit("https://www.site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".com/page/"), col("doc_id").cast("string")))
      val blocked = Seq("site0.com").toDF("domain")
      val kept = graft.sources.Urls.capPerDomainExpected(
        graft.sources.Urls.filterBlockedDomains(docs, col("url"), blocked),
        col("doc_id"), col("url"), 20)
      kept.groupBy(graft.sources.Urls.registeredDomainOf(col("url")).as("domain"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("domain")
    }),

    // HTML → text extraction on a page synthesized in-plan from each
    // document (testdata carries no HTML): escaped body text plus
    // nav/script/style/comment chrome. Content-derived aggregates
    // (chars, distinct md5) pin the extraction byte-for-byte.
    "a21_html_extract" -> ((s, dir) => {
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style></head><body>" +
          "<script type=\"text/javascript\">var x = 1 < 2 && \"</p>\";</script>" +
          "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/about\">About</a></li></ul></nav><h1>"),
        col("source"), lit("</h1><p>"), esc,
        lit("</p><!-- hidden <p>markup</p> --><footer>&amp; &lt;sig&gt; &quot;2026&quot;</footer></body></html>"))
      val st = graft.text.HtmlExtract.extractionStats(html)
      Tables.documents(s, dir)
        .select(col("source"),
          graft.text.HtmlExtract.extractText(html).as("clean"),
          st.getField("n_links").as("n_links"),
          st.getField("n_scripts").as("n_scripts"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("clean")).cast("long")).as("sum_clean_chars"),
          countDistinct(md5(col("clean"))).as("n_distinct_clean"),
          sum("n_links").as("sum_links"),
          sum("n_scripts").as("sum_scripts"))
        .orderBy("source")
    }),

    // Batch CDC between two corpus snapshots synthesized in-plan from
    // documents: cur drops doc_id%17==0 ("removed"), prev drops
    // doc_id%13==0 ("added"), prev rewrites text for doc_id%7==0
    // ("changed"); everything else digests equal ("unchanged"). The
    // digest moves 32 B/row through the full-outer join, never text.
    "a23_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      val cur = docs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      graft.etl.SnapshotDiff.diff(prev, cur, "doc_id", Seq("text", "source"))
        .select(col("key").as("doc_id"), col("change"))
        .orderBy("doc_id")
    }),

    "a1_validate" -> ((s, dir) => {
      val rules = Seq(
        Validate.Rule("missing_custkey", col("o_custkey").isNotNull),
        Validate.Rule("nonpositive_price", col("o_totalprice").isNotNull && col("o_totalprice") > 0),
        Validate.Rule("bad_status", col("o_orderstatus").isin("O", "F", "P")),
        Validate.Rule("price_below_floor", col("o_totalprice") >= 5000))
      Validate.withRejectReason(Tables.orders(s, dir), rules)
        .groupBy(coalesce(col("reject_reason"), lit("valid")).as("reject_reason"))
        .agg(count(lit(1)).as("n"))
        .orderBy("reject_reason")
    }),

    "a2_audit" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("source_name", lit("orders"))
        .withColumn("ingest_year", year(col("o_orderdate")).cast("long"))
        .withColumn("batch_id", concat(lit("orders_"), year(col("o_orderdate")).cast("string")))
        .groupBy("source_name", "ingest_year", "batch_id")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("first_key"), max("o_orderkey").as("last_key"))
        .orderBy("ingest_year")
    }),

    "a3_flatten_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"), round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")
    }),

    // Array-of-struct flattening — the reference's signature transform
    // (clean_transform.py:78-113). The testdata has no array-of-struct
    // column, so a nested JSON document is CONSTRUCTED deterministically
    // from scalar columns, then flattened through the real path under
    // test: from_json with a declared array<struct> schema, transform+
    // array_join (genres[].name → "a|b"), filter-then-first (crew with
    // job == "Director" → name; the Director's position alternates so the
    // filter is load-bearing), and size counts with empty-array cases.
    "a3b_flatten_nested" -> ((s, dir) => {
      // `k` is staged in its own (codegen'd) projection before anything
      // touches it: the projection that parses the assembled doc is
      // interpreted end-to-end (JsonToStructs is CodegenFallback) and
      // interpreted projections get NO common-subexpression elimination,
      // so inlining the get_json_object-derived `k` would re-run its
      // JSON scan once per reference per row — the r2 21s hot spot.
      // CollapseProject cannot undo the staging: `k` (non-cheap) is
      // referenced six times downstream.
      val staged = Tables.events(s, dir).select(
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("user_id").as("uid"))
      val k = col("k")
      val uid = col("uid")
      val g1 = concat(lit("{\"name\":\"g"), (k % 5).cast("string"), lit("\"}"))
      val g2 = concat(lit("{\"name\":\"g"), (k % 3).cast("string"), lit("\"}"))
      val genresArr = when(k % 4 === 0, lit("[]"))
        .otherwise(concat(lit("["), g1, lit(","), g2, lit("]")))
      val director = concat(lit("{\"job\":\"Director\",\"name\":\"d"), (uid % 7).cast("string"), lit("\"}"))
      val editor = concat(lit("{\"job\":\"Editor\",\"name\":\"e"), (k % 4).cast("string"), lit("\"}"))
      val crewArr = when(k % 2 === 0, concat(lit("["), editor, lit(","), director, lit("]")))
        .otherwise(concat(lit("["), director, lit(","), editor, lit("]")))
      val doc = concat(lit("{\"genres\":"), genresArr, lit(",\"crew\":"), crewArr, lit("}"))
      val ddl = "genres array<struct<name:string>>, crew array<struct<job:string,name:string>>"
      staged
        .select(k.as("k"), Nested.parseJson(doc, ddl).as("p"))
        .select(col("k"),
          Nested.joinField(col("p.genres"), "name", "|").as("genres_str"),
          Nested.fieldOfFirstWhere(col("p.crew"), c => c.getField("job") === "Director", "name").as("director"),
          Nested.countOf(col("p.genres")).as("n_genres"))
        .groupBy("genres_str", "director")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("n_genres").as("n_genres"))
        .orderBy("genres_str", "director")
    }),

    "a4_clean_numeric" -> ((s, dir) => {
      val cleaned = {
        val base = Cleaning.castColumns(Tables.lineitem(s, dir),
          Map("l_quantity" -> "double", "l_extendedprice" -> "double"))
        val np = Cleaning.nullifyNonPositive(base, Seq("l_quantity", "l_extendedprice"))
        val rng = Cleaning.nullifyWhere(np, "l_discount", col("l_discount") < 0 || col("l_discount") > 0.5)
        Cleaning.conditionalNull(rng, "l_tax", col("l_discount") === 0)
      }
      cleaned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count("l_quantity").as("n_qty"), count("l_tax").as("n_tax"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    "a5_clean_text" -> ((s, dir) => {
      Cleaning.placeholderToNull(Tables.events(s, dir), "event_type", Seq("error", "unknown", ""))
        .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type_clean"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type_clean")
    }),

    "a6_derived" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("net", revenue)
        .withColumn("ratio", when(col("l_quantity") >= 5, col("net") / col("l_quantity")))
        .withColumn("net_m", col("net") / lit(1000000.0))
        .groupBy("l_returnflag")
        .agg(round(sum("net"), 4).as("sum_net"),
          round(avg("ratio"), 4).as("avg_ratio"),
          count("ratio").as("n_ratio"),
          round(sum("net_m"), 6).as("sum_net_millions"))
        .orderBy("l_returnflag")
    }),

    "a7_dedup_key" -> ((s, dir) => {
      Cleaning.dedupKeepFirst(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 97 === 0),
          keys = Seq(col("l_orderkey")),
          order = Seq(col("l_linenumber"), col("l_partkey")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_quantity"), 4).as("qty"))
        .orderBy("l_orderkey")
    }),

    "a8_row_quality" -> ((s, dir) => {
      val staged = Tables.orders(s, dir)
        .withColumn("price_c", when(col("o_totalprice") < 20000, lit(null)).otherwise(col("o_totalprice")))
        .withColumn("prio_c", when(col("o_orderpriority") === "1-URGENT", lit(null)).otherwise(col("o_orderpriority")))
      Cleaning.minNonNull(
          Cleaning.requireNonNull(staged, Seq("o_orderkey", "o_custkey")),
          Seq("price_c", "prio_c"), 1)
        .agg(count(lit(1)).as("n_kept"), round(sum("price_c"), 4).as("sum_price"))
    }),

    "a9_project" -> ((s, dir) => {
      Cleaning.project(Tables.orders(s, dir).filter(col("o_orderkey") % 101 === 0), Seq(
          "o_orderkey" -> col("o_orderkey"),
          "total_price" -> col("o_totalprice").cast("double"),
          "status" -> col("o_orderstatus"),
          "order_year" -> year(col("o_orderdate")).cast("long")))
        .orderBy("o_orderkey")
    }),

    "a10_silver_pipeline" -> ((s, dir) => {
      val bronze = Tables.events(s, dir)
      val validated = Validate.valid(bronze, Seq(
        Validate.Rule("missing_id", col("event_id").isNotNull),
        Validate.Rule("missing_user", col("user_id").isNotNull)))
      val flattened = validated.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      val cleaned = Cleaning.placeholderToNull(
        Cleaning.nullifyNonPositive(flattened, Seq("value")),
        "event_type", Seq("error", "unknown"))
      val deduped = Cleaning.dedupKeepFirst(cleaned, Seq(col("event_id")), Seq(col("ts")))
      val silver = Cleaning.project(
        Cleaning.requireNonNull(deduped, Seq("event_type")),
        Seq("event_id" -> col("event_id"), "user_id" -> col("user_id"),
          "etype" -> col("event_type"), "value_c" -> col("value"), "k" -> col("k")))
      silver.groupBy("etype")
        .agg(count(lit(1)).as("n"), round(sum("value_c"), 4).as("sum_value"), sum("k").as("sum_k"))
        .orderBy("etype")
    }),

    // SCD2 dimension from a change log: each user's event_type history
    // becomes one row per consecutive-distinct state with a validity
    // interval (event_id breaks same-timestamp ties). Timestamps are
    // emitted as epoch micros so the oracle compares exact instants.
    "a14_scd2" -> ((s, dir) => {
      Scd.fromChangeLog(Tables.events(s, dir),
          keyCols = Seq("user_id"), attrCols = Seq("event_type"),
          tsCol = "ts", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"),
          Relational.epochMicros(col("valid_from")).as("valid_from_us"),
          Relational.epochMicros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
        .orderBy("user_id", "valid_from_us", "event_type")
    }),

    // A25 promoted: the crawl link-graph extraction end-to-end on the
    // graded surface. Each document becomes a synthetic page whose
    // anchors are a closed-form function of its id — one root-relative
    // link (resolved against the page URL), one absolute, one
    // protocol-relative (completed from the page scheme), one mailto:
    // (unresolvable → dropped) and one self-link (dropped as a
    // self-loop) — so the oracle regenerates the exact edge set from
    // the raw table while Spark must PARSE it back out of the HTML
    // through extractLinks → resolveLink → canonicalUrl.
    "a25_link_graph" -> ((s, dir) => {
      import graft.text.HtmlExtract
      val d = col("doc_id")
      val pages = Tables.documents(s, dir).select(
        d,
        concat(lit("https://site"), (d % 5).cast("string"),
          lit(".com/page/"), d.cast("string")).as("url"),
        concat(
          lit("<html><body><p>doc</p><a href=\"/doc/"),
          ((d * 7 + 13) % 1000).cast("string"),
          lit("\">first <b>link</b></a><a href=\"https://ext.org/item/"),
          ((d * 3 + 1) % 500).cast("string"),
          lit("\">ext</a><a href=\"//cdn.net/a/"),
          (d % 100).cast("string"),
          lit("\">cdn</a><a href=\"mailto:x@y.z\">mail</a><a href=\"/page/"),
          d.cast("string"),
          lit("\">self</a></body></html>")).as("html"))
      HtmlExtract.linkEdges(pages, col("url"), col("html"))
        .orderBy("src", "dst")
    }),

    // A26 promoted: robots.txt parsing + longest-match arbitration on
    // the graded surface. Five domains carry hand-built REP bodies
    // exercising the arbitration rules — allow-overrides-longer-
    // disallow (d0), a specific-agent group that wins outright over *
    // (d1), allow-wins-exact-length-ties (d2), no robots at all (d3),
    // inline comments (d4) — and the frontier URL per order lands in
    // one of four path classes. The oracle replays the REP decision
    // table closed-form per (domain, path class).
    "a26_robots_gate" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.Robots
      val bodies = Seq(
        ("d0.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
        ("d1.com", "User-agent: graftbot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"),
        ("d2.com", "# site 2\nUser-agent: *\nDisallow: /tmp\nDisallow: /private\nAllow: /private\n"),
        ("d4.com", "User-agent: *   # everyone\nDisallow: /public # keep out\n"))
        .toDF("domain", "body")
      val rules = Robots.parseRobots(bodies, col("domain"), col("body"))
      val k = col("o_orderkey")
      val urls = Tables.orders(s, dir).select(
        k.as("o_orderkey"),
        concat(lit("https://d"), (k % 5).cast("string"), lit(".com"),
          when(k % 4 === 0, concat(lit("/public/p"), k.cast("string")))
            .when(k % 4 === 1, concat(lit("/private/x"), k.cast("string")))
            .when(k % 4 === 2, concat(lit("/private/ok"), k.cast("string")))
            .otherwise(concat(lit("/tmp/t"), k.cast("string")))).as("url"))
      Robots.filterAllowed(urls, col("url"), rules, agent = "graftbot")
        .orderBy("o_orderkey")
    }),

    // A11 promoted: the .done-marker incremental Medallion discipline
    // replayed as three REAL runs over a growing Hive-partitioned
    // Bronze (the a28 bookmark pattern at partition granularity).
    // Run 1 processes the two seed partitions, run 2 only the newly
    // arrived third, run 3 nothing — and the Silver row count after
    // each run is a pure aggregate of the raw table, so the oracle
    // recomputes the whole ledger closed-form. A re-run that touched
    // an already-done partition would double rows and hash-mismatch.
    "a11_incremental_medallion" -> ((s, dir) => {
      import s.implicits._
      import graft.etl.Medallion
      val part = pmod(col("o_orderkey"), lit(3L))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_totalprice"),
        concat(lit("2024-01-0"), (part + 1).cast("string"))
          .as(Medallion.PartitionCol))
      val inRoot = graft.sources.Tmp.dir("graft-a11-in").toString
      val outRoot = graft.sources.Tmp.dir("graft-a11-out").toString
      val transform: DataFrame => DataFrame = _.filter(col("o_totalprice") > 100000)
      def silver(): Long =
        if (Medallion.listPartitions(s, outRoot).isEmpty) 0L
        else s.read.parquet(outRoot).count()
      Medallion.writePartitioned(base.filter(part < 2), inRoot)
      val r1 = Medallion.runIncremental(s, inRoot, outRoot, transform)
      val c1 = silver()
      Medallion.writePartitioned(base.filter(part === 2), inRoot)
      val r2 = Medallion.runIncremental(s, inRoot, outRoot, transform)
      val c2 = silver()
      val r3 = Medallion.runIncremental(s, inRoot, outRoot, transform)
      val c3 = silver()
      Seq((1, r1.size.toLong, r1.sorted.mkString(","), c1),
          (2, r2.size.toLong, r2.sorted.mkString(","), c2),
          (3, r3.size.toLong, r3.sorted.mkString(","), c3))
        .toDF("run", "n_parts", "processed", "silver_rows")
        .orderBy("run")
    }),

    // A27 promoted: dynamic partition overwrite as a graded three-step
    // replay — full v1 write, a day-1-only re-run with CHANGED rows
    // (doubled price: must replace day 1 and leave days 0/2/3
    // untouched), then the SAME re-run again (idempotent: second
    // overwrite changes nothing). The final per-day ledger (exact
    // decimal sums) is a pure function of the raw table; a
    // whole-root-nuking overwrite loses three days, an append-mode
    // retry doubles day 1 — both hash-mismatch. nShards=1 ⇒ each day
    // lands in exactly one file (the repartition exchange), emitted
    // as a compared boolean.
    "a27_partition_overwrite" -> ((s, dir) => {
      import graft.sources.PartitionedSink
      val day = pmod(col("o_orderkey"), lit(4L))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_totalprice"), day.as("day"))
      val root = graft.sources.Tmp.dir("graft-a27").toString
      PartitionedSink.overwritePartitions(base, root, Seq("day"))
      val patch = base.filter(col("day") === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      PartitionedSink.overwritePartitions(patch, root, Seq("day"))
      PartitionedSink.overwritePartitions(patch, root, Seq("day"))
      s.read.parquet(root)
        .withColumn("__f", input_file_name()) // staged: not legal inside agg
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"),
          // exact: the decimal sum is integer-cents < 2^53, so the
          // final double cast is lossless and schema-stable
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          (countDistinct(col("__f")) === 1).as("one_file"))
        .orderBy("day")
    }),

    // A19 promoted: canonicalization breadth on the graded surface —
    // five closed-form alias classes per doc (case-varied scheme/host
    // + default https port + trailing slash; default http port +
    // doubled slashes + tracking param + fragment + unsorted params;
    // empty path; tracking-only-dropped with the rest sorted; and an
    // unparseable string that must canonicalize to null, not kill the
    // scan). The oracle emits the expected canonical string per class
    // by the same arithmetic that built the alias.
    "a19_url_canon" -> ((s, dir) => {
      import graft.sources.Urls
      val k = col("doc_id")
      val cls = pmod(k, lit(5L))
      val h = (k % 7).cast("string")
      val id = k.cast("string")
      val raw =
        when(cls === 0, concat(lit("HTTPS://WWW.Site"), h, lit(".COM:443/Path/"), id, lit("/")))
          .when(cls === 1, concat(lit("http://site"), h, lit(".com:80//a//b/"), id,
            lit("?utm_source=x&b=2&a=1#frag")))
          .when(cls === 2, concat(lit("https://site"), h, lit(".com")))
          .when(cls === 3, concat(lit("https://site"), h, lit(".com/x?gclid="), id, lit("&z=9&y=8")))
          .otherwise(concat(lit("not a url "), id))
      Tables.documents(s, dir)
        .select(col("doc_id"), Urls.canonicalUrl(raw).as("canon"))
        .orderBy("doc_id")
    }),

    // A15 promoted: schema-evolution conformance across three REAL
    // generation shapes of one table — gen 1 narrow (int id, no
    // status), gen 2 current, gen 3 regressed (no price, an extra
    // column that must be dropped) — conformed to the target schema
    // (id widened int→long, missing columns null, extras pruned) and
    // unioned. The oracle rebuilds all three generations from the raw
    // table directly.
    "a15_schema_evolution" -> ((s, dir) => {
      import graft.etl.Evolution
      import org.apache.spark.sql.types._
      val o = Tables.orders(s, dir)
      val target = StructType(Seq(
        StructField("id", LongType), StructField("price", DoubleType),
        StructField("status", StringType)))
      val g1 = o.select(col("o_orderkey").cast("int").as("id"),
        col("o_totalprice").as("price"))
      val g2 = o.select(col("o_orderkey").as("id"),
        col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
      val g3 = o.select(col("o_orderkey").cast("int").as("id"),
        col("o_orderstatus").as("status"), lit("junk").as("extra"))
      Seq(g1, g2, g3).zipWithIndex
        .map { case (g, i) => Evolution.conform(g, target).withColumn("gen", lit(i + 1)) }
        .reduce(_ unionByName _)
        .select(col("gen"), col("id"), col("price"), col("status"))
        .orderBy("gen", "id")
    }),

    // A22 promoted: the WARC parser graded by a byte-exact in-query
    // round trip. Every document becomes a spec-framed response record
    // (version line, CRLF headers, Content-Length-bounded HTTP payload,
    // blank-line pair), ten records concatenate per blob in doc order,
    // and Warc.records + httpPayload must recover every record's URI,
    // declared length, HTTP status/content-type, and the exact body
    // bytes (md5-compared) — Content-Length-DRIVEN parsing, so bodies
    // containing CRLF pairs cannot derail framing. The oracle
    // recomputes length (45 fixed HTTP-head bytes + UTF-8 text bytes)
    // and body md5 straight from the raw table.
    "a22_warc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.Warc
      val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
      val payload = encode(
        concat(lit(httpHead), coalesce(col("text"), lit(""))), "UTF-8")
      val header = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w.com/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Type: application/http\r\nContent-Length: "),
        length(payload).cast("string"), lit("\r\n\r\n"))
      val rec = concat(encode(header, "UTF-8"), payload,
        encode(lit("\r\n\r\n"), "UTF-8"))
      val docs = Tables.documents(s, dir)
      // blob count grows with the corpus (~50 records/blob, one
      // bounded count) — a FIXED modulus caps parse parallelism at 10
      // tasks forever (measured 6.7x/decade before sizing); the
      // compared surface is uri-keyed, so the layout is free to scale
      val nBlobs = math.max(10L, docs.count() / 50)
      val blobs = docs
        .select((col("doc_id") % nBlobs).as("file_id"), col("doc_id"), rec.as("__rec"))
        .groupBy("file_id")
        .agg(aggregate(
          array_sort(collect_list(struct(col("doc_id"), col("__rec")))),
          lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x.getField("__rec"))).as("content"))
      Warc.records(s, blobs.select(col("file_id").cast("long").as("file_id"),
          col("content")))
        .map { r =>
          val p = Warc.httpPayload(r.payload)
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(p.body).map("%02x".format(_)).mkString
          (r.target_uri, r.warc_type, r.content_length, p.status,
            p.content_type, md5, r.truncated)
        }
        .toDF("uri", "warc_type", "content_length", "status", "ctype",
          "body_md5", "truncated")
        .orderBy("uri")
    }),

    // A12 promoted, NON-circularly: both engines read the orders
    // parquet's schema independently — Spark through its reader,
    // DuckDB through information_schema on its view — so the diff
    // report (missing / type-mismatch / unexpected per field) is a
    // recomputed fact about the same file, not a literal echo. The
    // declared expectation matches o_orderkey, mis-types o_custkey
    // (int vs the file's bigint — a numeric pair whose type NAMES the
    // engines agree on), and demands a column the file lacks; every
    // other physical column must surface as "unexpected".
    "a12_schema_check" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val expected = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", IntegerType),
        StructField("o_missing", StringType)))
      graft.etl.SchemaCheck.diff(Tables.orders(s, dir).schema, expected)
        .toDF()
        .select(col("field"), col("problem"))
        .orderBy("field")
    }),

  )

  val oracleSql: Map[String, String] = Map(

    // Mirrors both snapshot syntheses and the collision-safe digest
    // exactly: length-prefixed values ("<len>:<value>", NULL → 'null'),
    // unit-separator joined, md5'd.
    "a23_snapshot_diff" ->
      """WITH pv AS (SELECT doc_id,
        |  md5(concat_ws(chr(31),
        |    CASE WHEN t IS NULL THEN 'null' ELSE length(t)::VARCHAR || ':' || t END,
        |    CASE WHEN source IS NULL THEN 'null' ELSE length(source)::VARCHAR || ':' || source END)) AS d
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS t,
        |          source FROM documents WHERE doc_id % 13 <> 0)),
        |cv AS (SELECT doc_id,
        |  md5(concat_ws(chr(31),
        |    CASE WHEN text IS NULL THEN 'null' ELSE length(text)::VARCHAR || ':' || text END,
        |    CASE WHEN source IS NULL THEN 'null' ELSE length(source)::VARCHAR || ':' || source END)) AS d
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT COALESCE(pv.doc_id, cv.doc_id) AS doc_id,
        |  CASE WHEN pv.d IS NULL THEN 'added'
        |       WHEN cv.d IS NULL THEN 'removed'
        |       WHEN pv.d = cv.d THEN 'unchanged'
        |       ELSE 'changed' END AS change
        |FROM pv FULL OUTER JOIN cv ON pv.doc_id = cv.doc_id
        |ORDER BY 1""".stripMargin,

    // Mirrors the synthesized URLs, the registrable-domain heuristic's
    // result on them (siteN.com), the blocklist, and the md5-derived
    // expected-k thinning rule exactly.
    // The synthesized entries' closed form — the parse must recover
    // exactly what the ids generated.
    "a32_sitemap_parse" ->
      """SELECT 'https://' || source || '.example/sitemap.xml' AS sitemap_url,
        | 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/page' || CAST(doc_id AS VARCHAR) AS loc,
        | make_date(2024, 1, CAST(doc_id % 28 + 1 AS INT)) AS lastmod_date,
        | (doc_id % 10) / 10.0 AS priority
        |FROM documents ORDER BY loc""".stripMargin,

    // The composed loop's closed form: entries kept when lastmod-less
    // (doc_id%5==0) or strictly newer than the 2024-01-14 mark, site0
    // robots-blocked, per-host lexicographic slots, delay k for sites
    // 1-3 else 0.5 s.
    "a33_sitemap_refetch" ->
      """WITH u AS (SELECT doc_id,
        |   'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/page' || CAST(doc_id AS VARCHAR) AS loc,
        |   'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |   doc_id % 7 AS k,
        |   CASE WHEN doc_id % 5 = 0 THEN NULL
        |        ELSE make_date(2024, 1, CAST(doc_id % 28 + 1 AS INT)) END AS lm
        |  FROM documents),
        |f AS (SELECT * FROM u
        |      WHERE (lm IS NULL OR lm > DATE '2024-01-14') AND k <> 0),
        |s AS (SELECT loc, host,
        |   row_number() OVER (PARTITION BY host ORDER BY loc) - 1 AS seq,
        |   CASE WHEN k BETWEEN 1 AND 3 THEN k * 1.0 ELSE 0.5 END AS d
        |  FROM f)
        |SELECT loc, host, CAST(seq AS BIGINT) AS seq,
        | round(seq * d, 2) AS dispatch_offset_s
        |FROM s ORDER BY loc""".stripMargin,

    // Same synthesized hosts, same per-host lexicographic slots, same
    // delay arbitration closed-form (k ≤ 3 → k+1 s, else the default).
    "a31_frontier_schedule" ->
      """WITH u AS (SELECT
        |   'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR) AS url,
        |   'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |   doc_id % 7 AS k
        |  FROM documents),
        |s AS (SELECT url, host,
        |   row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS seq,
        |   CASE WHEN k <= 3 THEN (k + 1) * 1.0 ELSE 0.5 END AS d
        |  FROM u)
        |SELECT url, host, CAST(seq AS BIGINT) AS seq,
        | round(seq * d, 2) AS dispatch_offset_s
        |FROM s ORDER BY url""".stripMargin,

    // Same synthesized link graph (self-loops dropped, DISTINCT edges,
    // every site0.com endpoint un-fetchable), then c23's unrolled
    // power-iteration rounds with identical IEEE op order.
    "a30_crawl_rank" -> {
      val rounds = (1 to 5).map { i =>
        s"""dm$i AS (SELECT coalesce(sum(CASE WHEN d IS NULL THEN rank END), 0) AS m FROM r${i - 1}),
           |inc$i AS (SELECT e.dst AS v, sum(r.rank/r.d) AS s FROM r${i - 1} r JOIN e ON r.v = e.src
           |          WHERE r.d IS NOT NULL GROUP BY 1),
           |r$i AS (SELECT vd.v, vd.d,
           |        (1.0-0.85)*(1.0/nn.n) + 0.85*(coalesce(inc$i.s, 0) + dm$i.m*(1.0/nn.n)) AS rank
           |        FROM vd LEFT JOIN inc$i ON vd.v = inc$i.v, dm$i, nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH ids AS (SELECT doc_id AS x FROM documents),
         |tgt AS (SELECT x, (x*17+1) % 500 AS t FROM ids
         |        UNION ALL SELECT x, (x*31+7) % 500 AS t FROM ids),
         |e0 AS (SELECT
         |   'https://site' || CAST(x % 7 AS VARCHAR) || '.com/page' || CAST(x AS VARCHAR) AS src,
         |   'https://site' || CAST(t % 7 AS VARCHAR) || '.com/page' || CAST(t AS VARCHAR) AS dst
         |  FROM tgt),
         |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
         |      AND src NOT LIKE 'https://site0.com/%' AND dst NOT LIKE 'https://site0.com/%'),
         |v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src AS v, count(*) AS d FROM e GROUP BY 1),
         |vd AS (SELECT v.v, deg.d FROM v LEFT JOIN deg USING (v)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |r0 AS (SELECT vd.v, vd.d, 1.0/nn.n AS rank FROM vd, nn),
         |$rounds
         |SELECT v AS vertex, round(rank, 6) AS rank FROM r5 ORDER BY vertex""".stripMargin
    },

    "a20_domain_cap" ->
      """WITH u AS (SELECT doc_id, 'site' || (doc_id % 7) || '.com' AS dom FROM documents),
        |f AS (SELECT * FROM u WHERE dom <> 'site0.com'),
        |c AS (SELECT dom, count(*) AS n FROM f GROUP BY 1),
        |k AS (SELECT f.doc_id, f.dom FROM f JOIN c USING (dom)
        |  WHERE c.n <= 20 OR
        |    (CAST('0x' || substr(md5(f.doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000000) * c.n < 20 * 1000000)
        |SELECT dom AS domain, count(*) AS n_kept, min(doc_id) AS min_id
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // Mirrors page synthesis AND every extraction pass: comment strip,
    // script/style/noscript/head/template body drops, block tags →
    // newline, tag strip, single-pass entity decode (&amp; last),
    // whitespace normalization, edge trim.
    "a21_html_extract" ->
      """WITH h AS (SELECT source,
        |  '<html><head><title>t</title><style>p{color:red}</style></head><body>'
        |  || '<script type="text/javascript">var x = 1 < 2 && "</p>";</script>'
        |  || '<nav><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li></ul></nav><h1>'
        |  || source || '</h1><p>'
        |  || replace(replace(replace(text,'&','&amp;'),'<','&lt;'),'>','&gt;')
        |  || '</p><!-- hidden <p>markup</p> --><footer>&amp; &lt;sig&gt; &quot;2026&quot;</footer></body></html>' AS html
        | FROM documents),
        |x1 AS (SELECT source, html, regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS t FROM h),
        |x2 AS (SELECT source, html, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |  '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g'),
        |  '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g'),
        |  '(?is)<noscript\b[^>]*>.*?</noscript\s*>', '', 'g'),
        |  '(?is)<head\b[^>]*>.*?</head\s*>', '', 'g'),
        |  '(?is)<template\b[^>]*>.*?</template\s*>', '', 'g') AS t FROM x1),
        |x3 AS (SELECT source, html, regexp_replace(t,
        |  '(?i)</?(?:p|div|br|hr|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th|table|thead|tbody|section|article|aside|header|footer|nav|main|form|blockquote|pre|figure|figcaption)\b[^>]*/?>',
        |  chr(10), 'g') AS t FROM x2),
        |x4 AS (SELECT source, html, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM x3),
        |x5 AS (SELECT source, html, replace(replace(replace(replace(replace(replace(t,
        |  '&lt;','<'), '&gt;','>'), '&quot;','"'), '&#39;',''''), '&nbsp;',' '), '&amp;','&') AS t FROM x4),
        |x6 AS (SELECT source, html, regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |  '[ \t\r]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
        |  '^\n+|\n+$', '', 'g') AS clean FROM x5)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(length(clean)) AS BIGINT) AS sum_clean_chars,
        | count(DISTINCT md5(clean)) AS n_distinct_clean,
        | CAST(sum(len(regexp_extract_all(html, '(?i)<a\b'))) AS BIGINT) AS sum_links,
        | CAST(sum(len(regexp_extract_all(html, '(?i)<script\b'))) AS BIGINT) AS sum_scripts
        |FROM x6 GROUP BY 1 ORDER BY source""".stripMargin,

    "a1_validate" ->
      """SELECT coalesce(CASE
        |   WHEN o_custkey IS NULL THEN 'missing_custkey'
        |   WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 'nonpositive_price'
        |   WHEN o_orderstatus NOT IN ('O','F','P') THEN 'bad_status'
        |   WHEN o_totalprice < 5000 THEN 'price_below_floor' END, 'valid') AS reject_reason,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY reject_reason""".stripMargin,

    "a2_audit" ->
      """SELECT 'orders' AS source_name, year(o_orderdate) AS ingest_year,
        | 'orders_' || CAST(year(o_orderdate) AS VARCHAR) AS batch_id,
        | count(*) AS n, min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
        |FROM orders GROUP BY 1,2,3 ORDER BY ingest_year""".stripMargin,

    "a3_flatten_json" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS n,
        | round(avg(CAST(json_extract_string(props,'$.k') AS BIGINT)),4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "a3b_flatten_nested" ->
      """WITH e AS (SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k, user_id AS uid FROM events),
        |f AS (SELECT k,
        |  CASE WHEN k % 4 = 0 THEN ''
        |       ELSE 'g' || CAST(k % 5 AS VARCHAR) || '|g' || CAST(k % 3 AS VARCHAR) END AS genres_str,
        |  'd' || CAST(uid % 7 AS VARCHAR) AS director,
        |  CASE WHEN k % 4 = 0 THEN 0 ELSE 2 END AS n_genres
        | FROM e)
        |SELECT genres_str, director, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(max(n_genres) AS BIGINT) AS n_genres
        |FROM f GROUP BY 1,2 ORDER BY genres_str, director""".stripMargin,

    "a4_clean_numeric" ->
      """WITH c AS (SELECT l_returnflag,
        |  CASE WHEN l_quantity <= 0 THEN NULL ELSE l_quantity END AS qty_c,
        |  CASE WHEN l_extendedprice <= 0 THEN NULL ELSE l_extendedprice END AS price_c,
        |  CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN NULL ELSE l_discount END AS disc_c,
        |  CASE WHEN l_discount = 0 THEN NULL ELSE l_tax END AS tax_c
        | FROM lineitem)
        |SELECT l_returnflag, count(*) AS n, count(qty_c) AS n_qty, count(tax_c) AS n_tax,
        | round(sum(qty_c),4) AS sum_qty, round(sum(price_c),4) AS sum_price
        |FROM c GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "a5_clean_text" ->
      """SELECT coalesce(CASE WHEN event_type IN ('error','unknown','') THEN NULL
        |   ELSE event_type END, '(null)') AS event_type_clean, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type_clean""".stripMargin,

    "a6_derived" ->
      """WITH d AS (SELECT l_returnflag, l_quantity,
        |  l_extendedprice*(1-l_discount) AS net,
        |  CASE WHEN l_quantity >= 5 THEN l_extendedprice*(1-l_discount)/l_quantity END AS ratio,
        |  l_extendedprice*(1-l_discount)/1000000.0 AS net_m
        | FROM lineitem)
        |SELECT l_returnflag, round(sum(net),4) AS sum_net, round(avg(ratio),4) AS avg_ratio,
        | count(ratio) AS n_ratio, round(sum(net_m),6) AS sum_net_millions
        |FROM d GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "a7_dedup_key" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, round(l_quantity,4) AS qty
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
        |      FROM lineitem WHERE l_orderkey % 97 = 0)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "a8_row_quality" ->
      """WITH s AS (SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_totalprice < 20000 THEN NULL ELSE o_totalprice END AS price_c,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END AS prio_c
        | FROM orders)
        |SELECT count(*) AS n_kept, round(sum(price_c),4) AS sum_price
        |FROM s WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        | AND (CASE WHEN price_c IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN prio_c IS NOT NULL THEN 1 ELSE 0 END) >= 1""".stripMargin,

    "a9_project" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price,
        | o_orderstatus AS status, year(o_orderdate) AS order_year
        |FROM orders WHERE o_orderkey % 101 = 0 ORDER BY o_orderkey""".stripMargin,

    "a10_silver_pipeline" ->
      """WITH silver AS (
        | SELECT event_id, user_id,
        |  CASE WHEN event_type IN ('error','unknown') THEN NULL ELSE event_type END AS etype,
        |  CASE WHEN value <= 0 THEN NULL ELSE value END AS value_c,
        |  CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
        | FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL)
        |SELECT etype, count(*) AS n, round(sum(value_c),4) AS sum_value,
        | CAST(sum(k) AS BIGINT) AS sum_k
        |FROM silver WHERE etype IS NOT NULL GROUP BY 1 ORDER BY etype""".stripMargin,

    // Same two stacked windows as the Spark plan: null-safe change
    // detection against the lagged state, then lead() over the change
    // rows for the interval end — both ordered by (ts, event_id).
    // The first row of a key is ALWAYS a version (Spark's lagged state
    // STRUCT is null there, never equal) — row_number()=1 encodes that,
    // where bare IS DISTINCT FROM would drop a first row whose
    // attribute value is itself null.
    "a14_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
        |f AS (SELECT user_id, event_type, us, event_id,
        |  (row_number() OVER w = 1
        |   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |c AS (SELECT user_id, event_type, us, event_id FROM f WHERE chg),
        |v AS (SELECT user_id, event_type, us AS valid_from_us,
        |   lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us FROM c)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        | (valid_to_us IS NULL) AS is_current
        |FROM v ORDER BY user_id, valid_from_us, event_type""".stripMargin,

    // Regenerates the edge set from the same id arithmetic the page
    // constructor used: the root-relative link resolves onto the page
    // host, the absolute and protocol-relative links keep/complete
    // their own hosts, mailto: and the self-link never appear.
    "a25_link_graph" ->
      """WITH d AS (SELECT doc_id,
        |  'https://site' || (doc_id % 5) || '.com/page/' || doc_id AS src
        | FROM documents)
        |SELECT src, dst FROM (
        |  SELECT src, 'https://site' || (doc_id % 5) || '.com/doc/' ||
        |    ((doc_id * 7 + 13) % 1000) AS dst FROM d
        |  UNION ALL
        |  SELECT src, 'https://ext.org/item/' || ((doc_id * 3 + 1) % 500) FROM d
        |  UNION ALL
        |  SELECT src, 'https://cdn.net/a/' || (doc_id % 100) FROM d)
        |ORDER BY src, dst""".stripMargin,

    // The REP decision table closed-form per (domain, path class):
    // d0 denies only /private/x (the /private/ok allow is longer);
    // d1's graftbot group denies everything (specific wins outright);
    // d2 denies only /tmp (allow wins the /private length tie);
    // d3 has no robots (all allowed); d4 denies only /public.
    "a26_robots_gate" ->
      """WITH u AS (SELECT o_orderkey, o_orderkey % 5 AS d, o_orderkey % 4 AS p,
        |  'https://d' || (o_orderkey % 5) || '.com' ||
        |  CASE o_orderkey % 4
        |    WHEN 0 THEN '/public/p' || o_orderkey
        |    WHEN 1 THEN '/private/x' || o_orderkey
        |    WHEN 2 THEN '/private/ok' || o_orderkey
        |    ELSE '/tmp/t' || o_orderkey END AS url
        | FROM orders)
        |SELECT o_orderkey, url FROM u
        |WHERE CASE d WHEN 0 THEN p <> 1 WHEN 1 THEN FALSE
        |  WHEN 2 THEN p <> 3 WHEN 3 THEN TRUE ELSE p <> 0 END
        |ORDER BY o_orderkey""".stripMargin,

    // The incremental ledger closed-form: partition = key%3, the
    // Silver transform is the totalprice filter, run 1 covers
    // partitions {0,1}, run 2 adds {2}, run 3 adds nothing.
    "a11_incremental_medallion" ->
      """WITH c AS (SELECT o_orderkey % 3 AS p,
        |   CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS k FROM orders),
        |a AS (SELECT p, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY p)
        |SELECT 1 AS run, CAST(2 AS BIGINT) AS n_parts,
        |  '2024-01-01,2024-01-02' AS processed,
        |  (SELECT CAST(sum(n) AS BIGINT) FROM a WHERE p < 2) AS silver_rows
        |UNION ALL SELECT 2, CAST(1 AS BIGINT), '2024-01-03',
        |  (SELECT CAST(sum(n) AS BIGINT) FROM a)
        |UNION ALL SELECT 3, CAST(0 AS BIGINT), '',
        |  (SELECT CAST(sum(n) AS BIGINT) FROM a)
        |ORDER BY run""".stripMargin,

    // Day 1 carries the doubled prices (the re-run replaced it, once);
    // every other day carries the original v1 rows. Exact DECIMAL
    // sums keep the compare FP-free.
    "a27_partition_overwrite" ->
      """SELECT o_orderkey % 4 AS day, count(*) AS n_rows,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice * 2
        |   ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | TRUE AS one_file
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin,

    // Expected canonical per alias class: lowercased scheme/authority,
    // default port stripped, doubled slashes squashed, trailing slash
    // stripped (path case PRESERVED), empty path -> '/', fragment and
    // tracking params dropped, surviving params sorted; unparseable
    // -> NULL.
    "a19_url_canon" ->
      """SELECT doc_id, CASE doc_id % 5
        | WHEN 0 THEN 'https://www.site' || (doc_id % 7) || '.com/Path/' || doc_id
        | WHEN 1 THEN 'http://site' || (doc_id % 7) || '.com/a/b/' || doc_id || '?a=1&b=2'
        | WHEN 2 THEN 'https://site' || (doc_id % 7) || '.com/'
        | WHEN 3 THEN 'https://site' || (doc_id % 7) || '.com/x?y=8&z=9'
        | ELSE NULL END AS canon
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The three generations rebuilt directly: gen 1 has no status,
    // gen 3 has no price (and its extra column never appears).
    "a15_schema_evolution" ->
      """SELECT 1 AS gen, o_orderkey AS id, o_totalprice AS price,
        |  CAST(NULL AS VARCHAR) AS status FROM orders
        |UNION ALL SELECT 2, o_orderkey, o_totalprice, o_orderstatus FROM orders
        |UNION ALL SELECT 3, o_orderkey, NULL, o_orderstatus FROM orders
        |ORDER BY gen, id""".stripMargin,

    // 45 = byte length of the fixed HTTP head the record constructor
    // prepends ("HTTP/1.1 200 OK" 15 + CRLF 2 + "Content-Type:
    // text/plain" 24 + CRLF 2 + CRLF 2); md5 of TEXT hashes its UTF-8
    // bytes in both engines, so body_md5 pins the byte-exact slice.
    "a22_warc_roundtrip" ->
      """SELECT 'https://w.com/doc/' || doc_id AS uri,
        | 'response' AS warc_type,
        | CAST(45 + octet_length(encode(coalesce(text, ''))) AS BIGINT)
        |   AS content_length,
        | 200 AS status, 'text/plain' AS ctype,
        | md5(coalesce(text, '')) AS body_md5,
        | FALSE AS truncated
        |FROM documents ORDER BY uri""".stripMargin,

    // DuckDB's own reading of the same file's schema drives the
    // expected report (information_schema over the registered view);
    // the numeric type names ('bigint', 'int') agree across engines.
    "a12_schema_check" ->
      """WITH a AS (SELECT column_name AS f, lower(data_type) AS t
        |  FROM information_schema.columns WHERE table_name = 'orders')
        |SELECT f AS field, 'unexpected' AS problem FROM a
        |  WHERE f NOT IN ('o_orderkey', 'o_custkey')
        |UNION ALL
        |SELECT 'o_custkey', 'type ' || t || ' != expected int' FROM a
        |  WHERE f = 'o_custkey'
        |UNION ALL
        |SELECT 'o_missing', 'missing'
        |ORDER BY field""".stripMargin,

  )
}
