package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.functions.TextFns
import graft.sources.Tables

/** OpenSearch-style search surface (SURVEY.md §2.9) over the per-entity
  * document tables: term/terms/range/prefix predicates, bool
  * compositions, tokenized match with a deterministic score, terms+stats
  * aggregations on hits, sort+from/size pagination, percolation, and
  * hybrid lexical+vector retrieval fused by reciprocal rank. All
  * Catalyst built-ins (plus the codegen'd `cosine_sim` expression on
  * the hybrid path) — filters push to the parquet scan, and the match
  * query's token overlap is a codegen'd array intersection (no shuffle
  * until the final order/limit).
  */
object Search {

  def queries: Seq[GraftQuery] = Seq(
    // bool query: must (terms + range) + must_not + prefix.
    GraftQuery(
      "q40_search_bool",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.filter(
            col("lang").isin("en", "fr") &&
            col("n_chars").between(200, 400) &&
            !(col("source") === "src0") &&
            col("text").startsWith("the "))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang IN ('en','fr') AND n_chars BETWEEN 200 AND 400
          AND source <> 'src0' AND text LIKE 'the %'
        ORDER BY doc_id
      """.stripMargin.trim)),

    // match query: tokenized overlap with the query terms; score = number
    // of distinct query terms present (deterministic integer relevance).
    GraftQuery(
      "q41_search_match",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val terms = array(lit("spark"), lit("join"), lit("window"))
        d.withColumn("score",
            size(array_intersect(array_distinct(split(col("text"), " ")), terms)).cast("long"))
          .filter(col("score") >= 2)
          .select(col("doc_id"), col("score"), col("lang"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(50)
      },
      Some("""
        WITH scored AS (
          SELECT doc_id, lang,
                 CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                         ['spark','join','window'])) AS BIGINT) AS score
          FROM documents)
        SELECT doc_id, score, lang FROM scored
        WHERE score >= 2 ORDER BY score DESC, doc_id LIMIT 50
      """.stripMargin.trim)),

    // BM25 relevance ranking (k1=1.2, b=0.75) — closes the "full-text
    // ranking" gap of SURVEY §7.4. Corpus statistics are two tiny
    // broadcast aggregates (one row: N, avgdl, df per term); the tf
    // pass is map-side, so only top-k rows survive the final sort.
    // Scores round to 6dp: the only engine-variant op is ln(), whose
    // cross-engine difference is ~1 ulp, far below the rounding grain.
    GraftQuery(
      "q44_search_bm25",
      (s, dir) => {
        val terms = Seq("spark", "join", "window")
        val k1 = 1.2
        val b = 0.75
        val d = Tables.load(s, dir, "documents")
          .withColumn("tok", split(col("text"), " "))
          .withColumn("dl", size(col("tok")).cast("double"))
        val stats = d.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl") +:
            terms.map(t => sum(when(array_contains(col("tok"), t), 1L)
              .otherwise(0L)).cast("double").as(s"df_$t")): _*)
        val perTerm = terms.map { t =>
          val tf = size(filter(col("tok"), x => x === t)).cast("double")
          val df = col(s"df_$t")
          val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
          idf * (tf * (k1 + 1.0)) /
            (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
        }
        d.crossJoin(broadcast(stats))
          .withColumn("score", round(perTerm.reduce(_ + _), 6))
          .filter(col("score") > 0.0)
          .select(col("doc_id"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS tok,
                          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                   FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN list_contains(tok, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                 CAST(SUM(CASE WHEN list_contains(tok, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
                 CAST(SUM(CASE WHEN list_contains(tok, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
          FROM d),
        scored AS (
          SELECT doc_id,
            round(
              ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
            6) AS score
          FROM d CROSS JOIN stats)
        SELECT doc_id, score FROM scored WHERE score > 0.0
        ORDER BY score DESC, doc_id LIMIT 20
      """.stripMargin.trim)),

    // sort + from/size pagination (OpenSearch from=20, size=10).
    GraftQuery(
      "q42_search_pagination",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"), col("n_chars"), col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .offset(20).limit(10)
      },
      Some("""
        SELECT doc_id, n_chars, source FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT 10 OFFSET 20
      """.stripMargin.trim)),

    // aggregations on hits: filter, then terms agg (source) with stats
    // sub-agg (n_chars) — the OpenSearch search+aggs round trip.
    GraftQuery(
      "q43_search_terms_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("doc_count"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy(col("doc_count").desc, col("source"))
      },
      Some("""
        SELECT source, COUNT(*) AS doc_count,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents WHERE lang = 'en'
        GROUP BY source ORDER BY doc_count DESC, source
      """.stripMargin.trim)),

    // composite aggregation with after-key pagination: buckets keyed by
    // (lang, source) in key order, resuming AFTER the cursor bucket —
    // OpenSearch's cursor-based agg pagination (the scalable way to
    // page through high-cardinality buckets; from/size re-aggregates
    // everything, the after-key is a keyset seek). The tuple seek
    // predicate pushes to the scan; one shuffle for the bucket agg.
    GraftQuery(
      "q45_search_composite_after",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val after = (lit("en"), lit("src3")) // cursor from the "previous page"
        d.filter(col("lang") > after._1 ||
            (col("lang") === after._1 && col("source") > after._2))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("doc_count"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"), col("source"))
          .limit(5)
      },
      Some("""
        SELECT lang, source, COUNT(*) AS doc_count,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE (lang, source) > ('en', 'src3')
        GROUP BY lang, source ORDER BY lang, source LIMIT 5
      """.stripMargin.trim)),

    // highlight: first-match snippet with the hit term wrapped in <em>
    // tags — the OpenSearch highlighter's contract (fragment around the
    // match, tags injected). Pure row-wise string ops, map-only.
    GraftQuery(
      "q46_search_highlight",
      (s, dir) => {
        val term = "window"
        val d = Tables.load(s, dir, "documents")
        d.withColumn("pos", instr(col("text"), term).cast("long"))
          .filter(col("pos") > 0)
          .withColumn("frag",
            substring(col("text"),
              greatest(col("pos") - 20, lit(1)).cast("int"), lit(60)))
          .withColumn("highlight",
            regexp_replace(col("frag"), term, s"<em>$term</em>"))
          .select(col("doc_id"), col("pos"), col("highlight"))
          .orderBy(col("doc_id"))
          .limit(100)
      },
      Some("""
        WITH h AS (
          SELECT doc_id, CAST(strpos(text, 'window') AS BIGINT) AS pos,
                 substr(text, CAST(greatest(strpos(text, 'window') - 20, 1) AS INT), 60) AS frag
          FROM documents WHERE strpos(text, 'window') > 0)
        SELECT doc_id, pos,
               regexp_replace(frag, 'window', '<em>window</em>', 'g') AS highlight
        FROM h ORDER BY doc_id LIMIT 100
      """.stripMargin.trim)),

    // date_histogram aggregation (calendar_interval=hour) with
    // sub-aggregations per bucket — count, distinct users, exact sum —
    // under a terms filter. The filter + hour-truncation are scan-side
    // projections; one hash aggregation, keyed by (hour, type).
    GraftQuery(
      "q47_search_date_histogram",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.filter(col("event_type").isin("click", "view", "purchase"))
          .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).cast("long").as("n_users"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .orderBy(col("bucket"), col("event_type"))
      },
      Some("""
        SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type IN ('click','view','purchase')
        GROUP BY 1, 2 ORDER BY bucket, event_type
      """.stripMargin.trim)),

    // fuzzy term query: tokens within edit distance 1 of 'spark'.
    // The codegen'd length band (|len-5| ≤ 1, a necessary condition
    // for distance ≤ 1) prunes almost every token before the O(m·n)
    // levenshtein runs — the same cheap-guard-then-verify shape the
    // dedup family uses, and the whole thing is a map-side explode +
    // one groupBy.
    GraftQuery(
      "q48_search_fuzzy",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .filter(length(col("tok")).between(4, 6) &&
            levenshtein(col("tok"), lit("spark")) <= 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fuzzy"), min(col("tok")).as("best"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                   FROM documents)
        SELECT doc_id, COUNT(*) AS n_fuzzy, MIN(tok) AS best
        FROM t
        WHERE len(tok) BETWEEN 4 AND 6 AND levenshtein(tok, 'spark') <= 1
        GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim)),

    // significant_terms aggregation: terms over-represented in the
    // foreground (source = src1) vs the whole corpus, scored by the
    // doc-frequency ratio in exact integer ppm (portable — no float
    // ordering). Per-doc-distinct explode → one term aggregation; the
    // two corpus totals ride along as a broadcast scalar aggregate
    // (single declarative plan, no driver action).
    GraftQuery(
      "q49_search_significant_terms",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("source"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        val perTerm = toks.groupBy(col("tok")).agg(
          count(lit(1)).as("all_df"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("fg_df"))
        val totals = d.agg(
          count(lit(1)).as("n_all"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("n_fg"))
        perTerm.crossJoin(broadcast(totals))
          .filter(col("fg_df") >= 3)
          .select(col("tok"), col("fg_df"), col("all_df"),
            expr("(fg_df * n_all * 1000000) div (all_df * n_fg)").as("score_ppm"))
          .orderBy(col("score_ppm").desc, col("tok"))
          .limit(20)
      },
      Some("""
        WITH t AS (SELECT source, unnest(list_distinct(string_split(text, ' '))) AS tok
                   FROM documents),
        c AS (SELECT tok, COUNT(*) AS all_df,
                     CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS fg_df
              FROM t GROUP BY tok),
        tot AS (SELECT COUNT(*) AS n_all,
                       CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_fg
                FROM documents)
        SELECT tok, fg_df, all_df,
               (fg_df * n_all * 1000000) // (all_df * n_fg) AS score_ppm
        FROM c CROSS JOIN tot
        WHERE fg_df >= 3
        ORDER BY score_ppm DESC, tok LIMIT 20
      """.stripMargin.trim)),

    // Pipeline aggregations over a date histogram (OpenSearch
    // cumulative_sum / moving_fn / derivative): daily event counts,
    // then running total, 3-bucket moving average and day-over-day
    // delta as window functions OVER THE AGGREGATED SERIES. The
    // unpartitioned window is safe by construction — it runs on the
    // histogram output (one row per day), which is bounded by the time
    // range, not the corpus size; the heavy lifting is the parallel
    // date_trunc groupBy below it. The moving average divides an exact
    // integer 3-day sum by an exact frame count, so it is portable.
    GraftQuery(
      "q57_search_pipeline_agg",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(date_trunc("day", col("ts")).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        // window bound (wCum, wMa, wLag): one row per day of the events' time span
        val wCum = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wMa = Window.orderBy(col("bucket")).rowsBetween(-2, Window.currentRow)
        val wLag = Window.orderBy(col("bucket"))
        daily
          .withColumn("cum_n", sum(col("n")).over(wCum))
          .withColumn("ma3",
            (sum(col("n")).over(wMa).cast("double") /
              count(lit(1)).over(wMa).cast("double")))
          .withColumn("delta", col("n") - lag(col("n"), 1).over(wLag))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH d AS (
          SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          FROM events GROUP BY 1)
        SELECT bucket, n, sum_value,
               CAST(SUM(n) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
               CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(COUNT(*) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma3,
               n - lag(n, 1) OVER (ORDER BY bucket) AS delta
        FROM d ORDER BY bucket
      """.stripMargin.trim)),

    // histogram aggregation: fixed-interval numeric buckets (the
    // OpenSearch `histogram` agg, the numeric sibling of q47's
    // date_histogram) over document length, with per-bucket stats and
    // a cardinality sub-agg. Integer bucket arithmetic (`div`) keeps
    // the keys exact in any engine; one scan, one hash aggregation
    // with map-side partials — the shape that holds at any corpus
    // size because the output is bounded by the bucket count.
    GraftQuery(
      "q58_search_histogram",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.groupBy(expr("(n_chars div 50) * 50").cast("long").as("bucket"))
          .agg(count(lit(1)).as("doc_count"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy(col("bucket"))
      },
      Some("""
        SELECT CAST((n_chars // 50) * 50 AS BIGINT) AS bucket,
               COUNT(*) AS doc_count,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents GROUP BY 1 ORDER BY bucket
      """.stripMargin.trim)),

    // match_phrase: the query terms must appear adjacent and in order
    // (vs q41's bag-of-terms match). Tokens in the corpus are single-
    // space separated, so padding both sides and matching the padded
    // literal is an exact positional phrase test that stays a scan-time
    // predicate — no tokenizer state, pushes through codegen, and at
    // scale benefits from parquet row-group pruning on the cheap
    // companion predicates.
    GraftQuery(
      "q59_search_phrase",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val padded = concat(lit(" "), col("text"), lit(" "))
        d.filter(padded.contains(" spark join ") && col("n_chars") >= 100)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE ' ' || text || ' ' LIKE '% spark join %' AND n_chars >= 100
        ORDER BY doc_id
      """.stripMargin.trim)),

    // range aggregation + filters aggregation (OpenSearch `range` /
    // `filters` aggs). Range buckets partition the keyspace (CASE
    // ladder, one scan + one tiny agg shuffle); filters buckets are
    // *named overlapping predicates* — the part `range` can't express —
    // computed as conditional aggregates in a single one-row pass and
    // unpivoted, so the two scans never shuffle more than bucket-count
    // rows. Sums are exact DECIMAL, cast back to double at the edge.
    GraftQuery(
      "q54_search_range_filters",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .select(col("o_totalprice").cast("decimal(18,2)").as("p"),
            col("o_orderpriority"), col("o_orderdate"))
        val bucket = when(col("p") < 100000, "00_lt100k")
          .when(col("p") < 200000, "01_100k_200k")
          .when(col("p") < 300000, "02_200k_300k")
          .otherwise("03_gte300k")
        val range = o.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("sum_p"))
          .select(lit("range").as("agg"), col("bucket"), col("n_docs"),
            col("sum_p").cast("double").as("sum_price"))
        val zeroDec = lit(0).cast("decimal(18,2)")
        val urgent = col("o_orderpriority") === "1-URGENT"
        val high = col("p") >= 300000
        val recent = col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
        val filters = o.agg(
            sum(when(urgent, 1L).otherwise(0L)).as("n_urgent"),
            sum(when(urgent, col("p")).otherwise(zeroDec)).as("s_urgent"),
            sum(when(high, 1L).otherwise(0L)).as("n_high"),
            sum(when(high, col("p")).otherwise(zeroDec)).as("s_high"),
            sum(when(recent, 1L).otherwise(0L)).as("n_recent"),
            sum(when(recent, col("p")).otherwise(zeroDec)).as("s_recent"))
          .selectExpr("stack(3, " +
            "'10_urgent', n_urgent, s_urgent, " +
            "'11_high_value', n_high, s_high, " +
            "'12_recent', n_recent, s_recent) AS (bucket, n_docs, sum_p)")
          .select(lit("filters").as("agg"), col("bucket"), col("n_docs"),
            col("sum_p").cast("double").as("sum_price"))
        range.unionByName(filters).orderBy(col("agg"), col("bucket"))
      },
      Some("""
        WITH o AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                          o_orderpriority, o_orderdate
                   FROM orders)
        SELECT 'range' AS agg,
               CASE WHEN p < 100000 THEN '00_lt100k'
                    WHEN p < 200000 THEN '01_100k_200k'
                    WHEN p < 300000 THEN '02_200k_300k'
                    ELSE '03_gte300k' END AS bucket,
               COUNT(*) AS n_docs, CAST(SUM(p) AS DOUBLE) AS sum_price
        FROM o GROUP BY 2
        UNION ALL
        SELECT 'filters', '10_urgent', COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT'),
               CAST(COALESCE(SUM(p) FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS DOUBLE)
        FROM o
        UNION ALL
        SELECT 'filters', '11_high_value', COUNT(*) FILTER (WHERE p >= 300000),
               CAST(COALESCE(SUM(p) FILTER (WHERE p >= 300000), 0) AS DOUBLE)
        FROM o
        UNION ALL
        SELECT 'filters', '12_recent', COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
               CAST(COALESCE(SUM(p) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01'), 0) AS DOUBLE)
        FROM o
        ORDER BY agg, bucket
      """.stripMargin.trim)),

    // function_score: field_value_factor × exponential time decay
    // (OpenSearch `function_score` with an `exp` decay on a date field
    // and a filter clause). Map-only scoring over the filtered scan,
    // only the top-20 survive the final sort. Scores round to 6dp —
    // exp() is the only engine-variant op, ~1 ulp (the q44 contract).
    GraftQuery(
      "q93_search_function_score",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.filter(col("event_type") === "purchase")
          .withColumn("age_days",
            datediff(lit("2024-01-31").cast("date"), col("ts").cast("date")).cast("long"))
          .withColumn("score",
            round(col("value") * exp(-(col("age_days").cast("double") / lit(30.0))), 6))
          .select(col("event_id"), col("user_id"), col("age_days"), col("score"))
          .orderBy(col("score").desc, col("event_id"))
          .limit(20)
      },
      Some("""
        SELECT event_id, user_id,
               CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') AS BIGINT) AS age_days,
               round(value * exp(-(CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') AS DOUBLE) / 30.0)), 6) AS score
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY score DESC, event_id LIMIT 20
      """.stripMargin.trim)),

    // terms aggregation with top_hits sub-aggregation: per source
    // bucket, the 2 best-matching documents (integer overlap score,
    // doc_id tie-break). The per-bucket window is bounded by bucket
    // membership and all buckets rank in parallel — the map-side score
    // + filter keeps non-matching docs out of the shuffle entirely.
    GraftQuery(
      "q96_search_top_hits",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val terms = array(lit("spark"), lit("join"), lit("window"))
        val scored = d.withColumn("score",
            size(array_intersect(array_distinct(split(col("text"), " ")), terms))
              .cast("long"))
          .filter(col("score") >= 1)
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 2)
          .select(col("source"), col("rank"), col("doc_id"), col("score"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""
        WITH scored AS (
          SELECT source, doc_id,
                 CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                         ['spark','join','window'])) AS BIGINT) AS score
          FROM documents),
        ranked AS (
          SELECT source, doc_id, score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rank
          FROM scored WHERE score >= 1)
        SELECT source, rank, doc_id, score FROM ranked
        WHERE rank <= 2 ORDER BY source, rank
      """.stripMargin.trim)),

    // Percolator — reverse search: a registry of stored queries (terms
    // conjunction + numeric range each) is matched against every
    // incoming document. The registry is tiny by nature and broadcasts;
    // each doc evaluates all registered predicates map-side, so the
    // pass scales with corpus size alone — the alerting/routing shape
    // ("which saved searches does this document trigger").
    GraftQuery(
      "q98_search_percolate",
      (s, dir) => {
        import s.implicits._
        val registered = Seq(
          (1L, "spark", "join", 0L, 400L),
          (2L, "the", "row", 100L, 500L),
          (3L, "filter", "group", 0L, 1000L),
          (4L, "stream", "batch", 200L, 600L),
          (5L, "table", "scan", 0L, 1000L),
          (6L, "fast", "slow", 0L, 300L)).toDF("qid", "t1", "t2", "lo", "hi")
        val d = Tables.load(s, dir, "documents")
          .withColumn("tok", split(col("text"), " "))
        d.crossJoin(broadcast(registered))
          .filter(array_contains(col("tok"), col("t1")) &&
            array_contains(col("tok"), col("t2")) &&
            col("n_chars").between(col("lo"), col("hi")))
          .select(col("doc_id"), col("qid"))
          .orderBy(col("doc_id"), col("qid"))
      },
      Some("""
        WITH q(qid, t1, t2, lo, hi) AS (VALUES
          (1, 'spark', 'join', 0, 400),
          (2, 'the', 'row', 100, 500),
          (3, 'filter', 'group', 0, 1000),
          (4, 'stream', 'batch', 200, 600),
          (5, 'table', 'scan', 0, 1000),
          (6, 'fast', 'slow', 0, 300)),
        d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tok FROM documents)
        SELECT doc_id, CAST(qid AS BIGINT) AS qid
        FROM d CROSS JOIN q
        WHERE list_contains(tok, t1) AND list_contains(tok, t2)
          AND n_chars BETWEEN lo AND hi
        ORDER BY doc_id, qid
      """.stripMargin.trim)),

    // Hybrid search with reciprocal-rank fusion — the modern
    // lexical+vector retrieval shape: a BM25 ranked list (q44's exact
    // scoring) and a cosine-ANN ranked list (one query vector broadcast,
    // scored by the codegen'd cosine_sim expression) fuse by
    // RRF(d) = Σ 1/(60+rank_d). Fusion is integer-exact: each term is
    // 1e6 div (60+rank), so no float scoring crosses the engine
    // boundary. Both lists are top-20-only before the join, so the
    // fusion join touches ≤ 40 rows regardless of corpus size; the
    // testdata's doc_id/vec_id alignment provides the doc↔embedding
    // linkage.
    GraftQuery(
      "q102_search_hybrid_rrf",
      (s, dir) => {
        val terms = Seq("spark", "join", "window")
        val (k1, b) = (1.2, 0.75)
        val d = Tables.load(s, dir, "documents")
          .withColumn("tok", split(col("text"), " "))
          .withColumn("dl", size(col("tok")).cast("double"))
        val stats = d.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl") +:
            terms.map(t => sum(when(array_contains(col("tok"), t), 1L)
              .otherwise(0L)).cast("double").as(s"df_$t")): _*)
        val perTerm = terms.map { t =>
          val tf = size(filter(col("tok"), x => x === t)).cast("double")
          val df = col(s"df_$t")
          val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
          idf * (tf * (k1 + 1.0)) /
            (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
        }
        val bm25 = d.crossJoin(broadcast(stats))
          .withColumn("score", round(perTerm.reduce(_ + _), 6))
          .filter(col("score") > 0.0)
          .select(col("doc_id"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          // window bound: ≤ 20 rows, the limit above
          .select(col("doc_id"),
            row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
              .cast("long").as("bm25_rank"))

        val e = Tables.load(s, dir, "embeddings")
        val qv = e.filter(col("vec_id") === 7)
          .select(col("embedding").as("_q_emb"))
        val ann = e.filter(col("vec_id") =!= 7)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            graft.plans.CosineSim(col("embedding"), col("_q_emb")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(20)
          // window bound: ≤ 20 rows, the limit above
          .select(col("vec_id").as("doc_id"),
            row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
              .cast("long").as("ann_rank"))

        bm25.join(ann, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000L div (60L + bm25_rank)"), lit(0L)) +
              coalesce(expr("1000000L div (60L + ann_rank)"), lit(0L))).as("rrf_ppm"),
            col("bm25_rank"), col("ann_rank"))
          .orderBy(col("rrf_ppm").desc, col("doc_id"))
          .limit(15)
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS tok,
                          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                   FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN list_contains(tok, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                 CAST(SUM(CASE WHEN list_contains(tok, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
                 CAST(SUM(CASE WHEN list_contains(tok, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
          FROM d),
        scored AS (
          SELECT doc_id,
            round(
              ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
            6) AS score
          FROM d CROSS JOIN stats),
        bm25 AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS bm25_rank
          FROM (SELECT doc_id, score FROM scored WHERE score > 0.0
                ORDER BY score DESC, doc_id LIMIT 20)),
        emb AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM emb),
        qv AS (SELECT q AS qq, n2 AS qn2 FROM n WHERE vec_id = 7),
        annscored AS (
          SELECT vec_id, list_dot_product(qq, q) / (sqrt(qn2) * sqrt(n2)) AS sim
          FROM n CROSS JOIN qv WHERE vec_id <> 7),
        ann AS (
          SELECT vec_id AS doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS ann_rank
          FROM (SELECT vec_id, sim FROM annscored
                ORDER BY sim DESC, vec_id LIMIT 20))
        SELECT COALESCE(bm25.doc_id, ann.doc_id) AS doc_id,
               COALESCE(1000000 // (60 + bm25_rank), 0)
                 + COALESCE(1000000 // (60 + ann_rank), 0) AS rrf_ppm,
               bm25_rank, ann_rank
        FROM bm25 FULL OUTER JOIN ann ON bm25.doc_id = ann.doc_id
        ORDER BY rrf_ppm DESC, doc_id LIMIT 15
      """.stripMargin.trim)),

    // rare_terms + multi_terms aggregations: rare buckets (long-tail
    // sources at-or-under a doc-count ceiling, ascending — the inverse
    // of terms' top-N) and composite (lang, source) buckets by count.
    // Both are one partial-aggregated shuffle; union carries only
    // bucket-count rows.
    GraftQuery(
      "q99_search_rare_multi_terms",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val rare = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
          .filter(col("n") <= 3)
          .select(lit("rare").as("agg"), col("lang").as("k1"),
            col("source").as("k2"), col("n"))
        val multi = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("lang"), col("source"))
          .limit(10)
          .select(lit("multi").as("agg"), col("lang").as("k1"),
            col("source").as("k2"), col("n"))
        rare.unionByName(multi)
          .orderBy(col("agg"), col("n").desc, col("k1"), col("k2"))
      },
      Some("""
        WITH rare AS (
          SELECT 'rare' AS agg, lang AS k1, source AS k2, COUNT(*) AS n
          FROM documents GROUP BY lang, source HAVING COUNT(*) <= 3),
        multi AS (
          SELECT 'multi' AS agg, lang AS k1, source AS k2, COUNT(*) AS n
          FROM documents GROUP BY lang, source
          ORDER BY n DESC, lang, source LIMIT 10)
        SELECT agg, k1, k2, n FROM (
          SELECT * FROM rare UNION ALL SELECT * FROM multi)
        ORDER BY agg, n DESC, k1, k2
      """.stripMargin.trim)),

    // completion suggester: prefix → top-k suggestions ranked by
    // corpus frequency (the search-box autocomplete the reference's
    // OpenSearch indices serve). Map-side explode+filter, one
    // partial-agg shuffle of only prefix-matching tokens, TakeOrdered
    // top-k — the term-frequency index a real deployment would
    // materialize is exactly etl.SearchIndex's postings.
    GraftQuery(
      "q115_search_suggest",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(explode(split(col("text"), " ")).as("t"))
          .filter(col("t").startsWith("c") && length(col("t")) >= 3)
          .groupBy(col("t")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("t")).limit(10)
      },
      Some("""
        WITH t AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        SELECT t, COUNT(*) AS freq FROM t
        WHERE t LIKE 'c%' AND len(t) >= 3
        GROUP BY t ORDER BY freq DESC, t LIMIT 10
      """.stripMargin.trim)),

    // adjacency_matrix aggregation: named filters and the document
    // counts of every pairwise intersection (the OpenSearch agg that
    // powers co-occurrence heatmaps). One conditional-aggregate pass —
    // filters evaluate per row, every cell is a SUM(CASE) — no joins,
    // no explode, one partial-agg shuffle of a single row.
    GraftQuery(
      "q110_search_adjacency_matrix",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val fs = Seq(
          "en" -> (col("lang") === "en"),
          "long" -> (col("n_chars") >= 300),
          "the" -> col("text").startsWith("the "))
        val cells = for {
          (an, ac) <- fs; (bn, bc) <- fs
          if an <= bn
        } yield sum(when(ac && bc, 1L).otherwise(0L))
          .as(if (an == bn) an else s"$an&$bn")
        d.agg(cells.head, cells.tail: _*).withColumn("row_id", lit(1L))
      },
      Some("""
        SELECT CAST(1 AS BIGINT) AS row_id,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS "en",
               CAST(SUM(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS "en&long",
               CAST(SUM(CASE WHEN lang = 'en' AND text LIKE 'the %' THEN 1 ELSE 0 END) AS BIGINT) AS "en&the",
               CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS "long",
               CAST(SUM(CASE WHEN n_chars >= 300 AND text LIKE 'the %' THEN 1 ELSE 0 END) AS BIGINT) AS "long&the",
               CAST(SUM(CASE WHEN text LIKE 'the %' THEN 1 ELSE 0 END) AS BIGINT) AS "the"
        FROM documents
      """.stripMargin.trim)),

    // matrix_stats aggregation: count/mean/variance/covariance/
    // correlation between two numeric fields (chars vs tokens). Every
    // moment derives from EXACT integer sums (Σx, Σy, Σx², Σy², Σxy
    // over BIGINT inputs — order-free), so the float division/sqrt at
    // the end is deterministic in any engine; round(·,6) absorbs the
    // final-op ulp. One partial-agg shuffle of one row.
    GraftQuery(
      "q111_search_matrix_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("n_chars").cast("long").as("x"),
            size(split(col("text"), " ")).cast("long").as("y"))
        val m = d.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        val n = col("n").cast("double")
        val varX = (col("sxx") - col("sx") * col("sx") / n) / n
        val varY = (col("syy") - col("sy") * col("sy") / n) / n
        val covXY = (col("sxy") - col("sx") * col("sy") / n) / n
        m.select(col("n"),
          round(col("sx") / n, 6).as("mean_x"),
          round(col("sy") / n, 6).as("mean_y"),
          round(varX, 6).as("var_x"),
          round(varY, 6).as("var_y"),
          round(covXY, 6).as("cov_xy"),
          round(covXY / (sqrt(varX) * sqrt(varY)), 6).as("corr_xy"))
      },
      Some("""
        WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS y
                   FROM documents),
        m AS (SELECT COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM d)
        SELECT n,
               round(sx / CAST(n AS DOUBLE), 6) AS mean_x,
               round(sy / CAST(n AS DOUBLE), 6) AS mean_y,
               round((sxx - sx * sx / CAST(n AS DOUBLE)) / n, 6) AS var_x,
               round((syy - sy * sy / CAST(n AS DOUBLE)) / n, 6) AS var_y,
               round((sxy - sx * sy / CAST(n AS DOUBLE)) / n, 6) AS cov_xy,
               round(((sxy - sx * sy / CAST(n AS DOUBLE)) / n)
                 / (sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / n)
                  * sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / n)), 6) AS corr_xy
        FROM m
      """.stripMargin.trim)),

    // BM25 served from the MATERIALIZED inverted index (etl.SearchIndex)
    // instead of q44's per-query corpus scan — the OpenSearch-sink
    // artifact (postings + doc lengths + corpus stats, incrementally
    // refreshed by the CDC merge path). The serving plan reads only the
    // term-bucket-pruned postings and the one-row stats table, never
    // the documents table (SearchIndexSpec plan-asserts both), and its
    // arithmetic replays q44's exactly — so this entry shares q44's
    // oracle verbatim and must hash identically to it.
    GraftQuery(
      "q103_search_bm25_indexed",
      (s, dir) => {
        // build-once-per-(JVM, dataset, data-fingerprint) cache:
        // repeated gate/bench invocations serve from the same index
        // instead of leaking a fresh /tmp build each call, and a
        // regenerated documents table invalidates the entry (the
        // fingerprint watch) instead of serving stale; removed on exit
        val idx = graft.etl.SearchIndex.cachedIndex(s, dir, "doc_id", "text",
          watch = Seq(s"$dir/documents.parquet"))(
          Tables.load(s, dir, "documents"))
        graft.etl.SearchIndex.bm25(s, idx, Seq("spark", "join", "window"),
          k1 = 1.2, b = 0.75, topK = 20)
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS tok,
                          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                   FROM documents),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN list_contains(tok, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                 CAST(SUM(CASE WHEN list_contains(tok, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
                 CAST(SUM(CASE WHEN list_contains(tok, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
          FROM d),
        scored AS (
          SELECT doc_id,
            round(
              ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
            6) AS score
          FROM d CROSS JOIN stats)
        SELECT doc_id, score FROM scored WHERE score > 0.0
        ORDER BY score DESC, doc_id LIMIT 20
      """.stripMargin.trim)),

    // BM25 with the STANDARD analyzer (VERDICT r7 #1): the index is
    // built over a mixed-case, punctuated corpus variant with
    // analyzer="standard" stored in its meta sidecar, and the serve
    // path analyzes the raw query terms ("Spark!" → spark) through
    // the SAME chain — indexed and scanned tokenization cannot drift.
    // A whitespace index over this corpus would score every query
    // term 0 (tokens look like "Spark," / "JOIN,"). The oracle
    // replays the full normalize→tokenize→BM25 pipeline in DuckDB.
    GraftQuery(
      "q222_search_bm25_analyzed",
      (s, dir) => {
        val mixed = Tables.load(s, dir, "documents").withColumn("body",
          expr("replace(concat(upper(substring(text, 1, 20)), " +
            "substring(text, 21)), ' ', ', ')"))
        // distinct cache key: the whitespace index of q103 lives under
        // the plain `dir` key and must not be reused here
        val idx = graft.etl.SearchIndex.cachedIndex(s, s"$dir#std",
          "doc_id", "body", watch = Seq(s"$dir/documents.parquet"),
          analyzer = "standard")(mixed)
        graft.etl.SearchIndex.bm25(s, idx, Seq("Spark!", "JOIN", "window"),
          k1 = 1.2, b = 0.75, topK = 20)
      },
      Some("""
        WITH mixed AS (
          SELECT doc_id,
                 replace(upper(substr(text, 1, 20)) || substr(text, 21),
                         ' ', ', ') AS body
          FROM documents),
        d AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(body),
                       '[^a-z0-9]+', ' ', 'g')), ' ') AS tok
              FROM mixed),
        dd AS (SELECT doc_id, tok, CAST(len(tok) AS DOUBLE) AS dl FROM d),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN list_contains(tok, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                 CAST(SUM(CASE WHEN list_contains(tok, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
                 CAST(SUM(CASE WHEN list_contains(tok, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
          FROM dd),
        scored AS (
          SELECT doc_id,
            round(
              ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'spark')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'join')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                * (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0))
                / (CAST(len(list_filter(tok, x -> x = 'window')) AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
            6) AS score
          FROM dd CROSS JOIN stats)
        SELECT doc_id, score FROM scored WHERE score > 0.0
        ORDER BY score DESC, doc_id LIMIT 20
      """.stripMargin.trim)),

    // Term suggester (`suggest.term`, the spell-correction half of the
    // SEARCH collection's DSL; reference stack at
    // lib/opensearch-dynamodb-etl-cdk-stack.ts:91): correct each input
    // term against the corpus vocabulary, ranked like OpenSearch does —
    // edit distance first, then document frequency, then the term
    // itself. Scale shape: the vocabulary is a distinct-per-doc
    // explode + one term agg (high-cardinality key); the input terms
    // are broadcast (a suggest request carries a handful), and the
    // length band |len(cand)−len(q)| ≤ max_edits prunes the
    // vocabulary before any levenshtein runs — the same banding q48
    // uses to keep fuzzy match off the full cross product. All-integer
    // scores, so the ranking is engine-portable.
    GraftQuery(
      "q117_search_term_suggest",
      // ONE implementation: the oracle-gated query runs the exact
      // facade pipeline ([[graft.GraftEngine.termSuggest]]) — a
      // ranking or banding change can't diverge the API from the
      // gate-checked behavior, because they are the same code
      (s, dir) => graft.GraftEngine(s)
        .termSuggest(Tables.load(s, dir, "documents"), "text",
          Seq("sprk", "windoow", "joinn", "merg"))
        .select(col("q"), col("rank"), col("term"), col("dist"), col("freq"))
        .orderBy(col("q"), col("rank")),
      Some("""
        WITH v AS (
          SELECT tok AS term, COUNT(*) AS freq
          FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents)
          GROUP BY 1),
        inputs(q) AS (VALUES ('sprk'), ('windoow'), ('joinn'), ('merg')),
        cand AS (
          SELECT q, term, CAST(levenshtein(q, term) AS BIGINT) AS dist, freq
          FROM inputs, v
          WHERE abs(len(term) - len(q)) <= 2 AND term <> q
            AND levenshtein(q, term) <= 2),
        r AS (
          SELECT q, term, dist, freq,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, freq DESC, term) AS BIGINT) AS rank
          FROM cand)
        SELECT q, rank, term, dist, freq FROM r WHERE rank <= 3
        ORDER BY q, rank
      """.stripMargin.trim)),

    // more_like_this: retrieve documents similar to a seed document by
    // its most-characteristic terms — OpenSearch's MLT selects the
    // seed's top `max_query_terms` by tf·idf, then scores every doc
    // containing them. Seed term selection reuses q66's log-free
    // rational tf·idf (exact integer product, one IEEE division);
    // candidate scoring sums the PER-TERM integer idf weight
    // (N·10⁶ div df) so the aggregate is an order-free long sum —
    // float idf sums would be partition-order-dependent. Scale shape:
    // the seed's term list is ≤10 rows and broadcast; candidate
    // scoring is one semi-join of the (doc,term) postings against it
    // plus one doc-keyed agg — the corpus is scanned once, no
    // doc×vocab blow-up.
    GraftQuery(
      "q118_search_more_like_this",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .moreLikeThis(Tables.load(s, dir, "documents"), "doc_id", "text",
          seedId = 7L)
        .select(col("doc_id"), col("n_shared"), col("score")),
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        seed AS (
          SELECT tf.term,
                 (CAST(tf.tf AS BIGINT) * (SELECT n FROM n)) / CAST(df.df AS BIGINT) AS sel,
                 ((SELECT n FROM n) * 1000000) // CAST(df.df AS BIGINT) AS weight
          FROM tf JOIN df USING (term) WHERE tf.doc_id = 7),
        qt AS (SELECT term, weight,
                 ROW_NUMBER() OVER (ORDER BY sel DESC, term) AS r FROM seed),
        top AS (SELECT term, weight FROM qt WHERE r <= 10)
        SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
               CAST(SUM(weight) AS BIGINT) AS score
        FROM tf JOIN top USING (term)
        WHERE tf.doc_id <> 7
        GROUP BY tf.doc_id
        ORDER BY score DESC, doc_id
        LIMIT 15
      """.stripMargin.trim)),

    // Nested-document query: OpenSearch's `nested` mapping exists
    // because a conjunctive predicate over a flattened object field
    // matches values from DIFFERENT child objects; a nested query must
    // match them on the SAME child. Here orders carry their line items
    // as an array of structs (the index-time parent/child layout), and
    // the hit condition — qty ≥ 48 AND discount ≤ 0.02 — is evaluated
    // per ELEMENT by a higher-order filter, the engine-level nested
    // semantics. The per-order array is built with one groupBy
    // (bounded by order size, ≤7 items) and sorted so the layout is
    // deterministic; the oracle evaluates the same same-row
    // conjunction on the flat child table — equal results is exactly
    // the nested-semantics contract.
    GraftQuery(
      "q120_search_nested",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val nested = li.groupBy(col("l_orderkey").as("order_key"))
          .agg(array_sort(collect_list(struct(
            col("l_linenumber").as("ln"),
            col("l_quantity").as("qty"),
            col("l_discount").as("disc")))).as("items"))
        nested
          .withColumn("n_items", size(col("items")).cast("long"))
          .withColumn("n_hits",
            size(filter(col("items"),
              x => x("qty") >= lit(48.0) && x("disc") <= lit(0.02))).cast("long"))
          .filter(col("n_hits") >= 1)
          .select(col("order_key"), col("n_items"), col("n_hits"))
          .orderBy(col("n_hits").desc, col("order_key"))
          .limit(20)
      },
      Some("""
        SELECT l_orderkey AS order_key,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN l_quantity >= 48.0 AND l_discount <= 0.02
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM lineitem
        GROUP BY 1
        HAVING SUM(CASE WHEN l_quantity >= 48.0 AND l_discount <= 0.02
                        THEN 1 ELSE 0 END) >= 1
        ORDER BY n_hits DESC, order_key
        LIMIT 20
      """.stripMargin.trim)),

    // Phrase suggester (`suggest.phrase`, the whole-phrase half of the
    // spell-correction DSL; the term suggester q117 corrects words in
    // isolation and happily emits word salad). Per-position candidates
    // come from q117's machinery — length-banded levenshtein against
    // the corpus vocabulary, top-5 per position by (distance, df,
    // term) — and whole-phrase corrections are re-ranked by corpus
    // evidence: the bigram count of the corrected pair, the
    // OpenSearch `collate`/LM idea with an exact integer score.
    GraftQuery(
      "q121_search_phrase_suggest",
      // the facade pipeline IS the gated implementation (see q117); for
      // two positions the score is the single pair's bigram count, and
      // ordering by the word array sorts as ordering by (w1, w2) does
      (s, dir) => graft.GraftEngine(s)
        .phraseSuggest(Tables.load(s, dir, "documents"), "text",
          Seq("park", "low"), maxEdits = 1, perPosition = 5, size = 5)
        .select(col("rank"), col("words")(0).as("w1"), col("words")(1).as("w2"),
          col("score").as("bcount"), col("dist"))
        .orderBy(col("rank")),
      Some("""
        WITH v AS (
          SELECT tok AS term, COUNT(*) AS freq
          FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents)
          GROUP BY 1),
        inputs(pos, q) AS (VALUES (1, 'park'), (2, 'low')),
        cand AS (
          SELECT pos, term, CAST(levenshtein(q, term) AS BIGINT) AS dist, freq
          FROM inputs, v
          WHERE abs(len(term) - len(q)) <= 1 AND levenshtein(q, term) <= 1),
        ranked AS (
          SELECT pos, term, dist, freq,
                 ROW_NUMBER() OVER (PARTITION BY pos ORDER BY dist, freq DESC, term) AS r
          FROM cand),
        p1 AS (SELECT term AS w1, dist AS d1 FROM ranked WHERE pos = 1 AND r <= 5),
        p2 AS (SELECT term AS w2, dist AS d2 FROM ranked WHERE pos = 2 AND r <= 5),
        pairs AS (SELECT w1, d1, w2, d2 FROM p1, p2),
        big AS (
          SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS bcount
          FROM (SELECT unnest(list_zip(a, a[2:])) AS p
                FROM (SELECT string_split(text, ' ') AS a FROM documents))
          WHERE p[2] IS NOT NULL
          GROUP BY 1, 2),
        scored AS (
          SELECT pairs.w1, pairs.w2,
                 CAST(COALESCE(big.bcount, 0) AS BIGINT) AS bcount,
                 d1 + d2 AS dist
          FROM pairs LEFT JOIN big USING (w1, w2)),
        r AS (
          SELECT w1, w2, bcount, dist,
                 CAST(ROW_NUMBER() OVER (ORDER BY bcount DESC, dist, w1, w2) AS BIGINT) AS rank
          FROM scored)
        SELECT rank, w1, w2, bcount, dist FROM r WHERE rank <= 5 ORDER BY rank
      """.stripMargin.trim)),

    // search_after keyset pagination: OpenSearch's constant-cost deep
    // paging — instead of from+size (which materializes and discards
    // `from` rows on every shard), the client passes the sort key of
    // the last hit and the engine filters PAST it. The tuple
    // comparison (n_chars,doc_id) < cursor under the (desc,asc) sort
    // becomes a disjunctive range predicate that pushes to the
    // parquet scan, and the top-10 is a TakeOrderedAndProject —
    // per-partition bounded heaps merged on the driver, never a
    // global sort. Page depth no longer costs anything: page 1000
    // reads the same number of rows as page 1.
    GraftQuery(
      "q123_search_search_after",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .searchAfter(Tables.load(s, dir, "documents"), "n_chars", "doc_id",
          after = (300L, 250L), pageSize = 10)
        .select(col("doc_id"), col("n_chars"), col("lang")),
      Some("""
        SELECT doc_id, n_chars, lang FROM documents
        WHERE n_chars < 300 OR (n_chars = 300 AND doc_id > 250)
        ORDER BY n_chars DESC, doc_id
        LIMIT 10
      """.stripMargin.trim)),

    // prefix / wildcard / regexp term-level queries over the indexed
    // vocabulary: `prefix: win*`, `wildcard: *ow`, `regexp: jo.+n` —
    // the term-enumerating DSL members (multi_term query family).
    // Scale shape: one explode of the per-doc distinct terms, then a
    // SINGLE aggregate computing matched-doc and matched-term counts
    // for all three patterns at once (Spark's distinct-expand); the
    // patterns are evaluated codegen'd per posting row — no joins, no
    // second pass over the corpus. A real index would walk the term
    // dictionary instead of the postings; the counts are identical.
    GraftQuery(
      "q124_search_multi_term",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
          explode(array_distinct(TextFns.tokens(col("text")))).as("tok"))
        toks.agg(
          countDistinct(when(col("tok").startsWith("win"), col("doc_id"))).as("prefix_docs"),
          countDistinct(when(col("tok").startsWith("win"), col("tok"))).as("prefix_terms"),
          countDistinct(when(col("tok").endsWith("ow"), col("doc_id"))).as("wildcard_docs"),
          countDistinct(when(col("tok").endsWith("ow"), col("tok"))).as("wildcard_terms"),
          countDistinct(when(col("tok").rlike("^jo.+n$"), col("doc_id"))).as("regexp_docs"),
          countDistinct(when(col("tok").rlike("^jo.+n$"), col("tok"))).as("regexp_terms"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents)
        SELECT
          COUNT(DISTINCT CASE WHEN tok LIKE 'win%' THEN doc_id END) AS prefix_docs,
          COUNT(DISTINCT CASE WHEN tok LIKE 'win%' THEN tok END) AS prefix_terms,
          COUNT(DISTINCT CASE WHEN tok LIKE '%ow' THEN doc_id END) AS wildcard_docs,
          COUNT(DISTINCT CASE WHEN tok LIKE '%ow' THEN tok END) AS wildcard_terms,
          COUNT(DISTINCT CASE WHEN regexp_matches(tok, '^jo.+n$') THEN doc_id END) AS regexp_docs,
          COUNT(DISTINCT CASE WHEN regexp_matches(tok, '^jo.+n$') THEN tok END) AS regexp_terms
        FROM toks
      """.stripMargin.trim)),

    // geo_distance filter + geo-grid aggregation: the geo half of the
    // search DSL — hits within R km of a point (haversine), bucketed
    // into fixed-degree grid cells (the geohash_grid/geotile_grid
    // shape: a cell id per hit, count + nearest-hit stats per cell).
    // The fixture derives deterministic lat/lon from c_custkey by
    // exact integer modular arithmetic (real deployments carry real
    // geo_point columns; the derivation keeps the oracle independent
    // of any RNG — note the multiplier product needs ~2⁴⁵ so 64-bit
    // keys would first reduce mod 2³² before scaling). Determinism:
    // the transcendental chain (sin/cos/asin over IEEE doubles) is
    // written with the IDENTICAL operation order in both engines and
    // the result rounded to 6 dp before any compare/filter — the
    // established ln/exp recipe (the engine's `lon - (-74.0)` against
    // the oracle's `lon + 74.0` is exact in IEEE 754). Scale shape:
    // map-only derive + filter, then ONE grid-keyed agg; cells are
    // bounded by the geometry (≤288 here), so the shuffle is a
    // broadcast-sized reduction no matter the row count.
    GraftQuery(
      "q125_search_geo_grid",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .geoGrid(GeoFixtures.syntheticPoints(Tables.load(s, dir, "customer")),
          "lat", "lon", latQ = 40.0, lonQ = -74.0, radiusKm = 5000.0,
          cellDeg = 15.0),
      Some("""
        WITH pts AS (
          SELECT c_custkey,
                 CAST((c_custkey * 2654435761) % 180000 AS DOUBLE) / 1000.0 - 90.0 AS lat,
                 CAST((c_custkey * 40503 + 7) % 360000 AS DOUBLE) / 1000.0 - 180.0 AS lon
          FROM customer),
        d AS (
          SELECT c_custkey, lat, lon,
                 round(CAST(12742.0176 AS DOUBLE) * asin(sqrt(
                   sin((lat - 40.0) * pi() / 180.0 / 2.0) * sin((lat - 40.0) * pi() / 180.0 / 2.0)
                   + cos(40.0 * pi() / 180.0) * cos(lat * pi() / 180.0)
                     * sin((lon + 74.0) * pi() / 180.0 / 2.0) * sin((lon + 74.0) * pi() / 180.0 / 2.0))), 6) AS dist_km
          FROM pts)
        SELECT CAST(floor(lat / 15.0) AS BIGINT) AS cell_lat,
               CAST(floor(lon / 15.0) AS BIGINT) AS cell_lon,
               CAST(COUNT(*) AS BIGINT) AS n,
               min(dist_km) AS min_dist
        FROM d
        WHERE dist_km <= 5000.0
        GROUP BY 1, 2
        ORDER BY cell_lat, cell_lon
      """.stripMargin.trim)),

    // span_near proximity query: both terms present within `slop`
    // intervening tokens (unordered, OpenSearch `span_near`
    // in_order:false) — phrase match (q59) demands adjacency, this is
    // the relaxed positional form. Scale shape: token positions come
    // from ONE posexplode, each term's postings are a pushed filter of
    // it, and the per-doc position pairing is an equi-join on doc_id
    // whose blow-up is tf₁·tf₂ per doc (single-digit here, never
    // corpus²); one doc-keyed agg finishes. The oracle reproduces
    // positions with DuckDB's aligned parallel unnest.
    GraftQuery(
      "q126_search_span_near",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .spanNear(Tables.load(s, dir, "documents"), "doc_id", "text",
          "spark", "join", slop = 3)
        .limit(25),
      Some("""
        WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        pos AS (
          SELECT doc_id, unnest(a) AS tok,
                 unnest(range(1, len(a) + 1)) AS p
          FROM arr),
        p1 AS (SELECT doc_id, p FROM pos WHERE tok = 'spark'),
        p2 AS (SELECT doc_id, p FROM pos WHERE tok = 'join'),
        g AS (
          SELECT p1.doc_id, CAST(abs(p1.p - p2.p) - 1 AS BIGINT) AS gap
          FROM p1 JOIN p2 USING (doc_id)
          WHERE abs(p1.p - p2.p) - 1 <= 3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, MIN(gap) AS min_gap
        FROM g GROUP BY 1
        ORDER BY n_pairs DESC, doc_id
        LIMIT 25
      """.stripMargin.trim)),

    // distance_feature query: boost hits by proximity to an origin —
    // here recency against 2024-01-15 with a 7-day pivot, the decay
    // OpenSearch computes as pivot/(pivot+distance), built by the
    // facade's own [[graft.GraftEngine.distanceFeature]]. Applied on top
    // of a base relevance (the event's value) as a multiplicative boost.
    // Determinism: distance is integer epoch seconds, the decay is one
    // IEEE division with identical operand order in both engines,
    // rounded to 6 dp before the multiply (also rounded) — order never
    // depends on partitioning. Scale shape: map-only scoring over a
    // pushed event_type filter + TakeOrderedAndProject top-20; no
    // shuffle but the bounded top-k merge.
    GraftQuery(
      "q127_search_distance_feature",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val originS = 1705276800L // 2024-01-15 00:00:00 UTC
        val pivotS = 604800.0 // 7 days
        val epochS = unix_timestamp(date_trunc("second", col("ts")))
        val distS = abs(epochS - lit(originS))
        val boost = graft.GraftEngine(s).distanceFeature(epochS, originS, pivotS)
        e.filter(col("event_type") === "click")
          .withColumn("dist_s", distS)
          .withColumn("boost", boost)
          .withColumn("score", round(col("value") * col("boost"), 6))
          .select(col("event_id"), col("dist_s"), col("boost"), col("score"))
          .orderBy(col("score").desc, col("event_id"))
          .limit(20)
      },
      Some("""
        WITH e AS (
          SELECT event_id,
                 CAST(abs(epoch(date_trunc('second', ts)) - 1705276800) AS BIGINT) AS dist_s,
                 value
          FROM events
          WHERE event_type = 'click'),
        scored AS (
          SELECT event_id, dist_s,
                 round(604800.0 / (604800.0 + CAST(dist_s AS DOUBLE)), 6) AS boost
          FROM e),
        f AS (
          SELECT scored.event_id, scored.dist_s, boost,
                 round(e.value * boost, 6) AS score
          FROM scored JOIN e USING (event_id))
        SELECT event_id, dist_s, boost, score
        FROM f
        ORDER BY score DESC, event_id
        LIMIT 20
      """.stripMargin.trim)),

    // terms_set query: match when at least `minimum_should_match` of a
    // terms list are present — the "N of M" form a plain bool can only
    // express as an exponential clause expansion. One codegen'd array
    // intersection per document (size-only, so the engines' differing
    // intersection orders cannot matter); map-only until the bounded
    // top-k.
    GraftQuery(
      "q128_search_terms_set",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val wanted = array(lit("spark"), lit("join"), lit("window"), lit("merge"))
        d.withColumn("n_matched",
            size(array_intersect(array_distinct(TextFns.tokens(col("text"))),
              wanted)).cast("long"))
          .filter(col("n_matched") >= 3)
          .select(col("doc_id"), col("n_matched"))
          .orderBy(col("n_matched").desc, col("doc_id"))
          .limit(25)
      },
      Some("""
        SELECT doc_id,
               CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                       ['spark','join','window','merge'])) AS BIGINT) AS n_matched
        FROM documents
        WHERE len(list_intersect(list_distinct(string_split(text, ' ')),
                                 ['spark','join','window','merge'])) >= 3
        ORDER BY n_matched DESC, doc_id
        LIMIT 25
      """.stripMargin.trim)),

    // dis_max query: the score is the BEST clause's score plus
    // tie_breaker × the others — "best field wins" ranking, where bool
    // would sum and let weak clauses pile up. Clause scores are term
    // frequencies; tie_breaker 0.3 in exact ppm integers
    // (max·10⁶ + rest·3·10⁵), so the ranking is engine-portable with
    // no float summation anywhere. Map-only + bounded top-k.
    GraftQuery(
      "q129_search_dis_max",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val tf1 = size(filter(tok, t => t === lit("spark"))).cast("long")
        val tf2 = size(filter(tok, t => t === lit("join"))).cast("long")
        d.withColumn("tf_spark", tf1).withColumn("tf_join", tf2)
          .filter(col("tf_spark") + col("tf_join") > 0)
          .withColumn("best", greatest(col("tf_spark"), col("tf_join")))
          .withColumn("score",
            col("best") * lit(1000000L) +
              (col("tf_spark") + col("tf_join") - col("best")) * lit(300000L))
          .select(col("doc_id"), col("tf_spark"), col("tf_join"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) AS tf_spark,
                 CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS BIGINT) AS tf_join
          FROM documents)
        SELECT doc_id, tf_spark, tf_join,
               greatest(tf_spark, tf_join) * 1000000
                 + (tf_spark + tf_join - greatest(tf_spark, tf_join)) * 300000 AS score
        FROM t
        WHERE tf_spark + tf_join > 0
        ORDER BY score DESC, doc_id
        LIMIT 20
      """.stripMargin.trim)),

    // boosting query: positive relevance DEMOTED (not excluded) when
    // the negative clause matches — bool must_not would drop the hit,
    // boosting keeps it at negative_boost × score. Positive = tf of
    // 'spark' in ppm; negative_boost 0.5 as an exact integer halving.
    // Map-only + bounded top-k.
    GraftQuery(
      "q130_search_boosting",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val pos = size(filter(tok, t => t === lit("spark"))).cast("long")
        val neg = array_contains(tok, "slow")
        d.withColumn("base", pos * lit(1000000L))
          .filter(col("base") > 0)
          .withColumn("demoted", neg)
          .withColumn("score",
            when(col("demoted"), expr("base div 2")).otherwise(col("base")))
          .select(col("doc_id"), col("demoted"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) * 1000000 AS base,
                 list_contains(string_split(text, ' '), 'slow') AS demoted
          FROM documents)
        SELECT doc_id, demoted,
               CASE WHEN demoted THEN base // 2 ELSE base END AS score
        FROM t
        WHERE base > 0
        ORDER BY score DESC, doc_id
        LIMIT 20
      """.stripMargin.trim)),

    // match_phrase_prefix: a phrase whose LAST term is a prefix —
    // the query behind search-as-you-type ("stream mer…" matches
    // "stream merge"). Adjacent-pair extraction (q121's bigram shape)
    // with an equality on the first word and a prefix predicate on the
    // second; one corpus pass, one doc-keyed agg.
    GraftQuery(
      "q131_search_match_phrase_prefix",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pairs = d.select(col("doc_id"), TextFns.tokens(col("text")).as("tok"))
          .filter(size(col("tok")) >= 2)
          .select(col("doc_id"),
            explode(TextFns.adjacentPairs(col("tok"))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        pairs.filter(col("w1") === "stream" && col("w2").startsWith("mer"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"),
            // Rendered as a comma-joined STRING, not a bare ARRAY: the
            // driver's diff harness sorts result columns with pandas,
            // which cannot hash ndarray cells (r6 verdict item 1).
            concat_ws(",", array_sort(collect_set(col("w2")))).as("completions"))
          .orderBy(col("n_hits").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH big AS (
          SELECT doc_id, p[1] AS w1, p[2] AS w2
          FROM (SELECT doc_id, unnest(list_zip(a, a[2:])) AS p
                FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents))
          WHERE p[2] IS NOT NULL)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
               array_to_string(list_sort(list_distinct(list(w2))), ',') AS completions
        FROM big
        WHERE w1 = 'stream' AND w2 LIKE 'mer%'
        GROUP BY doc_id
        ORDER BY n_hits DESC, doc_id
        LIMIT 20
      """.stripMargin.trim)),

    // pinned query: curated ids surface above the organic ranking, in
    // the curators' order, without disturbing the organic order below
    // them. The pin lookup is a codegen'd array_position against a
    // broadcast-small literal list (both engines return 0 for
    // "not pinned"); organic relevance is the ppm term frequency.
    // Map-only + bounded top-k.
    GraftQuery(
      "q132_search_pinned",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val pins = array(lit(42L), lit(7L), lit(123L))
        d.withColumn("tf", size(filter(tok, t => t === lit("spark"))).cast("long"))
          .withColumn("pin", array_position(pins, col("doc_id")))
          .filter(col("tf") > 0 || col("pin") > 0)
          .withColumn("pin_rank",
            when(col("pin") > 0, col("pin")).otherwise(lit(999999L)))
          .select(col("doc_id"), col("pin_rank"), col("tf"))
          .orderBy(col("pin_rank"), col("tf").desc, col("doc_id"))
          .limit(15)
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) AS tf,
                 CAST(list_position([42, 7, 123], doc_id) AS BIGINT) AS pin
          FROM documents)
        SELECT doc_id,
               CASE WHEN pin > 0 THEN pin ELSE 999999 END AS pin_rank, tf
        FROM t
        WHERE tf > 0 OR pin > 0
        ORDER BY pin_rank, tf DESC, doc_id
        LIMIT 15
      """.stripMargin.trim)),

    // ordered span (`span_near` with in_order:true / the intervals
    // query's `ordered` rule): 'stream' strictly BEFORE 'merge' with
    // at most 3 intervening tokens — q126's unordered form accepts
    // either direction, this one is the phrase-like directional
    // constraint. Same scale shape: one posexplode, pushed per-term
    // postings, equi-join on doc_id with the order folded into the
    // join-side filter.
    GraftQuery(
      "q133_search_span_ordered",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pos = d.select(col("doc_id"),
          posexplode(TextFns.tokens(col("text"))).as(Seq("p", "tok")))
        val p1 = pos.filter(col("tok") === "stream")
          .select(col("doc_id"), col("p").as("p1"))
        val p2 = pos.filter(col("tok") === "merge")
          .select(col("doc_id"), col("p").as("p2"))
        p1.join(p2, "doc_id")
          .filter(col("p2") > col("p1"))
          .withColumn("gap", (col("p2") - col("p1") - 1).cast("long"))
          .filter(col("gap") <= 3)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_pairs"), min(col("gap")).as("min_gap"))
          .orderBy(col("n_pairs").desc, col("doc_id"))
          .limit(25)
      },
      Some("""
        WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        pos AS (
          SELECT doc_id, unnest(a) AS tok,
                 unnest(range(1, len(a) + 1)) AS p
          FROM arr),
        p1 AS (SELECT doc_id, p FROM pos WHERE tok = 'stream'),
        p2 AS (SELECT doc_id, p FROM pos WHERE tok = 'merge'),
        g AS (
          SELECT p1.doc_id, CAST(p2.p - p1.p - 1 AS BIGINT) AS gap
          FROM p1 JOIN p2 USING (doc_id)
          WHERE p2.p > p1.p AND p2.p - p1.p - 1 <= 3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, MIN(gap) AS min_gap
        FROM g GROUP BY 1
        ORDER BY n_pairs DESC, doc_id
        LIMIT 25
      """.stripMargin.trim)),

    // exists query over a dynamic JSON field: hits whose document has
    // the field at all — OpenSearch's `exists` matters because dynamic
    // mappings make absent-vs-null a first-class distinction. Here the
    // events' props JSON may or may not carry `k` (q53's DLQ split
    // keys on the same field): per event_type, how many events carry
    // it, don't, and the field's conditional mean — one map-only JSON
    // probe (codegen'd get_json_object) into a single agg.
    GraftQuery(
      "q134_search_exists",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val k = get_json_object(col("props"), "$.k").cast("long")
        e.withColumn("k", k)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_exists"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
            round(avg(col("k")), 6).as("avg_k"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH t AS (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exists,
               CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
               round(AVG(k), 6) AS avg_k
        FROM t
        GROUP BY event_type
        ORDER BY event_type
      """.stripMargin.trim))
  )
}
