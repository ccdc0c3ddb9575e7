package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.functions.TextFns
import graft.sources.Tables

/** Corpus-curation operators beyond whole-document dedup: sub-document
  * duplication, rule-based quality gates, and Bloom-filter
  * contamination screening. All three follow the engine's
  * never-all-pairs doctrine — duplication is found by equi-joining on
  * content hashes, membership by joining against a compact bitset, and
  * the quality gate is map-only.
  */
object Curation {

  /** Tokens per paragraph chunk for q83 — fixed so the DuckDB oracle
    * can slice identically.
    */
  private val ChunkTokens = 5

  def queries: Seq[GraftQuery] = Seq(
    // INTRA-document repetition signals (the Gopher repetition family
    // at bigram granularity): per doc, the fraction of bigram
    // positions claimed by the single most frequent bigram and by ALL
    // bigrams occurring >= 2 times — the two signals that catch
    // looping/boilerplate generation inside one document, which
    // cross-document dedup (q83) is blind to. Plan: codegen zip_with
    // builds the bigram array map-side, one explode + (doc, bg)
    // partial-agg shuffle, one (doc) agg — both keys high-cardinality,
    // linear at any corpus size, no windows. Fractions in exact ppm
    // (integer div), the engine's fraction convention.
    GraftQuery(
      "q335_repetition_ngrams",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = split(col("text"), " ")
        val bg = zip_with(
          slice(tok, lit(1), size(tok) - 1),
          slice(tok, lit(2), size(tok) - 1),
          (a, b) => concat(a, lit(" "), b))
        // one repartition on doc_id serves both aggregates (the q92
        // shape, r16 opt): bigram rows never cross the wire — the
        // compact documents do, once
        d.select(col("doc_id"), col("text"))
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(bg).as("bg"))
          // count by the bigram's 64-bit hash (the q92 trick, r17):
          // only COUNTS feed the fold, and the 8-byte key shrinks the
          // GC-bound per-task aggregate state ~5× vs bigram strings
          .groupBy(col("doc_id"), xxhash64(col("bg")).as("bg"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bg"),
            max(col("c")).as("top_c"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_c"))
          .select(col("doc_id"),
            col("n_bg"),
            expr("(1000000 * top_c) div n_bg").as("top_bg_ppm"),
            expr("(1000000 * dup_c) div n_bg").as("dup_bg_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        b AS (SELECT doc_id, tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT) + 1] AS bg
              FROM t, UNNEST(range(1, len(tok))) AS u(i)),
        c AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2),
        g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
                     CAST(MAX(c) AS BIGINT) AS top_c,
                     CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c
              FROM c GROUP BY 1)
        SELECT doc_id, n_bg,
               (1000000 * top_c) // n_bg AS top_bg_ppm,
               (1000000 * dup_c) // n_bg AS dup_bg_ppm
        FROM g ORDER BY doc_id
      """.stripMargin.trim)),

    // Sub-document (paragraph-level) exact dedup, the Lee-et-al-style
    // "exact substring" pass at paragraph granularity: split each doc
    // into fixed 5-token chunks, hash each chunk (md5-derived, portable),
    // count cross-document chunk frequency, and report per-document how
    // much of it is boilerplate repeated elsewhere. Plan: map-side
    // chunk explode → ONE explicit repartition on the chunk hash that
    // both consumers (the document-frequency aggregate and the join
    // back) share via AQE exchange reuse — hashpartitioning(h)
    // satisfies every downstream h-keyed distribution, so the df
    // aggregate, its distinct pre-phase and the join all run
    // exchange-free on top of it. The previous shape keyed the two
    // consumers' exchanges differently, so the tokenize+chunk+md5 scan
    // ran TWICE (r16 opt: final plan showed 2 FileScan+Generate).
    // Both remaining shuffles key on high-cardinality hashes, so the
    // plan scales linearly; no pair enumeration ever happens (a chunk
    // shared by d docs costs d posting rows, not d²).
    GraftQuery(
      "q83_paragraph_dedup",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val nChunks = floor(size(tok) / ChunkTokens).cast("int")
        val chunks = when(size(tok) >= ChunkTokens,
          transform(sequence(lit(0), nChunks - 1),
            i => concat_ws(" ", slice(tok, i * ChunkTokens + 1, lit(ChunkTokens)))))
          .otherwise(array().cast("array<string>"))
        val posts = d.select(col("doc_id"), explode(chunks).as("ch"))
          .select(col("doc_id"), TextFns.md5hash60(col("ch")).as("h"))
          .repartition(col("h"))
        val df = posts.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("df"))
        posts.join(df, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .filter(col("n_dup") >= 1)
          .withColumn("dup_pct", expr("(100 * n_dup) div n_chunks"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        c AS (SELECT doc_id,
                     ('0x' || substr(md5(unnest([array_to_string(tok[($ChunkTokens*i+1):($ChunkTokens*i+$ChunkTokens)], ' ')
                                                 for i in range(0, len(tok)//$ChunkTokens)])), 1, 15))::BIGINT AS h
              FROM t),
        df AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY h),
        d AS (SELECT doc_id, COUNT(*) AS n_chunks,
                     CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              FROM c JOIN df USING (h) GROUP BY doc_id)
        SELECT doc_id, n_chunks, n_dup, (100 * n_dup) // n_chunks AS dup_pct
        FROM d WHERE n_dup >= 1 ORDER BY doc_id
      """.stripMargin.trim),
      headline = true),

    // Gopher-style rule-based quality gate: independent integer-exact
    // rules (word-count band, mean-word-length band, minimum stopword
    // evidence, type-token ratio), reported as per-source failure
    // counts per rule plus the all-rules survivor count. Unlike q85's
    // cumulative funnel, each rule is evaluated independently — the
    // report quality teams use to tune thresholds. Mean word length is
    // compared via cross-multiplication (alpha ≥ 4·n_tok), never a
    // float division, so the gate is engine-exact. Map-only + one agg.
    GraftQuery(
      "q84_gopher_rules",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val m = d.select(col("source"),
          size(tok).cast("long").as("n_tok"),
          (length(col("text")) - (size(tok) - 1)).cast("long").as("alpha"),
          size(filter(tok, t => t.isin("the", "a"))).cast("long").as("n_stop"),
          size(array_distinct(tok)).cast("long").as("n_dis"))
        m.select(col("source"),
            col("n_tok").between(30, 80).as("r1"),
            (col("alpha") >= col("n_tok") * 4 && col("alpha") <= col("n_tok") * 5).as("r2"),
            (col("n_stop") >= 2).as("r3"),
            (col("n_dis") * 2 >= col("n_tok")).as("r4"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(!col("r1"), 1L).otherwise(0L)).as("f_wordcount"),
            sum(when(!col("r2"), 1L).otherwise(0L)).as("f_wordlen"),
            sum(when(!col("r3"), 1L).otherwise(0L)).as("f_stopword"),
            sum(when(!col("r4"), 1L).otherwise(0L)).as("f_ttr"),
            sum(when(col("r1") && col("r2") && col("r3") && col("r4"), 1L)
              .otherwise(0L)).as("n_pass"))
          .orderBy(col("source"))
      },
      Some("""
        WITH t AS (SELECT source, string_split(text, ' ') AS tok, length(text) AS ch
                   FROM documents),
        m AS (SELECT source,
                     CAST(len(tok) AS BIGINT) AS n_tok,
                     CAST(ch - (len(tok) - 1) AS BIGINT) AS alpha,
                     CAST(len(list_filter(tok, x -> list_contains(['the','a'], x))) AS BIGINT) AS n_stop,
                     CAST(len(list_distinct(tok)) AS BIGINT) AS n_dis
              FROM t),
        r AS (SELECT source,
                     n_tok BETWEEN 30 AND 80 AS r1,
                     alpha >= 4 * n_tok AND alpha <= 5 * n_tok AS r2,
                     n_stop >= 2 AS r3,
                     2 * n_dis >= n_tok AS r4
              FROM m)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS f_wordcount,
               CAST(SUM(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS f_wordlen,
               CAST(SUM(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS f_stopword,
               CAST(SUM(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS f_ttr,
               CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM r GROUP BY source ORDER BY source
      """.stripMargin.trim)),

    // Bloom-filter contamination screen: q78's exact shingle semi-join,
    // replayed through a 65536-bit / 2-probe Bloom filter built from
    // the eval set (source src0) — the membership structure a 100 TB
    // pipeline ships to every executor instead of shuffling the eval
    // shingle set. This is the same shape Spark's own runtime bloom
    // join pruning (InjectRuntimeFilter) uses; here the filter is
    // declarative (bit_or aggregate into a word→mask map, broadcast
    // cross-join, codegen'd bit tests), and md5-derived probes make the
    // whole thing portable: the oracle rebuilds the identical bitset,
    // so the output — INCLUDING the filter's deterministic false
    // positives — hash-matches. CurationSpec pins the superset
    // property vs exact q78.
    GraftQuery(
      "q87_bloom_contamination",
      (s, dir) => {
        // split-filter BEFORE the shingling kernel: mapPartitions is
        // opaque to the optimizer, so a tag filter above it cannot push
        // into the scan and the whole corpus was shingled twice (once
        // per side). Filtering the input instead puts `source` in the
        // scan's PushedFilters and each document is shingled exactly
        // once across the two sides (r16 opt).
        val docs = Tables.load(s, dir, "documents")
        val post = graft.operators.MinHashLsh.portablePostings(
          docs.filter(col("source") =!= "src0"), "doc_id", "source", "text")
        // two probe indices per shingle from one 60-bit md5 hash:
        // low 16 bits and next 16 bits (m = 2^16 bits)
        val evalBits = graft.operators.MinHashLsh.portablePostings(
            docs.filter(col("source") === "src0"), "doc_id", "source", "text")
          .select(explode(array(
            col("s").bitwiseAND(lit(65535L)),
            shiftright(col("s"), 16).bitwiseAND(lit(65535L)))).as("idx"))
          .distinct()
          // 32 bits per BIGINT word: DuckDB's checked shift overflows at
          // 1<<63, so both engines pack 32 bits/word (2048 words max)
          .groupBy(shiftright(col("idx"), 5).as("w"))
          .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(idx % 32 as int)))").as("mask"))
        val bloom = evalBits.groupBy()
          .agg(map_from_entries(collect_list(struct(col("w"), col("mask")))).as("bloom"))
        val train = post
          .select(col("doc_id"),
            col("s").bitwiseAND(lit(65535L)).as("i1"),
            shiftright(col("s"), 16).bitwiseAND(lit(65535L)).as("i2"))
        def hit(idx: String) = expr(
          s"(coalesce(element_at(bloom, shiftright($idx, 5)), cast(0 as bigint)) " +
            s"& shiftleft(cast(1 as bigint), cast($idx % 32 as int))) != 0")
        train.crossJoin(broadcast(bloom))
          .filter(hit("i1") && hit("i2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"))
          .filter(col("n_hits") >= 5)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
        s AS (SELECT doc_id, source,
                CASE WHEN len(tok) >= 3
                     THEN list_distinct([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok)-1)])
                     ELSE [array_to_string(tok, ' ')] END AS sh
              FROM t),
        x AS (SELECT doc_id, source,
                ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h
              FROM s),
        evp AS (SELECT DISTINCT unnest([h % 65536, (h // 65536) % 65536]) AS idx
                FROM x WHERE source = 'src0'),
        bloom AS (SELECT idx // 32 AS w, bit_or(1::BIGINT << (idx % 32)) AS mask
                  FROM evp GROUP BY 1),
        tr AS (SELECT doc_id, h % 65536 AS i1, (h // 65536) % 65536 AS i2
               FROM x WHERE source <> 'src0'),
        hit AS (SELECT tr.doc_id
                FROM tr
                JOIN bloom b1 ON b1.w = tr.i1 // 32 AND (b1.mask >> (tr.i1 % 32)) & 1 = 1
                JOIN bloom b2 ON b2.w = tr.i2 // 32 AND (b2.mask >> (tr.i2 % 32)) & 1 = 1)
        SELECT doc_id, COUNT(*) AS n_hits
        FROM hit GROUP BY doc_id HAVING COUNT(*) >= 5 ORDER BY doc_id
      """.stripMargin.trim),
      headline = true),

    // Relative quality gate: keep the top 80% of each source by a
    // quality signal (absolute thresholds like q84 misfire when
    // sources have different score distributions — web-crawl curation
    // gates per-source). Rank-based, so the cutoff is exact integer
    // logic: keep rank ≤ (n·8) div 10 under (quality desc, doc_id).
    // One shuffle (the source window); per-partition work is one
    // source — source cardinality grows with corpus diversity, and a
    // pathological mono-source corpus would use q81's bounded-heap
    // shape instead.
    GraftQuery(
      "q100_quality_quantile_gate",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val w = Window.partitionBy(col("source"))
          .orderBy(col("q").desc, col("doc_id"))
        d.select(col("source"), col("doc_id"), col("n_chars").cast("long").as("q"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("n_total", count(lit(1)).over(Window.partitionBy(col("source"))))
          .filter(expr("rank <= (n_total * 8) div 10"))
          .groupBy(col("source"))
          .agg(first(col("n_total")).as("n_total"),
            count(lit(1)).as("n_kept"),
            min(col("q")).as("cutoff_q"))
          .orderBy(col("source"))
      },
      Some("""
        WITH q AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS q,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_total
          FROM documents)
        SELECT source, ANY_VALUE(n_total) AS n_total,
               COUNT(*) AS n_kept, MIN(q) AS cutoff_q
        FROM q WHERE rank <= (n_total * 8) // 10
        GROUP BY source ORDER BY source
      """.stripMargin.trim)),

    // Exact SUBSTRING duplication at sliding-window granularity — the
    // full Lee-et-al pass q83 approximates with fixed chunk boundaries:
    // every 8-token sliding span is hashed, spans verbatim-shared by
    // ≥2 documents are "duplicated", and each document reports what
    // fraction of its span positions is duplicated text (a chunk pass
    // misses any copy not aligned to its 5-token grid). Same
    // never-all-pairs plan as q83: explode → span-hash df groupBy →
    // equi-join back → per-doc aggregate; a span in d docs costs d
    // posting rows, never d².
    GraftQuery(
      "q104_substring_spans",
      (s, dir) => {
        val Span = 8
        val d = Tables.load(s, dir, "documents")
        val tok = TextFns.tokens(col("text"))
        val spans = when(size(tok) >= Span,
          transform(sequence(lit(0), size(tok) - Span),
            i => concat_ws(" ", slice(tok, i + 1, lit(Span)))))
          .otherwise(array().cast("array<string>"))
        val posts = d.select(col("doc_id"), explode(spans).as("sp"))
          .select(col("doc_id"), TextFns.md5hash60(col("sp")).as("h"))
        val df = posts.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("df"))
        posts.join(df, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .filter(col("n_dup") >= 1)
          .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_spans"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        s AS (SELECT doc_id,
                     ('0x' || substr(md5(unnest([array_to_string(tok[(i+1):(i+8)], ' ')
                                                 for i in range(0, len(tok) - 7)])), 1, 15))::BIGINT AS h
              FROM t WHERE len(tok) >= 8),
        f AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY h)
        SELECT s.doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               (1000000 * CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS dup_ppm
        FROM s JOIN f USING (h)
        GROUP BY s.doc_id
        HAVING SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) >= 1
        ORDER BY s.doc_id
      """.stripMargin.trim)),

    // Unigram-LM fluency score — the CCNet/KenLM perplexity-filter
    // shape with the LM reduced to the corpus' own unigram
    // distribution so the whole pass (train + score) is closed-form:
    // score(doc) = mean over tokens of ln P(token). Determinism: each
    // token's log-probability is rounded to integer MICRO-NATS before
    // summation (float sums are order-sensitive; integer sums are
    // not), and the per-doc mean is an integer division. Plan: one
    // token-count groupBy (the "training pass"), an equi-join of
    // exploded tokens against it, one per-doc aggregate.
    GraftQuery(
      "q105_unigram_logprob",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val toks = d.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("t"))
        val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
        val tot = toks.agg(count(lit(1)).as("n_total"))
        // the count table is vocabulary-bounded — pin it as the build
        // side. Unpinned, Spark's static size estimate (compressed
        // parquet bytes, blind to the explode fan-out) can pick the
        // corpus-sized token stream as the broadcast side, which is a
        // driver OOM at real scale. (Open-vocabulary corpora where the
        // vocab itself outgrows a broadcast would switch to a salted
        // shuffle join instead.)
        toks.join(broadcast(cnt), "t")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            round(log(col("n_t").cast("double") / col("n_total")) * 1e6)
              .cast("long").as("mn"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("mn")).as("sum_micronats"))
          .withColumn("avg_micronats", expr("sum_micronats div n_tok"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        cnt AS (SELECT t, COUNT(*) AS n_t FROM toks GROUP BY t),
        tot AS (SELECT COUNT(*) AS n_total FROM toks),
        scored AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(n_t AS DOUBLE) / n_total) * 1e6) AS BIGINT) AS mn
          FROM toks JOIN cnt USING (t) CROSS JOIN tot)
        SELECT doc_id, COUNT(*) AS n_tok,
               CAST(SUM(mn) AS BIGINT) AS sum_micronats,
               CAST(SUM(mn) AS BIGINT) // COUNT(*) AS avg_micronats
        FROM scored GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim)),

    // Prototypicality pruning — the OTHER half of the SemDeDup recipe
    // (and the SSL-prototypes method): within each embedding cluster,
    // rank members by cosine to the cluster centroid and drop the
    // least-prototypical 20% (outliers, noise, mislabeled crawl). The
    // clusters are q79's deterministic sign buckets and the centroid
    // is the exact INTEGER component-wise sum of the bucket's
    // quantized vectors, so every dot product is exact 64-bit
    // arithmetic and the whole query replays in SQL. (At huge bucket
    // sizes the sum's magnitude would overflow the integer dot —
    // rescale to a mean centroid there; exactness at oracle scale is
    // the point of this formulation.) Keep rule is the integer
    // rational 5·rank ≤ 4·n — never a float threshold.
    GraftQuery(
      "q106_prototype_prune",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.select(col("vec_id").cast("long").as("vec_id"),
          graft.functions.VectorFns.quantize(col("embedding")).as("qv"))
        val cids = graft.operators.SemanticDedup.bucketIds(e, "vec_id", "embedding")
        val member = q.join(cids, "vec_id")
        // exact integer centroid: component-wise sum per bucket
        // (≤ 2^signDims rows — broadcast back)
        val cents = member
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos")).agg(sum(col("x")).as("sx"))
          .groupBy(col("cid"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
            p => p.getField("sx")).as("cent"))
        val dotQC = aggregate(zip_with(col("qv"), col("cent"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x)
        val nQ = aggregate(zip_with(col("qv"), col("qv"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x)
        val nC = aggregate(zip_with(col("cent"), col("cent"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x)
        val w = Window.partitionBy(col("cid"))
          .orderBy(col("proto").desc, col("vec_id"))
        member.join(broadcast(cents), "cid")
          .withColumn("proto", round(dotQC.cast("double") /
            (sqrt(nQ.cast("double")) * sqrt(nC.cast("double"))), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("cid"))))
          .select(col("vec_id"), col("cid").cast("long").as("cid"), col("proto"),
            col("rank"),
            when(expr("5 * rank <= 4 * n"), 1L).otherwise(0L).as("kept"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)) AS q
          FROM embeddings),
        n AS (
          SELECT vec_id, q,
                 (CASE WHEN list_sum(list_slice(q,  1, 16)) > 0 THEN 1 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 17, 32)) > 0 THEN 2 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 33, 48)) > 0 THEN 4 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 49, 64)) > 0 THEN 8 ELSE 0 END) AS cid
          FROM e),
        u AS (SELECT cid, i, SUM(q[CAST(i AS INT)]) AS sx
              FROM n CROSS JOIN range(1, 65) t(i) GROUP BY cid, i),
        x AS (SELECT vec_id, n.cid, i, q[CAST(i AS INT)] AS q_i
              FROM n CROSS JOIN range(1, 65) t(i)),
        dots AS (SELECT x.vec_id, SUM(x.q_i * u.sx) AS dot, SUM(x.q_i * x.q_i) AS nv
                 FROM x JOIN u ON u.cid = x.cid AND u.i = x.i
                 GROUP BY x.vec_id),
        ns AS (SELECT cid, SUM(sx * sx) AS nc FROM u GROUP BY cid),
        scored AS (
          SELECT n.vec_id, n.cid,
                 round(CAST(d.dot AS DOUBLE) /
                   (sqrt(CAST(d.nv AS DOUBLE)) * sqrt(CAST(ns.nc AS DOUBLE))), 6) AS proto
          FROM n JOIN dots d ON d.vec_id = n.vec_id JOIN ns ON ns.cid = n.cid),
        ranked AS (
          SELECT vec_id, cid, proto,
                 CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY proto DESC, vec_id) AS BIGINT) AS rank,
                 CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS n
          FROM scored)
        SELECT vec_id, CAST(cid AS BIGINT) AS cid, proto, rank,
               CAST(CASE WHEN 5 * rank <= 4 * n THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM ranked ORDER BY vec_id
      """.stripMargin.trim)),

    // Bigram-LM scoring (the KenLM-perplexity-filter shape, one order
    // up from q105's unigram): corpus-trained add-one-smoothed bigram
    // model, per-doc mean log-prob in exact integer micro-nats. The
    // plan (one vocab²-bounded count table, broadcast) lives in the
    // facade method this query runs.
    GraftQuery(
      "q154_bigram_logprob",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .bigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        idx AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM toks),
        bg AS (SELECT doc_id, a[CAST(i AS INT)] AS w1,
                      a[CAST(i AS INT)] || ' ' || a[CAST(i + 1 AS INT)] AS b
               FROM idx),
        cb AS (SELECT b, COUNT(*) AS n_b FROM bg GROUP BY b),
        cw AS (SELECT w1, COUNT(*) AS n_ctx FROM bg GROUP BY w1),
        v AS (SELECT COUNT(DISTINCT t) AS v
              FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        scored AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(n_b + 1 AS DOUBLE) /
                   CAST(n_ctx + v AS DOUBLE)) * 1e6) AS BIGINT) AS mn
          FROM bg JOIN cb USING (b) JOIN cw USING (w1) CROSS JOIN v)
        SELECT doc_id, COUNT(*) AS n_big,
               CAST(SUM(mn) AS BIGINT) AS sum_micronats,
               CAST(SUM(mn) AS BIGINT) // COUNT(*) AS avg_micronats
        FROM scored GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim)),

    // DSIR-style importance weighting (Xie et al.: data selection by
    // importance resampling): per-token log-ratio of a TARGET unigram
    // distribution (here: the English slice) to the SOURCE (whole
    // corpus), Laplace-smoothed, summed per doc in micro-nats, plus a
    // keep flag for positive weights.
    GraftQuery(
      "q155_dsir_weights",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .dsirWeights(Tables.load(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .select(col("doc_id"), col("n_tok"), col("weight_micronats"),
          when(col("weight_micronats") > 0L, 1L).otherwise(0L).as("keep"))
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
        cnt AS (
          SELECT t, COUNT(*) AS n_src,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
          FROM toks GROUP BY t),
        tot AS (
          SELECT COUNT(*) AS tot_src,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tot_tgt,
                 COUNT(DISTINCT t) AS v
          FROM toks),
        scored AS (
          SELECT doc_id,
                 CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tot_tgt + v AS DOUBLE))
                           - ln(CAST(n_src + 1 AS DOUBLE) / CAST(tot_src + v AS DOUBLE)))
                        * 1e6) AS BIGINT) AS mn
          FROM toks JOIN cnt USING (t) CROSS JOIN tot)
        SELECT doc_id, COUNT(*) AS n_tok,
               CAST(SUM(mn) AS BIGINT) AS weight_micronats,
               CAST(CASE WHEN SUM(mn) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM scored GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim)),

    // Hashed linear quality classifier (the fastText-style scoring
    // pass every production curation stack runs) with the facade's
    // default md5-derived token weights. Map-only until the per-doc
    // aggregate: ONE shuffle at any corpus size.
    GraftQuery(
      "q156_quality_classifier",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .qualityClassifier(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        scored AS (
          SELECT doc_id,
                 ('0x' || substr(md5('w:' || t), 1, 15))::BIGINT % 2001 - 1000 AS w_milli
          FROM toks)
        SELECT doc_id, COUNT(*) AS n_tok,
               CAST(SUM(w_milli) AS BIGINT) AS logit_milli,
               CAST(CASE WHEN SUM(w_milli) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
        FROM scored GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim))
  )
}
