package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Request-level members of [[QueryDsl]] that compile to whole plans
  * rather than row predicates: the span family, intervals, suggesters,
  * nested inner_hits, has_child/has_parent, knn.
  */
private[search] trait QueryDslRequests { this: QueryDsl.type =>

  /** Request-level `nested` with `inner_hits` — return the MATCHING
    * child objects alongside each parent hit (the standard nested UX:
    * "which line items matched?"). One row per (parent hit, matching
    * element), element order preserved (the document order — element
    * scores are uniform under the same-element conjunction, so index
    * order IS the OpenSearch tie-break), capped at `size` per parent.
    * `inner_hits._source` names the element fields to surface (bare or
    * path-prefixed), each as a typed `inner_<field>` column plus the
    * 1-based `inner_rank` — no join, no shuffle: a pure-codegen
    * filter + slice + posexplode over the already-probed array.
    * Only the REQUEST-level nested clause takes inner_hits (inside a
    * bool tree there is no hit row to attach children to — fails loud
    * via the clause compiler's option check).
    */
  private[search] def nestedInnerHitsRequest(table: DataFrame, body: JValue): DataFrame = {
    val m = body match {
      case JObject(s) => s.toMap
      case other      => fail(s"nested must be an object: ${render(other)}")
    }
    val ih = m("inner_hits") match {
      case JObject(s) => s.toMap
      case other      => fail(s"inner_hits must be an object: ${render(other)}")
    }
    ih.keySet.diff(Set("size", "_source")).foreach(k =>
      fail(s"unsupported nested inner_hits option '$k'"))
    val n = intOpt(ih, "size").getOrElse(fail("nested inner_hits requires a size"))
    if (n < 1) fail("inner_hits size must be >= 1")
    val (path, matched, cq) = nestedCompile(JObject((m - "inner_hits").toList))
    val fields: Seq[String] = ih.get("_source") match {
      case Some(JArray(fs)) if fs.nonEmpty => fs.map {
        case JString(f) =>
          if (f.startsWith(s"$path.")) f.drop(path.length + 1) else f
        case other => fail(s"inner_hits _source entries must be strings: ${render(other)}")
      }
      case _ => fail("nested inner_hits requires a non-empty _source " +
        "(the element fields to surface)")
    }
    val base = table.filter(cq.pred)
      .withColumn("score", cq.score)
      .select(col("*"), posexplode(slice(matched, 1, n)))
      .withColumn("inner_rank", (col("pos") + 1).cast("long"))
    fields.foldLeft(base) { (d, f) =>
      d.withColumn(s"inner_$f", col("col").getField(f))
    }.drop("pos", "col")
  }

  /** A member clause of the span family: `span_term` (exact token) or
    * `span_multi` wrapping a multi-term query — `prefix`, `wildcard`,
    * `fuzzy` or `regexp`, the OpenSearch span_multi contract (range
    * and friends are not span-composable there either). Returns the
    * target field, the TOKEN predicate (the postings filter of the
    * posexploded stream, generalized from equality), and a canonical
    * key — two clauses with the same key must pair DISTINCT positions
    * in span_near, exactly like a repeated span_term.
    *
    * Analysis follows the engine-wide split: span_term text goes
    * through the analyzer twin (so spans agree with `match` over an
    * analyzed corpus), while span_multi values are used VERBATIM —
    * multi-term queries are never analyzed (the term-level contract;
    * a lowercased pattern against a lowercasing analyzer's stream is
    * the caller's composition, same as top-level prefix/wildcard).
    */
  private[search] def spanClause(clause: JValue, an: Analyzer, where: String)
      : (String, Column => Column, String) = clause match {
    case JObject(List(("span_term", JObject(List((f, JString(t))))))) =>
      val at = analyzedTerm(an, t, where)
      (f, tok => tok === at, s"term $f $at")
    case JObject(List(("span_multi", JObject(sm)))) =>
      val m = sm.toMap
      m.keySet.diff(Set("match")).foreach(k =>
        fail(s"unsupported span_multi option '$k' (span_multi takes " +
          "exactly {match: {<multi-term query>}})"))
      m.get("match") match {
        case Some(JObject(List((kind, body)))) => kind match {
          case "prefix" =>
            val (f, v, ci) = fieldValueCi(body, "span_multi prefix")
            v match {
              case JString(s) if s.nonEmpty =>
                if (ci) {
                  val lo = s.toLowerCase(java.util.Locale.ROOT)
                  (f, tok => lower(tok).startsWith(lit(lo)),
                    s"prefix_ci $f $lo")
                } else (f, tok => tok.startsWith(lit(s)),
                  s"prefix $f $s")
              case _ => fail(s"span_multi prefix on '$f' requires a " +
                "non-empty string value")
            }
          case "wildcard" =>
            val (f, v, ci) = fieldValueCi(body, "span_multi wildcard")
            v match {
              case JString(s) if s.nonEmpty =>
                val pat = wildcardToLike(
                  if (ci) s.toLowerCase(java.util.Locale.ROOT) else s)
                if (ci) (f, tok => lower(tok).like(pat),
                  s"wildcard_ci $f $pat")
                else (f, tok => tok.like(pat), s"wildcard $f $pat")
              case _ => fail(s"span_multi wildcard on '$f' requires a " +
                "non-empty string pattern")
            }
          case "fuzzy" =>
            // the fuzzy-clause option shape (value / fuzziness /
            // prefix_length / transpositions), reapplied to single tokens
            val (f, value, fuzz, prefixLen, transp) = body match {
              case JObject(List((f0, JString(s)))) => (f0, s, 1L, 0, false)
              case JObject(List((f0, JObject(opts)))) =>
                val fm = opts.toMap
                fm.keySet.diff(Set("value", "fuzziness", "prefix_length",
                  "transpositions")).foreach(k =>
                    fail(s"unsupported span_multi fuzzy option '$k' on '$f0'"))
                val v = strOpt(fm, "value").getOrElse(
                  fail(s"span_multi fuzzy on '$f0' requires a string 'value'"))
                val fz = fm.get("fuzziness") match {
                  case Some(JInt(i)) if i < 0 =>
                    fail("fuzziness must be non-negative")
                  case Some(JInt(i)) => i.toLong
                  case None          => 1L
                  case Some(other) =>
                    fail(s"fuzziness must be an int: ${render(other)}")
                }
                val tr = fm.get("transpositions") match {
                  case None           => false
                  case Some(JBool(b)) => b
                  case Some(other) =>
                    fail(s"transpositions must be a boolean: ${render(other)}")
                }
                (f0, v, fz, intOpt(fm, "prefix_length").getOrElse(0), tr)
              case other =>
                fail(s"span_multi fuzzy requires {field: spec}: ${render(other)}")
            }
            if (value.isEmpty) fail(s"span_multi fuzzy on '$f' has an empty value")
            val edit: (Column, Column) => Column =
              if (transp) graft.plans.DamerauLevenshtein.apply
              else levenshtein(_, _)
            val guard: Column => Column =
              if (prefixLen <= 0) _ => lit(true)
              else tok => tok.startsWith(lit(value.take(prefixLen)))
            (f, tok => guard(tok) && lengthBand(tok, value, fuzz) &&
              edit(tok, lit(value)) <= lit(fuzz),
              s"fuzzy $f $value $fuzz $prefixLen $transp")
          case "regexp" =>
            val (f, v, ci) = fieldValueCi(body, "span_multi regexp")
            val pat = v match {
              case JString(s) if s.nonEmpty => s
              case _ => fail(s"span_multi regexp on '$f' requires a " +
                "non-empty string pattern")
            }
            val anchored = if (ci) s"^(?i)(?:$pat)$$" else s"^(?:$pat)$$"
            (f, tok => tok.rlike(anchored), s"regexp $f $anchored")
          case other => fail(s"span_multi supports prefix, wildcard, fuzzy " +
            s"and regexp (the span-composable multi-term queries), got '$other'")
        }
        case _ => fail("span_multi requires {match: {<multi-term query>}}")
      }
    case other =>
      fail(s"$where clauses must be span_term or span_multi objects: ${render(other)}")
  }

  /** `span_near`: proximity query — both span clauses occur
    * within `slop` intervening tokens, optionally `in_order` (the
    * q126/q133 contracts). Request-level like more_like_this: token
    * positions come from ONE posexplode, each clause's postings are a
    * pushed filter of it, and the pairing is an equi-join on the
    * document key whose blow-up is tf₁·tf₂ per document, never
    * corpus². Exactly two clauses (span_term or span_multi — see
    * [[spanClause]]) over the same field; `id_field` names the
    * document key. Output: the id field, `n_pairs`, `min_gap`,
    * score = pair count.
    */
  private[search] def spanNearRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("clauses", "slop", "in_order", "id_field",
          "analyzer")).foreach(k =>
          fail(s"unsupported span_near option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail("span_near requires id_field (the document key)"))
        // analyzer: positions come from the NORMALIZED token stream and
        // each span_term is normalized with the twin — the match-family
        // contract, so span queries agree with match over an analyzed
        // corpus (VERDICT r8 #1)
        val an = analyzerOpt(m, "span_near")
        val (c1, c2) = m.get("clauses") match {
          case Some(JArray(List(a, b))) =>
            (spanClause(a, an, "span_near"), spanClause(b, an, "span_near"))
          case _ => fail("span_near requires exactly two clauses " +
            "(span_term or span_multi)")
        }
        val (f1, pred1, key1) = c1
        val (f2, pred2, key2) = c2
        if (f1 != f2) fail("span_near clauses must target the same field")
        val slop = intOpt(m, "slop")
          .getOrElse(fail("span_near requires an integer slop"))
        if (slop < 0) fail("span_near slop must be non-negative")
        val inOrder = m.get("in_order") match {
          case Some(JBool(b)) => b
          case None           => false
          case Some(other)    => fail(s"in_order must be a boolean: ${render(other)}")
        }
        val pos = table.select(col(idField),
          posexplode(split(an.norm(col(f1)), " ")).as(Seq("p", "tok")))
        val p1 = pos.filter(pred1(col("tok"))).select(col(idField), col("p").as("p1"))
        val p2 = pos.filter(pred2(col("tok"))).select(col(idField), col("p").as("p2"))
        // a repeated clause must pair DISTINCT occurrences exactly once;
        // ordered spans additionally fix the direction
        val paired =
          if (inOrder) p1.join(p2, idField).filter(col("p2") > col("p1"))
          else if (key1 == key2) p1.join(p2, idField).filter(col("p1") < col("p2"))
          else p1.join(p2, idField)
        val gap =
          if (inOrder) (col("p2") - col("p1") - 1).cast("long")
          else (abs(col("p1") - col("p2")) - 1).cast("long")
        paired.withColumn("gap", gap)
          .filter(col("gap") <= slop)
          .groupBy(col(idField))
          .agg(count(lit(1)).as("n_pairs"), min(col("gap")).as("min_gap"))
          .withColumn("score", col("n_pairs"))
      case other => fail(s"span_near requires an object body: ${render(other)}")
    }

  /** `span_or`: any of the member clauses (span_term or span_multi —
    * see [[spanClause]]) occurs — the postings UNION (ONE posexplode,
    * one OR-of-predicates filter; a token matched by several clauses
    * dedups by construction since membership is positional). Same
    * request-level shape as span_near.
    * Output: the id field, `n_spans` (matching token positions),
    * score = n_spans.
    */
  private[search] def spanOrRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("clauses", "id_field", "analyzer")).foreach(k =>
          fail(s"unsupported span_or option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail("span_or requires id_field (the document key)"))
        val an = analyzerOpt(m, "span_or")
        val cs = m.get("clauses") match {
          case Some(JArray(cls)) if cls.size >= 2 =>
            cls.map(spanClause(_, an, "span_or"))
          case _ => fail("span_or requires an array of >= 2 clauses " +
            "(span_term or span_multi)")
        }
        val fields = cs.map(_._1).distinct
        if (fields.size != 1) fail("span_or clauses must target the same field")
        // a token matching several member clauses counts ONCE — the OR
        // of the postings predicates is positional membership, exactly
        // the old isin dedup generalized
        table.select(col(idField),
            posexplode(split(an.norm(col(fields.head)), " ")).as(Seq("p", "tok")))
          .filter(cs.map(_._2(col("tok"))).reduce(_ || _))
          .groupBy(col(idField))
          .agg(count(lit(1)).as("n_spans"))
          .withColumn("score", col("n_spans"))
      case other => fail(s"span_or requires an object body: ${render(other)}")
    }

  /** Standalone `span_multi`: every token position matching the
    * wrapped multi-term query (`prefix`/`wildcard`/`fuzzy`/`regexp` —
    * see [[spanClause]]) counts as a span. The degenerate one-clause
    * span_or: ONE posexplode, one predicate filter, one partial-agg
    * count per document — map-side combine, no pairing join at all.
    * Output: id field, `n_spans`, score = n_spans.
    */
  private[search] def spanMultiRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("match", "id_field", "analyzer")).foreach(k =>
          fail(s"unsupported span_multi option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail("span_multi requires id_field (the document key)"))
        val an = analyzerOpt(m, "span_multi")
        val mt = m.getOrElse("match",
          fail("span_multi requires {match: {<multi-term query>}}"))
        val (field, pred, _) = spanClause(
          JObject(List(("span_multi", JObject(List(("match", mt)))))),
          an, "span_multi")
        table.select(col(idField),
            posexplode(split(an.norm(col(field)), " ")).as(Seq("p", "tok")))
          .filter(pred(col("tok")))
          .groupBy(col(idField))
          .agg(count(lit(1)).as("n_spans"))
          .withColumn("score", col("n_spans"))
      case other => fail(s"span_multi requires an object body: ${render(other)}")
    }

  /** `span_not`: occurrences of the `include` term with NO `exclude`
    * occurrence within `pre` tokens before / `post` tokens after
    * (`dist` sets both) — the negative-context span (e.g. "apple" not
    * preceded by "big"). One posexplode, include postings LEFT-join
    * exclude postings on the document key (blow-up tfᵢ·tfₑ per doc,
    * the span_near cost shape, never corpus²), per-position violation
    * flag, survivors counted. Output: id field, `n_spans`, score.
    */
  private[search] def spanNotRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("include", "exclude", "pre", "post", "dist",
          "id_field", "analyzer")).foreach(k =>
          fail(s"unsupported span_not option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail("span_not requires id_field (the document key)"))
        val an = analyzerOpt(m, "span_not")
        def spanTerm(k: String): (String, String) = m.get(k) match {
          case Some(JObject(List(("span_term", JObject(List((f, JString(t)))))))) =>
            (f, analyzedTerm(an, t, "span_not"))
          case _ => fail(s"span_not requires $k: {span_term: {field: term}}")
        }
        val (fi, ti) = spanTerm("include")
        val (fe, te) = spanTerm("exclude")
        if (fi != fe) fail("span_not include/exclude must target the same field")
        if (m.contains("dist") && (m.contains("pre") || m.contains("post")))
          fail("span_not dist replaces pre/post (give one or the other)")
        val dist = intOpt(m, "dist")
        val pre = intOpt(m, "pre").orElse(dist).getOrElse(0)
        val post = intOpt(m, "post").orElse(dist).getOrElse(0)
        if (pre < 0 || post < 0) fail("span_not pre/post must be non-negative")
        val pos = table.select(col(idField),
          posexplode(split(an.norm(col(fi)), " ")).as(Seq("p", "tok")))
        val pi = pos.filter(col("tok") === ti).select(col(idField), col("p"))
        val pe = pos.filter(col("tok") === te)
          .select(col(idField), col("p").as("pe"))
        pi.join(pe, Seq(idField), "left")
          .groupBy(col(idField), col("p"))
          .agg(max(when(col("pe").isNotNull &&
            col("pe") >= col("p") - lit(pre) &&
            col("pe") <= col("p") + lit(post), 1).otherwise(0)).as("__viol"))
          .filter(col("__viol") === 0)
          .groupBy(col(idField))
          .agg(count(lit(1)).as("n_spans"))
          .withColumn("score", col("n_spans"))
      case other => fail(s"span_not requires an object body: ${render(other)}")
    }

  /** `span_containing` / `span_within`: the big/little span pair —
    * `big` is a two-term span_near (the pair machinery shared with
    * the standalone clause), `little` a span_term over the same
    * field. `span_containing` counts big spans enclosing at least one
    * little occurrence; `span_within` counts little occurrences
    * enclosed by at least one big span (each side deduplicated — a
    * span matching several partners counts once, the OpenSearch span
    * model). Postings joins only: tf products per document, never
    * corpus². Output: id field, `n_spans`, score = n_spans.
    */
  private[search] def spanContainRequest(table: DataFrame, body: JValue,
      within: Boolean): DataFrame = {
    val name = if (within) "span_within" else "span_containing"
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("big", "little", "id_field", "analyzer")).foreach(k =>
          fail(s"unsupported $name option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail(s"$name requires id_field (the document key)"))
        val an = analyzerOpt(m, name)
        val bm = m.get("big") match {
          case Some(JObject(List(("span_near", JObject(b))))) => b.toMap
          case _ => fail(s"$name requires big: {span_near: {clauses, slop}}")
        }
        bm.keySet.diff(Set("clauses", "slop", "in_order")).foreach(k =>
          fail(s"unsupported $name big span_near option '$k'"))
        val (f1, t10, f2, t20) = bm.get("clauses") match {
          case Some(JArray(List(
              JObject(List(("span_term", JObject(List((fa, JString(ta))))))),
              JObject(List(("span_term", JObject(List((fb, JString(tb)))))))))) =>
            (fa, ta, fb, tb)
          case _ => fail(s"$name big requires exactly two span_term clauses")
        }
        val slop = intOpt(bm, "slop")
          .getOrElse(fail(s"$name big span_near requires an integer slop"))
        if (slop < 0) fail(s"$name big slop must be non-negative")
        val inOrder = bm.get("in_order") match {
          case Some(JBool(b)) => b
          case None           => false
          case Some(other) => fail(s"in_order must be a boolean: ${render(other)}")
        }
        val (fl, tl0) = m.get("little") match {
          case Some(JObject(List(("span_term", JObject(List((f, JString(t)))))))) =>
            (f, t)
          case _ => fail(s"$name requires little: {span_term: {field: term}}")
        }
        if (f1 != f2 || f1 != fl)
          fail(s"$name big/little clauses must target the same field")
        val t1 = analyzedTerm(an, t10, name)
        val t2 = analyzedTerm(an, t20, name)
        val tl = analyzedTerm(an, tl0, name)
        val pos = table.select(col(idField),
          posexplode(split(an.norm(col(f1)), " ")).as(Seq("p", "tok")))
        val p1 = pos.filter(col("tok") === t1).select(col(idField), col("p").as("p1"))
        val p2 = pos.filter(col("tok") === t2).select(col(idField), col("p").as("p2"))
        val paired =
          if (inOrder) p1.join(p2, idField).filter(col("p2") > col("p1"))
          else if (t1 == t2) p1.join(p2, idField).filter(col("p1") < col("p2"))
          else p1.join(p2, idField)
        val gap =
          if (inOrder) col("p2") - col("p1") - 1
          else abs(col("p1") - col("p2")) - 1
        val pairs = paired.filter(gap <= slop)
          .select(col(idField), least(col("p1"), col("p2")).as("s"),
            greatest(col("p1"), col("p2")).as("e"))
        val pl = pos.filter(col("tok") === tl)
          .select(col(idField), col("p").as("pl"))
        val enclosed = pairs.join(pl, Seq(idField))
          .filter(col("pl") >= col("s") && col("pl") <= col("e"))
        val qualified =
          if (within) enclosed.select(col(idField), col("pl")).distinct()
          else enclosed.select(col(idField), col("s"), col("e")).distinct()
        qualified.groupBy(col(idField))
          .agg(count(lit(1)).as("n_spans"))
          .withColumn("score", col("n_spans"))
      case other => fail(s"$name requires an object body: ${render(other)}")
    }
  }

  /** `intervals` query, `match` rule: ALL the rule's terms occur as an
    * ordered subsequence whose total intervening-token budget is at
    * most `max_gaps` (the OpenSearch intervals gap model:
    * `p_last − p_first − (k−1) ≤ max_gaps`). Request-level like
    * span_near and the same postings shape generalized to k terms:
    * ONE posexplode, k pushed postings filters, a k−1-step equi-join
    * chain on the document key whose blow-up is Π tfᵢ per document —
    * never corpus². k is capped at 4 (beyond that the tuple product
    * is the wrong plan; compose span queries instead). Ordered only —
    * the unordered 2-term case IS `span_near`, fail points there.
    * Output: (id_field, n_spans, min_gaps, score = n_spans).
    */
  /** One intervals RULE compiled to its SPAN SET — a DataFrame of
    * (idField, s, e) token spans over the request's shared position
    * stream (`pos`: ONE posexplode feeds every member — the efficient
    * plan, and the reason members inherit the top analyzer instead of
    * carrying their own). Rules:
    *  - `match`: the k-term ordered chain (1..4 terms; the 1-term
    *    degenerate gives single-token spans so compositions can mix
    *    words with phrases); spans (p_first, p_last), gap budget
    *    enforced, DISTINCT (different middle tokens can produce the
    *    same outer span).
    *  - `prefix`: single-token spans of the stem's postings.
    *  - `any_of`: the positional UNION of 2..4 member span sets.
    *  - `all_of` (ordered: true only): members in sequence, each
    *    span STRICTLY after the previous (s_i > e_{i-1} — the
    *    non-overlap rule), total intervening budget
    *    Σ(s_i − e_{i-1} − 1) ≤ max_gaps; result spans
    *    (s_first, e_last), DISTINCT.
    * Nesting is capped at depth 3 (the tuple-product cost of deep
    * compositions is the wrong plan — compose requests instead).
    * Lucene's minimal-interval algebra is NOT replicated: the span
    * SETS here are the full combinatorial ones, deduplicated — the
    * deterministic analog this engine's n_spans score model needs
    * (OpenSearch exposes no span counts at all); a doc MATCHES under
    * exactly the same conditions, which is the wire contract.
    */
  private[search] def intervalRuleSpans(pos: DataFrame, idField: String,
      an: Analyzer, rule: JValue, depth: Int): DataFrame = {
    if (depth > 3)
      fail("intervals compositions nest at most 3 levels deep " +
        "(compose requests instead)")
    def spanChain(terms: Seq[String], maxGaps: Long): DataFrame = {
      def postings(term: String): Column =
        if (term.endsWith("*")) {
          val stem = term.dropRight(1)
          if (stem.isEmpty || stem.contains("*"))
            fail(s"intervals term '$term': only a trailing * stem is supported")
          col("tok").startsWith(stem)
        } else if (term.contains("*"))
          fail(s"intervals term '$term': only a trailing * stem is supported")
        else col("tok") === term
      val k = terms.size
      var acc = pos.filter(postings(terms.head))
        .select(col(idField), col("p").as("p0"))
      for (i <- 1 until k) {
        val pi = pos.filter(postings(terms(i)))
          .select(col(idField), col("p").as(s"p$i"))
        acc = acc.join(pi, idField).filter(col(s"p$i") > col(s"p${i - 1}"))
      }
      acc.filter((col(s"p${k - 1}") - col("p0") - lit(k - 1)) <= lit(maxGaps))
        .select(col(idField), col("p0").as("s"), col(s"p${k - 1}").as("e"))
        .distinct()
    }
    rule match {
      case JObject(List(("match", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("query", "max_gaps", "ordered")).foreach(k =>
          fail(s"unsupported intervals match option '$k' (members inherit " +
            "the composition's analyzer)"))
        val terms = strOpt(r, "query")
          .getOrElse(fail("intervals match needs a query"))
          .split(" ").filter(_.nonEmpty).toSeq
          .map { t =>
            if (t.endsWith("*") && !t.dropRight(1).isEmpty &&
                !t.dropRight(1).contains("*"))
              analyzedTerm(an, t.dropRight(1), "intervals") + "*"
            else if (t.contains("*")) t
            else analyzedTerm(an, t, "intervals")
          }
        if (terms.isEmpty || terms.size > 4)
          fail(s"intervals match (as a composition member) takes 1..4 " +
            s"terms, got ${terms.size}")
        if (terms.size == 1) {
          Seq("max_gaps", "ordered").filter(r.contains).foreach(k =>
            fail(s"intervals match with one term takes no $k"))
          spanChain(terms, 0L)
        } else {
          val maxGaps = intOpt(r, "max_gaps")
            .getOrElse(fail("intervals match needs max_gaps"))
          if (maxGaps < 0) fail("max_gaps must be non-negative")
          r.get("ordered") match {
            case Some(JBool(true)) => ()
            case _ => fail("intervals supports ordered: true only " +
              "(the unordered two-term case is span_near)")
          }
          spanChain(terms, maxGaps.toLong)
        }
      case JObject(List(("prefix", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("prefix")).foreach(k =>
          fail(s"unsupported intervals prefix option '$k'"))
        val stem = strOpt(r, "prefix")
          .getOrElse(fail("intervals prefix needs a prefix"))
        val p = analyzedTerm(an, stem, "intervals prefix")
        pos.filter(col("tok").startsWith(p))
          .select(col(idField), col("p").as("s"), col("p").as("e"))
      // wildcard / fuzzy: the remaining single-token pattern rules —
      // the span_multi predicates reapplied to the shared stream.
      // Patterns are VERBATIM (multi-term queries are never analyzed,
      // the term-level contract); the fuzzy TERM normalizes like
      // span_term text does.
      case JObject(List(("wildcard", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("pattern")).foreach(k =>
          fail(s"unsupported intervals wildcard option '$k'"))
        val pat = strOpt(r, "pattern")
          .getOrElse(fail("intervals wildcard needs a pattern"))
        if (pat.isEmpty) fail("intervals wildcard pattern is empty")
        pos.filter(col("tok").like(wildcardToLike(pat)))
          .select(col(idField), col("p").as("s"), col("p").as("e"))
      case JObject(List(("fuzzy", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("term", "fuzziness", "prefix_length",
          "transpositions")).foreach(k =>
          fail(s"unsupported intervals fuzzy option '$k'"))
        val term0 = strOpt(r, "term")
          .getOrElse(fail("intervals fuzzy needs a term"))
        val term = analyzedTerm(an, term0, "intervals fuzzy")
        val fz = r.get("fuzziness") match {
          case Some(JInt(i)) if i >= 0 && i <= 2 => i.toLong
          case None        => 1L
          case Some(other) =>
            fail(s"intervals fuzziness must be 0-2: ${render(other)}")
        }
        val pl = intOpt(r, "prefix_length").getOrElse(0)
        if (pl < 0) fail("prefix_length must be >= 0")
        val transp = r.get("transpositions") match {
          case None           => false
          case Some(JBool(b)) => b
          case Some(other) =>
            fail(s"transpositions must be a boolean: ${render(other)}")
        }
        val edit: (Column, Column) => Column =
          if (transp) graft.plans.DamerauLevenshtein.apply
          else levenshtein(_, _)
        val guard: Column =
          if (pl <= 0) lit(true) else col("tok").startsWith(term.take(pl))
        pos.filter(guard && edit(col("tok"), lit(term)) <= lit(fz))
          .select(col(idField), col("p").as("s"), col("p").as("e"))
      case JObject(List(("any_of", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("intervals")).foreach(k =>
          fail(s"unsupported intervals any_of option '$k'"))
        val members = r.get("intervals") match {
          case Some(JArray(ms)) if ms.size >= 2 && ms.size <= 4 => ms
          case _ => fail("intervals any_of needs 2-4 member intervals")
        }
        members.map(intervalRuleSpans(pos, idField, an, _, depth + 1))
          .reduce(_ unionByName _).distinct()
      case JObject(List(("all_of", JObject(r0)))) =>
        val r = r0.toMap
        r.keySet.diff(Set("intervals", "max_gaps", "ordered")).foreach(k =>
          fail(s"unsupported intervals all_of option '$k'"))
        r.get("ordered") match {
          case Some(JBool(true)) => ()
          case _ => fail("intervals all_of supports ordered: true only")
        }
        val maxGaps = intOpt(r, "max_gaps")
          .getOrElse(fail("intervals all_of needs max_gaps"))
        if (maxGaps < 0) fail("max_gaps must be non-negative")
        val members = r.get("intervals") match {
          case Some(JArray(ms)) if ms.size >= 2 && ms.size <= 4 => ms
          case _ => fail("intervals all_of needs 2-4 member intervals")
        }
        val spans = members.map(intervalRuleSpans(pos, idField, an, _, depth + 1))
        var acc = spans.head.select(col(idField),
          col("s").as("s0"), col("e").as("e0"))
        for (i <- 1 until spans.size) {
          val mi = spans(i).select(col(idField),
            col("s").as(s"s$i"), col("e").as(s"e$i"))
          acc = acc.join(mi, idField).filter(col(s"s$i") > col(s"e${i - 1}"))
        }
        val gaps = (1 until spans.size)
          .map(i => col(s"s$i") - col(s"e${i - 1}") - lit(1))
          .reduce(_ + _)
        acc.filter(gaps <= lit(maxGaps.toLong))
          .select(col(idField), col("s0").as("s"),
            col(s"e${spans.size - 1}").as("e"))
          .distinct()
      case other =>
        fail(s"intervals rules are match, prefix, wildcard, fuzzy, " +
          s"any_of and all_of: ${render(other)}")
    }
  }

  private[search] def intervalsRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        val m = parts.toMap
        m.keySet.diff(Set("id_field")).toList match {
          case List(field) =>
            val idField = strOpt(m, "id_field")
              .getOrElse(fail("intervals requires id_field (the document key)"))
            // composed rules (any_of / all_of) go through the span-set
            // compiler; the bare match rule keeps its original path
            // (and its richer min_gaps output) byte-identical
            m(field) match {
              case JObject(List((kind @ ("any_of" | "all_of"), JObject(r0)))) =>
                val rm = r0.toMap
                val an = analyzerOpt(rm, s"intervals $kind")
                val pos = table.select(col(idField),
                  posexplode(split(an.norm(col(field)), " ")).as(Seq("p", "tok")))
                val rule = JObject(List((kind,
                  JObject(r0.filterNot(_._1 == "analyzer")))))
                return intervalRuleSpans(pos, idField, an, rule, depth = 1)
                  .groupBy(col(idField))
                  .agg(count(lit(1)).as("n_spans"))
                  .withColumn("score", col("n_spans"))
              case _ => ()
            }
            val rule = m(field) match {
              case JObject(List(("match", JObject(r)))) => r.toMap
              case other => fail(s"intervals.$field must be {match: {...}}, " +
                s"{any_of: {...}} or {all_of: {...}}: ${render(other)}")
            }
            rule.keySet.diff(Set("query", "max_gaps", "ordered", "analyzer"))
              .foreach(k => fail(s"unsupported intervals match option '$k'"))
            // analyzer: the position stream and each query term go
            // through the twin pair (a trailing `*` stem keeps its
            // expansion marker; only the stem text normalizes)
            val an = analyzerOpt(rule, "intervals")
            val terms = strOpt(rule, "query")
              .getOrElse(fail("intervals match needs a query"))
              .split(" ").filter(_.nonEmpty).toSeq
              .map { t =>
                if (t.endsWith("*") && !t.dropRight(1).isEmpty &&
                    !t.dropRight(1).contains("*"))
                  analyzedTerm(an, t.dropRight(1), "intervals") + "*"
                else if (t.contains("*")) t // postings() fails loud below
                else analyzedTerm(an, t, "intervals")
              }
            if (terms.size < 2 || terms.size > 4)
              fail(s"intervals match takes 2..4 terms, got ${terms.size}")
            val maxGaps = intOpt(rule, "max_gaps")
              .getOrElse(fail("intervals match needs max_gaps"))
            if (maxGaps < 0) fail("max_gaps must be non-negative")
            rule.get("ordered") match {
              case Some(JBool(true)) => ()
              case _ => fail("intervals supports ordered: true only " +
                "(the unordered two-term case is span_near)")
            }
            val pos = table.select(col(idField),
              posexplode(split(an.norm(col(field)), " ")).as(Seq("p", "tok")))
            // a trailing `*` makes the term a STEM: its postings are
            // every token with that prefix (the intervals `prefix`
            // rule folded into the match terms, mirroring the
            // query_string expansion convention); a bare or mid-token
            // `*` stays fail-loud
            def postings(term: String): Column =
              if (term.endsWith("*")) {
                val stem = term.dropRight(1)
                if (stem.isEmpty || stem.contains("*"))
                  fail(s"intervals term '$term': only a trailing * stem is supported")
                col("tok").startsWith(stem)
              } else if (term.contains("*"))
                fail(s"intervals term '$term': only a trailing * stem is supported")
              else col("tok") === term
            val k = terms.size
            var acc = pos.filter(postings(terms.head))
              .select(col(idField), col("p").as("p0"))
            for (i <- 1 until k) {
              val pi = pos.filter(postings(terms(i)))
                .select(col(idField), col("p").as(s"p$i"))
              acc = acc.join(pi, idField).filter(col(s"p$i") > col(s"p${i - 1}"))
            }
            acc
              .withColumn("gaps",
                (col(s"p${k - 1}") - col("p0") - lit(k - 1)).cast("long"))
              .filter(col("gaps") <= maxGaps)
              .groupBy(col(idField))
              .agg(count(lit(1)).as("n_spans"), min(col("gaps")).as("min_gaps"))
              .withColumn("score", col("n_spans"))
          case other =>
            fail(s"intervals requires exactly one field entry, got: $other")
        }
      case other => fail(s"intervals requires an object body: ${render(other)}")
    }

  /** `suggest` section, `term` suggester: per input token, the
    * top-`size` in-vocabulary corrections within `max_edits`
    * levenshtein edits, ranked (distance, frequency desc, term) — the
    * q117 contract. The corpus-sized work is ONE vocabulary
    * aggregation; the inputs broadcast into the length-banded
    * candidate join, so the request side never shuffles the corpus.
    * Output rows: (q, rank, term, dist, freq) ordered by (q, rank).
    */
  private[search] def suggestRequest(table: DataFrame, sugg: JValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (name, text, spec) = sugg match {
      case JObject(List((n, JObject(body)))) =>
        val m = body.toMap
        m.keySet.diff(Set("text", "term", "phrase", "prefix", "completion"))
          .foreach(k => fail(s"unsupported suggester option '$k' in '$n'"))
        m.get("completion").foreach { c =>
          if (m.contains("term") || m.contains("phrase") || m.contains("text"))
            fail(s"suggester '$n' mixes completion with term/phrase/text")
          val p = strOpt(m, "prefix")
            .getOrElse(fail(s"completion suggester '$n' requires a prefix"))
          return completionSuggestRequest(table, n, p, c)
        }
        if (m.contains("prefix"))
          fail(s"suggester '$n': prefix belongs to the completion suggester")
        val t = strOpt(m, "text")
          .getOrElse(fail(s"suggester '$n' requires a text"))
        m.get("phrase").foreach { p =>
          if (m.contains("term")) fail(s"suggester '$n' declares both term and phrase")
          return phraseSuggestRequest(table, n, t, p)
        }
        val s = m.getOrElse("term",
          fail(s"suggester '$n' requires a term or phrase body"))
        (n, t, s)
      case other => fail(s"suggest requires one named suggester: ${render(other)}")
    }
    val sm = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"term suggester '$name' must be an object: ${render(other)}")
    }
    sm.keySet.diff(Set("field", "max_edits", "size", "analyzer")).foreach(k =>
      fail(s"unsupported term-suggester option '$k' in '$name'"))
    val f = strOpt(sm, "field").getOrElse(fail(s"term suggester '$name' needs a field"))
    val maxEdits = intOpt(sm, "max_edits").getOrElse(2)
    val size = intOpt(sm, "size").getOrElse(3)
    // analyzer: the vocabulary is built from the NORMALIZED token
    // stream and the input text normalizes through the twin — so
    // corrections come from the same term space `match` queries hit
    val an = analyzerOpt(sm, s"term suggester '$name'")
    val inputs = an.normText(text).trim.split("\\s+").toSeq.distinct
    if (inputs.isEmpty || inputs == Seq("")) fail(s"suggester '$name' has an empty text")

    val vocab = table
      .select(explode(array_distinct(split(an.norm(col(f)), " "))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val in = table.sparkSession.range(1)
      .select(explode(array(inputs.map(lit): _*)).as("q"))
    val cand = vocab.join(broadcast(in),
        abs(length(col("term")) - length(col("q"))) <= maxEdits &&
          col("term") =!= col("q") &&
          levenshtein(col("q"), col("term")) <= maxEdits)
      .select(col("q"), col("term"),
        levenshtein(col("q"), col("term")).cast("long").as("dist"), col("freq"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("dist"), col("freq").desc, col("term"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= size)
      .select(col("q"), col("rank"), col("term"), col("dist"), col("freq"))
      .orderBy(col("q"), col("rank"))
  }

  /** `suggest` section, `completion` suggester: search-box
    * autocomplete — the top-`size` corpus tokens starting with
    * `prefix`, ranked by frequency then term (the q115 contract;
    * tokens shorter than `min_length` are noise-pruned). Map-side
    * explode+filter, one partial-agg shuffle of only prefix-matching
    * tokens, bounded top-k — the term-frequency table a real
    * deployment materializes is exactly `etl.SearchIndex`'s postings.
    * Output rows: (term, freq) ordered (freq desc, term).
    */
  private[search] def completionSuggestRequest(table: DataFrame, name: String,
      prefix: String, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"completion suggester '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "size", "min_length", "analyzer", "fuzzy",
      "contexts")).foreach(k =>
      fail(s"unsupported completion-suggester option '$k' in '$name'"))
    val f = strOpt(m, "field")
      .getOrElse(fail(s"completion suggester '$name' needs a field"))
    val size = intOpt(m, "size").getOrElse(10)
    val minLen = intOpt(m, "min_length").getOrElse(1)
    // `fuzzy`: typo-tolerant completion — a term completes when its
    // PREFIX (the typed length) is within `fuzziness` edits of the
    // input (the Lucene fuzzy-completion contract). Default stays
    // exact; fuzziness defaults to 1 when the object is given
    // (deterministic — OpenSearch's AUTO needs no length rule for a
    // single known prefix, but 1 is its resolution for 3-5 chars and
    // the documented default here).
    val fz: Int = m.get("fuzzy") match {
      case None => 0
      case Some(JObject(fo)) =>
        val fm = fo.toMap
        fm.keySet.diff(Set("fuzziness")).foreach(k =>
          fail(s"unsupported completion fuzzy option '$k' in '$name'"))
        fm.get("fuzziness") match {
          case Some(JInt(i)) if i >= 0 && i <= 2 => i.toInt
          case None        => 1
          case Some(other) =>
            fail(s"completion fuzziness must be 0-2: ${render(other)}")
        }
      case Some(other) =>
        fail(s"completion fuzzy must be an object ({fuzziness}): ${render(other)}")
    }
    // `contexts`: filtered completions — each context either names a
    // COLUMN of the table (the engine has no context mapping registry)
    // with category value(s), matching ANY of them, or is a GEO
    // context object `{lat, lon, precision, lat_field, lon_field}`:
    // completions come only from rows whose precision-p geohash cell
    // equals the query point's (the same codegen'd [[geohashCol]] the
    // geohash_grid agg keys on — the query side constant-folds).
    // Several contexts AND together (the OpenSearch filter semantics);
    // the filter sits BEFORE the explode, pushed into the scan.
    val ctxFilter: Column = m.get("contexts") match {
      case None => lit(true)
      case Some(JObject(cs)) if cs.nonEmpty =>
        cs.map {
          case (ctx, JArray(vs)) if vs.nonEmpty =>
            col(ctx).isin(vs.map(scalaOf): _*)
          case (ctx, JString(s)) => col(ctx) === s
          case (ctx, JObject(g)) =>
            val gm = g.toMap
            gm.keySet.diff(Set("lat", "lon", "precision",
              "lat_field", "lon_field")).foreach(k =>
              fail(s"unsupported geo-context option '$k' in context '$ctx'"))
            def num(k: String): Double = gm.get(k) match {
              case Some(JDouble(d))  => d
              case Some(JInt(i))     => i.toDouble
              case Some(JDecimal(d)) => d.toDouble
              case _ => fail(s"geo context '$ctx' needs numeric '$k'")
            }
            val p = intOpt(gm, "precision").getOrElse(5)
            if (p < 1 || p > 12)
              fail(s"geo context '$ctx' precision must be 1-12, got $p")
            val laF = strOpt(gm, "lat_field").getOrElse(fail(
              s"geo context '$ctx' needs lat_field (no mapping registry)"))
            val loF = strOpt(gm, "lon_field").getOrElse(fail(
              s"geo context '$ctx' needs lon_field (no mapping registry)"))
            geohashCol(col(laF), col(loF), p) ===
              geohashCol(lit(num("lat")), lit(num("lon")), p)
          case (ctx, other) => fail(s"completion context '$ctx' must be a " +
            s"value, non-empty array, or geo object: ${render(other)}")
        }.reduce(_ && _)
      case Some(other) =>
        fail(s"completion contexts must be a non-empty object: ${render(other)}")
    }
    // analyzer: completions come from the normalized term space; the
    // typed prefix normalizes through the twin (a prefix that analyzes
    // to nothing, or to several tokens, can't anchor a completion)
    val an = analyzerOpt(m, s"completion suggester '$name'")
    val p = if (an eq Analyzer.Whitespace) prefix
            else analyzedTerm(an, prefix, s"completion suggester '$name'")
    if (p.isEmpty) fail(s"completion suggester '$name' has an empty prefix")
    if (size < 1) fail("completion size must be >= 1")
    val matches: Column =
      if (fz == 0) col("term").startsWith(p)
      else levenshtein(substring(col("term"), 1, p.length), lit(p)) <= lit(fz)
    table.filter(ctxFilter)
      .select(explode(split(an.norm(col(f)), " ")).as("term"))
      .filter(matches && length(col("term")) >= minLen)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(size)
  }

  /** `suggest` section, `phrase` suggester: whole-phrase spell
    * correction over a TWO-word input (the q121 contract) — per
    * position the top-`per_position` in-vocabulary candidates within
    * `max_edits` edits (distance, then document frequency: the term-
    * suggester ranking), whole phrases re-ranked by corpus bigram
    * evidence (OpenSearch's `collate`/LM idea, exact integer score).
    * The corpus-sized work is the vocabulary + bigram aggregations;
    * the request side stays ≤ per_position² candidate pairs, probed
    * against (never scanning) the bigram table. Longer phrases go
    * through the n-word facade pipeline — here they fail loud so the
    * oracle-checked shape stays total.
    * Output: (rank, w1, w2, bcount, dist) ordered by rank.
    */
  private[search] def phraseSuggestRequest(table: DataFrame, name: String,
      text: String, spec: JValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"phrase suggester '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "max_edits", "per_position", "size", "analyzer"))
      .foreach(k => fail(s"unsupported phrase-suggester option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"phrase suggester '$name' needs a field"))
    val maxEdits = intOpt(m, "max_edits").getOrElse(1)
    val perPos = intOpt(m, "per_position").getOrElse(5)
    val topN = intOpt(m, "size").getOrElse(5)
    // analyzer: normalize the FIELD COLUMN once up front — every
    // downstream split (vocabulary, bigram evidence) then reads the
    // normalized token stream; the input text goes through the twin
    val an = analyzerOpt(m, s"phrase suggester '$name'")
    val table1 = if (an eq Analyzer.Whitespace) table
                 else table.withColumn(f, an.norm(col(f)))
    val words = an.normText(text).trim.split("\\s+").toSeq
    if (words.size != 2)
      fail(s"phrase suggester '$name' supports exactly two words " +
        "(longer phrases: GraftEngine.phraseSuggest)")

    val vocab = table1
      .select(explode(array_distinct(split(col(f), " "))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val inputs = table.sparkSession.range(1).select(explode(array(
        struct(lit(1L).as("pos"), lit(words.head).as("q")),
        struct(lit(2L).as("pos"), lit(words(1)).as("q")))).as("in"))
      .select(col("in.pos").as("pos"), col("in.q").as("q"))
    val cand = vocab.join(broadcast(inputs),
        abs(length(col("term")) - length(col("q"))) <= maxEdits &&
          levenshtein(col("q"), col("term")) <= maxEdits)
      .select(col("pos"), col("term"),
        levenshtein(col("q"), col("term")).cast("long").as("dist"), col("freq"))
    val wPos = Window.partitionBy(col("pos"))
      .orderBy(col("dist"), col("freq").desc, col("term"))
    val top = cand.withColumn("r", row_number().over(wPos))
      .filter(col("r") <= perPos)
    val pairs = top.filter(col("pos") === 1)
        .select(col("term").as("w1"), col("dist").as("d1"))
      .crossJoin(top.filter(col("pos") === 2)
        .select(col("term").as("w2"), col("dist").as("d2")))
    val bigrams = {
      val arr = split(col(f), " ")
      table1.select(explode(transform(slice(arr, lit(1), size(arr) - 1),
          (x, i) => struct(x.as("w1"),
            element_at(arr, i + 2).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bcount"))
    }
    // corpus-sized bigram table probed by the bounded broadcast pairs;
    // the surviving rows broadcast back into the left join
    val hit = bigrams.join(broadcast(pairs.select(col("w1"), col("w2"))),
      Seq("w1", "w2"))
    val scored = pairs.join(broadcast(hit), Seq("w1", "w2"), "left")
      .withColumn("bcount", coalesce(col("bcount"), lit(0L)))
      .withColumn("dist", col("d1") + col("d2"))
    // window bound: ≤ perPos² candidate pairs (the broadcast cross product)
    val wAll = Window.orderBy(
      col("bcount").desc, col("dist"), col("w1"), col("w2"))
    scored.withColumn("rank", row_number().over(wAll).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("w1"), col("w2"), col("bcount"), col("dist"))
      .orderBy(col("rank"))
  }

  /** `has_child`: the join-field relations model's parent arm —
    * return PARENT documents having `min_children`..`max_children`
    * children of `type` matching `query`. OpenSearch carries the
    * relation in the index mapping; this engine's wire shape names
    * the columns explicitly (`join_field` = the relation-name column,
    * `id_field` = the document id, `parent_field` = the child row's
    * parent pointer — the nested/geo explicit-fields convention).
    * Compiles to: child rows filtered map-side (type + query pushed
    * into the scan) → ONE groupBy on the parent pointer (count +
    * score monoids in the same pass) → ONE inner equi-join back onto
    * the table by id. Both exchanges hash the id domain — the plan
    * you want at scale, never a per-row subquery. `score_mode`:
    * none (constant 1) / sum / min / max over matching child scores
    * (exact longs), or avg — ONE IEEE divide from the exact (sum,
    * count) monoids, bit-identical cross-engine, score typed DOUBLE
    * for that mode only (the OpenSearch default score_mode).
    * The returned side is GATED on being a parent-typed row: rows of
    * the child type itself are always excluded, and an optional
    * `parent_type` restricts to that relation name exactly (the
    * has_parent symmetry) — without the gate, a child row whose id
    * collides with a matched parent pointer would silently return as
    * a parent hit when ids are not unique across relation types.
    */
  private[search] def hasChildRequest(table: DataFrame, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"has_child must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("type", "query", "join_field", "id_field",
      "parent_field", "score_mode", "min_children", "max_children",
      "parent_type", "inner_hits"))
      .foreach(k => fail(s"unsupported has_child option '$k'"))
    // inner_hits: surface the top-`size` MATCHING children per parent
    // (score desc, child id asc) as (inner_rank, inner_id, inner_score)
    // columns — one extra row per surfaced child. The per-parent top-k
    // rides the SAME groupBy as the count/score monoids via a
    // bounded-heap aggregate (≤ size pairs through map-side combine),
    // so the plan stays one groupBy + one equi-join — never a per-row
    // subquery, and never a window over unbounded child sets.
    val innerSize: Option[Int] = m.get("inner_hits") match {
      case None => None
      case Some(JObject(ih)) =>
        val im = ih.toMap
        im.keySet.diff(Set("size")).foreach(k =>
          fail(s"unsupported has_child inner_hits option '$k'"))
        val n = intOpt(im, "size").getOrElse(
          fail("has_child inner_hits requires a size"))
        if (n < 1 || n > 10000) fail("inner_hits size must be in [1, 10000]")
        Some(n)
      case Some(other) => fail(s"inner_hits must be an object: ${render(other)}")
    }
    val childType = strOpt(m, "type")
      .getOrElse(fail("has_child needs the child 'type'"))
    val joinF = strOpt(m, "join_field")
      .getOrElse(fail("has_child needs join_field (the relation-name column)"))
    val idF = strOpt(m, "id_field")
      .getOrElse(fail("has_child needs id_field (the document id column)"))
    val parentF = strOpt(m, "parent_field")
      .getOrElse(fail("has_child needs parent_field (the child's parent pointer)"))
    val minC = intOpt(m, "min_children").getOrElse(1)
    if (minC < 1) fail("has_child min_children must be >= 1")
    val maxC = intOpt(m, "max_children")
    maxC.foreach(mx =>
      if (mx < minC) fail("has_child max_children must be >= min_children"))
    val cq = compileQuery(m.getOrElse("query",
      fail("has_child needs a query over the child documents")))
    innerSize.foreach { _ =>
      import org.apache.spark.sql.types._
      table.schema.find(_.name == idF).map(_.dataType) match {
        case Some(ByteType | ShortType | IntegerType | LongType) => ()
        case Some(dt) => fail(s"has_child inner_hits needs an integral " +
          s"id_field (the bounded-heap key), '$idF' is ${dt.simpleString}")
        case None => fail(s"has_child id_field '$idF' not in the table")
      }
    }
    val kids = table
      .filter(col(joinF) === lit(childType) && col(parentF).isNotNull && cq.pred)
      .select(col(parentF).as("__hc_pid"), cq.score.as("__hc_score"),
        col(idF).cast("long").as("__hc_cid"))
    val baseAggs = Seq(
      count(lit(1)).as("__hc_n"), sum(col("__hc_score")).as("__hc_sum"),
      min(col("__hc_score")).as("__hc_min"), max(col("__hc_score")).as("__hc_max"))
    val aggs = innerSize match {
      case None => baseAggs
      case Some(n) =>
        import org.apache.spark.sql.{functions => F, Encoders}
        val topk = F.udaf(new graft.functions.Aggregators.SmallestKByKey(n),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        baseAggs :+ topk(-col("__hc_score"), col("__hc_cid")).as("__hc_inner")
    }
    val perParent = kids.groupBy(col("__hc_pid"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__hc_n") >= lit(minC.toLong) &&
        maxC.map(mx => col("__hc_n") <= lit(mx.toLong)).getOrElse(lit(true)))
    val scoreCol = strOpt(m, "score_mode").getOrElse("none") match {
      case "none" => lit(1L)
      case "sum"  => col("__hc_sum")
      case "min"  => col("__hc_min")
      case "max"  => col("__hc_max")
      // avg: ONE IEEE divide from the exact integer (sum, count)
      // monoids the groupBy already carries — bit-identical across
      // engines (the rate/extended_stats doctrine), so the OpenSearch
      // default score_mode is servable after all; the request's score
      // column becomes DOUBLE for this mode only (a request-level
      // arm, never a composable clause, so nothing downstream assumes
      // the integer model)
      case "avg"  => col("__hc_sum").cast("double") / col("__hc_n").cast("double")
      case other  => fail(s"has_child score_mode must be " +
        s"none/sum/min/max/avg: '$other'")
    }
    val parentSide = strOpt(m, "parent_type") match {
      case Some(pt) => table.filter(col(joinF) === lit(pt))
      case None     => table.filter(col(joinF) =!= lit(childType))
    }
    val joined = parentSide.join(perParent, col(idF) === col("__hc_pid"))
      .withColumn("score", scoreCol)
    val result = innerSize match {
      case None => joined
      case Some(_) =>
        // one row per surfaced child: rank by (child score desc, child
        // id asc) — the heap's (−score, id) order replayed
        joined.select(col("*"), posexplode(col("__hc_inner")))
          .withColumn("inner_rank", (col("pos") + 1).cast("long"))
          .withColumn("inner_id", col("col._2"))
          .withColumn("inner_score", -col("col._1"))
          .drop("pos", "col", "__hc_inner")
    }
    result.drop("__hc_pid", "__hc_n", "__hc_sum", "__hc_min", "__hc_max")
  }

  /** `has_parent`: the relations model's child arm — return CHILD
    * documents whose parent (of `parent_type`) matches `query`;
    * optional `type` gates which child type returns, `score: true`
    * propagates the parent's score to each child (default constant
    * 1, the OpenSearch default). Same explicit-columns wire shape and
    * join plan as [[hasChildRequest]]: matching parents project
    * (id, score) map-side, collapse to one row per id (max score —
    * deterministic under duplicate ids), then ONE inner equi-join on
    * the child's parent pointer.
    */
  private[search] def hasParentRequest(table: DataFrame, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"has_parent must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("parent_type", "query", "join_field", "id_field",
      "parent_field", "score", "type", "inner_hits"))
      .foreach(k => fail(s"unsupported has_parent option '$k'"))
    // inner_hits: surface the MATCHED parent alongside each child hit
    // as (inner_rank, inner_id, inner_score). A child has exactly one
    // parent pointer (duplicate parent ids collapse to one row in the
    // pre-join agg below), so inner_rank is always 1 and the size cap
    // is trivially honored — the option is accepted for request-shape
    // symmetry with has_child.
    val innerOn: Boolean = m.get("inner_hits") match {
      case None => false
      case Some(JObject(ih)) =>
        val im = ih.toMap
        im.keySet.diff(Set("size")).foreach(k =>
          fail(s"unsupported has_parent inner_hits option '$k'"))
        val n = intOpt(im, "size").getOrElse(
          fail("has_parent inner_hits requires a size"))
        if (n < 1) fail("inner_hits size must be >= 1")
        true
      case Some(other) => fail(s"inner_hits must be an object: ${render(other)}")
    }
    val parentType = strOpt(m, "parent_type")
      .getOrElse(fail("has_parent needs parent_type"))
    val joinF = strOpt(m, "join_field")
      .getOrElse(fail("has_parent needs join_field (the relation-name column)"))
    val idF = strOpt(m, "id_field")
      .getOrElse(fail("has_parent needs id_field (the document id column)"))
    val parentF = strOpt(m, "parent_field")
      .getOrElse(fail("has_parent needs parent_field (the child's parent pointer)"))
    val useScore = m.get("score") match {
      case None           => false
      case Some(JBool(b)) => b
      case Some(other)    => fail(s"has_parent score must be a boolean: ${render(other)}")
    }
    val childType = strOpt(m, "type")
    val cq = compileQuery(m.getOrElse("query",
      fail("has_parent needs a query over the parent documents")))
    val parents = table
      .filter(col(joinF) === lit(parentType) && cq.pred)
      .select(col(idF).as("__hp_id"), cq.score.as("__hp_score"))
      .groupBy(col("__hp_id")).agg(max(col("__hp_score")).as("__hp_score"))
    val joined = table.join(parents, col(parentF) === col("__hp_id"))
    val typed = childType.map(t => joined.filter(col(joinF) === lit(t)))
      .getOrElse(joined)
      .withColumn("score", if (useScore) col("__hp_score") else lit(1L))
    val result =
      if (!innerOn) typed
      else typed.withColumn("inner_rank", lit(1L))
        .withColumn("inner_id", col("__hp_id"))
        .withColumn("inner_score", col("__hp_score"))
    result.drop("__hp_id", "__hp_score")
  }

  /** `knn` request: exact cosine top-k of an inline query vector over
    * an embedding column — the OpenSearch vector-search request, served
    * brute-force (the q75 contract; the IVF/PQ serving paths live on
    * the operator surface). Determinism comes from the engine's
    * quantize recipe: both engines round to the 1e-7 grid, dot in
    * exact integers, and finish with one identically-ordered IEEE
    * divide. An optional `filter` clause pre-filters candidates
    * (OpenSearch's filtered-knn semantics). A wrong-dimension vector
    * fails loud per row rather than silently dropping candidates.
    * Output: (id field, rank, sim) ordered by rank; the scan is one
    * unshuffled pass into a bounded top-k.
    */
  private[search] def knnRequest(table: DataFrame, spec: JValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFns
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"knn must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "id_field", "query_vector", "k", "filter", "index"))
      .foreach(k => fail(s"unsupported knn option '$k'"))
    val f = strOpt(m, "field").getOrElse(fail("knn requires a field"))
    val idF = strOpt(m, "id_field")
      .getOrElse(fail("knn requires id_field (the neighbor id column)"))
    val k = intOpt(m, "k").getOrElse(10)
    if (k < 1) fail("knn k must be >= 1")
    val qv: Seq[Double] = m.get("query_vector") match {
      case Some(JArray(vs)) if vs.nonEmpty => vs.map {
        case JDouble(d)  => d
        case JInt(i)     => i.toDouble
        case JDecimal(d) => d.toDouble
        case other       => fail(s"query_vector entries must be numeric: ${render(other)}")
      }
      case _ => fail("knn requires a non-empty query_vector")
    }

    // `index` arm: serve from a materialized IVF layout
    // (IvfIndex.writeIndex) instead of the exact corpus scan — the
    // plan you deploy at 100 TB, where every exact request would
    // rescan the corpus. The probe reads ONLY the nprobe nearest
    // cluster partitions (partition-pruned parquet scan); `table` is
    // only consulted for `filter` (below), the layout IS the corpus.
    // `sim` is the unit-vector cosine of the layout (approximate by
    // construction — recall spec'd vs the exact arm, not
    // oracle-gated). `filter` + `index` serves by OVER-FETCH:
    // k′ = oversample·k candidates come off the pruned probe, the
    // corpus filter's ID PROJECTION (one column, filter pushed into
    // the corpus scan) semi-joins them, and the top k survivors
    // re-rank. Recall stays bounded because saturation fails loud: if
    // all k′ fetched candidates were consumed and fewer than k
    // survived the filter, matching neighbors may hide past the
    // window — the request errors (raise oversample/nprobe) instead
    // of silently under-recalling. If the probe returned fewer than
    // k′ (probed clusters exhausted), the survivors are complete for
    // those clusters and the result stands.
    m.get("index").foreach { idx =>
      val im = idx match {
        case JObject(s) => s.toMap
        case other => fail(s"knn index must be an object: ${render(other)}")
      }
      im.keySet.diff(Set("path", "nprobe", "oversample")).foreach(kk =>
        fail(s"unsupported knn index option '$kk'"))
      val path = strOpt(im, "path").getOrElse(fail("knn index requires a path"))
      val nprobe = intOpt(im, "nprobe").getOrElse(4)
      if (nprobe < 1) fail("knn index nprobe must be >= 1")
      val oversample = intOpt(im, "oversample").getOrElse(4)
      if (oversample < 1) fail("knn index oversample must be >= 1")
      if (im.contains("oversample") && !m.contains("filter"))
        fail("knn index oversample only applies with a filter")
      val filterPred = m.get("filter").map(compileQuery(_).pred)
      val spark = table.sparkSession
      import spark.implicits._
      // the layout's dimension is authoritative: a shorter query
      // vector would silently dot only its own prefix (the kernels
      // loop over the query's length), a longer one would crash in
      // the executor — both must fail loud HERE, like the exact arm's
      // per-row dimension raise
      val layoutDims = spark.read.parquet(s"$path/centroids")
        .select(col("centroid")).as[Array[Double]]
        .head().length
      if (qv.size != layoutDims)
        fail(s"knn query_vector has ${qv.size} dims but the index at " +
          s"'$path' holds $layoutDims-dim vectors")
      val qdf = Seq((-1L, qv.map(_.toFloat).toArray)).toDF("q_id", "q_emb")

      // PAYLOAD layout (r16, VERDICT r15 #1): when the layout carries
      // caller-declared payload columns, a `filter` compiles against
      // the PRUNED partition scan itself — candidates are filtered
      // before the top-k heaps, the corpus is never touched at serve
      // time, and no over-fetch window (or its saturation failure
      // mode) exists. The filter must reference only columns the
      // layout carries — fail loud, never silently fall back to the
      // corpus scan this arm exists to avoid.
      val payloads = graft.operators.IvfIndex
        .layoutPayloadCols(table.sparkSession, path)
      if (filterPred.isDefined && payloads.nonEmpty) {
        if (im.contains("oversample"))
          fail("knn index oversample does not apply to a payload-carrying " +
            "layout: the filter compiles into the pruned partition scan, " +
            "so there is no over-fetch window")
        // resolve the filter against the layout schema NOW (driver-only
        // analysis): a reference the layout does not carry must fail
        // with the layout's payload inventory, not a deep-plan
        // resolution error at collect time
        try spark.read.parquet(s"$path/data").filter(filterPred.get)
          .queryExecution.analyzed
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            fail(s"knn filter references a column the index layout at " +
              s"'$path' does not carry (payload columns: " +
              s"${payloads.mkString(", ")}) - rebuild the index declaring " +
              s"it, or use the exact arm [${e.getSimpleMessage}]")
        }
        return graft.operators.IvfIndex.topKFromIndex(spark, path, qdf,
            "q_id", "q_emb",
            graft.operators.IvfIndex.Params(nprobe = nprobe, k = k),
            filter = filterPred)
          .select(col("neighbor_id").as(idF), col("rank"), col("sim"))
          .orderBy(col("rank"))
      }

      val kFetch = filterPred match {
        case None    => k
        case Some(_) =>
          val kf = k.toLong * oversample
          if (kf > 1000000L)
            fail(s"knn index over-fetch window k*oversample = $kf exceeds 1e6")
          kf.toInt
      }
      val ranked = graft.operators.IvfIndex.topKFromIndex(spark, path, qdf,
        "q_id", "q_emb",
        graft.operators.IvfIndex.Params(nprobe = nprobe, k = kFetch))
      return filterPred match {
        case None =>
          ranked.select(col("neighbor_id").as(idF), col("rank"), col("sim"))
            .orderBy(col("rank"))
        case Some(pred) =>
          import org.apache.spark.sql.expressions.Window
          // one distinct id column off the filtered corpus — the only
          // thing the corpus contributes; its filter pushes into the
          // corpus scan, and the join ships candidate-ids vs ids only
          val ids = table.filter(pred)
            .select(col(idF).cast("long").as("__knn_fid")).distinct()
          val wAll = Window.partitionBy(lit(1))
          val err = s"knn filtered serve: all $kFetch over-fetched " +
            "candidates were consumed but fewer than k passed the filter " +
            "- recall past the window cannot be bounded; raise oversample " +
            "or nprobe, or use the exact arm"
          ranked
            .join(ids, col("neighbor_id") === col("__knn_fid"), "left")
            .withColumn("__kept", count(col("__knn_fid")).over(wAll))
            .withColumn("__fetched", count(lit(1)).over(wAll))
            // the guard lives INSIDE the survivor filter so it is
            // evaluated on every fetched row — a zero-survivor
            // saturated window still raises
            .filter(when(col("__kept") < lit(k.toLong) &&
                col("__fetched") === lit(kFetch.toLong),
              raise_error(lit(err)).cast("boolean"))
              .otherwise(col("__knn_fid").isNotNull))
            // window bound: ≤ kFetch (≤ 1e6) over-fetched candidates
            .withColumn("rank", row_number().over(
              Window.orderBy(col("sim").desc, col("neighbor_id"))).cast("long"))
            .filter(col("rank") <= k)
            .select(col("neighbor_id").as(idF), col("rank"), col("sim"))
            .orderBy(col("rank"))
      }
    }

    val filt = m.get("filter").map(compileQuery(_).pred).getOrElse(lit(true))
    // driver-side quantization matches Spark's round() (HALF_UP on the
    // same double product), so the query vector lands on the same
    // 1e-7 grid as the corpus
    val qLong = qv.map(v =>
      BigDecimal(v * 1e7).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val qArr = array(qLong.map(lit): _*)
    val qn2 = lit(qLong.map(x => x * x).sum)
    val cq = VectorFns.quantize(col(f))
    val sim = VectorFns.qcosine(VectorFns.qdot(cq, qArr), qn2, VectorFns.qnorm2(cq))
    table.filter(filt)
      .withColumn("sim",
        when(size(col(f)) =!= qv.size,
          raise_error(lit(s"knn: embedding dimension != query_vector's ${qv.size}"))
            .cast("double"))
        .otherwise(sim))
      .select(col(idF), col("sim"))
      .orderBy(col("sim").desc, col(idF))
      .limit(k)
      // window bound: ≤ k rows, the limit above
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col(idF))).cast("long"))
      .select(col(idF), col("rank"), col("sim"))
      .orderBy(col("rank"))
  }

}
